"""Smoke-run every example app at sf0.001 — the examples are the
documented user surface, and nothing else executes them: an operator
signature change that breaks a composition shows up here, not in the
operator's own unit tests. They run in a SUBPROCESS (own JVM) so an
example that tweaks session confs or leaves cached frames can't bleed
into the rest of the suite; success = exit 0, which every example
guards with its own printed assertions.

One subprocess runs all of them, one after another, each on a fresh
SparkContext (the runner stops whatever context an example leaves
running). A JVM takes ~13 s to start on a 4-vCPU host and runs its
first jobs cold, so sharing one JVM more than halves this module's
time.

Run by hand: ``python tests/test_examples.py SF_DIR OUT.json NAME...``
writes ``{name: {"code", "stdout", "stderr"}}`` to ``OUT.json``."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLES = sorted(
    f for f in os.listdir(os.path.join(REPO, "examples"))
    if f.endswith(".py")
)
TIMEOUT_S = 420  # per example


def _run_examples(sf_dir, out_json, names):
    """Run each example as ``__main__`` in this process and record its
    exit code (an uncaught exception or the time limit counts as 1) and
    the tails of what it printed. Stops after an example that ran out
    of time: its JVM call may still be pending."""
    import io
    import runpy
    import signal
    import traceback
    from contextlib import redirect_stderr, redirect_stdout

    from pyspark import SparkContext

    expired = []

    def _expired(signum, frame):
        expired.append(True)
        raise TimeoutError(f"example ran past {TIMEOUT_S} s")

    signal.signal(signal.SIGALRM, _expired)
    sys.path.insert(0, REPO)
    results = {}
    for name in names:
        path = os.path.join(REPO, "examples", name)
        sys.argv = [path, sf_dir]
        out, err = io.StringIO(), io.StringIO()
        code = 0
        signal.alarm(TIMEOUT_S)
        try:
            with redirect_stdout(out), redirect_stderr(err):
                runpy.run_path(path, run_name="__main__")
        except SystemExit as e:
            code = e.code if isinstance(e.code, int) else int(e.code is not None)
        except BaseException:
            code = 1
            err.write(traceback.format_exc())
        finally:
            signal.alarm(0)
        if expired:
            code = 1
            err.write(f"\nexample ran past {TIMEOUT_S} s")
        results[name] = {
            "code": code,
            "stdout": out.getvalue()[-2000:],
            "stderr": err.getvalue()[-2000:],
        }
        with open(out_json, "w") as f:
            json.dump(results, f)
        if expired:
            break
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()


@pytest.fixture(scope="module")
def example_runs(request, sf_dir, tmp_path_factory):
    """Run every selected example; ``{name: result}``. One subprocess
    runs them all; if it stops early, a new one runs the rest."""
    selected = [
        item.callspec.params["name"]
        for item in request.session.items
        if getattr(item, "originalname", None) == "test_example_runs_clean"
    ]
    tmp = tmp_path_factory.mktemp("examples")
    results = {}
    for attempt in range(len(selected)):
        todo = [n for n in selected if n not in results]
        if not todo:
            break
        out_json = str(tmp / f"results{attempt}.json")
        # pass the suite's sf_dir (honors SPARK_GRAFT_TEST_SF) instead of
        # relying on each example's hardcoded default path
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), sf_dir, out_json, *todo],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=TIMEOUT_S * len(todo) + 60,
        )
        if not os.path.exists(out_json):
            stopped = {
                "code": None,
                "stdout": proc.stdout[-2000:],
                "stderr": f"runner exited {proc.returncode} before it ran "
                f"this example\n{proc.stderr[-2000:]}",
            }
            results.update(dict.fromkeys(todo, stopped))
            break
        with open(out_json) as f:
            results.update(json.load(f))
    return results


def test_every_example_is_covered():
    # a new example must land in the smoke list automatically
    assert len(EXAMPLES) >= 8


@pytest.mark.parametrize("name", EXAMPLES)
def test_example_runs_clean(name, example_runs):
    r = example_runs[name]
    assert r["code"] == 0, (
        f"{name} exited {r['code']}\n"
        f"stdout tail: {r['stdout']}\n"
        f"stderr tail: {r['stderr']}"
    )


if __name__ == "__main__":
    _run_examples(sys.argv[1], sys.argv[2], sys.argv[3:])
