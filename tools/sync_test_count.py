"""One count source of truth for the docs (VERDICT r07 #8: SURVEY said
575 in one place and 574 in another while README said 460+; VERDICT
r08 #5: SURVEY said "53 timings" while the bench artifact carried 57).
This tool collects the suite (no execution) and reads the bench detail
artifact, then rewrites every marked count line in SURVEY.md /
README.md. Run it before the round-end commit:

    python tools/sync_test_count.py            # update the docs
    python tools/sync_test_count.py --check    # fail if out of sync

Docs opt in per line with a literal marker:
- ``<!-- test-count -->`` + phrase ``NNN pytest`` — synced from
  ``pytest --collect-only -q`` (parametrized cases counted
  individually — the same number a full run reports as "N passed");
  a collection that errors or is partial fails the tool instead of
  syncing a wrong number.
- ``<!-- bench-count -->`` + phrase ``NNN timings`` — synced from
  ``.bench/bench_detail.json``'s per-query map (written by the last
  full ``bench.py`` run; a marked line with no artifact present is a
  loud error).
A marked line WITHOUT its canonical phrase is a loud error, never
silent drift.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ["SURVEY.md", "README.md"]
MARKER = "<!-- test-count -->"
BENCH_MARKER = "<!-- bench-count -->"


def bench_count() -> int:
    import json

    path = os.path.join(REPO, ".bench", "bench_detail.json")
    with open(path) as f:
        return len(json.load(f)["queries"])


def collected_count() -> int:
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    m = re.search(r"(\d+) tests? collected", out.stdout)
    # pytest prints a PARTIAL count plus "N errors" when collection
    # breaks (verified: a broken import yields rc=2 and '1 test
    # collected, 1 error') — never sync that into the docs.
    if out.returncode != 0 or not m or re.search(
        r"\d+ errors?\b", out.stdout
    ):
        raise SystemExit(
            f"collection failed or was partial (rc={out.returncode}):\n"
            f"{out.stdout[-800:]}"
        )
    return int(m.group(1))


def sync(check_only: bool) -> int:
    n = collected_count()
    nb: int | None = None
    stale = []
    for doc in DOCS:
        path = os.path.join(REPO, doc)
        with open(path) as f:
            lines = f.readlines()
        changed = False
        for i, ln in enumerate(lines):
            if BENCH_MARKER in ln:
                if not re.search(r"\b\d+ timings", ln):
                    raise SystemExit(
                        f"{doc}:{i + 1} carries the {BENCH_MARKER} "
                        "marker but no 'NNN timings' phrase — the sync "
                        "would silently skip it; use the canonical "
                        "phrasing"
                    )
                nb = bench_count() if nb is None else nb
                new = re.sub(r"\b\d+ timings", f"{nb} timings", ln)
                if new != ln:
                    lines[i] = new
                    changed = True
                continue
            if MARKER not in ln:
                continue
            if not re.search(r"\b\d+ pytest", ln):
                raise SystemExit(
                    f"{doc}:{i + 1} carries the {MARKER} marker but no "
                    "'NNN pytest' phrase — the sync would silently "
                    "skip it; use the canonical phrasing"
                )
            new = re.sub(r"\b\d+ pytest", f"{n} pytest", ln)
            if new != ln:
                lines[i] = new
                changed = True
        if changed:
            stale.append(doc)
            if not check_only:
                with open(path, "w") as f:
                    f.writelines(lines)
    if check_only and stale:
        print(f"OUT OF SYNC (collected {n}): {stale}")
        return 1
    print(f"collected {n} tests; {'stale: ' + str(stale) if stale else 'docs in sync'}")
    return 0


if __name__ == "__main__":
    sys.exit(sync("--check" in sys.argv))
