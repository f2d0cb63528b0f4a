"""Each output check passes on a correct result and fails on a corrupted
one (a row dropped, a value changed). No Spark needed:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import datagen  # noqa: E402


def words(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


def text(toks) -> str:
    return " ".join(toks)


# Three random-looking docs, a 1-edit variant of the first (Jaccard > 0.9),
# a 6-edit variant (Jaccard between 0.5 and 0.8) and a short and a
# looping doc.
BASE = words("w", 60)
VAR1 = BASE[:30] + ["zz"] + BASE[31:]
VAR6 = [f"e{i}" if i % 10 == 5 else t for i, t in enumerate(BASE)]
DOCS = {
    0: text(BASE),
    1: text(words("u", 40)),
    2: text(VAR1),
    3: text(VAR6),
    4: text(words("v", 5)),
    5: text(["a", "b", "c"] * 10),
    6: "  " + text(words("u", 40)) + " ",
}


def test_fixture_similarities():
    s = {i: checks.shingles(t) for i, t in DOCS.items()}
    assert checks.jaccard(s[0], s[2]) >= 0.9
    assert 0.5 <= checks.jaccard(s[0], s[3]) < 0.8
    assert checks.jaccard(s[0], s[1]) == 0.0


def test_compare_frames():
    want = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.5, 2.25, None], "n": [1, 2, 3]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert checks.compare_frames(got, want) == []
    assert checks.compare_frames(got.assign(v=got["v"] * (1 + 1e-13)), want) == []
    assert checks.compare_frames(got.iloc[1:], want)
    assert checks.compare_frames(got.assign(v=[None, 2.25, 1.6]), want)
    assert checks.compare_frames(got.assign(n=[3, 2, 4]), want)
    assert checks.compare_frames(got.rename(columns={"n": "m"}), want)


def quality_output(docs):
    rows = [
        (i, t, checks.repeated_bigram_fraction(t), len(checks.tokens(t)))
        for i, t in docs.items()
        if len(checks.tokens(t)) >= 8 and checks.repeated_bigram_fraction(t) <= 0.2
    ]
    return {k: [r[j] for r in rows] for j, k in enumerate(["doc_id", "text", "repetition", "n_tokens"])}


def test_check_quality():
    out = quality_output(DOCS)
    assert 4 not in out["doc_id"] and 5 not in out["doc_id"]
    assert checks.check_quality(DOCS, out, 8, 0.2) == []
    dropped = {k: v[1:] for k, v in out.items()}
    assert checks.check_quality(DOCS, dropped, 8, 0.2)
    changed = dict(out, repetition=[out["repetition"][0] + 0.01] + out["repetition"][1:])
    assert checks.check_quality(DOCS, changed, 8, 0.2)


def test_check_exact_dedup():
    kept_in = {0, 1, 2, 3, 6}
    groups = [[1, 6]]
    assert checks.check_exact_dedup(kept_in, {0, 1, 2, 3}, groups) == []
    assert checks.check_exact_dedup(kept_in, {0, 1, 2, 3, 6}, groups)
    assert checks.check_exact_dedup(kept_in, {0, 2, 3, 6}, groups)
    assert checks.check_exact_dedup(kept_in, {1, 2, 3}, groups)


def test_check_near_dedup():
    texts = {i: DOCS[i] for i in (0, 1, 2, 3)}
    assert checks.check_near_dedup(texts, [(0, 2)], {0, 1, 3}, 0.8, 0.9) == []
    assert checks.check_near_dedup(texts, [], {0, 1, 2, 3}, 0.8, 0.9)  # pair missed
    assert checks.check_near_dedup(texts, [(0, 2), (0, 3)], {1}, 0.8, 0.9)  # pair below threshold
    assert checks.check_near_dedup(texts, [(0, 2)], {0, 1, 2, 3}, 0.8, 0.9)  # survivor kept
    assert checks.check_near_dedup(texts, [(0, 2)], {1, 2, 3}, 0.8, 0.9)  # wrong survivor


def test_check_decontam():
    texts = {i: DOCS[i] for i in (1, 2, 3)}
    heldout = {0: DOCS[0]}
    assert checks.check_decontam(texts, heldout, {1, 3}, 0.6) == []
    assert checks.check_decontam(texts, heldout, {1, 2, 3}, 0.6)
    assert checks.check_decontam(texts, heldout, {1}, 0.6)


def test_check_split():
    texts = {i: DOCS[i] for i in (0, 1, 3)}
    pairs = [(0, 3)]
    good = {0: "train", 1: "test", 3: "train"}
    assert checks.check_split(texts, good, pairs, 0.5) == []
    assert checks.check_split(texts, {**good, 3: "val"}, pairs, 0.5)
    assert checks.check_split(texts, {0: "train", 3: "train"}, pairs, 0.5)
    assert checks.check_split(texts, good, [], 0.5)


@pytest.mark.parametrize("n,want", [(0, 0), (1, 1), (32, 1), (33, 2), (56, 2), (57, 3)])
def test_chunk_count_closed_form(n, want):
    assert checks.chunk_count(n, 32, 8) == want


def test_check_chunks():
    texts = {0: DOCS[0], 1: DOCS[1]}
    rows = [(0, 32), (0, 32), (0, 12), (1, 32), (1, 16)]
    assert checks.check_chunks(texts, rows, 32, 8) == []
    assert checks.check_chunks(texts, rows[1:], 32, 8)
    assert checks.check_chunks(texts, rows[:-1] + [(0, 16)], 32, 8)


def test_check_rows_written():
    assert checks.check_rows_written("s", 10, 10) == []
    assert checks.check_rows_written("s", 10, 9)


def test_corpus_is_seeded(tmp_path):
    a = datagen.write_corpus(3, str(tmp_path / "a"))
    b = datagen.write_corpus(3, str(tmp_path / "b"))
    c = datagen.write_corpus(4, str(tmp_path / "c"))
    assert a == b and a != c
    for name in os.listdir(tmp_path / "a" / "docs"):
        assert (tmp_path / "a" / "docs" / name).read_bytes() == (tmp_path / "b" / "docs" / name).read_bytes()
    assert len(a["exact_groups"]) == datagen.CORPUS["n_exact"]
    assert len(a["near_groups"]) == datagen.CORPUS["n_near"]


def test_missing_outputs_fail_the_checks(tmp_path):
    import workloads

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    datagen.write_tables(1, 0.001, str(tmp_path))
    queries = workloads.QueryWorkload(None, None, str(tmp_path), ["q1_pricing_summary"])
    assert queries.check() == ["q1_pricing_summary: warm-up failed, output not checked"]
    assert len(workloads.Curation(None, None, str(tmp_path), str(tmp_path)).check()) == len(workloads.Curation.OUTPUTS)
