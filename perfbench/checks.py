"""Output checks made apart from the program.

Query results are compared with DuckDB running the registry's
``oracle_sql`` on the same parquet. Curation stages are checked against
the corpus's ground truth and against plain-Python recomputations of the
properties each stage promises. Every check returns a list of problems;
an empty list means the output is correct.
"""

from __future__ import annotations

import math
from decimal import Decimal

# Floats from Spark and DuckDB agree to the last few ulps, not bit for bit
# on every seed (sums run in another order), so they compare by tolerance.
REL_TOL = 1e-9
ABS_TOL = 1e-9

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
).split()


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------


def _canon(v):
    """One cell as a comparable value: floats stay floats, the rest a
    (type, text) pair, nulls and NaN None."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "item") and not hasattr(v, "isoformat"):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if hasattr(v, "tolist"):  # numpy array from a list column
        return ("l", repr([_canon(x) for x in v.tolist()]))
    if isinstance(v, (list, tuple)):
        return ("l", repr([_canon(x) for x in v]))
    if isinstance(v, dict):
        return ("d", repr(sorted((k, _canon(x)) for k, x in v.items())))
    return ("s", str(v))


def _sort_key(row):
    # Round floats for ordering only, so rows that differ in the last ulp
    # still line up; the comparison itself uses the full values.
    return tuple(
        (0, "") if c is None
        else (1, f"{c:.6e}") if isinstance(c, float)
        else (2, repr(c))
        for c in row
    )


def canonical_rows(df) -> list[tuple]:
    """pandas DataFrame -> rows (columns in name order), sorted."""
    cols = sorted(df.columns)
    rows = [tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False)]
    return sorted(rows, key=_sort_key)


def _cell_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def compare_frames(got, want) -> list[str]:
    """Order-insensitive comparison of two pandas frames: same column
    names, same row count, same values (floats within tolerance)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows != {len(want)} rows"]
    bad = []
    for ra, rb in zip(canonical_rows(got), canonical_rows(want)):
        if len(ra) != len(rb) or not all(map(_cell_equal, ra, rb)):
            bad.append(f"row {ra} != {rb}")
            if len(bad) == 3:
                break
    return bad


def duckdb_oracle(data_dir: str):
    """A DuckDB connection with one view per table of ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


# --------------------------------------------------------------------------
# Curation: plain-Python recomputations
# --------------------------------------------------------------------------


def tokens(text: str) -> list[str]:
    return text.split()


def shingles(text: str, n: int = 3) -> frozenset:
    """Distinct word n-gram shingles; a text shorter than n is one shingle."""
    t = tokens(text)
    if len(t) < n:
        return frozenset([" ".join(t)])
    return frozenset(" ".join(t[i:i + n]) for i in range(len(t) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def repeated_bigram_fraction(text: str) -> float:
    """Share of word-bigram occurrences that repeat an earlier one."""
    t = tokens(text)
    grams = [(t[i], t[i + 1]) for i in range(len(t) - 1)]
    if not grams:
        return 0.0
    return (len(grams) - len(set(grams))) / len(grams)


def chunk_count(n_tokens: int, chunk_tokens: int, overlap: int) -> int:
    """Windows of ``chunk_tokens`` with ``overlap``: 0 for an empty doc,
    else 1 + floor((max(n - overlap, 1) - 1) / stride)."""
    if n_tokens == 0:
        return 0
    stride = chunk_tokens - overlap
    return 1 + (max(n_tokens - overlap, 1) - 1) // stride


def similar_pairs(texts_a: dict, texts_b: dict | None, threshold: float) -> dict:
    """All pairs with word-3-shingle Jaccard >= threshold, by an inverted
    index on shingles. Within one set (``texts_b`` None) the keys are
    (a, b) with a < b; across two sets they are (id in a, id in b)."""
    sa = {i: shingles(t) for i, t in texts_a.items()}
    sb = sa if texts_b is None else {i: shingles(t) for i, t in texts_b.items()}
    index: dict[str, list] = {}
    for i, s in sb.items():
        for g in s:
            index.setdefault(g, []).append(i)
    out = {}
    for i, s in sa.items():
        cands = {j for g in s for j in index.get(g, ())}
        for j in cands:
            if texts_b is None and j <= i:
                continue
            jac = jaccard(s, sb[j])
            if jac >= threshold:
                out[(i, j)] = jac
    return out


def components(ids, pairs) -> dict:
    """Union-find: id -> smallest id of its connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def _diff(name: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    extra, missing = sorted(got - want)[:5], sorted(want - got)[:5]
    return [f"{name}: {len(got - want)} unexpected {extra}, {len(want - got)} missing {missing}"]


def check_quality(docs: dict, out, min_tokens: int, max_repetition: float) -> list[str]:
    """``out``: rows (doc_id, text, repetition, n_tokens) the gate kept.
    Kept ids must be exactly the docs passing the rule, and every
    repetition value must equal the Python recount."""
    want = {
        i for i, t in docs.items()
        if len(tokens(t)) >= min_tokens and repeated_bigram_fraction(t) <= max_repetition
    }
    bad = _diff("quality gate ids", set(out["doc_id"]), want)
    for i, t, rep, n in zip(out["doc_id"], out["text"], out["repetition"], out["n_tokens"]):
        if rep != repeated_bigram_fraction(t) or n != len(tokens(t)):
            bad.append(f"doc {i}: repetition {rep}, n_tokens {n} != recount")
            break
    return bad


def check_exact_dedup(kept_in: set, kept_out: set, exact_groups: list) -> list[str]:
    """Exactly the planted copies go: in each planted group, every member
    that reached the stage except the smallest id."""
    removed = set()
    for g in exact_groups:
        present = sorted(set(g) & kept_in)
        removed.update(present[1:])
    return _diff("exact dedup survivors", kept_out, kept_in - removed)


def check_near_dedup(texts: dict, pairs: list, survivors: set,
                     threshold: float, sure: float) -> list[str]:
    """``texts``: the stage's input. Every reported pair has Jaccard >=
    threshold; every pair at or above ``sure`` (where the LSH miss odds
    are below 1e-7) is reported; survivors are the component minima of
    the reported pair graph."""
    truth = similar_pairs(texts, None, threshold)
    reported = {(min(a, b), max(a, b)) for a, b in pairs}
    bad = []
    wrong = sorted(p for p in reported if p not in truth)
    if wrong:
        bad.append(f"{len(wrong)} reported pairs below Jaccard {threshold}: {wrong[:5]}")
    missed = sorted(p for p, j in truth.items() if j >= sure and p not in reported)
    if missed:
        bad.append(f"{len(missed)} pairs at Jaccard >= {sure} not found: {missed[:5]}")
    comp = components(texts.keys(), reported)
    bad += _diff("near dedup survivors", survivors, {i for i, c in comp.items() if i == c})
    return bad


def check_decontam(texts: dict, heldout: dict, kept: set, threshold: float) -> list[str]:
    """Exactly the docs with a held-out doc at Jaccard >= threshold go."""
    hits = {a for a, _ in similar_pairs(texts, heldout, threshold)}
    return _diff("decontaminated ids", kept, set(texts) - hits)


def check_split(texts: dict, split: dict, pairs: list, threshold: float) -> list[str]:
    """Every doc gets one split; the reported pair graph is exactly the
    pairs at Jaccard >= threshold; no such pair straddles two splits."""
    bad = _diff("split ids", set(split), set(texts))
    truth = set(similar_pairs(texts, None, threshold))
    bad += _diff("split pair graph", {(min(a, b), max(a, b)) for a, b in pairs}, truth)
    cross = [(a, b) for a, b in truth if split.get(a) != split.get(b)]
    if cross:
        bad.append(f"{len(cross)} near-dup pairs straddle splits: {cross[:5]}")
    return bad


def check_chunks(texts: dict, chunk_rows: list, chunk_tokens: int, overlap: int) -> list[str]:
    """``chunk_rows``: (doc_id, chunk_n_tokens) per written chunk. The
    count per doc equals the closed form, and so does the total."""
    want = {i: chunk_count(len(tokens(t)), chunk_tokens, overlap) for i, t in texts.items()}
    got: dict = {}
    for i, _ in chunk_rows:
        got[i] = got.get(i, 0) + 1
    bad = []
    if sum(want.values()) != len(chunk_rows):
        bad.append(f"{len(chunk_rows)} chunks != closed form {sum(want.values())}")
    wrong = [i for i in want if got.get(i, 0) != want[i]]
    if wrong:
        bad.append(f"{len(wrong)} docs with a wrong chunk count: {wrong[:5]}")
    return bad


def check_rows_written(stage: str, written: int, read_back: int) -> list[str]:
    if written != read_back:
        return [f"{stage}: {written} rows written, {read_back} read back"]
    return []
