"""Seeded input generators for the benchmark. numpy + pyarrow only.

``write_tables`` writes the star-schema tables (``region`` ... ``events``,
``documents``) that the query registry reads, one parquet file per table
with one row group, in the same schema as the registry's test data.

``write_corpus`` writes the curation corpus with planted exact copies,
near-duplicate groups and contaminated copies of a held-out set, and
keeps the ground truth beside it in ``truth.json``.

The same seed always gives the same files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit of scale factor, as in TPC-H (sf 0.01 gives
# 60,000 lineitem rows) and the registry's test data.
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

DAY_US = 86_400 * 1_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _dates(rng, n: int, lo: str, hi: str) -> pa.Array:
    """Uniform whole days in [lo, hi] as timestamp[us]."""
    d0, d1 = _epoch_us(lo) // DAY_US, _epoch_us(hi) // DAY_US
    days = rng.integers(d0, d1 + 1, n)
    return pa.array(days * DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _doc_text(rng, n: int) -> list[str]:
    lens = rng.integers(10, 100, n)
    words = np.array(DOC_WORDS)
    out = []
    for k in lens:
        text = " ".join(words[rng.integers(0, len(words), k)])
        out.append(text + " dup" if rng.random() < 0.05 else text)
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the registry's tables at scale ``sf``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(int(round(r * sf)), 1) for t, r in ROWS_PER_SF.items()}
    n_users = max(int(round(15_000 * sf)), 1)
    i32 = pa.int32()

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": _choice(rng, SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }),
    }
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n["part"], dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _choice(rng, names, n["part"]),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
        "p_type": _choice(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _choice(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choice(rng, ["F", "O"], nl),
        "l_shipdate": _dates(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    t0 = _epoch_us("2024-01-01")
    ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, ne),
        "event_type": _choice(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    text = _doc_text(rng, nd)
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": _choice(rng, LANGS, nd, LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# Curation corpus
# --------------------------------------------------------------------------

# Make-up of the curation corpus, as counts of base documents. The README
# lists the same figures.
CORPUS = {
    "n_base": 200,           # random documents
    "n_heldout": 20,         # held-out evaluation documents, not in the corpus
    "len_lo": 30,            # token count of a random document: uniform in
    "len_hi": 90,            # [len_lo, len_hi)
    "n_short": 15,           # documents under 8 tokens: the quality gate drops them
    "n_spam": 15,            # looping documents: the quality gate drops them
    "n_exact": 18,           # documents given 1-2 exact copies
    "n_near": 20,            # documents given near-duplicate variants
    "n_contam": 10,          # edited copies of held-out documents
    "vocab": 3000,           # content words, Zipf-distributed
    "shards": 8,             # docs/part-0000<i>.parquet, contiguous doc_id ranges
}
# Token substitution rates of near-duplicate variants. The first two give
# word-3-shingle Jaccard near 0.9 (removed by near dedup at 0.8); the
# last two near 0.6-0.7 (kept, but grouped by the leakage-safe split).
NEAR_EDIT_RATES = (0.01, 0.02, 0.06, 0.09)
CONTAM_EDIT_RATES = (0.0, 0.01, 0.03)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")


def _vocab(rng, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        k = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return np.array(sorted(words))


def _random_doc(rng, vocab, zipf_p, n_tok: int) -> list[str]:
    content = vocab[rng.choice(len(vocab), n_tok, p=zipf_p)]
    stop = rng.random(n_tok) < 0.3
    sw = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), n_tok)]
    return list(np.where(stop, sw, content))


def _edit(rng, vocab, toks: list[str], rate: float) -> tuple[list[str], int]:
    """Substitute ``round(rate * len)`` tokens (at least one when rate > 0)
    at distinct positions with fresh vocabulary words."""
    k = 0 if rate == 0 else max(1, int(round(rate * len(toks))))
    out = list(toks)
    for pos in rng.choice(len(toks), k, replace=False):
        out[pos] = str(vocab[rng.integers(0, len(vocab))]) + "x"
    return out, k


def write_corpus(seed: int, out_dir: str) -> dict:
    """Write ``docs/`` (doc_id, text, source; ``CORPUS["shards"]`` parquet
    files), ``heldout.parquet`` (doc_id, text) and ``truth.json`` into
    ``out_dir``; return the truth.

    Ground truth: ``exact_groups`` (lists of doc_ids with the same text
    after trim), ``near_groups`` (base doc_id, then ``[doc_id, edit_rate,
    n_edits]`` per variant) and ``contaminated`` (``[doc_id, heldout_id,
    edit_rate]``)."""
    c = CORPUS
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rng, c["vocab"])
    ranks = np.arange(1, len(vocab) + 1)
    zipf_p = (1.0 / ranks) / (1.0 / ranks).sum()

    def doc(n_tok=None):
        n_tok = n_tok or int(rng.integers(c["len_lo"], c["len_hi"]))
        return _random_doc(rng, vocab, zipf_p, n_tok)

    # Entries are (text, tag); tags tie planted docs to their ground truth.
    docs: list[tuple[str, tuple]] = []
    for _ in range(c["n_base"]):
        docs.append((" ".join(doc()), ("base",)))
    for _ in range(c["n_short"]):
        docs.append((" ".join(doc(int(rng.integers(1, 8)))), ("short",)))
    for _ in range(c["n_spam"]):
        phrase = doc(int(rng.integers(2, 5)))
        reps = int(rng.integers(6, 20))
        docs.append((" ".join(phrase * reps), ("spam",)))
    bases = rng.choice(c["n_base"], c["n_exact"] + c["n_near"], replace=False)
    for g, b in enumerate(bases[: c["n_exact"]]):
        docs[b] = (docs[b][0], ("exact", g))
        for _ in range(int(rng.integers(1, 3))):
            pad = " " * int(rng.integers(0, 3))
            docs.append((pad + docs[b][0] + pad, ("exact", g)))
    for g, b in enumerate(bases[c["n_exact"]:]):
        docs[b] = (docs[b][0], ("near", g, 0.0, 0))
        toks = docs[b][0].split()
        n_var = int(rng.integers(1, 4))
        for rate in rng.choice(NEAR_EDIT_RATES, n_var, replace=False):
            var, k = _edit(rng, vocab, toks, float(rate))
            docs.append((" ".join(var), ("near", g, float(rate), k)))
    heldout = [" ".join(doc()) for _ in range(c["n_heldout"])]
    for h in rng.choice(c["n_heldout"], c["n_contam"], replace=False):
        rate = float(rng.choice(CONTAM_EDIT_RATES))
        var, _ = _edit(rng, vocab, heldout[h].split(), rate)
        docs.append((" ".join(var), ("contam", int(h), rate)))

    order = rng.permutation(len(docs))
    texts = [docs[i][0] for i in order]
    tags = [docs[i][1] for i in order]
    exact: dict[int, list[int]] = {}
    near: dict[int, dict] = {}
    contaminated = []
    for doc_id, tag in enumerate(tags):
        if tag[0] == "exact":
            exact.setdefault(tag[1], []).append(doc_id)
        elif tag[0] == "near":
            g = near.setdefault(tag[1], {"base": None, "variants": []})
            if tag[2] == 0.0:
                g["base"] = doc_id
            else:
                g["variants"].append([doc_id, tag[2], tag[3]])
        elif tag[0] == "contam":
            contaminated.append([doc_id, tag[1], tag[2]])
    truth = {
        "seed": seed,
        "n_docs": len(texts),
        "exact_groups": [sorted(v) for _, v in sorted(exact.items())],
        "near_groups": [near[g] for g in sorted(near)],
        "contaminated": contaminated,
        "short": [i for i, t in enumerate(tags) if t[0] == "short"],
        "spam": [i for i, t in enumerate(tags) if t[0] == "spam"],
    }
    table = pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "source": [f"src{i % 8}" for i in range(len(texts))],
    })
    os.makedirs(os.path.join(out_dir, "docs"), exist_ok=True)
    bounds = np.linspace(0, table.num_rows, c["shards"] + 1).astype(int)
    for i in range(c["shards"]):
        _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
               os.path.join(out_dir, "docs", f"part-{i:05d}.parquet"))
    _write(pa.table({
        "doc_id": np.arange(len(heldout), dtype=np.int64),
        "text": heldout,
    }), os.path.join(out_dir, "heldout.parquet"))
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth

