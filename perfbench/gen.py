"""Seeded input generators. The same seed gives byte-identical inputs.

Nothing here imports Spark: the program under test only ever sees the
files (and, for the table workload, the DataFrames built from the batches)
these functions produce.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# Text corpus for the MapReduce legs
# ---------------------------------------------------------------------------

_PUNCT = (",", ".", ";", ":", "!", "?", " --", ")", "(", '"')


def make_text_shards(
    out_dir: str, seed: int, total_bytes: int, n_shards: int, vocab: int = 4000
) -> Counter:
    """Zipf-skewed ASCII text with mixed case and punctuation, split into
    ``input-NNN.txt`` shards that each end on a line boundary (the
    reference client's line-safe splitter). Returns the generator's own
    word tally, counted as the words were drawn (lower-cased), so the check
    does not share code with any tokenizer under test."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    words = sorted(
        {"".join(rng.choice(letters[:26], size=rng.integers(2, 10))) + ("" if i % 7 else str(i))
         for i in range(vocab)}
    )
    ranks = np.arange(1, len(words) + 1, dtype=np.float64)
    probs = 1.0 / ranks**1.1
    probs /= probs.sum()
    # tokens average ~7 bytes with their separator: draw a surplus
    n_tok = total_bytes // 3
    idx = rng.choice(len(words), size=n_tok, p=probs)
    case = rng.random(n_tok)
    punct = np.where(rng.random(n_tok) < 0.15, rng.integers(0, len(_PUNCT), n_tok), -1)
    line_len = rng.integers(4, 18, n_tok // 4 + 1)
    upper = [w.upper() for w in words]
    title = [w.capitalize() for w in words]
    tally: Counter = Counter()
    os.makedirs(out_dir, exist_ok=True)
    shard_target = total_bytes // n_shards
    pos = li = 0
    for s in range(n_shards):
        lines: list[str] = []
        size = 0
        while size < shard_target:
            n = int(line_len[li])
            li += 1
            toks = []
            for t in range(pos, pos + n):
                w = int(idx[t])
                word = upper[w] if case[t] < 0.1 else title[w] if case[t] < 0.3 else words[w]
                if punct[t] >= 0:
                    word += _PUNCT[punct[t]]
                toks.append(word)
            tally.update(words[int(w)] for w in idx[pos : pos + n])
            pos += n
            line = " ".join(toks)
            lines.append(line)
            size += len(line) + 1
        with open(os.path.join(out_dir, f"input-{s:03d}.txt"), "w", encoding="ascii") as fh:
            fh.write("\n".join(lines) + "\n")
    return tally


# ---------------------------------------------------------------------------
# TPC-H-shaped star schema (same columns and value domains as the
# repository's synthetic test tables; sizes scale with ``sf``)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
_NOUN = ["bolt", "plate", "rod", "anvil", "ring", "gear", "widget", "gizmo"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DOC_VOCAB = (
    "a the batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "join vector customer index"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

_D0 = np.datetime64("1995-01-01T00:00:00", "us")
_DAY = np.timedelta64(86_400_000_000, "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tpch(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region/nation/customer/supplier/part/orders/lineitem parquet
    files; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = 4 * n_ord
    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
        ),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
    }
    odate = _D0 + rng.integers(0, 2404, n_ord) * _DAY
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(_PRIOS, n_ord),
    })
    lok = rng.integers(0, n_ord, n_li).astype(np.int64)
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": odate[lok] + rng.integers(1, 122, n_li) * _DAY,
    })
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {k: len(v) for k, v in tables.items()}


# ---------------------------------------------------------------------------
# Documents with planted near-duplicates
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"[^a-zA-Z0-9]+")


def _shingles(text: str, n: int = 3) -> set[str]:
    ws = [w for w in _TOKEN_RE.sub(" ", text).lower().split(" ") if w]
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def jaccard_pairs(texts: list[str], threshold: float) -> dict[tuple[int, int], float]:
    """Exact word-3-shingle Jaccard pairs >= threshold, by inverted index."""
    sets = [_shingles(t) for t in texts]
    postings: dict[str, list[int]] = {}
    for i, s in enumerate(sets):
        for sh in s:
            postings.setdefault(sh, []).append(i)
    common: Counter = Counter()
    for ids in postings.values():
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                common[(ids[a], ids[b])] += 1
    out = {}
    for (i, j), c in common.items():
        jac = c / (len(sets[i]) + len(sets[j]) - c)
        if jac >= threshold:
            out[(i, j)] = jac
    return out


def write_documents(out_dir: str, seed: int, n_docs: int, dup_frac: float = 0.08) -> int:
    """Documents over a ~31-word vocabulary, the shape of the repository's
    synthetic corpus. A ``dup_frac`` share are planted near-copies of a long earlier document
    (one word substituted, or verbatim), so similarity is either >= 0.9 or
    far below 0.5: the registry's MinHash queries are checked against the
    EXACT Jaccard oracle, which their 16x4 banding reproduces only away
    from the band curve's midpoint (the repository's corpus is built the
    same way). The generator verifies that gap before writing."""
    rng = random.Random(seed)
    texts: list[str] = []
    uses: dict[int, int] = {}  # long docs eligible as near-dup sources
    for i in range(n_docs):
        if uses and rng.random() < dup_frac:
            # a source gets one edited copy, then one verbatim copy, so
            # every pair inside a cluster stays above 0.9
            src = rng.choice(sorted(uses))
            ws = texts[src].split(" ")
            if uses[src] == 0:
                j = rng.randrange(len(ws))
                ws[j] = rng.choice([w for w in _DOC_VOCAB if w != ws[j]])
                uses[src] = 1
            else:
                del uses[src]
            texts.append(" ".join(ws))
            continue
        n = rng.randint(10, 100)
        texts.append(" ".join(rng.choice(_DOC_VOCAB) for _ in range(n)))
        if n >= 80:
            uses[i] = 0
    grey = {p: j for p, j in jaccard_pairs(texts, 0.35).items() if j < 0.9}
    if grey:
        raise ValueError(f"seed {seed}: {len(grey)} document pairs in the LSH grey zone")
    df = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(out_dir, exist_ok=True)
    df.to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)
    return n_docs


# ---------------------------------------------------------------------------
# Keyed batches for the table workload
# ---------------------------------------------------------------------------


def table_rows(rng: np.random.Generator, keys: np.ndarray, tag: int) -> pd.DataFrame:
    """Rows for ``keys``: group, value and a payload string; ``tag`` marks
    the write that produced them so updates are visible in the check."""
    n = len(keys)
    return pd.DataFrame({
        "k": keys.astype(np.int64),
        "g": (keys % 32).astype(np.int32),
        "v": rng.integers(0, 1_000_000, n).astype(np.int64),
        "s": [f"w{tag:04d}-{x:08x}" for x in rng.integers(0, 1 << 32, n)],
    })
