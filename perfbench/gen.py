"""Seeded input generators for the benchmark workloads.

Every generator takes a ``seed`` and an output directory, writes its inputs
there, and returns the planted ground truth as a JSON-serialisable dict (also
written to ``truth.json`` beside the inputs). The same seed always gives the
same bytes; the program under test only ever sees the files.

* :func:`lakehouse_tables` - TPC-H-shaped star schema plus ``documents`` for
  the interactive registry queries.
* :func:`bronze_breweries` - brewery-shaped bronze JSON lines, with soft-dirty
  rows the curation must absorb and a separate planted-invalid variant the
  quality gate must reject.
* :func:`dedup_corpus` - documents with planted exact duplicates, near
  duplicates and benchmark-contaminated docs, a held-out benchmark set, and
  clustered embeddings.
* :func:`keyed_events` - skewed per-user events with per-key totals.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write_truth(out_dir: str, truth: dict) -> dict:
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    return truth


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, span: int, n: int, offset: int = 0) -> np.ndarray:
    days = rng.integers(0, span, n) + offset
    return _EPOCH_1995 + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


# --------------------------------------------------------------------------
# Interactive SQL: star schema + documents
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def lakehouse_tables(seed: int, out_dir: str, scale: float = 0.01) -> dict:
    """Write ``<table>.parquet`` for every table the interactive queries read.

    Row counts follow the TPC-H ratios at ``scale`` (``scale=0.01`` gives
    60 000 lineitem rows). Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 1)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = 4 * n_ord
    n_docs = int(50_000 * scale)
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, 2404, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 100_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, 2498, n_line, offset=1),
        }),
    }
    vocab = _vocabulary(rng, 400)
    lengths = rng.integers(5, 60, n_docs)
    texts = [" ".join(rng.choice(vocab, k)) for k in lengths]
    langs = rng.choice(_LANGS, n_docs).astype(object)
    sources = np.array([f"src{i % 20}" for i in range(n_docs)], dtype=object)
    # planted quality violations for q_quality_summary to count
    for col, bad in ((texts, ""), (langs, None), (sources, "")):
        for i in rng.choice(n_docs, max(1, n_docs // 50), replace=False):
            col[i] = bad
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return _write_truth(out_dir, {name: t.num_rows for name, t in tables.items()})


# --------------------------------------------------------------------------
# Lake ingest: bronze brewery JSON lines
# --------------------------------------------------------------------------

_TYPES = ["micro", "nano", "regional", "brewpub", "large", "planning", "contract"]
_COUNTRIES = ["United States", "England", "Ireland", "Scotland", "Germany",
              "Austria", "Poland", "South Korea"]


def bronze_breweries(seed: int, out_dir: str, n_rows: int, n_files: int = 8) -> dict:
    """Write ``valid/part-*.json`` (``n_rows`` rows, every critical column
    present) and ``invalid/part-*.json`` (the same rows with critical columns
    blanked on a planted subset).

    The valid set still carries soft-dirty rows the silver curation has to
    absorb: padded names and cities, mixed-case types, missing address parts
    and missing coordinates. Returns the ground truth: row count, rows
    per (brewery_type, country) after curation, and the planted-invalid ids.
    """
    rng = _rng(seed, 2)
    ids = np.array([f"{seed:x}-{i:07d}" for i in range(n_rows)], dtype=object)
    types = rng.choice(_TYPES, n_rows, p=[.4, .1, .1, .2, .1, .05, .05])
    case = rng.integers(0, 3, n_rows)
    raw_types = np.where(case == 0, types, np.where(case == 1, np.char.upper(types.astype(str)),
                                                    np.char.capitalize(types.astype(str))))
    countries = rng.choice(_COUNTRIES, n_rows, p=[.6, .1, .05, .05, .08, .04, .04, .04])
    pad = rng.choice(["", " ", "  "], n_rows)
    lon = np.round(rng.uniform(-125.0, 30.0, n_rows), 6).astype(str).astype(object)
    lat = np.round(rng.uniform(-40.0, 60.0, n_rows), 6).astype(str).astype(object)
    missing = rng.random(n_rows) < 0.02
    lon[missing] = None
    lat[missing] = None
    frame = pd.DataFrame({
        "id": ids,
        "name": [f"{p}Brewery {i}{p}" for i, p in zip(range(n_rows), pad)],
        "brewery_type": raw_types,
        "address_1": [f"{i % 9999} Main St" for i in range(n_rows)],
        "address_2": np.where(rng.random(n_rows) < 0.3, "Suite 2", None),
        "address_3": None,
        "city": [f"{p}City{c}{p}" for c, p in zip(rng.integers(0, 500, n_rows), pad)],
        "state_province": [f"State{s}" for s in rng.integers(0, 50, n_rows)],
        "country": countries,
        "longitude": lon,
        "latitude": lat,
    })
    n_bad = max(5, n_rows // 1000)
    bad_rows = np.sort(rng.choice(n_rows, n_bad, replace=False))
    invalid = frame.copy()
    blank = rng.integers(0, 3, n_bad)
    invalid.loc[bad_rows[blank == 0], "id"] = ""
    invalid.loc[bad_rows[blank == 1], "name"] = None
    invalid.loc[bad_rows[blank == 2], "brewery_type"] = None
    for sub, df in (("valid", frame), ("invalid", invalid)):
        d = os.path.join(out_dir, sub)
        os.makedirs(d, exist_ok=True)
        for k, part in enumerate(np.array_split(np.arange(n_rows), n_files)):
            df.iloc[part].to_json(os.path.join(d, f"part-{k:03d}.json"),
                                  orient="records", lines=True)
    gold = frame.groupby([types, countries]).size()
    return _write_truth(out_dir, {
        "rows": n_rows,
        "gold": sorted([t, c, int(n)] for (t, c), n in gold.items()),
        "invalid_ids": [str(ids[i]) for i in bad_rows],
    })


# --------------------------------------------------------------------------
# Corpus dedup: documents, benchmark set, embeddings
# --------------------------------------------------------------------------

def _mutate(rng: np.random.Generator, words: list[str], vocab: np.ndarray, n_edits: int) -> list[str]:
    out = list(words)
    for pos in rng.choice(len(out), n_edits, replace=False):
        new = out[pos]
        while new == out[pos]:  # an unchanged copy would be an exact duplicate
            new = str(rng.choice(vocab))
        out[pos] = new
    return out


def dedup_corpus(
    seed: int,
    out_dir: str,
    n_docs: int,
    n_bench: int = 40,
    n_vectors: int = 4000,
    dim: int = 32,
) -> dict:
    """Write ``documents.parquet`` (doc_id, text; the registry's
    ``documents`` table), ``bench.parquet`` (the held-out
    benchmark set) and ``embeddings.parquet`` (vec_id, embedding, label).

    Planted, on disjoint base documents:

    * exact-duplicate clusters (2-3 identical texts under fresh ids);
    * near-duplicate pairs (a copy with one of 60-100 words replaced, word
      3-shingle Jaccard ~0.9-0.94);
    * contaminated docs that embed a 24-word span of a benchmark doc.

    The rest are random word sequences over a 3000-word vocabulary, so no
    other pair shares a meaningful number of 3-shingles."""
    rng = _rng(seed, 3)
    vocab = _vocabulary(rng, 3000)
    n_exact, n_near, n_contam = n_docs // 40, n_docs // 20, n_docs // 50
    n_base = n_docs - n_exact - n_near
    base = [list(rng.choice(vocab, int(rng.integers(60, 100)))) for _ in range(n_base)]
    bench = [list(rng.choice(vocab, 60)) for _ in range(n_bench)]
    picks = rng.permutation(n_base)
    exact_src = picks[:n_exact // 2]
    near_src = picks[n_exact // 2: n_exact // 2 + n_near]
    contam = picks[n_exact // 2 + n_near: n_exact // 2 + n_near + n_contam]
    for i in contam:
        span = bench[int(rng.integers(n_bench))]
        start = int(rng.integers(0, len(span) - 24))
        cut = int(rng.integers(0, len(base[i])))
        base[i] = base[i][:cut] + span[start:start + 24] + base[i][cut:]
    texts = [" ".join(w) for w in base]
    clusters = {int(i): [int(i)] for i in exact_src}
    next_id = n_base
    for k in range(n_exact):
        src = int(exact_src[k % len(exact_src)])
        texts.append(texts[src])
        clusters[src].append(next_id)
        next_id += 1
    near_pairs = []
    for src in near_src:
        texts.append(" ".join(_mutate(rng, base[src], vocab, 1)))
        near_pairs.append([int(src), next_id])
        next_id += 1
    order = rng.permutation(len(texts))  # ids stay, storage order shuffles
    docs = pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": [texts[i] for i in order],
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_bench), pa.int64()),
        "text": [" ".join(w) for w in bench],
    }), os.path.join(out_dir, "bench.parquet"))

    centers = rng.normal(0.0, 1.0, (16, dim))
    labels = rng.integers(0, 16, n_vectors)
    vecs = (centers[labels] + rng.normal(0.0, 0.25, (n_vectors, dim))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    query_id = int(rng.integers(n_vectors))
    return _write_truth(out_dir, {
        "docs": len(texts),
        "bench": n_bench,
        "exact_clusters": sorted(sorted(c) for c in clusters.values()),
        "near_pairs": sorted(near_pairs),
        "contaminated": sorted(int(i) for i in contam),
        "vectors": n_vectors,
        "query_id": query_id,
        "query_vec": [float(x) for x in vecs[query_id]],
    })


# --------------------------------------------------------------------------
# Stream upsert: keyed events
# --------------------------------------------------------------------------

def keyed_events(seed: int, out_dir: str, n_events: int, n_users: int) -> dict:
    """Write ``events.parquet`` (event_id, user_id, value) with Zipf-skewed
    user keys and integer-valued amounts (sums are exact in any order).
    Returns the per-key totals ``[user_id, n, total]``."""
    rng = _rng(seed, 4)
    users = (rng.zipf(1.3, n_events) - 1) % n_users
    values = rng.integers(1, 100, n_events).astype(np.float64)
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "user_id": pa.array(users, pa.int64()),
        "value": values,
    }), os.path.join(out_dir, "events.parquet"))
    totals = pd.DataFrame({"u": users, "v": values}).groupby("u")["v"].agg(["size", "sum"])
    return _write_truth(out_dir, {
        "events": n_events,
        "totals": [[int(u), int(n), float(s)] for u, (n, s) in totals.iterrows()],
    })
