"""Output checkers. Each takes plain Python values (collected rows and the
generator's ground truth) and returns a list of failure messages, empty when
the output is right, so the tests can feed them corrupted results."""

from __future__ import annotations

import math


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def row_multiset(rows, columns: list[str]) -> list[str]:
    """Order-insensitive, column-order-insensitive canonical form of a
    result, with exact float text (the repo's oracle-parity convention)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_cell(list(r)[i]) for i in order) for r in rows)


def check_query(name: str, got_cols, got_rows, want_cols, want_rows) -> list[str]:
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)} != oracle {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"{name}: {len(got_rows)} rows != oracle {len(want_rows)}"]
    got, want = row_multiset(got_rows, list(got_cols)), row_multiset(want_rows, list(want_cols))
    bad = [(a, b) for a, b in zip(got, want) if a != b]
    return [f"{name}: values differ from oracle, first {bad[:2]}"] if bad else []


def check_gold(gold_rows, truth: dict) -> list[str]:
    """``gold_rows``: (brewery_type, country, brewery_count) tuples."""
    out = []
    total = sum(int(r[2]) for r in gold_rows)
    if total != truth["rows"]:
        out.append(f"gold sum(brewery_count) {total} != valid rows {truth['rows']}")
    got = sorted([r[0], r[1], int(r[2])] for r in gold_rows)
    if got != truth["gold"]:
        out.append("gold groups differ from the generated (type, country) counts")
    return out


def check_exact_dups(dup_rows, truth: dict) -> list[str]:
    """``dup_rows``: (keep_id, dup_count) for every fingerprint seen more than
    once. Every planted cluster must collapse to its min id, and nothing else
    may be reported as duplicated."""
    got = sorted((int(k), int(n)) for k, n in dup_rows)
    want = sorted((min(c), len(c)) for c in truth["exact_clusters"])
    return [] if got == want else [f"exact dedup kept {got[:3]}... != planted {want[:3]}..."]


def check_contaminated(flagged_ids, truth: dict) -> list[str]:
    got, want = sorted(set(int(i) for i in flagged_ids)), truth["contaminated"]
    return [] if got == want else [
        f"decontaminate flagged {len(got)} docs, planted {len(want)} "
        f"(missed {sorted(set(want) - set(got))[:5]}, extra {sorted(set(got) - set(want))[:5]})"
    ]


def near_dup_recall(components: dict[int, int], truth: dict) -> float:
    """Share of planted near-duplicate pairs that ended in one component."""
    pairs = truth["near_pairs"]
    found = sum(
        1 for a, b in pairs
        if a in components and components.get(a) == components.get(b)
    )
    return found / len(pairs)


def check_components(components: dict[int, int], truth: dict, min_recall: float) -> list[str]:
    out = []
    for cluster in truth["exact_clusters"]:
        labels = {components.get(i) for i in cluster}
        if len(labels) != 1 or None in labels:
            out.append(f"exact-duplicate cluster {cluster} split across components {labels}")
            break
    recall = near_dup_recall(components, truth)
    if recall < min_recall:
        out.append(f"near-duplicate recall {recall:.3f} < {min_recall}")
    return out


def check_clusters(rows, truth: dict) -> list[str]:
    """``rows``: (doc_id, canonical_id) of every doc in a duplicate cluster.
    The clusters must be exactly the planted exact-duplicate clusters and
    near-duplicate pairs (no other pair of the corpus reaches the Jaccard
    threshold), each doc labelled with its cluster's min id."""
    want = sorted((i, min(c)) for c in truth["exact_clusters"] + truth["near_pairs"] for i in c)
    got = sorted((int(d), int(c)) for d, c in rows)
    if got == want:
        return []
    return [f"duplicate clusters label {len(got)} docs, planted {len(want)}; first difference "
            f"{next(((a, b) for a, b in zip(got, want) if a != b), None)}"]


def check_ivf(result_rows, truth: dict) -> list[str]:
    """``result_rows``: (vec_id, cosine) best first. The query is a corpus
    vector, so it must come back first with cosine 1."""
    if not result_rows:
        return ["ivf_search returned nothing"]
    top_cos = float(result_rows[0][1])
    ids = [int(r[0]) for r in result_rows if float(r[1]) == top_cos]
    if top_cos != 1.0 or truth["query_id"] not in ids:
        return [f"ivf_search top hit {result_rows[0]} is not the query vector {truth['query_id']}"]
    return []


def check_totals(table_rows, truth: dict) -> list[str]:
    """``table_rows``: (user_id, n, total) of the final versioned table."""
    got = sorted([int(u), int(n), float(t)] for u, n, t in table_rows)
    want = truth["totals"]
    if got == want:
        return []
    return [f"versioned table has {len(got)} keys, batch aggregate {len(want)}; "
            f"first difference {next(((a, b) for a, b in zip(got, want) if a != b), None)}"]
