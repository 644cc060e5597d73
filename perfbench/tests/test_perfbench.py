"""Tests of the benchmark's own pieces; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

GENERATORS = {
    "lakehouse_tables": lambda seed, d: gen.lakehouse_tables(seed, d, scale=0.001),
    "bronze_breweries": lambda seed, d: gen.bronze_breweries(seed, d, 500, n_files=2),
    "dedup_corpus": lambda seed, d: gen.dedup_corpus(seed, d, 200, n_vectors=100),
    "keyed_events": lambda seed, d: gen.keyed_events(seed, d, 1000, 50),
}


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(root)):
        for name in sorted(names):
            h.update(name.encode())
            with open(os.path.join(dirpath, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, name):
    digests = {}
    for label, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / label
        d.mkdir()
        GENERATORS[name](seed, str(d))
        digests[label] = _digest(str(d))
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_corpus_plants_what_its_truth_says(tmp_path):
    import pyarrow.parquet as pq

    truth = gen.dedup_corpus(3, str(tmp_path), 400, n_vectors=100)
    docs = dict(zip(*pq.read_table(tmp_path / "documents.parquet").to_pydict().values()))
    assert len(docs) == truth["docs"]
    for cluster in truth["exact_clusters"]:
        assert len({docs[i] for i in cluster}) == 1
    for a, b in truth["near_pairs"]:
        assert docs[a] != docs[b]
        assert len(set(docs[a].split()) ^ set(docs[b].split())) <= 2


def test_bronze_invalid_variant_breaks_only_planted_rows(tmp_path):
    import pandas as pd

    truth = gen.bronze_breweries(5, str(tmp_path), 2000, n_files=2)
    bad = pd.concat(pd.read_json(p, lines=True, dtype=False)
                    for p in sorted((tmp_path / "invalid").glob("*.json")))
    broken = bad["id"].eq("") | bad["name"].isna() | bad["brewery_type"].isna()
    assert int(broken.sum()) == len(truth["invalid_ids"])
    assert sum(n for _, _, n in truth["gold"]) == truth["rows"]


# --------------------------------------------------------------------------
# checkers reject corrupted outputs
# --------------------------------------------------------------------------

def test_check_query_flags_value_row_and_column_changes():
    cols, rows = ["k", "v"], [("a", 1.5), ("b", 2.0)]
    assert checks.check_query("q", cols, rows, ["v", "k"], [(2.0, "b"), (1.5, "a")]) == []
    assert checks.check_query("q", cols, [("a", 1.5), ("b", 2.0000001)], cols, rows)
    assert checks.check_query("q", cols, rows[:1], cols, rows)
    assert checks.check_query("q", ["k", "w"], rows, cols, rows)


def test_check_gold_flags_a_wrong_count():
    truth = {"rows": 5, "gold": [["micro", "Ireland", 2], ["nano", "Poland", 3]]}
    good = [("nano", "Poland", 3), ("micro", "Ireland", 2)]
    assert checks.check_gold(good, truth) == []
    assert checks.check_gold([("nano", "Poland", 3), ("micro", "Ireland", 1)], truth)
    assert checks.check_gold([("nano", "Poland", 3), ("micro", "England", 2)], truth)


def test_check_exact_dups_flags_a_missed_or_extra_cluster():
    truth = {"exact_clusters": [[1, 7], [3, 9, 12]]}
    assert checks.check_exact_dups([(3, 3), (1, 2)], truth) == []
    assert checks.check_exact_dups([(3, 3)], truth)
    assert checks.check_exact_dups([(3, 3), (1, 2), (5, 2)], truth)
    assert checks.check_exact_dups([(3, 2), (1, 2)], truth)


def test_check_contaminated_flags_missed_and_extra_docs():
    truth = {"contaminated": [4, 8]}
    assert checks.check_contaminated([8, 4], truth) == []
    assert checks.check_contaminated([8], truth)
    assert checks.check_contaminated([4, 8, 11], truth)


def test_check_components_flags_a_split_cluster_and_low_recall():
    truth = {"exact_clusters": [[1, 2]], "near_pairs": [[5, 6], [7, 8]]}
    comps = {1: 1, 2: 1, 5: 5, 6: 5, 7: 7, 8: 7}
    assert checks.check_components(comps, truth, 0.9) == []
    assert checks.check_components({**comps, 2: 2}, truth, 0.9)
    assert checks.near_dup_recall({**comps, 8: 8}, truth) == 0.5
    assert checks.check_components({**comps, 8: 8}, truth, 0.9)


def test_check_clusters_flags_a_wrong_label_and_an_extra_doc():
    truth = {"exact_clusters": [[1, 2]], "near_pairs": [[5, 6]]}
    good = [(6, 5), (1, 1), (2, 1), (5, 5)]
    assert checks.check_clusters(good, truth) == []
    assert checks.check_clusters([(6, 6), (1, 1), (2, 1), (5, 5)], truth)
    assert checks.check_clusters(good + [(9, 1)], truth)
    assert checks.check_clusters(good[1:], truth)


def test_check_ivf_flags_a_wrong_top_hit():
    truth = {"query_id": 42}
    assert checks.check_ivf([(42, 1.0), (3, 0.9)], truth) == []
    assert checks.check_ivf([(3, 1.0), (42, 1.0)], truth) == []  # tie on cosine
    assert checks.check_ivf([(3, 0.99), (42, 0.98)], truth)
    assert checks.check_ivf([], truth)


def test_check_totals_flags_a_changed_total_and_a_lost_key():
    truth = {"totals": [[1, 2, 30.0], [2, 1, 5.0]]}
    assert checks.check_totals([(2, 1, 5.0), (1, 2, 30.0)], truth) == []
    assert checks.check_totals([(2, 1, 5.0), (1, 2, 31.0)], truth)
    assert checks.check_totals([(1, 2, 30.0)], truth)


# --------------------------------------------------------------------------
# self-time arithmetic
# --------------------------------------------------------------------------

def _span(sid, name, start, end, parent):
    s = tracing.Span(sid, name, start, parent)
    s.end = end
    return s


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        _span(0, "op", 0.0, 10.0, None),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),    # overlaps a (another thread)
        _span(3, "c", 8.0, 9.0, 0),
        _span(4, "a.child", 2.0, 3.0, 1),
        _span(5, "c", 8.5, 11.0, 3),   # runs past its parent's end
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(2.5)


def test_spark_totals_counts_only_selected_jobs():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6000},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1100, "Finish Time": 1400, "Getting Result Time": 0},
         "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 1.5e8,
                          "Executor Deserialize Time": 50, "Result Serialization Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 5100, "Finish Time": 5200},
         "Task Metrics": {"Executor Run Time": 100}},
    ]
    out = tracing.spark_totals(events, lambda group, t: t < 2.0)
    assert (out["jobs"], out["stages"], out["tasks"]) == (1, 1, 1)
    assert out["action_s"] == pytest.approx(0.5)
    assert out["executor_run_s"] == pytest.approx(0.2)
    assert out["executor_cpu_s"] == pytest.approx(0.15)
    assert out["scheduler_delay_s"] == pytest.approx(0.04)
    assert out["shuffle_write_bytes"] == 64
    assert out["job_groups"] == ["g"]


# --------------------------------------------------------------------------
# latency statistics
# --------------------------------------------------------------------------

def test_per_kind_medians_count_each_kind_once():
    import run

    lat = [1.0, 10.0, 2.0, 3.0, 12.0]
    kinds = ["a", "b", "a", "a", "b"]
    assert run.per_kind_medians(lat, kinds) == {"a": 2.0, "b": 11.0}


def test_tracing_overhead_compares_like_with_like():
    import run

    lat = [1.0, 1.1, 10.0, 11.0, 2.0, 2.2]
    kinds = ["a", "a", "b", "b", "c", "c"]
    traced = [False, True, False, True, False, True]
    assert run.tracing_overhead(lat, kinds, traced) == pytest.approx(0.1)
