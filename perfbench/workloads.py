"""The benchmark workloads.

Each workload stages seeded inputs (``stage``), warms up (``warmup``), then
runs its operations in a closed loop (``run``) and finally checks every
output it kept (``check``). The runner owns timing, tracing and metrics; a
workload reports each operation's wall-clock interval, kind and input rows,
and its failures.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import checks
import gen
import tracing

# The interactive queries: read-only registry entries that have a DuckDB
# oracle, run no Spark job while being built, write nothing and return at
# most a few hundred rows. Values: the tables each one scans.
INTERACTIVE_QUERIES = {
    "q_gold_agg": ["orders"],
    "q_quality_summary": ["documents"],
    "q_topk": ["orders"],
    "q_rollup": ["orders"],
    "q_star_join": ["region", "nation", "customer", "orders", "lineitem"],
    "q_sql_tpch_q1": ["lineitem"],
    "q_sql_tpch_q3": ["customer", "orders", "lineitem"],
    "q_sql_tpch_q5": ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    "q_sql_tpch_q6": ["lineitem"],
}


def files_and_bytes(path: str) -> tuple[int, int]:
    """Data files (not markers or checksums) under ``path`` and their bytes."""
    n = size = 0
    for root, _, names in os.walk(path):
        for f in names:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


@dataclass
class Measurement:
    """Per operation: its wall-clock (epoch-second) interval, kind, whether
    it was traced and the input rows it read. ``busy`` is the interval the
    throughput is measured over: first operation's start to last one's end,
    or for the stream, whose triggers are timed by Spark, the drain."""

    intervals: list[tuple[float, float]] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)
    traced: list[bool] = field(default_factory=list)
    rows: list[int] = field(default_factory=list)
    busy: tuple[float, float] | None = None

    def add(self, interval: tuple[float, float], kind: str, traced: bool, rows: int) -> None:
        self.intervals.append(interval)
        self.kinds.append(kind)
        self.traced.append(traced)
        self.rows.append(rows)


class Workload:
    name = ""
    #: the operation kinds of one round; a run measures whole rounds
    kinds: list[str]
    #: per-layer counters a workload adds (bytes_per_input_byte, recall, ...)
    extra: dict

    def __init__(self, spark, tmp: str, seed: int, tracer):
        self.spark, self.tmp, self.seed, self.tracer = spark, tmp, seed, tracer
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.extra = {}
        self.queue: list[str] = []
        if not hasattr(self, "kinds"):
            self.kinds = [self.name]

    def stage(self, out_dir: str) -> None:
        """The program's own staging of the generated inputs, if the
        workload has one; the last staging is the one used."""

    def record(self, problems: list[str]) -> None:
        """Count one attempted operation, failed if ``problems``."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(problems)

    def instrument(self, tracer) -> None:
        """Wrap the layer functions this workload reaches."""

    def new_round(self) -> list[str]:
        return list(self.kinds)

    def _next(self) -> str:
        if not self.queue:
            self.queue = self.new_round()
        return self.queue.pop(0)

    def run(self, deadline: float, alternate: bool = False) -> Measurement:
        """Closed loop of whole rounds until ``deadline`` (epoch seconds) has
        passed; with ``alternate`` rounds are untraced and traced in turn,
        at least three, so drift falls on both sides and both see the same
        mix."""
        m = Measurement()
        while self._another(m, deadline, alternate):
            traced = alternate and (len(m.intervals) // len(self.kinds)) % 2 == 1
            self.tracer.enabled = traced
            kind = self._next()
            with self.tracer.span("op"):
                t0 = time.time()
                rows = self.op(kind)
                m.add((t0, time.time()), kind, traced, rows)
            self.after_op(traced)
            self.tracer.enabled = False
        m.busy = (m.intervals[0][0], m.intervals[-1][1])
        return m

    def _another(self, m: Measurement, deadline: float, alternate: bool) -> bool:
        if self.queue or len(m.intervals) < (3 if alternate else 1) * len(self.kinds):
            return True
        return time.time() < deadline

    def after_op(self, traced: bool) -> None:
        """Untimed bookkeeping after each operation."""


# --------------------------------------------------------------------------

class InteractiveSql(Workload):
    """One analyst, closed loop: build a registry query, collect it, repeat.
    The order is seed-shuffled, one full round of the distinct queries at a
    time, so every run sees the same mix."""

    name = "interactive_sql"
    kinds = sorted(INTERACTIVE_QUERIES)

    def generate(self, out_dir: str) -> None:
        self.data = out_dir
        self.truth = gen.lakehouse_tables(self.seed, out_dir, scale=0.01)
        self.rng = random.Random(self.seed)
        self.results: list[tuple[str, list, list]] = []

    def new_round(self) -> list[str]:
        order = list(self.kinds)
        self.rng.shuffle(order)
        return order

    def warmup(self, traced_run: bool) -> None:
        # the first round is cold and the second still ~30% slow
        from datalake_breweries_two_spark import entry_queries

        for _ in range(2):
            for name in self.kinds:
                entry_queries.QUERIES[name](self.spark, self.data).collect()

    def op(self, name: str) -> int:
        from datalake_breweries_two_spark import entry_queries

        tr = self.tracer
        with tr.span("entry_queries.build"):
            df = entry_queries.QUERIES[name](self.spark, self.data)
        if tr.enabled:
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("spark.action"):
            rows = df.collect()
        self.results.append((name, df.columns, rows))
        return sum(self.truth[t] for t in INTERACTIVE_QUERIES[name])

    def instrument(self, tracer) -> None:
        from datalake_breweries_two_spark import entry_queries

        tracer.wrap(entry_queries, "load_table", "catalog.load")

    def check(self) -> None:
        import duckdb

        from datalake_breweries_two_spark.entry_queries import ORACLE_SQL

        con = duckdb.connect()
        try:
            for t in self.truth:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.data, t)}.parquet')")
            oracle = {}
            for name in self.kinds:
                res = con.execute(ORACLE_SQL[name])
                oracle[name] = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        for name, cols, rows in self.results:
            self.record(checks.check_query(name, cols, rows, *oracle[name]))


# --------------------------------------------------------------------------

class LakeIngest(Workload):
    """Bronze JSON -> silver parquet -> quality gate -> plan audit -> gold,
    through ``plans.medallion.run_medallion``, repeated over the same
    bronze set."""

    name = "lake_ingest"
    rows = 50_000
    warm_runs = 3

    def generate(self, out_dir: str) -> None:
        self.data = out_dir
        self.truth = gen.bronze_breweries(self.seed, out_dir, self.rows)
        self.bronze = os.path.join(out_dir, "valid")
        self.bronze_bytes = files_and_bytes(self.bronze)[1]
        self.lake = os.path.join(self.tmp, "lake")

    def config(self, base_dir: str):
        from pyspark.sql import functions as F

        from datalake_breweries_two_spark.catalog import BRONZE_BREWERY_SCHEMA
        from datalake_breweries_two_spark.operators.aggregates import group_count
        from datalake_breweries_two_spark.operators.projection import curate_silver_breweries
        from datalake_breweries_two_spark.plans.medallion import MedallionConfig

        # the package CLI's run-medallion configuration
        return MedallionConfig(
            base_dir=base_dir,
            bronze_schema=BRONZE_BREWERY_SCHEMA,
            curate=curate_silver_breweries,
            aggregate=lambda df: group_count(
                df, ["brewery_type", "country"], "id", "brewery_count"
            ).orderBy(F.desc("brewery_count")),
            silver_partition_by=["country"],
            critical_columns=["id", "brewery_name", "brewery_type"],
            min_rows=100,
        )

    def warmup(self, traced_run: bool) -> None:
        # the cold run takes ~4x a warm one; later runs keep getting faster,
        # by ~5% each after three and ~2% each after six (JIT)
        for _ in range(self.warm_runs):
            self.op(self.name)

    def op(self, kind: str) -> int:
        from datalake_breweries_two_spark.plans import medallion

        res = medallion.run_medallion(self.spark, self.config(self.lake), self.bronze)
        problems = []
        if res.quality.total_rows != self.rows or res.gold_rows != len(self.truth["gold"]):
            problems.append(f"medallion run saw {res.quality.total_rows} silver rows, "
                            f"{res.gold_rows} gold rows")
        self.record(problems)
        return self.rows

    def instrument(self, tracer) -> None:
        from datalake_breweries_two_spark.plans import advisor, medallion
        from datalake_breweries_two_spark.sources import lake

        def written(args, kwargs, result):
            n, size = files_and_bytes(args[1])
            tracer.counters["lake.files_written"] += n
            tracer.counters["lake.bytes_written"] += size

        tracer.wrap(medallion, "run_medallion", "medallion")
        tracer.wrap(medallion, "run_quality_gate", "quality.gate")
        tracer.wrap(advisor, "audit_plan", "advisor.audit")
        tracer.wrap(lake, "read_json", "lake.read")
        tracer.wrap(lake, "read_parquet", "lake.read")
        tracer.wrap(lake, "write_parquet", "lake.write", after=written)

    def check(self) -> None:
        from datalake_breweries_two_spark.plans.medallion import QualityGateError, run_medallion

        gold = self.spark.read.parquet(os.path.join(self.lake, "gold")).collect()
        self.record(checks.check_gold([tuple(r) for r in gold], self.truth))
        written = sum(files_and_bytes(os.path.join(self.lake, d))[1] for d in ("silver", "gold"))
        self.extra["lake.bytes_per_input_byte"] = written / self.bronze_bytes

        bad_lake = os.path.join(self.tmp, "lake_invalid")
        try:
            run_medallion(self.spark, self.config(bad_lake),
                          os.path.join(self.data, "invalid"))
            self.record(["quality gate accepted the planted-invalid bronze set"])
        except QualityGateError:
            gold_exists = os.path.exists(os.path.join(bad_lake, "gold"))
            self.record(["gold written despite gate rejection"] if gold_exists else [])


# --------------------------------------------------------------------------

class CorpusDedup(Workload):
    """One round runs each dedup operator once over the same seeded corpus,
    each as an operation of its own kind: exact dedup; verified near-dup
    pairs -> connected components; benchmark decontamination; an IVF index
    build + probe; and the registry's ``q_dedup_clusters`` (exact Jaccard
    pairs -> connected components, most of whose jobs run while it is
    built). A batch job: one round per run, measured cold."""

    name = "corpus_dedup"
    kinds = ["exact", "near", "decontaminate", "ivf", "clusters"]
    docs = 600
    vectors = 2000
    # a guard against a broken pipeline; the recall itself is a metric
    min_recall = 0.5

    def generate(self, out_dir: str) -> None:
        self.data = out_dir
        self.truth = gen.dedup_corpus(self.seed, out_dir, self.docs, n_vectors=self.vectors)
        self.results: list[tuple[str, object]] = []
        self.n_ops = 0

    def warmup(self, traced_run: bool) -> None:
        """None for a measured run: a dedup job runs once per corpus in a
        fresh session, so its round is measured cold (the first round takes
        ~2.5x a later one). A traced run warms up with one round, so that its
        untraced and traced rounds compare like with like."""
        if traced_run:
            for kind in self.kinds:
                self.op(kind)
                self.after_op(False)
            self.results.clear()

    def op(self, kind: str) -> int:
        self.n_ops += 1
        self.work = os.path.join(self.tmp, f"dedup_op{self.n_ops}")
        docs = self.spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        out, rows = getattr(self, f"_{kind}")(docs)
        self.results.append((kind, out))
        return rows

    def _exact(self, docs):
        from pyspark.sql import functions as F

        from datalake_breweries_two_spark.operators import dedup

        with self.tracer.span("dedup.exact"):
            exact = dedup.dedup_exact(docs).filter(F.col("dup_count") > 1)
            return [(r.keep_id, r.dup_count) for r in exact.collect()], self.truth["docs"]

    def _near(self, docs):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from datalake_breweries_two_spark.operators import dedup

        tr = self.tracer
        with tr.span("dedup.near"):
            pairs = dedup.near_duplicates_verified(
                docs, stage_dir=os.path.join(self.work, "stage"))
        obs = Observation("confirmed")
        pairs = pairs.observe(obs, F.count(F.lit(1)).alias("n"))
        with tr.span("dedup.components"):
            comps = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
        if tr.enabled:
            tr.counters["dedup.confirmed_pairs"] += int(obs.get["n"])
        return comps, self.truth["docs"]

    def _decontaminate(self, docs):
        from datalake_breweries_two_spark.operators import dedup

        bench = self.spark.read.parquet(os.path.join(self.data, "bench.parquet"))
        with self.tracer.span("dedup.decontaminate"):
            flagged = dedup.decontaminate(docs, bench,
                                          stage_dir=os.path.join(self.work, "stage"))
            ids = [r.doc_id for r in flagged.select("doc_id").collect()]
        return ids, self.truth["docs"] + self.truth["bench"]

    def _ivf(self, docs):
        from datalake_breweries_two_spark.operators import similarity

        index_dir = os.path.join(self.work, "ivf")
        emb = self.spark.read.parquet(os.path.join(self.data, "embeddings.parquet"))
        similarity.ivf_build_index(emb, index_dir)
        with self.tracer.span("similarity.search"):
            hits = [(r.vec_id, r.cosine) for r in similarity.ivf_search(
                self.spark, index_dir, self.truth["query_vec"], k=10).collect()]
        return hits, self.truth["vectors"]

    def _clusters(self, docs):
        from datalake_breweries_two_spark import entry_queries

        tr = self.tracer
        with tr.span("entry_queries.build"):
            df = entry_queries.QUERIES["q_dedup_clusters"](self.spark, self.data)
        with tr.span("spark.action"):
            rows = [(r.doc_id, r.canonical_id) for r in df.collect()]
        return rows, self.truth["docs"]

    def instrument(self, tracer) -> None:
        from datalake_breweries_two_spark import entry_queries
        from datalake_breweries_two_spark.operators import similarity

        tracer.wrap(similarity, "ivf_build_index", "similarity.index_build")
        tracer.wrap(entry_queries, "load_table", "catalog.load")

    def after_op(self, traced: bool) -> None:
        if traced and self.results[-1][0] == "near":
            self.tracer.counters["dedup.candidate_pairs"] += self._staged_rows(
                os.path.join(self.work, "stage"), "verified_cands")
        shutil.rmtree(self.work, ignore_errors=True)

    @staticmethod
    def _staged_rows(stage_dir: str, tag: str) -> int:
        import glob

        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(stage_dir, f"stage_*_{tag}_*", "*.parquet"))
        )

    def check(self) -> None:
        truth, recalls = self.truth, []
        check = {
            "exact": checks.check_exact_dups,
            "near": lambda comps, t: checks.check_components(comps, t, self.min_recall),
            "decontaminate": checks.check_contaminated,
            "ivf": checks.check_ivf,
            "clusters": checks.check_clusters,
        }
        for kind, out in self.results:
            if kind == "near":
                recalls.append(checks.near_dup_recall(out, truth))
            self.record(check[kind](out, truth))
        self.extra["dedup.near_dup_recall"] = min(recalls) if recalls else 0.0


# --------------------------------------------------------------------------

class StreamUpsert(Workload):
    """A per-user streaming aggregate over seeded events staged one file per
    trigger, MERGEd into a versioned lake table every trigger by
    ``streaming.sinks.stream_upsert_versioned``; triggers run back to back
    until the backlog is drained."""

    name = "stream_upsert"
    events = 40_000
    users = 2_000
    files = 6

    def generate(self, out_dir: str) -> None:
        self.data = out_dir
        self.truth = gen.keyed_events(self.seed, out_dir, self.events, self.users)
        self.drains = 0
        self.tables: list[str] = []
        self.listener = tracing.TriggerListener(self.spark)

    def stage(self, out_dir: str) -> None:
        from datalake_breweries_two_spark.streaming import windows

        events = self.spark.read.parquet(os.path.join(self.data, "events.parquet"))
        t0 = time.perf_counter()
        self.stream = windows.stage_keyed_micro_batches(
            self.spark, events, "event_id", os.path.join(out_dir, "staged"),
            n_slices=self.files, files_per_trigger=1,
        )
        self.extra["streaming.stage_s"] = time.perf_counter() - t0

    def warmup(self, traced_run: bool) -> None:
        from datalake_breweries_two_spark.streaming import windows

        events = self.spark.read.parquet(os.path.join(self.data, "events.parquet"))
        warm = windows.stage_keyed_micro_batches(
            self.spark, events.limit(2000), "event_id",
            os.path.join(self.tmp, "warm_staged"), n_slices=2, files_per_trigger=1,
        )
        self._drain(warm, os.path.join(self.tmp, "warm_table"))

    def _drain(self, stream, root: str) -> None:
        from pyspark.sql import functions as F

        from datalake_breweries_two_spark.streaming import sinks

        agg = stream.groupBy("user_id").agg(
            F.count("event_id").alias("n"), F.sum("value").alias("total")
        )
        self.drains += 1
        self.listener.reset()
        sinks.stream_upsert_versioned(
            self.spark, agg, root, ["user_id"], query_name=f"perfbench_upsert_{self.drains}"
        )
        self.listener.wait_terminated()

    def run(self, deadline: float, alternate: bool = False) -> Measurement:
        """One drain of the staged backlog; with ``alternate`` a traced and
        then another untraced drain of the same files into fresh tables
        follow, so the drift between drains falls on both sides. Each trigger
        is one operation, timed by its ``triggerExecution``."""
        m = Measurement()
        for traced in (False, True, False) if alternate else (False,):
            root = os.path.join(self.tmp, f"table{len(self.tables)}")
            self.tables.append(root)
            self.tracer.enabled = traced
            with self.tracer.span("op"):
                t0 = time.time()
                self._drain(self.stream, root)
                m.busy = (t0, time.time())
            self.tracer.enabled = False
            for p in self.listener.progress:
                start = p["start"]
                m.add((start, start + p["triggerExecution"] / 1000.0), self.name, traced,
                      p["numInputRows"])
            if traced:
                self.progress = list(self.listener.progress)
        return m

    def instrument(self, tracer) -> None:
        from datalake_breweries_two_spark.streaming import sinks

        def published(args, kwargs, result):
            n, size = files_and_bytes(os.path.join(args[1], result))
            tracer.counters["lake.files_written"] += n
            tracer.counters["lake.bytes_written"] += size
            tracer.counters["streaming.sink_bytes_written"] += size
            tracer.counters["lake.versions_published"] += 1

        # foreachBatch runs on the stream's thread, whose job group belongs
        # to the streaming query: these spans record time only
        tracer.wrap(sinks, "read_versioned", "lake.read", job_group=False)
        tracer.wrap(sinks, "merge_upsert", "lake.merge", job_group=False)
        tracer.wrap(sinks, "write_versioned", "lake.write", job_group=False, after=published)
        tracer.wrap(sinks, "vacuum_versions", "lake.vacuum", job_group=False)

    def check(self) -> None:
        from datalake_breweries_two_spark.sources.lake import read_versioned

        for root in self.tables:
            rows = read_versioned(self.spark, root).select("user_id", "n", "total").collect()
            self.record(checks.check_totals([tuple(r) for r in rows], self.truth))


WORKLOADS = {w.name: w for w in (LakeIngest, InteractiveSql, CorpusDedup, StreamUpsert)}
