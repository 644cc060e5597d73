"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``workloads.py``) on one ``local[N]`` session, N = the
CPUs this process may use, from the root of a source checkout. The run sets
up (session start, input staging, warm-up), measures for ``--seconds``,
checks every output outside the timed region, and prints the metrics as one
JSON object on the last line of standard output. With ``--trace 0`` those
are the end-to-end metrics; with ``--trace 1`` traced and untraced rounds
alternate (for the stream: an untraced, a traced and another untraced
drain), and the metrics are the per-layer numbers of the traced rounds plus
the tracing overhead, traced against untraced. Exit code 0 only when every
output was right.
"""

from __future__ import annotations

import time

_T_START_WALL = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "datalake_breweries_two_spark"
STAGE_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_latency_s": "s",
    "rows_per_s": "rows/s",
}

# name -> unit; "/op" values are per measured operation (a query, a
# pipeline run, a dedup pass, a streaming trigger)
PER_LAYER = {
    "session.build_s": "s",
    "catalog.load_s": "s/op",
    "entry_queries.build_s": "s/op",
    "entry_queries.build_jobs": "1/op",
    "entry_queries.build_py4j_calls": "1/op",
    "spark.plan_s": "s/op",
    "spark.collect_s": "s/op",
    "spark.jobs": "1/op",
    "spark.stages": "1/op",
    "spark.tasks": "1/op",
    "spark.scheduler_delay_s": "s/op",
    "spark.action_s": "s/op",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "spark.shuffle_read_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "lake.read_s": "s/op",
    "lake.write_s": "s/op",
    "lake.merge_s": "s/op",
    "lake.vacuum_s": "s/op",
    "lake.bytes_written": "B/op",
    "lake.files_written": "1/op",
    "lake.versions_published": "1/op",
    "lake.bytes_per_input_byte": "ratio",
    "quality.gate_s": "s/op",
    "advisor.audit_s": "s/op",
    "medallion.self_s": "s/op",
    "dedup.exact_s": "s/op",
    "dedup.near_s": "s/op",
    "dedup.components_s": "s/op",
    "dedup.components_jobs": "1/op",
    "dedup.decontaminate_s": "s/op",
    "dedup.candidate_pairs": "1/op",
    "dedup.confirmed_pairs": "1/op",
    "dedup.pair_yield": "ratio",
    "dedup.near_dup_recall": "ratio",
    "similarity.index_build_s": "s/op",
    "similarity.search_s": "s/op",
    "streaming.stage_s": "s",
    "streaming.triggers": "count",
    "streaming.add_batch_s": "s/op",
    "streaming.wal_commit_s": "s/op",
    "streaming.commit_offsets_s": "s/op",
    "streaming.query_planning_s": "s/op",
    "streaming.state_commit_s": "s/op",
    "streaming.sink_bytes_written": "B/op",
    "trace.ops": "count",
    "trace.unattributed_s": "s/op",
    "trace.overhead_frac": "ratio",
}

# span name -> per-layer self-time metric
SPAN_METRICS = {
    "catalog.load": "catalog.load_s",
    "entry_queries.build": "entry_queries.build_s",
    "spark.plan": "spark.plan_s",
    "spark.action": "spark.collect_s",
    "lake.merge": "lake.merge_s",
    "lake.vacuum": "lake.vacuum_s",
    "lake.read": "lake.read_s",
    "lake.write": "lake.write_s",
    "quality.gate": "quality.gate_s",
    "advisor.audit": "advisor.audit_s",
    "medallion": "medallion.self_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.near": "dedup.near_s",
    "dedup.components": "dedup.components_s",
    "dedup.decontaminate": "dedup.decontaminate_s",
    "similarity.index_build": "similarity.index_build_s",
    "similarity.search": "similarity.search_s",
    "op": "trace.unattributed_s",
}

# StreamingQueryListener durationMs key -> per-trigger metric
TRIGGER_METRICS = {
    "addBatch": "streaming.add_batch_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
    "queryPlanning": "streaming.query_planning_s",
    "stateCommitMs": "streaming.state_commit_s",
}


def per_kind_medians(lat: list[float], kinds: list[str]) -> dict[str, float]:
    """kind -> median latency of its operations."""
    return {k: statistics.median(x for x, kk in zip(lat, kinds) if kk == k)
            for k in sorted(set(kinds))}


def reset_hwm() -> None:
    """Restart this process's peak-RSS count (Linux ``clear_refs`` 5), so the
    input generators' frames stay out of ``peak_rss_mb``."""
    gc.collect()
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def session_conf(tmp: str, trace: bool) -> dict[str, str]:
    """Keep every file the session writes inside the run's own directory."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        # a fixed heap and young generation: G1's adaptive sizing otherwise
        # moves the resident set by +-15% between identical runs
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -Xms2g "
            "-XX:+UnlockExperimentalVMOptions -XX:G1NewSizePercent=20 "
            "-XX:G1MaxNewSizePercent=20"
        ),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
    return conf


def tracing_overhead(lat: list[float], kinds: list[str], traced: list[bool]) -> float:
    """Median over kinds of (traced median / untraced median) - 1."""
    ratios = []
    for k in sorted(set(kinds)):
        t = [x for x, kk, f in zip(lat, kinds, traced) if kk == k and f]
        u = [x for x, kk, f in zip(lat, kinds, traced) if kk == k and not f]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return statistics.median(ratios) - 1.0


def layer_metrics(tracer, w, spark_stats, ops, overhead, session_s) -> dict[str, float]:
    """Per-layer numbers of the traced operations, per operation."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    for name, secs in tracer.layer_times().items():
        if name in SPAN_METRICS:
            m[SPAN_METRICS[name]] += secs / ops
    by_sid = {s.sid: s for s in tracer.spans}

    def under(sid: int, name: str) -> bool:
        while sid is not None:
            if by_sid[sid].name == name:
                return True
            sid = by_sid[sid].parent
        return False

    span_of_group = {s.group: s.sid for s in tracer.spans if s.group}
    for group in spark_stats.pop("job_groups"):
        sid = span_of_group.get(group)
        if sid is not None and under(sid, "entry_queries.build"):
            m["entry_queries.build_jobs"] += 1 / ops
        if sid is not None and under(sid, "dedup.components"):
            m["dedup.components_jobs"] += 1 / ops
    m["entry_queries.build_py4j_calls"] = sum(
        s.py4j_calls for s in tracer.spans if under(s.sid, "entry_queries.build")
    ) / ops
    for key, value in spark_stats.items():
        m[f"spark.{key}"] = value / ops
    for key, value in tracer.counters.items():
        m[key] = value / ops
    if tracer.counters.get("dedup.candidate_pairs"):
        m["dedup.pair_yield"] = (
            tracer.counters["dedup.confirmed_pairs"] / tracer.counters["dedup.candidate_pairs"]
        )
    progress = getattr(w, "progress", [])
    if progress:
        m["streaming.triggers"] = len(progress)
        for key, metric in TRIGGER_METRICS.items():
            m[metric] = sum(p.get(key, 0) for p in progress) / 1000.0 / len(progress)
    m.update(w.extra)
    m["session.build_s"] = session_s
    m["trace.ops"] = ops
    m["trace.overhead_frac"] = overhead
    return m


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def bench(args, tmp: str) -> tuple[dict, bool]:
    sys.path.insert(0, ROOT)
    from datalake_breweries_two_spark.session import build_session

    import tracing
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    t_session = time.time()
    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=session_conf(tmp, args.trace),
        quiet_bounded_window_warn=True,
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_ready = time.time()
        tracer = tracing.Tracer(spark, enabled=False)
        w = WORKLOADS[args.workload](spark, tmp, args.seed, tracer)

        # writing the inputs is the benchmark's work, not the program's: it
        # stays out of setup_s and, through reset_hwm, out of peak_rss_mb
        inputs = os.path.join(tmp, "inputs")
        os.makedirs(inputs)
        t0 = time.time()
        w.generate(inputs)
        gen_s = time.time() - t0
        reset_hwm()
        stage = []
        for rep in range(STAGE_REPS):
            out = os.path.join(tmp, f"staged{rep}")
            os.makedirs(out)
            t0 = time.time()
            w.stage(out)
            stage.append(time.time() - t0)
            if rep:
                shutil.rmtree(os.path.join(tmp, f"staged{rep - 1}"))
        t0 = time.time()
        w.warmup(bool(args.trace))
        warm_s = time.time() - t0
        session_s = session_ready - _T_START_WALL
        setup_s = session_s + statistics.median(stage) + warm_s
        print(f"# setup: session {session_s:.2f} s, staging "
              f"{', '.join(f'{x:.2f}' for x in stage)} s, warm-up {warm_s:.2f} s; "
              f"total {setup_s:.2f} s (input generation {gen_s:.2f} s, not counted)")

        if args.trace:
            w.instrument(tracer)
            tracer.count_py4j()
        try:
            m = w.run(time.time() + args.seconds, args.trace)
        finally:
            tracer.restore()
        lat = [t1 - t0 for t0, t1 in m.intervals]
        # each kind counts once, by its median, so the order of kinds does
        # not move the statistic; the geometric mean moves with every kind,
        # not only the middle one
        kinds = per_kind_medians(lat, m.kinds)
        op_latency = statistics.geometric_mean(kinds.values())
        rows_per_s = sum(m.rows) / (m.busy[1] - m.busy[0])
        print(f"# median latency per kind: "
              f"{', '.join(f'{k} {med:.4f}' for k, med in kinds.items())}")

        try:
            w.check()
        except Exception:  # a crashed check is a failed output, not a crash
            traceback.print_exc()
            w.record(["output check raised"])
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    finally:
        stop_spark(spark)

    if not args.trace:
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "op_latency_s": op_latency,
            "rows_per_s": rows_per_s,
        }
        units = END_TO_END
    else:
        windows = tracer.windows()
        stats = tracing.spark_totals(
            tracing.read_event_log(os.path.join(tmp, "eventlog")),
            lambda group, t: any(lo <= t <= hi for lo, hi in windows),
        )
        values = layer_metrics(tracer, w, stats, sum(m.traced),
                               tracing_overhead(lat, m.kinds, m.traced),
                               session_ready - t_session)
        units = PER_LAYER
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))

    for msg in w.failures:
        print(f"FAILED: {msg}")
    print(f"# latencies: {' '.join(f'{x:.3f}' for x in lat)}")
    print(f"# {args.workload} seed={args.seed} ops={len(lat)} attempted={w.attempted} "
          f"failed={w.failed} failed_frac={w.failed / max(1, w.attempted):.4f}")
    for k in units:
        print(f"{k} = {values[k]:.6g} {units[k]}")
    ok = w.failed == 0 and w.attempted > 0
    return {
        "correct": ok,
        "attempted": max(1, w.attempted),
        "failed": w.failed if w.attempted else 1,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }, ok


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to {os.path.basename(HERE)}/; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    tempfile.tempdir = tmp
    try:
        result, ok = bench(args, tmp)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still owns a directory there
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
