"""Traced run: per-layer self times from a cumulative ladder, and Spark task
metrics from the event log, folded per job group.

Spark is lazy, so a span around a transformation measures nothing.  Each
ladder rung builds the pipeline up to one more layer (with the program's own
modules) and forces it with a ``noop`` write; a layer's self time is the
difference between consecutive rung medians.  The CLI call is then run with
bench-side wrappers that tag its jobs by the layer that submitted them
(``setJobGroup``), right after the same call without them; the event log is
on throughout.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time

import harness
import reference

#: ladder passes per rung; the median drops a first pass that still pays
#: JIT compilation for the rung's new code
REPS = 3


def _ladder(spark, workload: str, meta: dict, spec):
    """``[(rung name, zero-arg DataFrame builder)]``, cumulative."""
    from dbc_informed_socketcan_to_parquet_spark.functions.candump import parse_candump_lines
    from dbc_informed_socketcan_to_parquet_spark.operators.bucket import bucket_downsample
    from dbc_informed_socketcan_to_parquet_spark.operators.ffill import forward_fill_blocks
    from dbc_informed_socketcan_to_parquet_spark.plans.pipeline import DecodePipeline, PipelineConfig
    from dbc_informed_socketcan_to_parquet_spark.sources.candump import read_candump

    _, _, _, cache_ms, ffill = harness.WORKLOADS[workload]
    cfg = PipelineConfig(dbc_path=meta["dbc"], input_path=meta["log"], cache_ms=cache_ms, forward_fill=ffill)
    sig_cols = [s.column_name for _, s in spec.all_signals()]
    decoded = lambda: DecodePipeline(cfg, spec).decoded(spark)  # noqa: E731
    rungs = [
        ("read", lambda: spark.read.text(meta["log"])),
        ("parse", lambda: parse_candump_lines(spark.read.text(meta["log"]))),
        ("normalize", lambda: read_candump(spark, meta["log"])),
        ("decode", decoded),
    ]
    if cache_ms > 0:
        bucketed = lambda: bucket_downsample(decoded(), cache_ms, signal_cols=sig_cols)  # noqa: E731
        rungs.append(("bucket", bucketed))
        if ffill:
            rungs.append(("ffill", lambda: forward_fill_blocks(bucketed(), "Time_ms", sig_cols)))
    # run_batch without an output path returns the final ordered frame
    rungs.append(("plan", lambda: DecodePipeline(cfg, spec).run_batch(spark)))
    return rungs


class _Tags:
    """Bench-side wrappers: tag the CLI call's jobs with the layer that
    submitted them and time ``DecodePipeline.run_batch``."""

    def __init__(self, spark):
        from dbc_informed_socketcan_to_parquet_spark.plans import pipeline

        self.sc, self.pipeline = spark.sparkContext, pipeline
        self.run_batch_s = 0.0

    def __enter__(self) -> "_Tags":
        p, tags = self.pipeline, self
        orig_run, orig_write = p.DecodePipeline.run_batch, p.write_parquet

        def run_batch(pipe, spark):
            tags.sc.setJobGroup("call.plans.pipeline.run_batch", "run_batch")
            t = time.perf_counter()
            out = orig_run(pipe, spark)
            tags.run_batch_s = time.perf_counter() - t
            tags.run_batch_end = time.perf_counter()
            # everything main does after run_batch returns: the recount
            tags.sc.setJobGroup("call.__main__.post_write", "post_write")
            return out

        def write_parquet(*a, **k):
            tags.sc.setJobGroup("call.sinks.write_parquet", "write_parquet")
            try:
                return orig_write(*a, **k)
            finally:
                tags.sc.setJobGroup("call.plans.pipeline.run_batch", "run_batch")

        self._orig = orig_run, orig_write
        p.DecodePipeline.run_batch, p.write_parquet = run_batch, write_parquet
        self.sc.setJobGroup("call.__main__", "main")
        return self

    def __exit__(self, *exc) -> None:
        self.pipeline.DecodePipeline.run_batch, self.pipeline.write_parquet = self._orig
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def fold_event_log(path: str) -> dict:
    """Per job group: jobs, stages, tasks, executor CPU, shuffle write,
    spill, input bytes and job intervals (epoch ms)."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    starts: dict[int, int] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {"jobs": 0, "stages": 0, "tasks": 0, "cpu_ns": 0, "shuffle_write": 0,
                                        "spill": 0, "input_bytes": 0, "intervals": []})

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                name = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                job_group[ev["Job ID"]] = name
                starts[ev["Job ID"]] = ev["Submission Time"]
                g(name)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, name)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                g(job_group[jid])["intervals"].append((starts[jid], ev["Completion Time"]))
            elif kind == "SparkListenerStageCompleted":
                g(stage_group.get(ev["Stage Info"]["Stage ID"], "untagged"))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                rec = g(stage_group.get(ev["Stage ID"], "untagged"))
                m = ev.get("Task Metrics") or {}
                rec["tasks"] += 1
                rec["cpu_ns"] += m.get("Executor CPU Time", 0)
                rec["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                rec["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                rec["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return groups


def _busy_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of job intervals."""
    busy, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            busy += b - a
            end = b
        elif b > end:
            busy += b - end
            end = b
    return busy


def run(workload: str, meta: dict, check) -> tuple[dict, int, int]:
    """Traced run; returns (per-layer metrics, calls attempted, calls failed).
    ``check(out_dir, stdout)`` is the run's output check."""
    import dbc_informed_socketcan_to_parquet_spark.__main__ as cli
    from dbc_informed_socketcan_to_parquet_spark.dbc.parser import parse_dbc
    from dbc_informed_socketcan_to_parquet_spark.session import get_spark

    out_dir = os.path.join(harness.CACHE, "out", f"{workload}-{os.getpid()}")
    argv = harness.cli_argv(workload, meta, out_dir)
    attempted = failed = 0

    def call() -> float:
        nonlocal attempted, failed
        buf = io.StringIO()
        attempted += 1
        t = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            cli.main(argv)
        wall = time.perf_counter() - t
        failed += not check(out_dir, buf.getvalue())
        return wall

    ev_dir = os.path.join(harness.CACHE, "eventlog", str(os.getpid()))
    os.makedirs(ev_dir, exist_ok=True)
    spark = get_spark("dbc-decode-cli", extra_conf=harness.spark_conf({
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + ev_dir,
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
    }))
    sc = spark.sparkContext

    parse_times = []
    for _ in range(5):
        t = time.perf_counter()
        spec = parse_dbc(meta["dbc"])
        parse_times.append(time.perf_counter() - t)

    rung_s: dict[str, float] = {}
    counts: dict[str, int] = {}
    rungs = _ladder(spark, workload, meta, spec)
    for name, build in rungs:
        times = []
        sc.setJobGroup(f"ladder.{name}", name)
        for _ in range(REPS):
            t = time.perf_counter()
            df = build()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        rung_s[name] = harness.median(times)
        sc.setJobGroup("counts", "untimed row counts")
        counts[name] = df.count()

    sc.setLocalProperty("spark.jobGroup.id", None)
    untraced_wall = call()  # no wrappers, no job group
    with _Tags(spark) as tags:
        t0 = time.perf_counter()
        traced_wall = call()
        post_write_s = t0 + traced_wall - tags.run_batch_end
    files = reference.output_files(out_dir)
    sink_bytes = sum(os.path.getsize(f) for f in files)
    harness.stop_spark(spark)  # also flushes the event log
    shutil.rmtree(out_dir, ignore_errors=True)

    (log_name,) = os.listdir(ev_dir)
    groups = fold_event_log(os.path.join(ev_dir, log_name))
    shutil.rmtree(ev_dir, ignore_errors=True)
    call_groups = [v for k, v in groups.items() if k.startswith("call.")]
    total = {k: sum(v[k] for v in call_groups) for k in ("jobs", "stages", "tasks", "cpu_ns",
                                                          "shuffle_write", "spill", "input_bytes")}
    intervals = [iv for v in call_groups for iv in v["intervals"]]

    def ladder_shuffle(name: str) -> float:
        """Shuffle bytes one pass of a rung writes."""
        return groups.get(f"ladder.{name}", {}).get("shuffle_write", 0) / REPS

    prev = {"parse": "read", "normalize": "parse", "decode": "normalize", "bucket": "decode", "ffill": "bucket"}
    self_s = {name: rung_s[name] - rung_s.get(prev.get(name), 0.0) for name in rung_s if name != "plan"}
    last_layer = [n for n, _ in rungs][-2]
    parse_dbc_s = harness.median(parse_times)
    run_batch_s = tags.run_batch_s
    write_s = run_batch_s - rung_s["plan"]
    order_s = rung_s["plan"] - rung_s[last_layer]
    attributed = sum(self_s.values()) + order_s + write_s + post_write_s + parse_dbc_s
    metrics = {
        "dbc.parser.parse_dbc_s": (parse_dbc_s, "s"),
        "dbc.parser.signals": (len(spec.all_signals()), "count"),
        "sources.candump.read_s": (self_s["read"], "s"),
        "functions.candump.parse_s": (self_s["parse"], "s"),
        "functions.candump.rows_in": (counts["read"], "count"),
        "functions.candump.rows_out": (counts["parse"], "count"),
        "functions.candump.yield": (counts["parse"] / counts["read"], "ratio"),
        "sources.candump.normalize_s": (self_s["normalize"], "s"),
        "dbc.compiler.decode_s": (self_s["decode"], "s"),
        "dbc.compiler.rows_out": (counts["decode"], "count"),
        "dbc.compiler.known_id_yield": (counts["decode"] / counts["parse"], "ratio"),
        "operators.bucket.bucket_s": (self_s.get("bucket", 0.0), "s"),
        "operators.bucket.rows_out": (counts.get("bucket", counts["decode"]), "count"),
        "operators.bucket.shuffle_write_bytes": (ladder_shuffle("bucket") - ladder_shuffle("decode") if "bucket" in rung_s else 0.0, "B"),
        "operators.ffill.ffill_s": (self_s.get("ffill", 0.0), "s"),
        "operators.ffill.shuffle_write_bytes": (ladder_shuffle("ffill") - ladder_shuffle("bucket") if "ffill" in rung_s else 0.0, "B"),
        "plans.pipeline.order_s": (order_s, "s"),
        "sinks.write_s": (write_s, "s"),
        "sinks.files": (len(files), "count"),
        "sinks.bytes": (sink_bytes, "B"),
        "plans.pipeline.run_batch_s": (run_batch_s, "s"),
        "__main__.post_write_s": (post_write_s, "s"),
        "spark.jobs": (total["jobs"], "count"),
        "spark.stages": (total["stages"], "count"),
        "spark.tasks": (total["tasks"], "count"),
        "spark.driver_gap_s": (traced_wall - _busy_ms(intervals) / 1000.0, "s"),
        "spark.executor_cpu_s": (total["cpu_ns"] / 1e9, "s"),
        "spark.shuffle_write_bytes": (total["shuffle_write"], "B"),
        "spark.spill_bytes": (total["spill"], "B"),
        "spark.input_bytes_ratio": (total["input_bytes"] / meta["log_bytes"], "ratio"),
        "trace.wall_s": (traced_wall, "s"),
        "trace.untraced_wall_s": (untraced_wall, "s"),
        "trace.overhead_s": (traced_wall - untraced_wall, "s"),
        "trace.unattributed_s": (traced_wall - attributed, "s"),
    }
    return metrics, attempted, failed
