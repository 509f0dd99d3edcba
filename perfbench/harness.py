"""Shared plumbing: workloads, the pinned run environment, seeded input
cache, process-tree accounting from /proc, and JVM shutdown."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import gen
import reference

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
PACKAGE = "dbc_informed_socketcan_to_parquet_spark"
#: Bump when the generator or the reference changes, so cached inputs and
#: expected summaries are rebuilt.
INPUT_VERSION = 2

#: name -> (DBC text factory, log lines, CLI flags, cache ms, ffill)
WORKLOADS = {
    "can_narrow_c10_ffill": (lambda: gen.NARROW_DBC, 20_000, ["--cache", "10", "--forward-fill"], 10.0, True),
    "can_wide_rows": (gen.wide_dbc, 8_000, [], 0.0, False),
}


def pin_environment() -> None:
    """Environment every Spark process of the benchmark inherits."""
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # local mode: driver and executors share this one heap; the program's
    # 24g default exceeds the RAM of a small host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    # HotSpot writes perf counters under /tmp unless told not to
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf(extra: dict[str, str] | None = None) -> dict[str, str]:
    """``get_spark(extra_conf=...)`` keeping every file inside the checkout."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(CACHE, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
    }
    conf.update(extra or {})
    return conf


def inputs(workload: str, seed: int) -> dict:
    """Generated DBC + candump log and the reference's expected summary,
    built once per (workload, seed) and reused; generation is untimed."""
    make_dbc, n_lines, _, cache_ms, ffill = WORKLOADS[workload]
    d = os.path.join(CACHE, "inputs", f"v{INPUT_VERSION}-{workload}-{n_lines}-{seed}")
    meta_path = os.path.join(d, "expected.json")
    if not os.path.exists(meta_path):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        dbc_text = make_dbc()
        lines = gen.candump_lines(seed, n_lines, gen.message_ids(dbc_text))
        _, log_path = gen.write_inputs(tmp, dbc_text, lines)
        expected = reference.summarize(reference.decode(dbc_text, log_path, cache_ms, ffill))
        meta = {"expected": expected, "types": reference.expected_types(dbc_text, cache_ms),
                "n_lines": n_lines, "log_bytes": os.path.getsize(log_path)}
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(meta, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["dbc"] = os.path.join(d, "bus.dbc")
    meta["log"] = os.path.join(d, "capture.log")
    return meta


def cli_argv(workload: str, meta: dict, out_dir: str) -> list[str]:
    return [meta["dbc"], "--if", meta["log"], "--of", out_dir, *WORKLOADS[workload][2]]


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


# -- /proc accounting --------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields from 3 (state) on


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """utime + stime, own and of reaped children, summed over ``pids``."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_peak_rss_bytes(pids: list[int]) -> int:
    """Sum of each process's peak RSS since it started (``VmHWM``)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += next((int(ln.split()[1]) * 1024 for ln in fh if ln.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return total


class CallMeter:
    """Wall time and CPU seconds of this process's descendants (the JVM and
    its Python workers) over one call.  /proc is read only at the edges: a
    polling thread would compete for the interpreter lock with the
    driver-side Py4J calls being measured."""

    def __enter__(self) -> "CallMeter":
        self._pids = descendants()
        self._cpu0 = tree_cpu_s(self._pids)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.pids = sorted(set(self._pids) | set(descendants()))
        self.cpu_s = tree_cpu_s(self.pids) - self._cpu0


# -- host evidence -----------------------------------------------------------

def cpu_probe_ms() -> float:
    """Best of 5 timings of a fixed single-thread loop; evidence only."""
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        best = min(best, time.perf_counter() - t)
    return best * 1000.0


def stop_spark(spark) -> None:
    """Stop the session, close the Py4J gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
