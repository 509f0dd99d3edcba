"""Spark Connect posture — proven by execution where possible, pinned by
static analysis everywhere.

SURVEY §10 claims no operator path requires a classic-only API (every
``sparkContext`` / ``_jdf`` touch is a guarded fast path with a Connect
fallback).  Two gates:

1. ``test_connect_full_registry`` EXECUTES all 50 driver queries + the
   EXTRA registry under a real Spark Connect session
   (``SparkSession.builder.remote("local[...]")`` — client and server in
   one spawn).  The Connect Python client needs ``grpcio`` +
   ``googleapis-common-protos``; this container ships the server-side
   jar (``spark-connect_2.13-4.1.2.jar``) but not the client wheels and
   installs are off-limits, so the test importorskips on ``grpc`` and
   runs green in any environment that has it (`pip install
   "pyspark[connect]"`).  It runs the sweep in a SUBPROCESS because a
   classic SparkContext (the session fixture) and a Connect session
   cannot coexist in one driver process.

2. ``test_no_unguarded_classic_api`` runs HERE, always: an AST sweep of
   the package for classic-only attribute access (``sparkContext``,
   ``_jdf``, ``_jsc``, ``_jvm``, ``.rdd``) asserting every site sits in
   the closed allowlist of functions audited to carry a Connect guard
   (try/except AttributeError or an explicit remote probe).  A new
   classic-API touch anywhere else fails this test by name.
"""

from __future__ import annotations

import ast
import pathlib
import subprocess
import sys

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "dbc_informed_socketcan_to_parquet_spark"

#: (relative module path, enclosing function) pairs audited to guard their
#: classic-API use with a Connect fallback.  Keep CLOSED: extend only with
#: an in-code guard + a note here.
GUARDED_SITES = {
    # try/except AttributeError → server-side log level is skipped
    ("session.py", "get_spark"),
    # hasattr(df, "_jdf") / spark.remote probe → unconditional repartition
    ("functions/partitioning.py", "fan_out"),
    # try sparkContext except AttributeError → closure-capture bitmap
    ("operators/dedup.py", "dedup_against_corpus"),
    # try sparkContext except AttributeError → closure-capture domain set
    ("operators/urlops.py", "domain_filter"),
    # try sparkContext except AttributeError → closure-capture model dicts
    # (shared by lm/classifier/langid rowlocal scorers, r7)
    ("operators/textops.py", "_broadcast_getter"),
    # try sparkContext.applicationId except → id(spark) (Connect keys the
    # model-getter cache by session object identity; getters there hold
    # closures, not broadcasts, so staleness is a memory concern only)
    ("operators/textops.py", "_ctx_key"),
    # try sparkContext.getCheckpointDir except → localCheckpoint fallback
    # (r13: reliable-checkpoint upgrade only exists on classic sessions)
    ("functions/checkpoints.py", "durable_checkpoint"),
    # hasattr(df, "_jdf") → plain df.selectExpr (Connect batches the list)
    ("dbc/compiler.py", "_select_sql"),
}

CLASSIC_ATTRS = {"sparkContext", "_jdf", "_jsc", "_jvm", "rdd"}


def _classic_sites():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())
        # map line -> innermost enclosing function name
        func_spans: list[tuple[int, int, str]] = []
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func_spans.append((node.lineno, node.end_lineno or node.lineno, node.name))
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in CLASSIC_ATTRS:
                enclosing = "<module>"
                best = 0
                for lo, hi, name in func_spans:
                    if lo <= node.lineno <= hi and lo > best:
                        best, enclosing = lo, name
                found.add((rel, enclosing))
    return found


def test_no_unguarded_classic_api():
    sites = _classic_sites()
    unguarded = sites - GUARDED_SITES
    assert not unguarded, (
        "classic-only Spark API outside the audited Connect-guarded "
        f"allowlist: {sorted(unguarded)} — add a Connect fallback and list "
        "the site in tests/test_connect.py::GUARDED_SITES"
    )
    # the allowlist itself must not go stale
    assert GUARDED_SITES <= sites, f"stale allowlist entries: {GUARDED_SITES - sites}"


_CONNECT_SWEEP = r"""
import os, sys
sys.path.insert(0, {repo!r})
os.chdir({repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.remote("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .appName("connect-posture")
    .getOrCreate()
)
from dbc_informed_socketcan_to_parquet_spark.queries import (
    EXTRA_QUERIES, QUERIES,
)

SF = "/root/testdata/sf0.001"
failed = []
for name, fn in sorted({{**QUERIES, **EXTRA_QUERIES}}.items()):
    try:
        n = fn(spark, SF).count()
        assert n >= 0
    except Exception as e:  # noqa: BLE001 — report, keep sweeping
        failed.append((name, repr(e)[:200]))
print("RAN", len(QUERIES) + len(EXTRA_QUERIES) - len(failed))
if failed:
    for name, err in failed:
        print("FAIL", name, err)
    sys.exit(1)
spark.stop()
print("CONNECT_SWEEP_OK")
"""


def test_connect_full_registry():
    pytest.importorskip("grpc", reason="Spark Connect client (grpcio) not installed")
    repo = str(PKG.parent)
    proc = subprocess.run(
        [sys.executable, "-c", _CONNECT_SWEEP.format(repo=repo)],
        capture_output=True,
        text=True,
        timeout=1700,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout[-4000:]}\nstderr:\n{proc.stderr[-2000:]}"
    assert "CONNECT_SWEEP_OK" in proc.stdout
