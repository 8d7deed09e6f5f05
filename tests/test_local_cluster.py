"""Multi-executor shuffle validation — the one scale claim local[n]
cannot make: local[n] threads share one JVM and one block manager, so
"the shuffle works" is never actually exercised across process
boundaries.  ``local-cluster[2,4,1024]`` spawns two REAL executor
JVMs with real block-manager shuffle, remote broadcast distribution,
per-executor Python/Arrow worker pools, and remote localCheckpoint
blocks.  This test runs one representative query per physical path on
that mini-cluster and hash-compares each against the DuckDB oracle —
identical results under real multi-JVM execution.

Runs in a SUBPROCESS: pytest's session fixture owns the in-process
JVM gateway, and one process can hold only one SparkContext."""

from __future__ import annotations

import os
import subprocess
import sys

# One query per distinct physical path crossing executor boundaries:
CLUSTER_QUERIES = [
    "q11_hash_agg",  # map-side partial agg -> real exchange
    "q07_broadcast_dim_join",  # broadcast shipped to a REMOTE executor
    "q06_inner_join",  # shuffle hash join across JVMs
    "dedup_minhash_lsh_pairs",  # wide explode/groupBy shuffle
    "graph_scc",  # per-round localCheckpoint blocks on remote executors
    "udf_grouped_zscore",  # Arrow Python workers per executor JVM
    "rel_gaps_islands",  # window over a real hash partitioning
    "skew_salted_join",  # salted join spread across executors
    "stream_windowed_counts",  # streaming state stores on remote executors
    "graph_betweenness",  # 6-round checkpointed BFS state across JVMs
    "graph_mst",  # matrix-squaring loop: each round references the
    # previous matrix TWICE, so per-round localCheckpoint is the only
    # thing preventing 2^rounds recomputation — exercises checkpoint
    # block cleanup under real remote block managers (VERDICT r7#6)
    "graph_hits",  # broadcast-hinted joins against checkpointed
    # (stats-free ExistingRDD) state: the explicit F.broadcast must
    # ship the edge list to REMOTE executors every round
    "src_python_datasource",  # Spark 4 Python DataSource: the reader
    # classes must cloudpickle to REMOTE executor python workers and
    # each executor must read only its declared partitions
    "graph_random_walks",  # r9: unrolled broadcast-join hops whose
    # step windows all reuse ONE (start, walk) exchange — the
    # exchange-reuse claim exercised under real cross-JVM shuffle
    "dedup_url_quota",  # r9: two stacked windows on one preserved
    # hashpartitioning(source) — partitioning-preservation across a
    # filter must hold on REAL executors, not just local[n]
    "snap_skipping_audit",  # r10: two branches (probe grid + audit
    # join) of ONE persisted manifest, joined via
    # BroadcastNestedLoopJoin — cache-block reads and a broadcast
    # CROSS join must resolve on REMOTE block managers
    "stream_cusum",  # r10: applyInPandasWithState — STATEFUL Arrow
    # workers with per-partition state stores on remote executors
    # (distinct from udf_grouped_zscore's stateless Arrow lane and
    # stream_windowed_counts' JVM state store)
    "src_bucketed_join",  # r10: bucketed CLUSTERED BY table attach +
    # zero-exchange co-located join — bucket-aware scan planning must
    # hold when the buckets are read by two separate executor JVMs
    "dedup_canonical_snapshot",  # r10: SnapshotTable write-audit-
    # publish on a FRESH store (the driver pins a tmp
    # SPARK_GRAFT_SNAPSHOT_DIR): the component-label table is
    # computed (checkpointed label propagation), committed by REAL
    # distributed executors, then read back and joined — the WAP
    # commit protocol across two JVMs
    "ns_preference_pairs",  # r11: two row_number windows AND the
    # pair groupBy all riding ONE preserved hashpartitioning — the
    # conditional-aggregation-on-window-output variant of the
    # dedup_url_quota partitioning-preservation claim, on real JVMs
    "snap_vacuum_plan",  # r12: the exploded reference table persisted
    # once and read by TWO aggregation branches — cache blocks must
    # resolve from remote block managers for both consumers
    "ml_quantile_reg",  # r12: 25 conditional aggregates in one
    # map-side-combined corpus pass, then stack+argmin window on a
    # real cross-JVM exchange
    "ns_rejection_sample",  # r12: best-of-pool window + prompt groupBy
    # on one preserved hashpartitioning — keeps the 2-JVM oracle
    # coverage the op had while pending (review follow-up)
    "rel_did",  # r12: broadcast midpoint scalar shipped cross-JVM
    # into the cell rollup
    "rel_mann_kendall",  # r12: grid self-join + signed pair sums
    # under real cross-JVM task ordering
]

_DRIVER = r"""
import os, sys, tempfile
sys.path.insert(0, {repo!r})
sys.path.insert(0, {repo_tests!r})
# A fresh snapshot store per run: snapshot-publishing queries must
# build + COMMIT their table via the real distributed write path, not
# reuse a snapshot some earlier local session already published.
os.environ["SPARK_GRAFT_SNAPSHOT_DIR"] = tempfile.mkdtemp(prefix="snap-cluster-")
# Executor python workers are SEPARATE processes in local-cluster
# (unlike local[n], which masks both of these): they need the
# interpreter pinned AND the repo on PYTHONPATH, or pickled Arrow
# UDFs die with ModuleNotFoundError and the executors churn-restart
# until the master kills the app (observed live).
os.environ["PYSPARK_PYTHON"] = sys.executable
os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
os.environ["PYTHONPATH"] = {repo!r} + os.pathsep + os.environ.get("PYTHONPATH", "")
from pyspark.sql import SparkSession
from tests.oracle_harness import compare, duckdb_connection
from decision_tree_analytics_spark import operators

spark = (
    SparkSession.builder.master("local-cluster[2,4,2048]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.executorEnv.PYTHONPATH", {repo!r})
    .getOrCreate()
)
qs = operators.all_queries()
osql = operators.all_oracles()
con = duckdb_connection({sf!r})
for name in {names!r}:
    compare(qs[name](spark, {sf!r}), con, osql[name], name)
    print("CLUSTER-MATCH", name, flush=True)
spark.stop()
print("ALL-OK")
"""


def test_queries_match_oracle_on_real_multi_jvm_cluster(sf_dir):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _DRIVER.format(
        repo=repo, repo_tests=repo, sf=sf_dir, names=CLUSTER_QUERIES
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0 and "ALL-OK" in proc.stdout, (
        f"stdout tail: {proc.stdout[-2000:]}\nstderr tail: {proc.stderr[-2000:]}"
    )
    for name in CLUSTER_QUERIES:
        assert f"CLUSTER-MATCH {name}" in proc.stdout


_CLUSTER_DRIVER = r"""
import os, sys
sys.path.insert(0, {repo!r})
sys.path.insert(0, {repo_tests!r})
os.environ["PYSPARK_PYTHON"] = sys.executable
os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
os.environ["PYTHONPATH"] = {repo!r} + os.pathsep + os.environ.get("PYTHONPATH", "")
from pyspark.sql import SparkSession
from tests.oracle_harness import compare, duckdb_connection
from decision_tree_analytics_spark.operators.multimodal import (
    QUERIES as QM, ORACLES as OM,
)
from decision_tree_analytics_spark.operators.udf_inventory import (
    QUERIES as QU, ORACLES as OU,
)

NAMES = ["udf_token_spans", "mm_video_frame_plan"]
QS = {{**QM, **QU}}
OS = {{**OM, **OU}}

spark = (
    SparkSession.builder.master("local-cluster[2,4,2048]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.executorEnv.PYTHONPATH", {repo!r})
    .getOrCreate()
)
con = duckdb_connection({sf!r})
for name in NAMES:
    compare(QS[name](spark, {sf!r}), con, OS[name], name)
    print("CLUSTER-MATCH", name, flush=True)
spark.stop()
print("ALL-OK")
"""


def test_r14_registrants_match_on_real_cluster(sf_dir):
    """Both r14 registrants oracle-checked on a REAL 2-JVM
    local-cluster: the UDTF class must cloudpickle to REMOTE executor
    Arrow workers with each executor's eval stream covering exactly
    its partitions, and the video plan's integer explode splits
    across executors."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _CLUSTER_DRIVER.format(repo=repo, repo_tests=repo, sf=sf_dir)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0 and "ALL-OK" in proc.stdout, (
        f"stdout tail: {proc.stdout[-3000:]}\nstderr tail: {proc.stderr[-3000:]}"
    )
    for name in ("udf_token_spans", "mm_video_frame_plan"):
        assert f"CLUSTER-MATCH {name}" in proc.stdout
