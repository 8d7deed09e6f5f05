"""CDC merge — MERGE INTO (upsert + delete) semantics as one
full-outer join.

The batch twin of the streaming foreachBatch upsert sink
(streaming/dedup_sink.py): a base snapshot merges a change batch
carrying an op column (U = upsert, D = delete):

* key in both, op U  → the change's values win (update);
* key only in changes, op U → new row (insert);
* op D → the key is dropped whether or not the base has it;
* key only in base → unchanged.

One full-outer join on the key + a post-join CASE — at 100 TB both
sides shuffle once on the merge key (zero-shuffle if the base is
bucket-stored on it, sources/bucketing.py), deletes are a filter, and
the result is written write-audit-publish style next to the old
snapshot (sources/maintenance.py compaction pattern).  This is the
Delta/Iceberg MERGE core without a table format: the join IS the
merge.

The contract fixture derives both sides from ``documents`` (base =
doc_id < 400; changes = 300–499 with uppercased text, every 10th id a
delete), so the query exercises all four merge outcomes at every SF.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from decision_tree_analytics_spark.operators._cache import tether_cache
from decision_tree_analytics_spark.operators._round import round6
from decision_tree_analytics_spark.sources.tables import load_table

BASE_MAX = 400
CHANGE_MIN, CHANGE_MAX = 300, 500


def merge_changes(base: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Generic MERGE: ``base(key, ...)`` + ``changes(key, ..., op)``
    with op ∈ {U, D}.  Column sets must match apart from ``op``;
    change columns win on key collision."""
    value_cols = [c for c in base.columns if c != key]
    c = changes.select(
        F.col(key).alias("__ck__"),
        "op",
        *[F.col(v).alias(f"__c_{v}__") for v in value_cols],
    )
    joined = base.join(c, base[key] == c["__ck__"], "full_outer")
    survived = joined.filter(F.col("op").isNull() | (F.col("op") != "D"))
    return survived.select(
        F.coalesce(base[key], F.col("__ck__")).alias(key),
        *[
            F.coalesce(F.col(f"__c_{v}__"), base[v]).alias(v)
            for v in value_cols
        ],
        F.when(F.col("op").isNull(), F.lit("base"))
        .otherwise(F.lit("applied"))
        .alias("source"),
    )


def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query: merge the derived change batch into the derived
    base snapshot; returns the merged table with row provenance."""
    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < BASE_MAX).select("doc_id", "text")
    changes = d.filter(
        (F.col("doc_id") >= CHANGE_MIN) & (F.col("doc_id") < CHANGE_MAX)
    ).select(
        "doc_id",
        F.upper("text").alias("text"),
        F.when(F.col("doc_id") % 10 == 0, "D").otherwise("U").alias("op"),
    )
    merged = merge_changes(base, changes, "doc_id")
    return merged.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "source"
    )


def _snap_root() -> str:
    from decision_tree_analytics_spark.sources.snapshots import snapshot_root

    return snapshot_root()


def _events_tag(sf_dir: str) -> str:
    """Content-derived snapshot-fixture identity (parquet footer md5 —
    the same object-storage-safe key component_labels_snapshot and the
    source_io fixtures use; replaced the r4 os.stat identity)."""
    import os

    from decision_tree_analytics_spark.sources.tables import parquet_footer_tag

    return parquet_footer_tag(os.path.join(sf_dir, "events.parquet"))


def _two_commit_events_table(
    spark: SparkSession, sf_dir: str, prefix: str, first_pred, second_pred
):
    """Build/heal a two-commit events SnapshotTable fixture from
    VALID manifests only (ADVICE r13): ``snapshot_ids()`` counts torn
    claims from crashed writers, so deriving readiness / v1 / v2 from
    it could publish a torn id (permanent SnapshotNotFound on every
    later call) or skip the seed half entirely.  ``valid_ids()``
    reads torn claims as absent, so every crash point rebuilds
    exactly the missing pieces:

    * no valid snapshot  -> seed via OVERWRITE (identical content to
      an append for a first commit, but it burns past a young torn
      claim that an unpublished-table append refuses with
      ConcurrentStagedCommit), then append the second half;
    * one valid snapshot -> re-point the pointer at it first if
      missing/stale (same unpublished-append guard), then append;
    * two or more        -> re-point the pointer at the newest valid
      id if a crash separated commit from publish.

    The build itself runs under an O_EXCL ``_build.lock`` (stale
    locks age out) so two sessions racing a FRESH store — different
    sweep shards right after a corpus regeneration — cannot
    double-build it (two first-half commits would make valid[:2] a
    pair of duplicates forever; review finding).  The loser waits for
    the winner and re-derives.

    Returns ``(table, v1, v2)`` — the first two VALID snapshot ids
    (never torn-claim ids, which stay burned but unreadable)."""
    import os
    import time

    from decision_tree_analytics_spark.sources.snapshots import (
        NoPublishedSnapshot,
        SnapshotTable,
    )

    table = SnapshotTable(
        spark, os.path.join(_snap_root(), f"{prefix}_{_events_tag(sf_dir)}")
    )

    def _republish(valid):
        try:
            stale = table.latest_id() != valid[-1]
        except NoPublishedSnapshot:
            stale = True
        if stale:  # commit landed, publish didn't — finish it
            table.publish(valid[-1])

    def _build_locked():
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        valid = table.valid_ids()  # re-derive UNDER the lock
        if len(valid) >= 2:
            return
        if not valid:
            table.overwrite(ev.filter(first_pred))
        else:
            _republish(valid)
        table.append(ev.filter(second_pred))

    import uuid

    lock = os.path.join(table.meta_dir, "_build.lock")
    token = uuid.uuid4().hex

    def _owns_lock() -> bool:
        try:
            with open(lock) as fh:
                return fh.read() == token
        except FileNotFoundError:
            return False

    deadline = time.time() + 600.0
    while len(table.valid_ids()) < 2:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            # Another session is building: wait for it — or for its
            # corpse (a lock older than the build could ever take).
            # Before breaking a stale lock, re-stat and require the
            # SAME inode+mtime as the stale observation — the holder
            # releasing and a successor re-creating between our stat
            # and unlink must never cost the successor ITS lock
            # (review finding).
            try:
                st0 = os.stat(lock)
                if time.time() - st0.st_mtime > 300.0:
                    st1 = os.stat(lock)
                    if (st1.st_ino, st1.st_mtime) == (
                        st0.st_ino,
                        st0.st_mtime,
                    ):
                        os.remove(lock)
            except FileNotFoundError:
                pass  # winner just finished/released
            if time.time() > deadline:
                raise RuntimeError(
                    f"timed out waiting for a concurrent build of {table.path}"
                )
            time.sleep(0.2)
            continue
        try:
            # Identity-stamp the lock, then verify we still hold it
            # before committing anything: a waiter that aged us out
            # during a stall must win cleanly, and our finally must
            # never delete the successor's lock (review finding).
            os.write(fd, token.encode())
            os.fsync(fd)
            if _owns_lock():
                _build_locked()
        finally:
            os.close(fd)
            if _owns_lock():
                try:
                    os.remove(lock)
                except FileNotFoundError:
                    pass  # a waiter aged us out mid-build; harmless
    valid = table.valid_ids()
    _republish(valid)
    return table, valid[0], valid[1]


def _events_tt_table(spark: SparkSession, sf_dir: str):
    """The two-commit events SnapshotTable fixture (v1 = even
    event_ids, v2 appends the odd half), self-healing from any crash
    point — torn claims included (_two_commit_events_table)."""
    return _two_commit_events_table(
        spark,
        sf_dir,
        "events_tt",
        F.col("event_id") % 2 == 0,
        F.col("event_id") % 2 == 1,
    )


def snap_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style incremental consumption: a SnapshotTable of events
    is committed in two appends (v1 = event_id % 4 != 0, v2 adds the
    % 4 == 0 rows); the query reads ONLY the delta between the two
    manifests (`SnapshotTable.read_incremental`) and aggregates it —
    the downstream-pipeline shape where each run pays for new files
    only, never a full-table scan or diff.

    The snapshot directory is keyed by the source file's CONTENT
    identity (parquet footer md5), so a regenerated corpus misses and
    rebuilds; the oracle is the batch definition of the delta (the
    % 4 == 0 slice), proving manifest-diff planning returns exactly
    the appended rows.  Readiness = 2 VALID snapshots + fresh
    pointer, the same torn-claim-safe crash healing as
    _events_tt_table (_two_commit_events_table)."""
    table, v1, v2 = _two_commit_events_table(
        spark,
        sf_dir,
        "events_incr",
        F.col("event_id") % 4 != 0,
        F.col("event_id") % 4 == 0,
    )
    delta = table.read_incremental(v1, v2)
    return delta.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_new"),
        round6(F.sum("value")).alias("sum_value"),
    )


def snap_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style TIME TRAVEL: the same two-commit SnapshotTable
    shape as snap_incremental_read, but consumed through
    ``SnapshotTable.read(snapshot_id=v1)`` — reading the table as of
    an older committed version while later appends exist, and
    reconciling it against the latest version (per-type row counts
    then vs now, plus the delta).  This is the reproducibility
    primitive a training pipeline needs: re-run yesterday's manifest
    against yesterday's table version while ingestion keeps
    committing.

    Scale: a snapshot read plans only the files in that version's
    manifest (no diff/undo log to replay), so the old-version scan
    costs what the old version cost; both aggregates are mergeable
    per-type partials and the final reconciliation joins |event_type|
    rows.  The oracle replays the parity arithmetic (v1 = even
    event_ids) on the raw table.  Fixture: _events_tt_table
    (self-healing two-commit table, footer-tag identity)."""
    table, v1, _v2 = _events_tt_table(spark, sf_dir)
    old = table.read(v1).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_v1"),
        round6(F.sum("value")).alias("sum_v1"),
    )
    cur = (
        table.read()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_latest"))
    )
    return cur.join(old, ["event_type"], "left").select(
        "event_type",
        F.coalesce(F.col("n_v1"), F.lit(0)).cast("long").alias("n_v1"),
        F.col("n_latest").cast("long").alias("n_latest"),
        (F.col("n_latest") - F.coalesce(F.col("n_v1"), F.lit(0)))
        .cast("long")
        .alias("n_added"),
        F.coalesce(F.col("sum_v1"), F.lit(0.0)).alias("sum_v1"),
    )


QUERIES = {
    "cdc_merge_upsert": cdc_merge_upsert,
    "snap_incremental_read": snap_incremental_read,
    "snap_time_travel": snap_time_travel,
}

ORACLES = {
    "cdc_merge_upsert": (
        f"WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < {BASE_MAX}),"
        " changes AS (SELECT doc_id AS c_id, upper(text) AS c_text,"
        "   CASE WHEN doc_id % 10 = 0 THEN 'D' ELSE 'U' END AS op"
        f"   FROM documents WHERE doc_id >= {CHANGE_MIN} AND doc_id < {CHANGE_MAX})"
        " SELECT CAST(COALESCE(doc_id, c_id) AS BIGINT) AS doc_id,"
        "   COALESCE(c_text, text) AS text,"
        "   CASE WHEN op IS NULL THEN 'base' ELSE 'applied' END AS source"
        " FROM base FULL JOIN changes ON doc_id = c_id"
        " WHERE op IS NULL OR op <> 'D'"
    ),
    "snap_incremental_read": (
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_new,"
        " floor(sum(value) * 1e6 + 0.5) / 1e6 AS sum_value"
        " FROM events WHERE event_id % 4 = 0 GROUP BY event_type"
    ),
    "snap_time_travel": (
        "WITH v1 AS (SELECT event_type, count(*) AS n_v1,"
        "   floor(sum(value) * 1e6 + 0.5) / 1e6 AS sum_v1"
        "   FROM events WHERE event_id % 2 = 0 GROUP BY 1),"
        " cur AS (SELECT event_type, count(*) AS n_latest"
        "   FROM events GROUP BY 1)"
        " SELECT c.event_type, CAST(coalesce(v.n_v1, 0) AS BIGINT) AS n_v1,"
        "   CAST(c.n_latest AS BIGINT) AS n_latest,"
        "   CAST(c.n_latest - coalesce(v.n_v1, 0) AS BIGINT) AS n_added,"
        "   coalesce(v.sum_v1, 0.0) AS sum_v1"
        " FROM cur c LEFT JOIN v1 v USING (event_type)"
    ),
}


def snap_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DIFF between two committed snapshot versions — the
    generic "what changed" read completing the snapshot family
    (incremental read answers WHICH FILES are new; this answers WHICH
    ROWS differ, the shape a CDC consumer or a data-quality audit
    needs when a version may also delete or rewrite rows).

    One full-outer join of the two version reads keyed on event_id
    classifies every key as inserted / deleted / changed / unchanged;
    the readout aggregates the classification per event_type.  Both
    version scans plan only their own manifest's files (no undo log),
    the join shuffles each side once on the key — bucket-store the
    table on the key and even that shuffle goes away
    (src_bucketed_join is the demonstration).  On this append-only
    fixture deletes/changes are structurally zero — asserted by the
    oracle, which replays the parity arithmetic."""
    table, v1, _v2 = _events_tt_table(spark, sf_dir)
    o = table.read(v1).select(
        F.col("event_id").alias("k"),
        F.col("event_type").alias("t_old"),
        F.col("value").alias("v_old"),
    )
    n = table.read().select(
        F.col("event_id").alias("k"),
        F.col("event_type").alias("t_new"),
        F.col("value").alias("v_new"),
    )
    j = o.join(n, "k", "full_outer")
    kind = (
        F.when(F.col("t_old").isNull(), "inserted")
        .when(F.col("t_new").isNull(), "deleted")
        .when(
            (F.col("v_old") == F.col("v_new"))
            | (F.col("v_old").isNull() & F.col("v_new").isNull()),
            "unchanged",
        )
        .otherwise("changed")
    )
    return (
        j.select(
            F.coalesce("t_new", "t_old").alias("event_type"),
            kind.alias("change"),
        )
        .groupBy("event_type", "change")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


QUERIES["snap_row_diff"] = snap_row_diff
ORACLES["snap_row_diff"] = """
WITH o AS (SELECT event_id AS k, event_type AS t_old, value AS v_old
  FROM events WHERE event_id % 2 = 0),
n AS (SELECT event_id AS k, event_type AS t_new, value AS v_new
  FROM events),
j AS (SELECT coalesce(t_new, t_old) AS event_type,
    CASE WHEN t_old IS NULL THEN 'inserted'
         WHEN t_new IS NULL THEN 'deleted'
         WHEN v_old = v_new OR (v_old IS NULL AND v_new IS NULL)
           THEN 'unchanged'
         ELSE 'changed' END AS change
  FROM o FULL JOIN n USING (k))
SELECT event_type, change, CAST(count(*) AS BIGINT) AS n
FROM j GROUP BY 1, 2
"""


def cdc_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction — the Kafka-log-compaction / CDC-feed
    primitive that cdc_merge_upsert's single-batch merge doesn't
    cover: a key receives MANY ops over time and the consumer wants
    the compacted final state plus per-key change stats.

    The changelog is derived from events (key = user_id, op mapped
    from event_type: signup→I, error→D tombstone, rest→U; sequence =
    (ts, event_id) with the unique event_id tie-break, rule 5).
    Everything computes in ONE shuffle: the row_number that picks the
    last op and the per-key count/delete windows all share the same
    user_id partitioning, so Catalyst plans a single exchange feeding
    stacked window operators.  A tombstoned key reports alive=0 — the
    compacted table's delete semantics.

    At 100 TB this is the standard 'replay the feed into a snapshot'
    job: one hash partition of the log by key, no join against the
    (possibly huge) prior snapshot needed because compaction is
    self-contained per key.  Reference parity: the reference's
    row-level keep-first contract (SURVEY Q16/Q24) generalized to
    keep-LAST with op semantics."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "value",
    )
    wseq = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wall = Window.partitionBy("user_id")
    x = (
        ev.withColumn("rn", F.row_number().over(wseq))
        .withColumn("n_ops", F.count(F.lit(1)).over(wall).cast("long"))
        .withColumn(
            "n_deletes",
            F.sum((F.col("op") == "D").cast("int")).over(wall).cast("long"),
        )
    )
    return x.filter(F.col("rn") == 1).select(
        "user_id",
        "n_ops",
        "n_deletes",
        F.col("op").alias("last_op"),
        F.when(F.col("op") == "D", 0).otherwise(1).cast("long").alias("alive"),
        F.col("event_id").cast("long").alias("last_event_id"),
        round6(F.col("value")).alias("last_value"),
    )


QUERIES["cdc_changelog_compact"] = cdc_changelog_compact
ORACLES["cdc_changelog_compact"] = """
WITH ev AS (SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'signup' THEN 'I'
         WHEN event_type = 'error' THEN 'D'
         ELSE 'U' END AS op,
    value
  FROM events),
x AS (SELECT user_id, op, value, event_id,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn,
    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops,
    CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id) AS BIGINT) AS n_deletes
  FROM ev)
SELECT user_id, n_ops, n_deletes, op AS last_op,
  CAST(CASE WHEN op = 'D' THEN 0 ELSE 1 END AS BIGINT) AS alive,
  CAST(event_id AS BIGINT) AS last_event_id,
  floor(value * 1e6 + 0.5) / 1e6 AS last_value
FROM x WHERE rn = 1
"""


# ------------------------------------------------------------------
# r9: small-file compaction planner (lakehouse table maintenance)
# ------------------------------------------------------------------

COMPACT_TARGET_BYTES = 32_768  # compaction bin capacity


def snap_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the OPTIMIZE/rewrite-data-files
    scheduling pass every lakehouse table needs: model the physical
    layout as one data file per (event_type, day) with its row count
    and byte size, then greedily pack consecutive files (day order,
    within the partition column) into COMPACT_TARGET_BYTES bins — the
    bin id is the concat-and-cut prefix-sum assignment (the
    ns_seq_pack idiom: bin = exclusive-prefix-bytes div target), so
    the whole plan is two window passes, no join, no driver loop.

    Output is the per-file rewrite manifest: its bin, how many files
    the bin coalesces (n_files_in_bin > 1 ⇒ the file is worth
    rewriting) and the bin's total bytes.  Scale: the FILE MANIFEST is
    metadata-sized at any corpus size (files, not rows), and the one
    corpus-sized stage is the map-side-combinable (type, day) rollup
    that models it; sizes are exact BIGINT character sums so both
    engines compute identical bytes (props is ASCII JSON)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("ts div 1000 div 86400000000")
    files = ev.groupBy(
        F.col("event_type"), day.alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum(F.length("props") + F.lit(32))).cast("long").alias("bytes"),
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    binned = files.select(
        "event_type",
        "day",
        "n_rows",
        "bytes",
        F.expr(
            f"CAST((sum(bytes) OVER (PARTITION BY event_type ORDER BY day"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes)"
            f" div {COMPACT_TARGET_BYTES} AS BIGINT)"
        ).alias("bin_id"),
    )
    wbin = Window.partitionBy("event_type", "bin_id")
    return binned.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "n_rows",
        "bytes",
        "bin_id",
        F.count(F.lit(1)).over(wbin).cast("long").alias("n_files_in_bin"),
        F.sum("bytes").over(wbin).cast("long").alias("bin_bytes"),
    )


QUERIES["snap_compaction_plan"] = snap_compaction_plan
ORACLES["snap_compaction_plan"] = f"""
WITH files AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(length(props) + 32) AS BIGINT) AS bytes
  FROM events GROUP BY 1, 2),
binned AS (SELECT event_type, day, n_rows, bytes,
    CAST((sum(bytes) OVER (PARTITION BY event_type ORDER BY day
      ROWS UNBOUNDED PRECEDING) - bytes)
      // {COMPACT_TARGET_BYTES} AS BIGINT) AS bin_id
  FROM files)
SELECT event_type, CAST(day AS BIGINT) AS day, n_rows, bytes, bin_id,
  CAST(count(*) OVER (PARTITION BY event_type, bin_id) AS BIGINT)
    AS n_files_in_bin,
  CAST(sum(bytes) OVER (PARTITION BY event_type, bin_id) AS BIGINT)
    AS bin_bytes
FROM binned
"""


N_HASH_FILES = 96  # hash-layout file count (fixed by design, not by data)
CLUSTER_DAYS = 30  # clustered layout: one file per 30-day write window


def _order_layout_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map manifest (layout, file_id, min_day, max_day, n_rows)
    for the orders table under two modeled write layouts:

    * ``clustered`` — one file per ``CLUSTER_DAYS``-day window of
      o_orderdate (date-clustered ingestion: per-file min/max on the
      date column is tight);
    * ``hashed`` — file = md5(o_orderkey) mod ``N_HASH_FILES``
      (hash-distributed writes: every file spans the whole date
      range, so date zone maps prune nothing).

    The day key is epoch days (datediff from 1970-01-01 — the
    timezone-free timestamp_ntz idiom).  Scale: the one corpus-sized
    stage is the map-side-combinable (layout, file_id) rollup; the
    manifest itself is file-count-sized (metadata, not rows) at any
    corpus size, exactly like a real table format's manifest."""
    o = load_table(spark, sf_dir, "orders").select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("long")
        .alias("day"),
        F.expr(
            "CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 8),"
            f" 16, 10) AS BIGINT) % {N_HASH_FILES}"
        ).alias("hash_fid"),
    )
    e = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("clustered").alias("layout"),
                    F.expr(f"day div {CLUSTER_DAYS}").alias("file_id"),
                    F.col("day"),
                ),
                F.struct(
                    F.lit("hashed").alias("layout"),
                    F.col("hash_fid").alias("file_id"),
                    F.col("day"),
                ),
            )
        ).alias("s")
    ).select("s.layout", "s.file_id", "s.day")
    return e.groupBy("layout", "file_id").agg(
        F.min("day").cast("long").alias("min_day"),
        F.max("day").cast("long").alias("max_day"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


# Shared oracle text for the manifest (composed into both audits).
_MANIFEST_CTE = f"""
o AS (SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      AS day,
    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
      % {N_HASH_FILES} AS hash_fid
  FROM orders),
e AS (SELECT 'clustered' AS layout, day // {CLUSTER_DAYS} AS file_id, day
      FROM o
      UNION ALL SELECT 'hashed', hash_fid, day FROM o),
man AS (SELECT layout, CAST(file_id AS BIGINT) AS file_id,
    CAST(min(day) AS BIGINT) AS min_day,
    CAST(max(day) AS BIGINT) AS max_day,
    CAST(count(*) AS BIGINT) AS n_rows
  FROM e GROUP BY 1, 2)
"""


def snap_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level min-max data-skipping audit — measures what zone
    maps (parquet row-group stats / Iceberg manifests / Delta
    file stats) are worth under each layout, the metadata companion
    to rel_zorder_key's layout KEY: for every 30-day probe window,
    how many files can a date-range scan skip outright, and how many
    rows does it still have to read?

    Expected shape (asserted by the structural test): the clustered
    layout skips all but ~1 file per probe; the hashed layout skips
    ~none — the number every OPTIMIZE/CLUSTER BY decision weighs.

    Scale: one corpus pass builds the manifest (persisted — probes
    and the audit join are two branches of it, the BM25 lesson); the
    probe grid is the distinct 30-day windows actually present
    (bounded by the table's date span, ~80 for TPC-H-like data,
    corpus-size-invariant), broadcast against the file-count-sized
    manifest.  Nothing downstream of the first rollup touches data
    rows."""
    man = _order_layout_manifest(spark, sf_dir).persist()
    probes = (
        man.filter(F.col("layout") == "clustered")
        .select(F.col("file_id").alias("probe_bucket"))
        .distinct()
    )
    j = man.crossJoin(F.broadcast(probes))
    lo = F.col("probe_bucket") * CLUSTER_DAYS
    hi = (F.col("probe_bucket") + 1) * CLUSTER_DAYS
    skipped = (F.col("max_day") < lo) | (F.col("min_day") >= hi)
    out = (
        j.groupBy("layout", "probe_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(F.when(skipped, 1).otherwise(0))
            .cast("long")
            .alias("n_files_skipped"),
            F.sum(F.when(skipped, 0).otherwise(F.col("n_rows")))
            .cast("long")
            .alias("rows_scanned"),
        )
        .select(
            "layout",
            "probe_bucket",
            "n_files",
            "n_files_skipped",
            F.expr("n_files_skipped * 1000000 div n_files").alias("skip_ppm"),
            "rows_scanned",
        )
    )
    return tether_cache(out, man)


QUERIES["snap_skipping_audit"] = snap_skipping_audit
ORACLES["snap_skipping_audit"] = f"""
WITH {_MANIFEST_CTE},
probes AS (SELECT DISTINCT file_id AS probe_bucket FROM man
           WHERE layout = 'clustered')
SELECT layout, probe_bucket, CAST(count(*) AS BIGINT) AS n_files,
  CAST(sum(CASE WHEN max_day < probe_bucket * {CLUSTER_DAYS}
                  OR min_day >= (probe_bucket + 1) * {CLUSTER_DAYS}
           THEN 1 ELSE 0 END) AS BIGINT) AS n_files_skipped,
  CAST(sum(CASE WHEN max_day < probe_bucket * {CLUSTER_DAYS}
                  OR min_day >= (probe_bucket + 1) * {CLUSTER_DAYS}
           THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS skip_ppm,
  CAST(sum(CASE WHEN max_day < probe_bucket * {CLUSTER_DAYS}
                  OR min_day >= (probe_bucket + 1) * {CLUSTER_DAYS}
           THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
FROM man, probes GROUP BY 1, 2
"""


def snap_overlap_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit — Iceberg/Delta's "overlap depth"
    health metric for sorted layouts: sweep the per-file [min_day,
    max_day] intervals and report, at every boundary day, how many
    files a point/range read on that day must open.  Depth 1 =
    perfectly clustered (each probe hits one file); depth ~=
    file-count = hash-scattered (every probe opens everything) —
    the signal that schedules a rewrite (snap_compaction_plan) or a
    re-sort (rel_zorder_key).

    Classic sweep-line as relational ops: each file contributes
    (+1 at min_day, -1 at max_day + 1), one rollup per boundary day,
    then a running sum per layout.  Scale: runs entirely on the
    file-count-sized manifest; the window's ORDER BY day is unique
    within each layout partition after the rollup (rule 5)."""
    man = _order_layout_manifest(spark, sf_dir)
    ev = man.select(
        "layout",
        F.explode(
            F.array(
                F.struct(
                    F.col("min_day").alias("day"), F.lit(1).alias("delta")
                ),
                F.struct(
                    (F.col("max_day") + 1).alias("day"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("s"),
    ).select("layout", F.col("s.day").cast("long").alias("day"), "s.delta")
    g = ev.groupBy("layout", "day").agg(
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_opens"),
        F.sum(F.when(F.col("delta") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_closes"),
        F.sum("delta").cast("long").alias("net"),
    )
    w = (
        Window.partitionBy("layout")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return g.select(
        "layout",
        "day",
        "n_opens",
        "n_closes",
        F.sum("net").over(w).cast("long").alias("depth"),
    )


QUERIES["snap_overlap_depth"] = snap_overlap_depth
ORACLES["snap_overlap_depth"] = f"""
WITH {_MANIFEST_CTE},
ev AS (SELECT layout, min_day AS day, 1 AS delta FROM man
       UNION ALL SELECT layout, max_day + 1, -1 FROM man),
g AS (SELECT layout, CAST(day AS BIGINT) AS day,
    CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_opens,
    CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_closes,
    sum(delta) AS net
  FROM ev GROUP BY 1, 2)
SELECT layout, day, n_opens, n_closes,
  CAST(sum(net) OVER (PARTITION BY layout ORDER BY day
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth
FROM g
"""


# ---------------------------------------------------------------------------
# snap_vacuum_plan — snapshot retention / vacuum planner
# ---------------------------------------------------------------------------

VACUUM_GENS = 6  # modeled snapshot generations 0..5
VACUUM_KEEP = 2  # retention policy: keep the last 2 snapshots live
VACUUM_ROW_BYTES = 120  # modeled bytes per data row


def snap_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention / VACUUM planner — the expiry half of the
    table-maintenance story next to snap_compaction_plan: given a
    multi-generation reference manifest (which data files each
    snapshot references), apply a keep-last-K policy and report, per
    generation, the snapshot's referenced-file footprint and what
    expiring it frees — files whose LAST reference is that
    generation, their bytes, and the cumulative bytes a vacuum up to
    that generation reclaims.  Files still referenced by a live
    snapshot are never reclaimable (the invariant the test plants).

    The manifest models Iceberg/Delta semantics over the clustered
    orders layout (one corpus pass, shared with snap_skipping_audit's
    `_order_layout_manifest`): each file is born in generation
    md5(file_id) % 4 and stays referenced for 1 + (md5' % 3)
    generations (capped at {VACUUM_GENS - 1}), so reference sets
    genuinely grow and shrink across snapshots.  Scale: everything
    past the one corpus-sized manifest rollup runs on the exploded
    (generation, file) reference table — file-count x GENS rows of
    METADATA, like a real table format's manifest list; the running
    sum orders the <= {VACUUM_GENS}-row generation grid (rule 5:
    gen is unique).  The reference table feeds TWO aggregation
    branches (per-gen footprint, per-file last reference), so it is
    persisted and tethered — Catalyst does not reuse an exchange
    across branches of one uncached lineage (the BM25 lesson), and
    without the persist the corpus scan would run twice (plan-locked
    in tests/test_plans.py::test_vacuum_plan_reference_table_cached_once)."""
    man = _order_layout_manifest(spark, sf_dir).filter(
        F.col("layout") == "clustered"
    )
    files = man.select(
        "file_id",
        (F.col("n_rows") * VACUUM_ROW_BYTES).cast("long").alias("bytes"),
        F.expr(
            "CAST(conv(substring(md5(CAST(file_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 4"
        ).alias("born"),
        F.expr(
            "CAST(conv(substring(md5(CAST(file_id AS STRING)), 9, 8),"
            " 16, 10) AS BIGINT) % 3"
        ).alias("extra"),
    ).select(
        "file_id",
        "bytes",
        "born",
        F.least(
            F.col("born") + F.col("extra") + 1, F.lit(VACUUM_GENS - 1)
        ).alias("last_gen"),
    )
    refs = files.select(
        "file_id",
        "bytes",
        F.explode(F.sequence(F.col("born"), F.col("last_gen"))).alias("gen"),
    ).persist()
    footprint = refs.groupBy("gen").agg(
        F.count(F.lit(1)).cast("long").alias("n_files_referenced"),
        F.sum("bytes").cast("long").alias("bytes_referenced"),
    )
    last = refs.groupBy("file_id", "bytes").agg(
        F.max("gen").cast("long").alias("last_ref")
    )
    freed = last.groupBy(F.col("last_ref").alias("gen")).agg(
        F.count(F.lit(1)).cast("long").alias("n_files_last_ref"),
        F.sum("bytes").cast("long").alias("bytes_last_ref"),
    )
    live_floor = VACUUM_GENS - VACUUM_KEEP  # gens >= this stay live
    joined = footprint.join(freed, "gen", "left").select(
        "gen",
        "n_files_referenced",
        "bytes_referenced",
        F.coalesce("n_files_last_ref", F.lit(0))
        .cast("long")
        .alias("n_files_last_ref"),
        F.coalesce("bytes_last_ref", F.lit(0))
        .cast("long")
        .alias("bytes_last_ref"),
        F.when(F.col("gen") < live_floor, 1)
        .otherwise(0)
        .cast("long")
        .alias("vacuumable"),
    )
    w = Window.orderBy("gen").rowsBetween(Window.unboundedPreceding, 0)
    out = joined.select(
        "*",
        F.sum(
            F.when(F.col("vacuumable") == 1, F.col("bytes_last_ref")).otherwise(
                0
            )
        )
        .over(w)
        .cast("long")
        .alias("cum_bytes_reclaimed"),
    )
    return tether_cache(out, refs)


# Composes _MANIFEST_CTE verbatim (the Spark side goes through
# _order_layout_manifest), so a CLUSTER_DAYS tune can never drift
# the two engines apart.
_VACUUM_ORACLE = f"""
WITH {_MANIFEST_CTE},
files AS (SELECT file_id, n_rows * {VACUUM_ROW_BYTES} AS bytes,
    ('0x' || substr(md5(CAST(file_id AS VARCHAR)), 1, 8))::BIGINT % 4
      AS born,
    ('0x' || substr(md5(CAST(file_id AS VARCHAR)), 9, 8))::BIGINT % 3
      AS extra
  FROM man WHERE layout = 'clustered'),
spans AS (SELECT file_id, bytes, born,
    least(born + extra + 1, {VACUUM_GENS - 1}) AS last_gen FROM files),
refs AS MATERIALIZED (SELECT file_id, bytes,
    unnest(range(born, last_gen + 1)) AS gen FROM spans),
footprint AS (SELECT gen, CAST(count(*) AS BIGINT) AS n_files_referenced,
    CAST(sum(bytes) AS BIGINT) AS bytes_referenced
  FROM refs GROUP BY 1),
last AS (SELECT file_id, bytes, CAST(max(gen) AS BIGINT) AS last_ref
  FROM refs GROUP BY 1, 2),
freed AS (SELECT last_ref AS gen, CAST(count(*) AS BIGINT)
      AS n_files_last_ref,
    CAST(sum(bytes) AS BIGINT) AS bytes_last_ref
  FROM last GROUP BY 1),
joined AS (SELECT CAST(f.gen AS BIGINT) AS gen, f.n_files_referenced,
    f.bytes_referenced,
    CAST(coalesce(fr.n_files_last_ref, 0) AS BIGINT) AS n_files_last_ref,
    CAST(coalesce(fr.bytes_last_ref, 0) AS BIGINT) AS bytes_last_ref,
    CAST(CASE WHEN f.gen < {VACUUM_GENS - VACUUM_KEEP} THEN 1 ELSE 0 END
      AS BIGINT) AS vacuumable
  FROM footprint f LEFT JOIN freed fr ON f.gen = fr.gen)
SELECT *,
  CAST(sum(CASE WHEN vacuumable = 1 THEN bytes_last_ref ELSE 0 END)
    OVER (ORDER BY gen ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS cum_bytes_reclaimed
FROM joined
"""


QUERIES["snap_vacuum_plan"] = snap_vacuum_plan
ORACLES["snap_vacuum_plan"] = _VACUUM_ORACLE
