"""Round-12 operators (built and pre-verified during round 11).

CORRECTNESS_r11 landed 50/50 green, lifting the lifetime floor to r06
— so r12 had exactly 5 fresh slots (5 + the 45 r06-stale names = the
driver's 50-sample window, zero slack).  ``QUERIES`` / ``ORACLES``
below are REGISTERED into the contract via
operators.__init__.ALL_MODULES: the five r12 names plus
mm_video_frame_plan, which filled one of r14's 2 fresh slots
(together with pending_r14's udf_token_spans).

All six follow the repo's cross-engine determinism rules: integer
ppm/cents/micro arithmetic, rule-3 floor rounding, rule-5 unique
tie-breaks, rule-8 nullif guards, md5-only hashing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from decision_tree_analytics_spark.operators._cache import tether_cache
from decision_tree_analytics_spark.operators.cdc import (
    _MANIFEST_CTE,
    _order_layout_manifest,
)
from decision_tree_analytics_spark.operators.text import (
    _PREF_PER_CTE,
    _pref_candidates,
)
from decision_tree_analytics_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# ns_rejection_sample — best-of-N rollout selection audit (RLHF)
# ---------------------------------------------------------------------------

REJ_THRESHOLD_PPM = 100_000  # min best-of-pool reward to accept a prompt


def ns_rejection_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-N rejection-sampling audit — the other half of the
    RLHF data-prep story next to ns_preference_pairs: instead of
    pairing argmax/argmin, each prompt's pool keeps ONLY its best
    completion, and the whole prompt is rejected when even the best
    clears no quality bar (``REJ_THRESHOLD_PPM``).  Per source of the
    winning completion: prompts seen, prompts accepted, acceptance
    rate (ppm), tokens actually kept for training, mean accepted
    reward, and the mean best-vs-pool-mean advantage (how much
    selection is lifting quality over sampling).

    Determinism: reward is the BIGINT stopword-density ppm shared
    with ns_preference_pairs; the best row_number carries the unique
    doc_id tie-break (rule 5); pool means floor-divide positive
    BIGINTs (portable); the only nullable division guards on
    sum(accepted) via nullif (rule 8).

    Scale: one corpus scan; the window and the prompt groupBy share
    hashpartitioning(prompt_id) (pools are <= PREF_POOL rows, no
    skew); the per-source rollup is a |sources|-sized second
    exchange.  Same plan at 100 TB.  The reward stage is shared
    VERBATIM with ns_preference_pairs (text._pref_candidates /
    _PREF_PER_CTE) — one definition per engine, no drift."""
    per = _pref_candidates(spark, sf_dir)
    w_best = Window.partitionBy("prompt_id").orderBy(
        F.col("reward_ppm").desc(), F.col("doc_id").asc()
    )
    ranked = per.select("*", F.row_number().over(w_best).alias("rn_best"))
    pools = (
        ranked.groupBy("prompt_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cand"),
            F.sum("reward_ppm").cast("long").alias("pool_reward"),
            F.max(F.when(F.col("rn_best") == 1, F.col("source"))).alias(
                "best_source"
            ),
            F.max(F.when(F.col("rn_best") == 1, F.col("reward_ppm"))).alias(
                "best_reward"
            ),
            F.max(F.when(F.col("rn_best") == 1, F.col("re_tokens"))).alias(
                "best_toks"
            ),
        )
        .select(
            "*",
            F.when(F.col("best_reward") >= REJ_THRESHOLD_PPM, 1)
            .otherwise(0)
            .cast("long")
            .alias("accepted"),
            # best >= floor(pool mean), so the advantage is >= 0 and
            # the floor-div is the portable positive case.
            (
                F.col("best_reward") - F.expr("pool_reward div n_cand")
            ).alias("advantage_ppm"),
        )
    )
    return pools.groupBy(F.col("best_source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_prompts"),
        F.sum("accepted").cast("long").alias("n_accepted"),
        F.expr(
            "CAST(sum(accepted) * 1000000 div count(*) AS BIGINT)"
        ).alias("acceptance_ppm"),
        F.sum(
            F.when(F.col("accepted") == 1, F.col("best_toks")).otherwise(0)
        )
        .cast("long")
        .alias("kept_tokens"),
        F.expr(
            "CAST(sum(CASE WHEN accepted = 1 THEN best_reward ELSE 0 END)"
            " div nullif(sum(accepted), 0) AS BIGINT)"
        ).alias("mean_accepted_reward_ppm"),
        F.expr(
            "CAST(sum(advantage_ppm) div count(*) AS BIGINT)"
        ).alias("mean_advantage_ppm"),
    )


_REJECTION_ORACLE = rf"""
WITH {_PREF_PER_CTE},
ranked AS (SELECT *,
    row_number() OVER (PARTITION BY prompt_id
                       ORDER BY reward_ppm DESC, doc_id ASC) AS rn_best
  FROM per),
pools AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS n_cand,
    CAST(sum(reward_ppm) AS BIGINT) AS pool_reward,
    max(CASE WHEN rn_best = 1 THEN source END) AS best_source,
    max(CASE WHEN rn_best = 1 THEN reward_ppm END) AS best_reward,
    max(CASE WHEN rn_best = 1 THEN re_tokens END) AS best_toks
  FROM ranked GROUP BY 1),
flagged AS (SELECT *,
    CASE WHEN best_reward >= {REJ_THRESHOLD_PPM} THEN 1 ELSE 0 END
      AS accepted,
    best_reward - pool_reward // n_cand AS advantage_ppm
  FROM pools)
SELECT best_source AS source,
  CAST(count(*) AS BIGINT) AS n_prompts,
  CAST(sum(accepted) AS BIGINT) AS n_accepted,
  CAST(sum(accepted) * 1000000 // count(*) AS BIGINT) AS acceptance_ppm,
  CAST(sum(CASE WHEN accepted = 1 THEN best_toks ELSE 0 END) AS BIGINT)
    AS kept_tokens,
  CAST(sum(CASE WHEN accepted = 1 THEN best_reward ELSE 0 END)
       // nullif(sum(accepted), 0) AS BIGINT) AS mean_accepted_reward_ppm,
  CAST(sum(advantage_ppm) // count(*) AS BIGINT) AS mean_advantage_ppm
FROM flagged GROUP BY 1
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
    without the persist the corpus scan would run twice
    (plan-locked in tests/test_pending_r12.py)."""
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


# Composes cdc._MANIFEST_CTE verbatim (the Spark side goes through
# cdc._order_layout_manifest), so a CLUSTER_DAYS tune can never drift
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

# ---------------------------------------------------------------------------
# ml_quantile_reg — pinball-loss quantile regression over a fixed grid
# ---------------------------------------------------------------------------

QREG_INTERCEPTS = [0, 2500, 5000, 7500, 10000]  # cents
QREG_SLOPES = [-200, -100, 0, 100, 200]  # cents per hour-of-day
QREG_COMBOS = [(a, b) for a in QREG_INTERCEPTS for b in QREG_SLOPES]
# q = 0.9, losses scaled x10 so both branches stay integer:
# loss10 = 9*(y - yhat) if y > yhat else (yhat - y).


def ml_quantile_reg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile regression (q = 0.9) of event value on hour-of-day
    via exact pinball-loss grid search — the tail-latency/tail-spend
    modeling pass mean-OLS (rel_rolling_ols, ml_ridge_normal_eq)
    cannot do.  Every (intercept, slope) candidate's total pinball
    loss is ONE conditional aggregate, so the whole 25-point grid is
    a single corpus pass producing 25 columns on the |event_type|
    grid, then a stack + rank picks the argmin — the
    ml_threshold_tuning shape: grid-size WINDOW rows, never
    grid-size corpus scans (and never a 25x explode of the fact
    table).

    Determinism: y is rule-3 integer cents, yhat = a + b*h is a
    BIGINT literal expression, both CASE branches are non-negative
    BIGINTs, and there is NO division anywhere; the argmin rank
    breaks ties (loss10, a, b) — unique by construction (rule 5).
    Sums stay under 2^63 until ~2e13 rows per event_type (9 *
    max-cent-residual ~= 4.5e5 per row).  Scale: map-side-combinable
    single pass; the window runs on |event_type| x 25 rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).alias("y"),
        F.expr("((ts div 1000) div 3600000000) % 24").alias("h"),
    )
    sums = []
    for i, (a, b) in enumerate(QREG_COMBOS):
        yhat = F.lit(a) + F.lit(b) * F.col("h")
        sums.append(
            F.sum(
                F.when(F.col("y") > yhat, 9 * (F.col("y") - yhat)).otherwise(
                    yhat - F.col("y")
                )
            )
            .cast("long")
            .alias(f"l_{i}")
        )
    agg = base.groupBy("event_type").agg(*sums)
    stack_args = ", ".join(
        f"{a}L, {b}L, l_{i}" for i, (a, b) in enumerate(QREG_COMBOS)
    )
    grid = agg.selectExpr(
        "event_type",
        f"stack({len(QREG_COMBOS)}, {stack_args})"
        " AS (intercept_cents, slope_cents, loss10)",
    )
    w = Window.partitionBy("event_type").orderBy(
        "loss10", "intercept_cents", "slope_cents"
    )
    return (
        grid.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("intercept_cents").cast("long").alias("intercept_cents"),
            F.col("slope_cents").cast("long").alias("slope_cents"),
            F.col("loss10").cast("long").alias("loss10"),
        )
    )


def _qreg_oracle() -> str:
    sums = ",\n    ".join(
        f"CAST(sum(CASE WHEN y > {a} + {b} * h"
        f" THEN 9 * (y - ({a} + {b} * h))"
        f" ELSE ({a} + {b} * h) - y END) AS BIGINT) AS l_{i}"
        for i, (a, b) in enumerate(QREG_COMBOS)
    )
    arms = "\n  UNION ALL ".join(
        f"SELECT event_type, CAST({a} AS BIGINT) AS intercept_cents,"
        f" CAST({b} AS BIGINT) AS slope_cents, l_{i} AS loss10 FROM agg"
        for i, (a, b) in enumerate(QREG_COMBOS)
    )
    return f"""
WITH base AS (SELECT event_type,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y,
    (epoch_us(ts) // 3600000000) % 24 AS h
  FROM events WHERE value IS NOT NULL),
agg AS MATERIALIZED (SELECT event_type,
    {sums}
  FROM base GROUP BY 1),
grid AS ({arms}),
ranked AS (SELECT *,
    row_number() OVER (PARTITION BY event_type
      ORDER BY loss10, intercept_cents, slope_cents) AS rn
  FROM grid)
SELECT event_type, intercept_cents, slope_cents, loss10
FROM ranked WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# rel_did — difference-in-differences readout
# ---------------------------------------------------------------------------


def rel_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the quasi-experimental readout the
    experimentation family (rel_ab_test, rel_cuped, ml_sprt_monitor)
    still lacked: arms from the content-derived md5(user_id) % 2
    split, pre/post periods split at the corpus's temporal midpoint
    (computed IN-QUERY from min/max day so both engines derive the
    same boundary from the same data — no wall-clock), and per event
    type the four cell means plus the DiD estimate
    (post_t − pre_t) − (post_c − pre_c).

    Determinism: cell sums are rule-3 integer cents; means are
    divided to micro-dollars via the sign-split idiom
    sign(cents) * (abs(cents) * 10000 div n) — Spark div truncates
    while DuckDB // floors on NEGATIVE numerators, so the division
    only ever sees non-negative operands (the trend_ppm lesson;
    BIGINT-safe until a cell's cent sum exceeds ~9.2e14 ≈ $9.2e12);
    DiD subtracts the four already-floored means, so both engines
    compute identical integers; empty cells nullif to NULL and
    propagate identically (rule 8).  Scale: ONE corpus exchange — the
    (event_type, arm, post) rollup is map-side-combinable; the
    midpoint is a broadcast scalar aggregate; the pivot runs on the
    20-cell grid."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    rows = ev.select(
        "event_type",
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 2"
        ).alias("arm"),
        F.expr("(ts div 1000) div 86400000000").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
    )
    bounds = rows.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(F.expr("(lo + hi + 1) div 2").alias("split_day"))
    cells = (
        rows.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            "arm",
            F.when(F.col("day") >= F.col("split_day"), 1)
            .otherwise(0)
            .alias("post"),
            "cents",
        )
        .groupBy("event_type", "arm", "post")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "event_type",
            "arm",
            "post",
            "n",
            F.expr(
                "CAST((CASE WHEN cents < 0 THEN -1 ELSE 1 END)"
                " * (abs(cents) * 10000 div nullif(n, 0)) AS BIGINT)"
            ).alias("mean_micro"),
        )
    )

    def cell(arm: int, post: int, col: str):
        return F.max(
            F.when((F.col("arm") == arm) & (F.col("post") == post), F.col(col))
        )

    out = cells.groupBy("event_type").agg(
        cell(0, 0, "n").cast("long").alias("n_pre_ctrl"),
        cell(1, 0, "n").cast("long").alias("n_pre_treat"),
        cell(0, 1, "n").cast("long").alias("n_post_ctrl"),
        cell(1, 1, "n").cast("long").alias("n_post_treat"),
        cell(0, 0, "mean_micro").alias("pre_ctrl_micro"),
        cell(1, 0, "mean_micro").alias("pre_treat_micro"),
        cell(0, 1, "mean_micro").alias("post_ctrl_micro"),
        cell(1, 1, "mean_micro").alias("post_treat_micro"),
    )
    return out.select(
        "*",
        (
            (F.col("post_treat_micro") - F.col("pre_treat_micro"))
            - (F.col("post_ctrl_micro") - F.col("pre_ctrl_micro"))
        )
        .cast("long")
        .alias("did_micro"),
    )


_DID_ORACLE = """
WITH rows_ AS (SELECT event_type,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
      AS arm,
    epoch_us(ts) // 86400000000 AS day,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
bounds AS (SELECT (min(day) + max(day) + 1) // 2 AS split_day FROM rows_),
cells AS (SELECT event_type, arm,
    CASE WHEN day >= split_day THEN 1 ELSE 0 END AS post,
    CAST(count(*) AS BIGINT) AS n,
    CAST((CASE WHEN sum(cents) < 0 THEN -1 ELSE 1 END)
         * (abs(sum(cents)) * 10000 // nullif(count(*), 0))
      AS BIGINT) AS mean_micro
  FROM rows_ CROSS JOIN bounds GROUP BY 1, 2, 3),
piv AS (SELECT event_type,
    CAST(max(CASE WHEN arm = 0 AND post = 0 THEN n END) AS BIGINT)
      AS n_pre_ctrl,
    CAST(max(CASE WHEN arm = 1 AND post = 0 THEN n END) AS BIGINT)
      AS n_pre_treat,
    CAST(max(CASE WHEN arm = 0 AND post = 1 THEN n END) AS BIGINT)
      AS n_post_ctrl,
    CAST(max(CASE WHEN arm = 1 AND post = 1 THEN n END) AS BIGINT)
      AS n_post_treat,
    max(CASE WHEN arm = 0 AND post = 0 THEN mean_micro END)
      AS pre_ctrl_micro,
    max(CASE WHEN arm = 1 AND post = 0 THEN mean_micro END)
      AS pre_treat_micro,
    max(CASE WHEN arm = 0 AND post = 1 THEN mean_micro END)
      AS post_ctrl_micro,
    max(CASE WHEN arm = 1 AND post = 1 THEN mean_micro END)
      AS post_treat_micro
  FROM cells GROUP BY 1)
SELECT *,
  CAST((post_treat_micro - pre_treat_micro)
       - (post_ctrl_micro - pre_ctrl_micro) AS BIGINT) AS did_micro
FROM piv
"""

# ---------------------------------------------------------------------------
# rel_mann_kendall — non-parametric monotone-trend test
# ---------------------------------------------------------------------------


def rel_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type — the
    distribution-free companion to rel_rolling_ols/rel_theil_sen:
    S = sum over day pairs i<j of sign(x_j − x_i) on the daily
    revenue series, with the x18-scaled null variance
    n(n−1)(2n+5) (kept integer instead of dividing by 18) and a
    normalized trend strength S/maxpairs in ppm.

    Determinism: daily x is an exact BIGINT cent sum, so every sign
    comparison is integer-exact; S can be NEGATIVE, and integer
    division diverges on negatives (Spark div truncates, DuckDB //
    floors) — the ppm is therefore computed as
    sign(S) * (|S| * 1e6 div n_pairs), keeping every division
    positive (the sum_len_delta lesson).  Scale: ONE corpus exchange
    builds the per-(type, day) rollup; the pairwise self-join runs on
    the bounded daily grid (~31 days x |event_type| rows at ANY
    corpus size — a contracted table, so the quadratic stage is
    metadata-sized; the join keys alias the grouped side per the r9
    ambiguity gotcha)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    daily = (
        ev.select(
            "event_type",
            F.expr("(ts div 1000) div 86400000000").alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("long").alias("x"))
    )
    a = daily.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("d1"),
        F.col("x").alias("x1"),
    )
    b = daily.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("d2"),
        F.col("x").alias("x2"),
    )
    pairs = a.join(b, "et").filter(F.col("d1") < F.col("d2"))
    agg = pairs.groupBy(F.col("et").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when(F.col("x2") > F.col("x1"), 1)
            .when(F.col("x2") < F.col("x1"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat"),
    )
    days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return agg.join(days, "event_type").select(
        "event_type",
        "n_days",
        "n_pairs",
        "s_stat",
        F.expr("n_days * (n_days - 1) * (2 * n_days + 5)")
        .cast("long")
        .alias("var18"),
        (
            F.when(F.col("s_stat") < 0, -1).otherwise(1)
            * F.expr("CAST(abs(s_stat) * 1000000 div n_pairs AS BIGINT)")
        )
        .cast("long")
        .alias("trend_ppm"),
    )


_MANN_KENDALL_ORACLE = """
WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
pairs AS (SELECT a.event_type,
    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day),
agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(sgn) AS BIGINT) AS s_stat
  FROM pairs GROUP BY 1),
days AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1)
SELECT event_type, n_days, n_pairs, s_stat,
  CAST(n_days * (n_days - 1) * (2 * n_days + 5) AS BIGINT) AS var18,
  CAST((CASE WHEN s_stat < 0 THEN -1 ELSE 1 END)
       * (abs(s_stat) * 1000000 // n_pairs) AS BIGINT) AS trend_ppm
FROM agg JOIN days USING (event_type)
"""

# ---------------------------------------------------------------------------
# mm_video_frame_plan — keyframe/GOP extraction manifest
# ---------------------------------------------------------------------------

VIDEO_HEADER_BYTES = 512  # modeled container header


def mm_video_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video keyframe-extraction work-plan — mm_audio_chunk_plan's
    shape on the GOP axis: per clip (synthetic metadata derived from
    doc_id: fps 24/25/30, duration 2-20 s, two resolution tiers, GOP
    12 or 15 frames), one row per GOP with the keyframe index, its
    integer-µs timestamp, the exact byte offset into the modeled
    stream (I-frames and P-frames have different modeled sizes, so
    the offset is header + #I-before*i_bytes + #P-before*p_bytes —
    all closed-form BIGINT), and the tail-clamped GOP length.

    This is the fan-out a video loader ships to decode workers (the
    actual frame decode is the documented stub boundary,
    multimodal.py:64): pure integer codegen + one explode — no
    shuffle, no Python, no codec.  Every quantity is exact integer
    arithmetic, identical in both engines (the ts division truncates
    identically on non-negative µs)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    g = d.select(
        "doc_id",
        (24 + F.pmod("doc_id", F.lit(3)) * 3).cast("long").alias("fps"),
        (F.pmod("doc_id", F.lit(19)) + 2).cast("long").alias("dur_s"),
        (12 + F.pmod("doc_id", F.lit(2)) * 3).cast("long").alias("gop"),
        F.when(F.pmod("doc_id", F.lit(2)) == 0, 1280 * 720)
        .otherwise(640 * 360)
        .cast("long")
        .alias("pixels"),
    ).select(
        "*",
        (F.col("fps") * F.col("dur_s")).alias("n_frames"),
        F.expr("pixels div 2").alias("i_bytes"),
        F.expr("pixels div 10").alias("p_bytes"),
    )
    g = g.select("*", F.expr("(n_frames - 1) div gop + 1").alias("n_gops"))
    k = g.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.col("n_gops") - 1)).alias("k"),
    )
    return k.select(
        "doc_id",
        "fps",
        "gop",
        "n_frames",
        "k",
        (F.col("k") * F.col("gop")).alias("frame_idx"),
        F.expr("k * gop * 1000000 div fps").alias("ts_us"),
        F.least(F.col("gop"), F.col("n_frames") - F.col("k") * F.col("gop"))
        .cast("long")
        .alias("gop_len"),
        F.when(F.col("k") == F.col("n_gops") - 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_last"),
        (
            F.lit(VIDEO_HEADER_BYTES)
            + F.col("k") * F.col("i_bytes")
            + (F.col("k") * F.col("gop") - F.col("k")) * F.col("p_bytes")
        )
        .cast("long")
        .alias("byte_offset"),
        "i_bytes",
    )


_VIDEO_ORACLE = f"""
WITH g AS (SELECT doc_id,
    CAST(24 + (doc_id % 3) * 3 AS BIGINT) AS fps,
    CAST(doc_id % 19 + 2 AS BIGINT) AS dur_s,
    CAST(12 + (doc_id % 2) * 3 AS BIGINT) AS gop,
    CAST(CASE WHEN doc_id % 2 = 0 THEN 1280 * 720
         ELSE 640 * 360 END AS BIGINT) AS pixels
  FROM documents),
m AS (SELECT *, fps * dur_s AS n_frames, pixels // 2 AS i_bytes,
    pixels // 10 AS p_bytes, (fps * dur_s - 1) // gop + 1 AS n_gops
  FROM g),
k AS (SELECT *, unnest(range(n_gops)) AS k FROM m)
SELECT doc_id, fps, gop, n_frames, CAST(k AS BIGINT) AS k,
  CAST(k * gop AS BIGINT) AS frame_idx,
  CAST(k * gop * 1000000 // fps AS BIGINT) AS ts_us,
  CAST(least(gop, n_frames - k * gop) AS BIGINT) AS gop_len,
  CAST(CASE WHEN k = n_gops - 1 THEN 1 ELSE 0 END AS BIGINT) AS is_last,
  CAST({VIDEO_HEADER_BYTES} + k * i_bytes + (k * gop - k) * p_bytes
    AS BIGINT) AS byte_offset,
  i_bytes
FROM k
"""

# Registered into the contract (operators.__init__.ALL_MODULES):
# five names in r12, mm_video_frame_plan in r14.
QUERIES = {
    "ns_rejection_sample": ns_rejection_sample,
    "snap_vacuum_plan": snap_vacuum_plan,
    "ml_quantile_reg": ml_quantile_reg,
    "rel_did": rel_did,
    "rel_mann_kendall": rel_mann_kendall,
    "mm_video_frame_plan": mm_video_frame_plan,
}

ORACLES = {
    "ns_rejection_sample": _REJECTION_ORACLE,
    "snap_vacuum_plan": _VACUUM_ORACLE,
    "ml_quantile_reg": _qreg_oracle(),
    "rel_did": _DID_ORACLE,
    "rel_mann_kendall": _MANN_KENDALL_ORACLE,
    "mm_video_frame_plan": _VIDEO_ORACLE,
}
