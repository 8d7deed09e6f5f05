"""Scale-validation probe (BASELINE.md "sf1 scale validation").

Generates a local 10x corpus at .scale/sf1 (gitignored) — 10 replicas
of sf0.1 with structure preserved: documents get per-replica token
suffixes (each replica keeps sf0.1's internal near-dup structure,
replicas stay mutually disjoint), the relational fact chain gets
FK-preserving key offsets, dims are shared — then times the heavy
dedup/text/graph paths best-of-two on the bench session.

Usage:
    python scale_probe.py            # generate if missing, then time
    python scale_probe.py --generate # force regeneration
    python scale_probe.py --skew     # skewed-join probe (salted vs
                                     # unsalted vs AQE, 5M-row events
                                     # with the hot user owning 90%)
    python scale_probe.py --skew --sf10
                                     # second skew decade: 50M rows,
                                     # 45M on the hot key
    python scale_probe.py --sf10     # 100x documents/embeddings probe
                                     # of the dedup/ANN family — the
                                     # two-decade scale curve
                                     # (VERDICT r11 item 5)
    python scale_probe.py --sf10 --full --only n1,n2
                                     # add the 100x fact chain+events
                                     # and probe a chosen subset
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BASE = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scale", "sf1")

NAMES = [
    "dedup_substring",
    "dedup_minhash_lsh_pairs",
    "dedup_canonical_snapshot",
    "ns_text_subword",
    "graph_pagerank",
    "graph_label_propagation",
    "graph_khop",
    # r6: similarity/ANN family (VERDICT r5 item 3).  Probes/codebooks
    # are fixed small-vec_id sets, so the 10x replicas (offset ids)
    # never enter them and each path should stay ~linear.
    "sim_pq_topk",
    "sim_ivf_oracled",
    "sim_srp_recall_eval",
    # r6 additions: linearized min-plus graph loop, multi-round Lloyd,
    # hierarchical-prefix-sum curriculum — all should stay ~linear
    # (graph: same 25-node topology with 10x edge weights; kmeans /
    # curriculum: fixed-round passes over a 10x corpus).
    "graph_shortest_path",
    "ml_kmeans_lloyd",
    "ns_curriculum_order",
    # late r6: contracted-graph solvers (10x facts, same 25-node
    # entity graph — the fact aggregation is the scaling stage) and
    # the basket-bounded association-rule pair join.
    "graph_scc",
    "graph_betweenness",
    "rel_assoc_rules",
    "graph_mst",
    "rel_viterbi_states",
    "ns_quality_model",
    "ml_isotonic_calibration",
    # r8: late-r6 analytics ops (VERDICT r7 item 8) — window/closed-
    # form passes over the 10x events grid, all expected ~linear.
    "rel_gaps_islands",
    "rel_ewma_trend",
    "rel_rolling_ols",
    # r8 additions: rank/window stats, grid-collapsing estimators,
    # contracted-graph solvers, one-pass model sweeps, prefix mining.
    "rel_gini",
    "rel_hhi",
    "rel_theil_sen",
    "rel_changepoint",
    "ml_mcc_kappa",
    "ml_brier_decomposition",
    "ml_threshold_tuning",
    "ml_learning_curve",
    "graph_closeness",
    "graph_kcore",
    "rel_funnel_latency",
    "ns_boilerplate_prefix",
    "src_schema_merge",
    "sim_embedding_audit",
    "ns_code_detect",
    "src_csv_malformed",
    "ml_bootstrap_ci",
    "graph_hits",
    "ns_span_corruption",
    "mm_audio_chunk_plan",
    # r9 additions: one-exchange URL/domain dedup, broadcast-vocab OOV,
    # full-outer manifest diff, contracted-grid monitors/planners, and
    # the broadcast-edge walk corpus — all expected ~linear (the only
    # corpus-sized stages are map-side-combinable rollups / window
    # passes; the graph walk shares the contracted-edge-build family).
    "dedup_url_quota",
    "ns_oov_rate",
    "ns_manifest_diff",
    "rel_cuped",
    "ml_sprt_monitor",
    "snap_compaction_plan",
    "graph_random_walks",
    "rel_power_analysis",
    "ns_tokenizer_fertility",
    # r10 additions: one-rollup epoch scheduler; manifest-sized layout
    # audits (the manifest is file-count-sized at any SF, so only the
    # rollup feeding it should scale).
    "ns_epoch_plan",
    "snap_skipping_audit",
    "snap_overlap_depth",
    # r11: two-exchange preference-pair assembly — pools are
    # PREF_POOL-bounded so both windows and the pair groupBy are
    # skew-free; expected ~linear in corpus size.
    "ns_preference_pairs",
    # The paper's tree fit and scoring (q26): its lineitem projection
    # is hash-spread over every core before the fit's cache.  That wins
    # on a one-partition table; at 10x lineitem already arrives one
    # partition per core, so the probe shows what the shuffle costs.
    "q26_dt_train_predict",
]


def _base_tag() -> str:
    """Identity of the CURRENT base testdata generation (ADVICE r12 —
    the testdata rotates between rounds, and a derived tier generated
    from an older base makes the scale curve silently inconsistent:
    sf0.1 reads current data while sf1/sf10 read stale).  One shared
    definition with bench.py's ``corpus`` stamp
    (sources/tables.py corpus_generation_tag); footer tags are
    content-derived tail reads, object-storage-safe, microseconds."""
    from decision_tree_analytics_spark.sources.tables import (
        corpus_generation_tag,
    )

    return corpus_generation_tag(BASE)


def _stamp(out_dir: str) -> None:
    with open(os.path.join(out_dir, ".base_tag"), "w") as f:
        f.write(_base_tag())


def _stale(out_dir: str, probe_file: str = "embeddings.parquet") -> bool:
    """True when the derived corpus is missing OR was generated from a
    different base-testdata generation (stamp absent/mismatched) —
    callers auto-regenerate instead of silently mixing generations."""
    if not os.path.exists(os.path.join(out_dir, probe_file)):
        return True
    stamp = os.path.join(out_dir, ".base_tag")
    if not os.path.exists(stamp):
        return True
    with open(stamp) as f:
        return f.read() != _base_tag()


def _generate_docs_embeddings(con, out_dir: str, replicas: int) -> None:
    """documents + embeddings at ``replicas``x: per-replica token
    suffixes keep each documents replica's internal near-dup structure
    while replicas stay mutually disjoint; embeddings keep identical
    vectors under offset vec_ids (fixed-probe/codebook queries only
    read small vec_ids, so the replicas are corpus-only — per-bucket
    occupancy grows exactly ``replicas``x, real growth under a fixed
    plane count)."""
    md = con.sql(
        f"SELECT max(doc_id)+1 FROM read_parquet('{BASE}/documents.parquet')"
    ).fetchone()[0]
    con.execute(f"""
    COPY (
      SELECT r * {md} + doc_id AS doc_id,
        CASE WHEN r = 0 THEN text
             ELSE array_to_string(list_transform(string_split(text, ' '),
                    t -> t || 'q' || CAST(r AS VARCHAR)), ' ') END AS text,
        lang, source,
        CAST(len(CASE WHEN r = 0 THEN text
             ELSE array_to_string(list_transform(string_split(text, ' '),
                    t -> t || 'q' || CAST(r AS VARCHAR)), ' ') END) AS BIGINT)
          AS n_chars
      FROM read_parquet('{BASE}/documents.parquet'), range({replicas}) t(r)
      ORDER BY doc_id
    ) TO '{out_dir}/documents.parquet' (FORMAT parquet)""")
    mv = con.sql(
        f"SELECT max(vec_id)+1 FROM read_parquet('{BASE}/embeddings.parquet')"
    ).fetchone()[0]
    con.execute(f"""
    COPY (SELECT vec_id + r * {mv} AS vec_id, embedding, label
      FROM read_parquet('{BASE}/embeddings.parquet'), range({replicas}) t(r)
      ORDER BY vec_id) TO '{out_dir}/embeddings.parquet' (FORMAT parquet)""")


def _generate_facts(con, out_dir: str, replicas: int) -> None:
    """FK-preserving fact chain (customer/orders/lineitem + shared
    dims) and events at ``replicas``x.  Key offsets preserve every FK
    relationship; events keep their timestamps so the daily/hourly
    grids stay identical with ``replicas``x the rows per cell — the
    real growth shape for every grid-collapsing query.  ONE definition
    shared by the sf1 and sf10 corpora (r12 review finding: the
    duplicated COPY blocks could silently desynchronize)."""
    mo = con.sql(
        f"SELECT max(o_orderkey)+1 FROM read_parquet('{BASE}/orders.parquet')"
    ).fetchone()[0]
    mc = con.sql(
        f"SELECT max(c_custkey)+1 FROM read_parquet('{BASE}/customer.parquet')"
    ).fetchone()[0]
    con.execute(f"""
    COPY (SELECT c_custkey + r * {mc} AS c_custkey, c_name, c_nationkey,
        c_acctbal, c_mktsegment
      FROM read_parquet('{BASE}/customer.parquet'), range({replicas}) t(r)
      ORDER BY c_custkey) TO '{out_dir}/customer.parquet' (FORMAT parquet)""")
    con.execute(f"""
    COPY (SELECT o_orderkey + r * {mo} AS o_orderkey,
        o_custkey + r * {mc} AS o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority
      FROM read_parquet('{BASE}/orders.parquet'), range({replicas}) t(r)
      ORDER BY o_orderkey) TO '{out_dir}/orders.parquet' (FORMAT parquet)""")
    con.execute(f"""
    COPY (SELECT l_orderkey + r * {mo} AS l_orderkey, * EXCLUDE (l_orderkey)
      FROM read_parquet('{BASE}/lineitem.parquet'), range({replicas}) t(r)
      ORDER BY l_orderkey) TO '{out_dir}/lineitem.parquet' (FORMAT parquet)""")
    for t in ("supplier", "nation", "region", "part"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{BASE}/{t}.parquet'))"
            f" TO '{out_dir}/{t}.parquet' (FORMAT parquet)"
        )
    me, mu = con.sql(
        f"SELECT max(event_id)+1, max(user_id)+1"
        f" FROM read_parquet('{BASE}/events.parquet')"
    ).fetchone()
    con.execute(f"""
    COPY (SELECT event_id + r * {me} AS event_id, ts,
        user_id + r * {mu} AS user_id, event_type, value, props
      FROM read_parquet('{BASE}/events.parquet'), range({replicas}) t(r)
      ORDER BY event_id) TO '{out_dir}/events.parquet' (FORMAT parquet)""")


def generate() -> None:
    import duckdb

    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    _generate_docs_embeddings(con, OUT, 10)
    _generate_facts(con, OUT, 10)
    _stamp(OUT)


OUT10 = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scale", "sf10")
SF10_REPLICAS = 100
# VERDICT r11 item 5: one more measured decade for the dedup/ANN
# families — the 100 TB claim should rest on a two-decade curve, not
# a single 10x point.
SF10_NAMES = ["dedup_components", "dedup_substring", "sim_ivf_snapshot"]


def generate_sf10(full: bool = False) -> None:
    """100x corpus at .scale/sf10 via the SAME shared builders as sf1:
    documents + embeddings always; ``full=True`` adds the
    FK-preserving fact chain + events (~1.6 GB, so only on demand —
    the dedup/ANN probes read nothing but documents/embeddings).
    When regenerating WITHOUT ``full``, any fact files left by an
    older --full run are DELETED: the base testdata rotates between
    rounds, and a later fact-chain probe must never mix corpus
    generations (r12 review finding)."""
    import duckdb

    os.makedirs(OUT10, exist_ok=True)
    con = duckdb.connect()
    _generate_docs_embeddings(con, OUT10, SF10_REPLICAS)
    if full:
        _generate_facts(con, OUT10, SF10_REPLICAS)
    else:
        for t in ("customer", "orders", "lineitem", "supplier",
                  "nation", "region", "part", "events"):
            path = os.path.join(OUT10, f"{t}.parquet")
            if os.path.exists(path):
                os.remove(path)
    _stamp(OUT10)


def sf10_probe() -> None:
    """Times SF10_NAMES at sf0.1 / sf1 / sf10 (1x / 10x / 100x) on the
    bench session, printing BOTH passes per point: for the
    snapshot-backed entries pass1 is the cold compute+publish (the
    scale-relevant cost) and pass2 the warm snapshot read — a
    best-of-two would hide the build behind the amortized read.  A
    fresh SPARK_GRAFT_SNAPSHOT_DIR guarantees pass1 is genuinely cold
    at every SF."""
    import tempfile

    os.environ["SPARK_GRAFT_SNAPSHOT_DIR"] = tempfile.mkdtemp(
        prefix="snap-sf10-"
    )
    from decision_tree_analytics_spark import operators
    from decision_tree_analytics_spark.session import get_spark
    from decision_tree_analytics_spark.sources.tables import load_table

    # Both tiers auto-regenerate when the base-generation stamp is
    # missing or mismatched (ADVICE r12): the base testdata rotates
    # between rounds, and a curve whose sf1 point comes from an older
    # corpus than its sf0.1/sf10 points is silently inconsistent.
    if "--generate" in sys.argv or _stale(OUT):
        generate()
    full = "--full" in sys.argv
    if "--generate" in sys.argv or _stale(OUT10):
        generate_sf10(full=full)
    elif full and not os.path.exists(os.path.join(OUT10, "events.parquet")):
        # Corpus exists from a docs/embeddings-only run of the SAME
        # base generation (the stamp just matched) — top up the fact
        # chain without regenerating the text tier.
        import duckdb

        _generate_facts(duckdb.connect(), OUT10, SF10_REPLICAS)
    spark = get_spark(app_name="dta-spark-scale-probe-sf10")
    queries = operators.all_queries()
    names = SF10_NAMES
    if "--only" in sys.argv:  # probe a subset: --sf10 --only n1,n2
        # (without --full the sf10 corpus is documents/embeddings
        # only — a query reading orders/events needs --full)
        names = sys.argv[sys.argv.index("--only") + 1].split(",")
    out = {}
    # Warm the tables the probed queries read: --full adds the fact
    # chain so fact-family pass1 numbers are compute-cold but IO-warm,
    # directly comparable to the dedup/ANN entries' pass1 (ADVICE r12).
    warm_tables = ["documents", "embeddings"]
    if full:
        warm_tables += ["customer", "orders", "lineitem", "supplier",
                        "nation", "events"]
    for sf_dir, tag in [(BASE, "sf0.1"), (OUT, "sf1"), (OUT10, "sf10")]:
        for t in warm_tables:
            load_table(spark, sf_dir, t).count()
        spark.range(32).repartition(32).mapInPandas(
            lambda it: it, "id long"
        ).count()
        for name in names:
            passes = []
            rows = None
            for _ in range(2):
                t0 = time.perf_counter()
                rows = queries[name](spark, sf_dir).count()
                passes.append(round(time.perf_counter() - t0, 2))
            out[f"{tag}:{name}"] = {
                "pass1": passes[0], "pass2": passes[1], "rows": rows,
            }
            print(
                json.dumps(
                    {tag: name, "pass1": passes[0], "pass2": passes[1],
                     "rows": rows}
                ),
                flush=True,
            )
    print(json.dumps(out))
    spark.stop()


SKEW_OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".scale", "skew"
)
SKEW10_OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".scale", "skew10"
)
SKEW_HOT_USER = 0


SKEW_REPLICAS = 50  # 5M rows; the hot user owns 90% of them
SKEW10_REPLICAS = 500  # 50M rows — the second decade of the skew curve


def generate_skew(
    replicas: int = SKEW_REPLICAS, out_dir: str = SKEW_OUT
) -> None:
    """``replicas``x events with user 0 owning 90% of the stream — the
    'one domain owns the firehose' failure mode.  Replicas offset
    event_id and user_id; 9 of 10 event_ids are then reassigned to
    the hot user.  (At 10x/50% the whole join fits inside ~2 s of
    scan+overhead and the stuck reducer is invisible; 50x/90% puts
    4.5M rows on the hot key's single reducer, 500x puts 45M.)"""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    me, mu = con.sql(
        f"SELECT max(event_id)+1, max(user_id)+1"
        f" FROM read_parquet('{BASE}/events.parquet')"
    ).fetchone()
    con.execute(f"""
    COPY (
      SELECT event_id + r * {me} AS event_id, ts,
        CASE WHEN (event_id + r * {me}) % 10 != 0 THEN {SKEW_HOT_USER}
             ELSE user_id + r * {mu} END AS user_id,
        event_type, value, props
      FROM read_parquet('{BASE}/events.parquet'), range({replicas}) t(r)
      ORDER BY event_id
    ) TO '{out_dir}/events.parquet' (FORMAT parquet)""")
    _stamp(out_dir)


def skew_probe() -> None:
    """Times three shapes of the same fact⋈dim enrich-and-reaggregate
    on the hot-key corpus, broadcast disabled so the join shuffles
    (the 100 TB shape — a dim that no longer broadcasts):

      unsalted/noaqe  — plain key join, AQE skew-split off: the
                        stuck-reducer baseline (hot user's half of the
                        fact lands on ONE reducer).
      unsalted/aqe    — plain key join, AQE skew-split on: what the
                        runtime buys for sort-merge skew it can see.
      salted          — skew_salted_join: dim replicated over 16
                        explicit salts, fact salt = event_id % 16 —
                        the hot key fans out by construction.

    Both variants carry the ~60-byte props payload through the join
    (shuffle volume has to be real for the stuck reducer to cost
    anything); the salted variant replicates the contract query's
    pattern (skew.skew_salted_join) like-for-like."""
    import pyspark.sql.functions as F

    from decision_tree_analytics_spark.operators.skew import (
        HEAVY_USER_EVENTS,
        N_JOIN_SALTS,
        hot_salted_join,
    )
    from decision_tree_analytics_spark.session import get_spark
    from decision_tree_analytics_spark.sources.tables import load_table

    # --sf10 probes the SECOND decade (50M rows, 45M on the hot key):
    # the stuck reducer's share of wall should GROW with scale while
    # the salted plan keeps every core busy — the claim that matters
    # at 100 TB.  Both corpora are base-tag-stamped like every other
    # derived tier (a base rotation regenerates instead of mixing).
    sf10 = "--sf10" in sys.argv
    skew_dir = SKEW10_OUT if sf10 else SKEW_OUT
    if "--generate" in sys.argv or _stale(skew_dir, "events.parquet"):
        generate_skew(
            SKEW10_REPLICAS if sf10 else SKEW_REPLICAS, skew_dir
        )
    if "--cluster" in sys.argv:
        # Real 2-JVM executors (tests/test_local_cluster.py gotchas:
        # pin the interpreter + repo path for the executor workers).
        repo = os.path.dirname(os.path.abspath(__file__))
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = (
            repo + os.pathsep + os.environ.get("PYTHONPATH", "")
        )
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local-cluster[2,8,4096]")
            .appName("dta-spark-skew-probe-cluster")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "16")
            .config("spark.executorEnv.PYTHONPATH", repo)
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="dta-spark-skew-probe")
    load_table(spark, skew_dir, "events").count()  # warm FS cache
    tier = (
        F.when(F.col("user_events") >= HEAVY_USER_EVENTS, "heavy")
        .otherwise("light")
        .alias("user_tier")
    )

    def unsalted(sp, sf_dir):
        ev = load_table(sp, sf_dir, "events")
        dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_events"))
        return (
            ev.select("event_id", "user_id", "event_type", "props")
            .join(dim, "user_id")
            .groupBy("event_type", tier)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.length("props")).alias("payload"),
            )
        )

    def salted(sp, sf_dir):
        ev = load_table(sp, sf_dir, "events")
        dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_events"))
        dim_rep = dim.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(N_JOIN_SALTS - 1)))
        )
        fact = ev.select(
            "event_id",
            "user_id",
            "event_type",
            "props",
            F.pmod("event_id", F.lit(N_JOIN_SALTS)).alias("salt"),
        )
        return (
            fact.join(dim_rep, ["user_id", "salt"])
            .groupBy("event_type", tier)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.length("props")).alias("payload"),
            )
        )

    def hotsalted(sp, sf_dir):
        # The production form at large dim cardinality: only keys
        # above corpus/1000 fan out (bounded to <=1000 keys by
        # construction, so the hotness broadcast is bounded too);
        # cold keys join unsalted.  Blanket salting pays
        # O(|dim| x n_salts) replication, which at the second decade
        # (5M dim keys) costs more than the stuck reducer it avoids.
        ev = load_table(sp, sf_dir, "events")
        n = ev.count()  # parquet footer count — no data scan
        dim = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("user_events")
        )
        hot = dim.filter(F.col("user_events") * 1000 > n).select("user_id")
        fact = ev.select("event_id", "user_id", "event_type", "props")
        return (
            hot_salted_join(
                fact, dim, "user_id", hot, F.col("event_id"), N_JOIN_SALTS
            )
            .groupBy("event_type", tier)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.length("props")).alias("payload"),
            )
        )

    runs = [
        ("unsalted/noaqe", unsalted, {"spark.sql.adaptive.skewJoin.enabled": "false"}),
        ("unsalted/aqe", unsalted, {"spark.sql.adaptive.skewJoin.enabled": "true"}),
        ("salted/noaqe", salted, {"spark.sql.adaptive.skewJoin.enabled": "false"}),
        ("salted/aqe", salted, {"spark.sql.adaptive.skewJoin.enabled": "true"}),
        ("hotsalted/noaqe", hotsalted, {"spark.sql.adaptive.skewJoin.enabled": "false"}),
        ("hotsalted/aqe", hotsalted, {"spark.sql.adaptive.skewJoin.enabled": "true"}),
    ]
    out = {}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
    )
    for tag, fn, confs in runs:
        for k, v in confs.items():
            spark.conf.set(k, v)
        best = rows = None
        for _ in range(2):
            t0 = time.perf_counter()
            rows = fn(spark, skew_dir).count()
            dt = round(time.perf_counter() - t0, 2)
            best = dt if best is None or dt < best else best
        out[tag] = {"sec": best, "rows": rows}
        print(json.dumps({tag: best, "rows": rows}), flush=True)
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    if "--skew" in sys.argv:
        skew_probe()
        return
    if "--sf10" in sys.argv:
        sf10_probe()
        return
    if "--generate" in sys.argv or _stale(OUT):
        generate()
    from decision_tree_analytics_spark import operators
    from decision_tree_analytics_spark.session import get_spark
    from decision_tree_analytics_spark.sources.tables import load_table

    spark = get_spark(app_name="dta-spark-scale-probe")
    queries = operators.all_queries()
    names = NAMES
    if "--only" in sys.argv:  # probe a subset: --only name1,name2
        names = sys.argv[sys.argv.index("--only") + 1].split(",")
    out = {}
    for sf_dir, tag in [(BASE, "sf0.1"), (OUT, "sf1")]:
        for t in ("documents", "customer", "orders", "lineitem",
                  "supplier", "nation", "embeddings"):
            load_table(spark, sf_dir, t).count()
        spark.range(32).repartition(32).mapInPandas(
            lambda it: it, "id long"
        ).count()
        for name in names:
            best = None
            rows = None
            for _ in range(2):
                t0 = time.perf_counter()
                rows = queries[name](spark, sf_dir).count()
                dt = round(time.perf_counter() - t0, 2)
                best = dt if best is None or dt < best else best
            out[f"{tag}:{name}"] = {"sec": best, "rows": rows}
            print(json.dumps({tag: name, "sec": best, "rows": rows}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
