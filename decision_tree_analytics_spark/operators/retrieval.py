"""Retrieval operators over the ``documents`` / ``embeddings`` corpus
— keyword (BM25) search, hybrid keyword+vector fusion (RRF), and
diversity re-ranking (MMR).

These are the query-time operators a training-data / RAG pipeline
runs next to the dedup and ANN families (SURVEY §2 north-star
extensions; the reference itself delegates retrieval to its host —
its only scoring surface is the MLlib tree,
``src/main/java/co/cask/hydrator/plugin/SparkMLPredictor.java``).

Scale design:

* ``rel_bm25_topk`` — the inverted-index shape without building an
  index: one corpus scan computes per-doc lengths map-side (no
  explode needed for ``dl``); term frequencies explode ONLY the query
  terms' postings (the ``tok IN (...)`` filter sits under the
  explode's consumer, so the groupBy state is |matching docs × query
  terms|); the document-frequency table is |query terms| rows and
  broadcast; the per-doc score aggregate shuffles only matching docs.
  Global top-k lowers to ``TakeOrderedAndProject`` — no single-
  partition window over the corpus.
* ``sim_hybrid_rrf`` — reciprocal-rank fusion of the BM25 ranking
  and an exact-cosine ranking for one probe vector.  Both sides are
  reduced to bounded top-50 lists BEFORE ranks are assigned (rank
  windows run over ≤50 rows), so the fusion join is trivially small
  at any corpus size.
* ``sim_mmr_rerank`` — maximal-marginal-relevance greedy selection
  (Carbonell & Goldstein '98) over a bounded candidate set: the
  corpus contributes only its top-20 cosine candidates (one scan,
  TakeOrdered); the quadratic pairwise-similarity table and the five
  unrolled greedy steps touch just those 20 rows.  The candidate and
  pairwise tables are persisted (and tether-released) because the
  greedy steps reuse them 5×.

Cross-engine determinism (CLAUDE.md rules): all scores floor-rounded
at 1e-6 *before* any rank/argmax, with the id column as tie-break;
counts cast BIGINT; natural log only (identical libm results are not
assumed — rounding absorbs ulp drift).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from decision_tree_analytics_spark.operators._cache import tether_cache
from decision_tree_analytics_spark.operators._loop import iterate
from decision_tree_analytics_spark.operators._round import round6
from decision_tree_analytics_spark.operators.similarity import _cos, _vectors
from decision_tree_analytics_spark.sources.tables import load_table

# Query terms for the keyword side (fixed probe, like sim_* fix the
# probe vectors).  All four occur in the synthetic vocabulary.
BM25_TERMS = ("join", "hash", "window", "scan")
BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60
MMR_LAMBDA = 0.7
MMR_PICKS = 5  # greedy selections; the loop bound and the last-step
# truncation guard both derive from this one constant (ADVICE r14)


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, tok) with dl computed map-side (no extra shuffle:
    token count comes from the split array itself, not an explode)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    return docs.select(
        "doc_id",
        F.size(F.filter("toks", lambda t: t != "")).cast("long").alias("dl"),
        "toks",
    )


def _bm25_scores(spark: SparkSession, sf_dir: str):
    """(scored, tf): per-doc BM25 scores plus the PERSISTED postings
    table the plan must reuse.  Catalyst does not reuse the tf
    exchange across the document-frequency and score branches
    (verified: 3 corpus FileScans without the persist), so the
    bounded postings table — |docs matching a query term| × |query
    terms| slim rows — is cached: one corpus scan builds it, df_t and
    the score aggregate both read the cache, and the only other
    corpus pass is the map-only length/avgdl reduction.  The caller
    tethers ``tf`` to its result."""
    toks = _doc_tokens(spark, sf_dir)
    # Scalars: corpus size and average doc length (one map-only pass).
    stats = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    # Postings for the query terms only: the isin filter runs on the
    # exploded stream, so groupBy state is |matching docs x terms|.
    tf = (
        toks.select("doc_id", "dl", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist()
    )
    df_t = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .join(F.broadcast(stats), how="cross")
        .select(
            "doc_id",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(round6(F.sum("part")).alias("score"))
    )
    return scored, tf


def rel_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the fixed query ``join hash window scan``.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5))  (Lucene's non-negative form).
    """
    scored, tf = _bm25_scores(spark, sf_dir)
    top = scored.orderBy(F.desc("score"), "doc_id").limit(10)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return tether_cache(
        top.withColumn("rank", F.row_number().over(w).cast("long")), tf
    )


def _bm25_oracle_cte() -> str:
    """Shared DuckDB CTE chain producing bm25 (doc_id, score)."""
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS dl,
         string_split(text, ' ') AS arr
  FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM toks),
tf AS (
  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(arr) AS tok FROM toks)
  WHERE tok IN ({terms})
  GROUP BY doc_id, dl, tok),
df_t AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
bm25 AS (
  SELECT doc_id,
         floor(sum(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * ({BM25_K1} + 1))
           / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
         ) * 1e6 + 0.5) / 1e6 AS score
  FROM tf JOIN df_t USING (tok) CROSS JOIN stats
  GROUP BY doc_id)
"""


_BM25_SQL = f"""
WITH {_bm25_oracle_cte()}
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM bm25
ORDER BY score DESC, doc_id
LIMIT 10
"""


def _cosine_scores(spark: SparkSession, sf_dir: str, probe_id: int) -> DataFrame:
    """(vec_id, cos) — exact cosine of every corpus vector against the
    single broadcast probe vector (one scan, no corpus shuffle)."""
    emb = _vectors(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == probe_id).select(
        F.col("v").alias("pv")
    )
    return (
        emb.join(F.broadcast(probe), how="cross")
        .filter(F.col("vec_id") != probe_id)
        .select("vec_id", round6(_cos("pv", "v")).alias("cos"))
    )


_COS_CTE = """
e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY vec_id),
cosns AS (
  SELECT c.vec_id,
         floor(sum(p.x * c.x) / (max(np.nrm) * max(nc.nrm)) * 1e6 + 0.5) / 1e6 AS cos
  FROM e c
  JOIN e p ON p.i = c.i AND p.vec_id = 0 AND c.vec_id <> 0
  JOIN norms np ON np.vec_id = p.vec_id
  JOIN norms nc ON nc.vec_id = c.vec_id
  GROUP BY c.vec_id)
"""


def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25
    keyword ranking and the exact-cosine ranking for probe vector 0
    (documents and embeddings share ids).  Each side is cut to its
    top-50 BEFORE ranking, so rank windows and the fusion join are
    bounded at any corpus size; a doc missing from one side simply
    contributes nothing from it."""
    scored, tf = _bm25_scores(spark, sf_dir)
    bm25 = scored.orderBy(F.desc("score"), "doc_id").limit(50)
    wb = Window.orderBy(F.desc("score"), "doc_id")
    bm_rank = bm25.select(
        F.col("doc_id").alias("id"), F.row_number().over(wb).alias("kw_rank")
    )
    cos = (
        _cosine_scores(spark, sf_dir, 0)
        .orderBy(F.desc("cos"), "vec_id")
        .limit(50)
    )
    wc = Window.orderBy(F.desc("cos"), "vec_id")
    cos_rank = cos.select(
        F.col("vec_id").alias("id"), F.row_number().over(wc).alias("vec_rank")
    )
    fused = (
        bm_rank.join(cos_rank, "id", "full_outer")
        .select(
            "id",
            F.col("kw_rank").cast("long").alias("kw_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
            round6(
                F.coalesce(1.0 / (RRF_K + F.col("kw_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("vec_rank")), F.lit(0.0))
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "id")
        .limit(10)
    )
    return tether_cache(fused, tf)


_HYBRID_SQL = f"""
WITH {_bm25_oracle_cte()},
bm_top AS (SELECT doc_id, score FROM bm25 ORDER BY score DESC, doc_id LIMIT 50),
bm_rank AS (
  SELECT doc_id AS id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rank
  FROM bm_top),
{_COS_CTE.strip().rstrip()},
cos_top AS (SELECT vec_id, cos FROM cosns ORDER BY cos DESC, vec_id LIMIT 50),
cos_rank AS (
  SELECT vec_id AS id,
         CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS vec_rank
  FROM cos_top)
SELECT COALESCE(b.id, c.id) AS id, b.kw_rank, c.vec_rank,
       floor((COALESCE(1.0 / ({RRF_K} + b.kw_rank), 0)
            + COALESCE(1.0 / ({RRF_K} + c.vec_rank), 0)) * 1e6 + 0.5) / 1e6 AS rrf
FROM bm_rank b FULL OUTER JOIN cos_rank c ON b.id = c.id
ORDER BY rrf DESC, id
LIMIT 10
"""


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank: from probe 0's top-20
    cosine candidates, greedily pick 5 maximizing
    λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s),  λ=0.7.

    The corpus contributes one scan (TakeOrdered top-20); the
    pairwise-similarity table and the five unrolled greedy steps are
    20-row work.  Candidates and pairwise sims are persisted because
    each greedy step reuses them (tether-released).  Scores are
    rounded at 1e-6 before every argmax, vec_id as tie-break, so the
    selection is engine-deterministic."""
    cand = (
        _cosine_scores(spark, sf_dir, 0)
        .orderBy(F.desc("cos"), "vec_id")
        .limit(20)
        .withColumnRenamed("cos", "rel")
    )
    cand_vec = cand.join(_vectors(spark, sf_dir), "vec_id").persist()
    a = cand_vec.select(
        F.col("vec_id").alias("a"), F.col("v").alias("va")
    )
    b = cand_vec.select(
        F.col("vec_id").alias("b"), F.col("v").alias("vb")
    )
    pairs = (
        a.join(b, F.col("a") != F.col("b"))
        .select("a", "b", round6(_cos("va", "vb")).alias("sim"))
        .persist()
    )
    lam = MMR_LAMBDA
    sel = (
        cand_vec.select("vec_id", "rel")
        .orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("step"),
            "vec_id",
            round6(lam * F.col("rel")).alias("mmr"),
        )
    )

    def greedy_step(sel: DataFrame, i: int) -> DataFrame:
        step = i + 2
        chosen = sel.select("vec_id")
        remaining = cand_vec.select("vec_id", "rel").join(
            chosen, "vec_id", "left_anti"
        )
        penal = (
            pairs.join(chosen, pairs.b == chosen.vec_id)
            .groupBy("a")
            .agg(F.max("sim").alias("max_sim"))
        )
        nxt = (
            remaining.join(penal, remaining.vec_id == penal.a)
            .select(
                remaining.vec_id,
                round6(
                    lam * F.col("rel") - (1 - lam) * F.col("max_sim")
                ).alias("mmr"),
            )
            .orderBy(F.desc("mmr"), "vec_id")
            .limit(1)
            .select(F.lit(step).cast("long").alias("step"), "vec_id", "mmr")
        )
        return sel.unionByName(nxt)

    # ``sel`` is referenced TWICE per greedy step (the anti-join's
    # chosen set AND the output union), so it is checkpointed per step
    # — unrolled, it is a 10k-line formatted plan for 5 rows of state.
    sel = iterate(sel, greedy_step, MMR_PICKS - 1, 1)
    result = sel.orderBy("step")
    return tether_cache(result, cand_vec, pairs)


def _mmr_oracle() -> str:
    lam = MMR_LAMBDA
    parts = [
        f"""
WITH {_COS_CTE.strip()},
cand AS (SELECT vec_id, cos AS rel FROM cosns ORDER BY cos DESC, vec_id LIMIT 20),
pairs AS (
  SELECT ca.vec_id AS a, cb.vec_id AS b,
         floor(sum(ea.x * eb.x) / (max(na.nrm) * max(nb.nrm)) * 1e6 + 0.5) / 1e6 AS sim
  FROM cand ca JOIN cand cb ON ca.vec_id <> cb.vec_id
  JOIN e ea ON ea.vec_id = ca.vec_id
  JOIN e eb ON eb.vec_id = cb.vec_id AND eb.i = ea.i
  JOIN norms na ON na.vec_id = ca.vec_id
  JOIN norms nb ON nb.vec_id = cb.vec_id
  GROUP BY 1, 2),
s1 AS (
  SELECT CAST(1 AS BIGINT) AS step, vec_id,
         floor({lam} * rel * 1e6 + 0.5) / 1e6 AS mmr
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1)"""
    ]
    prev_sets = ["SELECT vec_id FROM s1"]
    for step in range(2, MMR_PICKS + 1):
        chosen = " UNION ALL ".join(prev_sets)
        parts.append(
            f""",
m{step} AS (
  SELECT c.vec_id,
         floor(({lam} * c.rel - {1 - lam:.1f} * max(p.sim)) * 1e6 + 0.5) / 1e6 AS mmr
  FROM cand c
  JOIN pairs p ON p.a = c.vec_id AND p.b IN ({chosen})
  WHERE c.vec_id NOT IN ({chosen})
  GROUP BY c.vec_id, c.rel),
s{step} AS (
  SELECT CAST({step} AS BIGINT) AS step, vec_id, mmr
  FROM m{step} ORDER BY mmr DESC, vec_id LIMIT 1)"""
        )
        prev_sets.append(f"SELECT vec_id FROM s{step}")
    union = " UNION ALL ".join(f"SELECT * FROM s{s}" for s in range(1, 6))
    parts.append(f"\n{union} ORDER BY step")
    return "".join(parts)


QUERIES = {
    "rel_bm25_topk": rel_bm25_topk,
    "sim_hybrid_rrf": sim_hybrid_rrf,
    "sim_mmr_rerank": sim_mmr_rerank,
}

ORACLES = {
    "rel_bm25_topk": _BM25_SQL,
    "sim_hybrid_rrf": _HYBRID_SQL,
    "sim_mmr_rerank": _mmr_oracle(),
}


# NDCG position discounts as INTEGER micro-unit literals, computed
# once in Python — both engines consume identical constants, so no
# libm log2 enters either plan (the rel_entropy ulp concern, solved
# by construction).
import math as _math

NDCG_DEPTH = 10
NDCG_KS = (1, 3, 5, 10)
_NDCG_DISC = {
    i: int(_math.floor(1e6 / _math.log2(i + 1) + 0.5))
    for i in range(1, NDCG_DEPTH + 1)
}


def ml_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality eval for the retrieval family: NDCG@k of the
    BM25 top-10 against a content-derived graded relevance (rel(d) =
    number of distinct query terms d contains, 0..4) — the metric a
    pipeline owner tracks when tuning k1/b or swapping rankers, next
    to sim_srp_recall_eval's ANN recall.

    Determinism: gains are integers (2^rel − 1 ≤ 15), the position
    discounts are the precomputed micro-unit literals above, so DCG
    and IDCG are exact BIGINT sums (order-independent, rule 9) and
    NDCG is one double division rounded 1e-6.  IDCG ranks ALL
    matching docs by (rel DESC, doc_id) — rule 5's unique tie-break.

    Scale: reuses _bm25_scores' single-corpus-scan postings (the
    persisted tf table feeds relevance, ranking, and ideal ranking);
    both rankings are bounded top-10 before any window; the k-grid
    is a 4-row broadcast."""
    scored, tf = _bm25_scores(spark, sf_dir)
    rel = tf.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("rel"))

    def disc(pos_col):
        expr = F.lit(None)
        for i, d in _NDCG_DISC.items():
            expr = F.when(pos_col == i, F.lit(d)).otherwise(expr)
        return expr.cast("long")

    def gains(ranked: DataFrame) -> DataFrame:
        g = (F.pow(F.lit(2.0), F.col("rel")).cast("long") - 1) * disc(
            F.col("pos")
        )
        return ranked.select("pos", g.alias("g"))

    w = Window.orderBy(F.desc("score"), "doc_id")
    top = (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(NDCG_DEPTH)
        .withColumn("pos", F.row_number().over(w))
        .join(rel, "doc_id")
    )
    wi = Window.orderBy(F.desc("rel"), "doc_id")
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(NDCG_DEPTH)
        .withColumn("pos", F.row_number().over(wi))
    )
    ks = F.broadcast(
        spark.createDataFrame([(k,) for k in NDCG_KS], "k int")
    )
    dcg = (
        gains(top)
        .crossJoin(ks)
        .filter(F.col("pos") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("g").cast("long").alias("dcg_micro"))
    )
    idcg = (
        gains(ideal)
        .crossJoin(ks)
        .filter(F.col("pos") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("g").cast("long").alias("idcg_micro"))
    )
    result = dcg.join(idcg, "k").select(
        F.col("k").cast("long").alias("k"),
        "dcg_micro",
        "idcg_micro",
        (
            round6(F.col("dcg_micro") / F.col("idcg_micro").cast("double"))
        ).alias("ndcg"),
    )
    return tether_cache(result, tf)


def _ndcg_oracle() -> str:
    disc_case = (
        "CASE pos "
        + " ".join(f"WHEN {i} THEN {d}" for i, d in _NDCG_DISC.items())
        + " END"
    )
    ks = ", ".join(str(k) for k in NDCG_KS)
    return f"""
WITH {_bm25_oracle_cte()},
rel AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS rel
  FROM tf GROUP BY doc_id),
top AS (SELECT doc_id,
    row_number() OVER (ORDER BY score DESC, doc_id) AS pos
  FROM bm25 ORDER BY score DESC, doc_id LIMIT {NDCG_DEPTH}),
dg AS (SELECT pos,
    (CAST(pow(2, rel) AS BIGINT) - 1) * ({disc_case}) AS g
  FROM top JOIN rel USING (doc_id)),
ideal AS (SELECT row_number() OVER (ORDER BY rel DESC, doc_id) AS pos, rel
  FROM rel ORDER BY rel DESC, doc_id LIMIT {NDCG_DEPTH}),
ig AS (SELECT pos,
    (CAST(pow(2, rel) AS BIGINT) - 1) * ({disc_case}) AS g
  FROM ideal),
ks AS (SELECT unnest([{ks}]) AS k),
dcg AS (SELECT k, CAST(sum(g) AS BIGINT) AS dcg_micro
  FROM ks JOIN dg ON dg.pos <= k GROUP BY k),
idcg AS (SELECT k, CAST(sum(g) AS BIGINT) AS idcg_micro
  FROM ks JOIN ig ON ig.pos <= k GROUP BY k)
SELECT CAST(k AS BIGINT) AS k, dcg_micro, idcg_micro,
  floor(dcg_micro / CAST(idcg_micro AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ndcg
FROM dcg JOIN idcg USING (k)
"""


QUERIES["ml_ndcg_eval"] = ml_ndcg_eval
ORACLES["ml_ndcg_eval"] = _ndcg_oracle()
