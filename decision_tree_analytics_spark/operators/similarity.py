"""Similarity search over the ``embeddings`` table (64-dim float
vectors) — north-star ANN surface.

Three tiers:

* ``sim_cosine_topk`` — exact brute-force top-k for a bounded probe
  set: broadcast the probes, stream the corpus once, per-probe top-k
  via window rank.  The corpus is never shuffled; at 100 TB this is
  the correct "small probe batch × huge corpus" plan (cost O(N·k·d),
  one pass).
* ``sim_embed_nn`` — nearest neighbor with LSH-bucket candidate
  generation and exact-cosine scoring: the "embedding near-dup over a
  candidate set" pattern in its scale-true form (candidates come from
  the SRP buckets, never from a corpus-sized broadcast or subset).
* ``sim_ann_buckets`` — the scale path: sign-random-projection LSH.
  The 16 hyperplanes are content-derived (md5 of plane/dim indices →
  ±1), so bucketing is deterministic across engines and runs — no
  engine-seeded randomness.  ANN then probes only same-bucket
  candidates (bucket join), turning O(N²) into O(N·B) where B is
  bucket occupancy.

All cosine math is double-precision JVM expressions (zip_with +
aggregate); rounding to 6 decimals before ranking makes the order
identical across engines.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from decision_tree_analytics_spark.operators._cache import tether_cache
from decision_tree_analytics_spark.operators._parts import spread
from decision_tree_analytics_spark.operators._rules import hex_int, round6
from decision_tree_analytics_spark.sources.tables import load_table

N_PLANES = 16
DIM = 64


def _hyperplanes() -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign p,i = parity of the first
    md5 hex digit of "p:i".  Content-derived → identical in any
    engine/run; statistically indistinguishable from seeded ±1."""
    planes = []
    for p in range(N_PLANES):
        row = []
        for i in range(DIM):
            d = hashlib.md5(f"{p}:{i}".encode()).hexdigest()
            row.append(1 if int(d[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def _vecd(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _cos(a: str, b: str) -> Column:
    """Exact cosine of two array<double> columns; callers round it."""
    return _dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b)))


def _vectors(spark: SparkSession, sf_dir: str, *cols: str | Column) -> DataFrame:
    """The embeddings as (vec_id, v array<double>, *cols)."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _vecd("embedding").alias("v"), *cols
    )


def _probe_topk(scored: DataFrame, score: str, k: int) -> DataFrame:
    """Each probe's k best (probe_id, neighbor_id, score) rows by
    ``score`` desc, neighbor_id asc, numbered in a BIGINT ``rank``."""
    w = Window.partitionBy("probe_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", score, "rank")
    )


def _bucket_pairs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Every ordered same-SRP-bucket pair (bucket, id_a, va, id_b, vb),
    self-pairs included, and the persisted (vec_id, v, bucket) frame it
    reads, which the caller tethers to its result."""
    emb = _vectors(spark, sf_dir)
    both = emb.join(sim_ann_buckets(spark, sf_dir), "vec_id").persist()
    a = both.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), "bucket")
    b = both.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), "bucket")
    return a.join(b, ["bucket"]), both


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors for probes vec_id < 10 (SURVEY Q29)."""
    emb = _vectors(spark, sf_dir)
    probes = emb.select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    ).filter(F.col("probe_id") < 10)
    pairs = emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
    scored = pairs.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        round6(_cos("pv", "v")).alias("cos_sim"),
    )
    return _probe_topk(scored, "cos_sim", 5)


def sim_embed_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine nearest neighbor with LSH-bucket candidate
    generation: candidates are same-SRP-bucket pairs (sim_ann_buckets'
    deterministic 16-plane code), scored with EXACT cosine, keeping
    each vector's single best neighbor.

    This replaces the r2 form (vec_id % 25 subset + corpus broadcast,
    flagged in VERDICT r2 item 7): the candidate set is now bounded by
    bucket occupancy instead of growing linearly with the corpus, and
    the pairwise stage is a bucket equi-JOIN (shuffle on the bucket
    key), so no corpus-sized table is ever broadcast — locked by
    tests/test_plans.py::test_embed_nn_no_corpus_broadcast.  Vectors
    whose bucket holds no other member have no neighbor row (the
    recall/selectivity trade LSH makes by design; raise N_PLANES to
    tighten buckets, lower it to widen candidates)."""
    pairs, both = _bucket_pairs(spark, sf_dir)
    scored = pairs.filter(F.col("id_a") != F.col("id_b")).select(
        "id_a", "id_b", round6(_cos("va", "vb")).alias("cos_sim")
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cos_sim").desc(), F.col("id_b").asc())
    result = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_a").cast("long").alias("vec_id"),
            F.col("id_b").cast("long").alias("nn_id"),
            "cos_sim",
        )
    )
    return tether_cache(result, both)


def sim_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH bucket id per vector (scale path)."""
    emb = _vectors(spark, sf_dir)
    planes = _hyperplanes()
    bucket = None
    for p, signs in enumerate(planes):
        sv = F.array(*[F.lit(float(s)) for s in signs])
        bit = (_dot(F.col("v"), sv) > 0).cast("long") * (1 << p)
        bucket = bit if bucket is None else bucket + bit
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"), bucket.alias("bucket")
    )


def _sql_planes_values() -> str:
    """The same hyperplanes as a DuckDB VALUES list (p, i, sign)."""
    rows = []
    for p, signs in enumerate(_hyperplanes()):
        for i, s in enumerate(signs):
            rows.append(f"({p},{i},{s})")
    return ",".join(rows)


def sim_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: exact cosine ranking restricted to same-LSH-bucket
    candidates — the complete scale path (bucket equi-join instead of
    a cross join; recall traded via N_PLANES).

    At 100 TB: buckets are the shuffle key; each bucket's candidate
    set is small, so the pairwise stage is linear in Σ bucket².  Skewed
    (hot) buckets would be split by AQE skew-join handling."""
    pairs, both = _bucket_pairs(spark, sf_dir)
    scored = pairs.filter(F.col("id_a") != F.col("id_b")).select(
        "id_a", "id_b", round6(_cos("va", "vb")).alias("cos_sim")
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cos_sim").desc(), F.col("id_b").asc())
    result = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("id_a").cast("long").alias("vec_id"),
            F.col("id_b").cast("long").alias("neighbor_id"),
            "cos_sim",
            "rank",
        )
    )
    return tether_cache(result, both)


def sim_sq_topk(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Scalar-quantized (int8) ANN: per-dimension min/max over the
    corpus → 8-bit codes → approximate cosine against full-precision
    probes → top-k.

    The memory/shuffle tier between brute force and LSH/IVF: codes are
    64 bytes/vector instead of 512, so at 100 TB the quantized corpus
    is 8× cheaper to cache and scan; the standard refinement is an
    exact re-rank of the approximate top-k' (k' ≈ 4k) which touches
    only k'×probes full vectors.  Quantization params are exact
    per-dim MIN/MAX aggregates (no float-sum order sensitivity), so
    codes are bit-identical across engines and the query carries a
    full DuckDB oracle — unlike engine-seeded KMeans IVF."""
    emb = _vectors(spark, sf_dir)
    # 64-row per-dim stats, folded to one row of parallel arrays and
    # broadcast — the quantization "codebook".
    stats = (
        emb.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "mn", "mx"))).alias("s"))
        .select(
            F.transform("s", lambda t: t["mn"]).alias("mns"),
            F.transform("s", lambda t: t["mx"]).alias("mxs"),
        )
    )
    with_params = emb.crossJoin(F.broadcast(stats))
    # code = round((x-mn)/(mx-mn)*255); dequant = mn + code*(mx-mn)/255.
    # Arithmetic shapes mirror the oracle exactly (portable rounding).
    deq = F.transform(
        "v",
        lambda x, i: (
            F.when(
                F.element_at("mxs", i + 1) == F.element_at("mns", i + 1),
                F.element_at("mns", i + 1),
            ).otherwise(
                F.element_at("mns", i + 1)
                + F.floor(
                    (x - F.element_at("mns", i + 1))
                    / (F.element_at("mxs", i + 1) - F.element_at("mns", i + 1))
                    * 255
                    + 0.5
                )
                * (F.element_at("mxs", i + 1) - F.element_at("mns", i + 1))
                / 255
            )
        ),
    )
    corpus = with_params.select("vec_id", deq.alias("dv"))
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    pairs = corpus.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
    scored = pairs.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        round6(_cos("pv", "dv")).alias("approx_cos"),
    )
    return _probe_topk(scored, "approx_cos", k)


def sim_sq_refined_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, k_candidates: int = 20
) -> DataFrame:
    """SQ candidates → exact re-rank (the production two-stage ANN):
    the quantized pass proposes ``k_candidates`` per probe from 8-bit
    codes; only those pairs touch full-precision vectors for the
    exact cosine and final top-k.  At 100 TB the expensive stage reads
    probes×k' vectors instead of the corpus — the approximate pass
    bounds all full-precision IO."""
    cands = sim_sq_topk(spark, sf_dir, k=k_candidates).select(
        "probe_id", "neighbor_id"
    )
    emb = _vectors(spark, sf_dir)
    p = emb.select(F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    scored = (
        cands.join(p, "probe_id")
        .join(c, "neighbor_id")
        .select("probe_id", "neighbor_id", round6(_cos("pv", "cv")).alias("cos_sim"))
    )
    return _probe_topk(scored, "cos_sim", k)


PQ_SUB = 8  # dims per subspace (64-dim vectors → 8 subspaces)
PQ_ANCHOR_STEP = 7  # vec_id % STEP == 0 picks the codebook sample
PQ_BOOK_SIZE = 64  # fixed codebook size — independent of corpus size


def sim_pq_topk(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Product-quantization ANN with a content-derived codebook.

    Classic PQ splits each vector into PQ_SUB-dim subvectors and
    encodes each against a per-subspace codebook; the approximate
    score is the cosine against the reconstruction (concatenated
    codewords) — 8 small ints per vector instead of 64 floats, the
    memory tier below even int8 SQ (sim_sq_topk).

    Instead of engine-seeded KMeans codebooks (which force the
    rows-only check sim_ivf_topk lives with), the codebook is a
    deterministic corpus sample — the first PQ_BOOK_SIZE vectors with
    vec_id % PQ_ANCHOR_STEP == 0.  Sampled codebooks are the standard
    cheap KMeans init; the FIXED size keeps encode cost O(N·m·|C|)
    with |C| constant as the corpus grows (a codebook that scaled with
    N would make encoding quadratic-ish and useless at 100 TB).
    Determinism buys a full DuckDB oracle: subspace distances round to
    1e-6 before the argmin (anchor-id tie-break) so assignment is
    identical cross-engine.

    Scale: encoding is a broadcast join plus ONE shuffle of tiny rows.
    The corpus explodes into (vec_id, subspace, 8-dim subvector) rows,
    broadcast-joins the (subspace, anchor) table, and the subspace
    distance evaluates as UNROLLED arithmetic over the 8 sub-dims —
    plain whole-stage-codegen expressions, no higher-order functions
    (a lambda-based fold here was measured ~2× slower: each of the
    N·m·|C| pairs pays interpreted-eval overhead).  The argmin is a
    conditional `min(struct(d, aid, codeword))` per subspace inside a
    single groupBy(vec_id) — map-side partial aggregation collapses
    the |C| candidates per (vector, subspace) before the exchange, so
    the one shuffle carries m structs per vector, not m·|C|.  At
    100 TB: no vector ever shuffles at full width; shuffle volume is
    ~m·(8 doubles) per corpus row."""
    emb = _vectors(spark, sf_dir)
    n_sub = 64 // PQ_SUB
    to_subs = F.posexplode(
        F.array(*[F.slice("v", s * PQ_SUB + 1, PQ_SUB) for s in range(n_sub)])
    )
    subs = emb.select("vec_id", to_subs.alias("s", "sub"))
    anch = (
        emb.filter(F.col("vec_id") % PQ_ANCHOR_STEP == 0)
        .filter(F.col("vec_id") < PQ_ANCHOR_STEP * PQ_BOOK_SIZE)
        .select(F.col("vec_id").alias("aid"), to_subs.alias("s", "asub"))
    )
    # Unrolled L2 over the PQ_SUB dims: the same left-fold association
    # as a sequential sum, but pure codegen arithmetic.  Rounded to
    # 1e-6 before the argmin (anchor-id tie-break) for the cross-engine
    # assignment guarantee.
    terms = [
        (F.col("sub")[j] - F.col("asub")[j]) * (F.col("sub")[j] - F.col("asub")[j])
        for j in range(PQ_SUB)
    ]
    d = round6(sum(terms[1:], terms[0]))
    pairs = subs.join(F.broadcast(anch), "s").select(
        "vec_id",
        "s",
        F.struct(d.alias("d"), F.col("aid").alias("aid"), F.col("asub").alias("asub")).alias("e"),
    )
    recon = pairs.groupBy("vec_id").agg(
        F.flatten(
            F.array(
                *[F.min(F.when(F.col("s") == s, F.col("e")))["asub"] for s in range(n_sub)]
            )
        ).alias("rv")
    )
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    scored = recon.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        round6(_cos("pv", "rv")).alias("approx_cos"),
    )
    return _probe_topk(scored, "approx_cos", k)


def sim_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_clusters: int = 16,
    n_probe: int = 4,
    k: int = 5,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus, search
    only the ``n_probe`` nearest cells per probe.

    The second scale path next to LSH (sim_ann_buckets): cluster ids
    are the shuffle key; each query touches n_probe/n_clusters of the
    corpus.  At 100 TB the index build is a one-off job persisted as a
    (vec_id, cluster) table + tiny centroid table; here it runs
    inline.  KMeans is seeded but engine-specific → rows-only check;
    recall vs exact brute force is asserted in tests/test_similarity.py.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = _vectors(spark, sf_dir).withColumn("features", array_to_vector("v")).cache()
    km = KMeans(k=n_clusters, seed=12345, featuresCol="features", predictionCol="cluster")
    model = km.fit(vecs)
    assigned = model.transform(vecs).select("vec_id", "v", "cluster")

    # Tiny centroid table (n_clusters × dim) — broadcast to rank cells
    # per probe.
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster int, cv array<double>",
    )
    probes = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    probe_cells = probes.join(F.broadcast(centroids), how="cross").select(
        "probe_id",
        "pv",
        "cluster",
        _dot(F.col("pv"), F.col("cv")).alias("cdot"),
    )
    wc = Window.partitionBy("probe_id").orderBy(F.col("cdot").desc(), F.col("cluster"))
    chosen = (
        probe_cells.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= n_probe)
        .select("probe_id", "pv", "cluster")
    )

    cands = chosen.join(assigned, "cluster").filter(
        F.col("vec_id") != F.col("probe_id")
    )
    scored = cands.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        round6(_cos("pv", "v")).alias("cos_sim"),
    )
    result = _probe_topk(scored, "cos_sim", k)
    return tether_cache(result, vecs)


IVF_CELLS = 16  # fixed cell count — independent of corpus size
IVF_SEED_STEP = 7  # vec_id % STEP == 0 picks the seed sample
IVF_NPROBE = 4  # cells searched per probe


def _ivf_l2(vec: str, cen: str) -> Column:
    """Unrolled codegen L2 over the 64 dims, rounded 1e-6 (rule 9) —
    shared by the inline and snapshot-backed IVF paths."""
    terms = [
        (F.col(vec)[j] - F.col(cen)[j]) * (F.col(vec)[j] - F.col(cen)[j])
        for j in range(DIM)
    ]
    return round6(sum(terms[1:], terms[0]))


def _enc_argmin(d: Column, aid: Column, enc_k: int) -> Column:
    """Encode the (rounded distance, candidate id) argmin pair as ONE
    BIGINT: floor(d*1e6+0.5) * enc_k + aid.

    ``min(struct(d, aid))`` compiles to SortAggregate (struct agg
    buffers are not UnsafeRow-mutable), which full-sorts the corpus
    per assignment pass; a plain ``min(BIGINT)`` is a HashAggregate
    with map-side partial min — measured 2x on the sf0.1 assignment
    pass (OPTIMIZATION_r14.md).  The encoding is order-isomorphic to
    the struct: d is ALREADY rounded to 1e-6 (every call site rounds
    before the argmin — the cross-engine contract), so
    floor(d*1e6+0.5) recovers its exact integer micro value, and with
    0 <= aid < enc_k (callers pass a by-construction compile-time
    bound) lexicographic (d, aid) order equals integer order.  Bounds:
    micro must stay below 2^63/enc_k (~8e16 at enc_k=112), i.e.
    distances below ~8e10 — astronomically above any rounded L2
    between bounded-norm embeddings.  Decode: aid = enc % enc_k,
    micro = enc div enc_k."""
    return F.floor(d * 1e6 + 0.5).cast("long") * enc_k + aid


def _ivf_build(spark: SparkSession, sf_dir: str):
    """The deterministic IVF index build (seed sample → one unrolled
    Lloyd step → re-assign), extracted so sim_ivf_oracled (inline)
    and sim_ivf_snapshot (persisted) construct the IDENTICAL index.
    Returns (emb persisted, refined centroids, assignments)."""
    # 2 assignment passes + probes + exact re-rank
    emb = _vectors(spark, sf_dir).persist()
    seeds = emb.filter(
        (F.col("vec_id") % IVF_SEED_STEP == 0)
        & (F.col("vec_id") < IVF_SEED_STEP * IVF_CELLS)
    ).select(F.col("vec_id").alias("aid"), F.col("v").alias("cv"))

    def assign(cent: DataFrame) -> DataFrame:
        # nearest-cell argmin: min over the (d, aid) pair encoded as
        # one BIGINT (_enc_argmin) per vector — a HashAggregate whose
        # partial min collapses the |cells| rows map-side (the struct
        # formulation compiled to a corpus-wide SortAggregate).  ``v``
        # rides the grouping key (single-valued per vec_id) so no
        # array-typed agg buffer blocks the hash path; aid < STEP*CELLS
        # by the seed filter, and refined centroids keep their seed ids.
        enc_k = IVF_SEED_STEP * IVF_CELLS
        return (
            emb.crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                "v",
                _enc_argmin(_ivf_l2("v", "cv"), F.col("aid"), enc_k).alias(
                    "enc"
                ),
            )
            .groupBy("vec_id", "v")
            .agg(F.min("enc").alias("menc"))
            .select("vec_id", (F.col("menc") % enc_k).alias("cluster"), "v")
        )

    a1 = assign(seeds)
    # NOTE: a 64-per-dim avg-column rewrite of this mean stage was
    # A/B-measured and ran 3.5x SLOWER here: the probe/cell-ranking
    # stages consume cent2 several times, and element extraction over
    # an F.array(c0..c63) construction re-expands per consumer per
    # dim, blowing up codegen.  collect_list keeps cv an opaque
    # column.  (ml_kmeans_lloyd's single-consumer mean stage measured
    # config-dependent either way and keeps this same shape.)
    cent2 = (
        a1.select("cluster", F.posexplode("v").alias("i", "x"))
        .groupBy("cluster", "i")
        .agg(F.avg("x").alias("cx"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "cx"))),
                lambda s: s.getField("cx"),
            ).alias("cv")
        )
        .select(F.col("cluster").alias("aid"), "cv")
    )
    a2 = assign(cent2)
    return emb, cent2, a2


def sim_ivf_oracled(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """IVF ANN with a fully DuckDB-replayable index build — the
    hash-verified successor to ``sim_ivf_topk`` (whose engine-seeded
    KMeans forces a rows-only check).  Same IVF shape, deterministic
    construction:

    * seed cells with a content-derived corpus sample (``vec_id %
      IVF_SEED_STEP == 0``, capped at IVF_CELLS — the sampled-init
      codebook pattern of sim_pq_topk);
    * ONE Lloyd refinement step, unrolled: assign every vector to its
      nearest seed, recompute cell means;
    * re-assign against the refined centroids → the inverted lists;
    * per probe, rank cells by centroid distance, search only the
      IVF_NPROBE nearest cells, exact-cosine top-k inside them.

    Distances are UNROLLED codegen arithmetic over the 64 dims (no
    higher-order functions in the hot path — measured ~2× slower
    interpreted), rounded 1e-6 before every argmin/rank with the cell
    id as tie-break, so assignment and probing are identical
    cross-engine.  Scale: each assignment pass is a broadcast of the
    16-row centroid table + ONE shuffle whose map-side partial min
    collapses the 16 candidates per vector before the exchange;
    search touches n_probe/n_cells of the corpus.  At 100 TB the
    build is a one-off job persisted as a (vec_id, cell) table (the
    component_labels_snapshot pattern) — sim_ivf_snapshot IS that
    variant; here it runs inline."""
    emb, cent2, a2 = _ivf_build(spark, sf_dir)

    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    pc = probes.crossJoin(F.broadcast(cent2)).select(
        "probe_id", "pv", "aid", _ivf_l2("pv", "cv").alias("d")
    )
    wc = Window.partitionBy("probe_id").orderBy("d", "aid")
    chosen = (
        pc.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= IVF_NPROBE)
        .select("probe_id", "pv", F.col("aid").alias("cluster"))
    )
    cands = chosen.join(a2, "cluster").filter(
        F.col("vec_id") != F.col("probe_id")
    )
    scored = cands.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        round6(_cos("pv", "v")).alias("cos_sim"),
    )
    result = _probe_topk(scored, "cos_sim", k)
    return tether_cache(result, emb)


def _ivf_index_snapshot(spark: SparkSession, sf_dir: str):
    """Read-or-build the PERSISTED IVF index: assignments
    (vec_id, cluster) and centroids (aid, cv) as two SnapshotTables
    keyed on the embeddings parquet-footer md5 (the
    component_labels_snapshot identity — content-derived,
    object-storage-safe).  Audit before publish: every vector
    assigned exactly once, no assignment pointing at a missing
    centroid.  A crash between the two publishes self-heals: the
    reader needs BOTH tables, so a half-published index misses and
    rebuilds (publish is atomic per table)."""
    import os

    from decision_tree_analytics_spark.sources.snapshots import (
        NoPublishedSnapshot,
        SnapshotTable,
        snapshot_root,
    )
    from decision_tree_analytics_spark.sources.tables import parquet_footer_tag

    tag = parquet_footer_tag(os.path.join(sf_dir, "embeddings.parquet"))
    at = SnapshotTable(spark, os.path.join(snapshot_root(), f"ivf_assign_{tag}"))
    ct = SnapshotTable(spark, os.path.join(snapshot_root(), f"ivf_cent_{tag}"))
    try:
        return at.read(), ct.read()
    except NoPublishedSnapshot:
        pass
    emb, cent2, a2 = _ivf_build(spark, sf_dir)
    assignments = a2.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )
    n_emb = emb.count()
    n_a, n_d = assignments.agg(
        F.count(F.lit(1)), F.countDistinct("vec_id")
    ).first()
    if not (n_a == n_d == n_emb):
        raise RuntimeError(
            f"IVF assignment audit failed: {n_a} rows / {n_d} distinct "
            f"vec_ids for {n_emb} vectors"
        )
    orphans = (
        assignments.select("cluster")
        .distinct()
        .join(
            cent2.select(F.col("aid").alias("cluster")), "cluster", "left_anti"
        )
        .count()
    )
    if orphans:
        raise RuntimeError(f"IVF centroid audit failed: {orphans} orphan cells")
    sa = at.overwrite(assignments, publish=False)
    at.publish(sa)
    sc = ct.overwrite(cent2, publish=False)
    ct.publish(sc)
    emb.unpersist()
    return at.read(), ct.read()


def sim_ivf_snapshot(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """sim_ivf_oracled's probe search over the PERSISTED index — the
    production ANN shape at 100 TB: the index build (two assignment
    passes over every vector) is paid ONCE per corpus generation and
    published write-audit-publish; every search session reads the
    (vec_id, cluster) lists + 16-row centroid table and touches only
    nprobe/ncells of the corpus, re-joining candidate vectors by key.
    Same deterministic index, same probes, same output as
    sim_ivf_oracled — the oracle string is literally shared, which is
    itself the check that persistence changed the COST, not the
    answer."""
    assignments, cent = _ivf_index_snapshot(spark, sf_dir)
    emb = _vectors(spark, sf_dir).persist()  # probes + candidate re-join
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    pc = probes.crossJoin(F.broadcast(cent)).select(
        "probe_id", "pv", "aid", _ivf_l2("pv", "cv").alias("d")
    )
    wc = Window.partitionBy("probe_id").orderBy("d", "aid")
    chosen = (
        pc.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= IVF_NPROBE)
        .select("probe_id", "pv", F.col("aid").alias("cluster"))
    )
    cands = (
        chosen.join(assignments, "cluster")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .join(emb, "vec_id")
    )
    scored = cands.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        round6(_cos("pv", "v")).alias("cos_sim"),
    )
    result = _probe_topk(scored, "cos_sim", k)
    return tether_cache(result, emb)


IVF_DELTA_MOD = 10  # vec_id % MOD == RES is the arriving delta slice
IVF_DELTA_RES = 9


def sim_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE under corpus growth — the missing third
    leg of the ANN lifecycle (build: sim_ivf_oracled, serve:
    sim_ivf_snapshot, maintain: here).  The corpus is split into a
    base (``vec_id % IVF_DELTA_MOD != IVF_DELTA_RES``, 90%) and an
    arriving delta (10%); the index (seeds → one Lloyd step →
    re-assign) is built on the BASE ONLY, then the delta is assigned
    against the frozen base centroids — no Lloyd re-run, no touch of
    existing assignments.  Output: per-cell occupancy before/after
    (cluster, n_base, n_delta), the readout an operator watches to
    decide when drift warrants a full rebuild (sim_centroid_drift is
    the companion monitor).

    Scale: at 100 TB growth lands as new files; maintenance is ONE
    pass over the delta × a broadcast of the 16-row centroid table
    (map-side partial min collapses candidates before the exchange),
    then an append to the snapshot index — the dedup_incremental
    pattern applied to ANN.  The base build here runs inline so the
    whole pipeline stays DuckDB-replayable; in production it reads
    the published sim_ivf_snapshot tables."""
    emb = _vectors(spark, sf_dir).persist()  # 2 base + 1 delta assignment pass
    is_delta = F.col("vec_id") % IVF_DELTA_MOD == IVF_DELTA_RES
    base = emb.filter(~is_delta)
    delta = emb.filter(is_delta)
    seeds = base.filter(
        (F.col("vec_id") % IVF_SEED_STEP == 0)
        & (F.col("vec_id") < IVF_SEED_STEP * IVF_CELLS)
    ).select(F.col("vec_id").alias("aid"), F.col("v").alias("cv"))

    def assign(rows: DataFrame, cent: DataFrame) -> DataFrame:
        # Encoded-BIGINT argmin (see _enc_argmin / _ivf_build.assign):
        # HashAggregate instead of the struct-min SortAggregate.
        enc_k = IVF_SEED_STEP * IVF_CELLS
        return (
            rows.crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                "v",
                _enc_argmin(_ivf_l2("v", "cv"), F.col("aid"), enc_k).alias(
                    "enc"
                ),
            )
            .groupBy("vec_id", "v")
            .agg(F.min("enc").alias("menc"))
            .select("vec_id", (F.col("menc") % enc_k).alias("cluster"), "v")
        )

    a1 = assign(base, seeds)
    cent2 = (
        a1.select("cluster", F.posexplode("v").alias("i", "x"))
        .groupBy("cluster", "i")
        .agg(F.avg("x").alias("cx"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "cx"))),
                lambda s: s.getField("cx"),
            ).alias("cv")
        )
        .select(F.col("cluster").alias("aid"), "cv")
    )
    a2 = assign(base, cent2)
    a3 = assign(delta, cent2)
    nb = a2.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_base")
    )
    nd = a3.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_delta")
    )
    result = nb.join(nd, "cluster", "full_outer").select(
        F.col("cluster").cast("long").alias("cluster"),
        F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
        F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
    )
    return tether_cache(result, emb)


def sim_label_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label-quality scoring: Euclidean distance of
    each vector to its label's centroid, flagging outliers (dist >
    1.25× the label's mean distance) — the mislabeled-example filter
    of a training-data pipeline.

    Plan: posexplode → per-(label, dim) avg (map-side partials; the
    centroid table is |labels|×64 rows and BROADCASTS back onto the
    exploded stream), per-vector squared-error sum, then a second
    broadcast of per-label mean distances.  The corpus shuffles once
    (the per-vector re-aggregation); nothing quadratic anywhere, and
    centroids are mergeable partial sums so the same plan refreshes
    incrementally."""
    e = load_table(spark, sf_dir, "embeddings")
    e = spread(e, "vec_id")
    x = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "xf")
    ).withColumn("x", F.col("xf").cast("double"))
    cent = x.groupBy("label", "i").agg(F.avg("x").alias("c"))
    d = (
        x.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum((F.col("x") - F.col("c")) ** 2)).alias("dist"))
    )
    stats = d.groupBy(F.col("label").alias("s_label")).agg(
        F.avg("dist").alias("mean_dist")
    )
    return d.join(F.broadcast(stats), d.label == stats.s_label).select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        round6(F.col("dist")).alias("dist"),
        (F.col("dist") > 1.25 * F.col("mean_dist")).cast("long").alias("is_outlier"),
    )


RP_DIM = 8


def _rp_signs() -> list[list[int]]:
    """±1 random-projection matrix (RP_DIM × DIM), content-derived:
    sign j,k = parity of the first md5 hex digit of "rp:j:k" —
    the dense-projection sibling of _hyperplanes()'s bucketing use
    (achlioptas-style database-friendly random projection, with md5
    standing in for the RNG so both engines share the matrix)."""
    signs = []
    for j in range(RP_DIM):
        row = []
        for k in range(DIM):
            d = hashlib.md5(f"rp:{j}:{k}".encode()).hexdigest()
            row.append(1 if int(d[0], 16) % 2 == 0 else -1)
        signs.append(row)
    return signs


def _rp_terms(j: int, idx) -> str:
    """Unrolled ±CAST(embedding[k] AS DOUBLE) sum for output dim j.
    idx maps the 0-based dim to the engine's subscript (Spark arrays
    are 0-based, DuckDB 1-based); left-to-right addition order is
    identical on both sides, so the double arithmetic is bit-equal."""
    signs = _rp_signs()[j]
    return " ".join(
        f"{'+' if s > 0 else '-'} CAST(embedding[{idx(k)}] AS DOUBLE)"
        for k, s in enumerate(signs)
    ).lstrip("+ ")


def sim_rp_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction 64 → 8: r_j =
    Σ_k sign(j,k)·emb[k] with a content-derived ±1 matrix (the JL
    sketch used to cheapen downstream distance computations and as
    the front half of RP-tree / LSH indexes).

    The 8×64 sign sums are UNROLLED into codegen'd double arithmetic
    (same trick as sim_pq_topk's distance evaluation) — a narrow
    map over the corpus, no shuffle, no Python, no HOF-interpreter
    overhead; at 100 TB this pipelines with the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        *[
            round6(F.expr(_rp_terms(j, lambda k: k))).alias(f"r{j}")
            for j in range(RP_DIM)
        ],
    )


QUERIES = {
    "sim_cosine_topk": sim_cosine_topk,
    "sim_label_centroid_dist": sim_label_centroid_dist,
    "sim_embed_nn": sim_embed_nn,
    "sim_ann_buckets": sim_ann_buckets,
    "sim_ann_topk": sim_ann_topk,
    "sim_sq_topk": sim_sq_topk,
    "sim_sq_refined_topk": sim_sq_refined_topk,
    "sim_pq_topk": sim_pq_topk,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_ivf_oracled": sim_ivf_oracled,
    "sim_rp_reduce": sim_rp_reduce,
}

def _rp_oracle() -> str:
    cols = ", ".join(
        f"floor(({_rp_terms(j, lambda k: k + 1)}) * 1e6 + 0.5) / 1e6 AS r{j}"
        for j in range(RP_DIM)
    )
    return f"SELECT vec_id, {cols} FROM embeddings"


# Exploded (vec_id, dim index, double value) view of embeddings.
_SQL_EXPLODED = (
    "SELECT vec_id, generate_subscripts(embedding, 1) AS i,"
    " unnest(embedding)::DOUBLE AS x FROM embeddings"
)
_SQL_NORMS = "SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY vec_id"
# The SRP bucket of every vector as CTEs planes, e, pdots and buckets
# (vec_id, bucket): sim_ann_buckets' code, replayed.
_SQL_SRP_BUCKETS = (
    f"planes(p, i, s) AS (VALUES {_sql_planes_values()}),"
    f" e AS ({_SQL_EXPLODED}),"
    " pdots AS (SELECT e.vec_id, pl.p, sum(e.x * pl.s) AS dot"
    "   FROM e JOIN planes pl ON e.i = pl.i + 1 GROUP BY 1, 2),"
    " buckets AS (SELECT vec_id,"
    "   sum(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)"
    "     AS bucket FROM pdots GROUP BY vec_id)"
)

# Shared CTE block for the scalar-quantization oracles: per-dim
# min/max codebook → dequantized corpus → approximate cosine scores
# against full-precision probes (vec_id < 10).
_SQL_SQ_COMMON = (
    f"e AS ({_SQL_EXPLODED}),"
    " stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM e GROUP BY i),"
    " deq AS (SELECT vec_id, e.i,"
    "   CASE WHEN mx = mn THEN mn"
    "        ELSE mn + floor((x - mn) / (mx - mn) * 255 + 0.5)"
    "             * (mx - mn) / 255 END AS dx"
    "   FROM e JOIN stats ON e.i = stats.i),"
    " dnorms AS (SELECT vec_id, sqrt(sum(dx*dx)) AS nrm FROM deq GROUP BY vec_id),"
    f" pnorms AS ({_SQL_NORMS}),"
    " sq_dots AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,"
    "   sum(p.x * c.dx) AS dot"
    "   FROM e p JOIN deq c ON p.i = c.i"
    "   WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id GROUP BY 1, 2),"
    " sq_scored AS (SELECT probe_id, neighbor_id,"
    "   floor(dot / (np.nrm * nc.nrm) * 1e6 + 0.5) / 1e6 AS approx_cos"
    "   FROM sq_dots JOIN pnorms np ON probe_id = np.vec_id"
    "   JOIN dnorms nc ON neighbor_id = nc.vec_id)"
)

ORACLES = {
    "sim_label_centroid_dist": (
        f"WITH e AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,"
        "   unnest(embedding)::DOUBLE AS x FROM embeddings),"
        " cent AS (SELECT label, i, avg(x) AS c FROM e GROUP BY 1, 2),"
        " d AS (SELECT vec_id, e.label, sqrt(sum((x - c) * (x - c))) AS dist"
        "   FROM e JOIN cent ON e.label = cent.label AND e.i = cent.i"
        "   GROUP BY 1, 2),"
        " s AS (SELECT label, avg(dist) AS mean_dist FROM d GROUP BY 1)"
        " SELECT vec_id, CAST(d.label AS BIGINT) AS label,"
        " floor(dist * 1e6 + 0.5) / 1e6 AS dist,"
        " CAST(CASE WHEN dist > 1.25 * mean_dist THEN 1 ELSE 0 END AS BIGINT)"
        "   AS is_outlier"
        " FROM d JOIN s ON d.label = s.label"
    ),
    "sim_cosine_topk": (
        f"WITH e AS ({_SQL_EXPLODED}),"
        f" norms AS ({_SQL_NORMS}),"
        " dots AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,"
        "   sum(p.x * c.x) AS dot"
        "   FROM e p JOIN e c ON p.i = c.i AND p.vec_id < 10 AND c.vec_id <> p.vec_id"
        "   GROUP BY 1, 2),"
        " scored AS (SELECT probe_id, neighbor_id,"
        "   floor(dot / (np.nrm * nc.nrm) * 1e6 + 0.5) / 1e6 AS cos_sim"
        "   FROM dots JOIN norms np ON probe_id = np.vec_id"
        "   JOIN norms nc ON neighbor_id = nc.vec_id)"
        " SELECT probe_id, neighbor_id, cos_sim, rank FROM ("
        "   SELECT *, row_number() OVER (PARTITION BY probe_id"
        "     ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM scored)"
        " WHERE rank <= 5"
    ),
    "sim_embed_nn": (
        f"WITH {_SQL_SRP_BUCKETS},"
        f" norms AS ({_SQL_NORMS}),"
        " dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot"
        "   FROM e a JOIN buckets ba ON a.vec_id = ba.vec_id"
        "   JOIN buckets bb ON ba.bucket = bb.bucket"
        "   JOIN e b ON b.vec_id = bb.vec_id AND a.i = b.i"
        "   WHERE a.vec_id <> b.vec_id GROUP BY 1, 2),"
        " scored AS (SELECT id_a, id_b,"
        "   floor(dot / (na.nrm * nb.nrm) * 1e6 + 0.5) / 1e6 AS cos_sim"
        "   FROM dots JOIN norms na ON id_a = na.vec_id JOIN norms nb ON id_b = nb.vec_id)"
        " SELECT CAST(id_a AS BIGINT) AS vec_id, CAST(id_b AS BIGINT) AS nn_id, cos_sim"
        " FROM (SELECT *, row_number() OVER (PARTITION BY id_a"
        "   ORDER BY cos_sim DESC, id_b ASC) AS rn FROM scored) WHERE rn = 1"
    ),
    "sim_ann_buckets": (
        f"WITH planes(p, i, s) AS (VALUES {_sql_planes_values()}),"
        f" e AS ({_SQL_EXPLODED}),"
        " dots AS (SELECT e.vec_id, pl.p, sum(e.x * pl.s) AS dot"
        "   FROM e JOIN planes pl ON e.i = pl.i + 1 GROUP BY 1, 2)"
        " SELECT CAST(vec_id AS BIGINT) AS vec_id,"
        " CAST(sum(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)"
        "      AS BIGINT) AS bucket"
        " FROM dots GROUP BY vec_id"
    ),
    "sim_sq_topk": (
        f"WITH {_SQL_SQ_COMMON}"
        " SELECT probe_id, neighbor_id, approx_cos, CAST(rank AS BIGINT) AS rank"
        " FROM (SELECT *, row_number() OVER (PARTITION BY probe_id"
        "   ORDER BY approx_cos DESC, neighbor_id ASC) AS rank FROM sq_scored)"
        " WHERE rank <= 5"
    ),
    "sim_sq_refined_topk": (
        f"WITH {_SQL_SQ_COMMON},"
        " cand AS (SELECT probe_id, neighbor_id FROM ("
        "   SELECT *, row_number() OVER (PARTITION BY probe_id"
        "     ORDER BY approx_cos DESC, neighbor_id ASC) AS rank FROM sq_scored)"
        "   WHERE rank <= 20),"
        " xdots AS (SELECT c.probe_id, c.neighbor_id, sum(p.x * q.x) AS dot"
        "   FROM cand c JOIN e p ON p.vec_id = c.probe_id"
        "   JOIN e q ON q.vec_id = c.neighbor_id AND p.i = q.i"
        "   GROUP BY 1, 2),"
        " xscored AS (SELECT probe_id, neighbor_id,"
        "   floor(dot / (np.nrm * nc.nrm) * 1e6 + 0.5) / 1e6 AS cos_sim"
        "   FROM xdots JOIN pnorms np ON probe_id = np.vec_id"
        "   JOIN pnorms nc ON neighbor_id = nc.vec_id)"
        " SELECT probe_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank"
        " FROM (SELECT *, row_number() OVER (PARTITION BY probe_id"
        "   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM xscored)"
        " WHERE rank <= 5"
    ),
    "sim_pq_topk": (
        f"WITH e AS ({_SQL_EXPLODED}),"
        " sub AS (SELECT vec_id, CAST((i - 1) // 8 AS INT) AS s,"
        "   CAST((i - 1) % 8 AS INT) AS j, x FROM e),"
        " anch AS (SELECT vec_id AS aid, s, j, x AS ax FROM sub"
        "   WHERE vec_id % 7 = 0 AND vec_id < 448),"
        " dist AS (SELECT sub.vec_id, sub.s, aid,"
        "   floor(SUM((x - ax) * (x - ax)) * 1e6 + 0.5) / 1e6 AS d"
        "   FROM sub JOIN anch ON sub.s = anch.s AND sub.j = anch.j"
        "   GROUP BY 1, 2, 3),"
        " code AS (SELECT vec_id, s, aid FROM ("
        "   SELECT *, row_number() OVER (PARTITION BY vec_id, s"
        "     ORDER BY d ASC, aid ASC) AS rn FROM dist) WHERE rn = 1),"
        " recon AS (SELECT c.vec_id, a.s * 8 + a.j + 1 AS i, a.ax AS rx"
        "   FROM code c JOIN anch a ON c.aid = a.aid AND c.s = a.s),"
        " rnorms AS (SELECT vec_id, sqrt(sum(rx * rx)) AS nrm"
        "   FROM recon GROUP BY vec_id),"
        f" pnorms AS ({_SQL_NORMS}),"
        " dots AS (SELECT p.vec_id AS probe_id, r.vec_id AS neighbor_id,"
        "   sum(p.x * r.rx) AS dot"
        "   FROM e p JOIN recon r ON p.i = r.i"
        "   WHERE p.vec_id < 10 AND r.vec_id <> p.vec_id GROUP BY 1, 2),"
        " scored AS (SELECT probe_id, neighbor_id,"
        "   floor(dot / (np.nrm * nc.nrm) * 1e6 + 0.5) / 1e6 AS approx_cos"
        "   FROM dots JOIN pnorms np ON probe_id = np.vec_id"
        "   JOIN rnorms nc ON neighbor_id = nc.vec_id)"
        " SELECT probe_id, neighbor_id, approx_cos,"
        "   CAST(rank AS BIGINT) AS rank"
        " FROM (SELECT *, row_number() OVER (PARTITION BY probe_id"
        "   ORDER BY approx_cos DESC, neighbor_id ASC) AS rank FROM scored)"
        " WHERE rank <= 5"
    ),
    "sim_ann_topk": (
        f"WITH {_SQL_SRP_BUCKETS},"
        f" norms AS ({_SQL_NORMS}),"
        " dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot"
        "   FROM e a JOIN buckets ba ON a.vec_id = ba.vec_id"
        "   JOIN buckets bb ON ba.bucket = bb.bucket"
        "   JOIN e b ON b.vec_id = bb.vec_id AND a.i = b.i"
        "   WHERE a.vec_id <> b.vec_id GROUP BY 1, 2),"
        " scored AS (SELECT id_a, id_b,"
        "   floor(dot / (na.nrm * nb.nrm) * 1e6 + 0.5) / 1e6 AS cos_sim"
        "   FROM dots JOIN norms na ON id_a = na.vec_id"
        "   JOIN norms nb ON id_b = nb.vec_id)"
        " SELECT CAST(id_a AS BIGINT) AS vec_id, CAST(id_b AS BIGINT) AS neighbor_id,"
        " cos_sim, rank FROM ("
        "   SELECT *, row_number() OVER (PARTITION BY id_a"
        "     ORDER BY cos_sim DESC, id_b ASC) AS rank FROM scored)"
        " WHERE rank <= 3"
    ),
    "sim_rp_reduce": _rp_oracle(),
}


def _ivf_oracle() -> str:
    """Replays the deterministic IVF build relationally: seeds →
    assignment 1 → cell means → assignment 2 → probe-cell ranking →
    in-cell exact cosine top-k.  Every distance rounds 1e-6 before
    its argmin/rank with the cell id as tie-break, mirroring the
    Spark side exactly."""
    return f"""
WITH e AS ({_SQL_EXPLODED}),
seeds AS (SELECT vec_id AS aid, i, x FROM e
  WHERE vec_id % {IVF_SEED_STEP} = 0
    AND vec_id < {IVF_SEED_STEP * IVF_CELLS}),
d1 AS (SELECT e.vec_id, s.aid,
    floor(sum((e.x - s.x) * (e.x - s.x)) * 1e6 + 0.5) / 1e6 AS d
  FROM e JOIN seeds s ON s.i = e.i GROUP BY 1, 2),
a1 AS (SELECT vec_id, aid FROM (SELECT vec_id, aid,
    row_number() OVER (PARTITION BY vec_id ORDER BY d, aid) AS rn FROM d1)
  WHERE rn = 1),
c2 AS (SELECT a1.aid, e.i, avg(e.x) AS cx
  FROM e JOIN a1 USING (vec_id) GROUP BY 1, 2),
d2 AS (SELECT e.vec_id, c.aid,
    floor(sum((e.x - c.cx) * (e.x - c.cx)) * 1e6 + 0.5) / 1e6 AS d
  FROM e JOIN c2 c ON c.i = e.i GROUP BY 1, 2),
a2 AS (SELECT vec_id, aid FROM (SELECT vec_id, aid,
    row_number() OVER (PARTITION BY vec_id ORDER BY d, aid) AS rn FROM d2)
  WHERE rn = 1),
pc AS (SELECT e.vec_id AS probe_id, c.aid,
    floor(sum((e.x - c.cx) * (e.x - c.cx)) * 1e6 + 0.5) / 1e6 AS d
  FROM e JOIN c2 c ON c.i = e.i WHERE e.vec_id < 10 GROUP BY 1, 2),
cells AS (SELECT probe_id, aid FROM (SELECT probe_id, aid,
    row_number() OVER (PARTITION BY probe_id ORDER BY d, aid) AS rn FROM pc)
  WHERE rn <= {IVF_NPROBE}),
cand AS (SELECT c.probe_id, a2.vec_id AS neighbor_id
  FROM cells c JOIN a2 ON a2.aid = c.aid
  WHERE a2.vec_id <> c.probe_id),
dots AS (SELECT cd.probe_id, cd.neighbor_id, sum(pe.x * ne.x) AS dot
  FROM cand cd
  JOIN e pe ON pe.vec_id = cd.probe_id
  JOIN e ne ON ne.vec_id = cd.neighbor_id AND ne.i = pe.i
  GROUP BY 1, 2),
norms AS ({_SQL_NORMS}),
scored AS (SELECT d.probe_id, d.neighbor_id,
    floor(d.dot / (np.nrm * nn.nrm) * 1e6 + 0.5) / 1e6 AS cos_sim
  FROM dots d
  JOIN norms np ON np.vec_id = d.probe_id
  JOIN norms nn ON nn.vec_id = d.neighbor_id)
SELECT CAST(probe_id AS BIGINT) AS probe_id,
  CAST(neighbor_id AS BIGINT) AS neighbor_id, cos_sim,
  CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM scored)
WHERE rank <= 5
"""


ORACLES["sim_ivf_oracled"] = _ivf_oracle()
QUERIES["sim_ivf_snapshot"] = sim_ivf_snapshot
# Literally the same oracle: persistence must change the cost, not
# the answer.
ORACLES["sim_ivf_snapshot"] = _ivf_oracle()


def _ivf_incremental_oracle() -> str:
    """Replays the base-only build, then the frozen-centroid delta
    assignment, then the per-cell occupancy counts.  Same rounding /
    tie-break discipline as _ivf_oracle."""
    return f"""
WITH e AS ({_SQL_EXPLODED}),
base AS (SELECT * FROM e
  WHERE vec_id % {IVF_DELTA_MOD} <> {IVF_DELTA_RES}),
delta AS (SELECT * FROM e
  WHERE vec_id % {IVF_DELTA_MOD} = {IVF_DELTA_RES}),
seeds AS (SELECT vec_id AS aid, i, x FROM base
  WHERE vec_id % {IVF_SEED_STEP} = 0
    AND vec_id < {IVF_SEED_STEP * IVF_CELLS}),
d1 AS (SELECT b.vec_id, s.aid,
    floor(sum((b.x - s.x) * (b.x - s.x)) * 1e6 + 0.5) / 1e6 AS d
  FROM base b JOIN seeds s ON s.i = b.i GROUP BY 1, 2),
a1 AS (SELECT vec_id, aid FROM (SELECT vec_id, aid,
    row_number() OVER (PARTITION BY vec_id ORDER BY d, aid) AS rn FROM d1)
  WHERE rn = 1),
c2 AS (SELECT a1.aid, b.i, avg(b.x) AS cx
  FROM base b JOIN a1 USING (vec_id) GROUP BY 1, 2),
d2 AS (SELECT b.vec_id, c.aid,
    floor(sum((b.x - c.cx) * (b.x - c.cx)) * 1e6 + 0.5) / 1e6 AS d
  FROM base b JOIN c2 c ON c.i = b.i GROUP BY 1, 2),
a2 AS (SELECT vec_id, aid FROM (SELECT vec_id, aid,
    row_number() OVER (PARTITION BY vec_id ORDER BY d, aid) AS rn FROM d2)
  WHERE rn = 1),
d3 AS (SELECT t.vec_id, c.aid,
    floor(sum((t.x - c.cx) * (t.x - c.cx)) * 1e6 + 0.5) / 1e6 AS d
  FROM delta t JOIN c2 c ON c.i = t.i GROUP BY 1, 2),
a3 AS (SELECT vec_id, aid FROM (SELECT vec_id, aid,
    row_number() OVER (PARTITION BY vec_id ORDER BY d, aid) AS rn FROM d3)
  WHERE rn = 1),
nb AS (SELECT aid, count(*) AS n FROM a2 GROUP BY aid),
nd AS (SELECT aid, count(*) AS n FROM a3 GROUP BY aid)
SELECT CAST(COALESCE(nb.aid, nd.aid) AS BIGINT) AS cluster,
  CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_base,
  CAST(COALESCE(nd.n, 0) AS BIGINT) AS n_delta
FROM nb FULL OUTER JOIN nd ON nb.aid = nd.aid
"""


QUERIES["sim_ivf_incremental"] = sim_ivf_incremental
ORACLES["sim_ivf_incremental"] = _ivf_incremental_oracle()


SWEEP_THRESHOLDS = (0.5, 0.7, 0.8, 0.9)


def sim_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup threshold tuning readout: over the SRP-bucket
    candidate pairs, how many survive each cosine cutoff — the sweep
    a pipeline owner runs BEFORE committing to the 0.9 the near-dup
    pass (dedup_embedding_neardup) uses, in one candidate pass
    instead of one pass per threshold.

    Candidates remain LSH-bounded (never all-pairs), so the counts
    are recall-bounded-by-bucketing at low thresholds by design —
    the same bound the production near-dup path lives with.  One
    conditional aggregate over the scored pairs; the output is pure
    counts, so a zero-candidate corpus just yields an all-zero row."""
    pairs, both = _bucket_pairs(spark, sf_dir)
    scored = pairs.filter(F.col("id_a") < F.col("id_b")).select(
        round6(_cos("va", "vb")).alias("c")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_candidates")]
    for t in SWEEP_THRESHOLDS:
        tag = str(t).replace("0.", "")
        aggs.append(
            F.sum((F.col("c") >= t).cast("long")).cast("long").alias(f"n_{tag}")
        )
    result = scored.agg(*aggs)
    return tether_cache(result, both)


def _threshold_sweep_oracle() -> str:
    conds = ", ".join(
        "CAST(sum(CASE WHEN c >= {t} THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_{tag}".format(t=t, tag=str(t).replace("0.", ""))
        for t in SWEEP_THRESHOLDS
    )
    return (
        f"WITH {_SQL_SRP_BUCKETS},"
        f" norms AS ({_SQL_NORMS}),"
        " dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
        "     sum(a.x * b.x) AS dot"
        "   FROM e a JOIN buckets ba ON a.vec_id = ba.vec_id"
        "   JOIN buckets bb ON ba.bucket = bb.bucket"
        "   JOIN e b ON b.vec_id = bb.vec_id AND a.i = b.i"
        "   WHERE a.vec_id < b.vec_id GROUP BY 1, 2),"
        " scored AS (SELECT floor(dot / (na.nrm * nb.nrm) * 1e6 + 0.5) / 1e6"
        "     AS c"
        "   FROM dots JOIN norms na ON id_a = na.vec_id"
        "   JOIN norms nb ON id_b = nb.vec_id)"
        f" SELECT CAST(count(*) AS BIGINT) AS n_candidates, {conds} FROM scored"
    )


QUERIES["sim_threshold_sweep"] = sim_threshold_sweep
ORACLES["sim_threshold_sweep"] = _threshold_sweep_oracle()


# Fixed probe set for the ANN recall meta-eval: a CONSTANT count, so
# the exact ground truth stays a bounded broadcast join at any corpus
# size (the same "fixed probes" move ml_knn_classify makes).
ANN_EVAL_PROBE_MAX = 32
ANN_EVAL_K = 3
# The eval searches a COARSER code than the 16-plane production
# bucket: the low-8-plane prefix (bucket % 256) — at the tested
# corpus sizes the full 2^16 code makes nearly every bucket a
# singleton and the instrument would measure an empty candidate set.
# Prefix-coarsening an SRP code is the standard multi-resolution
# move (dropping planes only MERGES buckets, never splits them).
ANN_EVAL_COARSE = 256


def sim_srp_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the SRP-bucketed ANN path against EXACT
    brute-force ground truth — the vector-space twin of
    dedup_lsh_recall_eval, and the number a pipeline owner tunes
    N_PLANES against: per fixed probe, the exact cosine top-k over
    the whole corpus vs the top-k the bucket-restricted search
    (sim_ann_topk's shape) returns.

    Ground truth is probes × corpus with the PROBES broadcast — the
    probe set is a fixed 32-id list, so the broadcast is constant-size
    and the scan stays one corpus pass at any scale; the ANN side is
    the production bucket equi-join restricted to the same probes.
    Both rankings round cosine 1e-6 BEFORE the rank window and
    tie-break on neighbor_id, so the two engines produce identical
    top-k SETS.  Output: one row — probe/pair counts, recall@k and
    candidate precision.  A probe whose bucket holds fewer than k
    other members contributes fewer ANN rows (the recall cost LSH
    pays by design — this query is the instrument that prices it)."""
    emb = _vectors(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < ANN_EVAL_PROBE_MAX).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    scored_t = emb.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        round6(_cos("pv", "v")).alias("c"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("c").desc(), F.col("neighbor_id").asc()
    )
    truth = (
        scored_t.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ANN_EVAL_K)
        .select("probe_id", "neighbor_id", F.lit(1).alias("t"))
    )
    both = (
        emb.join(sim_ann_buckets(spark, sf_dir), "vec_id")
        .withColumn("cbucket", F.col("bucket") % ANN_EVAL_COARSE)
        .persist()
    )
    pa = both.filter(F.col("vec_id") < ANN_EVAL_PROBE_MAX).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"), "cbucket"
    )
    pb = both.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), "cbucket"
    )
    scored_a = (
        pa.join(pb, ["cbucket"])
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", round6(_cos("pv", "nv")).alias("c"))
    )
    ann = (
        scored_a.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= ANN_EVAL_K)
        .select("probe_id", "neighbor_id", F.lit(1).alias("a"))
    )
    j = truth.join(ann, ["probe_id", "neighbor_id"], "full_outer")
    agg = j.agg(
        F.countDistinct("probe_id").cast("long").alias("n_probes"),
        F.count("t").cast("long").alias("n_truth"),
        F.count("a").cast("long").alias("n_ann"),
        F.sum(F.coalesce(F.col("t"), F.lit(0)) * F.coalesce(F.col("a"), F.lit(0)))
        .cast("long")
        .alias("n_hit"),
    )
    result = agg.select(
        "n_probes",
        "n_truth",
        "n_ann",
        "n_hit",
        round6(F.col("n_hit") / F.nullif(F.col("n_truth"), F.lit(0))).alias(
            "recall"
        ),
        round6(F.col("n_hit") / F.nullif(F.col("n_ann"), F.lit(0))).alias(
            "ann_precision"
        ),
    )
    return tether_cache(result, both)


def _srp_recall_oracle() -> str:
    return (
        f"WITH {_SQL_SRP_BUCKETS},"
        f" norms AS ({_SQL_NORMS}),"
        " tdots AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,"
        "   sum(p.x * c.x) AS dot FROM e p JOIN e c ON p.i = c.i"
        f"   AND p.vec_id < {ANN_EVAL_PROBE_MAX}"
        "   AND c.vec_id <> p.vec_id GROUP BY 1, 2),"
        " tscored AS (SELECT probe_id, neighbor_id,"
        "   floor(dot / (np.nrm * nc.nrm) * 1e6 + 0.5) / 1e6 AS c"
        "   FROM tdots JOIN norms np ON probe_id = np.vec_id"
        "   JOIN norms nc ON neighbor_id = nc.vec_id),"
        " truth AS (SELECT probe_id, neighbor_id FROM ("
        "   SELECT *, row_number() OVER (PARTITION BY probe_id"
        "     ORDER BY c DESC, neighbor_id ASC) AS rk FROM tscored)"
        f"  WHERE rk <= {ANN_EVAL_K}),"
        " adots AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,"
        "   sum(a.x * b.x) AS dot"
        "   FROM e a JOIN buckets ba ON a.vec_id = ba.vec_id"
        f"   AND a.vec_id < {ANN_EVAL_PROBE_MAX}"
        f"   JOIN buckets bb ON ba.bucket % {ANN_EVAL_COARSE}"
        f"     = bb.bucket % {ANN_EVAL_COARSE}"
        "   JOIN e b ON b.vec_id = bb.vec_id AND a.i = b.i"
        "   WHERE a.vec_id <> b.vec_id GROUP BY 1, 2),"
        " ascored AS (SELECT probe_id, neighbor_id,"
        "   floor(dot / (np.nrm * nc.nrm) * 1e6 + 0.5) / 1e6 AS c"
        "   FROM adots JOIN norms np ON probe_id = np.vec_id"
        "   JOIN norms nc ON neighbor_id = nc.vec_id),"
        " ann AS (SELECT probe_id, neighbor_id FROM ("
        "   SELECT *, row_number() OVER (PARTITION BY probe_id"
        "     ORDER BY c DESC, neighbor_id ASC) AS rk FROM ascored)"
        f"  WHERE rk <= {ANN_EVAL_K}),"
        " j AS (SELECT coalesce(t.probe_id, a.probe_id) AS probe_id,"
        "   t.probe_id AS tp, a.probe_id AS ap"
        "   FROM truth t FULL JOIN ann a"
        "   ON t.probe_id = a.probe_id AND t.neighbor_id = a.neighbor_id),"
        " g AS (SELECT CAST(count(DISTINCT probe_id) AS BIGINT) AS n_probes,"
        "   CAST(count(tp) AS BIGINT) AS n_truth,"
        "   CAST(count(ap) AS BIGINT) AS n_ann,"
        "   CAST(sum(CASE WHEN tp IS NOT NULL AND ap IS NOT NULL"
        "     THEN 1 ELSE 0 END) AS BIGINT) AS n_hit FROM j)"
        " SELECT n_probes, n_truth, n_ann, n_hit,"
        "   floor(CAST(n_hit AS DOUBLE) / nullif(n_truth, 0) * 1e6 + 0.5)"
        "     / 1e6 AS recall,"
        "   floor(CAST(n_hit AS DOUBLE) / nullif(n_ann, 0) * 1e6 + 0.5)"
        "     / 1e6 AS ann_precision"
        " FROM g"
    )


QUERIES["sim_srp_recall_eval"] = sim_srp_recall_eval
ORACLES["sim_srp_recall_eval"] = _srp_recall_oracle()


def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-centroid drift between two deterministic
    hash splits — the embedding-space twin of ml_psi_drift: an
    encoder regression or a corpus shift moves a class's centroid,
    and the per-label L2 / cosine between the reference and live
    split centroids is the standard cheap monitor (full-distribution
    tests need pairwise work; centroid shift is one pass).

    One explode-aggregate reduces the corpus to the |labels| × 2 ×
    DIM mean grid (map-side combine carries (sum, count) partials);
    the shift metrics are windows over that bounded grid.  The md5
    split is content-derived (rule 6), dims stay JVM-side, and both
    engines compute the same rounded expression tree."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        (hex_int(F.md5(F.col("vec_id").cast("string"))) % 2).alias("split"),
        F.posexplode(_vecd("embedding")).alias("i", "x"),
    )
    g = e.groupBy("label", "split", "i").agg(
        F.avg("x").alias("m"), F.count(F.lit(1)).alias("n")
    )
    # pivot the two splits onto one row per (label, dim)
    w = (
        g.groupBy("label", "i")
        .agg(
            F.max(F.when(F.col("split") == 0, F.col("m"))).alias("m0"),
            F.max(F.when(F.col("split") == 1, F.col("m"))).alias("m1"),
            F.max(F.when(F.col("split") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("split") == 1, F.col("n"))).alias("n1"),
        )
    )
    agg = w.groupBy("label").agg(
        F.max("n0").cast("long").alias("n_ref"),
        F.max("n1").cast("long").alias("n_live"),
        F.sum((F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1")))
        .alias("sq"),
        F.sum(F.col("m0") * F.col("m1")).alias("dot"),
        F.sum(F.col("m0") * F.col("m0")).alias("s0"),
        F.sum(F.col("m1") * F.col("m1")).alias("s1"),
    )
    return agg.select(
        F.col("label").cast("long").alias("label"),
        "n_ref",
        "n_live",
        round6(F.sqrt(F.col("sq"))).alias("l2_shift"),
        round6(
            F.col("dot")
            / F.nullif(F.sqrt(F.col("s0")) * F.sqrt(F.col("s1")), F.lit(0.0))
        ).alias("centroid_cos"),
    )


QUERIES["sim_centroid_drift"] = sim_centroid_drift
ORACLES["sim_centroid_drift"] = f"""
WITH e AS (SELECT label,
    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 2
      AS split,
    generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS x
  FROM embeddings),
g AS (SELECT label, split, i, avg(x) AS m, count(*) AS n
  FROM e GROUP BY 1, 2, 3),
w AS (SELECT label, i,
    max(CASE WHEN split = 0 THEN m END) AS m0,
    max(CASE WHEN split = 1 THEN m END) AS m1,
    max(CASE WHEN split = 0 THEN n END) AS n0,
    max(CASE WHEN split = 1 THEN n END) AS n1
  FROM g GROUP BY 1, 2),
a AS (SELECT label,
    CAST(max(n0) AS BIGINT) AS n_ref, CAST(max(n1) AS BIGINT) AS n_live,
    sum((m0 - m1) * (m0 - m1)) AS sq,
    sum(m0 * m1) AS dot, sum(m0 * m0) AS s0, sum(m1 * m1) AS s1
  FROM w GROUP BY label)
SELECT CAST(label AS BIGINT) AS label, n_ref, n_live,
  floor(sqrt(sq) * 1e6 + 0.5) / 1e6 AS l2_shift,
  floor(dot / nullif(sqrt(s0) * sqrt(s1), 0.0) * 1e6 + 0.5) / 1e6
    AS centroid_cos
FROM a
"""


KM_K = 8  # clusters (seed sample size)
KM_SEED_STEP = 11  # vec_id % STEP == 0, first KM_K picks seed the cells
KM_ROUNDS = 3  # unrolled Lloyd iterations


def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-round Lloyd k-means over the 64-dim embeddings with a
    per-round convergence trace — the training-diagnostics counterpart
    of _ivf_build's single refinement step: where the IVF path wants an
    index, this wants the (round, cluster, n_points, inertia) curve an
    operator watches to pick K and the round budget.

    Round t assigns every vector to its nearest round-(t-1) centroid
    (c0 = the content-derived seed sample) and reports that
    assignment's inertia, so the reported sequence J(a1,c0) ≥ J(a2,c1)
    ≥ J(a3,c2) is non-increasing — the textbook monotonicity, asserted
    in tests up to per-row rounding slack.

    Determinism (rule 9): distances round 1e-6 before every argmin
    with the cluster id as tie-break; per-row inertia terms are the
    SAME rounded integral micro-units summed as BIGINT (order-free);
    centroid means are exact — float32 mantissas summed in double stay
    exactly representable at any corpus this side of 2^29 rows per
    cluster, the same argument _ivf_build's avg relies on.

    Scale: 3 assignment passes (broadcast ≤8-row centroid table + one
    map-side-collapsed min-struct shuffle each) and 2 mean passes
    (posexplode → (cluster, dim) partial aggregate, the _ivf_build
    shape) over ONE persisted projection of the corpus — 5
    bounded-shuffle passes total, the Lloyd cost model; nothing
    quadratic, nothing driver-side."""
    # Persisted PRE-PARTITIONED on vec_id: the means stage re-joins v
    # by vec_id (see assign), and with emb cached on the same
    # hashpartitioning as the argmin aggregate's output the join
    # needs NO exchange — the vector payload is shuffled exactly once
    # (at cache build) instead of riding every assignment exchange.
    emb = _vectors(spark, sf_dir).repartition("vec_id").persist()
    seeds = emb.filter(
        (F.col("vec_id") % KM_SEED_STEP == 0)
        & (F.col("vec_id") < KM_SEED_STEP * KM_K)
    ).select(F.col("vec_id").alias("aid"), F.col("v").alias("cv"))

    def assign(cent: DataFrame) -> DataFrame:
        # Encoded-BIGINT argmin (see _enc_argmin): HashAggregate with
        # map-side partial min instead of the struct-min corpus
        # SortAggregate.  aid < KM_SEED_STEP*KM_K by the seed filter
        # (mean rounds keep their seed ids); the winner's distance
        # decodes as enc div k, whose /1e6 is the IDENTICAL rounded
        # double the struct carried (floor(d*1e6+0.5) inverts exactly).
        # The vector payload stays OUT of the grouping key: the hash
        # path would otherwise hash/compare 512 bytes per input row
        # and the argmin exchange would carry it — means() re-joins v
        # from the persisted emb instead, so every assignment exchange
        # moves 16 bytes per vector.
        enc_k = KM_SEED_STEP * KM_K
        return (
            emb.crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                _enc_argmin(_ivf_l2("v", "cv"), F.col("aid"), enc_k).alias(
                    "enc"
                ),
            )
            .groupBy("vec_id")
            .agg(F.min("enc").alias("menc"))
            .select(
                "vec_id",
                (F.col("menc") % enc_k).alias("cluster"),
                (F.expr(f"menc div {enc_k}") / 1e6).alias("d"),
            )
        )

    def means(a: DataFrame) -> DataFrame:
        # Same shape as _ivf_build's mean stage.  A 64-per-dim-avg
        # column aggregate was A/B-measured against this posexplode
        # formulation: 2.2x faster at 8 shuffle partitions but equal
        # warm / 2x slower cold at 32 (codegen compile of the 64
        # aggregates + inlined array extractions), and 3.5x slower in
        # the multi-consumer IVF build.  Config-dependent noise, not
        # structure — keep the one stable shared shape.  v arrives by
        # re-joining the persisted emb on vec_id (see assign).
        return (
            a.select("cluster", "vec_id")
            .join(emb, "vec_id")
            .select("cluster", F.posexplode("v").alias("i", "x"))
            .groupBy("cluster", "i")
            .agg(F.avg("x").alias("cx"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("i", "cx"))),
                    lambda s: s.getField("cx"),
                ).alias("cv")
            )
            .select(F.col("cluster").alias("aid"), "cv")
        )

    def stats(a: DataFrame, rnd: int) -> DataFrame:
        return a.groupBy("cluster").agg(
            F.lit(rnd).cast("long").alias("round"),
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(F.floor(F.col("d") * 1e6 + 0.5)).cast("long").alias(
                "inertia_micro"
            ),
        )

    cent = seeds
    out = None
    for t in range(1, KM_ROUNDS + 1):
        a = assign(cent)
        s = stats(a, t)
        out = s if out is None else out.unionByName(s)
        if t < KM_ROUNDS:
            cent = means(a)
    result = out.select(
        "round", F.col("cluster").cast("long").alias("cluster"),
        "n_points", "inertia_micro",
    )
    return tether_cache(result, emb)


def _kmeans_oracle() -> str:
    rounds = []
    prev = "c0"
    for t in range(1, KM_ROUNDS + 1):
        rounds.append(
            f"d{t} AS (SELECT e.vec_id, c.aid,"
            "   floor(sum((e.x - c.x) * (e.x - c.x)) * 1e6 + 0.5) / 1e6 AS d"
            f"  FROM e JOIN {prev} c ON c.i = e.i GROUP BY 1, 2)"
        )
        rounds.append(
            f"a{t} AS (SELECT vec_id, aid, d FROM (SELECT vec_id, aid, d,"
            "   row_number() OVER (PARTITION BY vec_id ORDER BY d, aid) AS rn"
            f"  FROM d{t}) WHERE rn = 1)"
        )
        if t < KM_ROUNDS:
            rounds.append(
                f"c{t} AS (SELECT a{t}.aid, e.i, avg(e.x) AS x"
                f"  FROM e JOIN a{t} USING (vec_id) GROUP BY 1, 2)"
            )
        prev = f"c{t}"
    unions = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS round, CAST(aid AS BIGINT) AS cluster,"
        " CAST(count(*) AS BIGINT) AS n_points,"
        " CAST(sum(floor(d * 1e6 + 0.5)) AS BIGINT) AS inertia_micro"
        f" FROM a{t} GROUP BY aid"
        for t in range(1, KM_ROUNDS + 1)
    )
    return (
        f"WITH e AS ({_SQL_EXPLODED}),\n"
        "c0 AS (SELECT vec_id AS aid, i, x FROM e"
        f" WHERE vec_id % {KM_SEED_STEP} = 0"
        f" AND vec_id < {KM_SEED_STEP * KM_K}),\n"
        + ",\n".join(rounds)
        + "\n"
        + unions
    )


QUERIES["ml_kmeans_lloyd"] = ml_kmeans_lloyd
ORACLES["ml_kmeans_lloyd"] = _kmeans_oracle()


def sim_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table hygiene audit per label: vector count, dimension
    extrema (a ragged table breaks every downstream kernel), zero-
    vector count, and the norm distribution (min/max/mean) — the
    pre-flight run before building any index or training on vectors
    (bad norms ⇒ broken cosine; zero vectors ⇒ NaN poisoning).

    Determinism: each element's square is floor-scaled to an exact
    pico-unit BIGINT on the EXPLODED rows (exploded + groupBy keeps the
    pipeline whole-stage-codegen — the HOF-lane gotcha), so per-vector
    norm² is an exact integer sum in any order; per-vector norms then
    round to micro-unit BIGINTs before the per-label sums (rule 9's
    round-then-sum), and sqrt is IEEE-correctly-rounded hence portable.
    Scale: one explode shuffle keyed on vec_id (map-side combined),
    then a |labels|-row aggregate."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", "label", F.size("embedding").alias("dim"),
        F.posexplode("embedding").alias("i", "xf"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(
            F.col("xf").cast("double") * F.col("xf").cast("double") * 1e12 + 0.5
        ).cast("long").alias("sq_pico"),
    )
    per_vec = x.groupBy("vec_id", "label", "dim").agg(
        F.sum("sq_pico").cast("long").alias("normsq_pico")
    )
    norm_micro = F.floor(
        F.sqrt(F.col("normsq_pico").cast("double") / 1e12) * 1e6 + 0.5
    ).cast("long")
    pv = per_vec.select(
        "label", "dim", "normsq_pico", norm_micro.alias("norm_micro")
    )
    return pv.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("dim").cast("long").alias("min_dim"),
        F.max("dim").cast("long").alias("max_dim"),
        F.sum((F.col("normsq_pico") == 0).cast("long")).cast("long").alias(
            "n_zero"
        ),
        F.min("norm_micro").cast("long").alias("min_norm_micro"),
        F.max("norm_micro").cast("long").alias("max_norm_micro"),
        (
            F.floor(
                F.sum("norm_micro").cast("double")
                / F.count(F.lit(1)).cast("double")
                + 0.5
            )
        ).cast("long").alias("mean_norm_micro"),
    )


QUERIES["sim_embedding_audit"] = sim_embedding_audit
ORACLES["sim_embedding_audit"] = """
WITH x AS (
  SELECT vec_id, label, len(embedding) AS dim,
    CAST(floor(CAST(u.xf AS DOUBLE) * CAST(u.xf AS DOUBLE) * 1e12 + 0.5)
      AS BIGINT) AS sq_pico
  FROM embeddings, unnest(embedding) AS u(xf)),
per_vec AS (SELECT vec_id, label, dim,
    CAST(sum(sq_pico) AS BIGINT) AS normsq_pico
  FROM x GROUP BY 1, 2, 3),
pv AS (SELECT label, dim, normsq_pico,
    CAST(floor(sqrt(CAST(normsq_pico AS DOUBLE) / 1e12) * 1e6 + 0.5)
      AS BIGINT) AS norm_micro
  FROM per_vec)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(min(dim) AS BIGINT) AS min_dim,
  CAST(max(dim) AS BIGINT) AS max_dim,
  CAST(sum(CASE WHEN normsq_pico = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
  CAST(min(norm_micro) AS BIGINT) AS min_norm_micro,
  CAST(max(norm_micro) AS BIGINT) AS max_norm_micro,
  CAST(floor(CAST(sum(norm_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
    + 0.5) AS BIGINT) AS mean_norm_micro
FROM pv GROUP BY label
"""
