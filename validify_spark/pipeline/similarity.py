"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries are broadcast (they're small); the corpus side streams through
  one projection computing dot products with higher-order functions
  (zip_with + aggregate, all JVM codegen — no Python on the hot path).
- ``lsh_ann_topk``: random-hyperplane LSH — the 100 TB path. Signature
  bits from deterministic seeded planes; candidates = same-bucket rows
  only, exact cosine re-rank within bucket. Recall tunable via
  n_planes/n_tables.
- ``cosine_self_pairs``: embedding near-duplicate detection (all pairs
  with cosine ≥ threshold) via the same LSH bucketing.
"""

from __future__ import annotations

import random
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..session import literal_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, in doubles."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def _topk_per_key(scored: DataFrame, key_col: str, id_col: str,
                  k: int) -> DataFrame:
    """Distributed exact top-k per key over a (key, id, cosine) relation.

    NOT a per-key global window (Window.partitionBy(key) puts every
    scored row of a key into ONE task — a single-partition reduce that
    dies on a 10^9-row corpus). Instead: partial top-k per (key, input
    partition) via a map-side sorted-slice aggregation — each scan
    partition contributes at most |keys|·k survivors to the shuffle —
    then a tiny final merge of (n_partitions · k) rows per key.

    Ordering: cosine DESC, id ASC tie-break (structs sort
    field-by-field, so (-cosine, id) ascending). NULL cosines (e.g. a
    NULL embedding in the corpus) are dropped BEFORE ranking — struct
    sort would otherwise place null ahead of every value and a NULL row
    would take rank 1 from a real neighbor. Memory note: the partial
    collect_list buffers one partition's rows for one key before
    slicing — bounded by partition size, never by corpus size.

    Output: <key_col>, <id_col>, cosine (rounded 6), rank.

    The NULL filter runs AFTER a projection that carries the
    (nondeterministic) partition id: a plain ``.filter`` directly over
    the caller's scored projection gets pushed into the join with the
    whole cosine expression substituted — the plan then evaluates the
    interpreted higher-order cosine TWICE per pair (measured in
    cosine_topk's r5 plan: once in the BroadcastNestedLoopJoin
    condition, once in the projection). The nondeterministic column
    blocks that pushdown, so the cosine is computed exactly once."""
    item = F.struct((-F.col("cosine")).alias("__negcos"),
                    F.col(id_col).alias("__id"),
                    F.col("cosine").alias("__cos"))
    part = (scored
            .select(key_col, id_col, "cosine",
                    F.spark_partition_id().alias("__p"))
            .filter(F.col("cosine").isNotNull())
            .groupBy(key_col, "__p")
            .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k)
                  .alias("__top")))
    merged = (part
              .groupBy(key_col)
              .agg(F.slice(F.array_sort(
                       F.flatten(F.collect_list("__top"))), 1, k)
                    .alias("__top")))
    return (merged
            .select(key_col, F.posexplode("__top").alias("__pos", "__t"))
            .select(key_col,
                    F.col("__t.__id").alias(id_col),
                    F.round(F.col("__t.__cos"), 6).alias("cosine"),
                    (F.col("__pos") + 1).alias("rank")))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: <query_id_col>, <id_col>, cosine, rank. Queries must be
    small (broadcast); corpus can be arbitrarily large — the join is a
    broadcast nested loop over one corpus scan, and the top-k reduce is
    a partial-per-partition sorted slice + merge (see _topk_per_key), so
    no stage ever holds more than one scan partition's scores. For big
    corpora prefer lsh_ann_topk (skips scoring most of the corpus)."""
    # Precompute each side's norm ONCE (corpus norm per row, query norm
    # per query in the broadcast) instead of per (row x query) pair —
    # the higher-order dot/norm lambdas are interpreted per element, so
    # this cuts the per-pair array work to the single dot product. The
    # norm expression is identical to cosine()'s, so the quotient is
    # bit-identical.
    cvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qvec = F.transform(F.col("__qvec"), lambda x: x.cast("double"))
    q = F.broadcast(queries
                    .select(F.col(query_id_col),
                            F.col(vec_col).alias("__qvec"))
                    .select(query_id_col, qvec.alias("__qd"),
                            _norm(qvec).alias("__qn")))
    scored = (corpus.select(id_col, cvec.alias("__cd"),
                            _norm(cvec).alias("__cn"))
              .crossJoin(q)
              .select(query_id_col, id_col,
                      (_dot(F.col("__cd"), F.col("__qd"))
                       / (F.col("__cn") * F.col("__qn")))
                      .alias("cosine")))
    return _topk_per_key(scored, query_id_col, id_col, k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(n_planes)]


def lsh_signature(vec: Column, planes: Sequence[Sequence[float]]) -> Column:
    """Hyperplane-sign bucket id as a string of 0/1 bits."""
    bits = []
    for p in planes:
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(_dot(F.transform(vec,
                                            lambda x: x.cast("double")),
                                plane) >= 0, "1").otherwise("0"))
    return F.concat(*bits)


def _resolve_n_planes(corpus: DataFrame,
                      n_planes: Optional[int],
                      corpus_size: Optional[int],
                      target_bucket: int = 256) -> int:
    """n_planes=None ⇒ scale planes with the corpus (n_planes_for), so
    expected bucket size stays ~target_bucket as the corpus grows —
    fixed plane counts only suit one corpus magnitude. ``corpus_size``
    skips the count() scan when the caller already knows it (at 100 TB
    pass the catalog's row count)."""
    if n_planes is not None:
        return n_planes
    # NOTE: without corpus_size this runs corpus.count() EAGERLY (a
    # real Spark job at plan-construction time — cheap count-star over
    # parquet metadata, but a job nonetheless). At 10^9+ rows always
    # pass corpus_size (the catalog row count). Warned, not silent:
    # r3 changed the default from fixed plane counts to auto-scaling,
    # so existing callers both pay this job and can see different
    # bucket granularity — pass n_planes= to pin the old behavior.
    if corpus_size is None:
        import warnings
        warnings.warn(
            "n_planes=None with no corpus_size: running an eager "
            "corpus.count() to auto-scale LSH planes (default changed "
            "in r3 from fixed 8/10 planes). Pass corpus_size= to skip "
            "the job or n_planes= to pin a fixed count.",
            stacklevel=3)
    size = corpus_size if corpus_size is not None else corpus.count()
    return n_planes_for(size, target_bucket)


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id", dim: int = 64,
                 n_planes: Optional[int] = None, n_tables: int = 4,
                 seed: int = 42,
                 corpus_size: Optional[int] = None) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ≥1 of
    n_tables hyperplane tables; exact cosine re-rank inside buckets.
    Misses are possible (that's the trade) — recall grows with
    n_tables and shrinks with n_planes. Default n_planes=None scales
    the plane count with the corpus (see _resolve_n_planes).

    ONE corpus scan: all n_tables signatures are computed in a single
    projection and posexploded into (table, bucket) rows, instead of a
    union of per-table branches that each re-scan the corpus (at 100 TB
    the corpus scan dominates; the old shape cost n_tables scans)."""
    n_planes = _resolve_n_planes(corpus, n_planes, corpus_size)
    all_planes = [_hyperplanes(dim, n_planes, seed * 1000 + t)
                  for t in range(n_tables)]

    def sig_array(vec: Column) -> Column:
        return F.array(*[lsh_signature(vec, p) for p in all_planes])

    c_sig = corpus.select(
        id_col, vec_col,
        F.posexplode(sig_array(F.col(vec_col)))
         .alias("__t", "bucket"))
    q_sig = F.broadcast(queries.select(
        query_id_col,
        F.col(vec_col).alias("__qvec"),
        F.posexplode(sig_array(F.col(vec_col)))
         .alias("__t", "bucket")))
    cand = (c_sig.join(q_sig, ["__t", "bucket"])
            .select(query_id_col, id_col, vec_col, "__qvec")
            .dropDuplicates([query_id_col, id_col]))
    scored = cand.select(
        query_id_col, id_col,
        cosine(F.col(vec_col), F.col("__qvec")).alias("cosine"))
    return _topk_per_key(scored, query_id_col, id_col, k)


def n_planes_for(corpus_size: int, target_bucket: int = 256) -> int:
    """Plane count so the EXPECTED bucket size is ~target_bucket:
    2^n_planes buckets over corpus_size rows. At 10^9 vectors and
    target 256, that's 22 planes — the fixed default of 6-8 planes
    only suits ~10^4-10^5 corpora; planes must scale with the corpus
    or buckets blow up quadratically in the candidate join."""
    import math
    if corpus_size <= target_bucket:
        return 1
    return max(1, math.ceil(math.log2(corpus_size / target_bucket)))


def ann_recall_at_k(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    **lsh_kwargs) -> DataFrame:
    """Measured recall@k of lsh_ann_topk against the exact cosine_topk
    baseline, per query. LSH planes are seed-deterministic, so this is
    a reproducible quality metric, not a point sample.

    Output: <query_id_col>, n_exact, n_hits, recall_at_k."""
    exact = cosine_topk(corpus, queries, k, id_col, vec_col,
                        query_id_col).select(query_id_col, id_col)
    approx = lsh_ann_topk(corpus, queries, k, id_col, vec_col,
                          query_id_col, **lsh_kwargs) \
        .select(query_id_col, id_col)
    hits = (exact.join(approx, [query_id_col, id_col])
            .groupBy(query_id_col).agg(F.count("*").alias("n_hits")))
    return (exact.groupBy(query_id_col)
            .agg(F.count("*").alias("n_exact"))
            .join(hits, query_id_col, "left")
            .select(F.col(query_id_col),
                    F.col("n_exact"),
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    F.round(F.coalesce("n_hits", F.lit(0))
                            / F.col("n_exact"), 6).alias("recall_at_k")))


def cosine_self_pairs(corpus: DataFrame, threshold: float = 0.95,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int = 64, n_planes: Optional[int] = None,
                      n_tables: int = 4, seed: int = 42,
                      exact: bool = False,
                      corpus_size: Optional[int] = None) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold).

    exact=True does the full O(n²) self-join (small corpora / oracle
    checks); default is LSH-bucketed candidates + exact verify, with
    n_planes=None auto-scaled to the corpus (_resolve_n_planes)."""
    a = corpus.select(F.col(id_col).alias("id_a"),
                      F.col(vec_col).alias("__va"))
    b = corpus.select(F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("__vb"))
    if exact:
        cand = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        # one corpus scan: all tables' buckets in a single projection,
        # posexploded to (table, bucket); self-join on the pair
        n_planes = _resolve_n_planes(corpus, n_planes, corpus_size)
        all_planes = [_hyperplanes(dim, n_planes, seed * 1000 + t)
                      for t in range(n_tables)]
        sig = corpus.select(
            F.col(id_col), F.col(vec_col),
            F.posexplode(F.array(*[
                lsh_signature(F.col(vec_col), p) for p in all_planes]))
             .alias("__t", "bucket"))
        l = sig.select(F.col(id_col).alias("id_a"),
                       F.col(vec_col).alias("__va"), "__t", "bucket")
        r = sig.select(F.col(id_col).alias("id_b"),
                       F.col(vec_col).alias("__vb"), "__t", "bucket")
        cand = (l.join(r, ["__t", "bucket"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "__va", "id_b", "__vb")
                .dropDuplicates(["id_a", "id_b"]))
    return (cand
            .select("id_a", "id_b",
                    F.round(cosine(F.col("__va"), F.col("__vb")), 6)
                    .alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def ivf_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id", n_clusters: int = 16,
                 n_probe: int = 4, max_iter: int = 10, seed: int = 42,
                 train_fraction: Optional[float] = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the data-dependent
    complement to ``lsh_ann_topk``: k-means partitions the corpus into
    ``n_clusters`` cells (spherical-style — vectors are unit-normalized
    for training/assignment so Euclidean cells track cosine
    neighborhoods); each query probes only its ``n_probe`` nearest
    cells and re-ranks exactly (same cosine expression as the
    brute-force baseline) inside them. Recall grows with
    n_probe/n_clusters; n_probe >= n_clusters degenerates to exact.

    100 TB design: training runs on a ``train_fraction`` sample (pass
    one at scale — k-means only needs enough points per cell, not the
    corpus); cell assignment is ONE corpus scan through the fitted
    model's JVM transform; the probe list (|queries| x n_probe rows,
    with query vectors) is broadcast, so the candidate join adds NO
    corpus-side shuffle and scores only ~n_probe/n_clusters of the
    corpus. Centroids live driver-side (n_clusters x dim — tiny).
    NULL / zero-norm corpus vectors are excluded (they have no cosine
    neighbors). Output: <query_id_col>, <id_col>, cosine, rank.

    Cell boundaries are seed-deterministic for a fixed input
    partitioning, but k-means|| init can shift across repartitionings —
    quality is therefore gated by a measured recall test, not a fixed
    oracle (rows-only driver check, like lsh)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession

    def _unit(vec: Column) -> Column:
        d = F.transform(vec, lambda x: x.cast("double"))
        n = _norm(d)
        return F.transform(d, lambda x: x / n)

    base = (corpus.select(id_col, vec_col)
            .filter(F.col(vec_col).isNotNull())
            .filter(_norm(F.transform(F.col(vec_col),
                                      lambda x: x.cast("double"))) > 0)
            .withColumn("__feat", array_to_vector(_unit(F.col(vec_col)))))
    train = (base if train_fraction is None
             else base.sample(train_fraction, seed))
    model = KMeans(k=n_clusters, seed=seed, maxIter=max_iter,
                   featuresCol="__feat", predictionCol="__cell") \
        .fit(train.select("__feat"))
    assigned = model.transform(base).select(id_col, vec_col, "__cell")

    cents = literal_frame(
        spark, [{"__cell": i, "__cent": [float(x) for x in c]}
                for i, c in enumerate(model.clusterCenters())],
        "__cell int, __cent array<double>")
    qbase = (queries
             .select(query_id_col, F.col(vec_col).alias("__qvec"))
             .filter(F.col("__qvec").isNotNull()))
    # rank cells by the SAME metric the assignment used: Euclidean
    # distance from the unit-normalized vector to the raw centroid
    qdist = (qbase.crossJoin(F.broadcast(cents))
             .select(query_id_col, "__qvec", "__cell",
                     F.aggregate(
                         F.zip_with(_unit(F.col("__qvec")),
                                    F.col("__cent"),
                                    lambda x, y: (x - y) * (x - y)),
                         F.lit(0.0), lambda a, v: a + v).alias("__d2")))
    probes = (qdist
              .groupBy(query_id_col)
              .agg(F.slice(F.array_sort(F.collect_list(
                       F.struct(F.col("__d2"), F.col("__cell")))),
                   1, n_probe).alias("__cells"),
                   F.first("__qvec").alias("__qvec"))
              .select(query_id_col, "__qvec",
                      F.explode(F.col("__cells").getField("__cell"))
                       .alias("__cell")))
    scored = (assigned.join(F.broadcast(probes), "__cell")
              .select(query_id_col, id_col,
                      cosine(F.col(vec_col), F.col("__qvec"))
                      .alias("cosine")))
    return _topk_per_key(scored, query_id_col, id_col, k)
