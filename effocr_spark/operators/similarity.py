"""Similarity search over embedding columns (array<float>).

The reference's recognition IS a similarity search: kNN of crop
embeddings against a broadcast prototype matrix
(/root/reference/infer_effocr_onnx_multi.py:372-375). These operators
generalize it to table-scale ANN for a training-data pipeline.

All dot products are JVM-side (zip_with + aggregate higher-order
functions) — no Python UDF in the scan path. The LSH-bucketed variant
is the 100 TB path: candidate generation by sign-random-projection
bucket join instead of a cross join.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _vec_lit(vec) -> F.Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def _as_double(a) -> F.Column:
    # promote BEFORE multiplying: float*float would round each product to
    # float32, losing parity with double-math oracles and precision at scale
    return F.transform(a, lambda x: x.cast("double"))


def dot(a, b) -> F.Column:
    """JVM-side dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )



def norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> F.Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(df: DataFrame, vec_col: str, id_col: str, query_vec,
                k: int = 5) -> DataFrame:
    """Brute-force cosine top-k vs one query vector (the exact baseline).

    Scale: a single scan with a JVM-side expression + TakeOrderedAndProject
    (no shuffle beyond the final top-k reduce) — this IS the right plan
    for one query at any scale; batch query sets use the bucketed path.
    """
    q = _vec_lit(query_vec)
    scored = df.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def centroid_knn_join(df: DataFrame, vec_col: str, id_col: str,
                      label_col: str) -> DataFrame:
    """Assign each vector to the nearest label centroid (broadcast kNN
    join — the relational spelling of the reference's prototype lookup).

    → (id, label, pred_label, score). Centroids computed by
    posexplode+groupBy (one shuffle over n_labels × dim rows), then
    broadcast to a crossJoin + per-id argmax.

    The argmax is groupBy + max(struct(score, -pred_label, ...)) rather
    than a row_number window: identical result (highest score, ties →
    lowest pred_label) but it partial-aggregates MAP-SIDE — shuffle rows
    = n_vectors, not n_vectors × n_labels, and no per-partition sort.
    """
    dims = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "v"))
    cent = (
        dims.groupBy(label_col, "pos").agg(F.avg("v").alias("m"))
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(F.col(label_col).alias("pred_label"),
                F.expr("transform(pm, x -> x.m)").alias("centroid"))
    )
    scored = (
        df.select(id_col, label_col, vec_col)
        .crossJoin(F.broadcast(cent))
        .withColumn("score", cosine(F.col(vec_col), F.col("centroid")))
    )
    best = scored.groupBy(id_col, label_col).agg(
        F.max(F.struct(
            F.col("score").alias("s"),
            (-F.col("pred_label")).alias("neg_pred"),
            F.col("pred_label").alias("pred_label"),
        )).alias("m"))
    return best.select(id_col, label_col,
                       F.col("m.pred_label").alias("pred_label"),
                       F.col("m.s").alias("score"))


def _srp_bucket_col(df: DataFrame, vec_col: str, n_planes: int,
                    seed: int, dim: int | None) -> F.Column:
    """The bit-packed sign-projection bucket expression (shared by
    srp_buckets and srp_neardup_pairs so both derive the identical
    bucket from the identical seeded hyperplanes)."""
    rng = np.random.RandomState(seed)
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = rng.standard_normal((n_planes, dim))
    bucket = None
    for i in range(n_planes):
        bit = (dot(F.col(vec_col), _vec_lit(planes[i])) > 0).cast("long")
        bucket = bit * (1 << i) if bucket is None else bucket + bit * (1 << i)
    return bucket


def srp_buckets(df: DataFrame, vec_col: str, id_col: str,
                n_planes: int = 8, seed: int = 7,
                dim: int | None = None) -> DataFrame:
    """Sign-random-projection LSH bucket per vector (the ANN scale path).

    The hyperplanes are a seeded driver-side constant folded into the
    plan (tiny literal matrix); bucket = bit-packed signs. Candidate
    pairs come from a groupBy/join on `bucket` — sub-quadratic.

    Pass `dim` explicitly: the fallback probe is a hidden driver action
    (an extra Spark job and a surprise in a lazy pipeline) kept only for
    interactive use.
    """
    bucket = _srp_bucket_col(df, vec_col, n_planes, seed, dim)
    return df.select(F.col(id_col), bucket.alias("bucket"))


def srp_neardup_pairs(df: DataFrame, vec_col: str, id_col: str,
                      threshold: float = 0.95, n_planes: int = 8,
                      seed: int = 7, dim: int | None = None,
                      max_bucket_size: int | None = None) -> DataFrame:
    """ANN near-dup pairs at scale: SRP-LSH buckets for candidate
    generation (sub-quadratic — only same-bucket ids pair up), exact
    cosine verify on the candidates. Recall vs the brute-force baseline
    is measured in tests; more planes → fewer candidates/lower recall,
    fewer → the reverse.

    ONE grouped Arrow stage: the bucket is tagged inline on the (id,
    vec) row, and each bucket's members are handed to a vectorized
    NumPy kernel that generates the i<j pairs and scores them in bulk.
    Scores are BIT-IDENTICAL to the JVM cosine expression (pinned by
    test against embedding_neardup_pairs): the elementwise product and
    a cumsum along the vector axis reproduce the zip_with + left-fold
    accumulation order exactly, and np.sqrt/np.divide are the same
    IEEE-754 ops. Plan: one exchange on `bucket`, and the quadratic
    per-pair scoring runs at NumPy speed instead of one interpreted
    lambda tree per candidate (guide §4: the boundary is crossed once
    per bucket, Arrow-batched, with only the needed columns). Rows
    whose bucket is NULL (a NULL vector or element) never pair; pairs
    involving a zero-norm vector, and NaN scores, are dropped.

    `max_bucket_size` quarantines degenerate hot buckets (near-zero /
    boilerplate vectors all hash to the same signs — guaranteed at web
    scale): a bucket of B members holds B²/2 candidate pairs, so a
    bucket above the cap emits nothing. Count the quarantined buckets
    with `oversize_buckets` and handle them by exact fingerprint dedup
    instead."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    bucket = _srp_bucket_col(df, vec_col, n_planes, seed, dim)
    tagged = df.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))

    # pair chunking bound: caps the (pairs × dim) product-matrix
    # temporary at ~8 MB regardless of bucket size, so an uncapped
    # degenerate bucket degrades to more chunks, never to an OOM
    chunk = 1 << 16

    def _pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        none = pdf[id_col].to_numpy()[:0]
        empty = pd.DataFrame({"id_a": none, "id_b": none,
                              "score": np.empty(0, np.float64)})
        # a NULL vector (or NULL element) has a NULL bucket: never pair
        # it. Dropped here, not by a filter ahead of the groupBy, which
        # Catalyst pushes below the projection — evaluating every
        # hyperplane dot twice per row
        if (pd.isna(key[0]) or n < 2
                or (max_bucket_size is not None and n > max_bucket_size)):
            return empty
        raw_ids = pdf[id_col].to_numpy()
        order = np.argsort(raw_ids, kind="stable")  # ids are unique
        ids = raw_ids[order]
        # float32 → float64 is exact, matching the expression's
        # cast-before-multiply promotion
        vs = np.array([np.asarray(v, np.float64)
                       for v in pdf[vec_col]], np.float64)[order]
        # norm = sqrt(left-fold(acc + x*x)): cumsum reproduces the fold
        # accumulation order bit-for-bit (0.0 + x0² == x0²)
        nr = np.sqrt((vs * vs).cumsum(axis=1)[:, -1])
        iu, ju = np.triu_indices(n, 1)  # sorted ids ⇒ id_a < id_b
        outs = []
        for lo in range(0, len(iu), chunk):
            ii, jj = iu[lo:lo + chunk], ju[lo:lo + chunk]
            prod = vs[ii] * vs[jj]
            dots = prod.cumsum(axis=1)[:, -1]
            den = nr[ii] * nr[jj]
            with np.errstate(divide="ignore", invalid="ignore"):
                score = dots / den
            # a zero divisor is the one case the JVM expression cannot
            # score (under spark.sql.ansi.enabled it raises
            # DIVIDE_BY_ZERO): this path drops those pairs. Overflowed
            # +inf scores are kept, as the JVM keeps them. NaN scores
            # (a NaN component) fail the >= here, while Spark would keep
            # them; the pandas → Arrow return could only carry them as
            # NULL, so they are dropped
            m = (den != 0) & (score >= threshold)
            if m.any():
                outs.append(pd.DataFrame({
                    "id_a": ids[ii[m]], "id_b": ids[jj[m]],
                    "score": score[m]}))
        return pd.concat(outs, ignore_index=True) if outs else empty

    return tagged.groupBy("bucket").applyInPandas(
        _pairs, f"id_a {id_type}, id_b {id_type}, score double")


def oversize_buckets(buckets: DataFrame, bucket_col: str,
                     max_bucket_size: int) -> DataFrame:
    """→ (bucket, bucket_size) of quarantined hot buckets — the metrics
    companion of the `max_bucket_size` cap (log the count, dedup those
    members by exact fingerprint instead of pairwise similarity)."""
    return (buckets.groupBy(bucket_col)
            .agg(F.count("*").alias("bucket_size"))
            .filter(F.col("bucket_size") > max_bucket_size))


def embedding_neardup_pairs(df: DataFrame, vec_col: str, id_col: str,
                            threshold: float = 0.95,
                            max_id: int | None = None) -> DataFrame:
    """Exact cosine near-dup pairs (a < b) above threshold — quadratic
    baseline; cap with max_id, or pre-bucket with srp_buckets at scale."""
    base = df if max_id is None else df.filter(F.col(id_col) < max_id)
    # same norm hoist as srp_neardup_pairs: pair work is one dot, the
    # per-vector norms are computed n times instead of n^2 times
    based = base.select(F.col(id_col), F.col(vec_col),
                        norm(F.col(vec_col)).alias("_nrm"))
    a = based.select(F.col(id_col).alias("id_a"),
                     F.col(vec_col).alias("va"), F.col("_nrm").alias("na"))
    b = based.select(F.col(id_col).alias("id_b"),
                     F.col(vec_col).alias("vb"), F.col("_nrm").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("score", dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def ivf_centroids(df: DataFrame, vec_col: str, id_col: str,
                  n_cells: int = 8, refine: int = 0) -> DataFrame:
    """Deterministic IVF cell centroids → (cell, centroid).

    Seeds are the n_cells LOWEST-id vectors via TakeOrderedAndProject —
    NOT `id < n_cells`, which silently yields fewer/zero centroids on
    sparse id spaces (url hashes, snowflake ids). A table with fewer
    than n_cells rows degrades to one cell per row (never the old
    silently-empty result). Cell labels are the seed ids (dense 0..n-1
    on dense-id tables, so existing oracles are unchanged).

    refine > 0 runs that many data-parallel Lloyd rounds: broadcast
    centroids → map-side argmax assign → posexplode + groupBy(cell,
    pos) avg — ONE shuffle of n_vectors×dim exploded rows per round
    (the centroid_knn_join spelling: a fixed 3-column aggregate, not a
    per-dimension F.avg fan-out that would put 768 aggregate
    expressions in the plan at production dims), same loop shape as
    dedup.connected_components. Empty cells keep their previous
    centroid (the standard k-means convention). No driver-side action
    anywhere in the build — an empty input yields an empty centroid
    table in the refined path too."""
    cents = (df.select(F.col(id_col).alias("cell"),
                       F.col(vec_col).alias("centroid"))
             .orderBy("cell").limit(n_cells))
    for _ in range(refine):
        assigned = _assign_to(df, vec_col, id_col, cents)
        dims = (df.select(id_col, vec_col)
                .join(assigned.select(id_col, "cell"), id_col)
                .select("cell", F.posexplode(F.col(vec_col))
                        .alias("pos", "v")))
        means = (dims.groupBy("cell", "pos").agg(F.avg("v").alias("m"))
                 .groupBy("cell")
                 .agg(F.array_sort(F.collect_list(
                     F.struct("pos", "m"))).alias("pm"))
                 .select("cell", F.expr("transform(pm, x -> x.m)")
                         .alias("new_centroid")))
        cents = (cents.join(means, "cell", "left")
                 .select("cell",
                         F.coalesce("new_centroid", "centroid")
                         .alias("centroid")))
    return cents


def _assign_to(df: DataFrame, vec_col: str, id_col: str,
               cents: DataFrame) -> DataFrame:
    """Assign every vector to its best cell given a centroid table:
    broadcast crossJoin + map-side max(struct) argmax (no window)."""
    scored = (df.select(id_col, vec_col)
              .crossJoin(F.broadcast(cents))
              .withColumn("score",
                          cosine(F.col(vec_col), F.col("centroid"))))
    best = scored.groupBy(id_col).agg(F.max(F.struct(
        F.col("score").alias("s"),
        (-F.col("cell")).alias("neg_cell"),
        F.col("cell").alias("cell"))).alias("m"))
    return best.select(id_col, F.col("m.cell").alias("cell"),
                       F.col("m.s").alias("cell_score"))


def ivf_assign(df: DataFrame, vec_col: str, id_col: str,
               n_cells: int = 8, refine: int = 0) -> DataFrame:
    """IVF coarse quantizer → (id, cell, cell_score). Deterministic
    lowest-id seeds (optionally Lloyd-refined, see ivf_centroids); the
    SCALE property IVF buys is the assign-then-probe plan shape.

    Plan: broadcast crossJoin (n_cells rows — always broadcastable) +
    the map-side max(struct) argmax, same shape as centroid_knn_join:
    shuffle rows = n_vectors, no window sort."""
    cents = ivf_centroids(df, vec_col, id_col, n_cells, refine)
    return _assign_to(df, vec_col, id_col, cents)


def _pyfold_cosine(a, b) -> float:
    """Driver-side replica of the JVM cosine expression with the SAME
    accumulation order (cast-to-double per element, left-fold adds,
    product of norms, one divide) — Python floats are the same IEEE-754
    doubles, so the value is bit-identical. Raises ZeroDivisionError on
    a zero norm (callers fall back to the Spark plan)."""
    import math

    d = 0.0
    for x, y in zip(a, b):
        d += float(x) * float(y)
    na = 0.0
    for x in a:
        na += float(x) * float(x)
    nb = 0.0
    for y in b:
        nb += float(y) * float(y)
    return d / (math.sqrt(na) * math.sqrt(nb))


def ivf_topk(df: DataFrame, vec_col: str, id_col: str, query_vec,
             k: int = 5, nprobe: int = 2, n_cells: int = 8,
             refine: int = 0) -> DataFrame:
    """IVF ANN query: rank cells by query↔centroid cosine, search the
    top-nprobe cells EXACTLY. → (id, cell, score), the approximate
    top-k (recall < 1 by design when the true neighbor lives in an
    unprobed cell — that's the accuracy/cost dial).

    At 100 TB the assignment is precomputed once and the vector table
    is PARTITIONED BY cell, so the probe filter becomes partition
    pruning: the scan touches nprobe/n_cells of the files before any
    vector math — the same pruning hidden partitioning gives the
    extraction branches (see ivf_materialize).

    The n_cells centroid rows are collected ONCE (one TakeOrdered job)
    and fed back as a literal local relation for both consumers: the
    probed-cell ranking (computed driver-side with bit-identical float
    math, see _pyfold_cosine), which becomes an isin filter, and the
    broadcast assignment side. A lazy plan would evaluate the centroid
    subtree twice (the probed TakeOrdered and the broadcast build each
    scan the full table). On any non-finite centroid score the query
    falls back to that lazy plan — probed cells as a broadcast
    semi-join on the Spark-ranked centroids — so NULL/NaN ordering
    follows Spark's semantics, never Python's."""
    q = _vec_lit(query_vec)
    cents = ivf_centroids(df, vec_col, id_col, n_cells, refine)
    rows = cents.collect()  # n_cells rows — bounded by construction
    try:
        ranked = sorted(
            ((_pyfold_cosine(r["centroid"], query_vec), r["cell"])
             for r in rows), key=lambda t: (-t[0], t[1]))
    except (ZeroDivisionError, ValueError, TypeError):
        ranked = None
    if ranked is not None and all(
            s == s and abs(s) != float("inf") for s, _ in ranked):
        import pandas as pd

        probed_cells = [c for _, c in ranked[:nprobe]]
        cell_type = (cents.schema["cell"].dataType.simpleString()
                     if rows else "bigint")
        cents = df.sparkSession.createDataFrame(
            pd.DataFrame({
                "cell": [r["cell"] for r in rows],
                "centroid": [[float(v) for v in r["centroid"]]
                             for r in rows]}),
            schema=f"cell {cell_type}, centroid array<double>")

        def probe(cand: DataFrame) -> DataFrame:
            return cand.filter(F.col("cell").isin(probed_cells)
                               if probed_cells else F.lit(False))
    else:
        probed = (cents.withColumn("qs", cosine(F.col("centroid"), q))
                  .orderBy(F.desc("qs"), "cell").limit(nprobe)
                  .select("cell"))

        def probe(cand: DataFrame) -> DataFrame:
            return cand.join(F.broadcast(probed), "cell")
    # assignment WITHOUT a join back to df: the argmax aggregate
    # carries the vector through (first() over the crossJoin replicas
    # of the same row — deterministic by construction), so there is no
    # `df ⋈ assign` id-equi-join (a second scan of df + an exchange of
    # both sides on id); one exchange total before the top-k
    scored = (df.select(id_col, vec_col)
              .crossJoin(F.broadcast(cents))
              .withColumn("score",
                          cosine(F.col(vec_col), F.col("centroid"))))
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(
            F.col("score").alias("s"),
            (-F.col("cell")).alias("neg_cell"),
            F.col("cell").alias("cell"))).alias("m"),
        F.first(vec_col).alias(vec_col))
    cand = probe(best.select(F.col(id_col), F.col("m.cell").alias("cell"),
                             F.col(vec_col)))
    return (cand.select(F.col(id_col), F.col("cell"),
                        cosine(F.col(vec_col), q).alias("score"))
            .orderBy(F.desc("score"), F.col(id_col)).limit(k))


def ivf_materialize(df: DataFrame, vec_col: str, id_col: str,
                    path: str, n_cells: int = 8, refine: int = 0,
                    ) -> DataFrame:
    """Materialize the IVF index as a cell-partitioned parquet table
    (path/cell=<c>/...) plus its centroid sidecar (path/_centroids) —
    the 100 TB layout where the probe filter becomes PARTITION
    PRUNING: a query scans nprobe/n_cells of the FILES before any
    vector math runs. This turns the plan-shape claim in ivf_topk's
    docstring into an actual on-disk layout (pinned in tests via
    PartitionFilters in the scan node). Assignment is the one
    n_vectors-row shuffle; the centroid sidecar is n_cells rows."""
    cents = ivf_centroids(df, vec_col, id_col, n_cells, refine)
    assign = _assign_to(df, vec_col, id_col, cents)
    (df.join(assign.select(id_col, "cell"), id_col)
       .write.mode("overwrite").partitionBy("cell").parquet(path))
    cents.write.mode("overwrite").parquet(path + "/_centroids")
    spark = df.sparkSession
    return spark.read.parquet(path)


def ivf_topk_pruned(spark, path: str, vec_col: str, id_col: str,
                    query_vec, k: int = 5, nprobe: int = 2
                    ) -> DataFrame:
    """IVF query over a materialized cell-partitioned index: rank the
    sidecar centroids (driver-side, n_cells rows), then scan ONLY the
    probed cells via an IN filter on the partition column — Catalyst
    turns it into PartitionFilters, so unprobed cells' files are never
    opened. Same result contract as ivf_topk at equal centroids."""
    import numpy as np

    q = _vec_lit(query_vec)
    cents = spark.read.parquet(path + "/_centroids").collect()
    qv = np.asarray(query_vec, np.float64)
    qv /= max(float(np.linalg.norm(qv)), 1e-12)

    def _score(c):
        v = np.asarray(c["centroid"], np.float64)
        return float(v @ qv / max(float(np.linalg.norm(v)), 1e-12))

    probed = [c["cell"] for c in sorted(
        cents, key=lambda c: (-_score(c), c["cell"]))[:nprobe]]
    idx = spark.read.parquet(path)
    cand = idx.filter(F.col("cell").isin(probed))
    return (cand.select(F.col(id_col), F.col("cell"),
                        cosine(F.col(vec_col), q).alias("score"))
            .orderBy(F.desc("score"), F.col(id_col)).limit(k))


# --------------------------- product quantization (the IVF-PQ half)

def pq_train(df: DataFrame, vec_col: str, m: int = 4, k: int = 16,
             sample: int = 10000, iters: int = 10,
             seed: int = 0) -> np.ndarray:
    """Train PQ codebooks: split dim into `m` subspaces, k-means each
    → (m, k, dim/m) float64 array. Training runs DRIVER-side on a
    bounded sample — exactly how production FAISS trains (≤1M sampled
    vectors in memory; the TABLE-scale work is encode/search, not
    training). Deterministic: seeds are the first `k` sample rows per
    subspace, `iters` Lloyd rounds."""
    rows = (df.select(vec_col).orderBy(F.col(vec_col).getItem(0))
            .limit(sample).collect())
    x = np.array([r[0] for r in rows], np.float64)
    return pq_train_array(x, m=m, k=k, iters=iters)


def pq_train_array(x: np.ndarray, m: int = 4, k: int = 16,
                   iters: int = 10) -> np.ndarray:
    """The numpy k-means body of pq_train over an already-sampled
    (n, dim) float64 array — callers that hold the sample driver-side
    (e.g. a pyarrow row read of a small table) skip the Spark
    TakeOrdered job; identical math, identical codebooks."""
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.empty((m, k, sub))
    for mi in range(m):
        xs = x[:, mi * sub:(mi + 1) * sub]
        cents = xs[:k].copy()
        if len(xs) < k:
            raise ValueError("sample smaller than k")
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for ci in range(k):
                sel = xs[assign == ci]
                if len(sel):
                    cents[ci] = sel.mean(0)
        books[mi] = cents
    return books


def pq_encode(df: DataFrame, vec_col: str, id_col: str,
              codebooks: np.ndarray) -> DataFrame:
    """→ (id, codes array<int>): per-subspace nearest-centroid codes,
    vectorized NumPy inside an Arrow-batched UDF. At 100 TB this is
    the map-only compression pass (dim floats → m bytes per row)."""
    import pandas as pd

    m, k, sub = codebooks.shape
    books = codebooks  # captured in the closure → task broadcast

    def enc(it):
        for pdf in it:
            vecs = np.array(list(pdf[vec_col]), np.float64)
            codes = np.empty((len(vecs), m), np.int32)
            for mi in range(m):
                xs = vecs[:, mi * sub:(mi + 1) * sub]
                d2 = ((xs[:, None, :] - books[mi][None, :, :]) ** 2) \
                    .sum(-1)
                codes[:, mi] = d2.argmin(1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "codes": list(codes)})

    return df.select(F.col(id_col).alias(id_col),
                     F.col(vec_col).alias(vec_col)) \
        .mapInPandas(enc, f"{id_col} long, codes array<int>")


def _adc_expr(lut: np.ndarray):
    """(m, k) query lookup table → the ADC column expression over a
    `codes` array column: adc = Σ_mi lut[mi][codes[mi]], spelled as a
    zip_with + aggregate over the LUT folded into the plan as a
    literal — m JVM array lookups per row, zero shuffles, the scan
    never touches the original vectors."""
    m = lut.shape[0]
    lut_col = F.array(*[
        F.array(*[F.lit(float(v)) for v in lut[mi]])
        for mi in range(m)])
    return F.aggregate(
        F.zip_with(lut_col, F.col("codes"), lambda row, c: row[c]),
        F.lit(0.0), lambda acc, x: acc + x)


def _query_lut(codebooks: np.ndarray, query_vec) -> np.ndarray:
    """Exact per-subspace squared distances from the query to every
    codebook centroid → (m, k) float64."""
    m, k, sub = codebooks.shape
    q = np.asarray(query_vec, np.float64)
    lut = np.empty((m, k))
    for mi in range(m):
        qs = q[mi * sub:(mi + 1) * sub]
        lut[mi] = ((codebooks[mi] - qs[None, :]) ** 2).sum(-1)
    return lut


def _write_codebook_sidecar(path: str, codebooks: np.ndarray) -> None:
    """Codebook sidecar as a driver-side pyarrow parquet write: m×k
    rows of bounded metadata — a Spark write job here costs a full
    job submission (~0.2s) to move a few KB. Schema matches the old
    Spark-written sidecar, so spark.read.parquet still works."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    m, k, _sub = codebooks.shape
    tbl = pa.table({
        "mi": pa.array([mi for mi in range(m) for _ in range(k)],
                       pa.int32()),
        "ki": pa.array([ki for _ in range(m) for ki in range(k)],
                       pa.int32()),
        "centroid": pa.array(
            [[float(v) for v in codebooks[mi, ki]]
             for mi in range(m) for ki in range(k)],
            pa.list_(pa.float64())),
    })
    os.makedirs(path, exist_ok=True)
    papq.write_table(tbl, os.path.join(path, "sidecar.parquet"))


def pq_materialize(df: DataFrame, vec_col: str, id_col: str,
                   path: str, codebooks: np.ndarray) -> DataFrame:
    """Persist the PQ index: codes computed ONCE (the map-only encode
    pass) written as parquet at `path`, plus the codebook sidecar
    (path/_codebooks, m×k rows). The 100 TB layout: every query scans
    the m-bytes-per-row codes table only — pq_topk's per-query
    re-encode becomes a one-time compression job (the ivf_materialize
    pattern one block up). Returns the reloaded codes table."""
    enc = pq_encode(df, vec_col, id_col, codebooks)
    enc.write.mode("overwrite").parquet(path)
    _write_codebook_sidecar(path + "/_codebooks", codebooks)
    return df.sparkSession.read.parquet(path)


def _load_codebooks(spark, path: str) -> np.ndarray:
    """Codebook sidecar → (m, k, sub) array (m×k rows of bounded
    metadata). Driver-side pyarrow read: a Spark collect job here is a
    full job submission for a few KB; the sidecar directory may hold
    either the pyarrow layout or an old Spark-written one — both are
    plain parquet files."""
    import glob

    import pyarrow.parquet as papq

    files = sorted(glob.glob(os.path.join(path + "/_codebooks",
                                          "*.parquet")))
    tbl = papq.read_table(files)
    mi = tbl["mi"].to_numpy()
    ki = tbl["ki"].to_numpy()
    cents = tbl["centroid"].to_pylist()
    m, k, sub = int(mi.max()) + 1, int(ki.max()) + 1, len(cents[0])
    books = np.empty((m, k, sub))
    for a, b, c in zip(mi, ki, cents):
        books[a, b] = c
    return books


def pq_topk_pruned(spark, path: str, query_vec, topk: int = 5,
                   id_col: str = "vec_id") -> DataFrame:
    """ADC top-k over a MATERIALIZED PQ index: load the codebook
    sidecar, build the query LUT, scan the codes table only (no
    original vectors anywhere in the plan) + TakeOrderedAndProject.
    Same result contract as pq_topk at equal codebooks."""
    lut = _query_lut(_load_codebooks(spark, path), query_vec)
    codes = spark.read.parquet(path)
    return (codes.withColumn("adc_dist", _adc_expr(lut))
            .select(id_col, F.round("adc_dist", 6).alias("adc_dist"))
            .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
            .limit(topk))


def ivfpq_materialize(df: DataFrame, vec_col: str, id_col: str,
                      path: str, codebooks: np.ndarray,
                      n_cells: int = 8, refine: int = 0) -> DataFrame:
    """The FULL materialized IVF-PQ index — the production ANN layout:
    PQ codes partitioned by IVF cell (path/cell=<c>/...), centroid
    sidecar (path/_centroids) and codebook sidecar (path/_codebooks).
    A query ranks centroids driver-side, PARTITION-PRUNES to nprobe
    cells, and ADC-scans only those cells' codes — files outside the
    probed cells are never opened and vectors are never read."""
    cents = ivf_centroids(df, vec_col, id_col, n_cells, refine)
    assign = _assign_to(df, vec_col, id_col, cents)
    enc = pq_encode(df, vec_col, id_col, codebooks)
    (enc.join(assign.select(id_col, "cell"), id_col)
        .write.mode("overwrite").partitionBy("cell").parquet(path))
    cents.write.mode("overwrite").parquet(path + "/_centroids")
    _write_codebook_sidecar(path + "/_codebooks", codebooks)
    return df.sparkSession.read.parquet(path)


def ivfpq_topk_pruned(spark, path: str, query_vec, topk: int = 5,
                      nprobe: int = 2, id_col: str = "vec_id"
                      ) -> DataFrame:
    """Query the materialized IVF-PQ index: rank sidecar centroids by
    cosine (driver-side, n_cells rows), IN-filter the partition column
    (→ PartitionFilters: unprobed cells' files never open), ADC over
    the probed codes."""
    cents = spark.read.parquet(path + "/_centroids").collect()
    qv = np.asarray(query_vec, np.float64)
    qn = qv / max(float(np.linalg.norm(qv)), 1e-12)

    def _score(c):
        v = np.asarray(c["centroid"], np.float64)
        return float(v @ qn / max(float(np.linalg.norm(v)), 1e-12))

    probed = [c["cell"] for c in sorted(
        cents, key=lambda c: (-_score(c), c["cell"]))[:nprobe]]
    lut = _query_lut(_load_codebooks(spark, path), query_vec)
    codes = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    return (codes.withColumn("adc_dist", _adc_expr(lut))
            .select(id_col, "cell",
                    F.round("adc_dist", 6).alias("adc_dist"))
            .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
            .limit(topk))


def pq_topk(df: DataFrame, vec_col: str, id_col: str,
            codebooks: np.ndarray, query_vec, topk: int = 5
            ) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query builds an (m, k)
    lookup table of exact subspace distances; each row's approximate
    squared distance is a SUM OF m TABLE LOOKUPS over its codes — the
    scan never touches the original vectors. JVM expression over the
    encoded table + TakeOrderedAndProject; returns
    (id, adc_dist) ascending."""
    lut = _query_lut(codebooks, query_vec)
    enc = pq_encode(df, vec_col, id_col, codebooks)
    # adc = Σ_mi lut[mi][codes[mi]]  (posexplode-free: aggregate over
    # the zipped (subspace, code) pairs, all JVM-side)
    return (enc.withColumn("adc_dist", _adc_expr(lut))
            .select(id_col, F.round("adc_dist", 6).alias("adc_dist"))
            .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
            .limit(topk))
