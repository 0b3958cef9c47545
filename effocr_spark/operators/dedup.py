"""Deduplication operators over document tables.

All JVM-side (built-in pyspark.sql.functions — no Python in the hot
path), engine-portable hashing (md5, available bit-identically in
DuckDB for the correctness oracle). Scale notes per operator below; the
common discipline is ONE shuffle per dedup pass (groupBy on the
signature), with map-side partial aggregation doing the heavy lifting.

Reference analog: render-hash dedup, groupBy(hash).count().filter(>2)
(format_effocr_recognizer_dataset.py:195-205); the
MinHash/SimHash/LSH family is the web-scale generalization a training
-data pipeline needs (near-dup removal before training).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

N_MINHASHES = 8
LSH_BANDS = 4  # 2 signature components per band
SIMHASH_BITS = 16


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """→ (key_cols..., id, dup_count): the min-id SURVIVOR ID per
    duplicate group plus its multiplicity (hash-groupBy dedup). Callers
    wanting the full surviving rows join back via `exact_dedup_rows`.

    Scale: one shuffle on the key; at 100 TB prefer groupBy+min over
    Window(row_number) — it partial-aggregates map-side instead of
    sorting whole partitions.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )


def exact_dedup_rows(df: DataFrame, key_cols: list[str],
                     id_col: str) -> DataFrame:
    """Full surviving rows (all original columns) of the min-id
    representative per duplicate group: exact_dedup + a left-semi join
    back on (key, id). Two passes over the input but still a single
    shuffle pattern on the same key (AQE reuses the exchange)."""
    winners = exact_dedup(df, key_cols, id_col).select(*key_cols, id_col)
    return df.join(winners, key_cols + [id_col], "left_semi")


def _shingle_expr(text_col: str, k: int) -> str:
    """SQL expr: array of k-word shingles (space tokenization, JVM-side).
    Guards the <k-words case (Spark's sequence(1, 0) counts DOWN)."""
    return (
        f"CASE WHEN size(split({text_col}, ' ')) >= {k} THEN "
        f"transform(sequence(1, size(split({text_col}, ' ')) - {k - 1}), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i, {k}))) "
        f"ELSE array() END"
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n_hashes: int = N_MINHASHES, k: int = 3) -> DataFrame:
    """→ (id, sig_0..sig_{n-1}) MinHash signatures over k-word shingles.

    Hash family: md5(shingle || '#' || i); the minimum of a deterministic
    hash over a set is a valid MinHash permutation, and comparing hex
    strings lexicographically is engine-portable (pure ASCII). One
    explode + one groupBy (single shuffle); all n mins computed in the
    same aggregate pass (map-side combine keeps shuffle rows = distinct
    ids × 1).
    """
    shingled = df.select(
        F.col(id_col),
        F.explode(F.expr(_shingle_expr(text_col, k))).alias("shingle"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"sig_{i}")
        for i in range(n_hashes)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def lsh_band_buckets(sigs: DataFrame, id_col: str,
                     n_hashes: int = N_MINHASHES,
                     bands: int = LSH_BANDS) -> DataFrame:
    """Band signatures → bucket sizes (candidate-pair generation).

    Scale: banding is what makes MinHash sub-quadratic — only ids
    sharing a band bucket are candidate pairs; groupBy(band_id, band_val)
    is one shuffle keyed by the band hash, naturally balanced.
    """
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"),
                     F.md5(F.concat_ws("|", *parts)).alias("band_val"))
        )
    return (
        sigs.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("band"))
        .groupBy("band.band_id", "band.band_val")
        .agg(F.count("*").alias("bucket_size"),
             F.min(id_col).alias("min_id"))
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str,
                        n_hashes: int = N_MINHASHES,
                        bands: int = LSH_BANDS,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing ≥1 LSH band, with the
    estimated Jaccard = fraction of equal signature components.

    `max_bucket_size` caps degenerate hot buckets: at web scale some band
    value is guaranteed to collect a huge member set (empty docs, site
    boilerplate), and a bucket of B members emits B·(B-1)/2 pair rows —
    quadratic blowup plus maximal skew. Buckets above the cap are dropped
    before pair expansion (the standard move: their members are better
    handled by exact-fingerprint dedup); count them with
    `lsh_oversize_buckets` and log the number.

    Plan shape (the 100 TB point): bucket-GROUPED pair generation, not a
    self-join — groupBy(band) collects each bucket's (id, sigs) members
    once, then pairs expand JVM-side with higher-order functions inside
    the bucket row. One scan of sigs + two Exchanges total (band groupBy
    + pair dedup), versus a self-join's re-derivation of the signature
    pipeline per join side (measured: 4 scans / 9 Exchanges at the same
    semantics). The cap bounds the collect_list; uncapped input with a
    degenerate bucket would OOM the bucket row — pass a cap at scale."""
    rows_per_band = n_hashes // bands
    banded = sigs
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        banded = banded.withColumn(f"band_{b}", F.md5(F.concat_ws("|", *parts)))
    exploded = banded.select(
        id_col, *[f"sig_{i}" for i in range(n_hashes)],
        F.explode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias("band"),
    )
    member = F.struct(F.col(id_col).alias("id"),
                      *[F.col(f"sig_{i}") for i in range(n_hashes)])
    buckets = exploded.groupBy("band").agg(
        F.collect_list(member).alias("ms"))
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ms") <= max_bucket_size)
    pair_expr = (
        "flatten(transform(ms, x -> "
        "filter(transform(ms, y -> named_struct('a', x, 'b', y)), "
        "p -> p.a.id < p.b.id)))"
    )
    pairs = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            *[(F.col(f"p.a.sig_{i}") == F.col(f"p.b.sig_{i}"))
              .cast("int").alias(f"eq_{i}") for i in range(n_hashes)],
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = sum(F.col(f"eq_{i}") for i in range(n_hashes)) / float(n_hashes)
    return pairs.select("id_a", "id_b", est.alias("est_jaccard"))


def dedup_groups(ids: DataFrame, pairs: DataFrame, id_col: str = "id",
                 max_iter: int = 20,
                 reliable_checkpoint: bool = False) -> DataFrame:
    """Near-dup pairs → duplicate GROUPS: connected components by
    iterative min-label propagation, the missing last step of a
    production dedup pipeline (pairs from lsh_candidate_pairs /
    srp_neardup_pairs → one representative per component).

    → (id, group_id) where group_id = min id reachable through the pair
    graph. Converges in O(diameter) rounds ≤ O(log n) for typical dup
    clusters (near-dup components are small and dense); each round is
    one join + one aggregate. Raises RuntimeError if the graph has not
    converged after max_iter rounds (a silently-partial labeling would
    leave multiple representatives per component — the one failure mode
    dedup_survivors cannot tolerate); raise max_iter for corpora with
    long duplicate chains.

    Scale notes: the edge list is symmetrized once; per round the plan
    is edges ⋈ labels (shuffle on id) + groupBy(id).min — the same
    hash-partitioning reused every round (AQE exchange reuse).
    Convergence is read from a `sum(changed-flag)` aggregate over the
    SAME checkpointed frame that carries the new labels (one action per
    round, no extra equality join). Lineage is truncated per round:
    `reliable_checkpoint=True` uses `checkpoint()` to the cluster's
    configured checkpoint dir (survives executor loss — a long CC job
    on a real cluster should use this; requires
    `sc.setCheckpointDir(...)`); the default `localCheckpoint()` stores
    blocks on executors and is the right call for short/local jobs."""
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst")))
             .distinct().persist())

    def _ckpt(df: DataFrame) -> DataFrame:
        return (df.checkpoint(eager=True) if reliable_checkpoint
                else df.localCheckpoint(eager=True))

    # only ids touching an edge can ever change label
    touched = (edges.select(F.col("src").alias(id_col)).distinct())
    labels = _ckpt(touched.withColumn("group_id", F.col(id_col)))
    changed = None
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels[id_col])
            .groupBy("src").agg(F.min("group_id").alias("nmin"))
            .select(F.col("src").alias(id_col), "nmin"))
        nmin = F.coalesce(F.col("nmin"), F.col("group_id"))
        step = _ckpt(  # truncate iterative lineage each round
            labels.join(neighbor_min, id_col, "left")
            .select(F.col(id_col),
                    F.least(F.col("group_id"), nmin).alias("group_id"),
                    (F.col("nmin").isNotNull()
                     & (F.col("nmin") < F.col("group_id")))
                    .cast("long").alias("_chg")))
        changed = step.agg(F.sum("_chg")).first()[0] or 0
        labels = step.drop("_chg")
        if changed == 0:
            break
    if changed:
        raise RuntimeError(
            f"dedup_groups did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — a component's diameter "
            f"exceeds max_iter; raise max_iter")
    edges.unpersist()
    isolated = (ids.select(F.col(id_col))
                .join(touched, id_col, "left_anti")
                .withColumn("group_id", F.col(id_col)))
    return labels.unionByName(isolated)


def dedup_survivors(ids: DataFrame, pairs: DataFrame,
                    id_col: str = "id") -> DataFrame:
    """→ the ids that survive near-dedup: the min-id representative of
    every duplicate component (plus all isolated ids)."""
    groups = dedup_groups(ids, pairs, id_col=id_col)
    return (groups.filter(F.col(id_col) == F.col("group_id"))
            .select(id_col))


def lsh_oversize_buckets(sigs: DataFrame, id_col: str,
                         max_bucket_size: int,
                         n_hashes: int = N_MINHASHES,
                         bands: int = LSH_BANDS) -> DataFrame:
    """→ (band_id, band_val, bucket_size) of the buckets
    `lsh_candidate_pairs(max_bucket_size=...)` quarantines — the metrics
    side of the cap (log `count()`, route members to exact dedup)."""
    return (lsh_band_buckets(sigs, id_col, n_hashes=n_hashes, bands=bands)
            .filter(F.col("bucket_size") > max_bucket_size)
            .select("band_id", "band_val", "bucket_size"))


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = SIMHASH_BITS) -> DataFrame:
    """→ (id, simhash int) per-bit-majority fingerprint.

    Bit i of a word's hash = ascii(md5(word)[i]) % 2 — engine-portable
    (no hex→int needed). Majority over the doc's words sets the bit.
    One explode + one groupBy; all bit-averages in a single agg pass.
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w"))
    words = words.withColumn("h", F.md5("w"))
    aggs = [
        (F.avg((F.ascii(F.substring("h", i + 1, 1)) % 2).cast("double")) > 0.5)
        .cast("int").alias(f"bit_{i}")
        for i in range(bits)
    ]
    agged = words.groupBy(id_col).agg(*aggs)
    sim = sum(F.col(f"bit_{i}") * (1 << i) for i in range(bits))
    return agged.select(F.col(id_col), sim.cast("long").alias("simhash"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, min_jaccard: float = 0.0,
                        max_id: int | None = None) -> DataFrame:
    """Exact word-n-gram Jaccard for all pairs (a < b) — the quadratic
    baseline the LSH path approximates; cap with max_id at scale."""
    base = df if max_id is None else df.filter(F.col(id_col) < max_id)
    grams = base.select(
        F.col(id_col),
        F.explode(F.expr(_shingle_expr(text_col, n))).alias("g"),
    ).distinct()
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("ga"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("gb"))
    return (
        inter.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
        .select(
            "id_a", "id_b",
            (F.col("n_inter") / (F.col("ga") + F.col("gb") - F.col("n_inter")))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
