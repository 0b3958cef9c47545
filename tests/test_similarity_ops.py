"""Similarity operators vs NumPy oracles."""

import numpy as np
import pytest

from effocr_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def vecs():
    rng = np.random.RandomState(11)
    v = rng.standard_normal((40, 8)).astype(np.float32)
    # plant a near-dup pair: 7 ≈ 3
    v[7] = v[3] + 0.001 * rng.standard_normal(8).astype(np.float32)
    labels = (np.arange(40) % 3).astype(int)
    return v, labels


@pytest.fixture(scope="module")
def emb_df(spark, vecs):
    v, labels = vecs
    rows = [(int(i), [float(x) for x in v[i]], int(labels[i]))
            for i in range(len(v))]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def _cos(a, b):
    a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_topk_matches_numpy(spark, emb_df, vecs):
    v, _ = vecs
    q = v[0].astype(np.float64)
    out = sim.cosine_topk(emb_df.filter("vec_id != 0"), "embedding",
                          "vec_id", q, k=5).collect()
    scores = {int(i): _cos(v[i], q) for i in range(1, len(v))}
    exp = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [r["vec_id"] for r in out] == [e[0] for e in exp]
    for r, e in zip(out, exp):
        assert abs(r["score"] - e[1]) < 1e-9


def test_centroid_knn_matches_numpy(emb_df, vecs):
    v, labels = vecs
    cents = {l: v[labels == l].astype(np.float64).mean(axis=0)
             for l in set(labels)}
    out = {r["vec_id"]: r["pred_label"]
           for r in sim.centroid_knn_join(emb_df, "embedding", "vec_id",
                                          "label").collect()}
    for i in range(len(v)):
        scores = {l: _cos(v[i], c) for l, c in cents.items()}
        exp = min(sorted(scores.items(), key=lambda kv: (-kv[1], kv[0])))[0]
        best = max(scores.values())
        exp = min(l for l, s in scores.items() if s == best)
        assert out[i] == exp, i


def test_neardup_pairs_find_planted_pair(emb_df):
    pairs = {(r["id_a"], r["id_b"]): r["score"]
             for r in sim.embedding_neardup_pairs(
                 emb_df, "embedding", "vec_id", threshold=0.99).collect()}
    assert (3, 7) in pairs
    assert pairs[(3, 7)] > 0.999


def test_srp_neardup_recall_vs_bruteforce(spark):
    """Planted near-dup pairs: the LSH path must recover what the
    brute-force baseline finds (recall measured, = 1.0 here)."""
    rng = np.random.RandomState(21)
    v = rng.standard_normal((60, 8)).astype(np.float32)
    planted = [(50, 55), (51, 56), (52, 57), (53, 58), (54, 59)]
    for a, b in planted:
        v[b] = v[a] + 1e-4 * rng.standard_normal(8).astype(np.float32)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(len(v))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {(r["id_a"], r["id_b"]) for r in
             sim.embedding_neardup_pairs(df, "embedding", "vec_id",
                                         threshold=0.999).collect()}
    approx = {(r["id_a"], r["id_b"]) for r in
              sim.srp_neardup_pairs(df, "embedding", "vec_id",
                                    threshold=0.999).collect()}
    assert set(planted) <= exact
    recall = len(approx & exact) / len(exact)
    assert recall == 1.0
    assert approx <= exact  # verify step kills false candidates


def test_srp_buckets_deterministic_and_groups_dups(spark, emb_df):
    a = {r["vec_id"]: r["bucket"]
         for r in sim.srp_buckets(emb_df, "embedding", "vec_id").collect()}
    b = {r["vec_id"]: r["bucket"]
         for r in sim.srp_buckets(emb_df, "embedding", "vec_id").collect()}
    assert a == b
    assert a[3] == a[7]  # near-identical vectors land in the same bucket


def test_srp_buckets_explicit_dim_no_probe(spark):
    """dim passed explicitly must give identical buckets to the probe
    fallback (and avoids the hidden driver action)."""
    from effocr_spark.operators.similarity import srp_buckets

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .filter("vec_id < 50")
    probed = {r["vec_id"]: r["bucket"]
              for r in srp_buckets(emb, "embedding", "vec_id").collect()}
    explicit = {r["vec_id"]: r["bucket"]
                for r in srp_buckets(emb, "embedding", "vec_id",
                                     dim=64).collect()}
    assert probed == explicit


def test_srp_neardup_hot_bucket_cap(spark):
    """Identical vectors all land in one SRP bucket; the cap quarantines
    it (bounded output) while distinct-bucket pairs survive."""
    import numpy as np
    from effocr_spark.operators.similarity import (
        oversize_buckets, srp_buckets, srp_neardup_pairs)

    rng = np.random.RandomState(5)
    base = [float(x) for x in rng.standard_normal(8)]
    rows = [(i, base) for i in range(20)]
    other = [float(x) for x in rng.standard_normal(8)]
    rows += [(100, other), (101, other)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    uncapped = srp_neardup_pairs(df, "embedding", "vec_id",
                                 threshold=0.99, dim=8).collect()
    assert len(uncapped) >= 20 * 19 // 2

    capped = srp_neardup_pairs(df, "embedding", "vec_id", threshold=0.99,
                               dim=8, max_bucket_size=5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    assert all(a >= 100 for a, _ in pairs)  # hot bucket gone
    assert (100, 101) in pairs              # small bucket survives

    b = srp_buckets(df, "embedding", "vec_id", dim=8)
    over = oversize_buckets(b, "bucket", 5).collect()
    assert len(over) == 1 and over[0]["bucket_size"] == 20


def test_srp_neardup_pairs_match_bucketed_bruteforce(spark):
    """srp_neardup_pairs must return EXACTLY the brute-force pairs
    (embedding_neardup_pairs, the JVM cosine expression) restricted to
    same-bucket pairs in buckets within the cap — same pairs AND
    bit-identical double scores (the NumPy kernel reproduces the
    zip_with/left-fold accumulation order via cumsum). Random vectors,
    cap active, a low threshold so thousands of pairs cross the
    comparison."""
    rng = np.random.RandomState(11)
    rows = [(int(i), [float(x) for x in rng.standard_normal(16)])
            for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(n_planes=3, dim=16)
    cap = 40
    bucket = {r["vec_id"]: r["bucket"]
              for r in sim.srp_buckets(df, "embedding", "vec_id",
                                       **kw).collect()}
    sizes = {}
    for bk in bucket.values():
        sizes[bk] = sizes.get(bk, 0) + 1
    assert 0 < sum(sz > cap for sz in sizes.values()) < len(sizes)
    exp = sorted(
        tuple(r) for r in sim.embedding_neardup_pairs(
            df, "embedding", "vec_id", threshold=0.1).collect()
        if bucket[r["id_a"]] == bucket[r["id_b"]]
        and sizes[bucket[r["id_a"]]] <= cap)
    got = sorted(map(tuple, sim.srp_neardup_pairs(
        df, "embedding", "vec_id", threshold=0.1, max_bucket_size=cap,
        **kw).collect()))
    assert len(exp) > 100
    assert got == exp  # tuple equality ⇒ bit-identical scores


def test_srp_neardup_null_nan_and_zero_vectors(spark):
    """Degenerate vectors never fail the job and never pair. A NULL
    embedding has a NULL bucket. A NaN component makes every projection
    NaN, which Spark orders above 0 (all-ones bucket); the pair's NaN
    score is dropped. A pair with a zero-norm vector has no score (the
    JVM expression raises DIVIDE_BY_ZERO under ANSI) and is dropped.
    String ids come back as strings, including from one-member
    buckets."""
    base = [1.0, 2.0, 3.0, 4.0]
    nan = float("nan")
    rows = [("a", base), ("b", [x * 1.001 for x in base]), ("c", None),
            ("d", None), ("e", [-1.0, 5.0, -2.0, 0.5]),
            ("f", [nan, 1.0, 1.0, 1.0]), ("g", [2.0, nan, 0.0, 1.0]),
            ("y", [0.0] * 4), ("z", [0.0] * 4)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    kw = dict(n_planes=4, dim=4)
    bucket = {r["vec_id"]: r["bucket"] for r in
              sim.srp_buckets(df, "embedding", "vec_id", **kw).collect()}
    assert bucket["f"] == bucket["g"] == 15 and bucket["y"] == bucket["z"]
    assert len({bucket[i] for i in "aefy"}) == 4  # no cross-talk

    out = sim.srp_neardup_pairs(df, "embedding", "vec_id", threshold=0.99,
                                **kw)
    assert out.schema["id_a"].dataType.simpleString() == "string"
    got = [tuple(r) for r in out.collect()]
    assert [(a, b) for a, b, _ in got] == [("a", "b")]
    assert got[0][2] > 0.99


def test_ivf_topk_nonfinite_centroid_falls_back_to_spark_plan(spark):
    """A NaN component in a seed vector makes its centroid's query score
    NaN, which the driver-side ranking cannot order the way Spark does:
    ivf_topk must fall back to the Spark-ranked probe (a broadcast join
    on the probed cells). Spark orders NaN above every double, so the
    NaN cell is probed first, every vector's argmax lands on it (its
    score is NaN against every vector), and the NaN vector itself tops
    the result, followed by the rest in exact cosine order."""
    import math

    rng = np.random.RandomState(3)
    v = rng.standard_normal((12, 4))
    v[0, 2] = float("nan")
    rows = [(i, [float(x) for x in v[i]]) for i in range(len(v))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [0.5, -1.0, 0.25, 2.0]

    out = sim.ivf_topk(df, "embedding", "vec_id", q, k=4, nprobe=2,
                       n_cells=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the probe join, not isin
    got = [tuple(r) for r in out.collect()]

    rest = sorted(((sim._pyfold_cosine(v[i], q), i) for i in range(1, 12)),
                  key=lambda t: (-t[0], t[1]))[:3]
    assert [(i, c) for i, c, _ in got] == [(0, 0)] + [(i, 0)
                                                      for _, i in rest]
    assert math.isnan(got[0][2])
    assert [s for _, _, s in got[1:]] == [s for s, _ in rest]


def test_ivf_topk_probe_semantics(spark):
    """IVF with nprobe == n_cells is EXACTLY brute force (every cell
    searched); with nprobe < n_cells it returns the exact top-k WITHIN
    the probed cells (the recall/cost dial). Assignment is total and
    unique."""
    from pyspark.sql import functions as F

    from effocr_spark.operators.similarity import (cosine_topk,
                                                   ivf_assign, ivf_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pool = emb.filter(F.col("vec_id") != 3)
    qvec = emb.filter(F.col("vec_id") == 3).first()["embedding"]

    a = ivf_assign(pool, "embedding", "vec_id", n_cells=8)
    n = pool.count()
    assert a.count() == n  # total
    assert a.select("vec_id").distinct().count() == n  # unique
    assert a.agg(F.countDistinct("cell")).first()[0] <= 8

    full = ivf_topk(pool, "embedding", "vec_id", qvec,
                    k=5, nprobe=8, n_cells=8)
    brute = cosine_topk(pool, "embedding", "vec_id", qvec, k=5)
    assert [r["vec_id"] for r in full.collect()] == \
        [r["vec_id"] for r in brute.collect()]

    probed = ivf_topk(pool, "embedding", "vec_id", qvec,
                      k=5, nprobe=2, n_cells=8)
    rows = probed.collect()
    assert len(rows) == 5
    assert len({r["cell"] for r in rows}) <= 2  # only probed cells
    # probed results are a subset-ranking consistent with brute force
    brute_scores = {r["vec_id"]: r["score"] for r in brute.collect()}
    for r in rows:
        if r["vec_id"] in brute_scores:
            assert abs(r["score"] - brute_scores[r["vec_id"]]) < 1e-6


def test_ivf_probe_is_broadcast_join(spark):
    """The probed-cell filter must be a broadcast join (nprobe rows),
    never a shuffle of the vector table."""
    from pyspark.sql import functions as F

    from effocr_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 3).first()["embedding"]
    plan = ivf_topk(emb, "embedding", "vec_id", qvec)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_shifted_sparse_ids(spark):
    """Seeds must not assume a dense 0-based id space: shift every id
    by +100000 (snowflake-style) and IVF must still produce full
    assignment and brute-force-equal results at nprobe == n_cells.
    Under the old `id < n_cells` seeding this returned zero centroids
    and a silently empty result."""
    from pyspark.sql import functions as F

    from effocr_spark.operators.similarity import (cosine_topk,
                                                   ivf_assign, ivf_topk)

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .withColumn("vec_id", F.col("vec_id") + F.lit(100000)))
    qvec = emb.orderBy("vec_id").first()["embedding"]

    a = ivf_assign(emb, "embedding", "vec_id", n_cells=8)
    n = emb.count()
    assert a.count() == n
    assert a.agg(F.countDistinct("cell")).first()[0] <= 8
    # cells are the 8 lowest shifted ids
    cells = {r["cell"] for r in a.select("cell").distinct().collect()}
    assert all(c >= 100000 for c in cells)

    full = ivf_topk(emb, "embedding", "vec_id", qvec, k=5,
                    nprobe=8, n_cells=8)
    brute = cosine_topk(emb, "embedding", "vec_id", qvec, k=5)
    assert [r["vec_id"] for r in full.collect()] == \
        [r["vec_id"] for r in brute.collect()]


def test_ivf_lloyd_refinement(spark, emb_df, vecs):
    """One Lloyd round: centroids move to their cell means (verified
    against a NumPy k-means step seeded identically); nprobe == n_cells
    stays brute-force-equal regardless of refinement (probing every
    cell searches every vector, whatever the centroids are)."""
    import numpy as np

    from effocr_spark.operators.similarity import (cosine_topk,
                                                   ivf_centroids, ivf_topk)

    v, _ = vecs
    n_cells = 4
    got = {r["cell"]: np.array(r["centroid"], np.float64)
           for r in ivf_centroids(emb_df, "embedding", "vec_id",
                                  n_cells=n_cells, refine=1).collect()}

    # NumPy oracle: same seeds (lowest ids), one cosine-argmax assign,
    # per-cell mean; ties broken toward the lower cell id
    seeds = v[:n_cells].astype(np.float64)
    vn = v.astype(np.float64)
    sims = (vn / np.linalg.norm(vn, axis=1, keepdims=True)) @ \
        (seeds / np.linalg.norm(seeds, axis=1, keepdims=True)).T
    assign = sims.argmax(axis=1)
    for c in range(n_cells):
        members = vn[assign == c]
        exp = members.mean(axis=0) if len(members) else seeds[c]
        assert np.allclose(got[c], exp, atol=1e-5), f"cell {c}"

    q = v[0].astype(np.float64)
    full = ivf_topk(emb_df, "embedding", "vec_id", q, k=5,
                    nprobe=n_cells, n_cells=n_cells, refine=1)
    brute = cosine_topk(emb_df, "embedding", "vec_id", q, k=5)
    assert [r["vec_id"] for r in full.collect()] == \
        [r["vec_id"] for r in brute.collect()]


def test_ivf_centroids_refine_empty_and_plan(spark):
    """refine>0 on an EMPTY table returns an empty centroid table
    (round-4 ADVICE: the old dim probe raised TypeError on None), and
    the refined build contains no driver-side action — the plan is a
    single lazy DataFrame."""
    from effocr_spark.operators.similarity import ivf_centroids

    empty = spark.createDataFrame([], "id long, vec array<double>")
    out = ivf_centroids(empty, "vec", "id", n_cells=4, refine=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["cell", "centroid"]


def test_pq_adc_topk(spark, emb_df, vecs):
    """Product quantization: encode compresses dim floats → m codes;
    ADC distance equals the exact distance to the RECONSTRUCTED
    vector (the PQ approximation identity); top-k recall vs brute
    force is materially above chance and the query's own row ranks
    first when included."""
    import numpy as np
    from effocr_spark.operators.similarity import (pq_encode, pq_topk,
                                                   pq_train)

    v, _labels = vecs
    books = pq_train(emb_df, "embedding", m=4, k=8, sample=100)
    m, k, sub = books.shape
    assert (m, k) == (4, 8) and m * sub == v.shape[1]

    codes = {r["vec_id"]: r["codes"] for r in
             pq_encode(emb_df, "embedding", "vec_id", books).collect()}
    assert all(len(c) == m and all(0 <= ci < k for ci in c)
               for c in codes.values())

    q = np.asarray(v[3], np.float64)
    top = pq_topk(emb_df, "embedding", "vec_id", books, q,
                  topk=5).collect()
    # ADC identity: distance = ||q_sub - centroid[code]||² summed
    for r in top:
        recon = np.concatenate([books[mi][codes[r["vec_id"]][mi]]
                                for mi in range(m)])
        assert abs(((q - recon) ** 2).sum() - r["adc_dist"]) < 1e-4
    # the planted near-dup pair (7 ≈ 3) lands in the ADC top-5
    ids = {r["vec_id"] for r in top}
    assert 3 in ids and 7 in ids


def test_ivf_pq_composition(spark, emb_df, vecs):
    """The full production ANN stack composes from the existing
    operators: IVF assignment prunes to the probed cells, PQ ADC ranks
    within them — candidate count shrinks while the planted near-dup
    survives."""
    import numpy as np
    from effocr_spark.operators.similarity import (ivf_assign, pq_topk,
                                                   pq_train)
    from pyspark.sql import functions as F

    v, _ = vecs
    assigned = ivf_assign(emb_df, "embedding", "vec_id", n_cells=4)
    tagged = emb_df.join(assigned.select("vec_id", "cell"), "vec_id")
    # probe: the 2 cells nearest the query by its own assignment score
    q = np.asarray(v[3], np.float64)
    probe_cells = [r["cell"] for r in
                   assigned.filter(F.col("vec_id") == 3)
                   .select("cell").collect()]
    cand = tagged.filter(F.col("cell").isin(probe_cells))
    n_cand = cand.count()
    assert 0 < n_cand < emb_df.count()
    books = pq_train(emb_df, "embedding", m=4, k=8, sample=100)
    top = pq_topk(cand, "embedding", "vec_id", books, q, topk=5)
    ids = {r["vec_id"] for r in top.collect()}
    assert 3 in ids and 7 in ids  # the planted pair survives pruning


def test_pq_train_array_matches_spark_sample(spark):
    """r7: q_pq_topk samples its training rows via a driver-side
    pyarrow read (distinct leading floats -> same 500 rows, same
    order as orderBy(embedding[0]).limit(500)). The codebooks must be
    byte-identical to the Spark-sampled path."""
    import numpy as np
    import pyarrow.parquet as papq
    from effocr_spark.operators.similarity import pq_train, pq_train_array

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    b1 = pq_train(emb, "embedding", m=8, k=16, sample=100)
    tab = papq.read_table(f"{sf}/embeddings.parquet",
                          columns=["vec_id", "embedding"])
    xs = np.array(tab["embedding"].to_pylist(), np.float64)
    keys = xs[:, 0]
    assert np.unique(keys).size == keys.size  # the guard's premise
    b2 = pq_train_array(xs[np.argsort(keys, kind="stable")[:100]],
                        m=8, k=16)
    assert np.array_equal(b1, b2)


def test_q_pq_topk_is_one_in_query_plan(spark):
    """q_pq_topk writes nothing: no effocr_pq_* index directory is left
    in the temp dir (each call used to leave one behind), and the
    search is one in-query plan — one parquet scan, one mapInPandas
    encode, no exchange, TakeOrderedAndProject on top."""
    import os
    import tempfile

    import __spark_entry__ as entry

    def leftovers():
        return {f for f in os.listdir(tempfile.gettempdir())
                if f.startswith("effocr_pq_")}

    before = leftovers()
    out = entry.q_pq_topk(spark, entry.SF_DEFAULT)
    assert len(out.collect()) == 10
    assert leftovers() == before
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert plan.count("FileScan parquet") == 1
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
