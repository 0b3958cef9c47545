"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator family from SURVEY.md §2
(or a training-data-pipeline extension) over the driver-provided tables;
``oracle_sql()`` gives the DuckDB-equivalent for the value-hash
correctness gate. EVERY query has an exact oracle: SQL-expressible ones
are re-derived in DuckDB SQL; Python-kernel ones (extraction pipeline,
spell check, media decode, TrOCR decode, seeded-hyperplane LSH) run over
fully deterministic fixtures and are pinned by committed golden parquet
(goldens/, regenerated via tools/make_goldens.py) served to DuckDB with
read_parquet — not circular, because the same outputs are independently
asserted byte-identical to the pinned plain-Python reference oracle in
tests/.

Column names AND types are aligned on both sides (Spark ↔ DuckDB):
counts → bigint, ratios → double rounded, ids → bigint.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import DataFrame, SparkSession, functions as F

# effocr_spark must import regardless of the driver's CWD
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DEFAULT = "/root/testdata/sf0.001"

# committed golden outputs for the Python-kernel queries (deterministic
# seed-42 fixtures; regenerate with tools/make_goldens.py after any
# intentional kernel change)
GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "goldens")


def _golden_sql(name: str) -> str:
    return f"SELECT * FROM read_parquet('{GOLDEN_DIR}/{name}/*.parquet')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Local fixture rows → DataFrame via pandas + Arrow.

    createDataFrame over a plain Python list takes the pickled-RDD
    path: every scan of the result re-deserializes the rows through a
    Python worker, and a 3-branch extraction plan scans its input
    three times — measured ~0.5s PER SCAN at local[32] for a 12-row
    fixture (guide §4: control what crosses the JVM↔Python boundary).
    The pandas route hands Spark one Arrow batch; scans are then pure
    JVM. Values are identical — the oracle gates pin that."""
    names = [f.strip().split()[0] for f in schema.split(",")]
    data = {n: list(v) for n, v in zip(names, zip(*rows))}
    for n, v in data.items():
        # bytearray → bytes for a clean Arrow binary column
        data[n] = [bytes(x) if isinstance(x, bytearray) else x for x in v]
    return spark.createDataFrame(pd.DataFrame(data), schema=schema)


def _utc(spark: SparkSession) -> None:
    """Pin the session timezone for time-arithmetic queries: parquet
    timestamps are naive, DuckDB treats them as-is, and Spark's
    unix_timestamp/date_trunc interpret through the session TZ — only
    UTC makes the two engines agree under any driver configuration."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# ----------------------------------------------------------------------
# relational core (scans / filters / joins / aggs / windows)
# ----------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan+filter+groupBy agg (SURVEY §2.2 P1, §2.4)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_customers(spark, sf_dir):
    """Equi-joins + agg + deterministic top-k (SURVEY §2.3 J5, §2.6)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count("*").alias("n_orders"))
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(10)
    )


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join, derived revenue, top-k."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_orderkey"), F.col("o_orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


def q_gt_pred_eval(spark, sf_dir):
    """GT↔pred left join with ''-fill + accuracy/CER aggregate
    (SURVEY §2.3 J2 + §2.4 A1; eval_utils.py:25-70 semantics)."""
    from effocr_spark.operators.evalagg import textline_eval

    docs = _t(spark, sf_dir, "documents")
    gts = docs.select(F.col("doc_id"), F.col("text").alias("gt"))
    preds = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.col("doc_id"), F.expr("substring(text, 2)").alias("pred"))
    pairs = gts.join(preds, "doc_id", "left").na.fill({"pred": ""})
    res = textline_eval(pairs, "gt", "pred")
    return res.select(F.round("accuracy", 4).alias("accuracy"),
                      F.round("cer", 6).alias("cer"), F.col("n"))


def q_asof_join(spark, sf_dir):
    """As-of join (SURVEY §2.3 J1 relational spelling): for each 'view'
    event, the nearest later 'click' by the same user."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"))
    joined = views.join(clicks, ["user_id"], "left").filter(
        F.col("click_ts") > F.col("view_ts"))
    matched = joined.groupBy("user_id", "view_id").agg(
        F.min("click_ts").alias("next_click_ts"))
    return (
        matched.groupBy("user_id")
        .agg(F.count("*").alias("n_matched_views"))
        .orderBy("user_id")
    )


def q_topk_per_group(spark, sf_dir):
    """Per-group top-k via ranking window (SURVEY §2.5 W2/W3)."""
    from pyspark.sql import Window

    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", "value", "rn")
    )


def q_reading_order(spark, sf_dir):
    """Reading-order sort within partition (SURVEY §2.5 W1): first 5
    events per user by time."""
    from pyspark.sql import Window

    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return (
        ev.withColumn("seq", F.row_number().over(w).cast("long"))
        .filter(F.col("seq") <= 5)
        .select("user_id", "event_id", "seq")
    )


def q_lead_lag(spark, sf_dir):
    """lag() neighbor context (SURVEY §2.5 W6 relational spelling)."""
    from pyspark.sql import Window

    _utc(spark)
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
    return o.select(
        "o_custkey", "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


def q_set_ops(spark, sf_dir):
    """EXCEPT set semantics (SURVEY §2.7 E1): langs seen in src0 but not
    in src1."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("source") == "src0").select("lang")
    b = docs.filter(F.col("source") == "src1").select("lang")
    return a.exceptAll(b).distinct()


def q_row_replicate(spark, sf_dir):
    """Row replication via explode (SURVEY §2.2 P8: --n_repeats)."""
    r = _t(spark, sf_dir, "region")
    return r.select(
        "r_regionkey",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("copy_idx"),
    ).select("r_regionkey", F.col("copy_idx").cast("long").alias("copy_idx"))


def q_interval_join(spark, sf_dir):
    """Interval/range join (SURVEY §2.3 J6 analog): same-user event pairs
    within 60 seconds."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    a = ev.select(F.col("user_id"), F.col("event_id").alias("id_a"),
                  F.col("ts").alias("ts_a"))
    b = ev.select(F.col("user_id"), F.col("event_id").alias("id_b"),
                  F.col("ts").alias("ts_b"))
    pairs = a.join(b, ["user_id"]).filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.unix_timestamp("ts_a") - F.unix_timestamp("ts_b")) <= 60))
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_pairs")) \
                .orderBy("user_id")


def q_events_daily(spark, sf_dir):
    """Event-time rollup (date_trunc partition-pruning shape)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.col("event_type"))
        .agg(F.count("*").alias("n"),
             F.round(F.avg("value"), 4).alias("avg_value"),
             F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q_hourly_windows(spark, sf_dir):
    """Tumbling event-time window aggregate (streaming-shaped batch:
    the same plan Structured Streaming runs with a watermark)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): the canonical
    stateful-stream operator, spelled as cumulative window functions so
    it runs JVM-side batch; the streaming twin is
    applyInPandasWithState over the same gap rule."""
    from pyspark.sql import Window

    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("session_start"))
    )


def q_quarantine_counts(spark, sf_dir):
    """Schema-check violations → metrics, not crashes (SURVEY §1.4/P9)."""
    docs = _t(spark, sf_dir, "documents")
    bad = (F.col("n_chars") != F.length(F.col("text"))).cast("int")
    return docs.groupBy("source").agg(
        F.sum(bad).cast("long").alias("n_bad"),
        F.count("*").alias("n_rows"),
    )


def q_hex_codepoint(spark, sf_dir):
    """hex↔codepoint scalar functions (SURVEY §2.8 F9)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    return docs.select(
        "doc_id",
        F.hex(F.ascii(F.substring("text", 1, 1))).alias("first_cp_hex"),
    )


def q_string_battery(spark, sf_dir):
    """Scalar string functions battery (SURVEY §2.8 F1-F8)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.trim(F.upper(F.substring(t, 1, 20))).alias("head_upper"),
        F.translate(t, "aeiou", "").alias("no_vowels"),
        F.size(F.split(t, " ")).cast("long").alias("n_tokens"),
        F.length(F.regexp_replace(t, "[^a-z]", "")).cast("long").alias("n_alpha"),
        F.concat_ws("|", F.slice(F.split(t, " "), 1, 3)).alias("first3"),
        F.levenshtein(F.substring(t, 1, 10), F.substring(t, 11, 10))
        .cast("long").alias("self_edit"),
    )


# ----------------------------------------------------------------------
# dedup family
# ----------------------------------------------------------------------

def q_max_by(spark, sf_dir):
    """max-frequency/argmax pick (SURVEY §2.4 A5 relational spelling):
    per event_type, the event carrying the max value (ties → max id,
    via struct ordering — deterministic unlike bare max_by)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.max(F.struct(F.col("value"), F.col("event_id")))
             .alias("m"))
        .select("event_type", F.col("m.event_id").alias("event_id"),
                F.col("m.value").alias("value"))
    )


def q_posexplode_zip(spark, sf_dir):
    """Positional zip join (SURVEY §2.3 J4: arrays_zip/posexplode) —
    first 3 words of each doc with their positions."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return docs.select(
        "doc_id",
        F.posexplode(F.slice(F.split(F.col("text"), " "), 1, 3))
        .alias("pos", "word"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "word")


def q_distinct_users(spark, sf_dir):
    """Distinct aggregate (metrics-dashboard shape, SURVEY §2.4 note)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def q_window_battery(spark, sf_dir):
    """Battery: lead_lag (W6) + max_by (A5) + distinct_users unioned
    under a section tag on a shared (section,k,a,b,c) schema — merged
    so the driver registry stays <= 50 entries (its row cap) while
    every component keeps an exact DuckDB oracle section."""
    ll = q_lead_lag(spark, sf_dir).select(
        F.lit("lead_lag").alias("section"),
        F.col("o_custkey").cast("string").alias("k"),
        F.col("o_orderkey").cast("long").alias("a"),
        F.col("prev_orderkey").cast("long").alias("b"),
        F.lit(None).cast("double").alias("c"))
    mb = q_max_by(spark, sf_dir).select(
        F.lit("max_by").alias("section"),
        F.col("event_type").alias("k"),
        F.col("event_id").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("value").cast("double").alias("c"))
    du = q_distinct_users(spark, sf_dir).select(
        F.lit("distinct_users").alias("section"),
        F.col("event_type").alias("k"),
        F.col("n_users").cast("long").alias("a"),
        F.col("n_events").cast("long").alias("b"),
        F.lit(None).cast("double").alias("c"))
    return ll.unionByName(mb).unionByName(du)


def q_reshape_battery(spark, sf_dir):
    """Battery: hex_codepoint (F9) + posexplode_zip (J4) +
    row_replicate (P8) + set_ops (E1) on a shared (section,id,pos,s)
    schema — same registry-cap merge as q_window_battery."""
    hx = q_hex_codepoint(spark, sf_dir).select(
        F.lit("hex_codepoint").alias("section"),
        F.col("doc_id").cast("long").alias("id"),
        F.lit(None).cast("long").alias("pos"),
        F.col("first_cp_hex").alias("s"))
    pz = q_posexplode_zip(spark, sf_dir).select(
        F.lit("posexplode_zip").alias("section"),
        F.col("doc_id").cast("long").alias("id"),
        F.col("pos").cast("long").alias("pos"),
        F.col("word").alias("s"))
    rr = q_row_replicate(spark, sf_dir).select(
        F.lit("row_replicate").alias("section"),
        F.col("r_regionkey").cast("long").alias("id"),
        F.col("copy_idx").cast("long").alias("pos"),
        F.lit(None).cast("string").alias("s"))
    so = q_set_ops(spark, sf_dir).select(
        F.lit("set_ops").alias("section"),
        F.lit(None).cast("long").alias("id"),
        F.lit(None).cast("long").alias("pos"),
        F.col("lang").alias("s"))
    # winnowing document sketch (MOSS rolling-hash window minima) —
    # the brief's "document fingerprinting (rolling hash)" operator
    from effocr_spark.operators.textstats import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    wn = winnow_fingerprints(docs.filter(F.col("doc_id") < 8),
                             "doc_id", "text").select(
        F.lit("winnow").alias("section"),
        F.col("doc_id").cast("long").alias("id"),
        F.lit(None).cast("long").alias("pos"),
        F.col("fp").alias("s"))
    return hx.unionByName(pz).unionByName(rr).unionByName(so) \
        .unionByName(wn)


def q_exact_dedup(spark, sf_dir):
    from effocr_spark.operators.dedup import exact_dedup

    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    return exact_dedup(ev, ["user_id", "event_type"], "event_id") \
        .select("user_id", "event_type",
                F.col("event_id").cast("long").alias("event_id"),
                F.col("dup_count"))


def q_minhash_sigs(spark, sf_dir):
    from effocr_spark.operators.dedup import minhash_signatures

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return minhash_signatures(docs, "doc_id", "text")


def q_lsh_buckets(spark, sf_dir):
    from effocr_spark.operators.dedup import lsh_band_buckets, minhash_signatures

    # spread the md5-heavy shingle expansion across the cores BEFORE it
    # runs: the filtered table is a 1-2-partition parquet scan locally,
    # so the 16-hash-per-shingle projection was pinned to 2 cores; the
    # repartition shuffles ~200 tiny text rows and the signature
    # groupBy(doc_id) reuses its partitioning (no extra exchange in the
    # aggregate path). Same rows — min() is order-independent.
    docs = (_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    sigs = minhash_signatures(docs, "doc_id", "text")
    return lsh_band_buckets(sigs, "doc_id").select(
        "band_id", "band_val", "bucket_size",
        F.col("min_id").cast("long").alias("min_id"))


def q_simhash(spark, sf_dir):
    from effocr_spark.operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return simhash(docs, "doc_id", "text")


def q_ngram_jaccard(spark, sf_dir):
    from effocr_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, max_id=40)
    return pairs.select("id_a", "id_b", F.round("jaccard", 5).alias("jaccard"))


# ----------------------------------------------------------------------
# text analysis family
# ----------------------------------------------------------------------

def q_doc_stats(spark, sf_dir):
    from effocr_spark.operators.textstats import document_stats

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    out = document_stats(docs, "doc_id", "text")
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "avg_token_len", "punct_ratio", "quality", "lang_pred", "fingerprint")


def q_langid_confusion(spark, sf_dir):
    from effocr_spark.operators.textstats import with_langid

    docs = _t(spark, sf_dir, "documents")
    return (
        with_langid(docs.select("lang", "text"), "text")
        .groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))
    )


# ----------------------------------------------------------------------
# similarity search family
# ----------------------------------------------------------------------

def _dot_double(a, b):
    from effocr_spark.operators.similarity import dot
    return dot(F.transform(a, lambda x: x.cast("double")),
               F.transform(b, lambda x: x.cast("double")))


def _emb_table(sf_dir: str, lo: int | None = None, hi: int | None = None):
    """Driver-side pyarrow read of the embeddings parquet (bounded:
    2k rows at sf0.1), optionally row-filtered on vec_id. Fetching ONE
    query vector (or a 90-row prototype bank) through a Spark
    collect/first() costs a full job submission (~0.2-0.3s each at
    local[32]); a production ANN query never launches a cluster job to
    obtain its own query point. Values are identical — same file, same
    float32 payload (the oracle gates pin it). Computed per run; no
    caching."""
    import pyarrow.parquet as papq

    filters = None
    if lo is not None:
        filters = [("vec_id", ">=", lo), ("vec_id", "<", hi)]
    return papq.read_table(f"{sf_dir}/embeddings.parquet",
                           columns=["vec_id", "embedding"],
                           filters=filters)


def _emb_vec(sf_dir: str, vec_id: int) -> list[float]:
    """The single embedding row `vec_id` as a list of Python floats —
    exactly what .first()["embedding"] returned."""
    t = _emb_table(sf_dir, vec_id, vec_id + 1)
    return [float(v) for v in t["embedding"][0].as_py()]


def q_pq_topk(spark, sf_dir):
    """Product quantization ADC top-k — the OTHER half of the
    production IVF-PQ ANN stack (operators/similarity.py): driver-side
    codebook training on a bounded deterministic sample (the FAISS
    shape), map-only encode to m-byte codes MATERIALIZED once
    (pq_materialize — codes parquet + codebook sidecar), then search
    scans the codes table ONLY: query LUT folded into the plan as a
    literal, distance = m JVM array lookups per row +
    TakeOrderedAndProject; the original vectors never appear in the
    search plan. Golden-pinned (k-means codebooks aren't
    SQL-expressible)."""
    import os
    import tempfile

    from effocr_spark.operators.similarity import (pq_materialize,
                                                   pq_topk_pruned,
                                                   pq_train,
                                                   pq_train_array)

    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    # sample for driver-side codebook training via the same pyarrow row
    # read as the query vector (the Spark TakeOrdered job moved 500
    # rows for ~0.3-0.5s of job submission). Equivalence to
    # pq_train's orderBy(embedding[0]).limit(500): the sort key is the
    # leading float — on DISTINCT keys both engines pick the same 500
    # rows in the same order; on any duplicate key (or too few rows)
    # fall back to the Spark path rather than risk tie-order drift.
    import pyarrow.parquet as papq
    n_rows = papq.read_metadata(f"{sf_dir}/embeddings.parquet").num_rows
    books = None
    if 500 <= n_rows <= 100_000:  # driver-side read stays bounded
        tab = _emb_table(sf_dir)
        xs = np.array(tab["embedding"].to_pylist(), np.float64)
        keys = xs[:, 0]
        if np.unique(keys).size == keys.size and not np.isnan(keys).any():
            sample = xs[np.argsort(keys, kind="stable")[:500]]
            books = pq_train_array(sample, m=8, k=32)
    if books is None:
        # duplicate/NaN sort keys or a table too large to pull to the
        # driver: the Spark TakeOrdered sample path (identical result)
        books = pq_train(emb, "embedding", m=8, k=32, sample=500)
    qvec = _emb_vec(sf_dir, 3)
    # per-invocation index dir (mkdtemp): a fixed shared path raced
    # between concurrent harness runs — one run's overwrite could
    # delete parquet files mid-scan of the other's search (r6 ADVICE)
    path = os.path.join(tempfile.mkdtemp(prefix="effocr_pq_"), "index")
    pq_materialize(emb.filter(F.col("vec_id") != 3), "embedding",
                   "vec_id", path, books)
    return pq_topk_pruned(spark, path, qvec, topk=10, id_col="vec_id")


def q_ivf_topk(spark, sf_dir):
    """IVF ANN (SURVEY brief: 'an IVF or LSH-bucketed variant as the
    scale path' — this is the IVF one; SRP-LSH is the other): seed-
    vector coarse quantizer, map-side argmax assignment, top-nprobe
    probe, exact cosine within probed cells. Exclude-the-query like
    cosine_topk. EXACT SQL oracle (same DuckDB list math)."""
    from effocr_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = _emb_vec(sf_dir, 3)
    out = ivf_topk(emb.filter(F.col("vec_id") != 3), "embedding",
                   "vec_id", qvec, k=5, nprobe=2, n_cells=8)
    return out.select("vec_id", "cell",
                      F.round("score", 4).alias("score"))


def q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _emb_vec(sf_dir, 0)
    qlit = F.array(*[F.lit(float(v)).cast("double") for v in qvec])
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    num = F.aggregate(F.zip_with(e, qlit, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = F.sqrt(F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x))
    qn = sum(float(v) * float(v) for v in qvec) ** 0.5
    scored = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", (num / (nrm * F.lit(qn))).alias("raw"))
    return (
        scored.orderBy(F.desc("raw"), F.col("vec_id")).limit(5)
        .select("vec_id", F.round("raw", 4).alias("score"))
    )


def q_centroid_knn(spark, sf_dir):
    from effocr_spark.operators.similarity import centroid_knn_join

    emb = _t(spark, sf_dir, "embeddings")
    out = centroid_knn_join(emb, "embedding", "vec_id", "label")
    return out.select("vec_id", F.col("label").cast("long").alias("label"),
                      F.col("pred_label").cast("long").alias("pred_label"))


def q_embedding_neardup(spark, sf_dir):
    """Threshold 0.35 chosen to be non-vacuous on the fixture (max
    pairwise cosine at sf0.01 is ~0.44 → 26 real pairs): an oracle
    hash over an empty result proves nothing."""
    from effocr_spark.operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(emb, "embedding", "vec_id",
                                    threshold=0.35, max_id=150)
    return pairs.select("id_a", "id_b", F.round("score", 4).alias("score"))


def q_srp_buckets(spark, sf_dir):
    """Sign-projection LSH bucket histogram with engine-portable ±1
    planes: sign(plane i, dim j) = +1 iff (j*(i+3)) % 7 < 3."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select("vec_id", F.posexplode("embedding").alias("j", "v"))
    bits = []
    for i in range(4):
        sign = F.when(((F.col("j") * (i + 3)) % 7) < 3, F.lit(1.0)).otherwise(F.lit(-1.0))
        bits.append(F.sum(F.col("v").cast("double") * sign).alias(f"proj_{i}"))
    projs = dims.groupBy("vec_id").agg(*bits)
    bucket = sum(
        (F.col(f"proj_{i}") > 0).cast("long") * (1 << i) for i in range(4))
    return (
        projs.select(bucket.alias("bucket"))
        .groupBy("bucket").agg(F.count("*").alias("n"))
    )


def q_lsh_candidates(spark, sf_dir):
    """LSH candidate-pair generation WITH the hot-bucket cap active
    (operators/dedup.py lsh_candidate_pairs): the sub-quadratic near-dup
    scale path — only same-band ids pair up, buckets above the cap are
    quarantined before the self-join."""
    from effocr_spark.operators.dedup import (lsh_candidate_pairs,
                                              minhash_signatures)

    # same repartition-before-the-md5-projection as q_lsh_buckets
    docs = (_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    sigs = minhash_signatures(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=20)
    return pairs.select("id_a", "id_b",
                        F.round("est_jaccard", 4).alias("est_jaccard"))


def q_dedup_groups(spark, sf_dir):
    """Near-dup pairs → duplicate components (iterative min-label
    propagation with per-round lineage truncation — the pairs→groups
    last step of a production dedup pipeline). The oracle recomputes the
    components with a RECURSIVE CTE (transitive min over the symmetrized
    edge list), so an ITERATIVE Spark algorithm gets an exact
    cross-engine check."""
    from effocr_spark.operators.dedup import (dedup_groups,
                                              lsh_candidate_pairs,
                                              minhash_signatures)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sigs = minhash_signatures(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=20) \
        .select("id_a", "id_b")
    return dedup_groups(docs.select("doc_id"), pairs, id_col="doc_id") \
        .select("doc_id", "group_id")


def q_knn_topk(spark, sf_dir):
    """k>1 kNN lookup (SURVEY §2.3 J3 at k>1; the GPU path's k=10
    retrieval and the k=8 hard-negative mining shape): queries vec_id<10
    against a broadcast prototype matrix (vec_id in [10,100)), top-3 by
    inner product via the knn_topk kernel inside mapInPandas."""
    import numpy as np
    from effocr_spark.functions.recognize import knn_topk

    emb = _t(spark, sf_dir, "embeddings")
    ptab = _emb_table(sf_dir, 10, 100)  # driver-side, 90 bounded rows
    order = np.argsort(ptab["vec_id"].to_numpy(), kind="stable")
    proto_ids = ptab["vec_id"].to_numpy()[order].astype(np.int64)
    proto_mat = np.array(ptab["embedding"].to_pylist(),
                         dtype=np.float64)[order]
    bc = spark.sparkContext.broadcast((proto_ids, proto_mat))

    def topk_batches(batches):
        ids, mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.array([list(v) for v in pdf["embedding"]],
                         dtype=np.float64)
            idx, sc = knn_topk(q, mat, k=3)
            out = {"vec_id": np.repeat(pdf["vec_id"].to_numpy(), 3),
                   "rank": np.tile(np.arange(1, 4, dtype=np.int64),
                                   len(pdf)),
                   "neighbor_id": ids[idx].ravel(),
                   "score": np.round(sc.ravel(), 4)}
            yield pd.DataFrame(out)

    qdf = emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    return qdf.mapInPandas(
        topk_batches,
        "vec_id long, rank long, neighbor_id long, score double")


def q_coco_spans(spark, sf_dir):
    """K2 COCO sink entry-builder round-trip with an exact oracle:
    deterministic spans from lineitem → anno_struct → to_json →
    from_json → flat columns. The oracle recomputes the flat columns
    (area, segmentation vertices, bbox) directly — any drift in the
    writer expressions or the JSON round-trip breaks the hash."""
    from effocr_spark.operators.coco_sink import anno_struct

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 60)
    spans = li.select(
        F.col("l_orderkey").cast("long").alias("image_id"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
        .alias("anno_id"),
        F.pmod(F.col("l_partkey"), F.lit(97)).cast("int").alias("x"),
        F.pmod(F.col("l_suppkey"), F.lit(53)).cast("int").alias("y"),
        (F.col("l_linenumber") + 2).cast("int").alias("w"),
        F.lit(7).cast("int").alias("h"),
        F.col("l_returnflag").alias("text"),
        F.lit(0).alias("category_id"),
    )
    js = spans.select(F.to_json(anno_struct()).alias("js"))
    schema = ("segmentation array<array<long>>, area long, iscrowd int, "
              "image_id long, bbox array<long>, category_id int, "
              "id long, score double, text string")
    a = js.select(F.from_json("js", schema).alias("a"))
    return a.select(
        F.col("a.id").alias("anno_id"),
        F.col("a.image_id").alias("image_id"),
        F.col("a.bbox")[0].alias("x"),
        F.col("a.bbox")[1].alias("y"),
        F.col("a.bbox")[2].alias("w"),
        F.col("a.bbox")[3].alias("h"),
        F.col("a.area").alias("area"),
        F.col("a.segmentation")[0][4].alias("seg_x2"),
        F.col("a.segmentation")[0][5].alias("seg_y2"),
        F.col("a.text").alias("text"),
    )


# ----------------------------------------------------------------------
# extraction pipeline (synthetic pages fixture; rows-only checks)
# ----------------------------------------------------------------------

_PROTOS_CACHE: dict = {}


def _protos_bc(spark):
    key = id(spark.sparkContext)
    if key not in _PROTOS_CACHE:
        from effocr_spark.pipeline import broadcast_prototypes
        _PROTOS_CACHE[key] = broadcast_prototypes(spark)
    return _PROTOS_CACHE[key]


def q_extract_pages(spark, sf_dir):
    """Flagship: full two-branch extraction over the synthetic pages
    fixture (FIXTURES.md §1). Byte-parity vs the pinned oracle is
    asserted in tests/test_pipeline_e2e.py; here the driver checks rows
    and schema stability."""
    from effocr_spark.pipeline import extract_pages
    from effocr_spark.synth.pages import pages_df

    pages, _ = pages_df(spark, 300, seed=42)
    res = extract_pages(pages, _protos_bc(spark), salt_partitions=16)
    return res.select("url", "extracted_text", "branch", "ok")


def q_extract_match_rate(spark, sf_dir):
    """Extraction quality gate as a query: per-branch byte-identical
    match rate vs the generator's ground truth."""
    from effocr_spark.pipeline import extract_pages
    from effocr_spark.synth.pages import pages_df

    pages, golden = pages_df(spark, 300, seed=42)
    res = extract_pages(pages, _protos_bc(spark), salt_partitions=8)
    joined = res.join(golden.select("url", "true_text"), "url")
    return (
        joined.groupBy("branch")
        .agg(F.count("*").alias("n"),
             F.sum((F.col("extracted_text") == F.col("true_text")).cast("int"))
             .cast("long").alias("n_exact"))
        .orderBy("branch")
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: decode+featurize binary media columns."""
    from effocr_spark.operators.multimodal import media_features
    from effocr_spark.synth.pages import pages_df
    from effocr_spark.operators.extract import is_image_page

    pages, _ = pages_df(spark, 200, seed=42)
    media = pages.filter(is_image_page(F.col("html"))).select(
        F.xxhash64("url").alias("id"), F.col("html").alias("media"))
    out = media_features(media)
    return out.select("id", "media_type", "width", "height",
                      F.round("mean_luma", 2).alias("mean_luma"), "ok")


def q_envelope_join(spark, sf_dir):
    """J6 enveloping-object IoM join (format_effocr_recognizer_dataset.py
    :84-103) as pure JVM arithmetic over deterministic char/word boxes
    derived from lineitem; the oracle replicates the IoM math in SQL."""
    from effocr_spark.operators.etl_coco import envelope_join

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    chars = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias("id"),
        F.pmod(F.col("l_orderkey"), F.lit(20)).cast("long").alias("image_id"),
        F.array(F.pmod(F.col("l_partkey"), F.lit(80)).cast("int"),
                F.pmod(F.col("l_suppkey"), F.lit(40)).cast("int"),
                F.lit(6), F.lit(10)).alias("bbox"))
    words = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber") + 100000)
        .cast("long").alias("id"),
        F.pmod(F.col("l_orderkey"), F.lit(20)).cast("long").alias("image_id"),
        F.array((F.pmod(F.col("l_partkey"), F.lit(80)) - 2).cast("int"),
                (F.pmod(F.col("l_suppkey"), F.lit(40)) - 2).cast("int"),
                F.lit(30), F.lit(14)).alias("bbox"))
    out = envelope_join(chars, words, iom_thresh=0.8)
    return out.select("char_id", "word_id", "image_id",
                      F.round("iom", 5).alias("iom"))


def q_hard_negatives(spark, sf_dir):
    """K4 hard-negative mining sink (train_effocr_recognizer.py:25-44):
    k=8 nearest OTHER prototypes per char via the knn_topk kernel.
    Deterministic (seeded prototype build); golden-pinned."""
    from effocr_spark.operators.etl_recognizer import hard_negatives

    chars, protos = _protos_bc(spark).value["en"]
    out = hard_negatives(spark, chars, protos, k=8)
    return out.select("char", F.concat_ws("", "negatives").alias("negs"))


def q_srp_neardup(spark, sf_dir):
    """SRP-LSH bucketed near-dup pairs WITH the hot-bucket cap (the ANN
    scale path, sub-quadratic candidate generation). Seeded hyperplanes
    aren't SQL-portable; golden-pinned."""
    from effocr_spark.operators.similarity import srp_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = srp_neardup_pairs(emb, "embedding", "vec_id", threshold=0.3,
                              n_planes=4, dim=64, max_bucket_size=200)
    return pairs.select("id_a", "id_b", F.round("score", 4).alias("score"))


def q_audio_features(spark, sf_dir):
    """Multimodal audio plumbing with REAL WAV codecs
    (synth/wavcodec.py): PCM16 plus the compressed formats a web corpus
    actually contains — G.711 μ-law/A-law and IMA ADPCM — duration /
    RMS / peak / windowed frame-RMS over deterministic synthesized
    blobs, plus a quarantined non-audio row. Golden-pinned (WAV parsing
    isn't SQL-expressible)."""
    import numpy as np
    from effocr_spark.operators.multimodal import audio_features
    from effocr_spark.synth.wavcodec import (encode_wav, encode_wav_adpcm,
                                             encode_wav_alaw,
                                             encode_wav_ulaw)

    rows = []
    for i in range(8):
        rng = np.random.RandomState(4242 + i)
        n = 3200 + 800 * i
        samples = (rng.standard_normal(n) * (400 * (i + 1))).astype(np.int16)
        rows.append((i, bytearray(encode_wav(samples, rate=8000))))
    rng = np.random.RandomState(4242)
    tone = (np.sin(np.linspace(0, 60, 4800)) * 9000
            + rng.standard_normal(4800) * 250).astype(np.int16)
    rows.append((10, bytearray(encode_wav_ulaw(tone, rate=8000))))
    rows.append((11, bytearray(encode_wav_alaw(tone, rate=8000))))
    rows.append((12, bytearray(encode_wav_adpcm(tone, rate=16000))))
    rows.append((99, bytearray(b"definitely not a wav file")))
    df = _local_df(spark, rows, "id long, media binary")
    out = audio_features(df)
    return out.select(
        "id", "media_type", "sample_rate", "n_channels",
        F.round("duration_s", 4).alias("duration_s"),
        F.round("rms", 4).alias("rms"), "peak",
        F.size("frame_rms").cast("long").alias("n_frames"),
        F.round(F.coalesce(F.get(F.col("frame_rms"), 0), F.lit(0.0)), 4)
        .alias("frame0_rms"),
        "ok",
    )


def q_extract_pdf(spark, sf_dir):
    """PDF layout-parse branch (north rule: 'HTML boilerplate strip,
    PDF/layout parse, DOM heuristics'): three-way routed extraction over
    a deterministic mixed fixture — the FULL standard filter set
    (Flate, LZW, ASCIIHex, ASCII85, RunLength, chains), uncompressed
    text PDFs, an image-filter PDF (quarantined — raw JBIG2 bytes stay
    a seam), RC4/AES-128/AES-256 encryption incl. an xref-stream
    trailer and a TRUE-password document (quarantines), Identity-H CID
    text (hex/literal/ObjStm/deleted-glyph/no-ToUnicode), a
    Tm-positioned Chrome/Skia-shaped document, and the usual PNG/HTML
    pages. The PDF blobs are COMMITTED files (data/pdf_fixtures/ —
    regeneration byte-parity pinned by tests/test_pdf_fixture_files.py)
    so the query pays file reads, not AES-256 encoder hashes.
    Golden-pinned."""
    from effocr_spark.pipeline import extract_pages
    from effocr_spark.synth.pages import PAGES_COLUMNS, generate_rows
    from effocr_spark.synth.pdf_fixture_set import load_fixtures

    # 12 PNG/HTML pages exercise the three-way routing; full-scale OCR
    # coverage lives in extract_pages (300 rows) — this query's focus
    # is the 26-document PDF fixture corpus. The 12 rows are generated
    # DRIVER-side (same pure function of (seed, id) the distributed
    # generator maps — 0.09s vs a 0.4-0.6s 32-partition Spark job for
    # a dozen rows; computed fresh every invocation, nothing persisted)
    page_rows = [tuple(r[c] for c in PAGES_COLUMNS)
                 for r in generate_rows(range(12), seed=42)]
    pdf_rows = [(url, None, bytearray(blob), None, "en")
                for url, blob in load_fixtures()]
    mixed = _local_df(
        spark, page_rows + pdf_rows,
        "url string, warc_ts timestamp, html binary, text string, lang string")
    # materialize the mixed input once: the router scans its input once
    # per Python stage (the OCR stage and the combined DOM/PDF stage),
    # re-running the distributed page GENERATOR (pages_df mapInPandas)
    # each time — localCheckpoint pins the ~38 tiny rows so generation
    # happens once per invocation (computed from scratch every run;
    # nothing persists across runs). The repartition folds into the
    # same checkpoint job and halves the partition count of the union
    # (32+32 slices, mostly empty, each a near-empty Python-stage task
    # launch in every stage that scans it)
    mixed = mixed.repartition(
        spark.sparkContext.defaultParallelism).localCheckpoint(eager=True)
    res = extract_pages(mixed, _protos_bc(spark), salt_partitions=8)
    return res.select("url", "branch", "extracted_text", "ok")


def q_extract_pdf_scanned(spark, sf_dir):
    """Scanned-PDF OCR fusion (north star: 'embedded images/PDF
    layouts'): PDFs whose pages are DCT (JPEG) image XObjects — no text
    layer, the structure scanners emit — extract through the standard
    OCR branch and fuse per url; mixed text+scan documents get layer
    then scan. Incl. a transport-filtered XObject, an RC4-encrypted
    scan, CCITT G3/G4 fax, JBIG2 generic/globals/symbol/huffman/
    refinement/TPGRON/halftone, JPEG2000 (plain/offset/precinct/tiled),
    and an inline BI/ID/EI image. The PDF blobs are COMMITTED files
    (data/pdf_scan_fixtures/ — regeneration byte-parity pinned by
    tests/test_pdf_scan_fixture_files.py, the data/pdf_fixtures
    pattern): building them inline ran the from-scratch JBIG2/JP2/JPEG/
    CCITT ENCODERS driver-side on every invocation (~1.4s, over half
    the query's r6 bench latency) — the query now pays file reads, the
    decode plane is unchanged. Golden-pinned."""
    from effocr_spark.pipeline import extract_pages
    from effocr_spark.synth.pdf_scan_fixture_set import load_fixtures

    rows = [(url, None, bytearray(blob), None, "en")
            for url, blob in load_fixtures()]
    pages = _local_df(
        spark, rows, "url string, warc_ts timestamp, html binary, "
                     "text string, lang string")
    res = extract_pages(pages, _protos_bc(spark), salt_partitions=8,
                        embedded_images=True)
    return res.select("url", "branch", "extracted_text", "n_chars", "ok")


def q_extract_embedded(spark, sf_dir):
    """Embedded-image fusion (north star: detector over rendered page
    regions AND embedded images): born-digital pages carrying data-URI
    PNGs get their images OCR'd through the standard branch and fused
    onto the DOM text per url, in image order. Deterministic fixture;
    golden-pinned."""
    import base64

    from effocr_spark.pipeline import extract_pages
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.imgcodec import encode_png
    from effocr_spark.synth.pages import _en_ocr_line, _rng

    rows = []
    for i in range(16):
        rng = _rng(123, i)
        body = f"Body paragraph {i} of the born digital page"
        imgs = ""
        for j in range(i % 3):
            line = _en_ocr_line(rng, 3)
            uri = ("data:image/png;base64," + base64.b64encode(
                encode_png(render_line(line)[0])).decode())
            imgs += f'<img src="{uri}">'
        html = (f"<html><body><div id='m'><p>{body}</p>{imgs}</div>"
                f"</body></html>").encode()
        rows.append((f"https://emb.example/{i:03d}", None,
                     bytearray(html), None, "en"))
    pages = _local_df(
        spark, rows, "url string, warc_ts timestamp, html binary, "
                     "text string, lang string")
    res = extract_pages(pages, _protos_bc(spark), embedded_images=True,
                        salt_partitions=4)
    return res.select("url", "branch", "extracted_text",
                      F.col("n_chars").cast("long").alias("n_chars"), "ok")


def q_jpeg_features(spark, sf_dir):
    """Multimodal image plumbing over REAL JPEG decode
    (synth/jpegcodec.py): baseline 4:4:4 and 4:2:0 PLUS progressive
    SOF2 (spectral selection + successive approximation — the encoding
    most large web JPEGs use), dims + mean luma over deterministic
    synthesized blobs, plus a quarantined truncated row. Golden-pinned
    (DCT decode isn't SQL-expressible)."""
    import numpy as np
    from effocr_spark.operators.multimodal import media_features
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.jpegcodec import (encode_jpeg,
                                              encode_jpeg_progressive)
    from effocr_spark.synth.pages import _en_ocr_line, _rng

    rows = []
    for i in range(10):
        rng = _rng(777, i)
        img, _, _ = render_line(_en_ocr_line(rng, 2 + i % 3))
        rgb = np.repeat(img[:, :, None], 3, axis=2)
        rows.append((i, bytearray(encode_jpeg(rgb, subsample=i % 2 == 0))))
    for i in range(10, 14):  # progressive rows: 4:4:4 / 4:2:0 / restarts
        rng = _rng(777, i)
        img, _, _ = render_line(_en_ocr_line(rng, 2 + i % 3))
        rgb = np.repeat(img[:, :, None], 3, axis=2)
        rows.append((i, bytearray(encode_jpeg_progressive(
            rgb, subsample=i % 2 == 0, restart_interval=(i % 3) * 4))))
    # 12-bit extended-sequential grayscale (SOF1 + 16-bit DQT)
    from effocr_spark.synth.jpegcodec import (encode_jpeg_12bit,
                                              encode_jpeg_12bit_ext)
    img, _, _ = render_line(_en_ocr_line(_rng(777, 14), 3))
    img12 = (img.astype(np.uint32) * 4095 // 255).astype(np.uint16)
    rows.append((14, bytearray(encode_jpeg_12bit(img12))))
    # 12-bit COLOR sequential + 12-bit progressive (gray and color)
    img, _, _ = render_line(_en_ocr_line(_rng(777, 15), 3))
    rgb12 = (np.repeat(img[:, :, None], 3, axis=2)
             .astype(np.uint32) * 4095 // 255).astype(np.uint16)
    rows.append((15, bytearray(encode_jpeg_12bit_ext(rgb12))))
    rows.append((16, bytearray(encode_jpeg_12bit_ext(
        rgb12, progressive=True))))
    rows.append((17, bytearray(encode_jpeg_12bit_ext(
        img12, progressive=True))))
    # SOF3 huffman lossless (bit-exact decode, predictor 4)
    from effocr_spark.synth.jpegcodec import encode_jpeg_lossless
    rows.append((18, bytearray(encode_jpeg_lossless(img, predictor=4))))
    # JPEG2000 (JP2 container) through the same multimodal sniff —
    # lossless, so mean_luma equals the source image's exactly
    from effocr_spark.synth.jp2codec import encode_jp2
    rows.append((19, bytearray(encode_jp2(img, levels=2))))
    # JP2 with image-region offsets (the scanner-output SIZ shape) +
    # RPCL progression + 2 quality layers — lossless, exact luma
    rows.append((20, bytearray(encode_jp2(img, levels=2,
                                          offsets=(8, 4), n_layers=2,
                                          progression="RPCL"))))
    # custom precincts + CPRL + SOP/EPH markers — still lossless
    rows.append((21, bytearray(encode_jp2(img, levels=2,
                                          precincts=(5, 5),
                                          cblk_exp=(4, 4), n_layers=2,
                                          progression="CPRL",
                                          sop_eph=True))))
    rows.append((99, bytearray(b"\xff\xd8\xff\xe0truncated")))
    df = _local_df(spark, rows, "id long, media binary")
    out = media_features(df)
    return out.select("id", "media_type", "width", "height",
                      F.round("mean_luma", 2).alias("mean_luma"), "ok")


def q_coco_sink_roundtrip(spark, sf_dir):
    """K2 end-to-end through the REAL pipeline: extraction → span
    emission (ocr_spans_branch) → COCO JSONL serialization
    (coco_json_lines) → parse back → per-image invariants. Ids are
    partitioning-dependent (monotonically_increasing_id) so the check
    keys on content: per url, the annotation count, the char stream in
    reading order, and that it equals the page text minus whitespace
    (the reference's own writer-loop assert, infer_effocr.py:557).
    Golden-pinned."""
    from effocr_spark.operators.coco_sink import coco_json_lines, extraction_spans
    from effocr_spark.operators.extract import is_image_page, ocr_spans_branch
    from effocr_spark.synth.pages import pages_df

    pages, _ = pages_df(spark, 60, seed=42)
    res = ocr_spans_branch(pages.filter(is_image_page(F.col("html"))),
                           _protos_bc(spark))
    lines = coco_json_lines(extraction_spans(res))
    schema = ("image struct<file_name:string, height:int, width:int, "
              "id:long, text:string>, "
              "annotations array<struct<segmentation:array<array<long>>, "
              "area:long, iscrowd:int, image_id:long, bbox:array<long>, "
              "category_id:int, id:long, score:double, text:string>>")
    parsed = lines.select(F.from_json("value", schema).alias("d"))
    return parsed.select(
        F.col("d.image.file_name").alias("url"),
        F.col("d.image.height").alias("height"),
        F.col("d.image.width").alias("width"),
        F.size("d.annotations").cast("long").alias("n_annos"),
        F.concat_ws("", F.expr("transform(d.annotations, a -> a.text)"))
        .alias("char_stream"),
        (F.concat_ws("", F.expr("transform(d.annotations, a -> a.text)"))
         == F.regexp_replace(F.col("d.image.text"), r"[ \n]", ""))
        .alias("stream_matches_text"),
    )


def q_trocr_eval(spark, sf_dir):
    """TrOCR seq2seq baseline (reference trocr/infer_trocr.py): beam
    decode over synthetic line images + textline_evaluation(uncased),
    under the reference's faithful decoding config (no_repeat_ngram=3 —
    which genuinely mangles repeated trigrams, see operators/trocr.py)
    AND the blocker-free upper bound. Deterministic; golden-pinned."""
    from effocr_spark.operators.trocr import trocr_eval

    faithful = trocr_eval(spark, _protos_bc(spark), n=24, seed=17) \
        .select(F.lit("faithful_ngram3").alias("config"),
                F.round("accuracy", 4).alias("accuracy"),
                F.round("cer", 6).alias("cer"), "n")
    unblocked = trocr_eval(spark, _protos_bc(spark), n=24, seed=17,
                           no_repeat_ngram_size=0) \
        .select(F.lit("no_ngram_block").alias("config"),
                F.round("accuracy", 4).alias("accuracy"),
                F.round("cer", 6).alias("cer"), "n")
    return faithful.unionByName(unblocked)


def q_spellcheck(spark, sf_dir):
    """Visual homoglyph spell check as a vectorized UDF (SURVEY §2.8 F10;
    opt-in branch). Pure-Python oracle in tests; rows-only here."""
    from effocr_spark.functions.spellcheck import (
        create_common_abbrev, create_homoglyph_dict, create_worddict,
        visual_spell_checker)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)

    def fix(texts: pd.Series) -> pd.Series:
        wd, sd, ab = create_worddict(), create_homoglyph_dict(), create_common_abbrev()
        return texts.map(lambda t: visual_spell_checker(t[:80], wd, sd, ab))

    fix_udf = F.pandas_udf(fix, "string")
    return docs.select("doc_id", fix_udf(F.col("text")).alias("checked"))


FREQ_DICT_FULL = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "data", "frequency_dict_en_full.txt")


def q_video_metadata(spark, sf_dir):
    """Multimodal video column: MP4/ISO-BMFF box-walk metadata
    extraction (synth/mp4box.py — no codec, the curation-pipeline
    fields) over deterministic fixture blobs incl. a corrupt and a
    truncated row. EXACT SQL oracle: the expected values are
    analytically known from the ISO 14496-12 layout the writer emits,
    so the oracle is an independent VALUES table, not a golden."""
    from effocr_spark.operators.multimodal import video_metadata
    from effocr_spark.synth.mp4box import make_mp4

    rows = [
        (0, bytearray(make_mp4(640, 360, 2.0))),
        (1, bytearray(make_mp4(1280, 720, 5.5, with_audio=True))),
        (2, bytearray(make_mp4(1920, 1080, 3.25, timescale=90000,
                               brand=b"mp42"))),
        (3, bytearray(b"not a video at all")),
        (4, bytearray(make_mp4(320, 240, 1.0)[:40])),
    ]
    df = _local_df(spark, rows, "id long, media binary")
    return video_metadata(df).select(
        "id", "media_type", "brand", "width", "height", "duration_s",
        "n_tracks", F.array_join("handlers", ",").alias("handlers"), "ok")


def q_word_silver(spark, sf_dir):
    """Silver-correction merge of char and word streams (the north
    star's two-stream design): pages rendered from a known vocabulary,
    half with a deterministic ink-blot damaging one glyph — the char
    stream misreads the damaged glyph, the word-level kNN over the
    whole-word crop (broadcast prototype bank, same encoder) restores
    it. Output: per page, both streams' texts + whether silver changed
    anything. Golden-pinned (Python kernel)."""
    import numpy as np
    from effocr_spark.pipeline import broadcast_prototypes, extract_pages
    from effocr_spark.synth.font import render_line
    from effocr_spark.synth.imgcodec import encode_png
    from effocr_spark.synth.pages import _rng

    vocab = ["the", "quick", "brown", "fox", "jumps", "over", "lazy",
             "dog", "county", "gazette", "report", "spring", "market",
             "price", "grain", "wheat"]
    rows = []
    for i in range(12):
        rng = _rng(4242, i)
        words = [vocab[int(rng.randint(len(vocab)))] for _ in range(4)]
        text = " ".join(words)
        img, _, word_boxes = render_line(text)
        if i % 2 == 1 and len(word_boxes) > 1:  # blot word 1, glyph 2
            x0 = int(word_boxes[1][0]) + 4
            y0 = img.shape[0] // 3
            img = img.copy()
            img[y0:y0 + 3, x0:x0 + 4] = 0
        rows.append((f"silver://{i}", None, bytearray(encode_png(img)),
                     None, "en"))
    pages = _local_df(
        spark, rows, "url string, warc_ts timestamp, html binary, "
                     "text string, lang string")
    protos = broadcast_prototypes(spark, word_vocab=vocab)
    # ONE extraction pass emitting both streams (emit_char_text): the
    # char stream is the same localize+encode output assembled without
    # the word merge, so the old two-pass + join spelling (2x localize,
    # 2x encode, 1 shuffle) collapses to a single mapInPandas stage —
    # bit-identical outputs (pinned in tests/test_word_silver.py)
    res = extract_pages(pages, protos, word_silver=0.95,
                        emit_char_text=True)
    return (res.select("url", "char_text",
                       F.col("extracted_text").alias("silver_text"),
                       (F.col("char_text") != F.col("extracted_text"))
                       .alias("corrected"))
            .orderBy("url"))


def q_spellcheck_filedict(spark, sf_dir):
    """F10 at realistic dictionary scale: the 10k+-entry symspell-format
    frequency file loads through the S5 ingestion path
    (load_frequency_dictionary → spark.read.text, the
    frequency_dictionary_en_82_765.txt analog of
    /root/reference/utils/spell_check_utils.py:14-23), is broadcast
    driver-side (a few MB — a broadcast variable, never a join side),
    and the homoglyph beam checker restores JVM-injected l→1 OCR
    corruptions against it. Golden-pinned (Python kernel)."""
    from effocr_spark.functions.spellcheck import (
        create_common_abbrev, create_homoglyph_dict, create_worddict,
        visual_spell_checker)

    wd_bc = spark.sparkContext.broadcast(
        create_worddict(freq_path=FREQ_DICT_FULL, spark=spark))
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    # deterministic homoglyph corruption, JVM-side (l → 1, the classic
    # OCR confusion; the checker's vsim map inverts 1 → l/i)
    corrupted = docs.select(
        "doc_id",
        F.translate(F.substring("text", 1, 80), "l", "1").alias("noisy"))

    def fix(texts: pd.Series) -> pd.Series:
        sd, ab = create_homoglyph_dict(), create_common_abbrev()
        wd = wd_bc.value
        return texts.map(lambda t: visual_spell_checker(t, wd, sd, ab))

    fix_udf = F.pandas_udf(fix, "string")
    return corrupted.select(
        "doc_id", "noisy", fix_udf(F.col("noisy")).alias("checked"))


# ----------------------------------------------------------------------
# contract
# ----------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_pages(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # 49 entries — deliberately UNDER the harness's 50-row record cap
    # (r3-r5 each recorded exactly the first 50 registry entries, so
    # the round-5 micro-queries were merged into the two battery
    # queries). Ordered by measured per-query runtime ascending
    # (local[8], sf0.01); every entry also has a local replica via
    # tools/check_queries.py.
    return {
        "spellcheck": q_spellcheck,
        "hard_negatives": q_hard_negatives,
        "reshape_battery": q_reshape_battery,
        "window_battery": q_window_battery,
        "audio_features": q_audio_features,
        "video_metadata": q_video_metadata,
        "coco_spans": q_coco_spans,
        "spellcheck_filedict": q_spellcheck_filedict,
        "quarantine_counts": q_quarantine_counts,
        "doc_stats": q_doc_stats,
        "media_features": q_media_features,
        "jpeg_features": q_jpeg_features,
        "envelope_join": q_envelope_join,
        "events_daily": q_events_daily,
        "exact_dedup": q_exact_dedup,
        "string_battery": q_string_battery,
        "minhash_sigs": q_minhash_sigs,
        "interval_join": q_interval_join,
        "centroid_knn": q_centroid_knn,
        "trocr_eval": q_trocr_eval,
        "hourly_windows": q_hourly_windows,
        "gt_pred_eval": q_gt_pred_eval,
        "embedding_neardup": q_embedding_neardup,
        "asof_join": q_asof_join,
        "reading_order": q_reading_order,
        "coco_sink_roundtrip": q_coco_sink_roundtrip,
        "sessionize": q_sessionize,
        "srp_buckets": q_srp_buckets,
        "extract_embedded": q_extract_embedded,
        "cosine_topk": q_cosine_topk,
        "lsh_candidates": q_lsh_candidates,
        "ngram_jaccard": q_ngram_jaccard,
        "extract_pdf_scanned": q_extract_pdf_scanned,
        "srp_neardup": q_srp_neardup,
        "topk_per_group": q_topk_per_group,
        "lsh_buckets": q_lsh_buckets,
        "ivf_topk": q_ivf_topk,
        "pq_topk": q_pq_topk,
        "knn_topk": q_knn_topk,
        "shipping_priority": q_shipping_priority,
        "top_customers": q_top_customers,
        "extract_match_rate": q_extract_match_rate,
        "simhash": q_simhash,
        "langid_confusion": q_langid_confusion,
        "extract_pages": q_extract_pages,
        "word_silver": q_word_silver,
        "dedup_groups": q_dedup_groups,
        "pricing_summary": q_pricing_summary,
        "extract_pdf": q_extract_pdf,
    }


def oracle_sql() -> dict[str, str]:
    shingles = (
        "SELECT doc_id, unnest(CASE WHEN len(string_split(text,' ')) >= 3 THEN "
        "list_transform(generate_series(1, len(string_split(text,' ')) - 2), "
        "i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')) "
        "ELSE [] END) AS shingle FROM documents WHERE doc_id < {maxid}"
    )
    sig_cols = ", ".join(
        f"min(md5(shingle || '#{i}')) AS sig_{i}" for i in range(8))
    minhash_cte = (
        f"WITH sh AS ({shingles}), sigs AS "
        f"(SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id)"
    )
    simhash_bits = ", ".join(
        f"(avg((ascii(substr(md5(w),{i + 1},1)) % 2)::DOUBLE) > 0.5)::INT AS bit_{i}"
        for i in range(16))
    simhash_sum = " + ".join(f"bit_{i} * {1 << i}" for i in range(16))

    stop = {
        "en": "['the','and','of','to','in','is','that','for','with']",
        "de": "['der','die','das','und','ist','nicht','mit','ein']",
        "es": "['el','la','los','que','de','y','es','con','por']",
        "fr": "['le','la','les','et','est','que','des','pour','une']",
    }
    hits = {k: (f"len(list_intersect(string_split(lower(text),' '), {v}))")
            for k, v in stop.items()}
    # votes in a CTE, folded exactly like the Spark langid loop
    # (first language in de<en<es<fr order achieving the max vote wins)
    langid_cte = (
        "WITH v AS (SELECT *, "
        + ", ".join(f"{hits[k]} AS hit_{k}" for k in sorted(stop))
        # actual CJK ranges (Han+kana), mirroring effocr_spark.operators.
        # textstats._CJK_CLASS — NOT "any non-ASCII" (accented Latin must
        # keep its stopword vote); RE2 \x{...} spelling for DuckDB
        + ", length(text) != length(regexp_replace(text, "
          "'[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}]', '', 'g')) AS cjk "
          "FROM documents), "
        "folded AS (SELECT *, "
        "CASE WHEN cjk THEN 'zh' ELSE "
        " CASE "
        "  WHEN hit_fr > hit_es AND hit_fr > hit_en AND hit_fr > hit_de AND hit_fr > 0 THEN 'fr' "
        "  WHEN hit_es > hit_en AND hit_es > hit_de AND hit_es >= hit_fr AND hit_es > 0 THEN 'es' "
        "  WHEN hit_en > hit_de AND hit_en >= hit_es AND hit_en >= hit_fr AND hit_en > 0 THEN 'en' "
        "  WHEN hit_de >= hit_en AND hit_de >= hit_es AND hit_de >= hit_fr AND hit_de > 0 THEN 'de' "
        "  ELSE 'und' END END AS lang_pred FROM v)"
    )

    quality_sql = (
        "round(("
        "least(len(string_split(text,' ')) / 50.0, 1.0) + "
        "(CASE WHEN (length(replace(text,' ','')) / greatest(len(string_split(text,' ')),1)) "
        " BETWEEN 2 AND 12 THEN 1.0 ELSE 0.0 END) + "
        "least(len(list_intersect(string_split(lower(text),' '), "
        f"{stop['en']})) / 3.0, 1.0) + "
        "(CASE WHEN ((length(text) - length(regexp_replace(text,'[\\.,;:!\\?]','','g')))::DOUBLE "
        " / greatest(length(text),1)) < 0.1 THEN 1.0 ELSE 0.0 END)"
        ") / 4.0, 4)"
    )

    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 10
        """,
        "shipping_priority": """
            SELECT l_orderkey, o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "gt_pred_eval": """
            WITH pairs AS (
              SELECT g.text AS gt, coalesce(p.pred, '') AS pred
              FROM documents g LEFT JOIN (
                SELECT doc_id, substring(text, 2) AS pred
                FROM documents WHERE doc_id % 3 != 0) p
              ON g.doc_id = p.doc_id)
            SELECT round(avg((trim(gt) = trim(pred))::INT) * 100, 4) AS accuracy,
                   round(sum(levenshtein(trim(gt), trim(pred))::DOUBLE)
                         / sum(length(gt)), 6) AS cer,
                   count(*) AS n
            FROM pairs
        """,
        "asof_join": """
            WITH matched AS (
              SELECT v.user_id, v.event_id AS view_id, min(c.ts) AS next_click_ts
              FROM (SELECT * FROM events WHERE event_type = 'view') v
              JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON v.user_id = c.user_id AND c.ts > v.ts
              GROUP BY v.user_id, v.event_id)
            SELECT user_id, count(*) AS n_matched_views
            FROM matched GROUP BY user_id ORDER BY user_id
        """,
        "topk_per_group": """
            SELECT event_type, event_id, value, rn FROM (
              SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id) AS rn
              FROM events) WHERE rn <= 3
        """,
        "reading_order": """
            SELECT user_id, event_id, seq FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS seq
              FROM events) WHERE seq <= 5
        """,
        "window_battery": """
            SELECT 'lead_lag' AS section, o_custkey::VARCHAR AS k,
                   o_orderkey::BIGINT AS a,
                   lag(o_orderkey) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey)
                     ::BIGINT AS b,
                   NULL::DOUBLE AS c
            FROM orders
            UNION ALL
            SELECT 'max_by', event_type, event_id::BIGINT,
                   NULL::BIGINT, value::DOUBLE FROM (
              SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1
            UNION ALL
            SELECT 'distinct_users', event_type,
                   count(DISTINCT user_id)::BIGINT, count(*)::BIGINT,
                   NULL::DOUBLE
            FROM events GROUP BY event_type
        """,
        "reshape_battery": """
            SELECT 'hex_codepoint' AS section, doc_id::BIGINT AS id,
                   NULL::BIGINT AS pos,
                   upper(to_hex(ascii(substr(text, 1, 1)))) AS s
            FROM documents WHERE doc_id < 30
            UNION ALL
            SELECT 'posexplode_zip', doc_id::BIGINT,
                   (unnest(generate_series(1, least(3, len(ws)))) - 1)::BIGINT,
                   unnest(list_slice(ws, 1, least(3, len(ws))))
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents WHERE doc_id < 10)
            UNION ALL
            SELECT 'row_replicate', r_regionkey::BIGINT, i::BIGINT,
                   NULL::VARCHAR
            FROM region, generate_series(0, 2) AS t(i)
            UNION ALL
            SELECT 'set_ops', NULL::BIGINT, NULL::BIGINT, lang FROM (
              SELECT DISTINCT lang FROM (
                SELECT lang FROM documents WHERE source = 'src0'
                EXCEPT ALL
                SELECT lang FROM documents WHERE source = 'src1'))
            UNION ALL
            SELECT 'winnow', doc_id::BIGINT, NULL::BIGINT, fp FROM (
              WITH g AS (
                SELECT doc_id,
                       list_transform(
                         generate_series(1, greatest(length(text)-7,0)),
                         i -> md5(substr(text, i, 8))) AS hs
                FROM documents WHERE doc_id < 8),
              m AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                         generate_series(1, greatest(len(hs)-3,0)),
                         i -> list_min(hs[i:i+3]))) AS fps
                FROM g WHERE len(hs) >= 4)
              SELECT doc_id, unnest(fps) AS fp FROM m)
        """,
        "interval_join": """
            SELECT a.user_id, count(*) AS n_pairs
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND abs(epoch(date_trunc('second', a.ts))
                     - epoch(date_trunc('second', b.ts))) <= 60
            GROUP BY a.user_id ORDER BY a.user_id
        """,
        "events_daily": """
            SELECT date_trunc('day', ts)::DATE AS day, event_type,
                   count(*) AS n,
                   round(avg(value), 4) AS avg_value,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "hourly_windows": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "sessionize": """
            WITH gaps AS (
              SELECT user_id, ts, event_id,
                     epoch(date_trunc('second', ts))
                     - epoch(date_trunc('second',
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))) AS gap
              FROM events),
            marked AS (
              SELECT user_id, ts,
                     sum(CASE WHEN gap IS NULL OR gap > 1800
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
              FROM gaps)
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts) AS session_start
            FROM marked GROUP BY user_id, session_id
        """,
        "quarantine_counts": """
            SELECT source,
                   sum((n_chars != length(text))::INT)::BIGINT AS n_bad,
                   count(*) AS n_rows
            FROM documents GROUP BY source
        """,
        "string_battery": """
            SELECT doc_id,
                   trim(upper(substr(text, 1, 20))) AS head_upper,
                   translate(text, 'aeiou', '') AS no_vowels,
                   len(string_split(text, ' '))::BIGINT AS n_tokens,
                   length(regexp_replace(text, '[^a-z]', '', 'g'))::BIGINT AS n_alpha,
                   array_to_string(list_slice(string_split(text, ' '), 1, 3), '|') AS first3,
                   levenshtein(substr(text, 1, 10), substr(text, 11, 10))::BIGINT AS self_edit
            FROM documents WHERE doc_id < 50
        """,
        "exact_dedup": """
            SELECT user_id, event_type, min(event_id)::BIGINT AS event_id,
                   count(*) AS dup_count
            FROM events GROUP BY user_id, event_type
        """,
        "minhash_sigs": minhash_cte.format(maxid=50) + " SELECT * FROM sigs",
        "lsh_buckets": minhash_cte.format(maxid=200) + """
            , bands AS (
              SELECT doc_id, 0 AS band_id, md5(concat_ws('|', sig_0, sig_1)) AS band_val FROM sigs
              UNION ALL
              SELECT doc_id, 1, md5(concat_ws('|', sig_2, sig_3)) FROM sigs
              UNION ALL
              SELECT doc_id, 2, md5(concat_ws('|', sig_4, sig_5)) FROM sigs
              UNION ALL
              SELECT doc_id, 3, md5(concat_ws('|', sig_6, sig_7)) FROM sigs)
            SELECT band_id, band_val, count(*) AS bucket_size,
                   min(doc_id)::BIGINT AS min_id
            FROM bands GROUP BY band_id, band_val
        """,
        "simhash": f"""
            WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents WHERE doc_id < 100),
            bits AS (SELECT doc_id, {simhash_bits} FROM w GROUP BY doc_id)
            SELECT doc_id, ({simhash_sum})::BIGINT AS simhash FROM bits
        """,
        "ngram_jaccard": """
            WITH grams AS (
              SELECT DISTINCT doc_id, unnest(
                CASE WHEN len(string_split(text,' ')) >= 3 THEN
                  list_transform(generate_series(1, len(string_split(text,' ')) - 2),
                    i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))
                ELSE [] END) AS g
              FROM documents WHERE doc_id < 40),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1)
            SELECT id_a, id_b,
                   round(n_inter::DOUBLE / (sa.n_grams + sb.n_grams - n_inter), 5)
                   AS jaccard
            FROM inter JOIN sizes sa ON id_a = sa.doc_id
                       JOIN sizes sb ON id_b = sb.doc_id
        """,
        "doc_stats": langid_cte + f"""
            SELECT doc_id,
                   len(string_split(text, ' '))::BIGINT AS n_tokens,
                   round(length(replace(text, ' ', ''))::DOUBLE
                         / greatest(len(string_split(text, ' ')), 1), 4) AS avg_token_len,
                   round((length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')))::DOUBLE
                         / greatest(length(text), 1), 4) AS punct_ratio,
                   {quality_sql} AS quality,
                   lang_pred,
                   concat_ws('-', md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))),
                             len(string_split(text, ' '))::VARCHAR) AS fingerprint
            FROM folded WHERE doc_id < 100
        """,
        "langid_confusion": langid_cte + """
            SELECT lang, lang_pred, count(*) AS n FROM folded
            GROUP BY lang, lang_pred
        """,
        "ivf_topk": """
            WITH vecs AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings),
            q AS (SELECT v AS qv FROM vecs WHERE vec_id = 3),
            pool AS (SELECT * FROM vecs WHERE vec_id != 3),
            cents AS (
              -- lowest-8-ids seeding (sparse-id-safe), mirroring
              -- ivf_centroids' orderBy(id).limit(n_cells)
              SELECT vec_id AS cell, v AS centroid FROM pool
              ORDER BY vec_id LIMIT 8),
            assign AS (
              SELECT vec_id, cell FROM (
                SELECT p.vec_id, c.cell,
                       row_number() OVER (
                         PARTITION BY p.vec_id
                         ORDER BY list_inner_product(p.v, c.centroid)
                           / (sqrt(list_inner_product(p.v, p.v))
                              * sqrt(list_inner_product(c.centroid, c.centroid)))
                           DESC, c.cell) AS rn
                FROM pool p, cents c) WHERE rn = 1),
            probe AS (
              SELECT cell FROM cents, q
              ORDER BY list_inner_product(centroid, qv)
                / (sqrt(list_inner_product(centroid, centroid))
                   * sqrt(list_inner_product(qv, qv))) DESC, cell
              LIMIT 2),
            cand AS (
              SELECT p.vec_id, a.cell,
                     list_inner_product(p.v, qv)
                     / (sqrt(list_inner_product(p.v, p.v))
                        * sqrt(list_inner_product(qv, qv))) AS raw
              FROM pool p
              JOIN assign a ON a.vec_id = p.vec_id
              JOIN probe pr ON pr.cell = a.cell, q)
            SELECT vec_id, cell, round(raw, 4) AS score
            FROM cand ORDER BY raw DESC, vec_id LIMIT 5
        """,
        "cosine_topk": """
            WITH q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
                       FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id,
                     list_inner_product(list_transform(embedding, x -> x::DOUBLE), qv)
                     / (sqrt(list_inner_product(list_transform(embedding, x -> x::DOUBLE),
                                                list_transform(embedding, x -> x::DOUBLE)))
                        * sqrt(list_inner_product(qv, qv))) AS raw
              FROM embeddings, q WHERE vec_id != 0)
            SELECT vec_id, round(raw, 4) AS score
            FROM scored ORDER BY raw DESC, vec_id LIMIT 5
        """,
        "centroid_knn": """
            WITH dims AS (
              SELECT label, i AS pos, avg(embedding[i]::DOUBLE) AS m
              FROM embeddings, generate_series(1, 64) AS t(i)
              GROUP BY label, i),
            cent AS (
              SELECT label AS pred_label,
                     list(m ORDER BY pos) AS centroid
              FROM dims GROUP BY label),
            scored AS (
              SELECT e.vec_id, e.label, c.pred_label,
                     list_inner_product(list_transform(e.embedding, x -> x::DOUBLE), c.centroid)
                     / (sqrt(list_inner_product(list_transform(e.embedding, x -> x::DOUBLE),
                                                list_transform(e.embedding, x -> x::DOUBLE)))
                        * sqrt(list_inner_product(c.centroid, c.centroid))) AS score
              FROM embeddings e CROSS JOIN cent c),
            ranked AS (
              SELECT vec_id, label, pred_label,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY score DESC, pred_label) AS rn
              FROM scored)
            SELECT vec_id, label::BIGINT AS label, pred_label::BIGINT AS pred_label
            FROM ranked WHERE rn = 1
        """,
        "embedding_neardup": """
            WITH base AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                          FROM embeddings WHERE vec_id < 150)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_inner_product(a.e, b.e)
                         / (sqrt(list_inner_product(a.e, a.e))
                            * sqrt(list_inner_product(b.e, b.e))), 4) AS score
            FROM base a JOIN base b ON a.vec_id < b.vec_id
            WHERE list_inner_product(a.e, b.e)
                  / (sqrt(list_inner_product(a.e, a.e))
                     * sqrt(list_inner_product(b.e, b.e))) >= 0.35
        """,
        "srp_buckets": """
            WITH dims AS (
              SELECT vec_id, i - 1 AS j, embedding[i]::DOUBLE AS v
              FROM embeddings, generate_series(1, 64) AS t(i)),
            projs AS (
              SELECT vec_id,
                     sum(v * (CASE WHEN (j * 3) % 7 < 3 THEN 1.0 ELSE -1.0 END)) AS proj_0,
                     sum(v * (CASE WHEN (j * 4) % 7 < 3 THEN 1.0 ELSE -1.0 END)) AS proj_1,
                     sum(v * (CASE WHEN (j * 5) % 7 < 3 THEN 1.0 ELSE -1.0 END)) AS proj_2,
                     sum(v * (CASE WHEN (j * 6) % 7 < 3 THEN 1.0 ELSE -1.0 END)) AS proj_3
              FROM dims GROUP BY vec_id)
            SELECT ((proj_0 > 0)::BIGINT + (proj_1 > 0)::BIGINT * 2
                    + (proj_2 > 0)::BIGINT * 4 + (proj_3 > 0)::BIGINT * 8) AS bucket,
                   count(*) AS n
            FROM projs GROUP BY 1
        """,
        "lsh_candidates": minhash_cte.format(maxid=200) + """
            , bands AS (
              SELECT doc_id, md5(concat_ws('|', sig_0, sig_1)) AS band_val FROM sigs
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', sig_2, sig_3)) FROM sigs
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', sig_4, sig_5)) FROM sigs
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', sig_6, sig_7)) FROM sigs),
            small AS (
              SELECT band_val FROM (
                SELECT band_val, count(*) AS n FROM bands GROUP BY 1)
              WHERE n <= 20),
            kept AS (SELECT bands.* FROM bands JOIN small USING (band_val)),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM kept a JOIN kept b
                ON a.band_val = b.band_val AND a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   round(((sa.sig_0 = sb.sig_0)::INT + (sa.sig_1 = sb.sig_1)::INT
                        + (sa.sig_2 = sb.sig_2)::INT + (sa.sig_3 = sb.sig_3)::INT
                        + (sa.sig_4 = sb.sig_4)::INT + (sa.sig_5 = sb.sig_5)::INT
                        + (sa.sig_6 = sb.sig_6)::INT + (sa.sig_7 = sb.sig_7)::INT
                        ) / 8.0, 4) AS est_jaccard
            FROM cand JOIN sigs sa ON cand.id_a = sa.doc_id
                      JOIN sigs sb ON cand.id_b = sb.doc_id
        """,
        # recursive member requires WITH RECURSIVE heading the CTE list
        "dedup_groups": minhash_cte.format(maxid=200).replace(
            "WITH ", "WITH RECURSIVE ", 1) + """
            , bands AS (
              SELECT doc_id, md5(concat_ws('|', sig_0, sig_1)) AS band_val FROM sigs
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', sig_2, sig_3)) FROM sigs
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', sig_4, sig_5)) FROM sigs
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', sig_6, sig_7)) FROM sigs),
            small AS (
              SELECT band_val FROM (
                SELECT band_val, count(*) AS n FROM bands GROUP BY 1)
              WHERE n <= 20),
            kept AS (SELECT bands.* FROM bands JOIN small USING (band_val)),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM kept a JOIN kept b
                ON a.band_val = b.band_val AND a.doc_id < b.doc_id),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM cand
              UNION
              SELECT id_b, id_a FROM cand),
            ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
            reach(id, lab) AS (
              SELECT doc_id, doc_id FROM ids
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
            SELECT id AS doc_id, min(lab) AS group_id
            FROM reach GROUP BY id
        """,
        "knn_topk": """
            WITH q AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                       FROM embeddings WHERE vec_id < 10),
            p AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                  FROM embeddings WHERE vec_id >= 10 AND vec_id < 100),
            scored AS (
              SELECT q.vec_id AS vec_id, p.vec_id AS neighbor_id,
                     list_inner_product(q.e, p.e) AS s
              FROM q CROSS JOIN p),
            ranked AS (
              SELECT vec_id, neighbor_id, s,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY s DESC, neighbor_id) AS rank
              FROM scored)
            SELECT vec_id, rank::BIGINT AS rank, neighbor_id,
                   round(s, 4) AS score
            FROM ranked WHERE rank <= 3
        """,
        "coco_spans": """
            SELECT (l_orderkey * 10 + l_linenumber)::BIGINT AS anno_id,
                   l_orderkey::BIGINT AS image_id,
                   (l_partkey % 97)::BIGINT AS x,
                   (l_suppkey % 53)::BIGINT AS y,
                   (l_linenumber + 2)::BIGINT AS w,
                   7::BIGINT AS h,
                   ((l_linenumber + 2) * 7)::BIGINT AS area,
                   ((l_partkey % 97) + l_linenumber + 2)::BIGINT AS seg_x2,
                   ((l_suppkey % 53) + 7)::BIGINT AS seg_y2,
                   l_returnflag AS text
            FROM lineitem WHERE l_orderkey < 60
        """,
        # extract_pages / extract_match_rate / media_features / spellcheck:
        # Python-kernel queries over a fully deterministic fixture
        # (seed 42), exact-pinned via committed golden parquet
        # (tools/make_goldens.py) served to DuckDB through read_parquet.
        # Not circular: the same outputs are independently asserted
        # byte-identical to the pinned plain-Python reference oracle in
        # tests/ (test_pipeline_e2e, test_spellcheck, test_etl_multimodal).
        "pq_topk": _golden_sql("pq_topk"),
        "extract_pages": _golden_sql("extract_pages"),
        "extract_match_rate": _golden_sql("extract_match_rate"),
        "media_features": _golden_sql("media_features"),
        "spellcheck": _golden_sql("spellcheck"),
        "spellcheck_filedict": _golden_sql("spellcheck_filedict"),
        "video_metadata": """
            SELECT * FROM (VALUES
              (0::BIGINT, 'video/mp4', 'isom', 640, 360, 2.0::DOUBLE, 1, 'vide', TRUE),
              (1::BIGINT, 'video/mp4', 'isom', 1280, 720, 5.5::DOUBLE, 2, 'vide,soun', TRUE),
              (2::BIGINT, 'video/mp4', 'mp42', 1920, 1080, 3.25::DOUBLE, 1, 'vide', TRUE),
              (3::BIGINT, 'application/octet-stream', NULL, 0, 0, 0.0::DOUBLE, 0, '', FALSE),
              (4::BIGINT, 'video/mp4', NULL, 0, 0, 0.0::DOUBLE, 0, '', FALSE)
            ) AS t(id, media_type, brand, width, height, duration_s,
                   n_tracks, handlers, ok)
        """,
        "word_silver": _golden_sql("word_silver"),
        "trocr_eval": _golden_sql("trocr_eval"),
        "hard_negatives": _golden_sql("hard_negatives"),
        "srp_neardup": _golden_sql("srp_neardup"),
        "audio_features": _golden_sql("audio_features"),
        "coco_sink_roundtrip": _golden_sql("coco_sink_roundtrip"),
        "extract_pdf": _golden_sql("extract_pdf"),
        "extract_pdf_scanned": _golden_sql("extract_pdf_scanned"),
        "extract_embedded": _golden_sql("extract_embedded"),
        "jpeg_features": _golden_sql("jpeg_features"),
        "envelope_join": """
            WITH li AS (SELECT * FROM lineitem WHERE l_orderkey < 200),
            chars AS (
              SELECT (l_orderkey * 10 + l_linenumber)::BIGINT AS id,
                     (l_orderkey % 20)::BIGINT AS image_id,
                     (l_partkey % 80)::DOUBLE AS x0, (l_suppkey % 40)::DOUBLE AS y0,
                     (l_partkey % 80 + 6)::DOUBLE AS x1, (l_suppkey % 40 + 10)::DOUBLE AS y1
              FROM li),
            words AS (
              SELECT (l_orderkey * 10 + l_linenumber + 100000)::BIGINT AS id,
                     (l_orderkey % 20)::BIGINT AS image_id,
                     (l_partkey % 80 - 2)::DOUBLE AS x0, (l_suppkey % 40 - 2)::DOUBLE AS y0,
                     (l_partkey % 80 + 28)::DOUBLE AS x1, (l_suppkey % 40 + 12)::DOUBLE AS y1
              FROM li),
            joined AS (
              SELECT c.id AS char_id, w.id AS word_id, c.image_id,
                     greatest(least(c.x1, w.x1) - greatest(c.x0, w.x0), 0)
                     * greatest(least(c.y1, w.y1) - greatest(c.y0, w.y0), 0)
                     / (least((c.x1-c.x0)*(c.y1-c.y0), (w.x1-w.x0)*(w.y1-w.y0)) + 1e-7)
                     AS iom
              FROM chars c JOIN words w ON c.image_id = w.image_id)
            SELECT char_id, word_id, image_id, round(iom, 5) AS iom
            FROM joined WHERE iom >= 0.8
        """,
    }
