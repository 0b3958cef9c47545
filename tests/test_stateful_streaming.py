"""applyInPandasWithState sessionization: the streaming stateful
operator must agree with the batch cumulative-window spelling, and its
state must persist across micro-batches via the checkpoint."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _batch_sessions(spark, events_path):
    import __spark_entry__ as em

    ev = spark.read.parquet(events_path)
    spark.read.parquet(events_path).createOrReplaceTempView("_ev")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
    return {
        (r["user_id"], r["session_id"]): r["n_events"]
        for r in sess.groupBy("user_id", "session_id")
                     .agg(F.count("*").alias("n_events")).collect()
    }


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    from effocr_spark import streaming

    src = str(tmp_path / "events")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .filter(F.col("user_id") < 20).write.parquet(src)

    events = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double, props string")
              .parquet(src))
    q = (streaming.stateful_sessionize(events)
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {
        (r["user_id"], r["session_id"]): r["total"]
        for r in spark.read.parquet(out)
                      .groupBy("user_id", "session_id")
                      .agg(F.sum("n_events").alias("total")).collect()
    }
    exp = _batch_sessions(spark, src)
    assert got == exp
    # state persisted: a second AvailableNow run with no new files emits nothing new
    q2 = (streaming.stateful_sessionize(events)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(300)
    got2 = {
        (r["user_id"], r["session_id"]): r["total"]
        for r in spark.read.parquet(out)
                      .groupBy("user_id", "session_id")
                      .agg(F.sum("n_events").alias("total")).collect()
    }
    assert got2 == exp
