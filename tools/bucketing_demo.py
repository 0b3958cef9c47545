"""Bucketed co-located join demo: pre-bucketing both sides of a hot join
key eliminates the shuffle at join time — the 100 TB pattern for
repeated joins against the same key (e.g. url-keyed lineage anti-joins,
orders⋈lineitem analytics).

Usage: python tools/bucketing_demo.py
Prints the join plan with and without bucketing; asserts the bucketed
plan has NO shuffle exchange.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from effocr_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    shutil.rmtree("spark-warehouse", ignore_errors=True)
    spark = get_spark("bucketing", cpus=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")

    plain = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
    p_plain = plan_of(plain)
    n_plain = p_plain.count("Exchange")

    orders.write.bucketBy(16, "o_orderkey").sortBy("o_orderkey") \
        .mode("overwrite").saveAsTable("orders_b")
    lineitem.write.bucketBy(16, "l_orderkey").sortBy("l_orderkey") \
        .mode("overwrite").saveAsTable("lineitem_b")
    ob = spark.table("orders_b")
    lb = spark.table("lineitem_b")
    bucketed = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
    p_bucketed = plan_of(bucketed)
    n_bucketed = p_bucketed.count("Exchange")

    print(f"plain join exchanges:    {n_plain}")
    print(f"bucketed join exchanges: {n_bucketed}")
    assert n_plain >= 2 and n_bucketed == 0, "bucketing did not remove the shuffle"
    n = bucketed.count()
    assert n == plain.count()
    print(f"RESULT bucketed co-located join verified shuffle-free ({n} rows)")
    spark.stop()


if __name__ == "__main__":
    main()
