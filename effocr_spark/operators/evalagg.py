"""Spark-native OCR quality aggregate (A1): textline accuracy + CER /
ICDAR2019 normalized edit distance over (gt, pred) pairs.

Relational spelling of utils/eval_utils.py:25-70 using
built-in `levenshtein` — whole-stage-codegen'd, no Python. The pure
kernel (functions/texteval.py) is the cross-check oracle in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def clean_expr(col) -> Column:
    """string_cleaner (eval_utils.py:14-22) as chained replaces."""
    c = F.regexp_replace(col, "“", '"')
    c = F.regexp_replace(c, "”", '"')
    c = F.regexp_replace(c, "''", '"')
    c = F.regexp_replace(c, "‘‘", '"')
    c = F.regexp_replace(c, "’’", '"')
    c = F.regexp_replace(c, "\n", "")
    return c


def textline_eval(df: DataFrame, gt_col: str = "gt", pred_col: str = "pred",
                  no_spaces: bool = False, norm_edit: bool = False,
                  uncased: bool = False) -> DataFrame:
    """→ 1-row DF (accuracy double, cer double, n long).

    Missing preds must be pre-filled with '' (gt_collect left-join
    semantics, infer_effocr_onnx_multi.py:59-67).
    """
    # n_chars normalizes by RAW gt length, before cleaning (:36)
    raw_gt_len = F.length(F.col(gt_col))

    gt = F.trim(clean_expr(F.col(gt_col)))
    pred = F.trim(clean_expr(F.col(pred_col)))
    if no_spaces:
        gt = F.regexp_replace(gt, " ", "")
        pred = F.regexp_replace(pred, " ", "")
    if uncased:
        gt, pred = F.lower(gt), F.lower(pred)

    correct = (gt == pred).cast("int")
    dist = F.levenshtein(gt, pred).cast("double")
    if norm_edit:
        denom = F.when(F.length(gt) > F.length(pred),
                       F.length(gt)).otherwise(F.length(pred))
        per_row = dist / denom
        cer = F.avg(per_row)
    else:
        cer = F.sum(dist) / F.sum(raw_gt_len)

    return df.agg(
        (F.avg(correct) * 100).alias("accuracy"),
        cer.alias("cer"),
        F.count("*").alias("n"),
    )
