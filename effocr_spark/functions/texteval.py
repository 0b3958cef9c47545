"""Text evaluation kernels: string cleaning, edit distance, textline
accuracy / CER / ICDAR2019 normalized edit distance.

Faithful to utils/eval_utils.py:14-70 (string_cleaner +
textline_evaluation) with NLTK's edit_distance replaced by a standard
Wagner-Fischer implementation (identical semantics: unit costs, no
transpositions). The Spark-side aggregate (operators/evalagg.py) computes
the same metrics with built-in `levenshtein`; tests cross-check.
"""

from __future__ import annotations


def string_cleaner(s: str) -> str:
    """Quote/newline normalization (eval_utils.py:14-22)."""
    return (
        s.replace("“", '"')
        .replace("”", '"')
        .replace("''", '"')
        .replace("‘‘", '"')
        .replace("’’", '"')
        .replace("\n", "")
    )


def edit_distance(a: str, b: str) -> int:
    """Levenshtein distance, unit costs (nltk.edit_distance default)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
        prev = cur
    return prev[-1]


def textline_evaluation(
    pairs: list[tuple[str, str]],
    no_spaces_in_eval: bool = False,
    norm_edit_distance: bool = False,
    uncased: bool = False,
) -> tuple[float, float]:
    """(gt, pred) pairs → (accuracy %, CER or normalized-ED)
    (eval_utils.py:25-70). n_chars is summed over *raw* gt strings before
    cleaning, exactly as the reference does (:36)."""
    n_correct = 0
    edit_count = 0.0
    length_of_data = len(pairs)
    n_chars = sum(len(gt) for gt, _ in pairs)

    for gt, pred in pairs:
        pred, gt = string_cleaner(pred), string_cleaner(gt)
        gt = gt.strip() if not no_spaces_in_eval else gt.strip().replace(" ", "")
        pred = pred.strip() if not no_spaces_in_eval else pred.strip().replace(" ", "")
        if uncased:
            pred, gt = pred.lower(), gt.lower()
        if pred == gt:
            n_correct += 1
        if norm_edit_distance:
            # ICDAR2019: normalize by the longer of (gt, pred)
            if len(gt) > len(pred):
                edit_count += edit_distance(pred, gt) / len(gt)
            else:
                edit_count += edit_distance(pred, gt) / len(pred)
        else:
            edit_count += edit_distance(pred, gt)

    accuracy = n_correct / float(length_of_data) * 100
    cer = edit_count / float(length_of_data) if norm_edit_distance else edit_count / n_chars
    return accuracy, cer
