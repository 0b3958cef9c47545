"""TrOCR-style seq2seq OCR baseline as a Spark stage.

Parity target: trocr/infer_trocr.py (the reference's
stand-alone VisionEncoderDecoder baseline, evaluated against the same
COCO line-image tables as the main pipeline):

 - dataset = COCO images[] → (file_name, text) pairs (:66-74); here a
   DataFrame (url, text, png) — `line_images_df` builds the synthetic
   fixture analog from render_line
 - processor/pixel_values (:34-36) → the shared deterministic transform
   (functions/crops + synth/model encoder) inside an Arrow-batched
   mapInPandas stage — no per-row Python from Spark's point of view
 - model.generate with beam search (:101-107: max_length=64,
   early_stopping, no_repeat_ngram_size=3, length_penalty=2.0,
   num_beams=4) → `generate()` below implements those *decoding
   semantics* for real (length-penalized beams, n-gram blocking, EOS
   early stop), driven by a deterministic stand-in scorer — a real HF
   VisionEncoderDecoder drops in behind the same `step_scores` seam
 - batch_decode(skip_special_tokens=True) (:115) → `batch_decode`
 - textline_evaluation(uncased=True, ...) (:121-126) →
   operators/evalagg.textline_eval with the same flags

The stand-in "vision encoder" emits one feature per localized glyph
(reading order, the same embed path as the kNN recognizer); the
"decoder" scores vocabulary tokens by prototype inner product at the
current position. Greedy on unambiguous fixtures → exact transcription;
the beam/ngram/EOS mechanics are exercised by tests with synthetic
score tables.

Scale: one Arrow-batched UDF stage over the images table (everything
about one image stays in its row; zero shuffles), prototype matrix +
vocab ride a Spark broadcast exactly like the kNN path.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

# special token ids (HF convention: cls=BOS, sep=EOS, pad — infer_trocr
# wires decoder_start=cls, eos=sep, :95-102)
PAD_ID = 0
BOS_ID = 1
EOS_ID = 2
N_SPECIALS = 3

# model.config beam-search parameters, infer_trocr.py:101-107
MAX_LENGTH = 64
NUM_BEAMS = 4
NO_REPEAT_NGRAM = 3
LENGTH_PENALTY = 2.0
EARLY_STOPPING = True

TROCR_SCHEMA = "url string, pred string, n_tokens int, ok boolean"


def _banned_ngram_tokens(seq: list[int], n: int) -> set[int]:
    """Tokens that would complete an n-gram already present in `seq`
    (HF NoRepeatNGramLogitsProcessor semantics)."""
    if n <= 0 or len(seq) < n - 1:
        return set()
    prefix = tuple(seq[-(n - 1):]) if n > 1 else ()
    banned: set[int] = set()
    for i in range(len(seq) - n + 1):
        if tuple(seq[i: i + n - 1]) == prefix:
            banned.add(seq[i + n - 1])
    return banned


def generate(step_scores: Callable[[int], np.ndarray],
             vocab_size: int,
             max_length: int = MAX_LENGTH,
             num_beams: int = NUM_BEAMS,
             no_repeat_ngram_size: int = NO_REPEAT_NGRAM,
             length_penalty: float = LENGTH_PENALTY,
             early_stopping: bool = EARLY_STOPPING) -> list[int]:
    """Beam-search decode (one sequence). `step_scores(t)` returns the
    log-score vector over the FULL vocab (specials included) for
    generation position t — the VisionEncoderDecoder logits seam.

    Semantics mirror infer_trocr.py:101-107 / HF generate: sequences
    start from BOS (decoder_start_token_id), EOS ends a beam, finished
    beams are ranked by total score / len(generated)**length_penalty,
    n-gram repeats are blocked before the top-k, generation stops at
    max_length tokens (BOS included, like HF's max_length)."""
    beams: list[tuple[float, list[int]]] = [(0.0, [BOS_ID])]
    finished: list[tuple[float, list[int]]] = []

    for t in range(max_length - 1):
        scores = step_scores(t)
        assert scores.shape[0] == vocab_size
        candidates: list[tuple[float, list[int]]] = []
        for acc, seq in beams:
            s = scores.copy()
            for b in _banned_ngram_tokens(seq, no_repeat_ngram_size):
                s[b] = -np.inf
            s[PAD_ID] = -np.inf
            s[BOS_ID] = -np.inf
            top = np.argsort(-s, kind="stable")[:num_beams]
            for tok in top:
                if not np.isfinite(s[tok]):
                    continue
                candidates.append((acc + float(s[tok]), seq + [int(tok)]))
        if not candidates:
            break
        candidates.sort(key=lambda c: (-c[0], c[1]))
        beams = []
        for acc, seq in candidates:
            if seq[-1] == EOS_ID:
                gen_len = max(len(seq) - 1, 1)  # exclude BOS
                finished.append((acc / (gen_len ** length_penalty), seq))
            else:
                beams.append((acc, seq))
            if len(beams) == num_beams:
                break
        if not beams:
            break
        if early_stopping and len(finished) >= num_beams:
            break

    for acc, seq in beams:  # ran out of length without EOS
        gen_len = max(len(seq) - 1, 1)
        finished.append((acc / (gen_len ** length_penalty), seq))
    finished.sort(key=lambda c: (-c[0], c[1]))
    return finished[0][1]


def batch_decode(ids: list[int], vocab: list[str]) -> str:
    """Token ids → string, skipping special tokens
    (processor.batch_decode(skip_special_tokens=True), :115)."""
    return "".join(vocab[i - N_SPECIALS] for i in ids
                   if i >= N_SPECIALS and i - N_SPECIALS < len(vocab))


def _glyph_features(png_bytes: bytes, conf_thres: float,
                    iou_thres: float) -> tuple[np.ndarray, np.ndarray]:
    """Stand-in vision encoder: line image → ([T, D] per-glyph feature
    sequence in reading order, [T] space-before flags from the word-gap
    as-of join). The ViT-patch-features analog; shares the exact embed
    path of the kNN recognizer so the 'model artifact' story is one
    seam. TrOCR's tokenizer emits spaces as ordinary tokens, so word
    boundaries become dedicated space positions in the decode."""
    from ..functions import recognize as rec
    from .extract import localize_page

    page = localize_page(png_bytes, "en", False, conf_thres, iou_thres)
    if not page["crops"]:
        return np.zeros((0, 1), dtype=np.float32), np.zeros(0, dtype=bool)
    space_before = []
    for line in page["lines"]:
        # word_end_idx marks chars that START a word (space inserted
        # before); index 0 starts the line, no leading space — the same
        # guard en_postprocess applies before its trim
        ends = set(line["word_end_idx"])
        space_before.extend(i in ends and i > 0
                            for i in range(line["n_chars"]))
    return rec.embed_crops(page["crops"]), np.asarray(space_before, bool)


def make_trocr_map_fn(protos_bc, conf_thres: float = 0.35,
                      iou_thres: float = 0.01,
                      max_length: int = MAX_LENGTH,
                      num_beams: int = NUM_BEAMS,
                      no_repeat_ngram_size: int = NO_REPEAT_NGRAM):
    """Arrow-batched seq2seq inference over (url, png) line images."""

    def trocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chars, protos = protos_bc.value["en"]
        vocab = list(chars) + [" "]  # spaces are ordinary tokens in TrOCR
        space_tok = N_SPECIALS + len(chars)
        vocab_size = N_SPECIALS + len(vocab)
        for pdf in batches:
            urls, preds, toks, oks = [], [], [], []
            for url, png in zip(pdf["url"], pdf["png"]):
                try:
                    feats, space_before = _glyph_features(
                        bytes(png), conf_thres, iou_thres)
                    sims = (feats @ protos.T if feats.shape[0] else
                            np.zeros((0, len(chars))))
                    # per-position score vectors: char positions score the
                    # char vocab by prototype inner product; word-gap
                    # positions score the space token
                    seq: list[np.ndarray] = []
                    space_vec = np.full(vocab_size, -np.inf)
                    space_vec[space_tok] = 0.0
                    for t in range(sims.shape[0]):
                        if space_before[t]:
                            seq.append(space_vec)
                        s = np.full(vocab_size, -np.inf)
                        s[N_SPECIALS: N_SPECIALS + len(chars)] = sims[t]
                        # EOS stays -inf mid-line: a -1e9 "option" would
                        # fill the finished-beam pool with junk finishes
                        # and trip early_stopping before the line ends
                        seq.append(s)
                    eos_vec = np.full(vocab_size, -np.inf)
                    eos_vec[EOS_ID] = 0.0

                    def step_scores(t, seq=seq, eos_vec=eos_vec):
                        return seq[t] if t < len(seq) else eos_vec

                    ids = generate(step_scores, vocab_size,
                                   max_length=max_length,
                                   num_beams=num_beams,
                                   no_repeat_ngram_size=no_repeat_ngram_size)
                    preds.append(batch_decode(ids, vocab))
                    toks.append(len(ids))
                    oks.append(True)
                except Exception:
                    preds.append("")
                    toks.append(0)
                    oks.append(False)
                urls.append(url)
            yield pd.DataFrame({"url": urls, "pred": preds,
                                "n_tokens": toks, "ok": oks})

    return trocr_batches


def trocr_branch(df: DataFrame, protos_bc, **kwargs) -> DataFrame:
    """(url, png) line images → (url, pred, n_tokens, ok)."""
    fn = make_trocr_map_fn(protos_bc, **kwargs)
    return df.select("url", "png").mapInPandas(fn, TROCR_SCHEMA)


def line_images_df(spark: SparkSession, n: int, seed: int = 17):
    """Synthetic COCO-images-table analog: (url, text gt, png) single
    LINE images (the reference's TrOCR unit of work, infer_trocr.py:70)."""
    import numpy as np

    from ..synth.font import render_line
    from ..synth.imgcodec import encode_png
    from ..synth.pages import _en_ocr_line, _rng

    rows = []
    for i in range(n):
        rng = _rng(seed, i)
        # _en_ocr_line guarantees full typographic coverage per line
        # (ascender + descender), the fixture contract that makes line
        # strips match the prototype geometry (synth/pages.py)
        text = _en_ocr_line(rng, 3 + int(rng.randint(0, 5)))
        img, _, _ = render_line(text)
        rows.append((f"line://{seed}/{i:05d}", text,
                     bytearray(encode_png(img))))
    return spark.createDataFrame(rows, "url string, text string, png binary")


def trocr_eval(spark: SparkSession, protos_bc, n: int = 64,
               seed: int = 17, **kwargs) -> DataFrame:
    """The reference's full eval loop (:110-126): generate → decode →
    left-join GT → textline_evaluation(uncased=True).

    With the faithful config (no_repeat_ngram_size=3, the reference's
    :105) accuracy is WELL BELOW 100 even on a clean fixture: the
    n-gram blocker bans legitimate repeated trigrams ('fox fox',
    'County…council') and beam search routes around future bans — a
    real, known artifact of TrOCR's decoding config, reproduced here
    deliberately. Pass no_repeat_ngram_size=0 for the blocker-free
    upper bound (exact on the fixture)."""
    from .evalagg import textline_eval

    lines = line_images_df(spark, n, seed=seed)
    preds = trocr_branch(lines, protos_bc, **kwargs)
    pairs = (lines.select("url", F.col("text").alias("gt"))
             .join(preds.select("url", "pred"), "url", "left")
             .na.fill({"pred": ""}))
    return textline_eval(pairs, "gt", "pred", uncased=True)
