"""Distributed linear text classification (fastText-style hashed
bag-of-words + logistic regression) — the trainable quality/language
filter of large-scale curation pipelines (the CCNet / GPT-3 "quality
classifier" stage: train a cheap linear model on a trusted target
corpus, score the crawl, keep what scores well).

Design for 100 TB:

- Features are HASHED token buckets (``pmod(xxhash64(token), B)``), so
  the model is a fixed ``B+1`` float vector regardless of vocabulary —
  it broadcasts to executors inside a UDF closure (a few KB), never a
  join.
- Training is full-batch gradient descent where each iteration is ONE
  Spark action: every Arrow batch computes its rows' gradient
  contributions, quantizes them PER ROW to ``2**scale_bits``
  fixed-point longs, and emits per-dimension integer partial sums; a
  ``groupBy(dim)`` reduces to ``B+1`` rows collected to the driver.
  The wire cost per iteration is ``B+1`` longs per batch — independent
  of corpus size.
- Determinism (lint family G): a distributed float sum is
  combine-order-dependent, so nothing sums doubles across rows. The
  per-row quantization happens BEFORE any aggregation — integer sums
  are exact and associative, so the gradient, the loss, and therefore
  every weight trajectory are bit-identical under any partitioning,
  retry, or executor count, and a single-node reference implementing
  the same quantized update reproduces training bit-for-bit (the
  evidence gate in tools/oracle_check.py does exactly that).
  Quantization bias is ≤ 2^-scale_bits per row per dimension —
  O(1e-8) noise on gradients that GD is robust to by construction.
- The featurized frame is localCheckpoint(eager=False)-materialized
  once, so the ``iters`` passes re-read cached blocks instead of
  re-tokenizing the corpus (the setsim_join discipline; lost-block
  failure is loud, and the bounded persist lifetime note in
  operators/text.py applies).

Overflow bound: per-row quantized contributions are ≤
``max_row_value · 2^scale_bits`` (|σ−y| ≤ 1; max_row_value is 1 with
L1-normalized features, the max per-doc term frequency with raw
counts), so a long per-dimension sum is safe below
``2^(63−scale_bits) / max_row_value`` rows per aggregation — 3.4e10
rows at the normalized defaults, 3.4e8 with raw counts and 100-term
docs; drop ``scale_bits`` on corpora beyond that (train_logreg's
docstring repeats this at the parameter).

Reference parity note: the reference exporter has no trainable stage —
this module is part of the additive LLM-pipeline scope (driver brief),
alongside dedup/sampling/similarity.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.portable import portable_lower


def featurize_hashed_bow(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str | None = None,
    n_features: int = 1024,
    l1_normalize: bool = True,
) -> DataFrame:
    """Per-document hashed bag-of-words: (id, feats array<int>,
    vals array<double>, [label int]) where ``feats`` are the distinct
    hashed token buckets of the document and ``vals`` their counts —
    L1-normalized by default (each document's feature mass sums to 1 —
    the fastText convention, which also caps every per-row gradient
    contribution at 1 for the overflow bound above). On corpora with
    narrow token-count spread, RAW counts (``l1_normalize=False``)
    condition GD far better (measured on the fixture: 0.99 train
    accuracy in 30 iterations vs oscillation that never passes 0.75
    normalized); the per-row contribution bound then becomes the max
    per-doc term frequency — see train_logreg's overflow note.
    Map-only: one tokenize + one per-row aggregate, no shuffle."""
    from .text import tokens

    if n_features < 2:
        raise ValueError("n_features >= 2 required")
    from ..functions.expr import let as _let

    bucketed_expr = F.transform(
        tokens(portable_lower(F.col(text_col))),
        lambda t: F.pmod(F.xxhash64(t), F.lit(n_features)).cast("int"),
    )

    # per-row (distinct bucket, count) as parallel arrays in a
    # DETERMINISTIC order (array_sort pins what map_keys would leave
    # engine-internal). The bucketed array is LET-BOUND: referencing
    # the computed expression inside the count-per-distinct lambda
    # would re-tokenize and re-hash the whole document once per
    # DISTINCT bucket (the O(n^2) HOF hazard, round 11) — bound, the
    # filter really is O(distinct x tokens) cheap comparisons inside
    # one codegen projection, no shuffle.
    def arrays(bucketed: Column) -> Column:
        feats = F.array_sort(F.array_distinct(bucketed))
        n_toks = F.size(bucketed)
        counts = lambda k: F.size(F.filter(bucketed, lambda b: b == k)).cast("double")  # noqa: E731
        if l1_normalize:
            vals = F.transform(
                feats,
                lambda k: counts(k) / F.greatest(n_toks, F.lit(1)).cast("double"),
            )
        else:
            vals = F.transform(feats, counts)
        return F.struct(feats.alias("f"), vals.alias("v"))

    fv = _let(bucketed_expr, arrays)
    cols = [
        F.col(id_col),
        fv["f"].alias("feats"),
        fv["v"].alias("vals"),
    ]
    if label_col is not None:
        cols.append(F.col(label_col).cast("int").alias("label"))
    return df.select(*cols)


def _grad_partials(
    feats_df: DataFrame, w: np.ndarray, *, scale_bits: int
) -> DataFrame:
    """One gradient pass: per Arrow batch, per-row quantized
    contributions to (gradient[dim], loss, correct-count), pre-summed
    as longs within the batch. dim == len(w)-1 is the bias; dim == -1
    carries (loss_q, n_rows) and dim == -2 (correct, n_rows)."""
    scale = float(1 << scale_bits)
    wb = w.copy()  # ride the closure; a few KB

    out_schema = T.StructType(
        [
            T.StructField("dim", T.IntegerType(), False),
            T.StructField("partial", T.LongType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bias_dim = len(wb) - 1
        for pdf in batches:
            acc = np.zeros(len(wb), dtype=np.int64)
            loss_q = 0
            correct = 0
            n = 0
            for fs, vs, y in zip(pdf["feats"], pdf["vals"], pdf["label"]):
                fs = np.asarray(fs, dtype=np.int64)
                vs = np.asarray(vs, dtype=np.float64)
                # per-row np.dot: the single-node evidence reference uses
                # the identical op on identical data, so z (and every
                # quantity floored from it) matches bit-for-bit
                z = float(vs @ wb[fs] + wb[bias_dim])
                # numerically stable sigmoid + log-loss
                if z >= 0:
                    ez = np.exp(-z)
                    sig = 1.0 / (1.0 + ez)
                    loss = np.log1p(ez) + (1 - y) * z
                else:
                    ez = np.exp(z)
                    sig = ez / (1.0 + ez)
                    loss = np.log1p(ez) - y * z
                err = sig - float(y)
                np.add.at(
                    acc, fs, np.floor(err * vs * scale).astype(np.int64)
                )
                acc[bias_dim] += int(np.floor(err * scale))
                loss_q += int(np.floor(loss * scale))
                correct += int((sig >= 0.5) == bool(y))
                n += 1
            dims = np.nonzero(acc)[0]
            rows_d = list(dims) + [-1, -2, -3]
            rows_p = [int(acc[d]) for d in dims] + [loss_q, correct, n]
            yield pd.DataFrame(
                {
                    "dim": pd.Series(rows_d, dtype="int32"),
                    "partial": pd.Series(rows_p, dtype="int64"),
                }
            )

    return (
        feats_df.mapInPandas(run, out_schema)
        .groupBy("dim")
        .agg(F.sum("partial").alias("partial"))
    )


def train_logreg(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    n_features: int = 1024,
    iters: int = 20,
    lr: float = 2.0,
    lr_decay: float = 0.0,
    l1_normalize: bool = True,
    scale_bits: int = 28,
):
    """Train the hashed-BoW logistic regression. Returns
    ``(weights (n_features+1,) float64 — bias last, history DataFrame)``
    where history rows are (iter, loss_q long, correct long, n long) —
    exact integers, so the whole training trajectory is a bit-stable
    artifact a gate can assert on.

    Step size is ``lr / (1 + lr_decay * iter)`` — full-batch GD with a
    fixed step oscillates around the optimum on ill-conditioned BoW
    features (measured: final-iteration accuracy swung 0.73–0.96 with
    identical settings); a mild harmonic decay pins the endpoint
    (0.988 final == best on the fixture at lr=2, decay=0.25).

    Overflow note: per-row quantized contributions are bounded by the
    max per-row |feature value| (1.0 when ``l1_normalize``, the max
    per-doc term frequency otherwise), so a long per-dimension sum is
    exact below ``2^(63 - scale_bits) / max_val`` rows — 3.4e10 at the
    defaults, 3.4e8 with raw counts and 100-term docs; drop
    ``scale_bits`` when training on corpora beyond that.

    The driver work per iteration is an update over B+1 floats; all
    corpus passes are the quantized-partial jobs described in the
    module docstring."""
    if not (20 <= scale_bits <= 40):
        raise ValueError("scale_bits in [20, 40] required")
    if iters < 1:
        raise ValueError("iters >= 1 required")
    feats = featurize_hashed_bow(
        df,
        id_col=id_col,
        text_col=text_col,
        label_col=label_col,
        n_features=n_features,
        l1_normalize=l1_normalize,
    ).localCheckpoint(eager=False)
    w = np.zeros(n_features + 1, dtype=np.float64)
    scale = float(1 << scale_bits)
    hist: list[tuple[int, int, int, int]] = []
    n_rows = None
    for it in range(iters):
        parts = {
            r["dim"]: r["partial"]
            for r in _grad_partials(feats, w, scale_bits=scale_bits).collect()
        }
        n_rows = parts.pop(-3, 0)
        loss_q = parts.pop(-1, 0)
        correct = parts.pop(-2, 0)
        if n_rows == 0:
            raise ValueError("cannot train on an empty frame")
        g = np.zeros_like(w)
        for d, p in parts.items():
            g[d] = p
        g /= scale * n_rows
        w -= (lr / (1.0 + lr_decay * it)) * g
        hist.append((it, loss_q, correct, n_rows))
    spark = df.sparkSession
    history = spark.createDataFrame(
        hist, "iter int, loss_q long, correct long, n long"
    )
    return w, history
