"""Hashed-feature linear quality classifier — the fastText-style model
behind modern pretraining-data filters (DCLM's fastText ELI5-vs-CC
filter, FineWeb-Edu's distilled scorer): a cheap linear model trained
on weak labels, then swept over the whole corpus to score every page.

Spark-first training, not a driver-side fit:

- features are **hashed unigrams** (first-8-hex-of-md5 mod ``dim`` —
  the same cross-engine hash idiom as ``md5_u32``), L1-normalized per
  document, so the model is ``dim + 1`` doubles no matter how large
  the vocabulary or corpus;
- the per-doc feature bag is materialized ONCE into a sorted
  ``array<struct<feature,x>>`` column (≤ ``dim + 1`` entries per doc —
  hashing collapses the vocabulary) and persisted; each
  logistic-regression epoch is then ONE SCAN of that table with the
  current weights embedded as a plan-literal array: the per-doc logit
  is ``F.aggregate`` over the array (no join, no doc-keyed shuffle),
  and the gradient is an explode + per-feature aggregation whose
  map-side combine reduces every partition to ≤ ``dim + 1`` rows
  before the only (tiny) shuffle.  The collect is bounded by ``dim``,
  never by corpus size.  10^12 docs ⇒ each epoch is one map pass plus
  a ``dim``-row exchange — the doc-keyed shuffles the naive
  join-per-epoch shape pays are paid once, at bag-build time;
- scoring is a single broadcast join + aggregation (no Python at all).

Determinism: gradients are rounded to 12 decimals each epoch before the
driver applies them, so cross-partition float summation order cannot
drift the trained weights between runs (the same reason every float
oracle in this repo rounds).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .sampling import md5_u32


def hashed_doc_features(documents: DataFrame, dim: int = 256,
                        text_col: str = "text",
                        key_col: str = "doc_id") -> DataFrame:
    """(doc, hashed feature, L1-normalized weight) triples.

    ``x_{d,f} = tf_{d,f} / n_tokens_d`` — the normalized bag of hashed
    words; values in (0, 1], so gradients are bounded and the oracle
    can replay the hash (``('0x' || substr(md5(term),1,8))::BIGINT %
    dim``).  Empty docs produce no rows.
    """
    toks = documents.select(
        F.col(key_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")
    # md5_u32 is THE shared hash idiom (its docstring: any change must
    # land in every replaying oracle) — values < 2^32 are exact in the
    # double it returns, so the mod/cast below is value-identical to a
    # pure integer pipeline (review r3b: don't fork the idiom).
    feat = toks.select(
        key_col,
        (md5_u32("term") % F.lit(dim)).cast("long").alias("feature"),
    )
    tf = feat.groupBy(key_col, "feature").agg(F.count("*").alias("tf"))
    ntok = feat.groupBy(key_col).agg(F.count("*").alias("_n"))
    return (tf.join(ntok, key_col)
            .select(key_col, "feature",
                    (F.col("tf") / F.col("_n")).alias("x")))


def train_quality_classifier(documents: DataFrame, label_col: str,
                             dim: int = 256, epochs: int = 10,
                             lr: float = 3.0, l2: float = 1e-4,
                             text_col: str = "text",
                             key_col: str = "doc_id") -> np.ndarray:
    """Full-batch logistic regression on hashed unigram features, with
    a driver-side **Adagrad** step (per-coordinate learning rates).

    Plain constant-step GD oscillates here: the bias direction has
    curvature ~0.25 while the L1-normalized features contribute ~1e-4,
    so no single step size fits both (measured: constant steps diverge
    at every lr).  Adagrad's ``lr / sqrt(Σg²)`` scaling equalizes them
    — the accumulator lives on the driver (dim + 1 doubles), so the
    distributed plan is unchanged.

    ``label_col`` must be a 0/1 integer column on ``documents`` (the
    weak label — a heuristic gate, an LLM judgment, a curated-source
    flag).  Returns ``weights[dim + 1]`` (bias last).  Full-batch
    gradients are deterministic given the corpus (no sampling), and
    are rounded before the accumulator sees them.
    """
    feats = hashed_doc_features(documents, dim, text_col, key_col)
    labels = documents.select(key_col,
                              F.col(label_col).cast("double").alias("y"))
    # Bag-build (the ONLY doc-keyed shuffles, paid once): per-doc
    # sorted array of (feature, x).  array_sort makes the in-doc
    # summation order deterministic regardless of partitioning, so the
    # logits — and through them the rounded gradients — cannot drift
    # between runs or parallelism levels.  Bias is appended as feature
    # id ``dim`` with x = 1, so one array carries the whole model row.
    bag = (feats.groupBy(key_col)
           .agg(F.array_sort(F.collect_list(F.struct("feature", "x")))
                .alias("fx")))
    bias_entry = F.array(F.struct(
        F.lit(int(dim)).cast("long").alias("feature"),
        F.lit(1.0).alias("x")))
    xy = (labels.join(bag, key_col, "left")
          .select("y",
                  F.concat(F.coalesce("fx", F.array()), bias_entry)
                  .alias("fx"))
          .persist())
    m = xy.count()
    if m == 0:
        xy.unpersist()
        return np.zeros(dim + 1)

    w = np.zeros(dim + 1)
    acc_g2 = np.zeros(dim + 1)
    for _ in range(epochs):
        # Weights as a plan literal (dim + 1 doubles): each epoch is a
        # single scan of the persisted bag — logit via F.aggregate
        # over the array, gradient via explode + per-feature agg whose
        # map-side combine leaves a ≤ dim+1-row exchange.
        warr = F.array(*[F.lit(float(w[f])) for f in range(dim + 1)])
        z = F.aggregate(
            "fx", F.lit(0.0),
            lambda acc, s: acc + s["x"] * F.element_at(
                warr, s["feature"].cast("int") + 1))
        err = (F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("y"))
        grad_rows = (
            xy.select(err.alias("err"), F.explode("fx").alias("s"))
            .groupBy(F.col("s.feature").alias("feature"))
            .agg(F.round(F.sum(F.col("err") * F.col("s.x")) / m, 12)
                 .alias("g"))
            .collect()
        )
        g = np.zeros(dim + 1)
        for r in grad_rows:
            g[int(r["feature"])] = r["g"]
        g[:dim] += l2 * w[:dim]
        acc_g2 += g * g
        w = w - lr * g / (np.sqrt(acc_g2) + 1e-8)
    xy.unpersist()
    return w


def score_quality(documents: DataFrame, weights: np.ndarray,
                  dim: int | None = None, text_col: str = "text",
                  key_col: str = "doc_id") -> DataFrame:
    """Sigmoid quality probability per document from trained weights —
    one broadcast join + one aggregation, zero Python on the hot path.

    Docs with no tokens score ``sigmoid(bias)`` (empty bag).  Returns
    ``(key, prob)``.
    """
    spark = documents.sparkSession
    dim = dim if dim is not None else len(weights) - 1
    bias = float(weights[dim])
    wdf = broadcast(spark.createDataFrame(
        [(int(f), float(weights[f])) for f in range(dim)],
        "feature long, w double"))
    feats = hashed_doc_features(documents, dim, text_col, key_col)
    logits = (
        feats.join(wdf, "feature")
        .groupBy(key_col)
        .agg(F.sum(F.col("x") * F.col("w")).alias("_z"))
    )
    return (
        documents.select(key_col).join(logits, key_col, "left")
        .select(
            key_col,
            (F.lit(1.0)
             / (F.lit(1.0)
                + F.exp(-(F.coalesce("_z", F.lit(0.0)) + F.lit(bias)))))
            .alias("prob"),
        )
    )
