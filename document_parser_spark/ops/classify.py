"""Hashed-feature linear text classifier — the fastText shape
(Joulin et al. 2017) that every open curation recipe uses for its
quality gate (CCNet's LM buckets aside, the "looks like a Wikipedia
reference" keep/drop filter in GPT-3/LLaMA-style pipelines is a
linear model over hashed bag-of-words features).

The Spark-first decomposition: the model is (a) a feature hasher
``word -> bucket in [0, dim)`` and (b) a weight per bucket. Scoring
is then a NARROW map — one ``aggregate`` over the split-word array
per document, zero shuffles, full codegen — because the weight
lookup is folded into the hash chain instead of a join:

* default (driver-verified) path: weights are derived
  deterministically from the bucket id, ``w(b) = (h60(seed:b) mod
  (2U+1)) - U`` weight-units — a stand-in "trained" model whose
  every constant the DuckDB oracle reproduces verbatim;
* trained path (:func:`scores_with_weights`): an externally trained
  (bucket, weight) table joins in as a broadcast — one explode +
  regroup, the standard shape when the model really was trained
  elsewhere. At 100 TB the default path costs one md5 chain per
  word and nothing else; the trained path adds one map-side-combined
  ``groupBy(doc_id)``.

Numeric discipline: the per-document accumulator is an INTEGER
(weight-units, exact and associative — identical on any engine and
any partitioning); floating point appears only in the final
per-document sigmoid, and the keep decision is evaluated on the
integer side (``scale*sum_units + bias_milli*n_words >= 0``) so the
gate never depends on a float rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from document_parser_spark.ops.hashing import hash_col

HASH_DIM = 4096          # feature buckets (2^12)
WEIGHT_UNITS = 1000      # fixed-point denominator for weights
CLS_SCALE = 4            # logit slope on the mean weight in [-1, 1]
CLS_BIAS_MILLI = 200     # bias in milli-units (0.2)
CLS_SEED = "clf1"        # seed of the derived stand-in weights


def _words(text_col: str) -> F.Column:
    return F.filter(F.split(F.col(text_col), " "),
                    lambda w: w != F.lit(""))


def _unit_weight(word: F.Column, dim: int, seed: str,
                 fast: bool = False) -> F.Column:
    """Integer weight-units for one word: hash to a bucket, derive
    the bucket's weight from a second seeded hash. Both hashes are
    the portable md5-60bit chain (``hashing.h60``) so the oracle can
    replay them; ``fast=True`` swaps xxhash64 in (production tier,
    not oracle-portable)."""
    bucket = F.pmod(hash_col(word, fast), F.lit(dim))
    hw = hash_col(F.concat(F.lit(f"{seed}:"), bucket.cast("string")),
                  fast)
    return (F.pmod(hw, F.lit(2 * WEIGHT_UNITS + 1))
            - F.lit(WEIGHT_UNITS)).cast("long")


def hashed_linear_scores(docs: DataFrame, text_col: str = "text",
                         dim: int = HASH_DIM, seed: str = CLS_SEED,
                         scale: int = CLS_SCALE,
                         bias_milli: int = CLS_BIAS_MILLI,
                         fast: bool = False) -> DataFrame:
    """Score every document under the hashed linear model.

    -> (doc_id, n_words, sum_units, score, keep) for docs with at
    least one word. ``score = sigmoid(scale * mean_weight + bias)``;
    ``keep`` is the exact integer form of ``score >= 0.5``.
    """
    ws = _words(text_col)
    su = F.aggregate(
        ws, F.lit(0).cast("long"),
        lambda a, w: a + _unit_weight(w, dim, seed, fast))
    out = (docs
           .select("doc_id", F.size(ws).cast("long").alias("n_words"),
                   su.alias("sum_units"))
           .filter(F.col("n_words") > 0))
    logit_num = (F.lit(scale) * F.col("sum_units")
                 + F.lit(bias_milli) * F.col("n_words"))
    logit = logit_num / (F.lit(float(WEIGHT_UNITS)) * F.col("n_words"))
    return (out
            .withColumn("score", F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 4))
            .withColumn("keep", logit_num >= 0))


def scores_with_weights(docs: DataFrame, weights: DataFrame,
                        text_col: str = "text",
                        dim: int = HASH_DIM,
                        fast: bool = True) -> DataFrame:
    """Trained-model path: ``weights`` is a small (bucket:long,
    w_units:long) table — broadcast-joined against the exploded
    word-bucket relation, then one map-side-combined regroup.

    -> (doc_id, n_words, sum_units). Missing buckets weigh 0 (left
    join); compose with the same sigmoid as the default path.
    """
    # the word array is projected (and counted) before the explode:
    # next to the generator, size(ws) would make the Generate carry
    # the text to every word row and re-split it there (quadratic)
    exploded = (docs
                .select("doc_id", _words(text_col).alias("_ws"))
                .select("doc_id", "_ws",
                        F.size("_ws").cast("long").alias("n_words"))
                .select("doc_id", "n_words", F.explode("_ws").alias("_w"))
                .withColumn("bucket",
                            F.pmod(hash_col(F.col("_w"), fast),
                                   F.lit(dim))))
    return (exploded
            .join(F.broadcast(weights), "bucket", "left")
            .groupBy("doc_id")
            .agg(F.max("n_words").alias("n_words"),
                 F.sum(F.coalesce(F.col("w_units"), F.lit(0)))
                 .cast("long").alias("sum_units")))
