"""Distributed full-batch logistic regression by gradient descent.

The model-based quality filter of LLM data curation (the learned
counterpart of hand-written keep/drop rules): train a logistic scorer on
a handful of per-document features with the teacher labels coming from
the rule it generalizes.  The training loop follows the
``gram_power_iteration_pc1`` discipline — reduce each step to a tiny
sufficient statistic and iterate on THAT:

- one corpus pass per step, producing the d+1 gradient components as ONE
  map-side-combinable decimal aggregate (order-independent, exact);
- the weight update is O(d) driver arithmetic on plain IEEE doubles;
- the feature projection is computed once (``localCheckpoint``) and each
  step scans only that skinny table.

Cross-engine determinism contract (mirrored by the unrolled DuckDB
oracle in ``queries/curation.py``):

- the linear response is evaluated LEFT-ASSOCIATIVE
  ``((w0 + w1*x1) + w2*x2) + ...`` and ROUNDed at 6 dp;
- the sigmoid is ROUNDed at 6 dp (a last-ulp ``exp`` divergence between
  JVM and libm cannot flip a 6-dp digit except on a ~1e-17 boundary);
- per-row gradient terms are ROUNDed at 12 dp and summed as
  DECIMAL(38,12) (exact, associative), out-cast per functions.exact;
- the weight update ``w - g/n`` is raw IEEE double arithmetic — Python
  floats ARE doubles, so driver-side and SQL-side updates agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from newyork_taxi_etl_spark.functions.exact import _DEC


def linear_round6(w: list[float], feature_cols: list[str]) -> Column:
    """Left-associative ``w0 + w1*x1 + ...`` rounded at 6 dp."""
    z: Column = F.lit(float(w[0]))
    for j, c in enumerate(feature_cols):
        z = z + F.lit(float(w[j + 1])) * F.col(c)
    return F.round(z, 6)


def logistic_prob(w: list[float], feature_cols: list[str]) -> Column:
    """``round(sigmoid(round(z, 6)), 6)`` for weights ``w`` (intercept
    first) — the engine-portable scoring expression."""
    z = linear_round6(w, feature_cols)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def logistic_gd(
    feats: DataFrame,
    feature_cols: list[str],
    label_col: str = "y",
    steps: int = 3,
    lr: float = 1.0,
    trajectory: bool = False,
) -> list[float] | list[list[float]]:
    """Train by ``steps`` full-batch gradient-descent steps from w=0.

    ``feats`` must hold double-typed feature columns and a 0.0/1.0 double
    label.  Each step is ONE aggregate job over ``feats`` (collecting d+2
    scalars — a control-plane read); returns the weight vector
    ``[intercept, w_1, ...]`` as plain Python floats, bit-reproducible
    against the unrolled SQL twin.  With ``trajectory=True`` returns the
    list of weight vectors AFTER each step (``steps`` entries) — same
    training, every intermediate observable (learning-curve queries).
    """
    w = [0.0] * (len(feature_cols) + 1)
    traj: list[list[float]] = []
    for _ in range(steps):
        resid = logistic_prob(w, feature_cols) - F.col(label_col)
        aggs = [
            F.sum(F.round(resid, 12).cast(_DEC)).cast("double").alias("g0")
        ] + [
            F.sum(F.round(resid * F.col(c), 12).cast(_DEC))
            .cast("double")
            .alias(f"g{j + 1}")
            for j, c in enumerate(feature_cols)
        ]
        row = feats.agg(*aggs, F.count(F.lit(1)).alias("n")).collect()[0]
        n = row["n"]
        w = [w[j] - lr * (row[f"g{j}"] / n) for j in range(len(w))]
        if trajectory:
            traj.append(list(w))
    return traj if trajectory else w


def quality_features(label: bool = True) -> list[Column]:
    """The learned quality filter's per-document features over ``text``
    and ``n_chars`` (quality_logreg_filter and every consumer of its
    weights): ``x1`` token count and ``x2`` type-token ratio, both
    centered at the keep/drop rule's boundary (tokens >= 30, ttr >= 0.2),
    ``x3`` the 100-400-char size window, and with ``label`` the rule's own
    decision as the teacher label ``y``.  Select them beside any
    passthrough columns: ``docs.select("doc_id", *quality_features())``."""
    toks = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    cols = [
        ((F.size(toks) - F.lit(30.0)) / F.lit(30.0)).alias("x1"),
        ((ttr - F.lit(0.2)) * F.lit(5.0)).alias("x2"),
        F.when(F.col("n_chars").between(100, 400), 1.0)
        .otherwise(0.0)
        .alias("x3"),
    ]
    if label:
        cols.append(
            F.when((F.size(toks) >= 30) & (ttr >= 0.2), 1.0)
            .otherwise(0.0)
            .alias("y")
        )
    return cols
