"""Distributed logistic regression by aggregate-based Newton/IRLS.

The training half of a quality-filter pipeline: corpora are routinely
gated by a small logistic model over cheap text features (fastText-style
quality classifiers); this trains one ON the engine, with the same
design rule as ``analytics.grouped_ols`` — the data never leaves the
cluster, only SUFFICIENT STATISTICS do. Each Newton iteration computes
the gradient ``X'(y - p)`` and Hessian ``X'WX`` (W = p(1-p)) in ONE
aggregate pass — d + d(d+1)/2 sums for d features — and the driver
solves the tiny d x d system. Eight iterations = eight scans (or eight
passes over a cached projection); nothing else moves.

Scale shape: the aggregate is map-side combined, the shuffled state is
O(d^2) doubles per partition, and the driver work is an O(d^3) solve —
independent of row count. This is exactly how distributed GLM fitting
works at 100 TB (Spark MLlib's own LBFGS/IRLS reduce the same
statistics); the from-scratch formulation keeps it dependency-free and
auditable.

Numerics: features are standardized from one moments pass (mean/std)
so the Hessian stays well-conditioned; a small L2 ridge guards
separable data; weights are reported on the ORIGINAL feature scale.
Deterministic given the data (float sums commute up to ulp noise;
coefficients are stable to ~1e-9 — the pytest differential vs a NumPy
reference on the collected rows asserts 1e-6).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sigmoid(z):
    return 1.0 / (1.0 + F.exp(-z))


def logistic_fit(df: DataFrame, feature_cols: list[str], label_col: str,
                 iters: int = 8, ridge: float = 1e-6) -> dict:
    """Fit P(label=1) = sigmoid(b0 + w·x). Returns
    ``{"intercept": b0, "weights": {col: w}, "n": rows,
    "final_nll": mean negative log-likelihood}``.
    """
    import numpy as np
    d = len(feature_cols)
    if d == 0:
        raise ValueError("need at least one feature column")
    y = F.col(label_col).cast("double")
    xs = [F.col(c).cast("double") for c in feature_cols]

    # one moments pass -> standardization constants (driver-side floats)
    mrow = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        *[F.avg(x).alias(f"m{i}") for i, x in enumerate(xs)],
        *[F.stddev_pop(x).alias(f"s{i}") for i, x in enumerate(xs)],
    ).collect()[0]
    n = float(mrow["n"])
    mu = [float(mrow[f"m{i}"]) for i in range(d)]
    sd = [float(mrow[f"s{i}"]) or 1.0 for i in range(d)]
    sd = [s if s > 0 else 1.0 for s in sd]
    zs = [(x - F.lit(mu[i])) / F.lit(sd[i]) for i, x in enumerate(xs)]

    beta = np.zeros(d + 1)               # [intercept, w_1..w_d] on z-scale
    for _ in range(iters):
        eta = F.lit(float(beta[0]))
        for i in range(d):
            eta = eta + F.lit(float(beta[i + 1])) * zs[i]
        p = _sigmoid(eta)
        w = p * (1.0 - p)
        feats = [F.lit(1.0)] + zs
        aggs = [F.sum((y - p) * feats[i]).alias(f"g{i}")
                for i in range(d + 1)]
        aggs += [F.sum(w * feats[i] * feats[j]).alias(f"h{i}_{j}")
                 for i in range(d + 1) for j in range(i, d + 1)]
        row = df.agg(*aggs).collect()[0]
        g = np.array([float(row[f"g{i}"]) for i in range(d + 1)])
        H = np.zeros((d + 1, d + 1))
        for i in range(d + 1):
            for j in range(i, d + 1):
                H[i, j] = H[j, i] = float(row[f"h{i}_{j}"])
        g -= ridge * beta
        H += ridge * np.eye(d + 1)
        beta = beta + np.linalg.solve(H, g)

    # final mean NLL (one more pass) for fit diagnostics
    eta = F.lit(float(beta[0]))
    for i in range(d):
        eta = eta + F.lit(float(beta[i + 1])) * zs[i]
    nll = df.agg(F.avg(
        F.log1p(F.exp(-eta)) * y + F.log1p(F.exp(eta)) * (1.0 - y)
    ).alias("nll")).collect()[0]["nll"]

    # un-standardize: w_orig = w_z / sd; b0_orig = b0 - sum w_z*mu/sd
    weights = {c: float(beta[i + 1] / sd[i])
               for i, c in enumerate(feature_cols)}
    intercept = float(beta[0] - sum(beta[i + 1] * mu[i] / sd[i]
                                    for i in range(d)))
    return {"intercept": intercept, "weights": weights,
            "n": int(n), "final_nll": float(nll)}


def logistic_score(df: DataFrame, model: dict,
                   out_col: str = "score") -> DataFrame:
    """Append sigmoid(b0 + w·x) under ``out_col`` — the inference half;
    pure codegen expressions, no UDF."""
    eta = F.lit(model["intercept"])
    for c, w in model["weights"].items():
        eta = eta + F.lit(w) * F.col(c).cast("double")
    return df.withColumn(out_col, _sigmoid(eta))


def logistic_fit_reference(X, y, iters: int = 8, ridge: float = 1e-6):
    """NumPy twin of ``logistic_fit`` for the differential test: same
    standardization, same IRLS updates, driver-side."""
    import numpy as np
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    mu, sd = X.mean(axis=0), X.std(axis=0)
    sd = np.where(sd > 0, sd, 1.0)
    Z = np.hstack([np.ones((len(y), 1)), (X - mu) / sd])
    d1 = Z.shape[1]
    beta = np.zeros(d1)
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(Z @ beta)))
        g = Z.T @ (y - p) - ridge * beta
        H = (Z * (p * (1 - p))[:, None]).T @ Z + ridge * np.eye(d1)
        beta = beta + np.linalg.solve(H, g)
    w = beta[1:] / sd
    b0 = beta[0] - float((beta[1:] * mu / sd).sum())
    return b0, w
