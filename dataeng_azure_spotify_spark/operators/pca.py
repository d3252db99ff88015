"""Distributed PCA over embedding columns — the dimensionality-
reduction / whitening step a 100 TB pipeline runs before ANN indexing
or as a learned alternative to the hash-derived
:func:`..operators.similarity.jl_project` (beyond-reference surface,
similarity-search tier).

Scale design:

- **Fit** is one distributed pass: every partition reduces its rows to
  the sufficient statistics ``(n, Σx, Σ x xᵀ)`` with an Arrow-batched
  ``mapInPandas`` GEMM (``X.T @ X`` per batch — BLAS-speed, no Python
  loop per row). What reaches the driver is one O(d²) row per
  partition — a few KB each at d = 64, independent of corpus size; the
  d×d eigendecomposition is microseconds. This is the canonical
  "small-model, big-data" split: nothing corpus-sized ever leaves the
  executors.
- **Project** compiles the learned components into pure JVM column
  expressions (literal arrays + ``zip_with``/``aggregate`` folds): the
  scoring pass whole-stage-codegens, shuffles nothing, and never calls
  back into Python.

Determinism: the sufficient statistics are float64 sums whose partition
order can vary, so PCA is NOT bit-reproducible across cluster layouts
(unlike the hash-derived JL projection) — it is covered by property
tests (orthonormality, variance ordering, reconstruction), and its
driver query emits per-component certificates that a SQL oracle checks
instead of the raw scores. Component
SIGN is fixed deterministically (largest-|loading| coordinate made
positive) so repeated fits on identical partitioning agree exactly.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class PcaModel:
    """Learned PCA basis: O(k·d) floats — driver/broadcast sized."""

    mean: list[float]
    components: list[list[float]]  # k rows of length d, orthonormal
    explained_variance: list[float]  # descending

    @property
    def k(self) -> int:
        return len(self.components)

    @property
    def d(self) -> int:
        return len(self.mean)

    def save(self, path: str) -> None:
        from dataeng_azure_spotify_spark.statefs import statefs_for

        fs = statefs_for(path)
        fs.makedirs(os.path.dirname(path) or ".")
        fs.write_atomic(
            path,
            json.dumps(
                {
                    "mean": self.mean,
                    "components": self.components,
                    "explained_variance": self.explained_variance,
                }
            ).encode(),
        )

    @classmethod
    def load(cls, path: str) -> "PcaModel":
        from dataeng_azure_spotify_spark.statefs import statefs_for

        d = json.loads(statefs_for(path).read_bytes(path).decode())
        return cls(d["mean"], d["components"], d["explained_variance"])


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
) -> PcaModel:
    """Fit a ``k``-component PCA on ``vec_col`` (one distributed pass)."""
    import numpy as np

    def moments(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n = 0
        s = None
        g = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            gram = x.T @ x
            g = gram if g is None else g + gram
        if n == 0:
            return
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
        )

    parts = df.select(vec_col).mapInPandas(
        moments, schema="n long, s array<double>, g array<double>"
    ).collect()  # one tiny row per non-empty partition (O(d^2) each)
    if not parts:
        raise ValueError("pca_fit: empty input")
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    d = s.shape[0]
    g = np.sum([np.asarray(r["g"]).reshape(d, d) for r in parts], axis=0)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    # deterministic sign: the largest-|loading| coordinate is positive
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    return PcaModel(
        mean.tolist(),
        comps.tolist(),
        np.maximum(evals[order], 0.0).tolist(),
    )


def pca_project(
    df: DataFrame,
    model: PcaModel,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    whiten: bool = False,
) -> DataFrame:
    """Project ``vec_col`` onto the model's components — pure JVM
    expressions (the components become literal arrays; each output is a
    centered ``zip_with`` product folded with ``aggregate``), so the
    pass codegens with no shuffle, no explode and no Python.

    ``whiten=True`` additionally scales each output by
    ``1/sqrt(explained_variance)`` (unit-variance scores).
    """
    mean_arr = F.array(*[F.lit(float(m)) for m in model.mean])

    def out_col(j: int):
        comp = F.array(*[F.lit(float(c)) for c in model.components[j]])
        prods = F.zip_with(F.col("__centered"), comp, lambda x, c: x * c)
        s = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        if whiten:
            ev = max(model.explained_variance[j], 1e-300)
            s = s / F.lit(float(ev) ** 0.5)
        return s.alias(f"pc{j}")

    # center ONCE in a prior projection — codegen does not CSE across
    # select expressions, so inlining the centering into each component
    # would redo k×d subtractions (and embed k copies of the mean
    # literal in the plan)
    centered = df.withColumn(
        "__centered",
        F.zip_with(F.col(vec_col), mean_arr, lambda x, m: x.cast("double") - m),
    )
    return centered.select(
        F.col(id_col), *[out_col(j) for j in range(model.k)]
    )
