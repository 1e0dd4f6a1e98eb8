"""Vector math — JVM expression path + Arrow/Pandas vectorized path.

The JVM path (`dot_expr`, `cosine_expr`, `unit_embeddings`) folds with
`zip_with`/`aggregate`: exact, deterministic summation order (matches the
DuckDB oracle), but Spark runs higher-order lambdas interpreted — fine at
64 dims, linear cost in width. `dot_expr` is the package's one JVM dot
fold; `seq_dot_rows`/`seq_dot_cross` below are its bit-identical numpy
twins.

The Pandas-UDF path (`cosine_pandas_udf`) ships both columns through Arrow
and does one numpy matmul per batch — the wide-vector (≥ 512-dim) choice:
per-batch O(rows·dim) SIMD instead of per-element interpreted eval. Its
float summation order differs (numpy pairwise), so use it where a 1e-12
tolerance is acceptable — ranking, thresholding — not where bit-exact
oracle parity is required.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from australian_company_etl_spark.functions.partitioning import spread_if_narrow


def dot_expr(a: Column, b: Column) -> Column:
    """JVM dot product: one left-to-right fold over double products —
    the same order as DuckDB's ``list_dot_product`` and ``seq_dot_*``."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine_expr(a: Column, b: Column) -> Column:
    """JVM cosine: deterministic sequential fold (oracle-parity path)."""
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot_expr(a, b) / (na * nb)


def unit_embeddings(emb: DataFrame) -> DataFrame:
    """(vec_id, label, embedding) → (vec_id, label, e): every vector
    L2-normalized ONCE per row (O(N·dim)), so each pair score downstream
    is a single ``dot_expr`` (cosine) instead of a dot plus two norms.

    The norm is a materialized column FIRST — referencing the fold inside
    the transform lambda would re-evaluate it per element (O(dim²)/row).
    The per-row folds run interpreted, so a narrow scan (a tiny file reads
    as ONE partition) is spread across cores first.

    ZERO-NORM POLICY: a zero vector has no direction, so ``e`` is NULL —
    every cosine against it is NULL, it never crosses a similarity
    threshold, and rankings place it after every real score in both
    engines (Spark DESC and DuckDB's default are both NULLS LAST). Without
    the guard Spark ANSI raises DIVIDE_BY_ZERO on x/0 while DuckDB's IEEE
    division yields NaN. NON-FINITE POLICY: a NaN or ±inf component (or a
    norm that overflows to +inf) makes ``nrm`` NaN or +inf. Spark orders
    NaN above every number, so ``nrm > 0`` would hold and the NaN vector
    would flow on into top-k ranks, where it silently displaces real
    neighbors — such a row raises instead, naming its vec_id."""
    d = spread_if_narrow(emb, "vec_id").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e0")
    ).withColumn("nrm", F.sqrt(dot_expr(F.col("e0"), F.col("e0"))))
    nrm = F.col("nrm")
    return d.select(
        "vec_id",
        "label",
        F.when(
            F.isnan(nrm) | (nrm == float("inf")),
            F.raise_error(
                F.format_string("non-finite embedding norm at vec_id %d", F.col("vec_id"))
            ),
        )
        .when(nrm > 0, F.transform("e0", lambda x: x / nrm))
        .alias("e"),
    )


@pandas_udf(DoubleType())
def cosine_pandas_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine: one numpy matmul per batch (wide-vector path)."""
    ma = np.stack(a.to_numpy())
    mb = np.stack(b.to_numpy())
    dots = np.einsum("ij,ij->i", ma, mb)
    norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return pd.Series(dots / norms)


@pandas_udf(DoubleType())
def dot_pandas_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    ma = np.stack(a.to_numpy())
    mb = np.stack(b.to_numpy())
    return pd.Series(np.einsum("ij,ij->i", ma, mb))


# ── sequential-order batch kernels (oracle-parity safe) ─────────────────────
# These reproduce the JVM fold F.aggregate(zip_with(a,b,x*y), 0.0, acc+x)
# BIT-FOR-BIT: every product a_i*b_i is rounded once (IEEE double multiply,
# identical in the JVM and numpy), then the 64 partial sums are formed in
# the same left-to-right order — acc_k = fl(acc_{k-1} + p_k) — as explicit
# vectorized adds over the k axis. NO numpy reduction (np.sum/.dot/einsum
# uses pairwise/SIMD summation, which reassociates and can differ in the
# last bits; that is the summation-order hazard the r12 memory note pins).


def seq_dot_rows(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    """Row-wise sequential-fold dot of two (n, dim) matrices."""
    prod = ma * mb
    acc = np.zeros(prod.shape[0], dtype=np.float64)
    for k in range(prod.shape[1]):
        acc = acc + prod[:, k]
    return acc


def seq_dot_cross(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    """All-pairs sequential-fold dot: (m, dim) × (n, dim) → (m, n).

    acc is accumulated as dim rank-1 updates — per pair the additions
    happen in exactly the fold's order, so every cell is bit-identical to
    the JVM fold of that pair (each += rounds once per cell, products
    round once; no reassociation)."""
    acc = np.zeros((ma.shape[0], mb.shape[0]), dtype=np.float64)
    for k in range(ma.shape[1]):
        acc += np.multiply.outer(ma[:, k], mb[:, k])
    return acc
