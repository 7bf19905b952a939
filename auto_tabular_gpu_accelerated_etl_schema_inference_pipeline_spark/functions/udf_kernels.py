"""Arrow-vectorized kernels (pandas_udf factories).

NOTE: no ``from __future__ import annotations`` here — pandas_udf resolves
real type hints to derive the execution mode.

This is the engine's "custom kernel" extension point — the Spark-first
analog of the reference's hand-written Numba CUDA kernel
(/root/reference/etl_benchmark_numba.py:39-50): data arrives as Arrow
column batches (the PCIe-transfer analog), the kernel runs vectorized
NumPy (or torch-CUDA when available), results return as Arrow batches.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType


def make_searchsorted_udf(interior, use_gpu=False):
    """bin = #(interior boundaries <= v) — binary search, identical
    semantics to the Bucketizer lane (see operators/quantile_bin.py).

    NaN/null: ``to_numpy(dtype=float64)`` coerces null to NaN, and
    searchsorted places NaN after every boundary -> len(interior) — the
    LAST bin. Same pinned semantics as the JVM lane (which pre-maps
    NaN/null to +inf); parity-tested with NaN/null rows."""
    bounds = np.asarray(interior, dtype=np.float64)

    if use_gpu:

        @F.pandas_udf(IntegerType())
        def _bin(s: pd.Series) -> pd.Series:
            import torch

            b = torch.as_tensor(bounds, device="cuda")
            v = torch.as_tensor(s.to_numpy(dtype="float64"), device="cuda")
            idx = torch.bucketize(v, b, right=True)
            return pd.Series(idx.cpu().numpy().astype("int32"))

    else:

        @F.pandas_udf(IntegerType())
        def _bin(s: pd.Series) -> pd.Series:
            idx = np.searchsorted(bounds, s.to_numpy(dtype="float64"), side="right")
            return pd.Series(idx.astype("int32"))

    return _bin


def geometric_mean_udaf():
    """GROUPED_AGG pandas_udf — the custom-AGGREGATE surface (a scalar
    UDF can't see the whole group; this one gets the group's column as a
    Series and returns one value). Spark runs it with partial batches
    per group via Arrow; log-domain mean avoids overflow on long groups.
    Positive inputs only (caller filters)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    @pandas_udf("long")
    def n_vals(v: pd.Series) -> int:
        # Spark disallows mixing GROUPED_AGG pandas UDFs with JVM
        # aggregates in one agg() — the count rides along as a second
        # pandas aggregate instead
        return len(v)

    return geo_mean, n_vals


def make_searchsorted_iter_udf(interior):
    """Iterator-form pandas_udf (Iterator[pd.Series] -> Iterator[pd.Series])
    — same binning semantics as make_searchsorted_udf, but the kernel
    sees ALL of a partition's Arrow batches through one generator, so
    expensive per-task setup (loading a model, pinning GPU memory,
    opening a sidecar) runs ONCE per task instead of once per batch.
    Here the 'setup' is just materializing the boundary array; the form
    is what matters — it's the production shape for model-inference
    UDFs. Parity with the scalar form is pinned by test."""
    from typing import Iterator

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(IntegerType())
    def _bin(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        bounds = np.asarray(interior, dtype=np.float64)  # once per task
        for s in batches:
            idx = np.searchsorted(
                bounds, s.to_numpy(dtype="float64"), side="right"
            )
            yield pd.Series(idx.astype("int32"))

    return _bin

