"""Z-order (Morton-curve) clustering for multi-column file pruning.

Public technique (Morton 1966; popularized for lakehouse layout by
Delta Lake's OPTIMIZE ZORDER BY): interleave the bits of each row's
rank along several columns into one sort key, then range-partition and
sort files by that key. Every file then covers a small hyper-rectangle
of the combined key space, so the per-file min/max stats that
``sources/txlog.py:LakeTable`` harvests prune effectively for filters
on ANY of the z-ordered columns — a linear sort gives tight bounds on
one column and useless bounds on the rest.

Mechanics here:

1. each column is ranked to a ``bits``-wide integer via a percentile
   position (value-distribution-proof — skewed columns still spread
   over the full bucket range). ``percent_rank`` is one window over a
   sort; at warehouse scale swap in an approx-quantile bucketizer
   (same contract, no global sort).
2. ranks are bit-interleaved with plain integer expressions (codegen'd,
   no UDF) into the z-value.
3. ``zorder_layout`` range-partitions on the z-value and sorts within
   partitions, so each output file is one contiguous z-range.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zvalue", "zorder_layout"]


def zvalue(
    df: DataFrame, cols: list[str], bits: int = 16, method: str = "window"
) -> DataFrame:
    """Add a ``__zval__`` long column: bit-interleaved percentile ranks
    of ``cols`` (column i contributes bit k to position k*len(cols)+i).

    ``method="window"`` ranks with an exact ``percent_rank`` (one global
    sort per column — fine up to bench scale, pathological on a real
    cluster). ``method="approx"`` is the warehouse path: one
    ``approxQuantile`` pass per column yields ≤2^bits cutoffs (a
    bounded, driver-held codebook — same contract as the IVF
    centroids), and a vectorized NumPy ``searchsorted`` assigns buckets
    inside the scan stage with NO shuffle at all.

    Method parity (r11 warehouse review #6): NULLs rank to bucket 0 and
    genuine NaN values to the TOP bucket in BOTH methods — matching the
    window path's ordering semantics, where ``orderBy`` sorts NULL
    first and NaN last. Spark→pandas conversion collapses NULL and NaN
    of a double column into indistinguishable NaN inside the UDF, so
    the null mask is computed SPARK-SIDE (``isNull`` before the Arrow
    hop) and passed as a second argument — without it the approx path
    either sent both to the top bucket (pre-r12: every null row
    relocated across the z-range on a method switch) or both to 0 (the
    first r12 fix, which re-introduced the same parity bug for real
    NaN — r12 end-of-round review). The approx path also REQUIRES
    numeric columns — ``approxQuantile`` is numeric-only, so a string
    column raises here with the method to use instead of failing deep
    in py4j. Approx rank resolution is capped at 8 bits (r11 #7 capped
    the original 16 at 12; r15 re-measured): the GK sketch pass IS the
    dominant cost of the approx path — at 12 bits (4,095 probes,
    relativeError 2^-14) the one multi-column approxQuantile measured
    1.6 s warm on the sf0.1 live set, ~70% of OPTIMIZE — while
    file-level pruning saturates far below even 256 distinct ranks per
    column (files ≪ 2^8; finer ranks only reorder rows WITHIN a file's
    z-range, invisible to min/max stats). 255 probes at relativeError
    2^-10 cut the sketch ~16× with identical pruning geometry."""
    n = len(cols)
    # The interleaved key must fit below bit 63: bit 63 is the sign bit
    # of a Spark long, and spilling a rank bit into it flips the sign of
    # high z-values — reversing exactly the ordering range-partitioning
    # and min/max pruning rely on. bits=16 with >=4 columns would do so.
    bits = min(bits, 63 // n)
    ranked = df
    rank_cols: list[Column] = []
    if method == "approx":
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql import types as T

        bits = min(bits, 8)
        numeric = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType,
        )
        for c in cols:
            if not isinstance(df.schema[c].dataType, numeric):
                raise ValueError(
                    f"zvalue: method='approx' requires numeric columns "
                    f"(approxQuantile), got {c!r}: "
                    f"{df.schema[c].dataType.simpleString()} — use "
                    "method='window' for non-numeric z-order columns"
                )
        probes = [i / (1 << bits) for i in range(1, 1 << bits)]
        top = (1 << bits) - 1

        # ONE multi-column approxQuantile pass (r14): the per-column loop
        # scanned the live set once per z-order column; the list form
        # computes every column's GK sketch in a single scan job. Same
        # per-column cutoffs, and the z-order result is layout-only
        # anyway (row set unchanged by construction).
        all_cuts = df.approxQuantile(list(cols), probes, 1.0 / (1 << (bits + 2)))
        cuts_arrs = [np.asarray(c) for c in all_cuts]

        # ONE Arrow kernel bucketizes EVERY z-order column (r15): the
        # per-column pandas_udf loop shipped the live set through one
        # ArrowEvalPython hop per column, and zorder_layout's
        # repartitionByRange evaluates this projection TWICE (the range
        # sampling job + the real exchange), so each extra hop was paid
        # double. Same searchsorted per column, same NULL-first /
        # NaN-last parity (the null masks still come from Spark-side
        # isNull — Arrow collapses NULL and NaN in a double column).
        @pandas_udf(T.ArrayType(T.LongType()))
        def bucket_all(*args: pd.Series) -> pd.Series:
            outs = []
            for i, cuts in enumerate(cuts_arrs):
                v, isnull = args[2 * i], args[2 * i + 1]
                arr = v.to_numpy(dtype="float64", na_value=np.nan)
                out = np.searchsorted(cuts, arr, side="right")
                out[np.isnan(arr)] = top  # real NaN sorts LAST (window parity)
                out[isnull.to_numpy(dtype="bool")] = 0  # NULL sorts first
                outs.append(out)
            return pd.Series(np.stack(outs, axis=1).tolist())

        kernel_args = []
        for c in cols:
            kernel_args += [F.col(c), F.col(c).isNull()]
        ranked = ranked.withColumn("__rks__", bucket_all(*kernel_args))
        rank_cols = [F.col("__rks__").getItem(i) for i in range(n)]
        helpers = ["__rks__"]
    else:
        from pyspark.sql import Window

        for c in cols:
            w = Window.orderBy(F.col(c))
            # percent_rank ∈ [0,1] → integer bucket ∈ [0, 2^bits)
            ranked = ranked.withColumn(
                f"__rk_{c}", (F.percent_rank().over(w) * ((1 << bits) - 1)).cast("long")
            )
            rank_cols.append(F.col(f"__rk_{c}"))
        helpers = [f"__rk_{c}" for c in cols]
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, rc in enumerate(rank_cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(rc, bit).bitwiseAND(F.lit(1)), bit * n + i
                ).cast("long")
            )
    return ranked.withColumn("__zval__", z).drop(*helpers)


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    num_files: int = 8,
    bits: int = 16,
    method: str = "window",
) -> DataFrame:
    """Cluster ``df`` into ``num_files`` z-ordered splits: range-
    partition on the z-value (each file = one contiguous z-range = one
    small hyper-rectangle in the column space) and sort within
    partitions so parquet row-group stats are tight too. Write the
    result through ``LakeTable.create``/``append`` and both the log
    stats and the footers prune on every z-ordered column.

    ``method="approx"`` caps each column's rank at 8 bits (256 distinct
    ranks; see :func:`zvalue`), so with ``num_files`` > 256 several files
    share one rank cell per column and pruning loses granularity; use
    ``method="window"`` for layouts that wide."""
    return (
        zvalue(df, cols, bits, method)
        .repartitionByRange(num_files, F.col("__zval__"))
        .sortWithinPartitions("__zval__")
        .drop("__zval__")
    )
