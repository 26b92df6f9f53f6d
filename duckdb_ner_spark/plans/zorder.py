"""Z-order (Morton-curve) clustering for multi-dimensional data locality.

Why (100 TB scale bar): parquet predicate pushdown skips a row group only
when the group's min/max stats exclude the predicate. A table range-sorted
on one key has tight stats for *that* key and useless stats for every other
column; interleaving the bits of several keys (the Morton curve) makes row
groups compact in ALL interleaved dimensions at once, so selective scans on
any of them skip most of the file. This is the layout trick behind
Delta/Iceberg `ZORDER BY` clustering, implemented here with nothing but
built-in bitwise expressions + repartitionByRange — it runs wholly inside
whole-stage codegen, no UDF.

Usage:
    clustered = cluster_by_zorder(df, ["x", "y"], bits=16)
    clustered.write.parquet(path)   # row groups now tight in x AND y

The write is ONE range shuffle (sampled range boundaries on the z-value) —
the same cost as any global sort — and pays for itself on every subsequent
selective scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(cols: list[Column | str], bits: int = 16) -> Column:
    """Bit-interleaved Morton code of non-negative integer columns.

    Each input is clamped to [0, 2^bits); bit b of column i lands at output
    position b*len(cols)+i. Pure built-in bitwise arithmetic (shiftleft /
    shiftright / &), so the whole expression stays JVM-side in codegen.
    Total output bits = bits*len(cols) must fit a long (≤ 63)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"bits*len(cols) = {bits * n} exceeds long range (63)")
    cap = F.lit((1 << bits) - 1)
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        v = F.least(F.greatest(c.cast("long"), F.lit(0)), cap)
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(v, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return z


def cluster_by_zorder(
    df: DataFrame,
    cols: list[Column | str],
    bits: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """Repartition by range on the Morton code and sort within partitions —
    the write-side half of Z-order clustering. Columns must already be
    non-negative ints on a bounded grid."""
    z = zvalue(cols, bits).alias("__z__")
    out = df.withColumn("__z__", z)
    n = num_partitions or out.sparkSession.sparkContext.defaultParallelism
    return (
        out.repartitionByRange(n, F.col("__z__"))
        .sortWithinPartitions("__z__")
        .drop("__z__")
    )
