"""Z-order (Morton) clustering for multi-dimensional data skipping.

The storage-maintenance operator behind `OPTIMIZE ... ZORDER BY (a, b)`:
rewrite a table sorted by the bit-interleaving of its filter columns so
every output file covers a small HYPER-RECTANGLE of the (a, b) space instead
of a thin slab of one column. Min/max footer stats then prune files for
predicates on EITHER column or both — a linearly-sorted layout only ever
prunes on its sort key, and every file spans the full range of the other
column.

The reference's closest notion is the total-order partitioner feeding sorted
MapFiles (MR/lib/TotalOrderPartitioner.java, IO/MapFile.java) — one-key
clustering; z-order is the multi-key generalization a 100 TB lakehouse
actually runs. Everything here is pure column expressions: rank-normalize
each key to ``_BITS``-bit integers (min/max from one tiny agg — driver
scalars, same class as IVF's centroid pull), interleave bits JVM-side, then
``repartitionByRange`` + ``sortWithinPartitions`` on the z-value so writers
emit contiguous z-runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BITS = 12  # bits per key: a 4096 x 4096 z-grid


def _scale_expr(col: str, lo: int, hi: int) -> F.Column:
    """Map an integral column into [0, 2^_BITS) by affine range scaling."""
    span = max(hi - lo, 1)
    top = (1 << _BITS) - 1
    return F.least(
        F.lit(top),
        ((F.col(col) - F.lit(lo)).cast("double") * F.lit(top) / F.lit(span)).cast("long"),
    )


def z_value(a: F.Column, b: F.Column, bits: int) -> F.Column:
    """Morton interleave of two ``bits``-bit values (a even bits, b odd)."""
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(one), 2 * i + 1)
        )
    return z


def zorder_by(df: DataFrame, col_a: str, col_b: str, n_files: int = 16) -> DataFrame:
    """Return ``df`` clustered by the z-value of (col_a, col_b) — range
    partitioned into ``n_files`` explicit splits then sorted within
    partitions, ready for a parquet write whose per-file min/max stats are
    tight in BOTH dimensions. ``n_files`` is explicit because AQE would
    otherwise coalesce a small rewrite into one file and erase the layout;
    at scale set it to data_size / target_file_size."""
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    if lo_a is None or lo_b is None:
        # empty input (or all-NULL keys): nothing to cluster
        return df
    zcol = "_z"
    while zcol in df.columns:
        zcol += "_"
    z = z_value(
        _scale_expr(col_a, lo_a, hi_a), _scale_expr(col_b, lo_b, hi_b), _BITS
    )
    return (
        df.withColumn(zcol, z)
        .repartitionByRange(n_files, zcol)
        .sortWithinPartitions(zcol)
        .drop(zcol)
    )
