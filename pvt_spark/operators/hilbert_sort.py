"""O1: the global Hilbert sort — THE load-bearing physical property.

The reference sorts all features by zoom-32 h once; afterwards every
tile at every zoom is a contiguous range (reference src/sort.rs:51-61,
README.md:24). In Spark the same property is expressed as
``repartitionByRange("h")`` + ``sortWithinPartitions("h")``: range
partitioning gives cross-partition order (partition pruning on h-range
predicates), the within-partition sort gives parquet row-group min/max
locality, so a tile lookup at any zoom prunes to O(1) partitions.

At 100 TB this is one full shuffle — unavoidable and done exactly once;
every downstream stage (leaves, tree, content, compose) is then
shuffle-light because tile keys are prefixes of h.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..session import persist


def hilbert_sort(
    df: DataFrame, h_col: str = "h", num_partitions: int | None = None
) -> DataFrame:
    """Range-partition + sort by the (biased signed) Hilbert key.

    ``repartitionByRange`` executes its child an EXTRA time to sample
    range boundaries; the input is an expensive computed chain
    (extraction/geotag kernels), so it is persisted first and the
    sampling pass reads the cache instead of recomputing (~2x stage
    speedup measured). The cache is released with the enclosing
    ``session.held_caches`` block (the stage write, the fold).
    """
    df = persist(df)
    if num_partitions:
        out = df.repartitionByRange(num_partitions, h_col)
    else:
        out = df.repartitionByRange(h_col)
    return out.sortWithinPartitions(h_col)
