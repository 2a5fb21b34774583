"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same config block is what we'd pass
to spark-submit on a real cluster (AQE, skew-join handling, Arrow
batches for the vectorized UDF kernels).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    master: str | None = None,
    app_name: str = "pvt-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # 4 waves per shuffle stage: smooths stragglers/stage tails (skewed
    # hot-cell partitions); AQE coalesces where partitions end up tiny
    shuffle_partitions = shuffle_partitions or max(cpus * 4, 64)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalesce + skew-join split — required at 100 TB
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for every pandas UDF kernel
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Scan splits: this engine runs heavy Python/Arrow kernels after
        # most scans, so work units must be small enough to spread across
        # cores — 128MB bin-packing collapses a compressed stage output
        # into a handful of tasks (measured: content stage parallelism 4
        # on a 150MB input). 16MB splits + low open cost keep every stage
        # at full width; same reasoning for the AQE advisory size.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "524288")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # every keyed shuffle of tile assembly and the fold is a plain
        # repartition(<keys>) that AQE coalesces from its bytes; this
        # lets it coalesce a shuffle inside or over a persisted plan too
        # (the fold's dirty cluster, the range sorts of a cached input),
        # which otherwise keeps the full conf width
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.driver.memory", os.environ.get("PVT_DRIVER_MEM", "8g"))
        # Throughput GC: G1's concurrent refinement/marking threads
        # contend with task threads in allocation-heavy shuffle stages —
        # measured 0.49 -> 0.845 scaling efficiency (2->8 cores) and
        # 1.8x absolute on a pure groupBy-agg control with ParallelGC
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # multi-executor masters (local-cluster / standalone) spawn their
        # own Python workers: make the package importable there (the
        # local analog of spark-submit --py-files, cf scripts/submit_build.py)
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # workers fork from a daemon that stops PySpark's per-task
        # importlib.invalidate_caches() from re-reading unchanged zip
        # archives on sys.path (see pvt_spark/daemon.py)
        .config("spark.python.daemon.module", "pvt_spark.daemon")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable, schema: str | StructType
) -> DataFrame:
    """Driver-side rows -> a JVM-local relation (``LocalTableScan``).

    Classic PySpark turns ``createDataFrame(<python list>, schema)`` into
    a parallelized Python RDD (``Scan ExistingRDD``): every job that
    scans the frame starts Python worker tasks just to replay the rows.
    Handed a ``pyarrow.Table`` instead, Spark plans a ``LocalTableScan``
    whose rows live in the plan, so no task runs Python for them. This
    is the engine's one way to build a frame from driver rows (dirty-key
    sets, tree-splice rows, rule tables, covers, metrics rows).

    ``rows`` are tuples or ``Row``s in schema order, or a ``dict`` of
    columns (numpy arrays or lists) keyed by field name; ``schema`` is a
    DDL string or a ``StructType``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, dict):
        cols = [rows[f.name] for f in arrow_schema]
    else:
        cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def int64_columns(df: DataFrame) -> list:
    """Collect ``df`` through Arrow as one int64 numpy array per column:
    one job and no ``Row`` objects, 8 driver bytes per value (the
    inverse of ``local_frame`` over a dict of columns)."""
    import numpy as np

    return [c.to_numpy().astype(np.int64) for c in df.toArrow().columns]


def drop_local_checkpoint(df: DataFrame) -> None:
    """Release a localCheckpoint'ed DataFrame's RDD blocks.

    ``DataFrame.unpersist()`` only clears CacheManager entries (from
    ``persist()``); a local checkpoint persists its RDD directly, so the
    blocks must be dropped on the RDD handle inside the LogicalRDD leaf.
    Iterative operators (dedup label propagation, the nested-relation
    fixed point) call this on each superseded snapshot so a long-lived
    session keeps exactly one live snapshot per loop. Best-effort: a
    plan-shape change across Spark versions degrades to the old
    leak-until-session-end behavior, never to an error.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


_held = threading.local()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, released when the innermost ``held_caches``
    block open on this thread exits (outside one, releasing it is the
    caller's job). Operators whose cache outlives their return — the
    Hilbert sort's input, compose phase 1 — persist through this, so the
    stage or fold that writes their output frees them after the write."""
    df = df.persist()
    frames = getattr(_held, "frames", None)
    if frames is not None:
        frames.append(df)
    return df


@contextmanager
def held_caches():
    """When the block (or a call of the function it decorates) exits,
    unpersist every frame ``persist`` cached on this thread inside it."""
    outer = getattr(_held, "frames", None)
    _held.frames = []
    try:
        yield
    finally:
        frames, _held.frames = _held.frames, outer
        for df in frames:
            df.unpersist()
