"""Scale-adaptive parallelism for compute-bound stages.

The problem (spark_optimization_guide.md §2/§6): Spark sizes scan splits
and AQE-coalesced shuffle partitions by BYTES. That is right when cost
is I/O-bound, and wrong for stages whose per-row cost dwarfs their byte
count — the Python extraction kernel, media decodes, per-character
winnowing hashes, n-gram explodes. A small input (one parquet row group,
or a few MB after AQE coalescing) then runs a CPU-bound stage on one
core while the rest of the machine idles.

:func:`adaptive_repartition` fixes exactly that regime and ONLY that
regime: the decision is derived from the input's own size and
partitioning, never from a constant tuned to any one machine.

* already-parallel input (>= the session's default parallelism in
  partitions) -> untouched;
* big input (optimizer size estimate >= one ``per_core_bytes`` split
  per core — any real at-scale scan) -> untouched, keeping the narrow
  zero-shuffle plan that is correct at 100 TB;
* small AND under-partitioned input -> one tiny shuffle up to the
  default parallelism, unlocking every core for the compute-bound
  stage that follows. The shuffled volume is bounded by the size check
  (< cores x ``per_core_bytes``), so the added exchange is always
  cheap relative to the stage it parallelizes.

Building a plan runs no job: :func:`adaptive_repartition` decides from
the size estimate and the logical plan, and reads a partition count
from the planner (``df.rdd`` only for narrow plans, where it runs
nothing).

Materialization policy: :func:`checkpoint` is the one lineage cut in
the package, an eager ``localCheckpoint`` that observes its row count
and any caller-named aggregates on the same job, so a check over a
just-cut relation needs no second job. An operator that reads a
relation more than once calls :func:`materialize` (or
:func:`broadcast_if_small` for a size-guarded broadcast), never
``localCheckpoint`` and ``count`` by hand: a relation that
:func:`is_cheap_rescan` is used as-is and counted, anything else goes
through :func:`checkpoint`. Loops that must bound their lineage or
codegen (bpe merge chunks, connected-components rounds) call
:func:`checkpoint` directly. A deployment that must survive executor
loss swaps in a reliable ``checkpoint`` in that one function.

Arrow boundary: :func:`map_rows` is the one ``mapInArrow`` in the
package, and every row-wise Python stage (article extraction, robots,
WARC records, media decode, PDF text, boilerplate strip, URL fetch and
the synthetic payload sources) is a generator it runs. The generator
sees the task's rows as tuples and yields output tuples, any number per
input row, so per-task state (a matcher cache, a politeness clock, the
partition id) lives in its locals. The door converts with one
``to_pylist`` per input column and one ``pa.array`` per output column,
typed from the Spark schema, and cuts output batches at the session's
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, so a stage that
explodes a row (WARC records, frame schedules) never builds an
unbounded batch. When a task's rows run out, the door drops the
``zipimporter`` entries from ``sys.path_importer_cache``
(:func:`_forget_zip_importers`): the next task on the reused worker
starts with ``importlib.invalidate_caches()``, which would otherwise
re-read ``pyspark.zip`` once per cached importer. Grouped stages
(``applyInPandas``) see a whole group, not a row stream, and stay where
they are. Rows built on the driver go the other way through
:func:`local_rows`, as one Arrow table: that plans as a
``LocalRelation``, where a list of tuples plans as a ``LogicalRDD``
whose one-task stage each reading job pays.
"""

from __future__ import annotations

import sys
import zipimport
from itertools import islice
from typing import Callable, Dict, Iterable, Iterator, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: size-per-core threshold below which an input counts as "small": one
#: modest scan split per core. 32 MB x cores is far under any real
#: production input, and far over every local fixture.
PER_CORE_BYTES = 32 * 1024 * 1024


#: logical-plan node names that plan a shuffle, so the DataFrame's
#: nominal (pre-AQE) partition count says nothing about runtime
#: parallelism — AQE re-coalesces every shuffle those nodes introduce by
#: BYTES, which for a small input collapses a compute-bound stage onto
#: one core — and ``df.rdd`` would run the shuffle to count partitions.
_WIDE_TOKENS = (
    "Aggregate",
    "Join",
    "Window",
    "Distinct",
    "Deduplicate",
    "Sort",
    "Repartition",
    "Rebalance",
    "GlobalLimit",
    "FlatMapGroups",
    "FlatMapCoGroups",
)

#: plan tokens that make a second evaluation cost a whole job rather
#: than a scan: the wide nodes, explodes, per-element higher-order
#: functions, and Python UDF evaluation
_EXPENSIVE_TOKENS = _WIDE_TOKENS + (
    "Generate",
    "lambdafunction",
    "EvalPython",
    "MapIn",
    "InPandas",
    "InArrow",
)


def _plan_size_bytes(df: DataFrame) -> Optional[int]:
    """Optimizer size estimate for ``df``'s plan, or None when the
    estimate is unavailable/unknown (e.g. some RDD-backed plans report
    the defaultSizeInBytes sentinel — treated as unknown)."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimation is best-effort
        return None
    # defaultSizeInBytes sentinel (Long.MaxValue-ish) means "no idea"
    if size < 0 or size >= (1 << 62):
        return None
    return size


def _nominal_partitions(df: DataFrame) -> int:
    """Partition count the planner gives ``df`` before AQE coalescing,
    read from the physical plan without executing it."""
    return int(df._jdf.queryExecution().sparkPlan().outputPartitioning().numPartitions())


def _has_wide_node(df: DataFrame) -> bool:
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # noqa: BLE001
        return False
    return any(tok in plan for tok in _WIDE_TOKENS)


def is_cheap_rescan(df: DataFrame) -> bool:
    """True when evaluating ``df`` twice costs ~one scan: it is already
    persisted/cached/checkpointed, or its optimized plan is a bare
    file-source read (scan/project/filter only — a count on it is
    parquet-metadata-cheap). Anything with a shuffle- or generate-class
    node (Aggregate, Join, Window, Distinct, ...), a per-element
    higher-order function or a Python UDF re-runs the whole job per
    evaluation; :func:`materialize` checkpoints it."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return True
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # noqa: BLE001 — conservatively treat as expensive
        return False
    return not any(tok in plan for tok in _EXPENSIVE_TOKENS)


def checkpoint(df: DataFrame, **observed: Column) -> Tuple[DataFrame, Dict[str, object]]:
    """``(relation, metrics)``: ``df`` cut from its lineage by an eager
    ``localCheckpoint``. The same job observes ``rows`` (the row count)
    and each ``name=aggregate`` in ``observed``, so ``metrics`` maps
    those names to their values without a second job."""
    obs = Observation()
    out = df.observe(
        obs, F.count(F.lit(1)).alias("rows"), *[c.alias(k) for k, c in observed.items()]
    ).localCheckpoint(eager=True)
    return out, obs.get


def materialize(df: DataFrame) -> Tuple[DataFrame, int]:
    """``(relation, row count)`` for a relation the caller reads more
    than once: ``df`` itself when :func:`is_cheap_rescan`, else
    :func:`checkpoint`, whose job also counts the rows."""
    if is_cheap_rescan(df):
        return df, df.count()
    out, metrics = checkpoint(df)
    return out, int(metrics["rows"])


def broadcast_if_small(df: DataFrame, max_rows: int) -> DataFrame:
    """:func:`materialize` ``df`` and mark it for broadcast when it has
    at most ``max_rows`` rows; above that a join on it shuffles."""
    out, rows = materialize(df)
    return F.broadcast(out) if rows <= max_rows else out


def adaptive_repartition(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    per_core_bytes: Optional[int] = None,
) -> DataFrame:
    """Repartition a small, under-partitioned input up to the session's
    default parallelism ahead of a compute-bound stage; no-op for big or
    already-parallel inputs (see module docstring for the contract).

    ``cols`` hash-partitions on the given columns (deterministic and
    uniform when they form a fine-grained key, e.g. the row id);
    otherwise round-robin. Results are unchanged either way — callers
    are per-row maps or shuffling aggregations downstream.
    """
    if per_core_bytes is None:
        per_core_bytes = PER_CORE_BYTES  # late-bound so tests can pin a regime
    try:
        if df.isStreaming:
            return df
    except Exception:  # noqa: BLE001
        pass
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — never let the advisory check fail a plan
        return df
    size = _plan_size_bytes(df)
    if size is not None and size >= target * per_core_bytes:
        # provably big: leave the plan alone whatever its partitioning —
        # a full shuffle of heavy bytes is exactly what this helper must
        # never introduce (guide §8: move heavy bytes once, and not for
        # this). This is the 100 TB branch.
        return df
    wide = _has_wide_node(df)
    # provably small with a wide node: one tiny exchange buys full-core
    # parallelism even at a nominal `target` partitions, because AQE
    # coalesces its shuffles by bytes at runtime. Otherwise decide from
    # the current partition count — the planner's nominal one for a
    # wide plan, whose ``df.rdd`` would run its shuffle and broadcast
    # stages.
    if size is None or not wide:
        try:
            current = _nominal_partitions(df) if wide else df.rdd.getNumPartitions()
        except Exception:  # noqa: BLE001
            return df
        if size is None and current != 1:
            # unknown size (checkpoint/RDD-backed plans report inflated
            # or absent pre-materialization estimates): act only on the
            # unambiguous starvation case — a single partition, where
            # every byte already funnels through one task and one
            # redistribution moves it exactly once (the guide §2.5
            # unsplittable-input prescription)
            return df
        if size is not None and current >= target:
            return df  # a narrow scan already split >= target ways
    if cols:
        return df.repartition(target, *[F.col(c) for c in cols])
    return df.repartition(target)


def _record_batch(rows: Iterable[tuple], schema: StructType):
    """``rows`` (tuples in ``schema`` field order) as one Arrow record
    batch typed from the Spark schema: one ``pa.array`` per column."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    fields = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(fields)
    return pa.RecordBatch.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, fields)], schema=fields)


def map_rows(df: DataFrame, rows: Callable[[Iterator[tuple]], Iterator[tuple]], schema: StructType) -> DataFrame:
    """Run the row-wise Python stage ``rows`` over ``df``: called once
    per task with the task's rows as tuples in ``df``'s column order, it
    yields tuples in ``schema`` field order, any number per input row.
    Output batches hold at most the session's Arrow batch size."""
    size = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def batches(it):
        out = rows(row for batch in it for row in zip(*[c.to_pylist() for c in batch.columns]))
        try:
            while chunk := list(islice(out, size)):
                yield _record_batch(chunk, schema)
        finally:
            _forget_zip_importers()

    return df.mapInArrow(batches, schema)


def _forget_zip_importers() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    A reused Python worker calls ``importlib.invalidate_caches()`` before
    each task (pyspark ``worker_util.setup_spark_files``), and on CPython
    3.11 that makes every cached ``zipimporter`` re-read its whole
    archive directory: about 0.2 s of CPU per task for the importers
    into ``pyspark.zip``. A dropped entry costs nothing to invalidate;
    an import that needs it again gets a new importer from ``zipimport``'s
    own directory cache. Modules already imported keep their loaders."""
    cache = sys.path_importer_cache
    for path in [p for p, finder in cache.items() if isinstance(finder, zipimport.zipimporter)]:
        del cache[path]


def local_rows(spark: SparkSession, rows: Iterable[tuple], schema: Union[StructType, str]) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` field order; a DDL
    string is accepted) as one Arrow table, which plans as a
    ``LocalRelation`` and runs no job of its own when read."""
    import pyarrow as pa

    schema = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    return spark.createDataFrame(pa.Table.from_batches([_record_batch(rows, schema)]), schema)
