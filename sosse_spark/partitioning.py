"""Scale-adaptive partitioning helpers (guide §2: derive parallelism
from the cluster, never a constant tuned to one machine)."""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# Logical operators whose presence means the frame already crossed (or
# will cross) an exchange sized by spark.sql.shuffle.partitions — its
# parallelism is the session's, not the input file count's.  LogicalRDD
# is a localCheckpoint product: it inherits its producer's parallelism.
_WIDE_OR_PARALLEL = {
    "Aggregate",
    "Join",
    "Window",
    "Sort",
    "Repartition",
    "RepartitionByExpression",
    "RepartitionOperation",
    "Deduplicate",
    "Distinct",
    "GlobalLimit",
    "CoGroup",
    "FlatMapGroupsInPandas",
    "LogicalRDD",
}


def _already_parallel(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() in _WIDE_OR_PARALLEL:
            return True
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return False


def fanout(df: DataFrame) -> DataFrame:
    """Repartition UP to the session's default parallelism ahead of a
    CPU-bound stage whose input is a narrow scan.

    Why: a parquet scan splits by BYTES (one ~20 MB file → 1-2
    partitions), so a kernel whose cost is per-ROW work — a mapInPandas
    parse, a pandas-UDF signature pass, or a quadratic-emit broadcast
    join probe — runs on 1-2 cores of a 32-core session (measured: the
    50k-page HTML parse ran 2 tasks, 11 s → 32 tasks, ~1.5 s; a
    1.35G-probe hamming join ran 2 tasks, 180 s → 32 tasks, ~6 s).  The
    round-robin exchange moves each row once and is orders of magnitude
    cheaper than the serialized compute it unlocks; rows are processed
    independently, so results are unchanged.

    Two skip rules, both decided WITHOUT executing anything:
      * inputs estimated under ~1 MB (optimizer stats — compressed scan
        bytes scaled by column pruning): the kernel finishes in well
        under a second and the extra stage costs more than it saves;
      * plans already containing a wide operator (aggregate/join/window/
        repartition…) or a localCheckpoint leaf: those frames already
        carry the session's shuffle parallelism.  (Asking the RDD for
        its partition count instead would EXECUTE the upstream query
        stages under AQE — measured 7.7 s for the ask alone.)

    Kernels whose partitioning carries semantics (the fetch stages'
    per-host bucketing) must NOT use this.
    """
    try:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        if est < (1 << 20):
            return df
        if _already_parallel(df):
            return df
    except Py4JError:
        # the JVM could not report plan stats: skip the fan-out (rows
        # are unchanged either way); a Python-side error still raises
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
