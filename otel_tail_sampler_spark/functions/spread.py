"""Small-input spread for CPU-dense map stages.

Spark sizes scan parallelism by input SPLITS (`maxPartitionBytes`, row-group
bounded). A small file — one row group, a few hundred KiB — therefore runs
as ONE task, which starves compute-dense per-row stages (per-shingle md5
minhashing, Arrow winnowing kernels): measured 3.4s single-task vs <1s
spread for minhash signatures over 5 000 docs on 32 cores.

``spread_small_input`` repartitions ONLY when the input's planned partition
count is below the session default parallelism. The shuffle it introduces
moves the raw input — by construction tiny (it fit in fewer splits than
there are cores) — and buys a cores-wide compute stage. At lake scale the
condition never fires: a 100 TB table plans thousands of splits, so the
operators keep their shuffle-free / minimal-shuffle plan shapes (PLANS.md
captures those shapes with pre-spread inputs for exactly this reason).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# logical-plan node CLASS-NAME PREFIXES whose presence means the input
# already went (or will go) through an exchange — its parallelism is
# session-sized, AND touching .rdd would make AQE materialize those shuffle
# stages EAGERLY at plan time, running the upstream DAG twice. Includes the
# grouped/cogrouped pandas nodes (FlatMapGroupsInPandas & friends sit on
# top of a hash exchange) and FlatMapGroupsWithState. Spread only narrow
# scans. Matched against the analyzed plan's Java class simple names via a
# py4j tree walk — NOT against the rendered plan string, where a column or
# alias literally named e.g. 'SortKey' would false-positive and silently
# disable the spread.
_WIDE_PREFIXES = (
    "Join", "Aggregate", "Window", "Repartition", "Sort",
    "Distinct", "Deduplicate", "Intersect", "Except",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsWithState", "ApplyInPandasWithState",
    "MapGroups", "CoGroup", "GlobalLimit",
)


def _has_wide_node(df: DataFrame) -> bool:
    """Walk the ANALYZED logical plan tree (py4j) and report whether any
    node's Java class simple name starts with a wide-node prefix. Node
    identity, not string rendering: immune to column/alias/literal text.
    Subquery expression plans (ScalarSubquery/InSubquery/Exists) are NOT
    in children() — they ride QueryPlan.subqueries() — so a wide node
    that lives only inside a subquery would otherwise be invisible and
    the input misclassified as narrow (the .rdd probe below would then
    eagerly materialize the subquery's shuffle stages under AQE)."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name.startswith(_WIDE_PREFIXES):
            return True
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        subq = node.subqueries()
        for i in range(subq.size()):
            stack.append(subq.apply(i))
    return False


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session default parallelism iff it is a
    NARROW plan (scan/filter/project/map only) whose planned partition
    count is smaller. No-op otherwise — a post-shuffle input already has
    session-sized parallelism, and inspecting its .rdd under AQE would
    eagerly execute the upstream shuffle stages (they would then run
    again at action time)."""
    if df.isStreaming:  # no static partition plan to inspect; leave as-is
        return df
    if _has_wide_node(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    # narrow plan: no exchanges, so .rdd plans lazily without running jobs
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
