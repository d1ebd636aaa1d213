"""Ordered merge ("merge join", the comma operator in dp3 QL).

The reference implements this as a heap-based n-ary streaming union ordered
by (log_time, child index) (executor/merge_node.go:31-110).  The paper calls
it "the same way a conventional RDBMS may implement an ordered union" — so
the Spark-native expression is exactly that: `unionByName` (schema-aligning,
missing columns null for heterogeneous topics) followed by one final sort.

The union is free (each scan is pruned by partition/row-group stats); the
final sort is the only wide stage and it is the output contract.  Which
sort runs depends on what is known of its input (`sort_rows`):

- a proven row bound within ONE_TASK_SORT_MAX_ROWS and a Catalyst size
  estimate within ONE_TASK_SORT_MAX_BYTES: `repartition(1)` +
  `sortWithinPartitions` — one exchange into one task, no range-sampling
  job.  The reference's merge is a single-node heap too.
- otherwise (no bound, or either ceiling exceeded): `orderBy`, a
  range-partitioned distributed sort.  Its sampling job re-reads the
  input, but it sorts in parallel and splits the result into partitions a
  streaming consumer pulls one at a time.

Tie-break parity: equal log_time rows order by child listing index
(merge_node.go:46-53), then sequence.  Callers thread a `__child__` column
through each input (the compiler assigns scan listing indices).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame

ORDER_COLS = ("log_time", "__child__", "sequence")

# One-task sort ceilings, measured on a 4-core host with a 2 GB driver by
# timing both sorts over one topic of N rows, sorted alone (noop write) and
# streamed to the driver the way the service routes stream (toLocalIterator):
# - rows, with small rows (producer, topic, log_time, sequence, three
#   doubles, a frame id): at 500k the one-task sort ties the range sort
#   (0.79 vs 0.77 s alone) and streams faster (4.85 vs 5.29 s); at 1M it
#   sorts 25% slower (1.30 vs 1.04 s) and streams even (10.4 s); at 2M it
#   sorts 58% slower and its one partition runs the driver out of memory,
#   where the range sort streams in 19-20 s.
# - bytes: a streamed result's partition is held whole by the driver.
#   20k rows of 16 KB payloads (320 MB) ran the driver out of memory on
#   the one-task path, where the range sort streamed in 6.7 s; 5k rows
#   (80 MB) streamed in 1.6 vs 1.5 s.  The gate reads Catalyst's size
#   estimate, which counts compressed file bytes: close to the raw size for
#   image or point-cloud payloads, an underestimate for compressible ones.
#   32 MB keeps well below the 80 MB that still streamed, and small rows
#   reach the row ceiling first (~16 MB at 500k).
ONE_TASK_SORT_MAX_ROWS = 500_000
ONE_TASK_SORT_MAX_BYTES = 32 * 1024 * 1024


def ordered_merge(children: Sequence[DataFrame]) -> DataFrame:
    """n-ary ordered union.  Inputs must carry a `__child__` tie-break column;
    output is NOT sorted — the compiler applies one final sort so nested
    merges don't sort repeatedly (the reference's pullUpMergeJoins flattening,
    plan/plan.go:574-591, falls out for free)."""
    if not children:
        raise ValueError("ordered_merge needs at least one child")
    out = children[0]
    for c in children[1:]:
        out = out.unionByName(c, allowMissingColumns=True)
    return out


def sort_rows(df: DataFrame, order: Sequence[Column | str], row_bound: int | None) -> DataFrame:
    """df sorted by `order`.  `row_bound` is a proven upper bound on df's
    rows (None = unknown).  Within both one-task ceilings (read at call
    time, so tests can move them) the rows sort in one task behind one
    exchange; otherwise a range-partitioned `orderBy`.  The size estimate
    is the analyzed plan's (driver metadata, no job and no optimizer
    pass); a leaf with no statistics reports Long.MaxValue, so it sorts
    with orderBy."""
    if (
        row_bound is not None
        and row_bound <= ONE_TASK_SORT_MAX_ROWS
        and int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
        <= ONE_TASK_SORT_MAX_BYTES
    ):
        return df.repartition(1).sortWithinPartitions(*order)
    return df.orderBy(*order)
