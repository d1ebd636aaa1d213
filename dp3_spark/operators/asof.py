"""As-of join with dp3 semantics, expressed as pure DataFrame operations.

Reference semantics (executor/asof_node.go:64-133; SURVEY.md §2.2): both
inputs are merged in (log_time, side) order with the left side winning ties.
Each right tuple matches the *most recent* left tuple iff
``left.log_time + t > right.log_time`` (or ``t == 0`` = unbounded).  On the
first match of a left tuple both the left and right tuples are emitted; later
rights matching the same left are emitted too unless ``immediate``.  Lefts
with no matching right are dropped (inner semantics).  ``succeeds`` swaps the
inputs (executor/executor.go:201-205); ``neighbors`` parses but is
unimplemented in the reference — we keep that parity.

Spark realization: tag sides, `unionByName`, one window pass computes the
as-of left for every row ("last left at or before me in merged order"), a
predicate marks matched rights, a second window (same partitioning+ordering,
so Catalyst reuses the sort) ranks rights per left for `immediate` and marks
lefts that have ≥1 matched right.  No join, no driver loop.

Scale: all windows partition by the producer columns — dp3 compiles one asof
plan per producer (plan/plan.go:401-443), so matching never crosses
producers and Spark parallelizes across them.  Within one producer the
window is a single sorted run, which matches the reference's inherently
sequential single-node merge; for a pathological single-producer stream,
``time_slices=K`` range-partitions each producer's run into K time slices
processed in parallel, with the one left row preceding each slice boundary
replicated into the next slice so every right still sees its as-of left.
Cross-slice bookkeeping keeps the semantics exact: a left emits once, from
its home slice, if ANY slice matched it (in-slice or via its carried copy),
and ``immediate`` keeps only the globally-first matched right per left.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__side__"
_RN = "__rn__"
_LEFT_RN = "__left_rn__"
_LEFT_TIME = "__left_time__"
_MATCHED = "__matched__"


_SLICE = "__slice__"
_CARRIED = "__carried__"

# Auto skew guard: when any single producer's merged run exceeds this many
# rows, the window stage would serialize that producer onto one task —
# switch to the time-sliced path.  Same auto-dispatch idiom as
# dedup.VERIFY_BROADCAST_MAX_ROWS: a module constant callers (and tests)
# can tune.  2M rows ≈ a few hundred MB of log rows, the point
# where one sorted run stops fitting a task comfortably.
AUTO_SLICE_MAX_ROWS = 2_000_000


def _auto_time_slices(u: DataFrame, partition_cols: Sequence[str]) -> int | None:
    """Rows-per-producer heuristic for `time_slices='auto'`: one
    map-combinable count over the (already-constructed) merged union —
    cheap relative to the window sort it guards, but a Spark job at plan
    time.  Returns the slice count K (ceil(max_run / AUTO_SLICE_MAX_ROWS),
    capped at the cluster parallelism) or None when no producer's run is
    long enough.  The QL compiler skips this count when the store's
    manifest row bound (LogStore.row_bound, the summed recorded row
    counts of the committed data files) times the as-of's scan count is
    within AUTO_SLICE_MAX_ROWS — the count would return None there."""
    import math

    row = (
        u.groupBy(*partition_cols)
        .count()
        .agg(F.max("count").alias("mx"))
        .first()
    )
    max_run = int(row["mx"] or 0)
    if max_run <= AUTO_SLICE_MAX_ROWS:
        return None
    par = max(2, u.sparkSession.sparkContext.defaultParallelism)
    return min(math.ceil(max_run / AUTO_SLICE_MAX_ROWS), par)


def dp3_asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    immediate: bool = False,
    threshold_ns: int = 0,
    time_col: str = "log_time",
    seq_col: str = "sequence",
    partition_cols: Sequence[str] = ("producer",),
    child_col: str = "__child__",
    time_slices: int | str | None = "auto",
) -> DataFrame:
    """dp3 `precedes` join.  For `succeeds`, call with the inputs swapped.

    Inputs must be union-compatible (the canonical log row shape); a
    `child_col` tie-break column is threaded through if present.  Output
    contains the emitted left and right rows with `child_col` rewritten to
    (side, original child) ordering so a final sort on
    (time, child, seq) reproduces the reference's emission order.

    time_slices: when one producer dominates (a single partition would
    serialize the whole stream onto one task), split each producer's run
    into this many equal-width time slices processed in parallel; output
    is identical to the default path (parity pinned in tests).  The
    default 'auto' counts rows per producer (one map-combinable agg) and
    slices only when some run exceeds AUTO_SLICE_MAX_ROWS; pass None to
    force the single-run path or an int to force a slice count.
    """
    has_child = child_col in left.columns or child_col in right.columns
    lhs = left if child_col in left.columns else left.withColumn(child_col, F.lit(0))
    rhs = right if child_col in right.columns else right.withColumn(child_col, F.lit(0))
    lhs = lhs.withColumn(_SIDE, F.lit(0))
    rhs = rhs.withColumn(_SIDE, F.lit(1))

    u = lhs.unionByName(rhs, allowMissingColumns=True)

    if time_slices == "auto":
        time_slices = _auto_time_slices(u, partition_cols)
    elif isinstance(time_slices, str):
        raise ValueError(f"unknown time_slices mode {time_slices!r}")

    if time_slices is not None and time_slices > 1:
        return _asof_time_sliced(
            u,
            n_slices=time_slices,
            immediate=immediate,
            threshold_ns=threshold_ns,
            time_col=time_col,
            seq_col=seq_col,
            partition_cols=partition_cols,
            child_col=child_col,
            has_child=has_child,
        )

    parts = [F.col(c) for c in partition_cols]
    order = [F.col(time_col), F.col(_SIDE), F.col(child_col), F.col(seq_col)]
    w_ord = Window.partitionBy(*parts).orderBy(*order)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    is_left = F.col(_SIDE) == 0
    u = (
        u.withColumn(_RN, F.row_number().over(w_ord))
        .withColumn(_LEFT_RN, F.last(F.when(is_left, F.col(_RN)), ignorenulls=True).over(w_run))
        .withColumn(
            _LEFT_TIME, F.last(F.when(is_left, F.col(time_col)), ignorenulls=True).over(w_run)
        )
    )

    in_threshold: Column = (
        F.lit(True)
        if threshold_ns == 0
        else (F.col(_LEFT_TIME) + F.lit(threshold_ns)) > F.col(time_col)
    )
    u = u.withColumn(
        _MATCHED, (~is_left) & F.col(_LEFT_RN).isNotNull() & in_threshold
    )

    # Per left-group window: ranks matched rights (for `immediate`) and tells
    # lefts whether any right matched them.  Same partitioning prefix + order
    # as w_ord → single sort in the physical plan.
    w_group = Window.partitionBy(*parts, F.col(_LEFT_RN)).orderBy(*order)
    u = u.withColumn(
        "__match_rank__",
        F.sum(F.col(_MATCHED).cast("int")).over(
            w_group.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn(
        "__group_matches__",
        F.max(F.col(_MATCHED).cast("int")).over(
            w_group.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )

    keep_left = is_left & (F.col("__group_matches__") == 1)
    keep_right = F.col(_MATCHED) & (
        F.lit(True) if not immediate else (F.col("__match_rank__") == 1)
    )
    out = u.filter(keep_left | keep_right)

    # Rewrite the tie-break column so output order is (time, side, sub-child):
    # the asof node's emission order ties left-before-right (asof_node.go:126-131).
    # 2^32 shift: child indices are scan ordinals (or the composite of a
    # nested asof, which stays < 2^62 for any sane nesting depth); a 1e6
    # shift would collide once a level's child exceeds 1e6.
    width = F.lit(1 << 32)
    out = out.withColumn(child_col, F.col(_SIDE) * width + F.col(child_col))
    drop = [_SIDE, _RN, _LEFT_RN, _LEFT_TIME, _MATCHED, "__match_rank__", "__group_matches__"]
    if not has_child:
        drop.append(child_col)
    return out.drop(*drop)


def _asof_time_sliced(
    u: DataFrame,
    *,
    n_slices: int,
    immediate: bool,
    threshold_ns: int,
    time_col: str,
    seq_col: str,
    partition_cols: Sequence[str],
    child_col: str,
    has_child: bool,
) -> DataFrame:
    """Single-producer-skew path: the merged stream is range-partitioned
    into `n_slices` equal-width time slices per producer, each processed
    by the same window machinery in parallel.

    Exactness across slice boundaries:
    - the one left row preceding each slice's start is REPLICATED into it
      (flagged carried), so every right resolves its as-of left locally;
      only the last left of a slice can ever be the as-of left of a later
      slice's rights, and the carry propagates through left-free slices;
    - a left emits once, from its HOME slice, iff any slice matched it —
      in-slice (group match) or via a carried copy (the matched-carried
      key set, at most producers x slices rows, broadcast back);
    - `immediate` ranks matched rights GLOBALLY per as-of-left identity
      (time, child, seq), not per slice, so exactly the first match
      survives.

    Costs vs the default path: one extra min/max scan for slice bounds,
    two windows over the left side for carry computation, and (immediate
    only) one output-sized ranking shuffle — the price of turning one
    serialized task into n_slices parallel ones."""
    tmin, tmax = u.agg(F.min(time_col), F.max(time_col)).collect()[0]
    if tmin is None:
        slice_width = 1
    else:
        slice_width = max(1, (int(tmax) - int(tmin)) // n_slices + 1)
    u = u.withColumn(
        _SLICE,
        ((F.col(time_col) - F.lit(tmin if tmin is not None else 0)) / F.lit(slice_width))
        .cast("long"),
    ).withColumn(_CARRIED, F.lit(0))
    u_cols = u.columns

    parts = [F.col(c) for c in partition_cols]
    order = [F.col(time_col), F.col(_SIDE), F.col(child_col), F.col(seq_col)]
    is_left = F.col(_SIDE) == 0

    # ---- carried lefts: last left of each slice, propagated forward ----
    lefts = u.filter(is_left)
    w_last = Window.partitionBy(*parts, F.col(_SLICE)).orderBy(
        *[o.desc() for o in order]
    )
    last_per_slice = (
        lefts.withColumn(_RN, F.row_number().over(w_last))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
        .withColumn("__ls__", F.struct(*[F.col(c) for c in u_cols]))
        .select(*partition_cols, _SLICE, "__ls__")
    )
    slices = u.select(*partition_cols, _SLICE).distinct()
    w_prev = (
        Window.partitionBy(*parts)
        .orderBy(F.col(_SLICE))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = (
        slices.join(last_per_slice, [*partition_cols, _SLICE], "left")
        .withColumn("__cs__", F.last("__ls__", ignorenulls=True).over(w_prev))
        .filter(F.col("__cs__").isNotNull())
    )
    carried_rows = carried.select(
        *[
            F.col(_SLICE) if c == _SLICE else F.col(f"__cs__.{c}").alias(c)
            for c in u_cols
        ]
    ).withColumn(_CARRIED, F.lit(1))
    u2 = u.unionByName(carried_rows)

    # ---- per-slice window pass (carried row sorts first: its time is
    # strictly below the slice's start) ----
    w_ord = Window.partitionBy(*parts, F.col(_SLICE)).orderBy(*order)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u2 = (
        u2.withColumn(_RN, F.row_number().over(w_ord))
        .withColumn(
            _LEFT_RN, F.last(F.when(is_left, F.col(_RN)), ignorenulls=True).over(w_run)
        )
        .withColumn(
            _LEFT_TIME,
            F.last(F.when(is_left, F.col(time_col)), ignorenulls=True).over(w_run),
        )
        .withColumn(
            "__left_child__",
            F.last(F.when(is_left, F.col(child_col)), ignorenulls=True).over(w_run),
        )
        .withColumn(
            "__left_seq__",
            F.last(F.when(is_left, F.col(seq_col)), ignorenulls=True).over(w_run),
        )
    )
    in_threshold: Column = (
        F.lit(True)
        if threshold_ns == 0
        else (F.col(_LEFT_TIME) + F.lit(threshold_ns)) > F.col(time_col)
    )
    u2 = u2.withColumn(
        _MATCHED, (~is_left) & F.col(_LEFT_RN).isNotNull() & in_threshold
    )
    w_group = Window.partitionBy(*parts, F.col(_SLICE), F.col(_LEFT_RN)).orderBy(*order)
    u2 = u2.withColumn(
        "__group_matches__",
        F.max(F.col(_MATCHED).cast("int")).over(
            w_group.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )

    # ---- cross-slice left emission: home copies of lefts whose only
    # matches came through a carried copy ----
    mc = (
        u2.filter(is_left & (F.col(_CARRIED) == 1) & (F.col("__group_matches__") == 1))
        .select(
            *partition_cols,
            F.col(time_col).alias("__mt__"),
            F.col(child_col).alias("__mc__"),
            F.col(seq_col).alias("__ms__"),
        )
        .distinct()
    )
    cond = (F.col(time_col) == F.col("__mt__")) & (
        F.col(child_col) == F.col("__mc__")
    ) & (F.col(seq_col) == F.col("__ms__"))
    for c in partition_cols:
        cond = cond & (F.col(c) == F.col(f"__mp_{c}__"))
    mc_renamed = mc.select(
        *[F.col(c).alias(f"__mp_{c}__") for c in partition_cols],
        "__mt__",
        "__mc__",
        "__ms__",
    )
    u2 = u2.join(F.broadcast(mc_renamed), cond, "left").withColumn(
        "__carried_matched__", F.col("__mt__").isNotNull()
    )

    keep_left = (
        is_left
        & (F.col(_CARRIED) == 0)
        & ((F.col("__group_matches__") == 1) | F.col("__carried_matched__"))
    )
    keep_right = F.col(_MATCHED)
    out = u2.filter(keep_left | keep_right)

    if immediate:
        # globally-first matched right per as-of-left identity: a running
        # count of RIGHT rows (the left's own home copy shares the
        # partition and must not consume rank 1)
        w_first = Window.partitionBy(
            *parts, F.col(_LEFT_TIME), F.col("__left_child__"), F.col("__left_seq__")
        ).orderBy(*order)
        out = out.withColumn(
            "__gmr__",
            F.sum((~is_left).cast("int")).over(
                w_first.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ).filter(is_left | (F.col("__gmr__") == 1))

    width = F.lit(1 << 32)
    out = out.withColumn(child_col, F.col(_SIDE) * width + F.col(child_col))
    drop = [
        _SIDE,
        _RN,
        _SLICE,
        _CARRIED,
        _LEFT_RN,
        _LEFT_TIME,
        _MATCHED,
        "__left_child__",
        "__left_seq__",
        "__group_matches__",
        "__carried_matched__",
        "__mt__",
        "__mc__",
        "__ms__",
        *[f"__mp_{c}__" for c in partition_cols],
    ]
    if immediate:
        drop.append("__gmr__")
    if not has_child:
        drop.append(child_col)
    return out.drop(*drop)
