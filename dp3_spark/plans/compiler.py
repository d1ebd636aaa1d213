"""dp3 QL AST -> DataFrame compiler.

The reference pipeline is parse -> plan (pushdowns) -> executor compile ->
pull-loop (SURVEY.md §3.1).  Here the "plan" and "executor" stages collapse
into building one declarative DataFrame; Catalyst then does predicate
pushdown, column pruning, partition pruning and codegen — the rewrites the
reference hand-implements (plan/plan.go:463-591, executor/statfilter.go) are
free (SURVEY.md §4.1).

Semantics ported exactly (with file:line citations):

- WHERE splitting (plan/plan.go:282-344): the top-level OR branches of the
  where clause are each required to reference exactly ONE alias; branches are
  grouped per alias with OR and become that scan's filter.  Scans without a
  branch are unfiltered.  A branch referencing two aliases (e.g.
  `a.x = 1 and b.y = 2` as one conjunct) is an error; an alias that matches
  no scan is "unresolved table alias"; a field without a dot is "must be
  qualified with a dot".
- Filter typing (executor/expression.go:248-1777): int fields accept only
  integer literals; float fields accept integer or float; strings accept all
  six comparisons plus `~`/`~*` regex; bools only =/!=; regex on non-string
  is an error; missing fields raise FieldNotFoundError listing the columns.
- between is half-open [start, end): message-level bounds are
  AfterNanos(start)/BeforeNanos(end) (mcap/lazy_indexed_iterator.go:34-37).
- merge ties order by child listing index (merge_node.go:46-53); `succeeds`
  swaps asof inputs (executor/executor.go:201-205); `neighbors` is
  NotImplemented (executor/executor.go:206-207).
- paging is offset-then-limit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dp3_spark.catalog import LogStore, drop_internal, time_range_filter
from dp3_spark.operators import asof as ASOF
from dp3_spark.operators.merge import ordered_merge, sort_rows
from dp3_spark.ql import ast
from dp3_spark.ql.parser import parse


class CompileError(ValueError):
    pass


class FieldNotFoundError(CompileError):
    pass


_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)


def _split_path(path: str) -> list[str | int]:
    """'a.b[3].c' -> ['a', 'b', 3, 'c']"""
    parts: list[str | int] = []
    for comp in path.split("."):
        while "[" in comp:
            name, rest = comp.split("[", 1)
            idx, comp = rest.split("]", 1)
            if name:
                parts.append(name)
            parts.append(int(idx))
        if comp:
            parts.append(comp)
    return parts


def _resolve_field(schema: T.StructType, path: str) -> tuple[Column, T.DataType]:
    """Walk a dotted/indexed path through the scan's schema, returning the
    Column expression and leaf type.  Missing fields raise
    FieldNotFoundError listing available columns (executor/errors.go)."""
    parts = _split_path(path)
    if not parts or isinstance(parts[0], int):
        raise CompileError(f"invalid field path {path!r}")
    cur_type: T.DataType = schema
    col: Column | None = None
    for part in parts:
        if isinstance(part, int):
            if not isinstance(cur_type, T.ArrayType):
                raise CompileError(f"cannot index non-array in path {path!r}")
            col = col.getItem(part)  # type: ignore[union-attr]
            cur_type = cur_type.elementType
            continue
        if not isinstance(cur_type, T.StructType):
            raise FieldNotFoundError(f"field {part!r} not found in path {path!r}")
        match = next((f for f in cur_type.fields if f.name == part), None)
        if match is None:
            avail = ", ".join(f.name for f in cur_type.fields)
            raise FieldNotFoundError(f"field {part!r} not found; available: {avail}")
        col = F.col(part) if col is None else col.getField(part)
        cur_type = match.dataType
    assert col is not None
    return col, cur_type


def _compile_comparison(schema: T.StructType, e: ast.BinaryExpr, field_path: str) -> Column:
    col, dtype = _resolve_field(schema, field_path)
    lit = e.value
    op = e.op

    if op in ("~", "~*"):
        if not isinstance(dtype, T.StringType):
            raise CompileError(f"regex operator {op} requires a string field, got {dtype}")
        if lit.kind != "string":
            raise CompileError(f"regex operator {op} requires a string pattern")
        pattern = lit.value if op == "~" else f"(?i){lit.value}"
        return col.rlike(pattern)

    if isinstance(dtype, T.BooleanType):
        if lit.kind != "bool" or op not in ("=", "!="):
            raise CompileError(f"bool fields support only =/!= against true/false, got {op} {lit}")
    elif isinstance(dtype, _INT_TYPES):
        # int fields accept only integer literals (expression.go:288-296)
        if lit.kind != "int":
            raise CompileError(f"int field compared against non-int literal {lit.value!r}")
    elif isinstance(dtype, _FLOAT_TYPES):
        # float fields accept int or float literals (expression.go:432-440)
        if lit.kind not in ("int", "float"):
            raise CompileError(f"float field compared against non-numeric literal {lit.value!r}")
    elif isinstance(dtype, T.StringType):
        if lit.kind != "string":
            raise CompileError(f"string field compared against non-string literal {lit.value!r}")
    else:
        raise CompileError(f"unsupported comparison on field type {dtype}")

    value = F.lit(lit.value)
    if op == "=":
        return col == value
    if op == "!=":
        return col != value
    if op == "<":
        return col < value
    if op == "<=":
        return col <= value
    if op == ">":
        return col > value
    if op == ">=":
        return col >= value
    raise CompileError(f"unknown operator {op!r}")


def _branch_alias(e: ast.Expr) -> str:
    """The single alias referenced by one top-level OR branch
    (plan/plan.go:282-322 computeAlias)."""
    aliases: set[str] = set()

    def walk(node: ast.Expr) -> None:
        if isinstance(node, ast.BinaryExpr):
            if "." not in node.field:
                raise CompileError(f"field {node.field} must be qualified with a dot")
            aliases.add(node.field.split(".", 1)[0])
        else:
            for c in node.children:
                walk(c)

    walk(e)
    if len(aliases) > 1:
        raise CompileError(
            f"expression subtree references more than one alias: {', '.join(sorted(aliases))}"
        )
    if not aliases:
        raise CompileError("no alias found in expression")
    return next(iter(aliases))


def _strip_alias(e: ast.Expr) -> ast.Expr:
    if isinstance(e, ast.BinaryExpr):
        return ast.BinaryExpr(field=e.field.split(".", 1)[1], op=e.op, value=e.value)
    return ast.BoolExpr(e.op, tuple(_strip_alias(c) for c in e.children))


def _compile_expr(schema: T.StructType, e: ast.Expr) -> Column:
    if isinstance(e, ast.BinaryExpr):
        return _compile_comparison(schema, e, e.field)
    cols = [_compile_expr(schema, c) for c in e.children]
    out = cols[0]
    for c in cols[1:]:
        out = (out & c) if e.op == "and" else (out | c)
    return out


@dataclass
class _ScanCtx:
    producers: tuple[str, ...]  # empty = all
    between: ast.Between | None
    filters: dict[str, ast.Expr]  # alias/topic -> stripped filter expr
    next_index: int = 0


class Compiler:
    """Compiles QL statements against one LogStore."""

    def __init__(self, store: LogStore):
        self.store = store
        self._base = store.normalized()
        payload = [f for f in self._base.schema.fields if f.name not in
                   ("producer", "topic", "log_time", "sequence", LogStore.PUSHDOWN_COL)]
        self._payload_schema = T.StructType(payload)

    # ------------------------------------------------------------------ api
    def compile(self, source: str | ast.Statement) -> DataFrame:
        stmt = parse(source) if isinstance(source, str) else source
        if stmt.truncate is not None:
            raise NotImplementedError(
                "truncate requires the writable log store (dp3_spark.streaming.lifecycle)"
            )
        assert stmt.query is not None
        return self.compile_query(stmt.query)

    def compile_query(self, q: ast.Query) -> DataFrame:
        # `from *` expands to producers having the requested topics
        # (plan/plan.go:366-392) — but since our producers come FROM the
        # data, a topic-filtered scan already implies that set: no producer
        # filter (and no driver-side catalog roundtrip) is needed.
        producers = q.producers

        # where split per top-level OR branch (plan/plan.go:326-344)
        filters: dict[str, ast.Expr] = {}
        if q.where is not None:
            # only UNgrouped top-level ORs split per alias (plan.go:326-344;
            # parenthesized groups are single branches, plan_test.go:30-34)
            branches = (
                list(q.where.children)
                if isinstance(q.where, ast.BoolExpr)
                and q.where.op == "or"
                and not q.where.grouped
                else [q.where]
            )
            for b in branches:
                alias = _branch_alias(b)
                stripped = _strip_alias(b)
                if alias in filters:
                    filters[alias] = ast.BoolExpr("or", (filters[alias], stripped))
                else:
                    filters[alias] = stripped
            scan_names = {s.name for s in ast.scans(q.select)}
            for alias in filters:
                if alias not in scan_names:
                    raise CompileError(f"unresolved table alias: {alias}")

        ctx = _ScanCtx(producers=producers, between=q.between, filters=dict(filters))
        df = self._compile_select(q.select, ctx)
        if ctx.filters:
            raise CompileError(f"unresolved table alias: {sorted(ctx.filters)[0]}")

        order = [F.col("log_time"), F.col("producer"), F.col("__child__"), F.col("sequence")]
        if q.descending:
            order = [
                F.col("log_time").desc(),
                F.col("producer"),
                F.col("__child__"),
                F.col("sequence").desc(),
            ]
        # a limited statement already plans as a top-k sort
        # (TakeOrderedAndProject), which samples nothing: keep it
        bound = None if q.limit is not None else self._rows_bound(q.select)
        df = sort_rows(df, order, bound)
        df = drop_internal(df.drop("__child__"))

        if q.offset is not None:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)

        if q.explain:
            # reference parity: dp3's `explain` EXECUTES the query (pulls
            # every tuple, executor.go:62-86) and reports per-node runtime
            # stats (nodestats.go:13-35) alongside the plan.  Mirror that:
            # formatted plan text + executed-operator SQLMetrics.
            from dp3_spark.plans.nodestats import executed_node_stats, render_node_stats

            spark = df.sparkSession
            plan_text = df._jdf.queryExecution().explainString(  # noqa: SLF001
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            stats = executed_node_stats(df)
            lines = plan_text.splitlines() + render_node_stats(stats)
            return spark.createDataFrame([(line,) for line in lines], "plan: string")
        return df

    # ------------------------------------------------------------- internal
    def _compile_select(self, node: ast.SelectNode, ctx: _ScanCtx) -> DataFrame:
        if isinstance(node, ast.Scan):
            return self._compile_scan(node, ctx)
        if isinstance(node, ast.MergeJoin):
            return self._compile_merge(node, ctx)
        if isinstance(node, ast.AsofJoin):
            if node.keyword == "neighbors":
                raise NotImplementedError("neighbors is not implemented")  # executor.go:206-207
            left = self._compile_select(node.left, ctx)
            right = self._compile_select(node.right, ctx)
            if node.keyword == "succeeds":
                left, right = right, left
            return ASOF.dp3_asof_join(
                left,
                right,
                immediate=node.immediate,
                threshold_ns=node.threshold_ns,
                partition_cols=("producer",),
                time_slices=self._asof_slices(node),
            )
        raise CompileError(f"unknown select node {node!r}")

    def _rows_bound(self, node: ast.SelectNode) -> int | None:
        """Proven bound on the rows `node` emits, or None.  Each scan under
        it reads at most the store's row_bound rows (a filtered view of
        the table; a merge is their union and an as-of emits a subset of
        its inputs), so the node holds at most row_bound x scans rows."""
        bound = self.store.row_bound
        return None if bound is None else bound * len(ast.scans(node))

    def _asof_slices(self, node: ast.AsofJoin) -> str | None:
        """time_slices for one as-of node.  When its merged union's bound
        cannot exceed AUTO_SLICE_MAX_ROWS no producer's run can either,
        and the 'auto' count would return None: skip it (exact, not a
        heuristic).  Unknown bound or above it: the 'auto' count decides."""
        bound = self._rows_bound(node)
        if bound is None or bound > ASOF.AUTO_SLICE_MAX_ROWS:
            return "auto"
        return None

    def _compile_merge(self, node: ast.MergeJoin, ctx: _ScanCtx) -> DataFrame:
        """Merge compilation with scan collapsing: children that are plain
        scans (no per-alias filter) fold into ONE `topic IN (...)` scan —
        one pass over storage instead of N — with the child tie-break index
        assigned by a topic->listing-position map.  Filtered scans and asof
        children compile separately and union in.

        (The reference reads each topic's tree separately because trees are
        per-topic physical structures; here topics are one partitioned
        table, so N scans of it would be N redundant reads.)"""
        plain: list[tuple[int, ast.Scan]] = []
        others: list[DataFrame] = []
        # reserve child indices in listing order first
        indices: list[int] = []
        for c in node.children:
            indices.append(ctx.next_index)
            ctx.next_index += len(ast.scans(c))
        plain_topics: list[str] = []
        for idx, c in zip(indices, node.children):
            if (
                isinstance(c, ast.Scan)
                and c.name not in ctx.filters
                and c.topic not in plain_topics  # duplicate topics must scan twice
            ):
                plain.append((idx, c))
                plain_topics.append(c.topic)
            else:
                sub_ctx = _ScanCtx(
                    producers=ctx.producers,
                    between=ctx.between,
                    filters=ctx.filters,
                    next_index=idx,
                )
                others.append(self._compile_select(c, sub_ctx))
        if len(plain) > 1:
            df = self._base.filter(F.col("topic").isin(plain_topics))
            if ctx.producers:
                df = df.filter(F.col("producer").isin(list(ctx.producers)))
            if ctx.between is not None:
                df = time_range_filter(df, ctx.between.start_ns, ctx.between.end_ns)
            child_map = F.create_map(
                *[x for idx, s in plain for x in (F.lit(s.topic), F.lit(idx))]
            )
            others.insert(0, df.withColumn("__child__", child_map[F.col("topic")]))
        elif plain:
            idx, s = plain[0]
            sub_ctx = _ScanCtx(
                producers=ctx.producers, between=ctx.between,
                filters=ctx.filters, next_index=idx,
            )
            others.insert(0, self._compile_scan(s, sub_ctx))
        return ordered_merge(others)

    def _probe_conjunct(self, expr: ast.Expr) -> tuple[str, str] | None:
        """First top-level `col = 'literal'` conjunct whose (plain,
        non-nested) payload column has a trigram index — the statfilter
        candidate (statfilter.go:102-127 compiles exactly the
        string-equality case).  OR branches are skipped: a disjunct
        cannot restrict the scan."""
        if self.store.string_probe is None:
            return None

        def walk(e: ast.Expr):
            if isinstance(e, ast.BinaryExpr) and e.op == "=" and e.value.kind == "string":
                # fields here are already alias-stripped; nested paths
                # (dots/indexing) are not probe-indexable
                col = e.field
                if (
                    "." not in col
                    and "[" not in col
                    and col in self.store.probe_columns
                ):
                    return (col, e.value.value)
            if isinstance(e, ast.BoolExpr) and e.op == "and":
                for c in e.children:
                    hit = walk(c)
                    if hit:
                        return hit
            return None

        return walk(expr)

    def _compile_scan(self, scan: ast.Scan, ctx: _ScanCtx) -> DataFrame:
        base = self._base
        # first scan with a matching name claims the filter
        # (plan/plan.go:487-490 deletes from the map)
        expr = ctx.filters.pop(scan.name, None)
        if expr is not None:
            probe = self._probe_conjunct(expr)
            if probe is not None:
                # statfilter parity: swap in the trigram-pruned file set;
                # a superset of matching rows, so every filter below still
                # applies and results are unchanged (only IO shrinks)
                from dataclasses import replace

                raw = self.store.string_probe(probe[0], probe[1], "eq")
                base = replace(
                    self.store, df=raw, string_probe=None, probe_columns=()
                ).normalized()
        df = base.filter(F.col("topic") == scan.topic)
        if ctx.producers:
            df = df.filter(F.col("producer").isin(list(ctx.producers)))
        if ctx.between is not None:
            df = time_range_filter(df, ctx.between.start_ns, ctx.between.end_ns)
        if expr is not None:
            df = df.filter(_compile_expr(self._payload_schema, expr))
        df = df.withColumn("__child__", F.lit(ctx.next_index))
        ctx.next_index += 1
        return df
