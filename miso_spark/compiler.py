"""Plan → DataFrame compiler.

Each step maps to declarative DataFrame ops so Catalyst handles
pushdown/pruning/topn/broadcast decisions (SURVEY.md §6). The
reference executes the same steps as hand-written streaming iterators
(miso-workflow/src/{filter,project,sort,summarize,join,union,...}.rs).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from miso_spark import plan as P
from miso_spark.exprs import compile_expr
from miso_spark.fields import FieldPath
from miso_spark.sources import CAP_RAW, CAP_WRITE, SourceRegistry
from miso_spark.sources.dynamic_filter import DEFAULT_MAX_DISTINCT

#: miso names the bare `count` step's output column "Count"
#: (miso-workflow-types/src/log.rs:9)
COUNT_FIELD_NAME = "Count"


def _strip_nullability(t):
    """The same type modulo nullable/containsNull flags — Spark's
    unionByName reconciles those natively; they are not conflicts."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(t, ArrayType):
        return ArrayType(_strip_nullability(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(
            _strip_nullability(t.keyType), _strip_nullability(t.valueType), True
        )
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _strip_nullability(f.dataType), True)
            for f in t.fields
        ])
    return t


def _union_type_conflict(lt, rt) -> bool:
    """True when unioning two typed columns of these types would need
    a lossy or failing coercion (string∪bigint, timestamp∪bigint,
    mismatched structs). Equal types modulo nullability, all-null
    columns, pure numeric widenings (int∪double) and date∪timestamp
    are SQL-standard coercions Spark performs safely — not
    conflicts."""
    from pyspark.sql.types import (
        DateType,
        NullType,
        NumericType,
        TimestampType,
    )

    if _strip_nullability(lt) == _strip_nullability(rt):
        return False
    if isinstance(lt, NullType) or isinstance(rt, NullType):
        return False
    if isinstance(lt, NumericType) and isinstance(rt, NumericType):
        return False
    if {type(lt), type(rt)} == {DateType, TimestampType}:
        return False
    return True


def _lift_to_variant(df: DataFrame, name: str) -> DataFrame:
    """Lift a typed column into the dynamic model PRESERVING its null
    semantics (ADVICE r12→13): under the repo's typed-column convention
    a plain NULL is a PRESENT null (the total-order smallest — rows
    survive comparisons, dcount counts a null bucket), so it must
    encode as a present VOID variant; only a MISSING_AS_NULL_MD-tagged
    column's NULL already means missing and stays SQL NULL. Without the
    coalesce, every union/join lift would silently flip matched-row
    nulls from present-null to missing semantics."""
    from miso_spark.dynamic import variant_lit, wrap_variant
    from miso_spark.exprs import MISSING_AS_NULL_MD

    w = wrap_variant(F.col(f"`{name}`"))
    try:
        tagged = bool(df.schema[name].metadata.get(MISSING_AS_NULL_MD, False))
    except Exception:
        tagged = False
    if not tagged:
        w = F.coalesce(w, variant_lit(None))
    return df.withColumn(name, w)


def union_harmonized(df: DataFrame, other: DataFrame) -> DataFrame:
    """Union-by-name with the engine's heterogeneous-column rules: a
    name that is VARIANT on one side and typed on the other lifts the
    typed side into a variant (the reference's union over dynamic
    collections is trivially heterogeneous; unionByName would
    otherwise fail on the type conflict), and typed∪typed with
    irreconcilable types (the reference's union is untyped per-row —
    e.g. stack's rfc3339 @time unioned with hdfs's epoch @time,
    test_cases.rs union_different_timestamp_field) lifts BOTH sides so
    each row keeps its own value instead of a lossy (or crashing,
    under ANSI) coercion. Shared by the batch Union compile and the
    partial-stream head (streaming/partial.py — r11 review find: the
    stream's bare unionByName crashed on VARIANT∪typed plans the
    batch path accepts)."""
    # dynamic-model test BEFORE any in-call conflict lift: a purely
    # typed union whose only variant-ness comes from the string∪array
    # lift below must NOT trigger the one-sided missing-semantics lift
    # (r12 fuzz find on the Elastic arm: an absorbed take-1 branch's
    # inferred schema lacked a column, and the misfired lift turned the
    # other side's bigint into a variant)
    l_dyn = any(FieldPath._is_variant(f.dataType) for f in df.schema.fields)
    r_dyn = any(FieldPath._is_variant(f.dataType) for f in other.schema.fields)

    for name in set(df.columns) & set(other.columns):
        lt = df.schema[name].dataType
        rt = other.schema[name].dataType
        lv = FieldPath._is_variant(lt)
        rv = FieldPath._is_variant(rt)
        if lv and not rv:
            other = _lift_to_variant(other, name)
        elif rv and not lv:
            df = _lift_to_variant(df, name)
        elif not lv and not rv and _union_type_conflict(lt, rt):
            df = _lift_to_variant(df, name)
            other = _lift_to_variant(other, name)
    # one-sided columns against a DYNAMIC-model branch (any VARIANT
    # column on INPUT ⇒ the frame follows missing-vs-null semantics):
    # the reference's union leaves the key MISSING on rows that lack
    # it, so a TYPED one-sided column must lift to variant — its
    # unionByName null-fill is then a NULL variant (missing: predicates
    # poison, dcount skips) instead of a typed present-null the total
    # order would KEEP (r12 differential find: `count | union (m.b) |
    # where Count < 0` kept every b row). Fully-typed unions keep the
    # documented present-null conflation.
    if r_dyn:
        for name in set(df.columns) - set(other.columns):
            if not FieldPath._is_variant(df.schema[name].dataType):
                df = _lift_to_variant(df, name)
    if l_dyn:
        for name in set(other.columns) - set(df.columns):
            if not FieldPath._is_variant(other.schema[name].dataType):
                other = _lift_to_variant(other, name)
    return df.unionByName(other, allowMissingColumns=True)


def _sort_cols(sorts: tuple[P.Sort, ...], schema=None) -> list[Column]:
    cols = []
    for s in sorts:
        fp = FieldPath.parse(s.by)
        if schema is not None and fp.is_missing_in(schema):
            # a sort key absent from this input's schema evaluates as
            # missing, which sorts under the nulls directive like every
            # other missing value (sort.rs arrow nulls) — it must NOT
            # be an analysis error: union pushes legitimately copy a
            # top/sort whose key only exists on a SIBLING branch
            # (push_steps_into_union.rs), and rows here simply all tie
            # on that key
            c = F.lit(None).cast("string")
        else:
            c = fp.to_column(schema)
        if schema is not None and FieldPath._is_variant(fp.resolve_type(schema)):
            # per-row dynamic values sort under the reference's
            # cross-type total order (value/mod.rs:147 — Bool < numbers
            # < String < Array < Object), EXCEPT that a present
            # Value::Null follows the nulls first/last directive along
            # with missing values, exactly like the reference's sort
            # operator (sort.rs arrow nulls; tests.rs sort_nulls_order)
            from miso_spark import dynamic as dyn

            c = dyn.order_by_key(c)
        if s.order == "asc":
            c = c.asc_nulls_first() if s.nulls == "first" else c.asc_nulls_last()
        else:
            c = c.desc_nulls_first() if s.nulls == "first" else c.desc_nulls_last()
        cols.append(c)
    return cols


def _tag_missing_as_null(expr: Column, f, schema) -> Column:
    """Tag a materialized missing-as-null expression (cast/bin over a
    dynamic input — see exprs._missing_as_null) with column metadata so
    later steps, which only see the schema, keep the reference's
    missing semantics for its NULLs (r12 differential find:
    `extend e1 = tostring(toint(x)) | where not(e1 in (...))` treated
    e1's missing as a present null once it became a plain column)."""
    from miso_spark.exprs import MISSING_AS_NULL_MD, _missing_as_null

    if _missing_as_null(f.expr, schema):
        return expr.alias(
            f.name.split(".")[0], metadata={MISSING_AS_NULL_MD: True}
        )
    return expr


def _wire_field_null_missing(arg, schema) -> bool:
    """True when ``arg`` is a plain field of a SCHEMA-ON-READ wire
    frame (sources.external._wire_docs_tagged): its SQL NULL is read
    as an ABSENT document key, so dcount accounting SKIPS it like the
    reference's accumulator and the services' cardinality/dc aggs
    (r13 fuzz find — scoped to aggregation accounting; predicate
    semantics on wire frames keep the documented typed conventions).
    CAVEAT (r13→14 ADVICE, user-documented in README §Dynamic): an
    EXPLICIT ``"k": null`` in a service document also surfaces as SQL
    NULL through ``spark.read.json`` — a corpus property, not an
    invariant; corpora that carry explicit nulls and need the
    reference's present-null bucket should ingest via
    ``miso_spark.dynamic`` (VARIANT keeps the distinction)."""
    from miso_spark.exprs import Field

    if not isinstance(arg, Field) or schema is None:
        return False
    if len(arg.path.segments) != 1:
        return False
    name, idxs = arg.path.segments[0]
    if idxs:
        return False
    try:
        from miso_spark.sources.external import WIRE_NULL_IS_MISSING_MD

        return bool(schema[name].metadata.get(WIRE_NULL_IS_MISSING_MD, False))
    except Exception:
        return False


def _agg_col(name: str, agg: P.Agg, schema=None) -> Column:
    from miso_spark.exprs import _variant_typed

    k = agg.kind
    arg_variant = agg.arg is not None and _variant_typed(agg.arg, schema)
    if k == "count":
        c = F.count(F.lit(1))
    elif k == "countif":
        assert agg.arg is not None
        from miso_spark.exprs import _compile_bool

        c = F.count(F.when(_compile_bool(agg.arg, schema), F.lit(1)))
    elif k == "dcount":
        # null is a distinct value when present (summarize.rs:568 seen
        # includes Null; tests.rs dcount_with_nulls expects 3 for
        # [1,1,null,null,2]) — count_distinct skips nulls, so add one
        # when any null exists
        assert agg.arg is not None
        e = compile_expr(agg.arg, schema)
        if arg_variant:
            # dynamic values distinct by canonical JSON: a present
            # Value::Null serializes as "null" (a distinct non-NULL
            # string, counted — exact reference semantics), while a
            # MISSING value is SQL NULL and is skipped. No add-one
            # conflation needed on this path.
            c = F.count_distinct(F.to_json(e))
        else:
            from miso_spark.exprs import _missing_as_null

            if _missing_as_null(agg.arg, schema) or _wire_field_null_missing(
                agg.arg, schema
            ):
                # NULL here encodes a MISSING dynamic value (cast over
                # a variant input — present nulls cast to 0/""/false —
                # or an absent schema-on-read document key), and
                # missing args skip the accumulator (summarize.rs):
                # no null bucket
                c = F.count_distinct(e)
            else:
                c = F.count_distinct(e) + F.coalesce(
                    F.max(F.when(e.isNull(), F.lit(1)).otherwise(F.lit(0))), F.lit(0)
                )
    elif k == "dcount_approx":
        # 100 TB path: HLL sketch instead of exact two-phase distinct
        assert agg.arg is not None
        e = compile_expr(agg.arg, schema)
        c = F.approx_count_distinct(F.to_json(e) if arg_variant else e)
    elif k == "sum":
        # the reference's accumulator starts at 0 and only adds present
        # values, so a group (or empty global agg) with no values emits
        # 0, never null (summarize.rs:513,654; tests.rs
        # summarize_without_by_empty_data). lit(0) coerces to the
        # sum's own type. Dynamic args sum their numeric payloads
        # (non-numeric rows contribute nothing — the reference instead
        # aborts the query on them, which a vectorized plan can't do
        # per-row).
        assert agg.arg is not None
        e = compile_expr(agg.arg, schema)
        if arg_variant:
            from miso_spark import dynamic as dyn

            e = dyn.as_number(e)
        from miso_spark.exprs import _provably_missing

        if _provably_missing(agg.arg, schema):
            # a provably-missing arg compiles to an UNTYPED null, and
            # Spark types sum(void) as DOUBLE — which would widen the
            # merge of a union-split partial (long 40 + this branch's
            # 0.0 → 40.0) even though the value is untouched. Type it
            # long: sum stays bigint and unions with either numeric
            # sibling without changing its type.
            e = F.lit(None).cast("long")
        c = F.coalesce(F.sum(e), F.lit(0))
    elif k == "avg":
        # avg of no values is 0.0 in the reference (summarize.rs:655)
        assert agg.arg is not None
        e = compile_expr(agg.arg, schema)
        if arg_variant:
            from miso_spark import dynamic as dyn

            e = dyn.as_number(e)
        c = F.coalesce(F.avg(e), F.lit(0.0))
    elif k in ("min", "max"):
        assert agg.arg is not None
        e = compile_expr(agg.arg, schema)
        if arg_variant:
            # min/max under the dynamic total order: pick the row value
            # whose sort key is smallest/largest (min_by/max_by skip
            # rows with a NULL ordering key, i.e. missing values)
            from miso_spark import dynamic as dyn

            key = dyn.sort_key(e)
            c = F.min_by(e, key) if k == "min" else F.max_by(e, key)
        else:
            c = F.min(e) if k == "min" else F.max(e)
    else:
        raise ValueError(f"unknown aggregation {k}")
    return c.alias(name)


class Compiler:
    #: broadcast a connector-backed join side when its provable row
    #: bound (miso_spark/sources/dynamic_filter.py max_rows_bound) is
    #: at or under this
    CONNECTOR_BROADCAST_MAX_ROWS = 100_000
    #: dynamic filtering pushes a producer's observed key values into
    #: the other side's scan only when fewer than this many are distinct
    DYNAMIC_FILTER_MAX_DISTINCT = DEFAULT_MAX_DISTINCT

    def __init__(
        self,
        registry: SourceRegistry,
        null_safe_joins: bool = True,
        dynamic_filter: bool = True,
    ):
        """``null_safe_joins`` (default True) matches the reference:
        null join keys match each other (its hash join hashes
        Value::Null like any value — tests.rs join_with_null_keys).
        Catalyst plans EqualNullSafe as a normal equi-join
        (hash/broadcast), but will NOT build a dynamic-partition-pruning
        subquery for it. When either key's schema field is non-nullable
        the compiler downgrades to plain `=` automatically (identical
        semantics — null<=>null can't occur — and DPP is preserved);
        pipelines whose keys are nullable-typed but known to hold no
        nulls can pass False to force `=` everywhere
        (tests/test_plans.py documents the trade-off)."""
        self.registry = registry
        self.spark = registry.spark
        self.null_safe_joins = null_safe_joins
        #: dynamic filtering (dynamic_filter.rs parity — see
        #: miso_spark/sources/dynamic_filter.py): push one join side's
        #: observed key values into the other side's scan when a bound
        #: proves the producer small
        self.dynamic_filter = dynamic_filter
        #: observability: one record per applied dynamic filter. A
        #: deque(maxlen) is append-safe under the server's concurrent
        #: request threads AND self-trimming — the previous list +
        #: del-slice trim could momentarily drop/misorder events when a
        #: trim raced an append (ADVICE r7)
        from collections import deque

        self.dynamic_filter_events: "deque[dict]" = deque(
            maxlen=self.DYNAMIC_FILTER_EVENTS_CAP
        )
        #: per-thread run context: ThreadingHTTPServer runs each query
        #: on its own thread, so thread-locality keys the prejoined
        #: cache and the persist ledger per in-flight run — one query
        #: can no longer clobber another's producer cache
        import threading

        self._tls = threading.local()

    #: newest dynamic-filter events kept across runs (observability
    #: buffer, not an accounting structure)
    DYNAMIC_FILTER_EVENTS_CAP = 1_000

    class _RunCtx:
        """State scoped to one run(): join sub-plans already computed
        by the scan-time dynamic-filter hook (keyed by id(join_step),
        consumed when _join reaches that step) and every DataFrame/RDD
        the run persisted, so release() can unpersist them — Spark's
        CacheManager holds entries until explicit unpersist, so
        without this a long-running server leaks one cache entry per
        dynamic-filtered query."""

        def __init__(self):
            self.prejoined: dict[int, tuple] = {}  # id(join) → (join, df)
            self.persisted: list = []

        def release(self) -> None:
            for obj in self.persisted:
                try:
                    obj.unpersist(False)
                except Exception:  # noqa: BLE001 - context may be gone
                    pass
            self.persisted.clear()
            self.prejoined.clear()

    def _ctx(self) -> "Compiler._RunCtx":
        ctx = getattr(self._tls, "ctx", None)
        if ctx is None:
            # direct _run/_join calls outside run(): transient context
            ctx = self._tls.ctx = Compiler._RunCtx()
        return ctx

    def run(self, plan: P.Plan) -> DataFrame:
        """Compile and run ``plan``; the returned DataFrame is lazy.

        Caches persisted during THIS run stay alive for the caller's
        action and are unpersisted when this thread's NEXT run starts
        (by then the previous query's action has run, in the
        one-query-at-a-time library usage this path serves). Callers
        that own the query lifecycle — ``MisoSpark.run``, behind the
        HTTP server and the row iterators — use :meth:`run_with_caches`
        and release explicitly. So should any caller still draining
        run N's iterator when it starts run N+1: the deferred release
        would unpersist N's producers mid-drain, and while file-backed
        plans just recompute, a connector-backed producer would
        re-fetch from the live service."""
        prev = getattr(self._tls, "pending", None)
        if prev is not None:
            self._tls.pending = None
            prev.release()
        df, ctx = self.run_with_caches(plan)
        self._tls.pending = ctx
        return df

    def run_with_caches(self, plan: P.Plan) -> tuple[DataFrame, "Compiler._RunCtx"]:
        """Like :meth:`run`, but hands back the run's cache ledger:
        call ``ctx.release()`` once the query's results have been
        consumed (``MisoSpark.run`` does this when its drain ends)."""
        ctx = Compiler._RunCtx()
        self._tls.ctx = ctx
        try:
            df = self._run(plan, {})
        except BaseException:
            ctx.release()
            raise
        finally:
            self._tls.ctx = None
        return df, ctx

    def _run(self, plan: P.Plan, env: dict[str, DataFrame]) -> DataFrame:
        df: Optional[DataFrame] = None
        env = dict(env)
        steps = list(plan.steps)
        # position + source of the scan that produced df (dynamic
        # filter bound walks need the steps between scan and join)
        scan_pos: Optional[int] = None
        scan_src = None
        i = 0
        while i < len(steps):
            step = steps[i]
            if df is None and isinstance(step, (P.Scan, P.ScanRaw)):
                src = self.registry.source(step.connector)
                scan_pos, scan_src = i, src
                if hasattr(src, "handle") and hasattr(src, "search"):
                    # external search connector: negotiate the step
                    # prefix into the service (PushIntoScan parity) and
                    # execute over the wire; the unabsorbed residual
                    # continues engine-side on the returned DataFrame
                    if isinstance(step, P.ScanRaw):
                        self._require_cap(step.connector, CAP_RAW, "raw query")
                    if self.dynamic_filter and isinstance(step, P.Scan):
                        from miso_spark.rewrite import optimize_steps
                        from miso_spark.sources.pushdown import (
                            make_absorb_predicate,
                        )

                        # pre-run the negotiation's plan rewrites so
                        # the step OBJECTS the dynamic filter caches
                        # by identity (prejoined joins) are the ones
                        # that survive into the residual: the result is
                        # a fixpoint, so negotiation's own rewrite pass
                        # returns these steps unchanged
                        steps[i + 1 :] = optimize_steps(
                            tuple(steps[i + 1 :]),
                            can_absorb=make_absorb_predicate(step, src),
                        )
                        # consumer-is-this-scan dynamic filter: a
                        # downstream join's small right side runs
                        # first and its observed keys land here as a
                        # Filter step, which negotiate then pushes
                        # into the wire request (scan.rs:102
                        # apply_dynamic_filter parity)
                        self._scan_side_dynamic_filter(steps, i, src, env)
                    from miso_spark.sources.pushdown import (
                        negotiate_to_fixpoint,
                    )

                    handle, residual = negotiate_to_fixpoint(
                        P.Plan(tuple(steps[i:])), src.handle(step.collection), src
                    )
                    if (
                        isinstance(step, P.ScanRaw)
                        and getattr(handle, "raw_query", None) is None
                    ):
                        # raw_query hook refused (quickwit.rs:1552
                        # parses the native query as JSON)
                        raise ValueError(
                            f"connector {step.connector!r} cannot absorb "
                            f"this raw query (must be valid query-DSL JSON)"
                        )
                    df = src.search(self.spark, step.collection, handle)
                    if hasattr(src, "take_persisted"):
                        # adopt RDDs the connector persisted for a
                        # distributed fetch into this run's ledger, so
                        # release() unpersists them with everything else
                        self._ctx().persisted.extend(src.take_persisted())
                    # static_fields rename on the returned rows, like
                    # the batch path (SourceRegistry.table) — absorbed
                    # steps went out in service names (FieldReplacer),
                    # residual steps see the visible names
                    df = src.rename_static_fields(step.collection, df)
                    # the residual tail may have been REWRITTEN (not
                    # just truncated) — splice it in and continue
                    # engine-side right after the scan position
                    steps[i + 1 :] = list(residual.steps[1:])
                    i += 1
                    continue
            if isinstance(step, P.JoinStep):
                left_steps = (
                    tuple(steps[scan_pos + 1 : i]) if scan_pos is not None else ()
                )
                left_scan = (
                    (steps[scan_pos], scan_src)
                    if scan_pos is not None and isinstance(steps[scan_pos], P.Scan)
                    else None
                )
                df = self._join(df, step, env, left_steps, left_scan)
                i += 1
                continue
            df = self._apply(step, df, env)
            i += 1
        if df is None:
            raise ValueError("plan produced no DataFrame (missing scan?)")
        return df

    def _apply(self, step: P.Step, df: Optional[DataFrame], env: dict[str, DataFrame]) -> Optional[DataFrame]:
        if isinstance(step, P.Let):
            env[step.name] = self._run(step.sub, env)
            return df

        if isinstance(step, P.Scan):
            return self.registry.table(step.connector, step.collection)
        if isinstance(step, P.ScanVar):
            if step.name not in env:
                raise KeyError(f"unbound let variable {step.name!r}")
            # a fresh-attribute-id copy per use, so a variable can be
            # used twice in one query (`a | join (a) on k`)
            bound = env[step.name]
            return bound.toDF(*bound.columns)
        if isinstance(step, P.ScanRaw):
            # the raw query targets the scanned collection: expose it as
            # a view first (connector-native-query parity — the raw
            # string goes "to the connector" for this collection).
            # Capability negotiation mirrors Connector::raw_query being
            # optional (lib.rs: only quickwit implements it).
            self._require_cap(step.connector, CAP_RAW, "raw query")
            self.registry.table(step.connector, step.collection).createOrReplaceTempView(
                step.collection
            )
            return self.spark.sql(step.query)

        assert df is not None, f"{type(step).__name__} requires an input"

        if isinstance(step, P.Filter):
            from miso_spark.exprs import _compile_bool

            # boolean context: a bare dynamic field as the predicate
            # converts through Value::to_bool (missing -> unknown)
            return df.filter(_compile_bool(step.expr, df.schema))
        if isinstance(step, P.Project):
            return self._project(df, step.fields)
        if isinstance(step, P.Extend):
            return self._extend(df, step.fields)
        if isinstance(step, P.Rename):
            return df.withColumnsRenamed(dict(step.pairs))
        if isinstance(step, P.Expand):
            return self._expand(df, step)
        if isinstance(step, P.Limit):
            return df.limit(step.n)
        if isinstance(step, P.SortStep):
            return df.orderBy(*_sort_cols(step.sorts, df.schema))
        if isinstance(step, P.Top):
            # sort+limit → Catalyst plans TakeOrderedAndProject (the
            # reference's topn.rs heap, distributed)
            return df.orderBy(*_sort_cols(step.sorts, df.schema)).limit(step.n)
        if isinstance(step, P.SummarizeStep):
            from miso_spark.exprs import MISSING_AS_NULL_MD as _MD
            from miso_spark.exprs import _variant_typed

            aggs = [
                # a union-split PARTIAL's min/max output is the
                # reference's MinMax STATE: its NULL means "no value
                # arrived" (summarize.rs:493 Option<Value> None), so it
                # must read as MISSING downstream — the union lift
                # keeps it SQL-null and the merge skips it, like the
                # reference's state merge (r13 soak find)
                _agg_col(name, agg, df.schema).alias(
                    name, metadata={_MD: True}
                )
                if step.partial and agg.kind in ("min", "max")
                else _agg_col(name, agg, df.schema)
                for name, agg in step.aggs
            ]
            by_cols, variant_keys = [], []
            for b in step.by:
                c = compile_expr(b.expr, df.schema)
                # the reference drops rows whose group key evaluates to
                # null BEFORE grouping — per key (summarize.rs:151 `if
                # value == Value::Null { return None; }`; tests.rs
                # summarize_group_by_with_null_key/_missing_field)
                if _variant_typed(b.expr, df.schema):
                    # dynamic key: both a MISSING value (SQL NULL) and a
                    # present Value::Null drop; grouping runs on the
                    # canonical JSON (variant itself isn't a grouping
                    # type), re-parsed to variant in the output.
                    # keep_null_keys (union-split dcount partials):
                    # MISSING stays a SQL-null group, present
                    # Value::Null a distinct "null"-JSON group — both
                    # round-trip through to_json/parse_json below.
                    if not step.keep_null_keys:
                        df = df.filter(c.isNotNull() & ~F.is_variant_null(c))
                    by_cols.append(F.to_json(c))
                    variant_keys.append(b.name)
                else:
                    if not step.keep_null_keys:
                        df = df.filter(c.isNotNull())
                    by_cols.append(c)
            from miso_spark.exprs import MISSING_AS_NULL_MD, _missing_as_null

            by = [
                # missing-as-null keys (cast/bin over dynamic inputs)
                # keep their semantics on the OUTPUT column: a
                # keep_null_keys union-split partial preserves the null
                # group for sibling aggregates, and the merge's dcount
                # over this key must SKIP it (the unsplit plan does)
                # rather than re-counting it as a present-null bucket
                c.alias(b.name, metadata={MISSING_AS_NULL_MD: True})
                if (
                    _missing_as_null(b.expr, df.schema)
                    # wire frames: a preserved null group key in a
                    # keep_null_keys dcount partial is an ABSENT
                    # document key — the merge must skip it like the
                    # unsplit wire-aware dcount does
                    or _wire_field_null_missing(b.expr, df.schema)
                )
                else c.alias(b.name)
                for c, b in zip(by_cols, step.by)
            ]
            if not aggs:
                # reference grammar admits zero aggregations
                # (miso-kql/src/parser.rs:1033): `summarize by x, y` is
                # distinct over the group keys
                if not by:
                    raise ValueError("summarize requires aggregations or a by clause")
                out = df.select(*by).distinct()
            elif by:
                out = df.groupBy(*by).agg(*aggs)
            else:
                out = df.agg(*aggs)
            for n in variant_keys:
                out = out.withColumn(n, F.parse_json(F.col(f"`{n}`")))
            return out
        if isinstance(step, P.Distinct):
            if step.fields:
                # fielded Distinct (direct plan construction only — the
                # frontends lower it) shares the summarize-by lowering
                # so null group keys drop on every path
                return self._apply(
                    P.distinct_to_summarize(step.fields), df, env
                )
            return self._distinct_variant_safe(df)
        if isinstance(step, P.Union):
            other = self._run(step.sub, env)
            return union_harmonized(df, other)
        if isinstance(step, P.JoinStep):
            return self._join(df, step, env)
        if isinstance(step, P.CountStep):
            return df.agg(F.count(F.lit(1)).alias(COUNT_FIELD_NAME))
        if isinstance(step, (P.Tee, P.Write)):
            # create_sink negotiation (lib.rs:create_sink returns None
            # on read-only connectors)
            self._require_cap(step.connector, CAP_WRITE, "write/tee")
            self.registry.source(step.connector).write(df, step.collection)
            return df

        raise TypeError(f"unknown step {type(step).__name__}")

    @staticmethod
    def _distinct_variant_safe(df: DataFrame) -> DataFrame:
        """``distinct`` over a frame that may hold VARIANT columns
        (dynamic ingest): variant isn't a set-operation type in Spark,
        so such columns round-trip through canonical JSON for the
        distinct and re-parse after — a present Value::Null ("null")
        stays distinct from a MISSING value (SQL NULL), the
        reference's dynamic identity."""
        vcols = [
            f.name for f in df.schema.fields if FieldPath._is_variant(f.dataType)
        ]
        if not vcols:
            return df.distinct()
        for n in vcols:
            df = df.withColumn(n, F.to_json(F.col(f"`{n}`")))
        df = df.distinct()
        for n in vcols:
            df = df.withColumn(n, F.parse_json(F.col(f"`{n}`")))
        return df

    def _require_cap(self, connector: str, cap: str, what: str) -> None:
        src = self.registry.source(connector)
        if cap not in src.capabilities:
            raise ValueError(
                f"connector {connector!r} ({type(src).__name__}) does not "
                f"support {what}; declared capabilities: "
                f"{sorted(src.capabilities)}"
            )

    def _expand(self, df: DataFrame, step: P.Expand) -> DataFrame:
        """mv-expand with the reference's semantics (expand.rs):

        - multiple fields ZIP element-wise, shorter ones padded with
          null (not a cross product);
        - a row whose expandable collections are all empty is DROPPED;
        - rows where every named field is missing/scalar pass through;
        - objects expand per PRESENT key: maps to single-entry maps,
          structs (typed-JSON objects) to single-key objects — under
          kind=bag; kind=array flattens to [k1, v1, k2, v2, ...]
          (string elements for uniformly-typed maps, VARIANT elements
          for structs so values stay typed);
        - nested field paths (``a.b``) expand in place, like the
          reference's insert_field_value at the original path.
        """
        exp: dict[str, tuple[FieldPath, Column, bool]] = {}
        for name in step.fields:
            fp = FieldPath.parse(name)
            dtype = fp.resolve_type(df.schema)
            col = fp.to_column(df.schema)
            if FieldPath._is_variant(dtype):
                # per-row dynamic (VARIANT) column: arrays expand
                # element-wise, objects per key — decided PER ROW, the
                # reference's dynamic expand (expand.rs). Scalars and
                # missing values leave both payload casts NULL, so the
                # row passes through; an empty array/object yields an
                # empty collection, dropping the row.
                from miso_spark import dynamic as dyn

                if any(idxs for _, idxs in fp.segments):
                    raise ValueError(
                        f"mv-expand: cannot write back through array index in {fp}"
                    )
                entries = F.map_entries(dyn.as_object_map(col))
                if step.kind == "array":
                    obj_arr = F.flatten(
                        F.transform(
                            entries,
                            lambda kv: F.array(
                                dyn.wrap_variant(kv.getField("key")),
                                kv.getField("value"),
                            ),
                        )
                    )
                else:
                    # single-entry objects, values staying dynamic
                    obj_arr = F.transform(
                        entries,
                        lambda kv: F.parse_json(
                            F.to_json(
                                F.map_from_arrays(
                                    F.array(kv.getField("key")),
                                    F.array(kv.getField("value")),
                                )
                            )
                        ),
                    )
                # scalar/missing rows leave arr NULL: they don't
                # join the zip (size -1) and the write-back re-emits
                # the original value on EVERY emitted row, exactly the
                # reference's scalar re-insertion (expand.rs
                # log_to_output_iter Some(other) arm) — the typed path
                # can skip scalar COLUMNS; here scalar-ness is per row
                exp[name] = (fp, F.coalesce(dyn.as_array(col), obj_arr), True)
            elif isinstance(dtype, ArrayType):
                exp[name] = (fp, col, False)
            elif isinstance(dtype, MapType):
                entries = F.map_entries(col)
                if step.kind == "array":
                    arr = F.flatten(
                        F.transform(
                            entries,
                            lambda e: F.array(e.getField("key"), e.getField("value").cast("string")),
                        )
                    )
                else:
                    arr = F.transform(
                        entries,
                        lambda e: F.map_from_arrays(
                            F.array(e.getField("key")), F.array(e.getField("value"))
                        ),
                    )
                exp[name] = (fp, arr, False)
            elif isinstance(dtype, StructType) and dtype.fields:
                # JSON objects land as structs on the typed read path;
                # they expand like the reference's objects (expand.rs):
                # one row per PRESENT key. kind=bag keeps a single-key
                # object (a full-schema struct with the other fields
                # null — JSON output omits them, rendering exactly the
                # reference's single-entry object); kind=array flattens
                # to alternating key/value elements. A null struct
                # (absent object) passes the row through; a present
                # object with no present keys drops it.
                from functools import reduce

                names = [f.name for f in dtype.fields]
                if step.kind == "array":
                    # keys and values alternate; struct fields are
                    # heterogeneously typed, so elements are VARIANTs —
                    # values stay typed in the output (30 stays a
                    # number), like the reference's dynamic values. A
                    # map's values share one type, so the map branch
                    # above keeps plain strings (friendlier collect()).
                    from miso_spark.dynamic import wrap_variant

                    pairs = F.array_compact(F.array(*[
                        F.when(
                            col.getField(n).isNotNull(),
                            F.array(
                                wrap_variant(F.lit(n)),
                                wrap_variant(col.getField(n)),
                            ),
                        )
                        for n in names
                    ]))
                    arr = F.flatten(pairs)
                else:
                    singles = F.array(*[
                        F.struct(*[
                            (
                                col.getField(g)
                                if g == n
                                else F.lit(None).cast(dtype[g].dataType)
                            ).alias(g)
                            for g in names
                        ])
                        for n in names
                    ])
                    arr = F.filter(
                        singles,
                        lambda s: reduce(
                            lambda a, b: a | b,
                            [s.getField(g).isNotNull() for g in names],
                        ),
                    )
                exp[name] = (
                    fp, F.when(col.isNull(), F.lit(None)).otherwise(arr), False
                )
            # scalar/missing fields: pass through untouched

        if not exp:
            return df

        # m: longest present collection (-1 when all are null/missing)
        sizes = [F.coalesce(F.size(c), F.lit(-1)) for _, c, _ in exp.values()]
        m = F.greatest(*sizes) if len(sizes) > 1 else sizes[0]
        # rows to emit: 1 for all-missing (passthrough), m otherwise —
        # filter (not sequence stop) handles m==0 because Spark's
        # sequence(0, -1) counts DOWN instead of returning empty
        n_rows = F.when(m <= -1, F.lit(1)).otherwise(m)
        idx_list = F.filter(
            F.sequence(F.lit(0), F.greatest(m - 1, F.lit(0))),
            lambda i: i < n_rows,
        )
        df = df.withColumn("__mv_idx", F.explode(idx_list))
        for _, (fp, arr, varp) in exp.items():
            val = F.get(arr, F.col("__mv_idx"))
            if varp:
                # dynamic semantics (expand.rs): a SHORTER collection
                # pads its tail positions with a present Value::Null —
                # not a missing key — and scalar/missing rows (arr
                # NULL) re-emit the original value on every row
                from miso_spark import dynamic as dyn

                val = F.when(
                    F.col("__mv_idx") < F.size(arr), F.get(arr, F.col("__mv_idx"))
                ).otherwise(F.parse_json(F.lit("null")))
                if fp.is_simple():
                    root = fp.segments[0][0]
                    df = df.withColumn(
                        root,
                        F.when(arr.isNull(), F.col(f"`{root}`")).otherwise(val),
                    )
                else:
                    # nested path under a dynamic root: rebuild the
                    # variant with the leaf replaced (insert_field_value)
                    root = fp.segments[0][0]
                    segs = [n for n, _ in fp.segments[1:]]
                    df = df.withColumn(
                        root,
                        F.when(arr.isNull(), F.col(f"`{root}`")).otherwise(
                            dyn.set_variant_path(F.col(f"`{root}`"), segs, val)
                        ),
                    )
            else:
                df = self._set_field(df, fp, val)
        return df.drop("__mv_idx")

    @staticmethod
    def _set_field(df: DataFrame, fp: FieldPath, value: Column) -> DataFrame:
        """Write ``value`` back at a (possibly nested) field path —
        expand.rs insert_field_value parity."""
        root = fp.segments[0][0]
        if fp.is_simple():
            return df.withColumn(root, value)
        if any(idxs for _, idxs in fp.segments):
            raise ValueError(
                f"mv-expand: cannot write back through array index in {fp}"
            )
        col = F.col(f"`{root}`")
        nested = [name for name, _ in fp.segments[1:]]
        # build withField from the innermost segment outward
        def rebuild(base: Column, names: list[str]) -> Column:
            if len(names) == 1:
                return base.withField(names[0], value)
            return base.withField(
                names[0], rebuild(base.getField(names[0]), names[1:])
            )
        return df.withColumn(root, rebuild(col, nested))

    @staticmethod
    def _fresh_nested(path: list[str], val: Column) -> Column:
        """Structs down ``path`` holding ``val`` at the leaf —
        interpreter insert_field_value creating a nested path."""
        out = val
        for seg in reversed(path):
            out = F.struct(out.alias(seg))
        return out

    def _project(self, df: DataFrame, fields) -> DataFrame:
        """Project with (possibly nested) target names. A dotted target
        (``project outer.inner = x``) builds a struct column; several
        targets under one top-level name merge into the same struct
        (interpreter insert_field_value semantics on a fresh log)."""
        cols: dict[str, Column] = {}
        for f in fields:
            expr = compile_expr(f.expr, df.schema)
            if "." not in f.name:
                cols[f.name] = _tag_missing_as_null(expr, f, df.schema)
                continue
            top, *rest = f.name.split(".")
            if top in cols:
                cols[top] = cols[top].withField(".".join(rest), expr)
            else:
                cols[top] = self._fresh_nested(rest, expr)
        return df.select(*[c.alias(n) for n, c in cols.items()])

    def _extend(self, df: DataFrame, fields) -> DataFrame:
        """Extend with SIMULTANEOUS input-row binding: every field
        expression evaluates against the step's INPUT row, then all
        writes land atomically — the reference's ProjectIter.eval
        builds a LogInterpreter over the original log and writes into a
        fresh output merged at the end (project.rs:42-67), so in
        ``extend a = b*2, c = a`` the ``c`` reads the INPUT ``a``, not
        the new one. project_propagation's ExprSubstitute assumes this
        binding when it inlines extend definitions into later steps
        (rewrite.py), so the engine must match or negotiated plans
        would return different rows than engine-side execution.

        Nested targets add/overwrite a field inside an EXISTING struct
        column (Column.withField) or create the struct path when the
        top-level column is absent or not a struct — insert_field_value
        parity (interpreter/mod.rs:514; a non-object base is replaced
        by a fresh object). Writes into the output apply in field
        order (insert_field_value is sequential on the OUTPUT log), so
        two targets under one top-level name merge."""
        from pyspark.sql.types import StructType

        out_cols: dict[str, Column] = {}
        for f in fields:
            # compiled against the INPUT schema: the Column expression
            # references input column names, and the single
            # withColumns() below resolves every one against `df`
            expr = compile_expr(f.expr, df.schema)
            if "." not in f.name:
                out_cols[f.name] = _tag_missing_as_null(expr, f, df.schema)
                continue
            top, *rest = f.name.split(".")
            if top in out_cols:
                # earlier target this extend wrote `top` — merge into
                # that pending value (output-log sequential writes)
                out_cols[top] = out_cols[top].withField(".".join(rest), expr)
            elif top in df.columns and isinstance(
                df.schema[top].dataType, StructType
            ):
                out_cols[top] = F.col(f"`{top}`").withField(".".join(rest), expr)
            else:
                out_cols[top] = self._fresh_nested(rest, expr)
        return df.withColumns(out_cols) if out_cols else df

    # ---- dynamic filtering (dynamic_filter.rs parity) ----------------

    @staticmethod
    def _is_search_source(src) -> bool:
        return hasattr(src, "handle") and hasattr(src, "search")

    def _stats_get(self, scan_info):
        """field → connector distinct_count closure for a (Scan, Source)
        pair; everything is advisory (None on any miss)."""
        if scan_info is None:
            return lambda f: None
        scan, src = scan_info
        return lambda f: (
            None
            if f is None
            else getattr(
                src.field_stats(scan.collection, f), "distinct_count", None
            )
        )

    def _collect_join_keys(self, df: DataFrame, field: str) -> Optional[list]:
        """The producer side's observed key values (DynamicFilterTx
        values, join.rs:310) — bounded at max_distinct + 1 so an
        underestimated bound degrades to no-filter, never to an
        unbounded driver collect."""
        cap = self.DYNAMIC_FILTER_MAX_DISTINCT
        rows = (
            df.select(FieldPath.parse(field).to_column().alias("__key"))
            .distinct()
            .limit(cap + 1)
            .collect()
        )
        if len(rows) > cap:
            return None
        return [r[0] for r in rows]

    def _dynamic_filter_expr(self, field: str, keys: list):
        """``field IN (keys...)``, with null keys routed through a
        missing-field disjunct: the engine's join matches null keys to
        each other (join.rs hashes Value::Null like any value), and SQL
        ``IN`` would silently drop them."""
        from miso_spark.exprs import BinOp, Exists, Field, Not
        from miso_spark.sources.dynamic_filter import build_in_filter

        non_null = [k for k in keys if k is not None]
        expr = build_in_filter(field, non_null)
        if len(non_null) < len(keys):
            expr = BinOp("or", expr, Not(Exists(Field.of(field))))
        return expr

    def _scan_side_dynamic_filter(self, steps: list, i: int, src, env) -> None:
        """Consumer = the connector scan at ``steps[i]``; producer = the
        right side of the nearest downstream join. When the producer's
        key bound proves it small, run it now (memoized for _join),
        observe its keys, and splice the terms filter in right after
        the scan so negotiate() ships it in the wire request."""
        from miso_spark.sources.dynamic_filter import (
            consumer_steps_commute,
            decide,
            max_distinct_count,
            resolve_field_to_scan,
        )

        scan = steps[i]
        j = next(
            (k for k in range(i + 1, len(steps)) if isinstance(steps[k], P.JoinStep)),
            None,
        )
        if j is None or not consumer_steps_commute(steps[i + 1 : j]):
            return
        join = steps[j]
        sub = join.sub
        if not sub.steps or not isinstance(sub.steps[0], P.Scan):
            return
        try:
            rsrc = self.registry.source(sub.steps[0].connector)
        except KeyError:
            return
        lb = max_distinct_count(
            join.left_on, steps[i + 1 : j], self._stats_get((scan, src))
        )
        rb = max_distinct_count(
            join.right_on, sub.steps[1:], self._stats_get((sub.steps[0], rsrc))
        )
        d = decide(join.how, lb, rb, self.DYNAMIC_FILTER_MAX_DISTINCT)
        if d is None or d[0] or d[1]:
            # producer-left runs through _join's hook; negated plans
            # are never executed (dynamic_filter.py divergence 1)
            return
        scan_field = resolve_field_to_scan(join.left_on, steps[i + 1 : j])
        if scan_field is None:
            return
        ctx = self._ctx()
        right = self._run(sub, env).persist()
        ctx.persisted.append(right)
        # the value keeps a reference to the JoinStep itself: the cache
        # is keyed by id(), and a collected step object would free its
        # id for reuse by a later-allocated JoinStep in the same run
        ctx.prejoined[id(join)] = (join, right)
        keys = self._collect_join_keys(right, join.right_on)
        if keys is None:
            return
        steps.insert(i + 1, P.Filter(self._dynamic_filter_expr(scan_field, keys)))
        self.dynamic_filter_events.append(
            {"producer": "right", "consumer": f"{scan.connector}.{scan.collection}",
             "field": scan_field, "keys": len(keys)}
        )

    def _join_side_dynamic_filter(
        self, left: DataFrame, step: P.JoinStep, env, left_steps, left_scan
    ) -> Optional[DataFrame]:
        """Consumer = the join's right-side connector scan; producer =
        the already-computed left (engine) side. Returns the filtered
        right DataFrame, or None when no dynamic filter applies."""
        from miso_spark.sources.dynamic_filter import (
            consumer_steps_commute,
            decide,
            max_distinct_count,
            resolve_field_to_scan,
        )

        sub = step.sub
        if not sub.steps or not isinstance(sub.steps[0], P.Scan):
            return None
        try:
            rsrc = self.registry.source(sub.steps[0].connector)
        except KeyError:
            return None
        if not self._is_search_source(rsrc):
            # file-backed right sides get runtime filtering from
            # Catalyst (DPP / runtime bloom filters) — don't double up
            return None
        if not consumer_steps_commute(sub.steps[1:]):
            return None
        lb = max_distinct_count(step.left_on, left_steps, self._stats_get(left_scan))
        rb = max_distinct_count(
            step.right_on, sub.steps[1:], self._stats_get((sub.steps[0], rsrc))
        )
        d = decide(step.how, lb, rb, self.DYNAMIC_FILTER_MAX_DISTINCT)
        if d is None or not d[0] or d[1]:
            return None
        scan_field = resolve_field_to_scan(step.right_on, sub.steps[1:])
        if scan_field is None:
            return None
        from miso_spark.sources.dynamic_filter import max_rows_bound

        rows_bound = max_rows_bound(left_steps, self._stats_get(left_scan))
        if rows_bound is not None and rows_bound <= self.CONNECTOR_BROADCAST_MAX_ROWS:
            # key collection is an extra pass over the producer; when
            # its ROW count is provably small, cache it so the join
            # reuses the materialization instead of recomputing
            left.persist()
            self._ctx().persisted.append(left)
        keys = self._collect_join_keys(left, step.left_on)
        if keys is None:
            return None
        new_sub = P.Plan(
            (sub.steps[0], P.Filter(self._dynamic_filter_expr(scan_field, keys)))
            + tuple(sub.steps[1:])
        )
        self.dynamic_filter_events.append(
            {"producer": "left",
             "consumer": f"{sub.steps[0].connector}.{sub.steps[0].collection}",
             "field": scan_field, "keys": len(keys)}
        )
        return self._run(new_sub, env)

    def _join(
        self,
        left: DataFrame,
        step: P.JoinStep,
        env: dict[str, DataFrame],
        left_steps: tuple = (),
        left_scan=None,
    ) -> DataFrame:
        assert left is not None, "join requires an input"
        prejoined = self._ctx().prejoined.pop(id(step), None)
        right = prejoined[1] if prejoined is not None else None
        right_rows_bound = None
        sub0 = step.sub.steps[0] if step.sub.steps else None
        if isinstance(sub0, P.Scan):
            try:
                rsrc = self.registry.source(sub0.connector)
            except KeyError:
                rsrc = None
            if rsrc is not None and self._is_search_source(rsrc):
                from miso_spark.sources.dynamic_filter import max_rows_bound

                if right is None and self.dynamic_filter:
                    right = self._join_side_dynamic_filter(
                        left, step, env, left_steps, left_scan
                    )
                # stats-driven broadcast choice for the connector side
                # (lib.rs:295-301: the engine uses connector stats to
                # plan joins ahead of time)
                right_rows_bound = max_rows_bound(
                    step.sub.steps[1:], self._stats_get((sub0, rsrc))
                )
        if right is None:
            right = self._run(step.sub, env)

        # a side can lack the join key entirely (an empty dynamic
        # collection, or rows that never carry it — tests.rs
        # join_empty_right_side): materialize the key as a null column
        # and downgrade that join to PLAIN equality, so it matches
        # nothing (the reference skips missing-key rows when building
        # its hash table; null-safe eq here would wrongly match the
        # other side's null keys)
        synth_key = False
        if step.right_on not in right.columns and "." not in step.right_on:
            right = right.withColumn(step.right_on, F.lit(None))
            synth_key = True
        if step.left_on not in left.columns and "." not in step.left_on:
            left = left.withColumn(step.left_on, F.lit(None))
            synth_key = True

        # KQL-style collision handling (join.rs:57): right-side columns
        # that collide with left-side names get numeric suffixes (x →
        # x1, or x2 if x1 is taken; x1 → x11). The merged join key is
        # exempt when both sides name it identically.
        merged_key = step.left_on == step.right_on
        right_on = step.right_on
        left_cols = set(left.columns)
        taken = left_cols | set(right.columns)
        renames: dict[str, str] = {}
        for c in right.columns:
            if merged_key and c == step.right_on:
                continue
            if c in left_cols:
                n = 1
                while f"{c}{n}" in taken:
                    n += 1
                renames[c] = f"{c}{n}"
                taken.add(f"{c}{n}")
        if renames:
            right = right.withColumnsRenamed(renames)
            right_on = renames.get(right_on, right_on)

        # left/right/outer joins null-fill the non-preserved side's
        # columns; when the PRESERVED side is a dynamic-model frame
        # (carries VARIANT columns), the reference emits its unmatched
        # rows with those keys MISSING — so typed columns of a
        # fillable side lift to variant, making the fill a null
        # variant (missing: predicates poison, dcount skips) instead
        # of a present null the total order would KEEP (r12
        # differential find, the join sibling of the union null-fill
        # fix). Join KEYS stay unlifted — their matching semantics
        # (null-safe vs canonical-JSON) are decided below, and lifting
        # one would change which rows match.
        def _lift_filled(df: DataFrame, key: str) -> DataFrame:
            # _lift_to_variant keeps MATCHED-row typed NULLs as present
            # VOID variants; only the join's own null-fill (post-join
            # SQL NULL) reads as missing
            for c in df.columns:
                if c != key and not FieldPath._is_variant(df.schema[c].dataType):
                    df = _lift_to_variant(df, c)
            return df

        def _is_dyn(df: DataFrame) -> bool:
            return any(FieldPath._is_variant(f.dataType) for f in df.schema.fields)

        # snapshot BOTH sides' dynamic-model state BEFORE either lift —
        # the first lift adds variant columns to the fillable side, so
        # testing after it would misread a fully-typed side as dynamic
        # and lift the other side too (full outer, dynamic left + typed
        # right: ADVICE r12→13; union_harmonized snapshots for the same
        # reason)
        l_dyn_join, r_dyn_join = _is_dyn(left), _is_dyn(right)
        if step.how in ("left", "outer") and l_dyn_join:
            right = _lift_filled(right, right_on)
        if step.how in ("right", "outer") and r_dyn_join:
            left = _lift_filled(left, step.left_on)

        if step.partitions > 1:
            # hint.partitions=N (join.rs:720: N-way partitioned hash
            # join): shuffle both sides into N hash partitions on the
            # join key. The explicit hint also opts out of broadcast —
            # the user asked for a partitioned join.
            left = left.repartition(step.partitions, FieldPath.parse(step.left_on).to_column())
            right = right.repartition(step.partitions, F.col(f"`{right_on}`")).hint(
                "shuffle_hash"  # build a hash table per partition, not a broadcast
            )
        elif step.broadcast:
            right = F.broadcast(right)
        elif (
            right_rows_bound is not None
            and right_rows_bound <= self.CONNECTOR_BROADCAST_MAX_ROWS
        ):
            # connector-side rows are provably few (absorbed limit /
            # count / summarize over low-cardinality keys per stats):
            # broadcast instead of shuffling the engine side. The
            # driver-fetched DataFrame has no Catalyst size estimate,
            # so AQE can't make this call on its own.
            right = F.broadcast(right)
        how = {"inner": "inner", "left": "left", "right": "right", "outer": "full_outer"}[step.how]
        # null join keys MATCH each other in the reference (its hash
        # join hashes Value::Null like any value — tests.rs
        # join_with_null_keys) → null-safe equality by default.
        # EqualNullSafe still plans as an equi-join (hash/broadcast)
        # but forfeits dynamic partition pruning, so auto-downgrade to
        # plain `=` when either key is provably non-nullable: <=> and
        # = differ only on the null<=>null pair, which can't occur
        # then. `null_safe_joins=False` (__init__) remains the manual
        # opt-out for nullable-schema keys known to hold no nulls.
        def nullable(df: DataFrame, name: str) -> bool:
            # nested / computed paths: conservatively nullable
            return df.schema[name].nullable if name in df.columns else True

        def is_variant_key(df: DataFrame, name: str) -> bool:
            return name in df.columns and FieldPath._is_variant(
                df.schema[name].dataType
            )

        lkey_variant = is_variant_key(left, step.left_on)
        rkey_variant = is_variant_key(right, right_on)

        def key_eq(lc: Column, rc: Column, can_null: bool) -> Column:
            if lkey_variant or rkey_variant:
                # dynamic (VARIANT) keys join on canonical JSON under
                # PLAIN equality — the reference's hash table exactly:
                # a MISSING key (SQL NULL json) matches nothing, while
                # a present Value::Null ("null") matches its
                # counterpart, and 5/5.0 canonicalize to the same key.
                # A typed opposite side canonicalizes through the same
                # variant machinery so numeric forms agree.
                from miso_spark import dynamic as dyn

                lj = F.to_json(lc if lkey_variant else dyn.wrap_variant(lc))
                rj = F.to_json(rc if rkey_variant else dyn.wrap_variant(rc))
                return lj == rj
            return lc.eqNullSafe(rc) if self.null_safe_joins and can_null else lc == rc

        if merged_key:
            cond = key_eq(
                left[step.left_on],
                right[right_on],
                not synth_key
                and nullable(left, step.left_on)
                and nullable(right, right_on),
            )
            joined = left.join(right, on=cond, how=how)
            # merge the key pair into one column like a USING join;
            # mixed variant/typed key pairs coalesce in variant space
            # (a typed key's genuine NULL can't reach here — null-safe
            # matching already paired it — so plain wrap_variant is
            # fine for the key merge)
            lk, rk = left[step.left_on], right[right_on]
            if lkey_variant != rkey_variant:
                from miso_spark import dynamic as dyn

                lk = lk if lkey_variant else dyn.wrap_variant(lk)
                rk = rk if rkey_variant else dyn.wrap_variant(rk)
            return joined.select(
                F.coalesce(lk, rk).alias(step.left_on),
                *[left[c] for c in left.columns if c != step.left_on],
                *[right[c] for c in right.columns if c != right_on],
            )
        lcol = str(FieldPath.parse(step.left_on))
        return left.join(
            right,
            on=key_eq(
                left[lcol],
                right[right_on],
                not synth_key
                and nullable(left, lcol)
                and nullable(right, right_on),
            ),
            how=how,
        )
