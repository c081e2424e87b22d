"""Pushdown handle for the external search connectors (Quickwit / ES).

Behavioral parity with the reference's connector handles:
``QuickwitHandle`` (miso-connectors/src/quickwit.rs:84-172) and
``ElasticsearchHandle`` (elasticsearch.rs) — an immutable accumulator
of absorbed query steps. Each ``apply_*`` method mirrors the guard
conditions of the reference's same-named ``Connector`` hook
(quickwit.rs:1268-1552, elasticsearch.rs:1264-1487) and returns a new
handle, or ``None`` when the step must stay engine-side (the exact
``Option<Box<dyn QueryHandle>>`` contract). ``build_search_body``
assembles the request JSON the way quickwit.rs ``query()`` does
(:1174-1210): bool/must for stacked filters, ``sort`` for top-n,
``size: 0`` + ``aggs`` for summarize, ``size`` for limit.

Everything here is pure and unit-tested with no live service
(tests/test_pushdown.py asserts the emitted JSON equals the reference
shapes); the wire layer (external.py) ships the body to ``/_search``.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field, replace

from miso_spark import plan as P
from miso_spark.exprs import Bin, Duration, Exists, Expr, Field, Lit

#: quickwit.rs:46 — nested bucket names summarize_0, summarize_1, ...
AGGREGATION_RESULTS_NAME = "summarize"
#: quickwit.rs:51 — placeholder agg so a count-only summarize still
#: returns doc_count buckets; stripped from decoded rows
ONLY_COUNT_AGG_FIELD_NAME = "_remove_me"
#: quickwit.rs:55 — terms-bucket size
MAX_NUM_GROUPS = 65000

#: Aggregation kind → ES/Quickwit metric aggregation name
#: (quickwit.rs:1395-1415: min/max/sum/avg verbatim, dcount →
#: cardinality, countif(exists(f)) → value_count)
_AGG_OPS = {"min": "min", "max": "max", "sum": "sum", "avg": "avg"}


def _plain_field(e: Expr) -> str | None:
    """Pushable field: plain (possibly nested) path, no array access."""
    if not isinstance(e, Field):
        return None
    if any(idxs for _, idxs in e.path.segments):
        return None
    return str(e.path)


@dataclass(frozen=True)
class PushHandle:
    """One connector-bound query being pushed down, step by step."""

    flavor: str = "quickwit"  # "quickwit" | "elasticsearch"
    timestamp_field: str | None = None
    queries: tuple = ()  # stacked filter DSL dicts → bool/must
    source_includes: tuple = ()
    sorts: tuple | None = None  # JSON sort array (top-n)
    aggs: dict | None = None  # {"aggs": {...}} wrapper, like the handle
    group_by: tuple = ()
    count_fields: tuple = ()
    agg_timestamp_fields: frozenset = frozenset()
    #: group-key OUTPUT names whose bucket keys are epoch millis
    #: needing datetime restore at decode (a terms bucket on the
    #: timestamp field, or any date_histogram — quickwit.rs:905
    #: group_by_value_to_datetime keyed by the by-EXPRESSION's field,
    #: not the output name: `by k = bin(@time, 1d)` must convert `k`)
    group_ts_keys: frozenset = frozenset()
    #: sum/avg outputs whose EMPTY-input identity the decode must
    #: restore (summarize.rs:513,655: sum of no values is 0, avg is
    #: 0.0 — wire metrics come back null/omitted there)
    sum_zero_fields: tuple = ()
    avg_zero_fields: tuple = ()
    limit: int | None = None
    count: bool = False
    collections: tuple = ()  # extra union indexes
    raw_query: dict | None = None

    # ---- apply_* hooks (return None = engine keeps the step) ---------

    def union_shaping(self) -> frozenset:
        """Result-shaping absorbed into this handle ("summarize" /
        "count" / "topn" / "limit"). A union may merge two such
        handles into ONE multi-index search only when every kind here
        was optimizer-pushed past that union (Union.pushed) — i.e. an
        engine-side merge copy re-aggregates/re-caps the combined
        stream. User-written per-branch shaping has no merge copy:
        one merged request collapses the union-all's per-branch rows
        (r11 review find: `a | summarize n=count() | union (b |
        summarize n=count())` returned 1 row instead of 2)."""
        needs = set()
        if self.aggs is not None:
            needs.add("summarize")
        if self.count:
            needs.add("count")
        if self.sorts is not None:
            needs.add("topn")
        if self.limit is not None:
            needs.add("limit")
        return frozenset(needs)

    @property
    def _aggregated(self) -> bool:
        """An aggregation stage (summarize or count) is already
        absorbed: the handle's output rows are no longer documents, so
        every further absorption except apply_limit (decode-side group
        truncation, quickwit.rs:1101-1106) and apply_union (identical-
        handle multi-index merge) must stay engine-side."""
        return self.aggs is not None or self.count

    def apply_filter(self, expr: Expr):
        # quickwit.rs:1268: cannot filter over raw / top-n / group-by.
        # Deliberately stricter than the reference: also refuse over an
        # absorbed limit — the service evaluates query before size, so
        # pushing `take N | where p` would filter BEFORE the take and
        # change the result set; that filter stays engine-side.
        if (
            self.raw_query is not None
            or self.sorts is not None
            or self._aggregated
            or self.limit is not None
        ):
            return None
        from miso_spark.sources.es_dsl import compile_filter

        dsl = compile_filter(expr, flavor=self.flavor)
        if dsl is None:
            return None
        return replace(self, queries=self.queries + (dsl,))

    def apply_project(self, fields: tuple[P.ProjectField, ...]):
        # quickwit.rs:1277: only identity projections (from == to) of
        # plain fields narrow _source_includes; raw/aggregated out
        if self.raw_query is not None or self._aggregated:
            return None
        includes = []
        for pf in fields:
            name = _plain_field(pf.expr)
            if name is None or name != pf.name:
                return None
            includes.append(name)
        return replace(self, source_includes=tuple(includes))

    def apply_limit(self, n: int):
        # quickwit.rs:1300: min with any already-absorbed limit
        if self.raw_query is not None:
            return None
        if self.limit is not None and self.limit < n:
            n = self.limit
        return replace(self, limit=n)

    def apply_topn(self, sorts: tuple[P.Sort, ...], n: int):
        if self.flavor == "elasticsearch":
            # elasticsearch.rs:1322: nulls → "missing": _first/_last
            sort_json = tuple(
                {s.by: {"order": s.order, "missing": f"_{s.nulls}"}} for s in sorts
            )
        else:
            # quickwit.rs:1338: {"order", "nulls"}
            sort_json = tuple(
                {s.by: {"order": s.order, "nulls": s.nulls}} for s in sorts
            )
        if self.sorts == sort_json:
            # the same top-n again (push_steps_into_union leaves a
            # post-union merge copy; once the union merged into one
            # search the merge copy is this exact top-n) — absorb as
            # min(n), the service stream is already so ordered. The
            # explicit None check keeps an absorbed limit of 0.
            return replace(
                self, limit=n if self.limit is None else min(self.limit, n)
            )
        # quickwit.rs:1313: no top-n over raw / top-n / aggregated
        if (
            self.raw_query is not None
            or self.sorts is not None
            or self._aggregated
        ):
            return None
        if self.limit is not None and self.limit < n:
            n = self.limit
        return replace(self, sorts=sort_json, limit=n)

    def apply_count(self):
        # quickwit.rs:1354: count over an absorbed aggregation would
        # count raw documents, not the aggregate's output rows —
        # engine-side. Clears source_includes (outputs change).
        if self.raw_query is not None or self._aggregated:
            return None
        return replace(self, count=True, source_includes=())

    def apply_summarize(self, step: P.SummarizeStep):
        # quickwit.rs:1365: the service aggregates before sort/limit
        # regardless of pipeline order, so refuse after any of those.
        # Also refuse when an aggregation is ALREADY absorbed — the
        # service runs one aggregation stage over raw documents, it
        # cannot compose a second on the first's output (the reference
        # only guards the grouped case, group_by non-empty; a by-less
        # absorbed count would be silently OVERWRITTEN by the union
        # split's merge summarize — fuzz-found r11, n=0 instead of 20
        # for `a | union (b) | summarize n = count()`)
        if (
            self.raw_query is not None
            or self.limit is not None
            or self.sorts is not None
            or self._aggregated
        ):
            return None

        count_fields: list[str] = []
        agg_ts_fields: set[str] = set()
        sum_zero: list[str] = []
        avg_zero: list[str] = []
        inner_aggs: dict = {}
        for name, agg in step.aggs:
            if agg.kind == "count":
                # always available as the bucket's doc_count
                count_fields.append(name)
                continue
            if agg.kind in _AGG_OPS:
                op = _AGG_OPS[agg.kind]
                agg_field = _plain_field(agg.arg)
                if agg.kind == "sum":
                    sum_zero.append(name)
                elif agg.kind == "avg":
                    avg_zero.append(name)
            elif agg.kind == "dcount":
                # bare cardinality absorbs, matching the reference's
                # request shape (quickwit.rs:1396): it SKIPS docs whose
                # field is missing, and since r13 the engine-side
                # dcount over wire frames skips absent-key nulls too
                # (compiler._wire_field_null_missing, summarize.rs:
                # 567-578 parity). The r11 "+1 null-bucket" companion
                # value_count is retired — it emulated the old typed
                # conflation and would now diverge from the engine arm.
                op = "cardinality"
                agg_field = _plain_field(agg.arg)
            elif agg.kind == "countif" and isinstance(agg.arg, Exists):
                # countif(exists(f)) → value_count (quickwit.rs:1402)
                op = "value_count"
                agg_field = _plain_field(agg.arg.expr)
            else:
                # arbitrary countif predicates / approx sketches stay
                # engine-side (quickwit.rs:1419 returns None)
                return None
            if agg_field is None:
                return None
            if self.timestamp_field is not None and agg_field == self.timestamp_field:
                agg_ts_fields.add(name)
            inner_aggs[name] = {op: {"field": agg_field}}

        if count_fields and not inner_aggs:
            # count-only: quickwit.rs:1427 inserts a throwaway agg so
            # buckets (and their doc_count) come back at all
            inner_aggs[ONLY_COUNT_AGG_FIELD_NAME] = {"max": {"field": "a"}}

        # nested bucket chain summarize_0 → summarize_1 → ... → metrics
        aggs: dict = {}
        current = aggs
        group_ts_keys: set[str] = set()
        for i, bf in enumerate(step.by):
            name = f"{AGGREGATION_RESULTS_NAME}_{i}"
            if isinstance(bf.expr, Field):
                f = _plain_field(bf.expr)
                if f is None:
                    return None
                if f == self.timestamp_field:
                    group_ts_keys.add(bf.name)
                bucket = {"terms": {"field": f, "size": MAX_NUM_GROUPS}}
            elif isinstance(bf.expr, Bin):
                f = _plain_field(bf.expr.expr)
                if f is None:
                    return None
                size = bf.expr.size
                if isinstance(size, Duration):
                    # timespan → date_histogram (ms, elasticsearch.rs
                    # fixed_interval format); bucket keys come back as
                    # epoch millis whatever the output name
                    group_ts_keys.add(bf.name)
                    bucket = {
                        "date_histogram": {
                            "field": f,
                            "fixed_interval": f"{int(size.seconds * 1000)}ms",
                        }
                    }
                elif isinstance(size, Lit):
                    bucket = {"histogram": {"field": f, "interval": size.value}}
                else:
                    return None
            else:
                return None
            bucket["aggs"] = {}
            current[name] = bucket
            current = bucket["aggs"]

        current.update(inner_aggs)

        return replace(
            self,
            aggs={"aggs": aggs},
            group_by=tuple(bf.name for bf in step.by),
            count_fields=tuple(count_fields),
            agg_timestamp_fields=frozenset(agg_ts_fields),
            group_ts_keys=frozenset(group_ts_keys),
            sum_zero_fields=tuple(sum_zero),
            avg_zero_fields=tuple(avg_zero),
            source_includes=(),
        )

    def apply_union(
        self, other: "PushHandle", scan_collection: str, collection: str
    ):
        # quickwit.rs:1513: multi-index search only for the exact same
        # query on indexes sharing the timestamp field
        if self.raw_query is not None:
            return None
        if replace(other, collections=()) != replace(self, collections=()):
            return None
        if other.timestamp_field != self.timestamp_field:
            return None
        # a nested union (scan a | union(scan b | union(scan c)))
        # carries c in other.collections — keep every absorbed index.
        # Refuse a DUPLICATE index: the engine's union-all duplicates
        # its rows, but a multi-index search returns each document once
        # (the reference dedups too — quickwit.rs:1170 — silently
        # dropping the copies; deliberate divergence: the union stays
        # engine-side and the rows stay doubled. Fuzz-found r11.)
        merged = (
            (scan_collection,)
            + self.collections
            + other.collections
            + (collection,)
        )
        if len(set(merged)) != len(merged):
            return None
        return replace(
            self,
            collections=self.collections + other.collections + (collection,),
        )

    def with_raw_query(self, query: dict):
        return replace(self, raw_query=query)

    def narrow_source(self, names) -> "PushHandle":
        """EliminateUnusedFields analog for REFUSED tails
        (eliminate_unused_fields.rs:22-27): the engine-side residual
        only reads ``names`` (in service terms), so the hit fetch can
        narrow ``_source_includes`` even though no project step was
        absorbed. No-op when the handle already narrows (an absorbed
        project), has no hit fetch (count / aggregations), or is a raw
        query (the service defines its output)."""
        if (
            self.raw_query is not None
            or self.count
            or self.aggs is not None
            or self.source_includes
            or not names
        ):
            return self
        return replace(self, source_includes=tuple(sorted(names)))

    # ---- request assembly (quickwit.rs query(), :1174-1210) ----------

    def indexes(self, collection: str) -> str:
        """Comma-joined, sorted, deduped index list (quickwit.rs:1166)."""
        names = sorted({collection, *self.collections})
        return ",".join(names)

    def build_search_body(self) -> dict | None:
        if self.raw_query is not None:
            return self.raw_query
        body: dict = {}
        if self.queries:
            body["query"] = {"bool": {"must": list(self.queries)}}
        if self.sorts is not None:
            body["sort"] = list(self.sorts)
        if self.aggs is not None:
            body["size"] = 0
            body.update(self.aggs)
        elif self.limit is not None:
            body["size"] = self.limit
        return body or None


# ---- plan negotiation (miso-optimizations push_into_scan/mod.rs) ------


def negotiate(plan: P.Plan, handle: PushHandle, source=None) -> tuple[PushHandle, P.Plan]:
    """The PushIntoScan fixpoint: absorb the steps directly following
    the scan into the connector handle, one at a time, until a step
    refuses (``apply_*`` returns None) or an unpushable step kind
    appears — everything after that point stays engine-side. Returns
    the final handle and the residual plan (scan + unabsorbed steps),
    exactly the split the reference's optimizer leaves behind.

    ``source`` (optional) enables the push_union_into_scan pass: a
    union whose sub-plan scans the SAME connector and absorbs fully
    into an identical handle merges into one multi-index search
    (apply_union decides, like the reference — not all connectors can).
    It also supplies the collection's static_fields, which absorbed
    steps must be rewritten through (FieldReplacer parity,
    push_into_scan/mod.rs:27): the service only knows its real column
    names, so a pushed ``@time`` filter goes out against the mapped
    timestamp column. Residual steps stay in visible names — the
    engine applies the rename on the returned DataFrame.

    A filter the connector refuses gets one more chance through the
    reference's case-transform fallback (mod.rs:54-59): CASE rewritten
    to guarded ORs + constant folding, then apply_filter again."""
    from miso_spark.exprs import rename_fields

    steps = list(plan.steps)
    if not steps or not isinstance(steps[0], (P.Scan, P.ScanRaw)):
        raise ValueError("negotiate() expects a plan starting at a scan")
    static = (
        source.collection_static_fields(steps[0].collection)
        if source is not None and isinstance(steps[0], P.Scan)
        else {}
    )

    def map_name(name: str) -> str:
        return static.get(name, name)
    if isinstance(steps[0], P.ScanRaw):
        # raw_query hook (quickwit.rs:1552): the native query must be
        # valid JSON, and only connectors implementing the hook absorb
        # it (lib.rs: raw_query is optional — Splunk has none)
        import json

        if not hasattr(handle, "with_raw_query"):
            return handle, P.Plan(tuple(steps))
        try:
            handle = handle.with_raw_query(json.loads(steps[0].query))
        except ValueError:
            return handle, P.Plan(tuple(steps))

    i = 1
    while i < len(steps):
        step = steps[i]
        if isinstance(step, P.Filter):
            expr = rename_fields(step.expr, static)
            nh = handle.apply_filter(expr)
            if nh is None:
                # case-transform fallback: CASE → guarded ORs + fold,
                # then retry (push_into_scan/mod.rs:54-59)
                from miso_spark.sources.case_transform import case_transform

                rewritten = case_transform(expr)
                if rewritten != expr:
                    nh = handle.apply_filter(rewritten)
        elif isinstance(step, P.Project):
            nh = handle.apply_project(
                tuple(
                    P.ProjectField(rename_fields(pf.expr, static), map_name(pf.name))
                    for pf in step.fields
                )
            ) if static else handle.apply_project(step.fields)
        elif isinstance(step, P.Limit):
            nh = handle.apply_limit(step.n)
        elif isinstance(step, P.Top):
            sorts = (
                tuple(replace(s, by=map_name(s.by)) for s in step.sorts)
                if static
                else step.sorts
            )
            nh = handle.apply_topn(sorts, step.n)
        elif isinstance(step, P.SummarizeStep):
            if step.keep_null_keys:
                # engine-internal union-split dcount partial: wire
                # terms/stats-by aggregations drop null/missing group
                # keys service-side, losing exactly the bucket this
                # variant exists to keep — stays engine-side
                break
            if step.partial and any(
                a.kind in ("min", "max") for _, a in step.aggs
            ):
                # union-split min/max PARTIAL (r13): an empty-state
                # partial must come back MISSING (the merge skips it,
                # summarize.rs:493 Option None) — the compiler tags
                # engine-side partial outputs MISSING_AS_NULL_MD, but
                # a wire-absorbed result frame carries only
                # WIRE_NULL_IS_MISSING_MD, so in a mixed wire+dynamic
                # union the lift would read the NULL as a PRESENT
                # void null and it would win the merged min (r13→14
                # ADVICE). Stays engine-side, like keep_null_keys.
                break
            summ = step
            if static:
                summ = P.SummarizeStep(
                    tuple(
                        (name, replace(a, arg=rename_fields(a.arg, static))
                         if a.arg is not None else a)
                        for name, a in step.aggs
                    ),
                    tuple(
                        replace(bf, expr=rename_fields(bf.expr, static))
                        for bf in step.by
                    ),
                )
            nh = handle.apply_summarize(summ)
        elif isinstance(step, P.CountStep):
            nh = handle.apply_count()
        elif isinstance(step, P.Extend) and hasattr(handle, "apply_extend"):
            # apply_extend is connector-optional (lib.rs): Splunk
            # renders rex extractions; the search connectors have none
            nh = handle.apply_extend(
                tuple(
                    P.ProjectField(rename_fields(pf.expr, static), pf.name)
                    for pf in step.fields
                )
                if static
                else step.fields
            )
        elif isinstance(step, P.Union) and source is not None:
            # push_union_into_scan.rs: the union sub-plan must scan the
            # same connector and absorb COMPLETELY into its own handle;
            # apply_union then decides whether the two can merge into a
            # multi-index search
            nh = None
            sub = step.sub
            shaping = (
                handle.union_shaping()
                if hasattr(handle, "union_shaping")
                else frozenset()
            )
            if shaping and not shaping <= step.pushed:
                # the handle's absorbed aggregation/cap was USER-
                # written per-branch (no engine-side merge copy past
                # this union) — one merged multi-index request would
                # collapse the union-all's per-branch result rows.
                # Engine keeps the union; each branch still absorbs
                # its own shaping in its own request.
                break
            if (
                sub.steps
                and isinstance(sub.steps[0], P.Scan)
                and isinstance(steps[0], P.Scan)
                and sub.steps[0].connector == steps[0].connector
            ):
                sub_handle, sub_residual = negotiate(
                    sub, source.handle(sub.steps[0].collection), source
                )
                if len(sub_residual.steps) == 1:
                    nh = handle.apply_union(
                        sub_handle,
                        steps[0].collection,
                        sub.steps[0].collection,
                    )
        else:
            break
        if nh is None:
            break
        handle = nh
        if isinstance(step, (P.SummarizeStep, P.CountStep)):
            # an absorbed aggregation re-surfaces VISIBLE names (the
            # stats renames / output names ride along wire-side), so
            # later absorbed steps must NOT re-map through the scan's
            # static_fields: `... by @time | summarize ... by @time`
            # was re-mapped to a second `by _time` over a stream whose
            # column is already `@time` — zero rows (r11 fuzz find,
            # Splunk stats composition)
            static = {}
        i += 1
    return handle, P.Plan((steps[0],) + tuple(steps[i:]))


def make_absorb_predicate(scan, source):
    """``can_absorb`` gate for push_steps_into_union (rewrite.py): a
    step is worth moving before a union run only if the outer scan's
    connector would absorb it from a fresh handle — tested by running
    a one-step negotiation, so the answer uses the exact apply_*
    guards. Returns None (no gating) when the scan has no negotiating
    source."""
    if source is None or not isinstance(scan, P.Scan):
        return None

    def can_absorb(step) -> bool:
        try:
            _, res = negotiate(
                P.Plan((scan, step)), source.handle(scan.collection), source
            )
            return len(res.steps) == 1
        except Exception:
            return False

    return can_absorb


def negotiate_to_fixpoint(plan: P.Plan, handle, source=None):
    """negotiate() interleaved with the pushdown-enabling plan rewrites
    (miso_spark.rewrite) until neither changes anything — the
    reference's optimizer loops its pass group (PushIntoScan + the
    reorder/propagation passes, miso-optimizations/src/lib.rs:336-348)
    the same way: a filter hoisted through an extend on one round
    becomes absorbable on the next. Returns (handle, residual_plan)."""
    from miso_spark.rewrite import optimize_steps

    can_absorb = make_absorb_predicate(plan.steps[0], source)
    tail = (plan.steps[0],) + optimize_steps(
        tuple(plan.steps[1:]), can_absorb=can_absorb
    )
    while True:
        handle, residual = negotiate(P.Plan(tail), handle, source)
        new_tail = (residual.steps[0],) + optimize_steps(
            residual.steps[1:], can_absorb=can_absorb
        )
        if new_tail == tuple(residual.steps):
            # refused-tail narrowing (eliminate_unused_fields.rs
            # analog): the residual stayed engine-side, but its used
            # source fields still bound what the hit fetch must return
            # — narrow _source_includes on connectors that expose it.
            # Names map visible → service like absorbed steps do
            # (FieldReplacer parity).
            if hasattr(handle, "narrow_source"):
                from miso_spark.rewrite import scan_narrowing_fields

                need = scan_narrowing_fields(list(new_tail[1:]))
                if need:
                    static = (
                        source.collection_static_fields(new_tail[0].collection)
                        if source is not None
                        and isinstance(new_tail[0], P.Scan)
                        else {}
                    )
                    handle = handle.narrow_source(
                        {static.get(n, n) for n in need}
                    )
            return handle, P.Plan(new_tail)
        tail = new_tail


# ---- aggregation response decoding (quickwit.rs:997-1110) -------------


def decode_aggregations(payload: dict, handle: PushHandle) -> list[dict]:
    """Walk the nested ``summarize_i`` buckets of a search-aggregation
    response into flat rows: group keys from bucket ``key``s, count
    aggs from ``doc_count``, metric aggs from their ``value`` leaves.
    Empty date_histogram gap buckets (doc_count 0) are dropped and the
    count-only placeholder agg is stripped, like the reference."""
    rows: list[dict] = []
    group_by = list(handle.group_by)

    def leaf(bucket: dict, doc_count: int, keys: list) -> None:
        if doc_count == 0 and group_by:
            # quickwit fills date_histogram gaps — drop them. A GLOBAL
            # (no group-by) aggregation is different: the engine emits
            # its one row even over zero input (tests.rs
            # summarize_without_by_empty_data), so the decode must too
            # (r11 pushdown-fuzzer find)
            return
        row = dict(zip(group_by, keys))
        for name in handle.count_fields:
            row[name] = doc_count
        for name, value_wrap in bucket.items():
            if name == ONLY_COUNT_AGG_FIELD_NAME or not isinstance(value_wrap, dict):
                continue
            if "value" in value_wrap:
                row[name] = value_wrap["value"]
        # empty-input identities (summarize.rs:513,655): a group whose
        # agg field has NO present values comes back null from the
        # wire where the engine emits sum → 0 / avg → 0.0
        for name in handle.sum_zero_fields:
            if row.get(name) is None:
                row[name] = 0
        for name in handle.avg_zero_fields:
            if row.get(name) is None:
                row[name] = 0.0
        rows.append(row)

    def walk(buckets_wrap: dict, depth: int, keys: list) -> None:
        for bucket in buckets_wrap.get("buckets", []):
            keys.append(bucket.get("key"))  # reference ignores key_as_string
            if len(keys) == len(group_by):
                leaf(bucket, bucket.get("doc_count", 0), keys)
            else:
                walk(bucket[f"{AGGREGATION_RESULTS_NAME}_{depth}"], depth + 1, keys)
            keys.pop()

    aggregations = payload.get("aggregations", {})
    first = aggregations.get(f"{AGGREGATION_RESULTS_NAME}_0")
    if first is not None:
        walk(first, 1, [])
    else:
        total = payload.get("hits", {}).get("total", {}).get("value", 0)
        leaf(aggregations, total, [])
    return rows
