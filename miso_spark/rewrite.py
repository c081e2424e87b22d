"""Plan-rewrite passes that enable connector pushdown.

Parity: the subset of miso-optimizations the engine cannot delegate to
Catalyst because it changes WHAT reaches a connector's ``apply_*``
hooks, not how a DataFrame plan executes:

- ``convert_sort_limit_to_topn`` (convert_sort_limit_to_topn.rs)
- ``push_limit_into_limit`` (push_limit_into_limit.rs)
- ``push_limit_into_topn`` (push_limit_into_topn.rs)
- ``merge_topns`` (merge_topns.rs)
- ``project_propagation`` (project_propagation.rs): moves
  project/extend/rename later by inlining their definitions into the
  following filter/sort/top/limit/extend/expand steps — so a filter on
  a computed column can reach the scan — and folds the definitions
  into a terminal summarize entirely.
- ``lower_distinct`` (query_to_workflow.rs:146: ``distinct f1, f2``
  IS ``summarize by f1, f2`` in the reference's step model).
- ``push_filter_into_join`` (push_filter_into_join.rs): one-sided
  post-join filter conditions move into their join branch, so each
  side's connector negotiation sees them.
- ``push_project_into_join`` (push_project_into_join.rs +
  eliminate_unused_fields.rs's required-fields walk): both join sides
  narrow to the fields the post-join tail needs.

For file-backed sources Catalyst already reorders filters through
projections and fuses limits, so the compiler applies these passes
only ahead of external-connector negotiation (compiler.py), where the
reference's optimizer position is observable: which steps the service
absorbs vs which stay engine-side. ``optimize_steps`` runs the passes
to fixpoint, like Optimizer::optimize looping pass groups
(miso-optimizations/src/lib.rs:156-205): its result is returned
unchanged by a second call, or it raises. A union push records what it
split in ``Union.pushed``, standing in for the reference's own Mux*
merge step types, so a merge copy is never split again.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import replace

from miso_spark import plan as P
from miso_spark.exprs import (
    Between,
    Bin,
    BinOp,
    Case,
    Cast,
    Exists,
    Expr,
    Extract,
    Field,
    In,
    Lit,
    Not,
)


class _CannotSubstitute(Exception):
    """A definition name is used somewhere a general expression can't
    go (sort key, expand field, nested path) — the pass bails."""


def _plain_name(e: Expr) -> str | None:
    """Single-segment, index-free field name, else None."""
    if not isinstance(e, Field):
        return None
    segs = e.path.segments
    if len(segs) != 1 or segs[0][1]:
        return None
    return segs[0][0]


def substitute_fields(e: Expr, mapping: dict[str, Expr]) -> Expr:
    """Replace plain field references per ``mapping`` (name → defining
    expression) — the ExprSubstitute analog (expr_substitude.rs).
    Raises :class:`_CannotSubstitute` when a mapped name is accessed
    through a nested path or index (``name.sub`` / ``name[0]``): the
    definition isn't known to be an object/array, so inlining is not
    semantics-preserving."""
    if not mapping:
        return e

    def r(x: Expr) -> Expr:
        return substitute_fields(x, mapping)

    if isinstance(e, Field):
        (head, idxs), *rest = e.path.segments
        if head in mapping:
            if idxs or rest:
                raise _CannotSubstitute(head)
            return mapping[head]
        return e
    if isinstance(e, BinOp):
        return BinOp(e.op, r(e.left), r(e.right))
    if isinstance(e, Not):
        return Not(r(e.expr))
    if isinstance(e, Exists):
        return Exists(r(e.expr))
    if isinstance(e, In):
        return In(r(e.expr), tuple(r(i) for i in e.items))
    if isinstance(e, Between):
        return Between(r(e.expr), r(e.low), r(e.high), e.negated)
    if isinstance(e, Case):
        return Case(tuple((r(c), r(v)) for c, v in e.branches), r(e.default))
    if isinstance(e, Extract):
        return Extract(r(e.pattern), r(e.group), r(e.source))
    if isinstance(e, Bin):
        return Bin(r(e.expr), r(e.size))
    if isinstance(e, Cast):
        return Cast(e.type, r(e.expr))
    return e  # Lit / Duration / Now


def _referenced_fields(e) -> list:
    """Every :class:`Field` referenced by ``e`` (shared traversal for
    the head- and path-level collectors)."""
    out: list = []

    def walk(x) -> None:
        if x is None:
            return
        if isinstance(x, Field):
            out.append(x)
        elif isinstance(x, BinOp):
            walk(x.left)
            walk(x.right)
        elif isinstance(x, Not):
            walk(x.expr)
        elif isinstance(x, Exists):
            walk(x.expr)
        elif isinstance(x, In):
            walk(x.expr)
            for i in x.items:
                walk(i)
        elif isinstance(x, Between):
            walk(x.expr)
            walk(x.low)
            walk(x.high)
        elif isinstance(x, Case):
            for c, v in x.branches:
                walk(c)
                walk(v)
            walk(x.default)
        elif isinstance(x, Extract):
            walk(x.pattern)
            walk(x.group)
            walk(x.source)
        elif isinstance(x, Bin):
            walk(x.expr)
            walk(x.size)
        elif isinstance(x, Cast):
            walk(x.expr)

    walk(e)
    return out


def _referenced_heads(e) -> set:
    """Head names of every field path referenced by ``e``."""
    return {f.path.segments[0][0] for f in _referenced_fields(e)}


def _referenced_paths(e) -> set:
    """Full dotted path strings of every field referenced by ``e``."""
    fields = _referenced_fields(e)
    _charge_work(len(fields) + 1)
    return {str(f.path) for f in fields}


def _head(name: str) -> str:
    return name.split(".")[0].split("[")[0]


def _step_refs(step) -> set:
    """Head names a middle step reads."""
    if isinstance(step, P.Filter):
        return _referenced_heads(step.expr)
    if isinstance(step, (P.SortStep, P.Top)):
        return {_head(s.by) for s in step.sorts}
    if isinstance(step, P.Extend):
        refs: set[str] = set()
        for pf in step.fields:
            refs |= _referenced_heads(pf.expr)
        return refs
    if isinstance(step, P.Expand):
        return {_head(f) for f in step.fields}
    return set()  # Limit


def _end_refs(end) -> set:
    if isinstance(end, P.Project):
        refs: set[str] = set()
        for pf in end.fields:
            refs |= _referenced_heads(pf.expr)
        return refs
    if isinstance(end, P.SummarizeStep):
        refs = set()
        for bf in end.by:
            refs |= _referenced_heads(bf.expr)
        for _, agg in end.aggs:
            if agg.arg is not None:
                refs |= _referenced_heads(agg.arg)
        return refs
    return set()


# ---------------------------------------------------------------------------
# limit / top-n normalization (the reference's "Limit/TopN -
# merge/optimize BEFORE pushing" group, lib.rs:158-164)


def _pairwise_pass(steps: list, fn) -> tuple[list, bool]:
    """Apply ``fn(a, b) -> list | None`` over adjacent step pairs."""
    out: list = []
    changed = False
    i = 0
    while i < len(steps):
        if i + 1 < len(steps):
            merged = fn(steps[i], steps[i + 1])
            if merged is not None:
                out.extend(merged)
                i += 2
                changed = True
                continue
        out.append(steps[i])
        i += 1
    return out, changed


def _sort_limit_to_topn(a, b):
    # convert_sort_limit_to_topn.rs: `sort by s | take n` == `top n by s`
    if isinstance(a, P.SortStep) and isinstance(b, P.Limit):
        return [P.Top(a.sorts, b.n)]
    return None


def _limit_into_limit(a, b):
    # push_limit_into_limit.rs: take n | take m == take min(n, m)
    if isinstance(a, P.Limit) and isinstance(b, P.Limit):
        return [P.Limit(min(a.n, b.n))]
    return None


def _limit_into_topn(a, b):
    # push_limit_into_topn.rs: top n by s | take m == top min(n,m) by s
    if isinstance(a, P.Top) and isinstance(b, P.Limit):
        return [P.Top(a.sorts, min(a.n, b.n))]
    return None


def _merge_topns(a, b):
    # merge_topns.rs: equal sort keys → min limit
    if isinstance(a, P.Top) and isinstance(b, P.Top) and a.sorts == b.sorts:
        return [P.Top(a.sorts, min(a.n, b.n))]
    return None


def lower_distinct(steps: list) -> tuple[list, bool]:
    """``distinct f1, f2`` → ``summarize by f1, f2`` — the reference
    lowers this at the frontend (query_to_workflow.rs:146), so its
    engine AND its connectors only ever see a by-only Summarize (which
    is also why null group keys drop from distinct output there).
    Field-less ``distinct *`` keeps the Distinct step (all-columns
    dedup has no static by-list)."""
    out = []
    changed = False
    for s in steps:
        if isinstance(s, P.Distinct) and s.fields:
            out.append(P.distinct_to_summarize(s.fields))
            changed = True
        else:
            out.append(s)
    return out, changed


# ---------------------------------------------------------------------------
# project propagation (project_propagation.rs)

#: middle steps the definitions can move across
_MIDDLE = (P.Filter, P.SortStep, P.Top, P.Limit, P.Extend, P.Expand)


def _categorize(fields) -> tuple[dict, dict, dict]:
    """project_propagation.rs categorize_fields: name → rename source /
    literal / general expression. Only single-segment target names
    participate (a nested ``a.b = x`` target can't be tracked as a
    plain definition)."""
    renames: dict[str, str] = {}
    literals: dict[str, Lit] = {}
    exprs: dict[str, Expr] = {}
    for pf in fields:
        if "." in pf.name or "[" in pf.name:
            raise _CannotSubstitute(pf.name)
        src = _plain_name(pf.expr)
        if src is not None:
            renames[pf.name] = src
        elif isinstance(pf.expr, Lit):
            literals[pf.name] = pf.expr
        else:
            exprs[pf.name] = pf.expr
    return renames, literals, exprs


def _rewrite_sorts(sorts, renames, literals, exprs):
    """rewrite_sorts: literal keys drop (constant — no effect on
    order), renamed keys map back to the source column; a sort on a
    computed definition can't be rewritten (Sort.by is a name, not an
    expression) — bail."""
    out = []
    for s in sorts:
        if s.by in literals:
            continue
        if s.by in exprs:
            raise _CannotSubstitute(s.by)
        out.append(P.Sort(renames.get(s.by, s.by), s.order, s.nulls))
    return tuple(out)


def _substitute_middle(step, renames, literals, exprs):
    """Rewrite one middle step through the definitions; None = the
    step vanishes (e.g. a sort only on literal keys)."""
    mapping: dict[str, Expr] = {n: Field.of(s) for n, s in renames.items()}
    mapping.update(literals)
    mapping.update(exprs)
    if isinstance(step, P.Filter):
        return P.Filter(substitute_fields(step.expr, mapping))
    if isinstance(step, P.SortStep):
        sorts = _rewrite_sorts(step.sorts, renames, literals, exprs)
        return P.SortStep(sorts) if sorts else None
    if isinstance(step, P.Top):
        sorts = _rewrite_sorts(step.sorts, renames, literals, exprs)
        if not sorts:
            raise _CannotSubstitute("top over constant keys")
        return P.Top(sorts, step.n)
    if isinstance(step, P.Limit):
        return step
    if isinstance(step, P.Extend):
        return P.Extend(
            tuple(
                P.ProjectField(substitute_fields(pf.expr, mapping), pf.name)
                for pf in step.fields
            )
        )
    if isinstance(step, P.Expand):
        fields = []
        for f in step.fields:
            if f in literals or f in exprs:
                raise _CannotSubstitute(f)
            fields.append(renames.get(f, f))
        return P.Expand(tuple(fields), step.kind)
    raise _CannotSubstitute(type(step).__name__)


def _rewrite_summarize(sum_step, renames, literals, exprs):
    """rewrite_summarize: fold the definitions into the summarize —
    by-expressions substitute inline; aggregations over renamed fields
    re-point; aggregations over literals turn into the reference's
    constant forms (dcount→1, avg/min/max→the literal, sum→count×lit).
    Returns (new_summarize, post_project_fields) or raises."""
    mapping: dict[str, Expr] = {n: Field.of(s) for n, s in renames.items()}
    mapping.update(literals)
    mapping.update(exprs)

    new_by = tuple(
        P.ByField(substitute_fields(bf.expr, mapping), bf.name)
        for bf in sum_step.by
    )

    post: list[P.ProjectField] = []
    new_aggs: list[tuple[str, P.Agg]] = []
    for name, agg in sum_step.aggs:
        if agg.kind == "count":
            new_aggs.append((name, agg))
            continue
        if agg.kind == "countif":
            new_aggs.append(
                (name, P.Agg("countif", substitute_fields(agg.arg, mapping)))
            )
            continue
        f = _plain_name(agg.arg)
        if f is None:
            # aggregation over a computed argument: substitute inline
            new_aggs.append(
                (name, P.Agg(agg.kind, substitute_fields(agg.arg, mapping)))
            )
            continue
        if f in literals:
            lit = literals[f]
            if not sum_step.by and agg.kind in ("dcount", "avg", "min", "max"):
                # a GLOBAL (by-less) summarize still emits one row over
                # EMPTY input, where these aggregates take their
                # empty-input identities (min/max → null, avg → 0.0,
                # dcount → 0 — summarize.rs:513-663), NOT the literal;
                # group existence (≥1 row) is only guaranteed with by
                # keys. sum → count×lit stays exact (0 × lit = 0).
                # Property-falsified in r10:
                # `... | extend e1 = 7 | summarize mx = max(e1)` over a
                # filtered-to-empty input folded mx to 7.
                raise _CannotSubstitute(f)
            if agg.kind == "dcount":
                post.append(P.ProjectField(Lit(1), name))
            elif agg.kind == "avg":
                # avg is ALWAYS double-typed — the folded constant must
                # be too (avg(7) → 7.0, not int 7), and a non-numeric
                # literal has no avg to fold
                if not isinstance(lit.value, (int, float)) or isinstance(
                    lit.value, bool
                ):
                    raise _CannotSubstitute(f)
                post.append(P.ProjectField(Lit(float(lit.value)), name))
            elif agg.kind in ("min", "max"):
                post.append(P.ProjectField(lit, name))
            elif agg.kind == "sum":
                new_aggs.append((name, P.Agg("count")))
                post.append(
                    P.ProjectField(BinOp("mul", Field.of(name), lit), name)
                )
            else:
                raise _CannotSubstitute(f)
            continue
        if f in renames:
            new_aggs.append((name, P.Agg(agg.kind, Field.of(renames[f]))))
            continue
        if f in exprs:
            new_aggs.append((name, P.Agg(agg.kind, exprs[f])))
            continue
        new_aggs.append((name, agg))
    return replace(sum_step, aggs=tuple(new_aggs), by=new_by), post


def _propagation_hazard(lead, middle, end, renames, literals, exprs) -> bool:
    """Semantics-preservation guard the reference's ProjectPropagation
    lacks (its ExprSubstitute is built once from the lead and never
    invalidated, project_propagation.rs:126-172 — a deliberate
    divergence, see SURVEY §3): bail when

    - a middle Extend redefines a mapped name or a column any mapping
      value reads (substitutions planted after it would see the new
      value);
    - a middle Expand explodes a column a mapping value reads (the
      array the lead captured becomes a scalar element) — except a
      pure rename under a restrictive Project lead, where nothing else
      can observe the source;
    - a restrictive Project lead is moved past a step that reads a
      column the project dropped (the read would resurrect it);
    - a Rename lead is moved past a step that reads a renamed-away
      source name (same resurrection).
    """
    defined = set(renames) | set(literals) | set(exprs)
    rename_sources = set(renames.values())
    expr_sources: set[str] = set()
    for v in exprs.values():
        expr_sources |= _referenced_heads(v)
    sources = rename_sources | expr_sources

    restrictive = isinstance(lead, P.Project)
    removed: set[str] = set()
    if isinstance(lead, P.Rename):
        removed = rename_sources - defined

    for s in middle:
        refs = _step_refs(s)
        if restrictive and not refs <= defined:
            return True
        if removed & refs:
            return True
        if isinstance(s, P.Extend):
            targets = {_head(pf.name) for pf in s.fields}
            if targets & (defined | sources):
                return True
        if isinstance(s, P.Expand):
            rewritten = {renames.get(f, f) for f in s.fields}
            for f in rewritten:
                if f in expr_sources:
                    return True
                if f in rename_sources:
                    # exploding a rename source is safe only when the
                    # lead DROPS the source (Project/Rename) and
                    # exactly one mapping reads it — with two targets
                    # aliasing the same source (`project a = b, c = b
                    # | mv-expand a`), the un-expanded alias must keep
                    # the whole array, which the moved lead can't do
                    uses = sum(1 for src in renames.values() if src == f)
                    if isinstance(lead, P.Extend) or uses > 1:
                        return True
    if end is not None:
        erefs = _end_refs(end)
        if restrictive and not erefs <= defined:
            return True
        if removed & erefs:
            return True
    return False


def _leading_fields(step):
    if isinstance(step, (P.Project, P.Extend)):
        return step.fields
    if isinstance(step, P.Rename):
        return tuple(P.ProjectField(Field.of(frm), to) for frm, to in step.pairs)
    return None


def project_propagation(steps: list) -> tuple[list, bool]:
    """One application of ProjectPropagation{With,Without}End at the
    first matching position; the fixpoint loop in
    :func:`optimize_steps` re-runs until no match fires."""
    for i, lead in enumerate(steps):
        fields = _leading_fields(lead)
        if fields is None:
            continue
        try:
            renames, literals, exprs = _categorize(fields)
        except _CannotSubstitute:
            continue
        if not (renames or literals or exprs):
            continue
        # collect the middle run
        j = i + 1
        while j < len(steps) and isinstance(steps[j], _MIDDLE):
            j += 1
        end = steps[j] if j < len(steps) else None
        with_end = isinstance(end, (P.Project, P.SummarizeStep))
        if j == i + 1 and not with_end:
            continue  # nothing to move across
        if not with_end and isinstance(steps[i + 1], (P.Project, P.Extend, P.Rename)):
            # without an end step, swapping project/extend/rename pairs
            # would ping-pong forever (project_propagation.rs:86-97);
            # merge passes handle those instead
            continue
        if isinstance(lead, P.Project) and any(
            isinstance(s, P.Extend) for s in steps[i + 1 : j]
        ):
            # a RESTRICTIVE project moved after a middle extend would
            # drop the extend's output columns from the result —
            # `project a = b | where .. | extend c = ..` must keep c
            continue
        if _propagation_hazard(lead, steps[i + 1 : j],
                               steps[j] if with_end else None,
                               renames, literals, exprs):
            continue
        try:
            middle = []
            for s in steps[i + 1 : j]:
                new = _substitute_middle(s, renames, literals, exprs)
                if new is not None:
                    middle.append(new)
            if with_end and isinstance(end, P.SummarizeStep):
                new_sum, post = _rewrite_summarize(end, renames, literals, exprs)
                if post and not new_sum.aggs and not new_sum.by:
                    # every aggregate folded to a constant and there
                    # are no group keys: dropping the summarize would
                    # turn a ONE-row global aggregation into a per-row
                    # project (and an empty input still emits one row
                    # here — tests.rs summarize_without_by_empty_data).
                    # Keep the original step.
                    raise _CannotSubstitute("global summarize")
                tail = []
                if new_sum.aggs or new_sum.by:
                    tail.append(new_sum)
                if post:
                    # the replacement project must pass the summarize's
                    # OTHER outputs through — group keys and untouched
                    # aggregates are part of the result (a post of only
                    # the rewritten columns silently dropped the by
                    # keys: property-suite find, r10)
                    post_names = {pf.name for pf in post}
                    passthrough = [
                        P.ProjectField(Field.of(n), n)
                        for n in (
                            [a for a, _ in new_sum.aggs]
                            + [bf.name for bf in new_sum.by]
                        )
                        if n not in post_names
                    ]
                    tail.append(P.Project(tuple(passthrough + post)))
                replaced = middle + tail
                consumed_end = True
            elif with_end:  # terminal Project: inline definitions into it
                mapping: dict[str, Expr] = {
                    n: Field.of(s) for n, s in renames.items()
                }
                mapping.update(literals)
                mapping.update(exprs)
                replaced = middle + [
                    P.Project(
                        tuple(
                            P.ProjectField(
                                substitute_fields(pf.expr, mapping), pf.name
                            )
                            for pf in end.fields
                        )
                    )
                ]
                consumed_end = True
            else:
                replaced = middle + [lead]
                consumed_end = False
        except _CannotSubstitute:
            continue
        rest = steps[j + 1 :] if consumed_end else steps[j:]
        return steps[:i] + replaced + rest, True
    return steps, False


def split_summarize_for_union(step):
    """(partial, merge, post) split of a post-union summarize — the
    reference's MuxIntoUnion + Summarize::convert_to_partial/_to_mux
    (mux_into_union.rs:46, summarize.rs:93-135): each branch computes
    a partial aggregate, a merge step combines them (count/countif →
    sum, sum → sum, min/max → min/max; by-only stays by-only — the
    distinct-after-union case). ``avg`` decomposes like the
    reference's MUX_AVG suffixes (summarize.rs:9, :113-120 —
    ``{name}_sum = sum(arg)`` + ``{name}_num = countif(exists(arg))``
    per branch; the MuxAvg merge state sums both and divides,
    workflow summarize.rs:517) — here the division is the ``post``
    Project, with the reference's empty-input identity avg(∅) = 0.0
    (summarize.rs:655). ``post`` is None when no avg is present.

    Returns None for splits that would CHANGE RESULTS. ``dcount``
    splits like the reference (convert_to_partial joins the argument
    to the partial's group keys; the merge re-runs dcount over the
    key column) — with one soundness divergence: the reference's
    partial is a plain summarize that DROPS null group keys
    (summarize.rs:151), silently losing the null bucket its own
    dcount counts as a distinct value (tests.rs dcount_with_nulls)
    and the arg-null rows from SIBLING aggregates. Here the partial
    is an engine-INTERNAL ``keep_null_keys`` summarize (never
    user-visible, never wire-absorbed — sources/pushdown.py refuses
    it), so null/missing buckets survive to the merge and both
    compile paths (typed add-one-null, variant "null"-JSON group)
    agree with the unsplit plan row-for-row.
    Dotted output/by names are refused too: the merge step must
    reference the partial's FLAT output columns, and a dotted name
    would re-parse as a nested path.
    """
    if any(a.kind not in ("count", "countif", "sum", "min", "max", "avg",
                          "dcount")
           for _, a in step.aggs):
        return None
    if step.keep_null_keys:
        return None  # already a union-split partial
    names = [bf.name for bf in step.by] + [n for n, _ in step.aggs]
    if any("." in n or "[" in n for n in names):
        return None
    taken = set(names)
    if any(
        f"{n}_sum" in taken or f"{n}_num" in taken
        for n, a in step.aggs if a.kind == "avg"
    ):
        # a MUX suffix name collides with a real output — refuse
        # rather than silently overwrite (the reference's BTreeMap
        # insert would clobber)
        return None
    avg_present = any(a.kind == "avg" for _, a in step.aggs)
    # dcount args join the partial's group keys (convert_to_partial):
    # a plain-field arg reuses the field name (or an existing by key
    # with the identical expression); computed args get an internal
    # flat name. The comparison key is class-aware repr, not dataclass
    # eq (Lit(True) == Lit(1) in Python).
    dc_keys: dict[str, str] = {}
    extra_by: list[P.ByField] = []
    for name, agg in step.aggs:
        if agg.kind != "dcount":
            continue
        if agg.arg is None:
            return None
        key = next(
            (
                bf.name
                for bf in list(step.by) + extra_by
                if repr(bf.expr) == repr(agg.arg)
            ),
            None,
        )
        if key is None:
            f = _plain_name(agg.arg)
            if f is not None and "." not in f and "[" not in f and f not in taken:
                key = f
            else:
                key = f"{name}__dcarg"
                if key in taken:
                    return None
            taken.add(key)
            extra_by.append(P.ByField(agg.arg, key))
        dc_keys[name] = key
    partial_aggs: list[tuple[str, P.Agg]] = []
    merge_aggs: list[tuple[str, P.Agg]] = []
    post: list[P.ProjectField] = []
    for name, agg in step.aggs:
        if agg.kind == "dcount":
            # no partial agg: the arg is a partial GROUP KEY; the merge
            # re-counts distinct key values per original group (null
            # bucket included — the keep_null_keys partial preserved it)
            merge_aggs.append(
                (name, P.Agg("dcount", Field.of(dc_keys[name])))
            )
            if avg_present:
                post.append(P.ProjectField(Field.of(name), name))
            continue
        if agg.kind == "avg":
            s, n = f"{name}_sum", f"{name}_num"
            partial_aggs.append((s, P.Agg("sum", agg.arg)))
            partial_aggs.append((n, P.Agg("countif", Exists(agg.arg))))
            merge_aggs.append((s, P.Agg("sum", Field.of(s))))
            merge_aggs.append((n, P.Agg("sum", Field.of(n))))
            post.append(
                P.ProjectField(
                    Case(
                        ((BinOp("eq", Field.of(n), Lit(0)), Lit(0.0)),),
                        BinOp("div", Field.of(s), Field.of(n)),
                    ),
                    name,
                )
            )
            continue
        partial_aggs.append((name, agg))
        if agg.kind in ("count", "countif"):
            merge_aggs.append((name, P.Agg("sum", Field.of(name))))
        else:  # sum / min / max merge with themselves
            merge_aggs.append((name, P.Agg(agg.kind, Field.of(name))))
        if avg_present:
            post.append(P.ProjectField(Field.of(name), name))
    partial = P.SummarizeStep(
        tuple(partial_aggs),
        tuple(step.by) + tuple(extra_by),
        keep_null_keys=bool(dc_keys),
        partial=True,
    )
    merge = P.SummarizeStep(
        tuple(merge_aggs),
        tuple(P.ByField(Field.of(bf.name), bf.name) for bf in step.by),
    )
    if not avg_present:
        return partial, merge, None
    # the post project must also carry the group keys and restore the
    # ORIGINAL output order (by keys first, then aggs in declared
    # order — the merge's _sum/_num columns drop here)
    key_fields = [P.ProjectField(Field.of(bf.name), bf.name) for bf in step.by]
    by_name = {pf.name: pf for pf in post}
    ordered = [by_name[n] for n, _ in step.aggs]
    return partial, merge, P.Project(tuple(key_fields + ordered))


def _null_equiv_value(e: Expr) -> bool:
    """True when ``e`` provably evaluates to the same VALUE whether a
    referenced field is MISSING from the input schema or PRESENT with
    a null value. The union compile materializes branch-absent columns
    as SQL null (typed rows can't carry per-row missing-ness), so a
    step copied past the unions (push_steps_into_union) sees MISSING
    where the post-union original saw NULL — only expressions where
    the two coincide may move. Values: field refs, literals, and
    null-propagating operators (arithmetic, bin, cast, extract) all
    yield null either way; comparisons/case/in/between yield a proper
    boolean for null but unknown for missing, so they may NOT appear
    in value position."""
    if isinstance(e, (Field, Lit)):
        return True
    if isinstance(e, BinOp):
        return e.op in ("add", "sub", "mul", "div") and (
            _null_equiv_value(e.left) and _null_equiv_value(e.right)
        )
    if isinstance(e, Bin):
        return _null_equiv_value(e.expr) and _null_equiv_value(e.size)
    if isinstance(e, Cast):
        return _null_equiv_value(e.expr)
    if isinstance(e, Extract):
        return all(
            _null_equiv_value(x) for x in (e.pattern, e.group, e.source)
        )
    if isinstance(e, Exists):
        # exists gives the same proper boolean (false) for both
        return _null_equiv_value(e.expr)
    return False


def _proper_no_poison(e: Expr) -> bool:
    """Boolean shapes that compile to PROPER booleans with the same
    value for a missing column and a null one, and never trigger the
    and/or missing-poisoning wrapper (exprs._may_be_missing is False):
    exists()/not(exists()) trees and boolean literals. These are safe
    in ANY boolean position, OR included."""
    if isinstance(e, Lit):
        return isinstance(e.value, bool)
    if isinstance(e, Exists):
        return _null_equiv_value(e.expr)
    if isinstance(e, Not):
        return _proper_no_poison(e.expr)
    if isinstance(e, BinOp) and e.op in ("and", "or"):
        return _proper_no_poison(e.left) and _proper_no_poison(e.right)
    return False


def _safe_in(e: Expr) -> bool:
    """``x in (non-null literals)`` compiles to a proper FALSE for
    both a missing and a null base (isNotNull-AND-isin; Value::Null
    equals no non-null item) — but its missing base still poisons an
    enclosing OR, so it is AND-position safe only."""
    return (
        isinstance(e, In)
        and _null_equiv_value(e.expr)
        and all(isinstance(i, Lit) and i.value is not None for i in e.items)
    )


def _null_equiv_bool(e: Expr) -> bool:
    """True when filtering on ``e`` keeps the same rows whether a
    referenced field is MISSING or PRESENT-null (see
    _null_equiv_value). Inside an AND-tree, the engine's missing
    result (unknown/poisoned → row dropped) and the total-order null
    result coincide exactly when the null result is FALSE — which
    holds for eq/gt/gte against a non-null literal, the string ops,
    and ``in`` over non-null literals, but NOT for ne/lt/lte (null is
    smallest, so null<x / null!=x are TRUE), eq against a null literal
    (isNull is TRUE), or field-vs-field equality (eqNullSafe). An OR
    admits only poison-free proper shapes (exists trees); a NOT only
    not(exists)."""
    if _proper_no_poison(e):
        return True
    if _safe_in(e):
        return True
    if isinstance(e, BinOp):
        if e.op == "and":
            return _null_equiv_bool(e.left) and _null_equiv_bool(e.right)
        if e.op == "or":
            return _proper_no_poison(e.left) and _proper_no_poison(e.right)
        if e.op == "eq":
            # eq is symmetric: null == lit is FALSE either way round
            for lit_side, val_side in ((e.right, e.left), (e.left, e.right)):
                if (
                    isinstance(lit_side, Lit)
                    and lit_side.value is not None
                    and _null_equiv_value(val_side)
                ):
                    return True
            return False
        if e.op in ("gt", "gte") or e.op in _STR_OPS_SAFE:
            # DIRECTIONAL: only value-on-LEFT / literal-on-RIGHT is
            # safe (`x > 5` → null is smallest → FALSE). The flipped
            # form `5 > x` is `x < 5`, which is TRUE for a null/missing
            # x — accepting it pushed a filter past a union that drops
            # rows the post-union original keeps (r10 advice, high).
            return (
                isinstance(e.right, Lit)
                and e.right.value is not None
                and _null_equiv_value(e.left)
            )
    return False


_STR_OPS_SAFE = {"contains", "startswith", "endswith", "has", "has_cs"}


def _union_push_safe(step) -> bool:
    """Gate for copying a row-local step past a union run."""
    if isinstance(step, P.Filter):
        # NOTE a whole-filter not(in (...)) is NOT safe, though the
        # typed path alone suggests it (in → proper FALSE for a
        # missing base, negation TRUE both ways): when the union
        # output column is VARIANT, a branch-absent base stays MISSING
        # post-union and the dynamic `in` is UNKNOWN there (not proper
        # FALSE — interpreter/mod.rs is_in), so the negation DROPS the
        # row engine-side while the branch-pushed copy (provably
        # missing → typed lit-null path) KEEPS it. Property-falsified
        # in r11 (`m.a | union (m.b) | where not(s in ("s1"))` over
        # dynamic ingest). All remaining whitelisted shapes agree
        # between the two compilations: their typed-missing result is
        # proper FALSE and their dynamic-missing result unknown — both
        # DROP — or they are proper booleans on both paths (exists).
        return _null_equiv_bool(step.expr)
    if isinstance(step, (P.Project, P.Extend)):
        return all(_null_equiv_value(pf.expr) for pf in step.fields)
    return True  # Rename: name-level only, missing→missing / null→null


def _summarize_push_safe(step) -> bool:
    """Same gate for the per-branch summarize partials: group keys and
    sum/min/max/avg args must be value-equivalent (null either way —
    null keys then drop in BOTH arms, summarize.rs:151); a countif
    predicate counts only proper TRUE, so unknown≈false and the
    AND-position boolean rule applies."""
    for bf in step.by:
        if not _null_equiv_value(bf.expr):
            return False
    for _, agg in step.aggs:
        if agg.arg is None:
            continue
        ok = (
            _null_equiv_bool(agg.arg)
            if agg.kind == "countif"
            else _null_equiv_value(agg.arg)
        )
        if not ok:
            return False
    return True


def push_steps_into_union(steps: list, can_absorb=None) -> tuple[list, bool]:
    """push_steps_into_union.rs: a filter/project/extend/rename after
    a run of unions copies INTO each union branch and moves before the
    unions — data reduces before merging, and each branch's scan gets
    its own shot at absorbing the step into its connector (the
    heterogeneous-union case apply_union can't merge). Safe for
    columns missing on one branch: expression compilation is
    schema-aware (a missing field evaluates as missing, the
    reference's interpreter semantics), so the pushed copy drops/keeps
    exactly the rows the post-union step would.

    ``can_absorb`` (negotiation only): the reference fires this pass
    unconditionally, but moving a step the main connector CANNOT
    absorb before the unions leaves it engine-side in a position that
    blocks ``apply_union`` from ever seeing the union run — one merged
    multi-index search becomes N separate wire searches. When the
    predicate says the outer copy won't absorb, keep the step after
    the unions (the pre-r9 shape: merged search + engine-side step).

    A limit/top/summarize/count push leaves a merge copy after the
    unions and marks each union's ``pushed``; a run whose unions are
    all marked is not pushed again, wherever other passes move the
    copies."""
    for i in range(len(steps)):
        if not isinstance(steps[i], P.Union):
            continue
        j = i
        while j < len(steps) and isinstance(steps[j], P.Union):
            j += 1
        if j >= len(steps):
            continue
        step = steps[j]
        row_local = isinstance(step, (P.Filter, P.Project, P.Extend, P.Rename))
        # limit/top-n also push (limit_into_union / topn_into_union in
        # the reference): each branch and the main stream cap
        # independently, and a MERGE copy stays after the unions (the
        # reference's MuxLimit/MuxTopN — here the same plain step) to
        # cap the combined stream.
        capping = isinstance(step, (P.Limit, P.Top))
        summarizing = isinstance(step, P.SummarizeStep)
        counting = isinstance(step, P.CountStep)
        if not row_local and not capping and not summarizing and not counting:
            continue
        if row_local and not _union_push_safe(step):
            # the copy would see a branch-absent column as MISSING
            # where the post-union original sees NULL — result-changing
            # for this expression shape (see _null_equiv_bool)
            continue
        if summarizing and not _summarize_push_safe(step):
            continue
        if (capping or summarizing or counting) and all(
            u.pushed for u in steps[i:j]
        ):
            # already pushed: the step after the run is the merge copy
            # (the reference's Mux* step), which re-aggregates or re-caps
            # the branches' copies. Any mark counts, not this kind's: a
            # CountStep's merge copy is a SummarizeStep.
            continue
        if summarizing:
            split = split_summarize_for_union(step)
            if split is None:
                continue
            branch_step, merge_step, post_step = split
            tail_steps = [merge_step] + ([post_step] if post_step else [])
        elif counting:
            # count → MuxCount (mux_into_union.rs:44): per-branch
            # counts, summed after the unions; the engine's count
            # column is COUNT_FIELD_NAME ("Count")
            branch_step = step
            tail_steps = [
                P.SummarizeStep((("Count", P.Agg("sum", Field.of("Count"))),), ())
            ]
        else:
            branch_step = step
            tail_steps = [step] if capping else []
        if can_absorb is not None and not can_absorb(branch_step):
            continue
        # record WHAT was pushed: negotiation may only merge a
        # result-shaped handle across a union covered by these marks
        # (the merge copy in tail_steps re-aggregates engine-side)
        if summarizing:
            mark = frozenset({"summarize"})
        elif counting:
            mark = frozenset({"count"})
        elif isinstance(step, P.Top):
            mark = frozenset({"topn", "limit"})
        elif isinstance(step, P.Limit):
            mark = frozenset({"limit"})
        else:
            mark = frozenset()
        new_unions = [
            P.Union(P.Plan(tuple(u.sub.steps) + (branch_step,)),
                    pushed=u.pushed | mark)
            for u in steps[i:j]
        ]
        return (
            steps[:i] + [branch_step] + new_unions + tail_steps + steps[j + 1 :],
            True,
        )
    return steps, False


# ---------------------------------------------------------------------------
# join pushes (push_filter_into_join.rs / push_project_into_join.rs):
# move a post-join filter's one-sided conditions, and the fields the
# post-join tail actually needs, into the join's sides BEFORE connector
# negotiation — so `external_a | join (external_b | project ..) on id |
# where b_field > 5` ships the b_field filter in the right side's wire
# request instead of fetching it unfiltered and filtering in the engine.


def _last_step_out_fields(step) -> set | None:
    """Statically-known output field names of a step — the
    right_workflow_fields contract (push_filter_into_join.rs:118):
    only a terminal Project or Summarize pins the name set exactly."""
    if isinstance(step, P.Project):
        return {pf.name for pf in step.fields}
    if isinstance(step, P.SummarizeStep):
        return {n for n, _ in step.aggs} | {bf.name for bf in step.by}
    return None


def _flatten_and(e: Expr) -> list:
    """flatten_and_conditions (push_filter_into_join.rs:108)."""
    if isinstance(e, BinOp) and e.op == "and":
        return _flatten_and(e.left) + _flatten_and(e.right)
    return [e]


def _and_all(conds: list) -> Expr:
    out = conds[0]
    for c in conds[1:]:
        out = BinOp("and", out, c)
    return out


def _related(p: str, q: str) -> bool:
    """Same path, or one is a nested extension of the other."""
    return p == q or p.startswith((q + ".", q + "[")) or q.startswith((p + ".", p + "["))


def _suffix_shadows(path: str, right_fields: set) -> bool:
    """True when ``path``'s head looks like the engine's join collision
    suffix of a right-side output name (x → x1; join.rs:57 and
    compiler._join agree on the scheme): the post-join column by that
    name is the RIGHT side's renamed copy, which a left/right
    classification over pre-join names cannot model. The reference's
    pass classifies any unknown name as left (push_filter_into_join.rs
    classify_condition) and would push the condition to the wrong
    side; we refuse it instead (a deliberate soundness divergence)."""
    head = _head(path)
    stripped = head.rstrip("0123456789")
    if not stripped or stripped == head:
        return False
    return stripped in {_head(f) for f in right_fields}


def _hits_right(path: str, right_fields: set) -> bool:
    """``path`` reads right-side output: exact match, or a nested
    access under a right output name (the reference's exact Field
    equality would classify ``a.b`` as LEFT when the right outputs
    object ``a`` — and push the condition to the wrong side; treating
    prefix relations as right hits is the sound reading)."""
    _charge_work(len(right_fields) + 1)
    return any(_related(path, rf) for rf in right_fields)


def _classify_condition(cond: Expr, right_fields: set) -> str:
    """'left' | 'right' | 'both' — classify_condition
    (push_filter_into_join.rs:131). Field-less (constant) conditions
    and suffix-shadowed names stay after the join ('both')."""
    paths = _referenced_paths(cond)
    if not paths:
        return "both"
    has_left = has_right = False
    for p in paths:
        if _suffix_shadows(p, right_fields):
            return "both"
        if _hits_right(p, right_fields):
            has_right = True
        else:
            has_left = True
    if has_left and not has_right:
        return "left"
    if has_right and not has_left:
        return "right"
    return "both"


def push_filter_into_join(steps: list) -> tuple[list, bool]:
    """push_filter_into_join.rs: split a post-join filter's AND
    conditions by side and push each into its join branch — left
    conditions move before the join (inner/left joins), right
    conditions append to the join's sub-plan (inner/right joins),
    both-sided conditions stay after. Outer joins block everything
    (a pushed condition would turn padded nulls into dropped rows
    asymmetrically). Converges naturally: after one firing the
    remaining post-join filter holds only 'both' conditions, and the
    sub-plan's last step becomes the pushed Filter, so its output
    field set is no longer statically known."""
    for i in range(len(steps) - 1):
        join, filt = steps[i], steps[i + 1]
        if not isinstance(join, P.JoinStep) or not isinstance(filt, P.Filter):
            continue
        if join.how == "outer":
            continue
        if not join.sub.steps:
            continue
        right_fields = _last_step_out_fields(join.sub.steps[-1])
        if right_fields is None:
            continue
        if join.left_on == join.right_on:
            # the join merge keeps one column under the shared name,
            # sourced from the left (compiler._join coalesce) — the
            # reference drops the right's copy too
            right_fields = right_fields - {join.right_on}
        left_conds, right_conds, rest = [], [], []
        for cond in _flatten_and(filt.expr):
            side = _classify_condition(cond, right_fields)
            if side == "left" and join.how in ("inner", "left"):
                left_conds.append(cond)
            elif side == "right" and join.how in ("inner", "right"):
                right_conds.append(cond)
            else:
                rest.append(cond)
        if not left_conds and not right_conds:
            continue
        out = list(steps[:i])
        if left_conds:
            out.append(P.Filter(_and_all(left_conds)))
        new_sub = join.sub
        if right_conds:
            new_sub = P.Plan(
                tuple(join.sub.steps) + (P.Filter(_and_all(right_conds)),)
            )
        out.append(
            P.JoinStep(
                join.left_on, join.right_on, new_sub,
                join.how, join.partitions, join.broadcast,
            )
        )
        if rest:
            out.append(P.Filter(_and_all(rest)))
        out.extend(steps[i + 2 :])
        return out, True
    return steps, False


#: steps the project-into-join pattern may cross (the reference's
#: `[^Join Union Tee Write]*?` lazy middle)
_PPIJ_MIDDLE = (P.Filter, P.Extend, P.Rename, P.Expand, P.SortStep, P.Top, P.Limit)
_PPIJ_END = (P.Project, P.SummarizeStep, P.CountStep)


def required_before_step(step, after: set):
    """compute_required_before_step (eliminate_unused_fields.rs:73)
    over full dotted paths. Returns the field paths the INPUT of
    ``step`` must carry so the steps from ``step`` onward (which need
    ``after`` of its output) still see everything they read, or None
    for a shape the exact-match model can't track soundly (a nested
    path overlapping an extend/rename target — the reference misses
    those and can under-require; we bail)."""
    _charge_work(len(after) + 1)
    if isinstance(step, P.CountStep):
        return set()
    if isinstance(step, P.SummarizeStep):
        req: set = set()
        for bf in step.by:
            req |= _referenced_paths(bf.expr)
        for _, agg in step.aggs:
            if agg.arg is not None:
                req |= _referenced_paths(agg.arg)
        return req
    if isinstance(step, P.Project):
        req = set()
        for pf in step.fields:
            req |= _referenced_paths(pf.expr)
        return req
    if isinstance(step, P.Extend):
        after = set(after)
        needed: set = set()
        for pf in step.fields:
            if {p for p in after if _related(p, pf.name)} - {pf.name}:
                return None
            if pf.name in after:
                # extend binds against the INPUT row (project.rs:42),
                # so the definition's inputs are input-level needs
                needed |= _referenced_paths(pf.expr)
        for pf in step.fields:
            after.discard(pf.name)
        return after | needed
    if isinstance(step, P.Rename):
        after = set(after)
        needed = set()
        for frm, to in step.pairs:
            if {p for p in after if _related(p, to)} - {to}:
                return None
            if to in after:
                needed.add(frm)
        for _, to in step.pairs:
            after.discard(to)
        return after | needed
    if isinstance(step, P.Filter):
        return set(after) | _referenced_paths(step.expr)
    if isinstance(step, (P.SortStep, P.Top)):
        return set(after) | {s.by for s in step.sorts}
    if isinstance(step, P.Expand):
        return set(after) | set(step.fields)
    if isinstance(step, P.Limit):
        return set(after)
    return None


def scan_narrowing_fields(steps) -> set | None:
    """EliminateUnusedFields analog for refused-pushdown tails
    (eliminate_unused_fields.rs:22-56): given the ENGINE-SIDE residual
    after a scan (the scan itself excluded), return the top-level
    source field names it can possibly read — so the connector's hit
    fetch can narrow ``_source_includes`` even though no project was
    absorbed. Returns None unless the residual reaches a
    Count/Summarize/Project end with a trackable required-fields walk
    (the reference's pattern ``Scan ([^Tee Write]+?) [Count Summarize
    Project]``; unlike the reference, an end DIRECTLY after the scan
    also qualifies — that is exactly the refused-computed-project
    case this narrowing exists for). Join steps contribute their left
    key and pass the tail's requirements through (right-side names
    become harmless extra includes); Unions pass through unchanged —
    both per compute_required_before_step."""
    end_idx = None
    for idx, s in enumerate(steps):
        if isinstance(s, (P.Tee, P.Write)):
            return None
        if isinstance(s, (P.Project, P.SummarizeStep, P.CountStep)):
            end_idx = idx
            break
    if end_idx is None:
        return None
    required: set = set()
    for s in reversed(steps[: end_idx + 1]):
        if isinstance(s, P.JoinStep):
            required = set(required) | {s.left_on}
            continue
        if isinstance(s, P.Union):
            continue
        required = required_before_step(s, required)
        if required is None:
            return None
    return {_head(p) for p in required} or None


def _identity_project(names) -> P.Project:
    return P.Project(
        tuple(P.ProjectField(Field.of(n), n) for n in sorted(names))
    )


def push_project_into_join(steps: list) -> tuple[list, bool]:
    """push_project_into_join.rs: when the steps after a join end at a
    Project/Summarize/Count, both join sides narrow to the fields that
    tail actually needs — an identity project lands before the join
    (left schema is unknown, so always) and appended to the right
    sub-plan (only when it drops fields). Ahead of negotiation this
    turns into ``_source_includes`` on each side's wire request.

    Divergences from the reference, both soundness fixes:

    - the join KEYS always stay on their sides. The reference removes
      a same-named right key from right_fields before splitting, so
      its pruned right project drops the key and the join matches
      nothing (push_project_into_join.rs:56 + its overlapping_join_keys
      test never checks the right side).
    - already-pushed guard: the pass re-fires only if it would change
      something (the reference re-fires unconditionally whenever the
      pattern matches, stacking identity projects / ping-ponging with
      MergeConsecutiveProjects; our fixpoint loop must converge)."""
    for i, join in enumerate(steps):
        if not isinstance(join, P.JoinStep) or not join.sub.steps:
            continue
        raw_right = _last_step_out_fields(join.sub.steps[-1])
        if raw_right is None:
            continue
        j = i + 1
        while j < len(steps) and isinstance(steps[j], _PPIJ_MIDDLE):
            j += 1
        if j >= len(steps) or not isinstance(steps[j], _PPIJ_END):
            continue
        required: set = set()
        for s in reversed(steps[i + 1 : j + 1]):
            required = required_before_step(s, required)
            if required is None:
                break
        if required is None:
            continue
        required |= {join.left_on, join.right_on}
        right_fields = raw_right - (
            {join.right_on} if join.left_on == join.right_on else set()
        )
        if any(_suffix_shadows(p, right_fields) for p in required):
            continue
        left_required = {
            _head(p) for p in required if not _hits_right(p, right_fields)
        }
        right_required = {
            rf for rf in right_fields
            if any(_related(p, rf) for p in required)
        }
        # keys stay (divergence 1 above)
        left_required.add(_head(join.left_on))
        if join.right_on in raw_right:
            right_required.add(join.right_on)
        prune_right = len(right_required) < len(raw_right)
        prev_out = _last_step_out_fields(steps[i - 1]) if i > 0 else None
        insert_left = not (prev_out is not None and prev_out <= left_required)
        if not insert_left and not prune_right:
            continue
        out = list(steps[:i])
        if insert_left:
            out.append(_identity_project(left_required))
        new_join = join
        if prune_right:
            new_join = P.JoinStep(
                join.left_on, join.right_on,
                P.Plan(tuple(join.sub.steps) + (_identity_project(right_required),)),
                join.how, join.partitions, join.broadcast,
            )
        out.append(new_join)
        out.extend(steps[i + 1 :])
        return out, True
    return steps, False


# ---------------------------------------------------------------------------
# fixpoint driver


def _limit_passes(steps: list) -> tuple[list, bool]:
    changed = False
    for fn in (_sort_limit_to_topn, _limit_into_limit, _limit_into_topn, _merge_topns):
        steps, c = _pairwise_pass(steps, fn)
        changed = changed or c
    return steps, changed


def _extract_eq_constraints(e: Expr) -> dict:
    """``field == non-null-literal`` facts from an AND-tree
    (filter_propagation.rs extract_equality_constraints). A null
    literal is excluded: ``x == null`` is a null TEST here, so
    surviving rows carry a null x that substitution could not
    represent as a value."""
    if isinstance(e, BinOp) and e.op == "eq":
        for f, v in ((e.left, e.right), (e.right, e.left)):
            if (
                isinstance(f, Field)
                and f.path.is_simple()
                and isinstance(v, Lit)
                and v.value is not None
            ):
                return {str(f.path): v}
        return {}
    if isinstance(e, BinOp) and e.op == "and":
        out = _extract_eq_constraints(e.left)
        for k, v in _extract_eq_constraints(e.right).items():
            out.setdefault(k, v)
        return out
    return {}


def _extract_range_constraints(e: Expr) -> dict:
    """{path: [(op, number)]} from an AND-tree of numeric range
    comparisons (filter_propagation.rs extract_range_constraints)."""
    fc = _field_cmp_simple(e)
    if fc is not None:
        p, op, v = fc
        return {p: [(op, v)]}
    if isinstance(e, BinOp) and e.op == "and":
        out = _extract_range_constraints(e.left)
        for k, v in _extract_range_constraints(e.right).items():
            out.setdefault(k, []).extend(v)
        return out
    return {}


def _field_cmp_simple(e: Expr):
    from miso_spark.sources.case_transform import _field_cmp

    fc = _field_cmp(e)
    if fc is None:
        return None
    # restrict to simple (non-nested) paths — shadow tracking below is
    # name-level
    if isinstance(e.left, Field) and not e.left.path.is_simple():
        return None
    if isinstance(e.right, Field) and not e.right.path.is_simple():
        return None
    return fc


def _implied(known: list, op: str, val) -> bool | None:
    """check_implication (filter_propagation.rs:158-176): does any
    known bound on the same field decide ``field <op> val`` for every
    surviving row? Sound under the engine's TOTAL order because both
    bounds are numbers and only transitivity is used (a non-numeric
    class sits entirely on one side of all numbers, so it satisfies or
    violates both comparisons together)."""
    lower = {"gt", "gte"}
    strict = {"gt", "lt"}
    for kop, kv in known:
        if (kop in lower) == (op in lower):
            if kop in lower:
                stronger = kv > val or (
                    kv == val and (kop in strict or op not in strict)
                )
            else:
                stronger = kv < val or (
                    kv == val and (kop in strict or op not in strict)
                )
            if stronger:
                return True
        else:
            if kop in lower:
                contradicts = val < kv or (
                    val == kv and (kop in strict or op in strict)
                )
            else:
                contradicts = val > kv or (
                    val == kv and (kop in strict or op in strict)
                )
            if contradicts:
                return False
    return None


def _apply_ranges(e: Expr, ranges: dict) -> Expr:
    fc = _field_cmp_simple(e)
    if fc is not None and fc[0] in ranges:
        res = _implied(ranges[fc[0]], fc[1], fc[2])
        if res is not None:
            return Lit(res)
    r = lambda x: _apply_ranges(x, ranges)  # noqa: E731
    if isinstance(e, BinOp):
        return BinOp(e.op, r(e.left), r(e.right))
    if isinstance(e, Not):
        return Not(r(e.expr))
    if isinstance(e, Case):
        return Case(tuple((r(c), r(v)) for c, v in e.branches), r(e.default))
    return e


def propagate_filter_constraints(steps: list) -> tuple[list, bool]:
    """filter_propagation.rs: facts a filter establishes (``x == 5``,
    ``x > 3``) substitute into downstream summarize BY expressions —
    ``where x == 5 | summarize by case(x == 7, ...)`` becomes
    ``... by case(5 == 7, ...)``, which fold_exprs then collapses; the
    simplified group expression is what ships in the wire aggregation.
    Unlike the reference (which substitutes across ANY middle
    extend/project with stale facts), constraints DROP at a step that
    shadows the field and at a project that doesn't pass it through
    identically — substitution past either would change results."""
    out = list(steps)
    changed = False
    for i, s in enumerate(out):
        if not isinstance(s, P.Filter):
            continue
        eqs = _extract_eq_constraints(s.expr)
        ranges = _extract_range_constraints(s.expr)
        if not eqs and not ranges:
            continue
        for j in range(i + 1, len(out)):
            t = out[j]
            if isinstance(t, P.SummarizeStep):
                new_by = []
                ch = False
                for bf in t.by:
                    if isinstance(bf.expr, Field):
                        # deliberate divergence: the reference
                        # substitutes bare by-fields too
                        # (filter_propagation.rs:319), turning `where
                        # level == 'x' | summarize by level` into a
                        # by-LITERAL — which no connector can absorb
                        # as a terms/stats-by aggregation. The bare
                        # key is already a single value; substitution
                        # gains nothing and loses the wire push.
                        new_by.append(bf)
                        continue
                    try:
                        ne = substitute_fields(bf.expr, eqs)
                    except _CannotSubstitute:
                        ne = bf.expr
                    if ranges:
                        ne = _apply_ranges(ne, ranges)
                    ch = ch or ne != bf.expr
                    new_by.append(P.ByField(ne, bf.name))
                if ch:
                    out[j] = replace(t, by=tuple(new_by))
                    changed = True
                break  # schema changes past the summarize
            if isinstance(t, (P.Extend, P.Rename, P.Project)):
                if isinstance(t, P.Rename):
                    # a pure relabel transfers facts to the new names —
                    # built in ONE shot, because the step compiles via
                    # withColumnsRenamed (simultaneous): for pairs
                    # (a→b, b→c) the fact on `a` lands on `b` only;
                    # migrating pair-by-pair would chain it onto `c`,
                    # which holds the ORIGINAL b's values (r10 advice)
                    srcs = {frm for frm, _ in t.pairs}
                    tgts = {to for _, to in t.pairs}
                    eqs = {
                        **{
                            k: v
                            for k, v in eqs.items()
                            if k not in srcs and k not in tgts
                        },
                        **{to: eqs[frm] for frm, to in t.pairs if frm in eqs},
                    }
                    ranges = {
                        **{
                            k: v
                            for k, v in ranges.items()
                            if k not in srcs and k not in tgts
                        },
                        **{
                            to: ranges[frm]
                            for frm, to in t.pairs
                            if frm in ranges
                        },
                    }
                elif isinstance(t, P.Extend):
                    for pf in t.fields:
                        eqs.pop(pf.name, None)
                        ranges.pop(pf.name, None)
                else:  # Project: only identity-kept fields survive
                    kept = {
                        pf.name
                        for pf in t.fields
                        if isinstance(pf.expr, Field)
                        and str(pf.expr.path) == pf.name
                    }
                    eqs = {k: v for k, v in eqs.items() if k in kept}
                    ranges = {k: v for k, v in ranges.items() if k in kept}
                if not eqs and not ranges:
                    break
                continue
            if isinstance(t, (P.Filter, P.Limit, P.SortStep, P.Top, P.Distinct)):
                continue  # row-subset / reorder: facts still hold
            break  # union/join/expand/scan boundaries: stop
    return out, changed


def fold_exprs(steps: list) -> tuple[list, bool]:
    """const_folding parity (miso-optimizations/src/const_folding,
    partial_evaluator.rs): simplify filter / project / extend
    expressions with the shared partial evaluator. Catalyst folds the
    same shapes engine-side, but connector wire requests are built
    from THIS tree before Catalyst ever sees it — `x == 1 or x == 2`
    ships as one terms filter, `not(x > 5)` as a plain range, and a
    contradictory range (`x > 5 and x < 3` → false) skips the service
    roundtrip. Unlike the reference's pass (first match only), every
    matching step folds."""
    from miso_spark.sources.case_transform import partial_eval

    out = list(steps)
    changed = False
    for i, s in enumerate(out):
        if isinstance(s, P.Filter):
            ne = partial_eval(s.expr)
            if ne != s.expr:
                out[i] = P.Filter(ne)
                changed = True
        elif isinstance(s, (P.Project, P.Extend)):
            nf = tuple(
                P.ProjectField(partial_eval(pf.expr), pf.name) for pf in s.fields
            )
            if nf != s.fields:
                out[i] = type(s)(nf)
                changed = True
        elif isinstance(s, P.SummarizeStep):
            nb = tuple(
                P.ByField(partial_eval(bf.expr), bf.name) for bf in s.by
            )
            na = tuple(
                (n, P.Agg(a.kind, partial_eval(a.arg)) if a.arg is not None else a)
                for n, a in s.aggs
            )
            if nb != s.by or na != s.aggs:
                out[i] = replace(s, aggs=na, by=nb)
                changed = True
    return out, changed


def summarize_const_to_project(steps: list) -> tuple[list, bool]:
    """summarize_const_to_project.rs: an agg-less summarize whose
    group keys are ALL literals yields at most one row carrying those
    constants — Limit(1) + Project. Unlike the reference, a null
    literal refuses: the engine (like the reference's own runtime,
    summarize.rs:151) drops null group keys, so the original returns
    ZERO rows where the limit+project would return one."""
    out = list(steps)
    changed = False
    for i, s in enumerate(out):
        if not isinstance(s, P.SummarizeStep) or s.aggs or not s.by:
            continue
        if all(
            isinstance(bf.expr, Lit) and bf.expr.value is not None
            for bf in s.by
        ):
            out[i : i + 1] = [
                P.Limit(1),
                P.Project(
                    tuple(P.ProjectField(bf.expr, bf.name) for bf in s.by)
                ),
            ]
            changed = True
            break
    return out, changed


#: runaway guards (r13 soak diagnosis): a generated plan drove the
#: fixpoint machinery into a multi-minute burn that ended in a
#: faulthandler segfault while walking an enormous main-thread stack.
#: Healthy plans never approach these bounds (the widest bench plan is
#: ~40 steps, nesting ≤ 6); tripping one raises a diagnosable error —
#: naming the step shapes — instead of burning CPU until an external
#: kill. Depth is tracked per-thread (server threads optimize
#: concurrently).
import threading as _threading

_opt_tls = _threading.local()
MAX_OPT_DEPTH = 64
MAX_OPT_STEPS = 2000
#: RECURSIVE step budget: union/join/let sub-plans count too — the
#: observed runaway stacked copies INSIDE branch sub-plans, invisible
#: to a top-level length check, and the structurally-shared tree made
#: every plan equality walk exponential before the depth guard could
#: trip. The counter early-exits at the budget, so the check itself
#: stays O(budget) per round even on a pathological plan.
MAX_OPT_TOTAL_STEPS = 20_000
#: PER-RUN work budget over the required-fields/path machinery (r13→14
#: verdict: a 30-min burn sat in _hits_right under
#: push_project_into_join — the step/depth guards bound plan SIZE but
#: not the (rounds × sub-plan recursion × per-pass path comparisons)
#: product, which on an adversarial shape multiplies into CPU-hours
#: with the plan never growing). Units ≈ one _related() path
#: comparison. The widest bench plan spends < 10^5 units end-to-end;
#: the budget is ~3 orders above that and ~3 below the observed burn.
MAX_OPT_WORK = 50_000_000
#: total fixpoint ROUNDS per top-level optimize run, summed across all
#: sub-plan recursions: ping-ponging passes (A does, B undoes) churn
#: rounds at every nesting level — a (rounds × sub-plans)^depth
#: product the plan-size guard never sees.
MAX_OPT_ROUNDS_TOTAL = 100_000
#: fixpoint ROUNDS per optimize_steps call (one nesting level). A chain
#: of k extends before a filter/summarize takes k rounds to inline, so
#: legitimate plans need tens; 100 is also Catalyst's default
#: spark.sql.optimizer.maxIterations. Not converging within it raises.
MAX_OPT_ROUNDS = 100


def _charge_work(units: int) -> None:
    """Debit ``units`` from the per-run optimizer work budget (armed
    only inside a top-level optimize_steps; helpers called from
    negotiation or tests outside a run are uncounted)."""
    w = getattr(_opt_tls, "work", None)
    if w is None:
        return
    w += units
    _opt_tls.work = w
    if w > MAX_OPT_WORK:
        raise RuntimeError(
            f"optimizer runaway: path-comparison work exceeded "
            f"{MAX_OPT_WORK} units in one optimize run (required-fields"
            f" walk churn — see rewrite.py MAX_OPT_WORK)"
        )


def _bounded_plan_size(steps, budget: int) -> int:
    """Total step count including sub-plans, clamped at ``budget``
    (early exit — never walks more than budget nodes)."""
    n = 0
    stack = [steps]
    while stack and n <= budget:
        cur = stack.pop()
        for s in cur:
            n += 1
            if n > budget:
                return n
            sub = getattr(s, "sub", None)
            if sub is not None:
                stack.append(sub.steps)
    return n


def optimize_steps(steps, can_absorb=None) -> tuple:
    """Run the pushdown-enabling passes to fixpoint over ``steps``
    (tuple in, tuple out), recursing into union/join/let sub-plans.
    The result is a true fixpoint — ``optimize_steps(out) == out`` —
    or the call raises the "optimizer runaway" ``RuntimeError``: after
    :data:`MAX_OPT_ROUNDS` rounds at one level, or when one of the
    size/depth/work budgets below trips. ``can_absorb`` gates
    :func:`push_steps_into_union` (see there); it describes the OUTER
    scan's connector, so it is not forwarded into sub-plans (their
    scans negotiate with their own connectors)."""
    depth = getattr(_opt_tls, "depth", 0)
    if depth > MAX_OPT_DEPTH:
        raise RuntimeError(
            f"optimizer runaway: sub-plan recursion exceeded "
            f"{MAX_OPT_DEPTH} levels at {[type(s).__name__ for s in steps[:8]]}"
        )
    if depth == 0:
        # arm the per-run work/rounds budgets (top-level entry only —
        # nested recursions share them, which is the point: the burn
        # is the product across levels)
        _opt_tls.work = 0
        _opt_tls.rounds = 0
    _opt_tls.depth = depth + 1
    try:
        return _optimize_steps_inner(steps, can_absorb)
    finally:
        _opt_tls.depth = depth
        if depth == 0:
            _opt_tls.work = None
            _opt_tls.rounds = None


def _optimize_steps_inner(steps, can_absorb) -> tuple:
    out = list(steps)
    for _ in range(MAX_OPT_ROUNDS):
        r = getattr(_opt_tls, "rounds", None)
        if r is not None:
            _opt_tls.rounds = r = r + 1
            if r > MAX_OPT_ROUNDS_TOTAL:
                raise RuntimeError(
                    f"optimizer runaway: fixpoint rounds exceeded "
                    f"{MAX_OPT_ROUNDS_TOTAL} across sub-plan recursions "
                    f"(pass ping-pong — top shapes {_shape(out)})"
                )
        if len(out) > MAX_OPT_STEPS:
            raise RuntimeError(
                f"optimizer runaway: plan grew past {MAX_OPT_STEPS} "
                f"top-level steps ({len(out)}, top shapes {_shape(out)})"
            )
        if _bounded_plan_size(out, MAX_OPT_TOTAL_STEPS) > MAX_OPT_TOTAL_STEPS:
            raise RuntimeError(
                f"optimizer runaway: plan grew past {MAX_OPT_TOTAL_STEPS} "
                f"total steps counting sub-plans (top-level {len(out)}, "
                f"top shapes {_shape(out)})"
            )
        changed = False
        # recurse into sub-plans each round — first so a union sub-plan
        # arrives at apply_union fully normalized (the shape the
        # reference's recursive optimizer produces), and per-round so a
        # step a join push APPENDED to a sub-plan (push_filter_into_join
        # right conditions) gets normalized inside it too.
        # Identity-preserving: an unchanged step keeps its object — the
        # compiler keys per-run caches by step identity (prejoined
        # joins). A changed step keeps every other field, Union.pushed
        # included. can_absorb stays scan-local by design.
        for i, s in enumerate(out):
            if isinstance(s, (P.Union, P.JoinStep, P.Let)):
                sub = optimize_steps(s.sub.steps)
                if sub != tuple(s.sub.steps):
                    out[i] = replace(s, sub=P.Plan(sub))
                    changed = True
        out, c = fold_exprs(out)
        changed = changed or c
        out, c = propagate_filter_constraints(out)
        changed = changed or c
        out, c = summarize_const_to_project(out)
        changed = changed or c
        out, c = lower_distinct(out)
        changed = changed or c
        out, c = _limit_passes(out)
        changed = changed or c
        out, c = project_propagation(out)
        changed = changed or c
        out, c = push_filter_into_join(out)
        changed = changed or c
        out, c = push_project_into_join(out)
        changed = changed or c
        out, c = push_steps_into_union(out, can_absorb)
        changed = changed or c
        if not changed:
            return tuple(out)
    raise RuntimeError(
        f"optimizer runaway: no fixpoint after {MAX_OPT_ROUNDS} rounds "
        f"(top shapes {_shape(out)})"
    )


def _shape(steps) -> list:
    return Counter(type(s).__name__ for s in steps).most_common(5)
