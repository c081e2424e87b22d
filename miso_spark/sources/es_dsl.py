"""Expr → Elasticsearch/Quickwit query-DSL compiler.

Behavioral parity with the reference's pushdown translation
(miso-connectors/src/elasticsearch.rs compile_filter_ast, :443-630):
whole-or-nothing per filter expression — ``None`` means the connector
can't absorb this predicate and the engine keeps it (the same contract
as ``Connector::apply_filter`` returning None). Quickwit accepts the
same query-DSL subset, so both connectors share this module; the
compiled filter goes out in the ``query`` body of their ``_search``
and ``_count`` requests.
"""

from __future__ import annotations

from datetime import datetime

from miso_spark.exprs import Between, BinOp, Exists, Expr, Field, In, Lit, Not


def _fmt(v: object) -> str:
    """Literal formatting: the reference sends every value as a string
    (elasticsearch.rs format_value; test expects {"value": "42"})."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime):
        return v.isoformat()
    return str(v)


def _field_name(e: Expr) -> str | None:
    """Pushable field: plain (possibly nested) path, no array access —
    elasticsearch.rs rejects has_array_access fields."""
    if not isinstance(e, Field):
        return None
    if any(idxs for _, idxs in e.path.segments):
        return None
    return str(e.path)


def _field_lit(l: Expr, r: Expr) -> tuple[str, object] | None:
    f = _field_name(l)
    if f is None or not isinstance(r, Lit) or r.value is None:
        return None
    return f, r.value


_RANGE_OPS = {"gt": "gt", "gte": "gte", "lt": "lt", "lte": "lte"}


def compile_filter(
    e: Expr,
    minimum_should_match: bool | None = None,
    flavor: str = "elasticsearch",
) -> dict | None:
    """Compile a filter Expr to an ES bool-query dict, or None when any
    part is not pushdown-able (whole-or-nothing, like the reference).

    ``flavor`` gates the token-match predicates on each service's
    default analysis — the one place the two translations diverge:
    Elasticsearch's standard analyzer lowercases, so ``has``
    (case-insensitive) maps to match_phrase and ``has_cs`` stays
    engine-side (elasticsearch.rs:529 compiles Has, no HasCs arm);
    Quickwit's default tokenizer preserves case, so ``has_cs`` maps to
    match_phrase and ``has`` stays engine-side (quickwit.rs:505
    compiles HasCs, no Has arm).

    ``minimum_should_match=False`` emits Quickwit's OR shape
    (quickwit.rs:435 omits the field; elasticsearch.rs:454 sets it —
    semantically identical for a should-only bool, but the wire shapes
    mirror each connector exactly); default follows the flavor."""
    if minimum_should_match is None:
        minimum_should_match = flavor == "elasticsearch"
    if isinstance(e, BinOp):
        if e.op == "or":
            parts = [
                compile_filter(e.left, minimum_should_match, flavor),
                compile_filter(e.right, minimum_should_match, flavor),
            ]
            if any(p is None for p in parts):
                return None
            out: dict = {"bool": {"should": parts}}
            if minimum_should_match:
                out["bool"]["minimum_should_match"] = 1
            return out
        if e.op == "and":
            parts = [
                compile_filter(e.left, minimum_should_match, flavor),
                compile_filter(e.right, minimum_should_match, flavor),
            ]
            if any(p is None for p in parts):
                return None
            return {"bool": {"must": parts}}
        if e.op == "eq":
            fl = _field_lit(e.left, e.right)
            if fl is None:
                return None
            return {"term": {fl[0]: {"value": _fmt(fl[1])}}}
        if e.op == "ne":
            fl = _field_lit(e.left, e.right)
            if fl is None:
                return None
            return {"bool": {"must_not": {"term": {fl[0]: _fmt(fl[1])}}}}
        if e.op in _RANGE_OPS:
            fl = _field_lit(e.left, e.right)
            if fl is None:
                return None
            rng = {"range": {fl[0]: {_RANGE_OPS[e.op]: _fmt(fl[1])}}}
            if e.op in ("lt", "lte"):
                # DELIBERATE divergence from the reference's emission
                # (r11 pushdown-fuzzer find, supersedes the r10 mirror
                # decision): an ES range never matches docs whose
                # field is missing/null, but the engine's total-order
                # `< / <=` KEEPS them (null is the smallest value), so
                # the bare range dropped rows the refused run returns.
                # OR in a must_not-exists arm — the same
                # engine-over-emission precedent as the dcount
                # value_count companion.
                return _or_missing(rng, fl[0], minimum_should_match)
            return rng
        if e.op == "startswith":
            fl = _field_lit(e.left, e.right)
            if fl is None:
                return None
            return {"match_phrase_prefix": {fl[0]: {"query": _fmt(fl[1])}}}
        if e.op == "has" and flavor == "elasticsearch":
            fl = _field_lit(e.left, e.right)
            # empty phrase matches NOTHING engine-side (string_ops.rs
            # :86-88) — keep it there; an empty match_phrase analyzes
            # to zero tokens and its service behavior is flavor-defined
            if fl is None or not isinstance(fl[1], str) or not fl[1]:
                return None
            return {"match_phrase": {fl[0]: fl[1]}}
        if e.op == "has_cs" and flavor == "quickwit":
            fl = _field_lit(e.left, e.right)
            if fl is None or not isinstance(fl[1], str) or not fl[1]:
                return None
            return {"match_phrase": {fl[0]: fl[1]}}
        # contains/endswith, the flavor's non-native token match, and
        # arithmetic have no exact analog → keep engine-side
        return None
    if isinstance(e, Not):
        inner = compile_filter(e.expr, minimum_should_match, flavor)
        if inner is None:
            return None
        return {"bool": {"must_not": inner}}
    if isinstance(e, Exists):
        f = _field_name(e.expr)
        if f is None:
            return None
        return {"exists": {"field": f}}
    if isinstance(e, In):
        f = _field_name(e.expr)
        if f is None:
            return None
        values = []
        for item in e.items:
            if not isinstance(item, Lit):
                return None
            values.append(_fmt(item.value))
        return {"terms": {f: values}}
    if isinstance(e, Between):
        # the reference desugars between at parse time
        # (parser.rs:754-766): between → gte AND lte,
        # !between → lt OR gt
        f = _field_lit(e.expr, e.low), _field_lit(e.expr, e.high)
        if f[0] is None or f[1] is None:
            return None
        name = f[0][0]
        lo, hi = _fmt(f[0][1]), _fmt(f[1][1])
        if e.negated:
            # !between keeps a null/missing base engine-side (the
            # negation of a proper FALSE) — same missing-docs arm as
            # lt/lte above (r11)
            out = {
                "bool": {
                    "should": [
                        {"range": {name: {"lt": lo}}},
                        {"range": {name: {"gt": hi}}},
                        {"bool": {"must_not": {"exists": {"field": name}}}},
                    ]
                }
            }
            if minimum_should_match:
                out["bool"]["minimum_should_match"] = 1
            return out
        return {
            "bool": {
                "must": [
                    {"range": {name: {"gte": lo}}},
                    {"range": {name: {"lte": hi}}},
                ]
            }
        }
    return None


def _or_missing(query: dict, field: str, minimum_should_match: bool) -> dict:
    """``query OR field-is-missing`` — the wire form of the engine's
    total-order null/missing-keeping comparisons (lt/lte/!between)."""
    out: dict = {
        "bool": {
            "should": [
                query,
                {"bool": {"must_not": {"exists": {"field": field}}}},
            ]
        }
    }
    if minimum_should_match:
        out["bool"]["minimum_should_match"] = 1
    return out
