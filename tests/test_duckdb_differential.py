"""Whole-query KQL ↔ DuckDB differential fuzzer.

The rewrite-soundness property suites (test_rewrite_property.py)
compare optimized-vs-unoptimized plans on the SAME engine — a compile
bug that affects both sides is invisible to them. This suite closes
that hole: hypothesis generates random pipelines as PAIRED (KQL, SQL)
programs from one draw, runs the KQL through the full engine
(parse → optimize → compile → Spark) and the SQL through DuckDB over
the same rows, and asserts multiset equality. It is the driver's
oracle model (CORRECTNESS_r*.json) generalized from 50 fixed queries
to the generated space.

The SQL side encodes the ENGINE's documented semantics explicitly
(they are deliberate, reference-pinned divergences from ANSI — see
SURVEY §3), so any mismatch is an engine bug, not a dialect gap:

- total-order comparisons (value/mod.rs:147): null is the smallest
  value, so ``x != 5`` / ``x < 5`` / ``x <= 5`` are TRUE for null x
  → SQL ``(x IS NULL OR …)``; eq/gt/gte are FALSE for null → plain.
- ``!between`` / ``not(in)`` keep null bases (negation of a proper
  FALSE) → SQL ``(x IS NULL OR NOT …)``.
- summarize drops null GROUP KEYS pre-grouping (summarize.rs:151)
  → SQL ``WHERE k IS NOT NULL``; fielded distinct is the same
  lowering (query_to_workflow.rs:146).
- sum starts at 0 and avg(∅) = 0.0 (summarize.rs:513,655)
  → ``coalesce(sum…, 0)`` / ``coalesce(avg…, 0.0)``.
- dcount counts a present null as a distinct value (tests.rs
  dcount_with_nulls) → ``count(DISTINCT x) + (any-null ? 1 : 0)``.
- sort defaults asc / nulls LAST (kql/parser.py:329) → explicit
  ``NULLS LAST``; ``take`` only generates after a total sort over
  every live column, so ties are identical rows and the limited
  multiset is deterministic (same discipline as the rewrite suite).
- union is by-name with missing columns null-filled → DuckDB
  ``UNION ALL BY NAME``.
- join keys are NULL-SAFE equal by default (the reference's hash join
  hashes Value::Null like any value — tests.rs join_with_null_keys)
  → DuckDB ``IS NOT DISTINCT FROM``.
- has/has_cs are word-boundary phrase matches compiled to an explicit
  boundary regex (string_ops.rs) → the SAME pattern via
  ``regexp_matches``; toint truncates toward zero → ``CAST(TRUNC(…))``;
  tostring is pinned over integral values (float formatting is not
  contractual across engines); tobool is the numeric→boolean cast.
- ``let name = <prefix>; name | <rest>`` is pure naming → same SQL.
- mv-expand (expand.rs): non-empty arrays expand one row per element,
  empty arrays DROP the row, null/missing collections pass through
  → DuckDB lateral ``UNNEST`` (drops null AND empty) unioned with an
  ``IS NULL`` passthrough arm.
"""

from __future__ import annotations

import datetime as _dt
import json

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from miso_spark.compiler import Compiler
from miso_spark.kql import parse_kql
from miso_spark.rewrite import optimize_steps
from miso_spark import plan as P
from miso_spark.sources import MemorySource, SourceRegistry

A_ROWS = [
    (
        i,
        None if i % 7 == 3 else (i * 3) % 11,
        None if i % 5 == 4 else float((i * 2) % 9),
        None if i % 6 == 5 else f"s{i % 4}",
        f"g{i % 3}",
        # expandable collection for the mv-expand arm: null array
        # (passthrough), empty array (row dropped), 1-3 elements.
        # Elements are NEVER null — a null ELEMENT becomes a PRESENT
        # null post-expand on the dynamic path (the write-back
        # re-inserts it as JSON null), where dcount's null bucket has
        # no per-program SQL encoding; null-element semantics are
        # pinned by the unit tests (test_api.py zip tests) instead.
        None if i % 5 == 2 else [(i + j * 7) % 9 for j in range(i % 4)],
    )
    for i in range(40)
]
B_ROWS = [
    (
        1000 + i,
        None if i % 4 == 2 else (i * 5) % 13,
        f"t{i % 3}",
    )
    for i in range(20)
]

A_SCHEMA = "id long, x long, y double, s string, g string, arr array<bigint>"
B_SCHEMA = "id long, x long, t string"


@pytest.fixture(scope="module")
def rig(spark):
    mem = MemorySource()
    mem.put("a", spark.createDataFrame(A_ROWS, A_SCHEMA))
    mem.put("b", spark.createDataFrame(B_ROWS, B_SCHEMA))
    mem.put("d", spark.createDataFrame(D_ROWS, D_SCHEMA))
    return Compiler(SourceRegistry(spark).register("m", mem))


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE a (id BIGINT, x BIGINT, y DOUBLE, s VARCHAR,"
        " g VARCHAR, arr BIGINT[])"
    )
    con.executemany("INSERT INTO a VALUES (?, ?, ?, ?, ?, ?)", A_ROWS)
    con.execute("CREATE TABLE b (id BIGINT, x BIGINT, t VARCHAR)")
    con.executemany("INSERT INTO b VALUES (?, ?, ?)", B_ROWS)
    con.execute(
        "CREATE TABLE d (id BIGINT, ts TIMESTAMP, v BIGINT, h VARCHAR)"
    )
    con.executemany("INSERT INTO d VALUES (?, ?, ?, ?)", D_ROWS)
    return con


# ---------------------------------------------------------------------------
# paired-program generator: one draw emits the KQL step AND its SQL
# wrapping simultaneously, tracking the live column set (and numeric
# classification) exactly like the rewrite suite's generator


NUM = "num"
STR = "str"
BOOL = "bool"  # produced by tobool; joins only type-agnostic arms
# (exists / sort / project / distinct / rename / group keys)


def _cmp_sql(col: str, op: str, lit) -> str:
    """Total-order comparison vs a non-null literal (null smallest)."""
    v = f"'{lit}'" if isinstance(lit, str) else str(lit)
    if op == "==":
        return f"({col} = {v})"
    if op == ">":
        return f"({col} > {v})"
    if op == ">=":
        return f"({col} >= {v})"
    if op == "!=":
        return f"({col} IS NULL OR {col} <> {v})"
    if op == "<":
        return f"({col} IS NULL OR {col} < {v})"
    if op == "<=":
        return f"({col} IS NULL OR {col} <= {v})"
    raise AssertionError(op)


_DYN_CMP = {"==": "=", ">": ">", ">=": ">=", "!=": "<>", "<": "<", "<=": "<="}


def _cmp_sql_dyn(col: str, op: str, lit) -> str:
    """DYNAMIC-dialect comparison: a missing operand poisons the whole
    predicate (expr_eval.rs eval_to_bool! → row dropped), and the
    ingest maps null column values to MISSING keys — so every
    comparison is the PLAIN SQL form, whose NULL-unknown also drops."""
    v = f"'{lit}'" if isinstance(lit, str) else str(lit)
    return f"({col} {_DYN_CMP[op]} {v})"


@st.composite
def programs(draw):
    cols: dict[str, str] = {
        "id": NUM, "x": NUM, "y": NUM, "s": STR, "g": STR,
    }
    kql = ["m.a"]
    sql = "SELECT * FROM a"  # typed dialect
    sqd = "SELECT * FROM a"  # dynamic dialect (missing-key semantics)
    ext_n = 0
    # `arr` rides along HIDDEN (not in cols, so no other arm touches
    # it) until the mv-expand arm turns it into a live NUM column.
    # SELECT *-shaped wrappers (where/extend/sort_take/join/union)
    # carry it on both sides; list-shaped wrappers (project/distinct/
    # summarize/count) drop it on both sides → state "gone". While
    # hidden, take/top stay deterministic because an id-unique column
    # is always live (only the arr-killing arms can drop id), so
    # full-sort ties are identical source rows with identical arr.
    arr_live = True
    n_steps = draw(st.integers(min_value=1, max_value=5))
    for step_i in range(n_steps):
        choices = ["where", "extend", "sort_take", "union", "summarize",
                   "count", "rename"]
        if len(cols) > 1:
            choices.append("project")
            choices.append("distinct")
        if not {"bid", "bx", "bn", "t"} & set(cols) and any(
            t == NUM for t in cols.values()
        ):
            choices.append("join")
        if arr_live:
            choices.append("mv_expand")
        kind = draw(st.sampled_from(choices))

        if kind == "where":
            nums = sorted(n for n, t in cols.items() if t == NUM)
            strs = sorted(n for n, t in cols.items() if t == STR)
            arms = ["exists"]
            if nums:
                arms += ["num", "in", "between", "combo"]
            if strs:
                arms.append("str")
            arm = draw(st.sampled_from(arms))
            if arm == "num":
                c = draw(st.sampled_from(nums))
                op = draw(st.sampled_from([">", "<", ">=", "<=", "==", "!="]))
                lit = draw(st.integers(min_value=0, max_value=8))
                kql.append(f"where {c} {op} {lit}")
                pred = _cmp_sql(c, op, lit)
                pred_d = _cmp_sql_dyn(c, op, lit)
            elif arm == "in":
                strs_in = sorted(n for n, t in cols.items() if t == STR)
                if strs_in and draw(st.booleans()):
                    c = draw(st.sampled_from(strs_in))
                    vals = sorted(
                        draw(
                            st.sets(
                                st.sampled_from(["s1", "s2", "t0", "g1"]),
                                min_size=1,
                                max_size=3,
                            )
                        )
                    )
                    vs_kql = ", ".join(f'"{v}"' for v in vals)
                    vs_sql = ", ".join(f"'{v}'" for v in vals)
                else:
                    c = draw(st.sampled_from(nums))
                    vals = sorted(
                        draw(st.sets(st.integers(0, 8), min_size=1, max_size=3))
                    )
                    vs_kql = vs_sql = ", ".join(map(str, vals))
                if draw(st.booleans()):
                    kql.append(f"where not({c} in ({vs_kql}))")
                    pred = f"({c} IS NULL OR {c} NOT IN ({vs_sql}))"
                    pred_d = f"({c} NOT IN ({vs_sql}))"
                else:
                    kql.append(f"where {c} in ({vs_kql})")
                    pred = pred_d = f"({c} IN ({vs_sql}))"
            elif arm == "between":
                c = draw(st.sampled_from(nums))
                lo = draw(st.integers(0, 6))
                hi = lo + draw(st.integers(0, 5))
                if draw(st.booleans()):
                    kql.append(f"where {c} !between ({lo} .. {hi})")
                    pred = (
                        f"({c} IS NULL OR NOT ({c} >= {lo} AND {c} <= {hi}))"
                    )
                    pred_d = f"(NOT ({c} >= {lo} AND {c} <= {hi}))"
                else:
                    kql.append(f"where {c} between ({lo} .. {hi})")
                    pred = pred_d = f"({c} >= {lo} AND {c} <= {hi})"
            elif arm == "combo":
                c1, c2 = (draw(st.sampled_from(nums)) for _ in range(2))
                j = draw(st.sampled_from(["and", "or"]))
                l1, l2 = (draw(st.integers(0, 8)) for _ in range(2))
                o1 = draw(st.sampled_from([">", "<", "=="]))
                o2 = draw(st.sampled_from([">", ">=", "!="]))
                kql.append(f"where {c1} {o1} {l1} {j} {c2} {o2} {l2}")
                # the engine's and/or are over PROPER total-order
                # booleans (no unknowns on typed columns), so plain
                # SQL AND/OR over the total-order terms is exact
                pred = (
                    f"({_cmp_sql(c1, o1, l1)} {j.upper()}"
                    f" {_cmp_sql(c2, o2, l2)})"
                )
                # dynamic: eval_to_bool! poisons LEFT-first — `missing
                # OR true` is MISSING (dropped) where SQL keeps it, so
                # OR needs the left-presence guard; AND's drop lattice
                # already matches three-valued SQL in filter position
                d1, d2 = _cmp_sql_dyn(c1, o1, l1), _cmp_sql_dyn(c2, o2, l2)
                if j == "or":
                    pred_d = f"({c1} IS NOT NULL AND ({d1} OR {d2}))"
                else:
                    pred_d = f"({d1} AND {d2})"
            elif arm == "str":
                c = draw(st.sampled_from(strs))
                sop = draw(
                    st.sampled_from(
                        ["contains", "startswith", "endswith", "==", "!=",
                         "has", "has_cs"]
                    )
                )
                lit = draw(st.sampled_from(["s1", "t2", "g0", "1"]))
                kql.append(f'where {c} {sop} "{lit}"')
                if sop == "contains":
                    pred = pred_d = f"contains({c}, '{lit}')"
                elif sop == "startswith":
                    pred = pred_d = f"starts_with({c}, '{lit}')"
                elif sop == "endswith":
                    pred = pred_d = f"ends_with({c}, '{lit}')"
                elif sop in ("has", "has_cs"):
                    # word-boundary phrase match (string_ops.rs): the
                    # engine compiles the exact regex below (has is
                    # case-insensitive, has_cs sensitive) — DuckDB's
                    # RE2-style regexp_matches accepts the same pattern
                    pre = "(?i)" if sop == "has" else ""
                    pat = f"{pre}(^|[^A-Za-z0-9]){lit}([^A-Za-z0-9]|$)"
                    pred = pred_d = f"regexp_matches({c}, '{pat}')"
                elif sop == "!=":
                    # total order: null != lit is TRUE (null smallest)
                    pred = f"({c} IS NULL OR {c} <> '{lit}')"
                    pred_d = f"({c} <> '{lit}')"
                else:
                    pred = pred_d = f"({c} = '{lit}')"
            else:
                c = draw(st.sampled_from(sorted(cols)))
                if draw(st.booleans()):
                    kql.append(f"where not(exists({c}))")
                    pred = pred_d = f"({c} IS NULL)"
                else:
                    kql.append(f"where exists({c})")
                    pred = pred_d = f"({c} IS NOT NULL)"
            sql = f"SELECT * FROM ({sql}) w{step_i} WHERE {pred}"
            sqd = f"SELECT * FROM ({sqd}) w{step_i} WHERE {pred_d}"
        elif kind == "extend":
            nums = sorted(n for n, t in cols.items() if t == NUM)
            strs = sorted(n for n, t in cols.items() if t == STR)
            ext_n += 1
            name = f"e{ext_n}"
            arms = ["lit"]
            if nums:
                arms += ["plus", "iff", "iff_str", "case", "shadow",
                         "toint", "tostring", "tobool"]
            if strs:
                arms += ["concat", "extract"]
            arm = draw(st.sampled_from(arms))
            new_type = NUM
            if arm == "plus":
                c = draw(st.sampled_from(nums))
                kql.append(f"extend {name} = {c} + 1")
                expr = f"{c} + 1"
            elif arm == "iff":
                # iff over a total-order comparison: a null operand is
                # proper FALSE (smallest value), same rows as SQL's
                # unknown-takes-ELSE for gt; literal branches
                c = draw(st.sampled_from(nums))
                lit = draw(st.integers(0, 8))
                kql.append(f"extend {name} = iff({c} > {lit}, 1, 0)")
                expr = f"CASE WHEN {c} > {lit} THEN 1 ELSE 0 END"
            elif arm == "iff_str":
                c = draw(st.sampled_from(nums))
                lit = draw(st.integers(0, 8))
                kql.append(
                    f'extend {name} = iff({c} >= {lit}, "hi", "lo")'
                )
                expr = f"CASE WHEN {c} >= {lit} THEN 'hi' ELSE 'lo' END"
                new_type = STR
            elif arm == "case":
                c = draw(st.sampled_from(nums))
                l1 = draw(st.integers(0, 4))
                l2 = l1 + draw(st.integers(1, 4))
                kql.append(
                    f"extend {name} = case({c} > {l2}, 2, {c} > {l1}, 1, 0)"
                )
                expr = (
                    f"CASE WHEN {c} > {l2} THEN 2"
                    f" WHEN {c} > {l1} THEN 1 ELSE 0 END"
                )
            elif arm == "shadow":
                # simultaneous input-row binding (expand r10 fix,
                # compiler.py withColumns): BOTH assignments read the
                # ORIGINAL row — the second sees the pre-assignment
                # value of c, exactly SQL's scope rules where select
                # items can't reference each other's aliases
                c = draw(st.sampled_from(nums))
                kql.append(f"extend {c} = {c} + 1, {name} = {c} * 2")
                sql = (
                    f"SELECT * REPLACE ({c} + 1 AS {c}), {c} * 2 AS {name}"
                    f" FROM ({sql}) x{step_i}"
                )
                sqd = (
                    f"SELECT * REPLACE ({c} + 1 AS {c}), {c} * 2 AS {name}"
                    f" FROM ({sqd}) x{step_i}"
                )
                cols[name] = NUM
                continue
            elif arm == "toint":
                # toint truncates toward zero (Val::cast `as i64`;
                # Spark double→long cast agrees) where DuckDB's CAST
                # ROUNDS — encode the oracle as CAST(TRUNC(c)); null
                # propagates on both
                c = draw(st.sampled_from(nums))
                kql.append(f"extend {name} = toint({c})")
                expr = f"CAST(TRUNC({c}) AS BIGINT)"
            elif arm == "tostring":
                # tostring over an integral value: digit rendering is
                # engine-independent (a bare double would instead pin
                # shortest-float formatting, which the two engines
                # don't contractually share) — chain through toint so
                # the cast-compile path is exercised with an exact
                # oracle; null propagates on both
                c = draw(st.sampled_from(nums))
                kql.append(f"extend {name} = tostring(toint({c}))")
                expr = f"CAST(CAST(TRUNC({c}) AS BIGINT) AS VARCHAR)"
                new_type = STR
            elif arm == "tobool":
                # typed tobool = Spark numeric→boolean cast (0 false,
                # else true, null propagates) — DuckDB CAST agrees
                c = draw(st.sampled_from(nums))
                kql.append(f"extend {name} = tobool({c})")
                expr = f"CAST({c} AS BOOLEAN)"
                new_type = BOOL
            elif arm == "concat":
                # miso's Plus CONCATENATES when both sides are strings
                # (interpreter/mod.rs:234); null/missing propagates —
                # SQL || is null-propagating too
                c = draw(st.sampled_from(strs))
                kql.append(f'extend {name} = {c} + "_z"')
                expr = f"({c} || '_z')"
                new_type = STR
            elif arm == "extract":
                # extract yields NULL on no-match (string_ops.rs:14),
                # where DuckDB's regexp_extract yields '' — encode the
                # oracle with an explicit match guard; null input →
                # null on both. Patterns chosen so hit AND miss rows
                # both occur over the s/t/g corpus strings.
                c = draw(st.sampled_from(strs))
                pat, grp = draw(
                    st.sampled_from(
                        [("([st])([0-9])", 1), ("([st])([0-9])", 2),
                         ("g([0-9])", 1), ("([a-z]+)([0-9]+)", 2)]
                    )
                )
                kql.append(f'extend {name} = extract("{pat}", {grp}, {c})')
                expr = (
                    f"CASE WHEN regexp_matches({c}, '{pat}') THEN"
                    f" regexp_extract({c}, '{pat}', {grp}) ELSE NULL END"
                )
                new_type = STR
            else:
                kql.append(f"extend {name} = 7")
                expr = "7"
            sql = f"SELECT *, {expr} AS {name} FROM ({sql}) x{step_i}"
            sqd = f"SELECT *, {expr} AS {name} FROM ({sqd}) x{step_i}"
            cols[name] = new_type
        elif kind == "mv_expand":
            # reference expand.rs semantics: non-empty arrays expand
            # one row per element, EMPTY arrays drop the row,
            # null/missing collections pass the row through unchanged
            # (typed: arr stays null; dynamic: the key stays missing —
            # both read back as None). The UNNEST arm encodes the
            # first two, the IS NULL arm the passthrough.
            vis = ", ".join(sorted(cols))
            kql.append("mv-expand arr")
            sql = (
                f"(SELECT {vis}, u.el AS arr FROM ({sql}) t{step_i},"
                f" UNNEST(t{step_i}.arr) AS u(el))"
                f" UNION ALL BY NAME "
                f"(SELECT {vis}, CAST(NULL AS BIGINT) AS arr"
                f" FROM ({sql}) n{step_i} WHERE n{step_i}.arr IS NULL)"
            )
            sqd = (
                f"(SELECT {vis}, u.el AS arr FROM ({sqd}) t{step_i},"
                f" UNNEST(t{step_i}.arr) AS u(el))"
                f" UNION ALL BY NAME "
                f"(SELECT {vis}, CAST(NULL AS BIGINT) AS arr"
                f" FROM ({sqd}) n{step_i} WHERE n{step_i}.arr IS NULL)"
            )
            cols["arr"] = NUM
            arr_live = False
        elif kind == "rename":
            src_col = draw(st.sampled_from(sorted(cols)))
            ext_n += 1
            name = f"r{ext_n}"
            kql.append(f"project-rename {name} = {src_col}")
            others = [c for c in sorted(cols) if c != src_col] + (
                # the hidden arr survives an engine project-rename
                # (it renames in place, keeping every other column) —
                # keep the SQL side aligned
                ["arr"] if arr_live else []
            )
            sel = ", ".join([f"{src_col} AS {name}"] + others)
            sql = f"SELECT {sel} FROM ({sql}) r{step_i}"
            sqd = f"SELECT {sel} FROM ({sqd}) r{step_i}"
            cols[name] = cols.pop(src_col)
        elif kind == "join":
            k = draw(st.sampled_from(["inner", "left", "right", "outer"]))
            nums = sorted(n for n, t in cols.items() if t == NUM)
            on_left = draw(st.sampled_from(nums))
            jk = {
                "inner": "JOIN",
                "left": "LEFT JOIN",
                "right": "RIGHT JOIN",
                "outer": "FULL JOIN",  # reference `outer` = full outer
            }[k]
            if draw(st.integers(0, 3)) == 0:
                # AGGREGATED right side: its engine-computed bn column
                # is TYPED, so preserved-but-unmatched rows exercise
                # the join null-fill missing semantics (r12 find: the
                # fill read as a present null on the dynamic path —
                # the lift in Compiler._join keeps it MISSING there)
                kql.append(
                    f"join kind={k} (m.b | summarize bn = count() by bx = x)"
                    f" on $left.{on_left} == $right.bx"
                )
                sub = (
                    "(SELECT x AS bx, count(*) AS bn FROM b"
                    " WHERE x IS NOT NULL GROUP BY x)"
                )
                sql = (
                    f"SELECT * FROM ({sql}) jl{step_i} {jk} {sub} jr{step_i}"
                    f" ON jl{step_i}.{on_left} IS NOT DISTINCT FROM"
                    f" jr{step_i}.bx"
                )
                sqd = (
                    f"SELECT * FROM ({sqd}) jl{step_i} {jk} {sub} jr{step_i}"
                    f" ON jl{step_i}.{on_left} = jr{step_i}.bx"
                )
                cols = {**cols, "bx": NUM, "bn": NUM}
                continue
            kql.append(
                f"join kind={k} (m.b | project-rename bid = id, bx = x)"
                f" on $left.{on_left} == $right.bx"
            )
            # engine join keys are NULL-SAFE equal (null matches null)
            sql = (
                f"SELECT * FROM ({sql}) jl{step_i} {jk} "
                f"(SELECT id AS bid, x AS bx, t FROM b) jr{step_i}"
                f" ON jl{step_i}.{on_left} IS NOT DISTINCT FROM"
                f" jr{step_i}.bx"
            )
            # dynamic: a MISSING key has no hash bucket — it never
            # matches (the typed path's null-CONFLATED ingest makes
            # null-safe equality observable; dynamic ingest has no
            # present-nulls here, so missing ≡ SQL NULL ≡ plain `=`)
            sqd = (
                f"SELECT * FROM ({sqd}) jl{step_i} {jk} "
                f"(SELECT id AS bid, x AS bx, t FROM b) jr{step_i}"
                f" ON jl{step_i}.{on_left} = jr{step_i}.bx"
            )
            cols = {**cols, "bid": NUM, "bx": NUM, "t": STR}
        elif kind == "project":
            arr_live = False  # explicit select list drops it (both sides)
            keep = sorted(
                draw(
                    st.sets(
                        st.sampled_from(sorted(cols)),
                        min_size=1,
                        max_size=len(cols),
                    )
                )
            )
            kql.append("project " + ", ".join(keep))
            sql = f"SELECT {', '.join(keep)} FROM ({sql}) p{step_i}"
            sqd = f"SELECT {', '.join(keep)} FROM ({sqd}) p{step_i}"
            cols = {k: cols[k] for k in keep}
        elif kind == "sort_take":
            live = sorted(cols)
            orders = [draw(st.sampled_from(["asc", "desc"])) for _ in live]
            # per-key nulls placement (parser.py:330 default last;
            # explicit `nulls first|last` both sides)
            nulls = [
                draw(st.sampled_from(["", " nulls first", " nulls last"]))
                for _ in live
            ]
            sort_frag = ", ".join(
                f"{c} {o}{n}" for c, o, n in zip(live, orders, nulls)
            )
            order_sql = ", ".join(
                f"{c} {o.upper()} NULLS {'FIRST' if n == ' nulls first' else 'LAST'}"
                for c, o, n in zip(live, orders, nulls)
            )
            if draw(st.booleans()):
                # `top N by <full sort list>` — deterministic for the
                # same reason take-after-full-sort is: ties are
                # identical rows
                n = draw(st.integers(min_value=1, max_value=30))
                kql.append(f"top {n} by {sort_frag}")
                sql = (
                    f"SELECT * FROM ({sql}) o{step_i}"
                    f" ORDER BY {order_sql} LIMIT {n}"
                )
                sqd = (
                    f"SELECT * FROM ({sqd}) o{step_i}"
                    f" ORDER BY {order_sql} LIMIT {n}"
                )
            else:
                kql.append(f"sort by {sort_frag}")
                sql = f"SELECT * FROM ({sql}) o{step_i} ORDER BY {order_sql}"
                sqd = f"SELECT * FROM ({sqd}) o{step_i} ORDER BY {order_sql}"
                if draw(st.booleans()):
                    n = draw(st.integers(min_value=1, max_value=30))
                    kql.append(f"take {n}")
                    sql = f"{sql} LIMIT {n}"
                    sqd = f"{sqd} LIMIT {n}"
        elif kind == "union":
            bpred_kql, bpred_sql = "", ""
            if draw(st.booleans()):
                lit = draw(st.integers(0, 9))
                bpred_kql = f" | where x >= {lit}"
                bpred_sql = f" WHERE x >= {lit}"
            kql.append(f"union (m.b{bpred_kql})")
            sql = (
                f"SELECT * FROM (({sql}) UNION ALL BY NAME "
                f"(SELECT * FROM b{bpred_sql})) u{step_i}"
            )
            sqd = (
                f"SELECT * FROM (({sqd}) UNION ALL BY NAME "
                f"(SELECT * FROM b{bpred_sql})) u{step_i}"
            )
            cols = {**cols, "id": NUM, "x": NUM, "t": STR}
        elif kind == "summarize":
            nums = sorted(n for n, t in cols.items() if t == NUM)
            if not nums:
                continue
            arr_live = False  # aggregation drops it (both sides)
            c = draw(st.sampled_from(nums))
            picked = sorted(
                draw(
                    st.sets(
                        st.sampled_from(
                            ["n", "sx", "mx", "mn", "av", "ci", "dc"]
                        ),
                        min_size=1,
                        max_size=3,
                    )
                )
            )
            frags, sels, sels_d = [], [], []
            for a in picked:
                if a == "n":
                    frags.append("n = count()")
                    sels.append("count(*) AS n")
                elif a == "sx":
                    frags.append(f"sx = sum({c})")
                    sels.append(f"coalesce(sum({c}), 0) AS sx")
                elif a == "mx":
                    frags.append(f"mx = max({c})")
                    sels.append(f"max({c}) AS mx")
                elif a == "mn":
                    # MISSING args skip the accumulator and min/max of
                    # no values is null (summarize.rs:627,661) — the
                    # typed ingest null-CONFLATES, so F.min's skip-null
                    # is exactly the missing semantics = plain SQL min.
                    # (A PRESENT null would accumulate as the smallest
                    # value — not generable here: the dynamic ingest
                    # drops Nones and arr elements are never null.)
                    frags.append(f"mn = min({c})")
                    sels.append(f"min({c}) AS mn")
                elif a == "av":
                    frags.append(f"av = avg({c})")
                    sels.append(f"coalesce(avg({c}), 0.0) AS av")
                elif a == "dc":
                    frags.append(f"dc = dcount({c})")
                    sels.append(
                        f"(count(DISTINCT {c}) + CASE WHEN"
                        f" count(*) > count({c}) THEN 1 ELSE 0 END) AS dc"
                    )
                    # dynamic: a MISSING arg contributes no bucket (the
                    # typed path's +1 corrects its null-CONFLATED
                    # ingest; dynamic ingest keeps missing missing) —
                    # probed: dcount over {1,1,2,missing,missing} = 2
                    sels_d.append(f"count(DISTINCT {c}) AS dc")
                    continue
                else:
                    frags.append(f"ci = countif({c} > 3)")
                    sels.append(
                        f"count(CASE WHEN {c} > 3 THEN 1 END) AS ci"
                    )
                sels_d.append(sels[-1])
            by = None
            by_is_bin = False
            # a by key sharing an agg output name is a ParseError
            # (parser.py duplicate-output validation, r11)
            by_choices = sorted(set(cols) - {c} - set(picked))
            bin_choices = sorted(set(nums) - {c} - set(picked))
            if (
                bin_choices
                and "b" not in picked
                and draw(st.integers(0, 3)) == 0
            ):
                # numeric bin group key: bin(null) is missing → the
                # engine drops the group pre-grouping, same as a plain
                # null key (summarize.rs:151)
                bc = draw(st.sampled_from(bin_choices))
                width = draw(st.sampled_from([2, 3, 5]))
                by, by_is_bin = f"b = bin({bc}, {width})", True
                by_sql = f"floor({bc} / {width}) * {width}"
                kql.append("summarize " + ", ".join(frags) + f" by {by}")
                sql = (
                    f"SELECT {by_sql} AS b, {', '.join(sels)}"
                    f" FROM ({sql}) s{step_i}"
                    f" WHERE {bc} IS NOT NULL GROUP BY {by_sql}"
                )
                sqd = (
                    f"SELECT {by_sql} AS b, {', '.join(sels_d)}"
                    f" FROM ({sqd}) s{step_i}"
                    f" WHERE {bc} IS NOT NULL GROUP BY {by_sql}"
                )
                cols = {a: NUM for a in picked}
                cols["b"] = NUM
                continue
            bys: list[str] = []
            if by_choices and draw(st.booleans()):
                # 1-2 group keys: a row drops when ANY key is null
                # (summarize.rs:151 returns None per-component)
                bys = sorted(
                    draw(
                        st.sets(
                            st.sampled_from(by_choices),
                            min_size=1,
                            max_size=min(2, len(by_choices)),
                        )
                    )
                )
            by = ", ".join(bys)
            kql.append(
                "summarize " + ", ".join(frags) + (f" by {by}" if by else "")
            )
            if bys:
                notnull = " AND ".join(f"{k} IS NOT NULL" for k in bys)
                sql = (
                    f"SELECT {by}, {', '.join(sels)} FROM ({sql}) s{step_i}"
                    f" WHERE {notnull} GROUP BY {by}"
                )
                sqd = (
                    f"SELECT {by}, {', '.join(sels_d)} FROM ({sqd}) s{step_i}"
                    f" WHERE {notnull} GROUP BY {by}"
                )
            else:
                sql = f"SELECT {', '.join(sels)} FROM ({sql}) s{step_i}"
                sqd = f"SELECT {', '.join(sels_d)} FROM ({sqd}) s{step_i}"
            # group keys keep their type: a BOOL key stays out of the
            # string arms (DuckDB has no contains(BOOLEAN, ...))
            cols = {a: NUM for a in picked} | {k: cols[k] for k in bys}
        elif kind == "distinct":
            arr_live = False  # explicit select list drops it (both sides)
            keep = sorted(
                draw(
                    st.sets(
                        st.sampled_from(sorted(cols)),
                        min_size=1,
                        max_size=min(3, len(cols)),
                    )
                )
            )
            kql.append("distinct " + ", ".join(keep))
            notnull = " AND ".join(f"{k} IS NOT NULL" for k in keep)
            sql = (
                f"SELECT DISTINCT {', '.join(keep)} FROM ({sql}) d{step_i}"
                f" WHERE {notnull}"
            )
            sqd = (
                f"SELECT DISTINCT {', '.join(keep)} FROM ({sqd}) d{step_i}"
                f" WHERE {notnull}"
            )
            cols = {k: cols[k] for k in keep}
        else:  # count
            arr_live = False
            kql.append("count")
            sql = f'SELECT count(*) AS "Count" FROM ({sql}) c{step_i}'
            sqd = f'SELECT count(*) AS "Count" FROM ({sqd}) c{step_i}'
            cols = {"Count": NUM}
    kql_text = " | ".join(kql)
    # `let` wrapper (1 in 4): bind an arbitrary prefix of the pipeline
    # to a name and continue from the reference — pure naming, so the
    # SQL oracles are unchanged; exercises parse + subquery compile of
    # let over the whole generated space
    if draw(st.integers(0, 3)) == 0:
        split = draw(st.integers(0, len(kql) - 1))
        head, tail = kql[: split + 1], kql[split + 1 :]
        kql_text = (
            f"let q = {' | '.join(head)}; "
            + " | ".join(["q"] + tail)
        )
    return kql_text, sql, sqd


def _norm_rows(pairs) -> list[str]:
    out = []
    for row in pairs:
        d = {}
        for k, v in row.items():
            if isinstance(v, float):
                v = round(v, 6)
                if v == int(v):
                    # 5.0 and 5 stringify differently; the engine and
                    # DuckDB may type a column float vs int (e.g. sum
                    # over an int-coerced double) — compare numerically
                    v = int(v)
            out_v = v
            d[k] = out_v
        out.append(json.dumps(d, sort_keys=True, default=str))
    return sorted(out)


def _spark_rows(df) -> list[str]:
    return _norm_rows(r.asDict() for r in df.collect())


def _duck_rows(con, sql: str) -> list[str]:
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    return _norm_rows(dict(zip(names, row)) for row in res.fetchall())


# ---------------------------------------------------------------------------
# datetime arm: total-order timestamp comparisons, timespan arithmetic,
# bin() group keys, and max() over timestamps vs DuckDB TIMESTAMP
# equivalents (epoch-floor for bin, INTERVAL for spans). Typed only:
# JSON dynamic ingest has no datetime type (the reference's dynamic
# path carries datetimes via @time static-field mapping, pinned in the
# connector suites).

D_ROWS = [
    (
        i,
        None
        if i % 6 == 1
        else _dt.datetime(2024, 1, 1)
        + _dt.timedelta(minutes=(37 * i) % (60 * 72)),
        (i * 3) % 7,
        f"h{i % 3}",
    )
    for i in range(48)
]
D_SCHEMA = "id long, ts timestamp, v long, h string"

DT = "dt"

_SPANS = {"1h": ("INTERVAL 60 MINUTE", 3600), "30m": ("INTERVAL 30 MINUTE", 1800), "1d": ("INTERVAL 24 HOUR", 86400)}
_BINS = {"1h": 3600, "12h": 43200, "1d": 86400}
_DT_LITS = [
    "2024-01-01 02:00:00",
    "2024-01-01 12:30:00",
    "2024-01-02 00:00:00",
    "2024-01-03 07:00:00",
]


@st.composite
def dt_programs(draw):
    cols = {"id": NUM, "ts": DT, "v": NUM, "h": STR}
    kql = ["m.d"]
    sql = "SELECT * FROM d"
    # 0-2 timestamp filters (total-order, same null lattice as NUM)
    for i in range(draw(st.integers(0, 2))):
        op = draw(st.sampled_from([">", "<", ">=", "<=", "==", "!="]))
        lit = draw(st.sampled_from(_DT_LITS))
        kql.append(f"where ts {op} datetime({lit})")
        tlit = f"TIMESTAMP '{lit}'"
        if op in (">", ">=", "=="):
            pred = f"(ts {'=' if op == '==' else op} {tlit})"
        else:
            neg = {"<": "<", "<=": "<=", "!=": "<>"}[op]
            pred = f"(ts IS NULL OR ts {neg} {tlit})"
        sql = f"SELECT * FROM ({sql}) w{i} WHERE {pred}"
    # optional timespan arithmetic (nanosecond-epoch integer math
    # engine-side — exprs.py:142; null ts propagates)
    if draw(st.booleans()):
        span = draw(st.sampled_from(sorted(_SPANS)))
        sign = draw(st.sampled_from(["+", "-"]))
        kql.append(f"extend e1 = ts {sign} {span}")
        sql = f"SELECT *, ts {sign} {_SPANS[span][0]} AS e1 FROM ({sql}) x0"
        cols["e1"] = DT
    # optional bin-keyed aggregation over a timestamp
    if draw(st.booleans()):
        tc = draw(st.sampled_from(sorted(n for n, t in cols.items() if t == DT)))
        width = draw(st.sampled_from(sorted(_BINS)))
        w = _BINS[width]
        aggs = sorted(
            draw(st.sets(st.sampled_from(["n", "mx", "sv"]), min_size=1))
        )
        frags, sels = [], []
        for a in aggs:
            if a == "n":
                frags.append("n = count()")
                sels.append("count(*) AS n")
            elif a == "mx":
                frags.append(f"mx = max({tc})")
                sels.append(f"max({tc}) AS mx")
            else:
                frags.append("sv = sum(v)")
                sels.append("coalesce(sum(v), 0) AS sv")
        kql.append(
            "summarize " + ", ".join(frags) + f" by b = bin({tc}, {width})"
        )
        sql = (
            f"SELECT CAST(to_timestamp(floor(epoch({tc}) / {w}) * {w})"
            f" AS TIMESTAMP) AS b, {', '.join(sels)} FROM ({sql}) s0"
            f" WHERE {tc} IS NOT NULL GROUP BY b"
        )
        cols = {a: (DT if a == "mx" else NUM) for a in aggs}
        cols["b"] = DT
    # optional deterministic top slice (full sort, id-or-bin unique)
    if draw(st.booleans()):
        live = sorted(cols)
        orders = [draw(st.sampled_from(["asc", "desc"])) for _ in live]
        kql.append(
            "sort by " + ", ".join(f"{c} {o}" for c, o in zip(live, orders))
        )
        order = ", ".join(
            f"{c} {o.upper()} NULLS LAST" for c, o in zip(live, orders)
        )
        sql = f"SELECT * FROM ({sql}) o0 ORDER BY {order}"
        if draw(st.booleans()):
            n = draw(st.integers(1, 30))
            kql.append(f"take {n}")
            sql += f" LIMIT {n}"
    return " | ".join(kql), sql


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(prog=dt_programs())
def test_datetime_engine_matches_duckdb(rig, duck, prog):
    kql, sql = prog
    plan = parse_kql(kql)
    engine = _spark_rows(rig.run(P.Plan(optimize_steps(plan.steps))))
    oracle = _duck_rows(duck, sql)
    assert engine == oracle, f"datetime divergence for: {kql}\nsql: {sql}"


def test_mv_expand_composition_matches_duckdb(rig, duck):
    """Deterministic pin of the mv-expand arm's encoding (hypothesis
    may or may not draw it in a given run): expand → total-order
    filter on the elements → grouped aggregation, vs the UNNEST +
    IS NULL-passthrough SQL. Covers all three row fates (elements,
    empty-drop, null-passthrough kept by `arr != 99`, null smallest →
    TRUE)."""
    kql = (
        "m.a | mv-expand arr | where arr != 99"
        " | summarize n = count(), sx = sum(arr) by g"
    )
    sql = (
        "SELECT g, count(*) AS n, coalesce(sum(arr), 0) AS sx FROM ("
        "  (SELECT g, u.el AS arr FROM a t, UNNEST(t.arr) AS u(el))"
        "  UNION ALL BY NAME "
        "  (SELECT g, CAST(NULL AS BIGINT) AS arr FROM a WHERE arr IS NULL)"
        ") e WHERE (arr IS NULL OR arr <> 99)"
        " AND g IS NOT NULL GROUP BY g"
    )
    plan = parse_kql(kql)
    engine = _spark_rows(rig.run(P.Plan(optimize_steps(plan.steps))))
    assert engine == _duck_rows(duck, sql)


@settings(
    max_examples=300,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(prog=programs())
# r13 soak find #2: extract over a provably-ABSENT source (this extend
# is pushed into the union's count branch, where `t` doesn't exist)
# must stay a TYPED NULL — compiling it to a variant flipped the
# branch dynamic-model, which lifted ALL of b's one-sided columns to
# variant (JSON-quoted renders, ints as strings). Absent-source
# extracts now compile typed and tag missing-as-null.
# r13 soak find #3 (the same family, one layer deeper): with a
# `project Count, t` between the union and the extend, the
# union-PUSHED project materializes the count branch's absent `t` as
# a missing-as-null-tagged column, the merged column keeps the tag,
# and an extract over it went variant inside a purely typed pipeline
# (values right, renders JSON-quoted). Typed MD sources now take the
# documented typed-row conflation; only VARIANT sources produce
# variant extract results (exprs._extract_dynamic_src).
@example(
    prog=(
        "let q = m.a; q | sort by g asc, id asc, s asc, x asc, y asc"
        " | count | union (m.b) | project Count, t"
        ' | extend e1 = extract("([st])([0-9])", 1, t)',
        "SELECT *, CASE WHEN regexp_matches(t, '([st])([0-9])') THEN"
        " regexp_extract(t, '([st])([0-9])', 1) ELSE NULL END AS e1 FROM"
        ' (SELECT Count, t FROM (SELECT * FROM ((SELECT count(*) AS "Count"'
        " FROM (SELECT * FROM (SELECT * FROM a) o0 ORDER BY g ASC NULLS"
        " LAST, id ASC NULLS LAST, s ASC NULLS LAST, x ASC NULLS LAST, y"
        " ASC NULLS LAST) c1) UNION ALL BY NAME (SELECT * FROM b)) u2) p3)"
        " x4",
        "",
    )
)
@example(
    prog=(
        'm.a | count | union (m.b) | extend e1 = extract("([st])([0-9])", 1, t)',
        "SELECT *, CASE WHEN regexp_matches(t, '([st])([0-9])') THEN"
        " regexp_extract(t, '([st])([0-9])', 1) ELSE NULL END AS e1 FROM"
        ' (SELECT * FROM ((SELECT count(*) AS "Count" FROM (SELECT * FROM'
        " a) c0) UNION ALL BY NAME (SELECT * FROM b)) u1) x2",
        "",
    )
)
def test_engine_matches_duckdb(rig, duck, prog):
    kql, sql, _ = prog
    plan = parse_kql(kql)
    # run the OPTIMIZED plan — the full production path for this
    # source class, so a rewrite bug shows up here too
    engine = _spark_rows(rig.run(P.Plan(optimize_steps(plan.steps))))
    oracle = _duck_rows(duck, sql)
    assert engine == oracle, f"divergence for: {kql}\nsql: {sql}"


# ---------------------------------------------------------------------------
# dynamic-ingest arm: the SAME paired programs over all-VARIANT tables
# vs the SAME DuckDB oracle. The dynamic path's other gates are
# self-differentials (optimized-vs-unoptimized, typed-vs-dynamic);
# this is its first EXTERNAL oracle over a generated space. Sound
# because the ingest drops None values (a null column value becomes a
# MISSING key), and for every generated construct the documented
# missing-vs-null divergences collapse: total-order comparisons,
# exists(), summarize null-key drops, and null-safe join keys all
# treat a missing key exactly as SQL NULL.


@pytest.fixture(scope="module")
def dyn_rig(spark):
    from miso_spark.dynamic import ingest_json_dynamic

    def rows(data, names):
        return [
            {k: v for k, v in zip(names, r) if v is not None} for r in data
        ]

    mem = MemorySource()
    mem.put(
        "a",
        ingest_json_dynamic(
            spark, rows(A_ROWS, ["id", "x", "y", "s", "g", "arr"]),
            keys=["id", "x", "y", "s", "g", "arr"],
        ),
    )
    mem.put(
        "b",
        ingest_json_dynamic(
            spark, rows(B_ROWS, ["id", "x", "t"]), keys=["id", "x", "t"]
        ),
    )
    return Compiler(SourceRegistry(spark).register("m", mem))


def _dyn_rows(df) -> list[str]:
    from decimal import Decimal

    from pyspark.sql.types import VariantVal

    def unwrap(v):
        if isinstance(v, VariantVal):
            v = v.toPython()
        if isinstance(v, Decimal):
            # VariantVal.toPython surfaces JSON floats as Decimal
            v = float(v)
        return v

    return _norm_rows(
        {k: unwrap(v) for k, v in r.asDict(recursive=True).items()}
        for r in df.collect()
    )


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(prog=programs())
# r12 fuzz find (the let+cast composition): `tostring(toint(x))` over a
# MISSING x produced a typed NULL that the downstream not(in) treated
# as a PRESENT null (total order: kept) where the reference's eval!
# poisoning drops the row. Casts/bins over dynamic inputs now carry
# missing-as-null semantics into predicates (exprs._missing_as_null).
@example(
    prog=(
        'let q = m.a; q | where exists(g) | extend e1 = tostring(toint(x))'
        ' | join kind=inner (m.b | project-rename bid = id, bx = x)'
        ' on $left.id == $right.bx | where not(e1 in ("s1"))',
        "",  # typed SQL unused by this arm
        "SELECT * FROM (SELECT * FROM (SELECT *, CAST(CAST(TRUNC(x) AS"
        " BIGINT) AS VARCHAR) AS e1 FROM (SELECT * FROM (SELECT * FROM a)"
        " w0 WHERE (g IS NOT NULL)) x1) jl2 JOIN (SELECT id AS bid, x AS"
        " bx, t FROM b) jr2 ON jl2.id = jr2.bx) w3 WHERE (e1 NOT IN"
        " ('s1'))",
    )
)
# second r12 fuzz find: union null-fill of a one-sided TYPED column
# (count's Count) against a dynamic branch read as a PRESENT null —
# `Count < 0` kept every b row where the reference's missing key
# poisons. union_harmonized now lifts such columns to variant.
@example(
    prog=(
        "let q = m.a; q | count | union (m.b) | where Count < 0",
        "",
        'SELECT * FROM (SELECT * FROM ((SELECT count(*) AS "Count" FROM'
        " (SELECT * FROM a) c0) UNION ALL BY NAME (SELECT * FROM b)) u1)"
        " w2 WHERE (Count < 0)",
    )
)
# r13 soak find: the union-split min/max PARTIAL over a branch that
# LACKS the agg column compiled to a typed NULL, and the r13
# present-null-preserving variant lift turned that empty state into a
# present VOID null that WON the merged min (the reference's state
# merge skips None states; only the final render maps empty →
# Value::Null). Partials now tag min/max outputs missing-as-null.
@example(
    prog=(
        "m.a | union (m.b) | summarize mn = min(y)",
        "",
        "SELECT min(y) AS mn FROM (SELECT * FROM ((SELECT * FROM a)"
        " UNION ALL BY NAME (SELECT * FROM b)) u0) s1",
    )
)
def test_dynamic_engine_matches_duckdb(dyn_rig, duck, prog):
    kql, _, sqd = prog
    if "iff(" in kql or "case(" in kql:
        # the one construct with no SQL encoding at all: dynamic
        # iff/case POISON on a missing condition operand (the
        # reference's eval_to_bool! — the result is MISSING, not the
        # else branch), and SQL CASE has no way to yield
        # "drop this key from the row". The typed arm covers iff/case
        # vs DuckDB; the reference-parity suite pins the poisoning.
        return
    plan = parse_kql(kql)
    engine = _dyn_rows(dyn_rig.run(P.Plan(optimize_steps(plan.steps))))
    oracle = _duck_rows(duck, sqd)
    assert engine == oracle, f"dynamic divergence for: {kql}\nsql: {sqd}"
