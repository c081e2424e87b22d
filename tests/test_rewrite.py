"""Plan-rewrite passes (miso_spark/rewrite.py).

Parity targets: convert_sort_limit_to_topn.rs, push_limit_into_limit.rs,
push_limit_into_topn.rs, merge_topns.rs, project_propagation.rs and the
frontend distinct lowering (query_to_workflow.rs:146). The end-to-end
observable behavior (which steps a connector absorbs after these
rewrites) is covered by tests/test_connector_cases.py against the
reference's own connector corpus."""

from __future__ import annotations

import pytest

from miso_spark import plan as P
from miso_spark.exprs import Bin, BinOp, Exists, Extract, Field, Lit
from miso_spark.kql import parse_kql
from miso_spark.rewrite import (
    optimize_steps,
    required_before_step,
    scan_narrowing_fields,
)


def opt(q: str) -> tuple:
    return optimize_steps(parse_kql(q).steps)


def kinds(steps) -> list[str]:
    return [type(s).__name__ for s in steps]


def test_sort_take_becomes_topn():
    out = opt("t.c | sort by x desc | take 3")
    assert kinds(out) == ["Scan", "Top"]
    assert out[1] == P.Top((P.Sort("x", "desc", "last"),), 3)


def test_take_take_merges_to_min():
    out = opt("t.c | take 5 | take 3")
    assert out[1] == P.Limit(3)
    out = opt("t.c | take 2 | take 9")
    assert out[1] == P.Limit(2)


def test_topn_take_merges():
    out = opt("t.c | top 5 by x | take 3")
    assert out[1] == P.Top((P.Sort("x", "asc", "last"),), 3)


def test_topn_topn_same_keys_merges_min():
    out = opt("t.c | top 5 by x | top 3 by x")
    assert kinds(out) == ["Scan", "Top"]
    assert out[1].n == 3


def test_topn_topn_different_keys_kept():
    out = opt("t.c | top 5 by x | top 3 by y")
    assert kinds(out) == ["Scan", "Top", "Top"]


def test_distinct_lowers_to_summarize_by(  # query_to_workflow.rs:146
):
    out = opt("t.c | distinct user")
    assert kinds(out) == ["Scan", "SummarizeStep"]
    assert out[1].aggs == ()
    assert [bf.name for bf in out[1].by] == ["user"]


def test_distinct_star_stays_distinct():
    out = opt("t.c | distinct *")
    assert kinds(out) == ["Scan", "Distinct"]


def test_filter_hoists_through_extend():
    out = opt("t.c | extend fw = extract('^(a)', 1, title) | where exists(fw)")
    assert kinds(out) == ["Scan", "Filter", "Extend"]
    f = out[1].expr
    assert isinstance(f, Exists) and isinstance(f.expr, Extract)


def test_filter_hoists_through_project_with_rename():
    out = opt("t.c | project a = b, c | where a > 5")
    assert kinds(out) == ["Scan", "Filter", "Project"]
    assert out[1].expr == BinOp("gt", Field.of("b"), Lit(5))


def test_extend_fuses_into_summarize_by():
    out = opt(
        "t.c | extend fw = extract('^(a)', 1, title)"
        " | summarize c = count() by fw | where exists(fw)"
    )
    assert kinds(out) == ["Scan", "SummarizeStep", "Filter"]
    by = out[1].by
    assert len(by) == 1 and by[0].name == "fw"
    assert isinstance(by[0].expr, Extract)
    # the post-summarize filter still references the output name
    assert out[2].expr == Exists(Field.of("fw"))


def test_extend_fuses_into_summarize_agg_arg():
    out = opt("t.c | extend d = x | summarize m = max(d) by user")
    assert kinds(out) == ["Scan", "SummarizeStep"]
    aggs = dict(out[1].aggs)
    assert aggs["m"] == P.Agg("max", Field.of("x"))


def test_sort_on_computed_column_not_rewritten():
    # Sort.by is a name, not an expression — inlining is impossible,
    # the pass must leave the pipeline alone rather than corrupt it
    out = opt("t.c | extend d = x * 2 | sort by d | take 3")
    assert kinds(out) == ["Scan", "Extend", "Top"]


def test_nested_target_blocks_propagation():
    out = opt("t.c | extend a.b = x | where y > 1")
    assert kinds(out) == ["Scan", "Extend", "Filter"]


def test_literal_definition_drops_from_sort():
    # project a = b, c = 50 | sort by a, c → sort by b (reference
    # example in project_propagation.rs module docs)
    out = opt("t.c | project a = b, c = 50 | sort by a, c | take 2")
    assert kinds(out) == ["Scan", "Top", "Project"]
    assert out[1] == P.Top((P.Sort("b", "asc", "last"),), 2)


def test_union_subplan_recursed():
    out = opt("t.c | union (t.d | sort by x | take 1)")
    assert kinds(out) == ["Scan", "Union"]
    assert kinds(out[1].sub.steps) == ["Scan", "Top"]


def test_noop_on_plain_pipeline():
    steps = parse_kql("t.c | where x > 1 | take 5").steps
    assert optimize_steps(steps) == steps


def test_project_not_moved_past_middle_extend():
    # a restrictive project moved after an extend would drop the
    # extend's output column — the pass must leave this pipeline alone
    out = opt("t.c | project a = b | where a > 1 | extend c = a")
    assert kinds(out) == ["Scan", "Project", "Filter", "Extend"]


def test_simultaneous_binding_substitution():
    # extend fields all evaluate against the INPUT row, so `c = a`
    # reads the input's a — substitution into a later filter preserves
    # that (c > 5 becomes input-a > 5, legal before the extend)
    out = opt("t.c | extend a = b * 2, c = a | where c > 5")
    assert kinds(out) == ["Scan", "Filter", "Extend"]
    assert out[1].expr == BinOp("gt", Field.of("a"), Lit(5))


def test_filter_pushes_into_union_branches():
    # push_steps_into_union.rs: the filter copies into each branch AND
    # moves before the union run; the trailing take also pushes
    # (limit_into_union) keeping a post-union merge copy
    out = opt("t.a | union (t.b) | where x > 1 | take 5")
    assert kinds(out) == ["Scan", "Filter", "Limit", "Union", "Limit"]
    assert kinds(out[3].sub.steps) == ["Scan", "Filter", "Limit"]
    assert out[1] == out[3].sub.steps[1]


def test_limit_pushes_into_union_branches():
    out = opt("t.a | union (t.b) | take 7")
    assert kinds(out) == ["Scan", "Limit", "Union", "Limit"]
    assert kinds(out[2].sub.steps) == ["Scan", "Limit"]
    assert out[1] == P.Limit(7) and out[3] == P.Limit(7)


def test_topn_pushes_into_union_branches():
    out = opt("t.a | union (t.b) | top 3 by x")
    assert kinds(out) == ["Scan", "Top", "Union", "Top"]
    assert kinds(out[2].sub.steps) == ["Scan", "Top"]
    assert out[1] == out[3]


def test_project_pushes_into_union_branches():
    out = opt("t.a | union (t.b) | project x")
    assert kinds(out) == ["Scan", "Project", "Union"]
    assert kinds(out[2].sub.steps) == ["Scan", "Project"]


def test_multi_union_run_gets_the_copy():
    out = opt("t.a | union (t.b) | union (t.c) | where x > 1")
    assert kinds(out) == ["Scan", "Filter", "Union", "Union"]
    assert all(kinds(u.sub.steps) == ["Scan", "Filter"] for u in out[2:4])


# ---------------------------------------------------------------------------
# substitution-hazard guards (_propagation_hazard): the reference's
# ExprSubstitute is built once from the lead and never invalidated
# (project_propagation.rs:126-172); these pin the cases where blind
# substitution would change results — the pass must bail (and the
# fixpoint may still converge via a DIFFERENT, sound application order)


def test_middle_extend_redefining_mapped_name_converges_soundly():
    # `a` is redefined mid-pipeline; substituting the stale `a = b`
    # into the terminal project would return b instead of c. The
    # guarded fixpoint instead folds from the tail: x = c, then the
    # lead's a = b reaches the filter.
    out = opt("t.c | extend a = b | where a > 0 | extend a = c | project x = a")
    assert kinds(out) == ["Scan", "Filter", "Project"]
    assert out[1].expr == BinOp("gt", Field.of("b"), Lit(0))
    assert out[2].fields[0].expr == Field.of("c")


def test_middle_extend_redefining_mapping_source_converges_soundly():
    # the middle extend overwrites b, the SOURCE of the lead's a = b;
    # planting `a → b` after it would read the new b (0) instead of
    # the captured one
    out = opt("t.c | extend a = b | where x > 0 | extend b = 0 | project y = a")
    assert kinds(out) == ["Scan", "Filter", "Project"]
    assert out[2].fields[0].expr == Field.of("b")  # the ORIGINAL b


def test_expand_of_mapping_source_blocks_propagation():
    # mv-expand changes arr from array to element; the lead captured
    # the ARRAY into a — moving the extend after the expand would
    # capture the element
    out = opt("t.c | extend a = arr | where x > 0 | mv-expand arr | project p = a, q = arr")
    assert kinds(out) == ["Scan", "Extend", "Filter", "Expand", "Project"]


def test_restrictive_project_keeps_filter_on_dropped_column():
    # `project a = b` drops z; the filter's z reads missing → no rows.
    # Moving the filter before the project would resurrect z.
    out = opt("t.c | project a = b | where z > 5 | take 3")
    assert kinds(out) == ["Scan", "Project", "Filter", "Limit"]


def test_restrictive_project_still_moves_past_mapped_filter():
    # positive control: the filter only touches mapped names → moves
    out = opt("t.c | project a = b | where a > 5 | take 3")
    assert kinds(out) == ["Scan", "Filter", "Limit", "Project"]
    assert out[1].expr == BinOp("gt", Field.of("b"), Lit(5))


def test_restrictive_project_keeps_summarize_on_dropped_column():
    out = opt("t.c | project a = b | where a > 0 | summarize n = count() by q")
    assert kinds(out) == ["Scan", "Project", "Filter", "SummarizeStep"]


def test_rename_keeps_filter_on_renamed_away_source():
    # project-rename a = b removes b; a filter on b must read missing
    out = opt("t.c | project-rename a = b | where b > 0 | take 3")
    assert kinds(out) == ["Scan", "Rename", "Filter", "Limit"]


def test_rename_moves_past_filter_on_new_name():
    out = opt("t.c | project-rename a = b | where a > 0 | take 3")
    assert kinds(out) == ["Scan", "Filter", "Limit", "Rename"]
    assert out[1].expr == BinOp("gt", Field.of("b"), Lit(0))


def test_rename_keeps_sort_on_renamed_away_source():
    out = opt("t.c | project-rename a = b | sort by b | take 2")
    assert kinds(out) == ["Scan", "Rename", "Top"]


def test_middle_extend_recreating_removed_name_converges_soundly():
    # rename removes b, the middle extend recreates it: the one-shot
    # rewrite (rename moved after extend) would rename the RECREATED b
    # into a. The guard blocks that order; the fixpoint instead folds
    # the extend into the terminal project first, then the rename —
    # ending at a = source-b, b = 5, which is the original semantics.
    out = opt("t.c | project-rename a = b | where x > 0 | extend b = 5 | project a, b")
    assert kinds(out) == ["Scan", "Filter", "Project"]
    assert out[2].fields[0].expr == Field.of("b")
    assert out[2].fields[1].expr == Lit(5)


def test_union_push_gated_on_absorbability():
    from miso_spark.rewrite import push_steps_into_union

    steps = list(parse_kql("t.a | union (t.b) | where x > 1").steps)
    pushed, changed = push_steps_into_union(list(steps), can_absorb=lambda s: True)
    assert changed and kinds(pushed) == ["Scan", "Filter", "Union"]
    kept, changed = push_steps_into_union(list(steps), can_absorb=lambda s: False)
    assert not changed and kinds(kept) == ["Scan", "Union", "Filter"]


def test_union_push_gate_preserves_multi_index_merge():
    # an Extend quickwit cannot absorb must NOT move before the union:
    # pre-union it would block apply_union (one merged multi-index
    # search becomes two wire searches)
    from miso_spark.sources.external import QuickwitSource
    from miso_spark.sources.pushdown import negotiate_to_fixpoint

    src = QuickwitSource("http://x:1", timestamp_fields={"a": "ts", "b": "ts"})
    plan = parse_kql("qw.a | union (qw.b) | extend z = x")
    h, residual = negotiate_to_fixpoint(plan, src.handle("a"), src)
    assert h.indexes("a") == "a,b"  # union absorbed into one search
    assert kinds(residual.steps) == ["Scan", "Extend"]

    # absorbable filter still pushes into branches and merges fully
    plan2 = parse_kql("qw.a | union (qw.b) | where level == 'err'")
    h2, residual2 = negotiate_to_fixpoint(plan2, src.handle("a"), src)
    assert h2.indexes("a") == "a,b"
    assert kinds(residual2.steps) == ["Scan"]


def test_expand_of_source_aliased_twice_blocks_propagation():
    # both a and c read b; exploding one alias must not explode the
    # other (c keeps the whole array per output row)
    out = opt("t.c | project a = b, c = b | mv-expand a | take 3")
    assert kinds(out) == ["Scan", "Project", "Expand", "Limit"]


def test_expand_of_singly_renamed_source_still_moves():
    # positive control: one alias only — expand rewrites to the source
    out = opt("t.c | project a = b | mv-expand a | take 3")
    assert kinds(out) == ["Scan", "Expand", "Limit", "Project"]
    assert out[1].fields == ("b",)


def test_summarize_splits_into_union_branches():
    # mux_into_union.rs + convert_to_partial: count/sum partials per
    # branch, merged by sum after the unions
    out = opt("t.a | union (t.b) | summarize n = count(), s = sum(v) by k")
    assert kinds(out) == ["Scan", "SummarizeStep", "Union", "SummarizeStep"]
    partial, merge = out[1], out[3]
    assert dict(partial.aggs) == {"n": P.Agg("count"), "s": P.Agg("sum", Field.of("v"))}
    assert out[2].sub.steps[1] == partial
    assert dict(merge.aggs) == {
        "n": P.Agg("sum", Field.of("n")),
        "s": P.Agg("sum", Field.of("s")),
    }
    assert [bf.name for bf in merge.by] == ["k"]


def test_distinct_after_union_splits_as_by_only():
    out = opt("t.a | union (t.b) | distinct k")
    assert kinds(out) == ["Scan", "SummarizeStep", "Union", "SummarizeStep"]
    assert out[1].aggs == () and out[3].aggs == ()


def test_dcount_splits_with_null_keeping_partial():
    # r11 (supersedes the r10 blanket refusal): dcount DOES split —
    # the arg joins the partial's group keys — but only because the
    # partial is the engine-internal keep_null_keys variant; a
    # null-dropping partial (the reference's own) would lose the null
    # bucket dcount counts (tests.rs dcount_with_nulls) and the
    # arg-null rows of sibling aggregates. See
    # test_dcount_union_split_shape for the full shape contract.
    for q in ("t.a | union (t.b) | summarize d = dcount(x) by k",
              "t.a | union (t.b) | summarize n = count(), d = dcount(x) by k"):
        out = opt(q)
        assert kinds(out) == [
            "Scan", "SummarizeStep", "Union", "SummarizeStep",
        ], (q, out)
        assert out[1].keep_null_keys and not out[3].keep_null_keys


def test_dotted_by_name_not_split():
    # the merge step reads the partial's FLAT output columns; a dotted
    # by-name would re-parse as a nested path and null every group key
    out = opt("t.a | union (t.b) | summarize n = count() by a.b")
    assert kinds(out) == ["Scan", "Union", "SummarizeStep"]


def test_union_push_converges_when_propagation_moves_the_copy():
    # project_propagation hoists the pushed Top through the extend,
    # separating it from the union run — the branch-tail guard must
    # still recognize the already-pushed shape instead of stacking a
    # new copy every fixpoint round
    out = opt("t.a | extend s2 = s | union (t.b) | top 3 by s2")
    tops_in_branch = [
        s for u in out if isinstance(u, P.Union)
        for s in u.sub.steps if isinstance(s, P.Top)
    ]
    assert len(tops_in_branch) == 1
    assert sum(isinstance(s, P.Top) for s in out) <= 2

    out2 = opt("t.a | project a = b | union (t.b) | take 3")
    limits_in_branch = [
        s for u in out2 if isinstance(u, P.Union)
        for s in u.sub.steps if isinstance(s, P.Limit)
    ]
    assert len(limits_in_branch) == 1


def test_avg_splits_with_mux_suffixes():
    # summarize.rs:9,:113-120: avg decomposes into {name}_sum = sum +
    # {name}_num = countif(exists) partials per branch; the merge sums
    # both and a post project divides (MuxAvg, workflow summarize.rs:517)
    out = opt("t.a | union (t.b) | summarize a = avg(v) by k")
    assert kinds(out) == [
        "Scan", "SummarizeStep", "Union", "SummarizeStep", "Project"
    ]
    partial = out[1]
    assert set(dict(partial.aggs)) == {"a_sum", "a_num"}
    assert dict(partial.aggs)["a_sum"] == P.Agg("sum", Field.of("v"))
    assert dict(partial.aggs)["a_num"] == P.Agg("countif", Exists(Field.of("v")))
    assert kinds(out[2].sub.steps) == ["Scan", "SummarizeStep"]
    merge = out[3]
    assert set(dict(merge.aggs)) == {"a_sum", "a_num"}
    post = out[4]
    assert [pf.name for pf in post.fields] == ["k", "a"]
    assert optimize_steps(out) == out  # converged


def test_avg_split_refused_on_suffix_collision():
    # a real output named a_sum would be clobbered by the MUX suffix
    out = opt(
        "t.a | union (t.b) | summarize a = avg(v), a_sum = sum(w) by k"
    )
    assert kinds(out) == ["Scan", "Union", "SummarizeStep"]


def test_avg_split_mixed_with_other_aggs_keeps_order():
    out = opt(
        "t.a | union (t.b) | summarize n = count(), a = avg(v), mx = max(v) by k"
    )
    assert kinds(out) == [
        "Scan", "SummarizeStep", "Union", "SummarizeStep", "Project"
    ]
    post = out[4]
    assert [pf.name for pf in post.fields] == ["k", "n", "a", "mx"]


def test_count_pushes_into_union_branches():
    # mux_into_union.rs:44 Count → MuxCount: per-branch counts summed
    out = opt("t.a | union (t.b) | count")
    assert kinds(out) == ["Scan", "CountStep", "Union", "SummarizeStep"]
    assert kinds(out[2].sub.steps) == ["Scan", "CountStep"]
    merge = out[3]
    assert dict(merge.aggs) == {"Count": P.Agg("sum", Field.of("Count"))}
    assert merge.by == ()
    # converged: re-optimizing the result is a no-op
    assert optimize_steps(out) == out


# ---- push_filter_into_join (push_filter_into_join.rs) -----------------


def test_inner_join_filter_split_push():
    # the reference's inner_join_split_push: one-sided conditions move
    # into their branches, nothing remains after the join
    out = opt(
        "t.a | join (t.b | project rf, rid) on $left.id == $right.rid"
        " | where lf > 5 and rf == 10"
    )
    assert kinds(out) == ["Scan", "Filter", "JoinStep"]
    assert out[1].expr == BinOp("gt", Field.of("lf"), Lit(5))
    sub = out[2].sub.steps
    # the sub-plan fixpoint then hoists the pushed filter through the
    # identity project, putting it right at the scan for negotiation
    assert kinds(sub) == ["Scan", "Filter", "Project"]
    assert sub[1].expr == BinOp("eq", Field.of("rf"), Lit(10))
    assert optimize_steps(out) == out  # converged


def test_left_join_only_left_pushed():
    out = opt(
        "t.a | join kind=left (t.b | project rf, rid) on $left.id == $right.rid"
        " | where lf > 5 and rf == 10"
    )
    assert kinds(out) == ["Scan", "Filter", "JoinStep", "Filter"]
    assert out[1].expr == BinOp("gt", Field.of("lf"), Lit(5))
    assert out[3].expr == BinOp("eq", Field.of("rf"), Lit(10))
    assert kinds(out[2].sub.steps) == ["Scan", "Project"]


def test_right_join_only_right_pushed():
    out = opt(
        "t.a | join kind=right (t.b | project rf, rid) on $left.id == $right.rid"
        " | where lf > 5 and rf == 10"
    )
    assert kinds(out) == ["Scan", "JoinStep", "Filter"]
    assert kinds(out[1].sub.steps) == ["Scan", "Filter", "Project"]
    assert out[1].sub.steps[1].expr == BinOp("eq", Field.of("rf"), Lit(10))
    assert out[2].expr == BinOp("gt", Field.of("lf"), Lit(5))


def test_outer_join_filter_not_pushed():
    out = opt(
        "t.a | join kind=outer (t.b | project rf, rid) on $left.id == $right.rid"
        " | where lf > 5"
    )
    assert kinds(out) == ["Scan", "JoinStep", "Filter"]


def test_both_side_condition_stays():
    out = opt(
        "t.a | join (t.b | project rf, rid) on $left.id == $right.rid"
        " | where lf + rf > 10"
    )
    assert kinds(out) == ["Scan", "JoinStep", "Filter"]


def test_join_key_overlap_classified_left():
    # reference's join_key_overlap_classified_as_left: with a merged
    # same-named key, the key condition counts as LEFT
    out = opt(
        "t.a | join (t.b | project rf, id) on id | where id > 5"
    )
    assert kinds(out) == ["Scan", "Filter", "JoinStep"]
    assert out[1].expr == BinOp("gt", Field.of("id"), Lit(5))
    assert kinds(out[2].sub.steps) == ["Scan", "Project"]


def test_no_right_field_info_unchanged():
    # reference's no_field_info_unchanged: right sub-plan not ending in
    # project/summarize has an unknown output set
    out = opt(
        "t.a | join (t.b | where x > 1) on $left.id == $right.rid"
        " | where lf > 5"
    )
    assert kinds(out) == ["Scan", "JoinStep", "Filter"]


def test_suffix_shadowed_name_not_pushed():
    # soundness divergence: `rf1` is the engine's collision suffix for
    # the right's `rf` — the reference would classify it LEFT and push
    # it to the wrong side; the engine keeps it after the join
    out = opt(
        "t.a | join (t.b | project rf, rid) on $left.id == $right.rid"
        " | where rf1 > 5"
    )
    assert kinds(out) == ["Scan", "JoinStep", "Filter"]


def test_nested_access_of_right_output_classified_right():
    # soundness divergence: the reference's exact Field equality calls
    # `obj.x` LEFT when the right outputs `obj`; it is a right read
    out = opt(
        "t.a | join (t.b | project obj, rid) on $left.id == $right.rid"
        " | where obj.x > 5"
    )
    assert kinds(out) == ["Scan", "JoinStep"]
    sub = out[1].sub.steps
    assert kinds(sub) == ["Scan", "Project", "Filter"]


def test_summarize_right_workflow_filter_push():
    # reference's summarize_right_workflow: agg/by names pin the set
    out = opt(
        "t.a | join (t.b | summarize rf = sum(v) by rid) on $left.id == $right.rid"
        " | where lf > 5 and rf == 10"
    )
    assert kinds(out) == ["Scan", "Filter", "JoinStep"]
    sub = out[2].sub.steps
    assert kinds(sub) == ["Scan", "SummarizeStep", "Filter"]


# ---- push_project_into_join (push_project_into_join.rs) ----------------


def test_project_into_join_prunes_both_sides():
    # reference's prunes_both_sides
    out = opt(
        "t.a | join (t.b | project rf, rid, extra) on $left.id == $right.rid"
        " | project lf, rf"
    )
    assert kinds(out) == ["Scan", "Project", "JoinStep", "Project"]
    assert {pf.name for pf in out[1].fields} == {"id", "lf"}
    sub = out[2].sub.steps
    # the appended identity project merged into the sub-plan's own
    # project (propagation), leaving one narrowed project
    assert kinds(sub) == ["Scan", "Project"]
    assert {pf.name for pf in sub[1].fields} == {"rf", "rid"}
    assert optimize_steps(out) == out  # converged


def test_count_prunes_to_join_keys():
    # reference's count_prunes_to_join_keys_only — but the right key
    # STAYS in the pruned right project (divergence: the reference
    # drops it and would join on nothing)
    out = opt(
        "t.a | join (t.b | project rf, rid) on $left.id == $right.rid | count"
    )
    assert kinds(out) == ["Scan", "Project", "JoinStep", "CountStep"]
    assert {pf.name for pf in out[1].fields} == {"id"}
    sub = out[2].sub.steps
    assert {pf.name for pf in sub[-1].fields} == {"rid"}


def test_project_into_join_preserves_intermediate_steps():
    # reference's preserves_intermediate_steps — but note the fixpoint
    # then ALSO hoists the filter through the inserted identity project
    # (project_propagation) and splits it into the join (both are
    # sound; the reference's single-pass tests stop earlier)
    out = opt(
        "t.a | join (t.b | project rf, rid, extra) on $left.id == $right.rid"
        " | where lf > 5 | project lf, rf"
    )
    names = kinds(out)
    assert names[0] == "Scan"
    assert "JoinStep" in names and names[-1] == "Project"
    # the filter ended up BEFORE the join (left-side push)
    join_at = names.index("JoinStep")
    assert "Filter" in names[:join_at]
    # right side pruned to rf, rid
    sub = out[join_at].sub.steps
    assert {pf.name for pf in sub[-1].fields} == {"rf", "rid"}
    assert optimize_steps(out) == out


def test_overlapping_join_keys_right_keeps_key():
    # reference's overlapping_join_keys + the key-preservation fix
    out = opt("t.a | join (t.b | project rf, id) on id | project rf")
    names = kinds(out)
    join_at = names.index("JoinStep")
    assert {pf.name for pf in out[join_at - 1].fields} == {"id"}
    sub = out[join_at].sub.steps
    assert {pf.name for pf in sub[-1].fields} == {"rf", "id"}


def test_project_into_join_converges_with_leading_project():
    # ping-pong hazard: propagation merges the inserted identity
    # project into a preceding project; the pass must not re-insert
    out = opt(
        "t.a | project lf = x, id | join (t.b | project rf, rid)"
        " on $left.id == $right.rid | project lf, rf"
    )
    assert optimize_steps(out) == out
    # no stacked identity projects anywhere
    names = kinds(out)
    for a, b in zip(names, names[1:]):
        assert not (a == "Project" and b == "Project"), names


# ---------------------------------------------------------------------------
# compute_required_before_step corpus (eliminate_unused_fields.rs
# :177-270 in-file tests) — the used-fields walk behind BOTH
# push_project_into_join's pruning and the refused-tail _source
# narrowing


def _req(step, after):
    got = required_before_step(step, set(after))
    return None if got is None else set(got)


def test_count_requires_nothing():
    # eliminate_unused_fields.rs:177
    assert _req(P.CountStep(), {"x"}) == set()


def test_summarize_requires_used_fields():
    # :182 — sum(x) by y needs exactly {x, y}
    step = P.SummarizeStep(
        (("r", P.Agg("sum", Field.of("x"))),),
        (P.ByField(Field.of("y"), "y"),),
    )
    assert _req(step, set()) == {"x", "y"}


def test_filter_unions_with_after():
    # :195 — where-on-a plus a downstream need of b → {a, b}
    step = P.Filter(Exists(Field.of("a")))
    assert _req(step, {"b"}) == {"a", "b"}


def test_sort_adds_sort_field():
    # :239
    step = P.SortStep((P.Sort("s"),))
    assert _req(step, {"x"}) == {"s", "x"}


def test_join_narrowing_adds_left_key():
    # :248 — the walk used by scan_narrowing_fields: a join in the
    # residual contributes its left key and passes the tail through
    steps = [
        P.JoinStep("k", "rk", P.Plan((P.Scan("m", "b"),))),
        P.Project((P.ProjectField(Field.of("x"), "x"),)),
    ]
    assert scan_narrowing_fields(steps) == {"k", "x"}


@pytest.mark.parametrize(
    "mappings,after,expected",
    [
        ([("a", "b")], {"a"}, {"b"}),
        ([("c", None)], {"c"}, {"a", "b"}),  # c = a + b
        ([("a", "b"), ("c", "d")], {"a"}, {"b"}),
        ([("a", "b"), ("b", "c")], {"a"}, {"b"}),
        ([("a", "b"), ("b", "c")], {"a", "b"}, {"b", "c"}),
    ],
    ids=[
        "simple",
        "expr with multiple inputs",
        "ignores unused outputs",
        "overlapping names",
        "both outputs needed",
    ],
)
def test_extend_required_fields(mappings, after, expected):
    # :270 test_case matrix — extend binds to the INPUT row
    # (project.rs:42), so definitions of UNNEEDED outputs contribute
    # nothing and overlapping names don't chain
    fields = tuple(
        P.ProjectField(
            BinOp("add", Field.of("a"), Field.of("b")) if frm is None
            else Field.of(frm),
            to,
        )
        for to, frm in mappings
    )
    assert _req(P.Extend(fields), after) == expected


# ---------------------------------------------------------------------------
# union-push missing-vs-null guard (property-suite finds, r10): the
# union compile materializes branch-absent columns as SQL null, so a
# step copied past the unions sees MISSING where the original saw
# NULL — only null-equivalent expression shapes may move


def test_union_push_refuses_null_divergent_filter():
    # hypothesis-found: `summarize by g | union (m.b) | where id < 0`
    # — post-union the summarize rows carry id = null, which SURVIVES
    # `< 0` under the total order; the pre-union copy would see id
    # MISSING and drop them. lt/lte/ne/or/not must not push.
    for pred in ("id < 0", "id <= 0", "id != 5", "id == 1 or x == 2",
                 "not(id > 5)", "id == null"):
        q = f"m.a | summarize n = count() by g | union (m.b) | where {pred}"
        out = optimize_steps(parse_kql(q).steps)
        assert isinstance(out[-1], P.Filter), (pred, out)
        assert not any(
            isinstance(s, P.Filter)
            for s in out[-2].sub.steps
        ), (pred, out)


def test_union_push_still_moves_null_equivalent_filters():
    # eq/gt/gte against a non-null literal, string ops, exists: the
    # null result is FALSE, matching the missing result inside an
    # AND-tree — these keep pushing
    for pred in ("x > 1", "x == 1", "x >= 1 and s contains 'a'",
                 "exists(x)", "not(exists(x))"):
        q = f"m.a | union (m.b) | where {pred}"
        out = optimize_steps(parse_kql(q).steps)
        assert isinstance(out[1], P.Filter), (pred, out)


def test_top_pushed_before_union_tolerates_sibling_only_key():
    # hypothesis-found: the pre-union Top copy may sort by a key that
    # only exists on a SIBLING branch — the key compiles as null (all
    # rows tie) instead of UNRESOLVED_COLUMN (compiler._sort_cols)
    q = (
        "m.a | extend e1 = 7 | union (m.b)"
        " | sort by e1 asc, t asc, id asc | take 1"
    )
    out = optimize_steps(parse_kql(q).steps)
    assert any(isinstance(s, P.Top) for s in out)


# ---------------------------------------------------------------------------
# filter_propagation.rs + summarize_const_to_project.rs corpora (r10):
# filter facts substitute into downstream summarize BY exprs, the
# folded constant CASE collapses, and an agg-less all-literal
# summarize becomes Limit(1)+Project — wire aggregations then carry
# the simplified group expression


def _prop(q):
    from miso_spark.rewrite import propagate_filter_constraints

    out, changed = propagate_filter_constraints(list(parse_kql(q).steps))
    return tuple(out), changed


def test_substitutes_field_in_case_expr():
    # filter_propagation.rs:286
    out, changed = _prop(
        "t.c | where x == 5 | summarize by result = case(x == 7, 'no', 'yes')"
    )
    assert changed
    assert out[2].by[0].expr.branches[0][0] == BinOp("eq", Lit(5), Lit(7))


def test_extracts_multiple_constraints_from_and():
    # :319 — the reference substitutes BARE by-fields too; we
    # deliberately keep them (a by-literal can't absorb as a
    # terms/stats-by wire aggregation — the substitution gains nothing
    # and loses the push). Composite exprs still substitute BOTH facts.
    _, changed = _prop(
        "t.c | where x == 5 and y == 'foo' | summarize by a = x, b = y"
    )
    assert not changed
    out, changed = _prop(
        "t.c | where x == 5 and y == 'foo'"
        " | summarize by r = case(x == 7 and y == 'foo', 'a', 'b')"
    )
    assert changed
    cond = out[2].by[0].expr.branches[0][0]
    assert cond == BinOp(
        "and", BinOp("eq", Lit(5), Lit(7)), BinOp("eq", Lit("foo"), Lit("foo"))
    )


def test_unchanged_when_no_matching_fields():
    # :346
    _, changed = _prop("t.c | where x == 5 | summarize by y")
    assert not changed


def test_unchanged_for_non_equality_filter_on_bare_field():
    # :361 — a range fact never substitutes a VALUE
    _, changed = _prop("t.c | where x > 5 | summarize by x")
    assert not changed


def test_bare_by_field_pushdown_preserved_end_to_end():
    # the shape that forced the bare-field refusal: the stats-by must
    # still reach the wire (see test_pushdown splunk/quickwit asserts)
    out = opt("t.c | where level == 'err' | summarize n = count() by level")
    assert kinds(out) == ["Scan", "Filter", "SummarizeStep"]
    assert isinstance(out[2].by[0].expr, Field)


def test_range_implies_true_and_false():
    # :392 / :422
    out, changed = _prop(
        "t.c | where x > 5 | summarize by r = case(x > 3, 'a', 'b')"
    )
    assert changed and out[2].by[0].expr.branches[0][0] == Lit(True)
    out, changed = _prop(
        "t.c | where x < 3 | summarize by r = case(x > 5, 'a', 'b')"
    )
    assert changed and out[2].by[0].expr.branches[0][0] == Lit(False)


def test_range_multiple_bounds():
    # :452 — any bound may decide
    out, changed = _prop(
        "t.c | where x > 3 and x < 10 | summarize by r = case(x > 1, 'a', 'b')"
    )
    assert changed and out[2].by[0].expr.branches[0][0] == Lit(True)


def test_range_undetermined_unchanged():
    # :485
    _, changed = _prop(
        "t.c | where x > 5 | summarize by r = case(x > 10, 'a', 'b')"
    )
    assert not changed


def test_constraint_drops_at_shadowing_extend():
    # divergence pin: the reference substitutes stale facts across a
    # middle extend that REDEFINES the field (its recurring
    # substitution-staleness bug); facts must drop at the shadow
    _, changed = _prop(
        "t.c | where x == 5 | extend x = y | summarize by r = case(x == 7, 'a', 'b')"
    )
    assert not changed


def test_constraint_drops_at_restrictive_project():
    # post-project the field is MISSING, not equal to the fact
    _, changed = _prop(
        "t.c | where x == 5 | project g | summarize by r = case(x == 7, 'a', 'b')"
    )
    assert not changed


def test_filter_propagation_end_to_end_collapses_to_project():
    # the corpus shape: where x == 5 | summarize by case(x == 7,..) →
    # where | limit 1 | project result='yes' (propagate → fold →
    # summarize_const_to_project, one fixpoint)
    out = opt("t.c | where x == 5 | summarize by result = case(x == 7, 'no', 'yes')")
    assert kinds(out) == ["Scan", "Filter", "Limit", "Project"]
    assert out[3].fields == (P.ProjectField(Lit("yes"), "result"),)


def test_summarize_const_to_project_shapes():
    # summarize_const_to_project.rs tests: single/multiple consts
    # convert; aggs or a non-literal key refuse; a NULL literal key
    # refuses (the engine drops null group keys → zero rows, which
    # Limit(1)+Project would not preserve — divergence pin)
    from miso_spark.rewrite import summarize_const_to_project as sctp

    one = parse_kql("t.c | summarize by Column1 = 'yes'").steps
    out, ch = sctp(list(one))
    assert ch and kinds(out) == ["Scan", "Limit", "Project"]
    assert out[2].fields == (P.ProjectField(Lit("yes"), "Column1"),)

    multi = parse_kql("t.c | summarize by a = 1, b = 'x'").steps
    out, ch = sctp(list(multi))
    assert ch and [pf.name for pf in out[2].fields] == ["a", "b"]

    aggy = parse_kql("t.c | summarize n = count() by a = 1").steps
    assert sctp(list(aggy))[1] is False

    field_key = parse_kql("t.c | summarize by a = x").steps
    assert sctp(list(field_key))[1] is False


def test_literal_sum_rewrite_keeps_group_keys():
    # property-suite find (r10): sum(literal) by k rewrites to a
    # count × literal post-project — which must pass the group keys
    # (and untouched aggs) through, not drop them
    out = opt(
        "t.c | summarize n = count() | extend e1 = 7"
        " | summarize sx = sum(e1), m = count() by n"
    )
    proj = out[-1]
    assert isinstance(proj, P.Project)
    assert {pf.name for pf in proj.fields} == {"sx", "m", "n"}
    assert P.ProjectField(Field.of("n"), "n") in proj.fields


def test_union_push_widened_whitelist():
    # r10 guard widening: `in` over non-null literals (drops the row
    # for a missing and a null base on BOTH compile paths) pushes in
    # AND position; exists-trees push even under OR
    for pred in ("x in (1, 2)", "x in (1) and g == 'g0'",
                 "exists(x) or exists(t)",
                 "not(exists(x)) or exists(t)"):
        q = f"m.a | union (m.b) | where {pred}"
        out = optimize_steps(parse_kql(q).steps)
        assert isinstance(out[1], P.Filter), (pred, out)
    # still refused: in with a null item (isNull arm is TRUE for the
    # null fill), in under OR (missing base poisons the or), cmp
    # leaves under OR, and — property-falsified in r11 — the whole-
    # filter not(in): on a VARIANT union column a branch-absent base
    # is UNKNOWN post-union (drops) but proper FALSE branch-side
    # (negation keeps), so the pushed copy keeps rows the engine drops
    for pred in ("x in (1, null)", "x in (1) or exists(t)",
                 "x == 1 or exists(t)", "not(x in (1, 2))"):
        q = f"m.a | union (m.b) | where {pred}"
        out = optimize_steps(parse_kql(q).steps)
        assert not isinstance(out[1], P.Filter), (pred, out)


def test_union_summarize_split_keeps_sum_type(spark):
    # property-miner find (r10): the branch partial for sum over a
    # branch-MISSING column compiled sum(void) → DOUBLE, widening the
    # merged result (40 → 40.0) though the value was untouched; a
    # long-typed null keeps the merge's integer type
    from miso_spark.compiler import Compiler
    from miso_spark.sources import MemorySource, SourceRegistry

    mem = MemorySource()
    mem.put("a", spark.createDataFrame([(1,), (2,)], "v long"))
    mem.put("b", spark.createDataFrame([("x",)], "t string"))
    rig = Compiler(SourceRegistry(spark).register("m", mem))
    q = "m.a | count | union (m.b) | summarize sx = sum(Count)"
    df = rig.run(parse_kql(q))
    opt_df = rig.run(P.Plan(optimize_steps(parse_kql(q).steps)))
    assert dict(df.dtypes)["sx"] == "bigint"
    assert dict(opt_df.dtypes)["sx"] == "bigint"
    assert opt_df.collect()[0]["sx"] == df.collect()[0]["sx"] == 2


def test_literal_agg_rewrite_never_drops_global_summarize():
    # property-miner find (r10): when EVERY aggregate of a GLOBAL
    # summarize folds to a constant, dropping the step would turn a
    # one-row aggregation into a per-row project — the substitution
    # refuses; the grouped variant still folds (group keys keep the
    # row-per-group shape)
    out = opt("t.c | extend e1 = 7 | project e1, id | summarize mx = max(e1)")
    assert any(isinstance(s, P.SummarizeStep) and s.aggs for s in out), out
    out = opt("t.c | extend e1 = 7 | summarize mx = max(e1) by g")
    assert kinds(out) == ["Scan", "SummarizeStep", "Project"]
    assert {pf.name for pf in out[2].fields} == {"g", "mx"}


def test_literal_avg_rewrite_is_double_typed():
    # property-miner find (r10): avg is always double — the folded
    # constant must be 7.0, not int 7 (value-hash visible)
    out = opt("t.c | extend e1 = 7 | summarize av = avg(e1) by g")
    proj = out[-1]
    av = next(pf.expr for pf in proj.fields if pf.name == "av")
    # python 7.0 == 7, so assert on the TYPE (the Spark literal type
    # is what the value-hash sees)
    assert isinstance(av, Lit) and isinstance(av.value, float)


def test_byless_literal_agg_fold_refused():
    # judge-CONFIRMED r10 wrong-answer bug: dcount/avg/min/max of an
    # extended literal folded to constants in a GLOBAL (by-less)
    # summarize — wrong over EMPTY input, where the engine's
    # empty-input identities apply (min/max(∅) → null, avg(∅) → 0.0,
    # dcount(∅) → 0 — summarize.rs:513-663), not the literal. The
    # hypothesis-falsified pipeline, pinned verbatim:
    q = ("t.c | where id between (3 .. 3) | where id between (0 .. 0)"
         " | extend e1 = 7 | project e1, g"
         " | summarize mx = max(e1), sx = sum(e1)")
    out = opt(q)
    sums = [s for s in out if isinstance(s, P.SummarizeStep)]
    assert sums, out
    assert any(a.kind == "max" for s in sums for _, a in s.aggs), out
    # each refused kind stays a real aggregate when by-less …
    for agg in ("max(e1)", "min(e1)", "avg(e1)", "dcount(e1)"):
        bout = opt(f"t.c | extend e1 = 7 | project e1, g | summarize v = {agg}")
        assert any(
            isinstance(s, P.SummarizeStep) and s.aggs for s in bout
        ), (agg, bout)
    # … while the grouped variants still fold (a group implies ≥1 row)
    for agg in ("max(e1)", "min(e1)", "avg(e1)", "dcount(e1)"):
        gout = opt(f"t.c | extend e1 = 7 | summarize v = {agg} by g")
        assert kinds(gout) == ["Scan", "SummarizeStep", "Project"], (agg, gout)
    # by-less sum → count×lit stays exact (0 × lit = 0 over empty)
    sout = opt("t.c | extend e1 = 7 | project e1, g | summarize sx = sum(e1)")
    assert any(
        a.kind == "count" for s in sout
        if isinstance(s, P.SummarizeStep) for _, a in s.aggs
    ), sout


def test_union_push_refuses_literal_on_left_comparison():
    # r10 advice (high): `5 > x` ≡ `x < 5`, which is TRUE for a
    # missing/null x (null is smallest) — pushing it past a union into
    # a branch missing x drops rows the post-union filter keeps.
    # Only value-on-LEFT gt/gte forms may move; eq stays symmetric.
    for pred in ("5 > x", "5 >= x"):
        out = optimize_steps(parse_kql(f"m.a | union (m.b) | where {pred}").steps)
        assert not isinstance(out[1], P.Filter), (pred, out)
    for pred in ("x > 5", "x >= 5", "5 == x", "x == 5"):
        out = optimize_steps(parse_kql(f"m.a | union (m.b) | where {pred}").steps)
        assert isinstance(out[1], P.Filter), (pred, out)


def test_rename_constraint_transfer_is_simultaneous():
    # r10 advice (low): Rename compiles via withColumnsRenamed
    # (simultaneous) — for pairs (a→b, b→c), a fact on `a` lands on
    # `b` only; the old pair-by-pair migration chained it onto `c`,
    # which actually holds the ORIGINAL b's values, substituting a
    # wrong constant into a downstream summarize-by. Tested on the
    # pass directly (project_propagation otherwise consumes the
    # rename first).
    from miso_spark.exprs import Case
    from miso_spark.rewrite import propagate_filter_constraints

    def steps(by_col):
        return [
            P.Scan("t", "c"),
            P.Filter(BinOp("eq", Field.of("a"), Lit(5))),
            P.Rename((("a", "b"), ("b", "c"))),
            P.SummarizeStep(
                (("n", P.Agg("count")),),
                (P.ByField(
                    Case(
                        ((BinOp("eq", Field.of(by_col), Lit(5)), Lit("y")),),
                        Lit("n"),
                    ),
                    "k",
                ),),
            ),
        ]

    # the fact must NOT reach c (holds the original b's values)
    out, changed = propagate_filter_constraints(steps("c"))
    assert not changed, out
    # the fact DOES land on b (holds the original a's values)
    out2, changed2 = propagate_filter_constraints(steps("b"))
    assert changed2, out2
    by2 = out2[-1].by[0].expr
    assert by2.branches[0][0] == BinOp("eq", Lit(5), Lit(5)), out2


def test_dcount_union_split_shape():
    # r11 (mux_into_union.rs summarize_into_union): dcount splits —
    # the arg joins the partial's group keys (reusing a by key with
    # the identical expression, else the field name) and the merge
    # re-runs dcount over the key column. The partial is the
    # engine-INTERNAL keep_null_keys variant: unlike the reference's
    # own partial (drops null keys, summarize.rs:151), it preserves
    # the null bucket dcount counts as a distinct value and the
    # arg-null rows of sibling aggregates.
    out = opt(
        "m.a | union (m.b) | summarize c = count(), s = sum(y),"
        " d = dcount(x), dd = dcount(z) by x"
    )
    assert kinds(out) == ["Scan", "SummarizeStep", "Union", "SummarizeStep"]
    partial, merge = out[1], out[3]
    assert partial.keep_null_keys
    assert [bf.name for bf in partial.by] == ["x", "z"]
    assert dict(partial.aggs) == {
        "c": P.Agg("count"),
        "s": P.Agg("sum", Field.of("y")),
    }
    assert not merge.keep_null_keys
    assert [bf.name for bf in merge.by] == ["x"]
    assert dict(merge.aggs) == {
        "c": P.Agg("sum", Field.of("c")),
        "s": P.Agg("sum", Field.of("s")),
        "d": P.Agg("dcount", Field.of("x")),
        "dd": P.Agg("dcount", Field.of("z")),
    }
    # each branch ends with the same partial
    assert out[2].sub.steps[-1] == partial
    # a computed arg gets an internal flat key name
    out2 = opt("m.a | union (m.b) | summarize d = dcount(x + 1) by g")
    partial2 = out2[1]
    assert partial2.keep_null_keys
    assert [bf.name for bf in partial2.by] == ["g", "d__dcarg"]
    assert dict(out2[3].aggs) == {"d": P.Agg("dcount", Field.of("d__dcarg"))}


def test_dcount_union_split_results(spark):
    # differential: the split must preserve results with a PRESENT
    # null arg (a distinct dcount value — tests.rs dcount_with_nulls),
    # a branch-ABSENT arg column, and sibling aggregates, on both the
    # typed and the per-row dynamic (VARIANT) representation
    import json

    from miso_spark.compiler import Compiler
    from miso_spark.dynamic import ingest_json_dynamic
    from miso_spark.sources import MemorySource, SourceRegistry

    a_rows = [(1, "g1", 10), (2, "g1", None), (3, "g1", 10),
              (4, "g2", 20), (5, "g2", None), (6, None, 30)]
    b_rows = [(100, "g1"), (101, "g2"), (102, "g1")]  # no y column

    def rows_of(data, names):
        return [
            {k: v for k, v in zip(names, r) if v is not None} for r in data
        ]

    mem_t = MemorySource()
    mem_t.put("a", spark.createDataFrame(a_rows, "id long, g string, y long"))
    mem_t.put("b", spark.createDataFrame(b_rows, "id long, g string"))
    mem_d = MemorySource()
    mem_d.put("a", ingest_json_dynamic(
        spark, rows_of(a_rows, ["id", "g", "y"]), keys=["id", "g", "y"]))
    mem_d.put("b", ingest_json_dynamic(
        spark, rows_of(b_rows, ["id", "g"]), keys=["id", "g"]))

    for mem in (mem_t, mem_d):
        rig = Compiler(SourceRegistry(spark).register("m", mem))
        for q in (
            "m.a | union (m.b) | summarize d = dcount(y), n = count() by g",
            "m.a | union (m.b) | summarize d = dcount(y)",
            "m.a | union (m.b) | summarize d = dcount(g), s = sum(y)",
        ):
            plan = parse_kql(q)
            o = optimize_steps(plan.steps)
            assert o != tuple(plan.steps), (q, "split did not fire")

            def rows(df):
                from pyspark.sql.types import VariantVal

                out = []
                for r in df.collect():
                    d = {
                        k: (v.toPython() if isinstance(v, VariantVal) else v)
                        for k, v in r.asDict().items()
                    }
                    out.append(json.dumps(
                        {k: v for k, v in d.items() if v is not None},
                        sort_keys=True, default=str))
                return sorted(out)

            base = rows(rig.run(plan))
            split = rows(rig.run(P.Plan(o)))
            assert split == base, (q, mem is mem_d, base, split)


def test_minmax_union_split_empty_branch_state(spark):
    """r13 soak find, deterministic pin: the union split's per-branch
    min/max PARTIAL over a branch that lacks the agg column is an
    EMPTY MinMax state (summarize.rs:493 Option<Value> None) — the
    merge must skip it, on both the typed and the dynamic model, so
    split == unsplit. Before the fix, the dynamic arm's variant lift
    read the empty partial as a present VOID null, which won the
    merged min (present null is the total-order smallest)."""
    import json

    from miso_spark.compiler import Compiler
    from miso_spark.dynamic import ingest_json_dynamic
    from miso_spark.sources import MemorySource, SourceRegistry

    mem_t = MemorySource()
    mem_t.put("a", spark.createDataFrame([(1, 5), (2, 0)], "id long, y long"))
    mem_t.put("b", spark.createDataFrame([(3,)], "id long"))  # no y
    mem_d = MemorySource()
    mem_d.put("a", ingest_json_dynamic(
        spark, [{"id": 1, "y": 5}, {"id": 2, "y": 0}], keys=["id", "y"]))
    mem_d.put("b", ingest_json_dynamic(spark, [{"id": 3}], keys=["id"]))

    for mem in (mem_t, mem_d):
        rig = Compiler(SourceRegistry(spark).register("m", mem))
        for q in (
            "m.a | union (m.b) | summarize mn = min(y), mx = max(y)",
            "m.b | union (m.a) | summarize mn = min(y), mx = max(y)",
        ):
            plan = parse_kql(q)
            o = optimize_steps(plan.steps)
            assert o != tuple(plan.steps), (q, "split did not fire")

            def vals(df):
                from pyspark.sql.types import VariantVal

                return [
                    {
                        k: (v.toPython() if isinstance(v, VariantVal) else v)
                        for k, v in r.asDict().items()
                    }
                    for r in df.collect()
                ]

            base = vals(rig.run(plan))
            split = vals(rig.run(P.Plan(o)))
            assert base == split == [{"mn": 0, "mx": 5}], (
                q, mem is mem_d, base, split,
            )


class TestRunawayGuards:
    """r13/r14 optimizer runaway guards: plan size + recursion depth
    (r13) and the per-run work/rounds budgets (r14 — the observed
    30-min burn sat in _hits_right's path comparisons with the plan
    never growing, invisible to the size guards)."""

    def test_depth_guard_trips(self):
        import miso_spark.rewrite as rw

        # build a plan nested past MAX_OPT_DEPTH union sub-plans
        inner = P.Plan((P.Scan("c", "t"),))
        for _ in range(rw.MAX_OPT_DEPTH + 2):
            inner = P.Plan((P.Scan("c", "t"), P.Union(inner)))
        with pytest.raises(RuntimeError, match="recursion exceeded"):
            optimize_steps(inner.steps)

    def test_work_budget_raises_and_disarms(self):
        import miso_spark.rewrite as rw

        # armed: charging past the budget raises
        rw._opt_tls.work = rw.MAX_OPT_WORK
        try:
            with pytest.raises(RuntimeError, match="path-comparison work"):
                rw._charge_work(1)
        finally:
            rw._opt_tls.work = None
        # disarmed (outside a run): charging is a no-op
        rw._charge_work(10**12)

    def test_rounds_budget_raises(self, monkeypatch):
        import miso_spark.rewrite as rw

        monkeypatch.setattr(rw, "MAX_OPT_ROUNDS_TOTAL", 1)
        with pytest.raises(RuntimeError, match="fixpoint rounds"):
            # needs >1 total round: any plan that changes once does
            optimize_steps(parse_kql("c.t | sort by x asc | take 3").steps)

    def test_budgets_reset_between_runs(self):
        import miso_spark.rewrite as rw

        q = "c.t | sort by x asc | take 3 | where y > 1"
        for _ in range(3):
            optimize_steps(parse_kql(q).steps)
        assert getattr(rw._opt_tls, "work", None) is None
        assert getattr(rw._opt_tls, "rounds", None) is None

    def test_healthy_plans_stay_far_under_budget(self):
        import miso_spark.rewrite as rw

        q = (
            "c.t | where a > 1 | extend z = a + b | join kind=inner "
            "(c.u | project k, v) on $left.a == $right.k "
            "| summarize n = count(), s = sum(v) by z | sort by n desc | take 5"
        )
        rw._opt_tls.depth = 1  # keep the budgets armed after the run
        rw._opt_tls.work = 0
        rw._opt_tls.rounds = 0
        try:
            optimize_steps(parse_kql(q).steps)
            assert rw._opt_tls.work < rw.MAX_OPT_WORK // 1000
            assert rw._opt_tls.rounds < rw.MAX_OPT_ROUNDS_TOTAL // 1000
        finally:
            rw._opt_tls.depth = 0
            rw._opt_tls.work = None
            rw._opt_tls.rounds = None

    def test_ping_pong_raises_within_the_round_cap(self, monkeypatch):
        """A pass pair that never settles raises after MAX_OPT_ROUNDS
        rounds instead of returning a plan that is still moving."""
        import time

        import miso_spark.rewrite as rw

        def flip(steps):
            out = list(steps)
            out[-1] = P.Limit(7 - out[-1].n)
            return out, True

        monkeypatch.setattr(rw, "fold_exprs", flip)
        t0 = time.perf_counter()
        with pytest.raises(RuntimeError, match="optimizer runaway: no fixpoint"):
            optimize_steps(parse_kql("c.t | take 3").steps)
        assert time.perf_counter() - t0 < 1.0

    @pytest.mark.parametrize(
        "budget,limit,q,message",
        [
            ("MAX_OPT_STEPS", 3, "c.t | take 3 | take 2 | take 1",
             "past 3 top-level steps"),
            ("MAX_OPT_TOTAL_STEPS", 5, "c.t | union (c.u | take 3 | take 2 | take 1)",
             "past 5 total steps counting sub-plans"),
        ],
    )
    def test_size_guard_names_the_budget_that_tripped(
        self, monkeypatch, budget, limit, q, message
    ):
        import miso_spark.rewrite as rw

        monkeypatch.setattr(rw, budget, limit)
        with pytest.raises(RuntimeError, match=message):
            optimize_steps(parse_kql(q).steps)


#: project_propagation folds the constant column's project past the
#: branch partials, so neither neighbour of the union run looks like a
#: pushed shape; only the union's ``pushed`` mark tells
UNION_CONST_SUMMARIZE = (
    "m.a | union (m.b) | extend e1 = 7 | project e1, g, id"
    " | summarize mx = max(e1), n = count() by b = bin(id, 2)"
)


def test_union_summarize_push_keeps_its_mark_and_converges():
    """The summarize splits once into per-branch partials and one merge
    copy. The union keeps ``pushed`` after project_propagation rewrites
    its branch (the push appended a SummarizeStep; the branch now ends
    in the folded Project), so the merge copy is never split again."""
    out = opt(UNION_CONST_SUMMARIZE)
    partial = P.SummarizeStep(
        (("n", P.Agg("count", None)),),
        (P.ByField(Bin(Field.of("id"), Lit(2)), "b"),),
        partial=True,
    )
    folded = P.Project((
        P.ProjectField(Field.of("n"), "n"),
        P.ProjectField(Field.of("b"), "b"),
        P.ProjectField(Lit(7), "mx"),
    ))
    merge = P.SummarizeStep(
        (("mx", P.Agg("max", Field.of("mx"))), ("n", P.Agg("sum", Field.of("n")))),
        (P.ByField(Field.of("b"), "b"),),
    )
    assert out == (
        P.Scan("m", "a"),
        partial,
        folded,
        P.Union(
            P.Plan((P.Scan("m", "b"), partial, folded)),
            pushed=frozenset({"summarize"}),
        ),
        merge,
    )
    assert out[3].pushed == frozenset({"summarize"})
    assert optimize_steps(out) == out


def test_long_extend_chain_reaches_a_fixpoint_in_one_call():
    """Each round inlines one more extend into the filter, so a chain of
    30 extends needs 30 rounds; one call still returns a fixpoint, with
    the filter moved next to the scan."""
    chain = " | ".join(
        f"extend a{j} = {'x' if j == 1 else f'a{j - 1}'} + 1" for j in range(1, 31)
    )
    once = opt(f"c.t | {chain} | where a30 > 3")
    assert optimize_steps(once) == once
    assert kinds(once)[:2] == ["Scan", "Filter"]
