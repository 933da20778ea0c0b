"""Physical-plan regression tests: the optimizations we rely on at scale
must be visible in the plan, not assumed.

- parquet filter pushdown + column pruning reach the scan
- the enrich join is a BroadcastHashJoin (fact side never shuffles)
- a bucketed, sorted source feeds the whole kills-family pipeline with
  NO exchange and NO sort
- the parse stages stay out of the >64KB-codegen failure mode (no
  fallback warnings => asserted indirectly by plan shape)
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_pushdown_and_pruning(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select(
        "l_orderkey", "l_quantity"
    )
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity", "l_shipdate",
    }, f"scan reads more columns than needed: {m.group(1) if m else plan}"


def test_enrich_join_is_broadcast(spark):
    from quake3_log_analyser_spark.datagen import dim_means_of_death
    from quake3_log_analyser_spark.operators.enrich import enrich_kills

    kills = spark.createDataFrame(
        [(1, "MOD_ROCKET")], "reason_id long, reason_name string"
    )
    plan = plan_of(enrich_kills(kills, dim_means_of_death(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _assert_bucketed_plan_has_no_exchange_or_sort(spark, tmp_path, ops):
    """Run the default ``summarize_matches`` for ``ops`` on a conv_id-bucketed,
    (conv_id, turn_idx)-sorted table: the bucket partitioning satisfies the
    window and both groupBys' clustering, and the bucket sort order feeds the
    window, so the plan has no exchange, no sort and no Python boundary, and
    it must collect under strict codegen."""
    from quake3_log_analyser_spark.datagen import generate_transcripts
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches

    df = generate_transcripts(spark, n_convs=8, turns_per_conv=40)
    loc = str(tmp_path / "bucketed")
    (
        df.repartition(4, "conv_id")
        .write.mode("overwrite")
        .bucketBy(4, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .option("path", loc)
        .saveAsTable("t_bucketed_plan_test")
    )
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        t = spark.table("t_bucketed_plan_test")
        out = summarize_matches(t, ops=ops)
        plan = plan_of(out)
        assert "Window" in plan[: plan.index("FileScan")], plan
        assert "Exchange" not in plan, f"bucketed scan must not reshuffle: {plan}"
        assert not re.search(r"\bSort \[", plan), (
            f"bucket sort order must be reused: {plan}"
        )
        assert "MapInArrow" not in plan, plan
        assert len(out.collect()) > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
        spark.sql("DROP TABLE IF EXISTS t_bucketed_plan_test")


def test_bucketed_window_has_no_exchange_or_sort(spark, tmp_path):
    """The kills menu — expr parse + window + both aggregation levels — on
    a bucketed, sorted table.  This is the 10^12-turn deployment plan."""
    _assert_bucketed_plan_has_no_exchange_or_sort(spark, tmp_path, {"kills"})


def test_session_first_bucketed_full_pipeline_no_exchange(spark, tmp_path):
    """The widest kills-family menu on a bucketed, sorted table.  The name
    dates from a separate session-first plan, since removed: the default
    parse-first plan now reads the bucketed table with no exchange."""
    _assert_bucketed_plan_has_no_exchange_or_sort(
        spark, tmp_path, {"kills", "means_of_death", "reported_scores"}
    )


def test_session_window_single_shuffle_unbucketed(spark):
    """Plain (unbucketed) input: exactly ONE exchange below the window —
    both window passes share the same partitioning."""
    from quake3_log_analyser_spark.datagen import generate_transcripts
    from quake3_log_analyser_spark.operators.parse import parse_transcripts
    from quake3_log_analyser_spark.operators.sessionize import sessionize

    t = generate_transcripts(spark, n_convs=8, turns_per_conv=40)
    sess = sessionize(
        parse_transcripts(
            t.select("conv_id", "turn_idx", "text"),
            parser="expr", fields=["killer_name", "victim_name"],
        )
    )
    plan = plan_of(sess)
    assert len(re.findall(r"Exchange hashpartitioning\(conv_id", plan)) == 1


def test_pipeline_narrows_input_before_python_boundary(spark):
    """mapInArrow blocks Catalyst pruning, so the fold pipeline must select
    only (conv_id, turn_idx, text) BEFORE the parse — the mapInArrow node's
    input schema proves it (measured 2x on the parse stage at 16M turns)."""
    from quake3_log_analyser_spark.datagen import generate_transcripts
    from quake3_log_analyser_spark.plans.pipeline import (
        full_pipeline_ops,
        summarize_matches,
    )

    t = generate_transcripts(spark, n_convs=4, turns_per_conv=24)
    plan = plan_of(summarize_matches(t, ops=full_pipeline_ops()))
    m = re.search(r"MapInArrow .*?\[([^\]]*)\]", plan)
    assert m, plan
    in_cols = {c.split("#")[0].strip() for c in m.group(1).split(",")}
    assert "role" not in in_cols and "tool" not in in_cols and "ts" not in in_cols, (
        f"python boundary carries unneeded columns: {in_cols}"
    )


def test_kills_only_first_level_agg_stays_codegen(spark):
    """The 16M-row first-level aggregation must remain a codegen
    HashAggregate — collect_list-style buffers would demote it to
    ObjectHashAggregate (measured ~5x slower e2e)."""
    from quake3_log_analyser_spark.datagen import generate_transcripts
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches

    t = generate_transcripts(spark, n_convs=4, turns_per_conv=24)
    plan = plan_of(summarize_matches(t, ops={"kills"}))
    first_agg = plan.split("ObjectHashAggregate")[-1]
    # the ONLY ObjectHashAggregate pair allowed is the per-match collect
    # level; below it (towards the scan) only HashAggregate may appear
    assert "HashAggregate" in first_agg, plan


def test_auto_parser_picks_expr_for_narrow_kills_path(spark):
    """parser='auto' (the default) must select the expr parser for the
    narrow kills-family shapes: no Python boundary in the plan at all —
    the expr variant is 2x faster and scales at 0.59 vs arrow's 0.27-0.37
    (BENCH/stage_scaling.txt)."""
    from quake3_log_analyser_spark.datagen import generate_transcripts
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches

    t = generate_transcripts(spark, n_convs=4, turns_per_conv=24)
    for ops in ({"kills"}, {"kills", "means_of_death", "reported_scores"}):
        plan = plan_of(summarize_matches(t, ops=ops))
        assert "MapInArrow" not in plan and "ArrowEvalPython" not in plan, (
            f"auto should pick the expr parser for {ops}"
        )


def test_auto_parser_keeps_arrow_barrier_for_fold_path(spark):
    """The 9-field player_resolutions fold keeps the arrow parser: wide
    re-inlining is the documented janino >64KB hazard, and the path pays a
    Python boundary for the fold anyway."""
    from quake3_log_analyser_spark.datagen import generate_transcripts
    from quake3_log_analyser_spark.plans.pipeline import (
        full_pipeline_ops,
        summarize_matches,
    )

    t = generate_transcripts(spark, n_convs=4, turns_per_conv=24)
    plan = plan_of(summarize_matches(t, ops=full_pipeline_ops()))
    assert "MapInArrow" in plan


def test_auto_expr_pipeline_never_falls_back_from_codegen(spark):
    """With spark.sql.codegen.fallback=false a janino compile failure is
    FATAL instead of a silent 60s-per-stage interpreted fallback — running
    the auto (expr) pipeline end-to-end under that config proves the narrow
    field set stays inside the 64KB codegen limit."""
    from quake3_log_analyser_spark.datagen import generate_transcripts
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches

    t = generate_transcripts(spark, n_convs=6, turns_per_conv=60)
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = summarize_matches(
            t, ops={"kills", "means_of_death", "reported_scores"}
        ).collect()
        assert len(rows) > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_multi_op_vectorized_is_single_pass(spark):
    """ops={kills, means_of_death, reported_scores} must run as ONE
    two-level aggregation over ONE parse+window DAG.  The round-3 plan
    audit confirmed the old branch-and-join composition executed 3 scans,
    6 window nodes and 3 exchanges with 0 ReusedExchange — the dominant
    stages ran three times.  Single-pass criterion: exactly the
    kills-only plan shape (1 conv_id exchange, 2 window nodes), no joins."""
    from quake3_log_analyser_spark.datagen import generate_transcripts
    from quake3_log_analyser_spark.plans.pipeline import summarize_matches

    t = generate_transcripts(spark, n_convs=4, turns_per_conv=24)
    plan = plan_of(
        summarize_matches(t, ops={"kills", "means_of_death", "reported_scores"})
    )
    assert len(re.findall(r"Exchange", plan)) == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning\(conv_id", plan)) == 1, plan
    assert len(re.findall(r"\bWindow ", plan)) == 2, plan
    assert "Join" not in plan, plan
