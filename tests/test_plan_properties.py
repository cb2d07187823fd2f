"""Physical-plan regression tests.

The 100 TB story depends on plan PROPERTIES, not just results: filters
reaching the parquet scan, column pruning, broadcasts on small sides,
whole-stage codegen on the hot arithmetic, and top-k compiling to
TakeOrdered instead of a full sort. These asserts pin each property so a
refactor that silently loses one fails loudly. (The bucketed no-Exchange
asserts live in tests/test_bucketing.py and tests/test_crawl.py.)
"""

from __future__ import annotations

from ecc_spark.registry import queries

SF = "/root/testdata/sf0.001"


def _plan(spark, key: str) -> str:
    df = queries()[key](spark, SF)
    df.count()  # let AQE finalize the plan it actually ran
    return df._jdf.queryExecution().executedPlan().toString()


def test_notnull_filter_pushed_to_scan(spark):
    plan = _plan(spark, "filter_notnull")
    assert "PushedFilters: [IsNotNull" in plan


def test_limit_pushed_down_no_global_sort(spark):
    # page-stream LIMIT compiles to TakeOrdered, never a full sort+limit
    plan = _plan(spark, "limit_pages")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_bm25_topk_takeordered_and_single_row_broadcast(spark):
    plan = _plan(spark, "bm25_topk")
    assert "TakeOrderedAndProject" in plan
    # corpus stats arrive via broadcast, not a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_lang_id_prunes_unused_columns(spark):
    plan = _plan(spark, "lang_id")
    assert "ReadSchema" in plan
    # only doc_id+text are read; the fat/unused columns never leave parquet
    assert "n_chars" not in plan
    assert "source" not in plan


def test_link_semijoin_broadcasts_small_side(spark):
    plan = _plan(spark, "link_semijoin")
    assert "BroadcastHashJoin" in plan


def test_quality_score_stays_in_codegen(spark):
    # pure JVM column exprs: no Python evaluation node anywhere, and at
    # least one whole-stage-codegen span (the *(n) markers in toString;
    # higher-order lambda projections are interpreted by design)
    plan = _plan(spark, "quality_score")
    assert "*(" in plan
    assert "EvalPython" not in plan


def plan_node_count(df, name: str) -> int:
    """Physical nodes called ``name`` in ``df``'s executed plan, counting
    inside adaptive plans, query stages and cached relations (a persisted
    frame's plan is where its UDFs run). Reusable by any fusion test."""

    def seq(s):
        return [s.apply(i) for i in range(s.length())]

    n, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        node = p.nodeName()
        n += node == name
        todo += seq(p.children())
        if node == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
        elif node == "InMemoryTableScan":
            todo.append(p.relation().cachedPlan())
        elif node.endswith("QueryStage"):
            todo.append(p.plan())
    return n


def test_build_matches_one_python_eval_node(spark):
    # clean + phrase match run as ONE pandas UDF: one Arrow round trip and
    # one Python worker per task (the chained pair stacked two nodes)
    from ecc_spark.fixtures import corpus_dataframes
    from ecc_spark.matches import build_matches

    documents, seeds, *_ = corpus_dataframes(spark, n_docs=20, n_seeds=8, seed=3)
    for df in build_matches(documents, seeds):
        df.count()
        assert plan_node_count(df, "ArrowEvalPython") == 1
        assert plan_node_count(df, "BatchEvalPython") == 0
