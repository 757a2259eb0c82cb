"""Physical-plan shape assertions: the optimizations SCALING.md claims.

These read `.explain` output so a regression that silently de-optimizes a
plan (lost broadcast, lost pushdown, Python stage sneaking into a native
query) fails loudly.
"""

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_containment_join_broadcasts_dim(spark):
    from tablestructurerec_spark.operators.relational import q_j1_containment_join

    plan = _plan(q_j1_containment_join(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_relational_queries_have_no_python_stage(spark):
    # registered queries and these modules' components run native paths only
    from tablestructurerec_spark.operators import (
        dedup,
        hygiene,
        relational,
        retrieval,
        sampling,
        similarity,
        temporal,
        textstats,
    )

    queries = {}
    for mod in (relational, hygiene, sampling, dedup, similarity, temporal, retrieval):
        queries.update(mod.QUERIES)
    # these modules' components that no longer hold a registry slot
    for fn in (textstats.q_lang_id_ngram, sampling.q_dsir_weights, dedup.q_dedup_keep_best):
        queries[fn.__name__] = fn
    for name, fn in queries.items():
        plan = _plan(fn(spark, SF))
        assert "EvalPython" not in plan and "MapInPandas" not in plan, name


def test_filter_pushdown_reaches_scan(spark):
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan
    # column pruning: ReadSchema carries only the 2 projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_salted_agg_is_two_stage(spark):
    from tablestructurerec_spark.operators.relational import _a10_frame
    from tablestructurerec_spark.sources.read import read_table

    plan = _plan(_a10_frame(read_table(spark, SF, "events")))
    # two distinct hash aggregates with an exchange between them
    assert plan.count("HashAggregate") >= 4  # partial+final for each stage
    assert "xxhash64" in plan.lower()


def test_extract_tables_projects_before_udf(spark):
    from tablestructurerec_spark.plans.extract import extract_tables
    from tablestructurerec_spark.sources.synthetic import synth_transcripts

    df = synth_transcripts(spark, 4, 3, 1)
    plan = _plan(extract_tables(df))
    # the UDF's child must carry only the 3 needed columns
    import re

    m = re.search(r"MapInPandas .*?#\d+", plan)
    assert m is not None
    assert "role" not in plan.split("MapInPandas")[1].split("\n")[0]


def test_components_final_join_not_forced_broadcast(spark):
    """The corpus-side label join must carry no broadcast hint: the label map
    is unbounded at scale, so AQE must stay free to pick the strategy."""
    from tablestructurerec_spark.operators.dedup import q_dedup_components

    analyzed = (
        q_dedup_components(spark, SF)._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed


def test_expensive_score_not_in_join_condition(spark):
    """SCALING.md §4b: the jaccard/cosine score must be evaluated in a
    post-join projection (CSE, once per candidate), never inlined into the
    join condition (no CSE, runs on every raw equi match)."""
    from tablestructurerec_spark.operators.dedup import q_dedup_ngram_jaccard
    from tablestructurerec_spark.operators.similarity import q_dedup_embedding_cosine

    for fn, marker in (
        (q_dedup_ngram_jaccard, "array_intersect"),
        (q_dedup_embedding_cosine, "zip_with"),
    ):
        plan = _plan(fn(spark, SF))
        join_lines = [l for l in plan.splitlines() if "Join" in l]
        assert join_lines, fn.__name__
        for line in join_lines:
            assert marker not in line, f"{fn.__name__}: score in join condition"


def test_teds_eval_projects_before_udf(spark):
    """The TEDS scoring UDF's child must carry only (tmpl, logic_points,
    gold_html) — manual pruning at the mapInPandas boundary; pred side
    scores from the extraction's own logic_points, never re-parsing
    pred_html."""
    import __spark_entry__ as entry_mod

    import re

    df = entry_mod.queries()["teds_eval"](spark, SF)
    plan = _plan(df)
    # two python stages: extraction (deeper) + TEDS scoring (first in the
    # top-down plan print); the scoring stage's argument list must carry
    # exactly the three scoring columns, nothing from the wider join
    assert plan.count("MapInPandas") == 2
    scoring_line = plan.split("MapInPandas")[1].split("\n")[0]
    args = scoring_line.split(")")[0]
    got = set(re.findall(r"(\w+)#\d+", args))
    assert got == {"tmpl", "logic_points", "gold_html"}, got


def test_reocr_join_not_forced_broadcast(spark):
    """cells x images are both large at scale: no broadcast hint on the
    re-OCR join — AQE decides."""
    from tablestructurerec_spark.plans.reocr import low_confidence_cells

    cells = spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, table_idx int, cell_id int, "
        "quad array<double>, score double, text string",
    )
    images = spark.createDataFrame([], "conv_id string, turn_idx int, payload binary")
    analyzed = (
        low_confidence_cells(cells, images)._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed


def test_reocr_merge_is_pure_catalyst(spark):
    """The merge-back face is relational end-to-end — no Python stage; the
    documents scan prunes to the consumed columns only."""
    from tablestructurerec_spark.plans.reocr import q_reocr_merge

    plan = _plan(q_reocr_merge(spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "lang" not in plan  # unused column never read


def test_flagship_transcripts_have_no_window_shuffle(spark):
    """The flagship corpus construction must stay a pure projection — a
    source-partitioned row_number() here would put a skewed corpus-wide
    shuffle+sort in front of the otherwise shuffle-free extraction plan."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["flagship_extract"](spark, SF))
    assert "Window" not in plan
    # exactly TWO exchanges, pinned by kind: one round-robin from read_spread
    # (the test parquet is single-row-group, so the guard always fires) and
    # the final driver-contract orderBy's range partitioning.  Counting by
    # kind means a new round-robin repartition sneaking into the flagship
    # plan fails here instead of hiding behind the read_spread allowance.
    assert plan.count("RoundRobinPartitioning") == 1
    assert plan.count("Exchange") == 2


def test_bm25_hit_list_scans_corpus_once(spark):
    """The df-count and scoring branches must hang off ONE term-partitioned
    exchange: losing the reuse silently doubles the corpus tokenize at
    100 TB.  The dedupe happens at AQE stage-materialization time (the
    static plan still prints two exchanges), so execute first and assert
    the FINAL adaptive plan replaced the dfreq branch's term exchange with
    a ReusedExchange — this is also the regression canary for the
    tautology guard in dfreq that keeps both subtrees byte-identical
    under column pruning."""
    from tablestructurerec_spark.operators.retrieval import _bm25_per_doc

    df = _bm25_per_doc(spark, SF)
    df.collect()
    plan = _plan(df)
    assert any(
        "ReusedExchange" in l and "hashpartitioning(term" in l
        for l in plan.splitlines()
    ), plan


def test_dup_spans_repeat_count_is_not_a_window_funnel(spark):
    """Repeats must be counted via partial-agg groupBy + semi join — a
    count() OVER (PARTITION BY hash) funnels every occurrence of a hot
    window hash through one un-splittable sort task."""
    from tablestructurerec_spark.operators.hygiene import _dup_islands
    from tablestructurerec_spark.sources.read import read_table

    plan = _plan(_dup_islands(read_table(spark, SF, "documents")))
    assert "LeftSemi" in plan
    # the bound is deliberately tight at 2: the doc-partitioned islands
    # merge legitimately plans as two Window ops (max-over-preceding and
    # running-sum use different frames); a regression back to a
    # hash-partitioned count() OVER would add a third and fail
    assert plan.count("Window") <= 2


def test_salted_topk_is_two_stage(spark):
    """salted_topk: a per-(group, salt) rank must precede the final
    per-group rank, so no group funnels through one task unranked."""
    from pyspark.sql import functions as F

    from tablestructurerec_spark.operators.retrieval import salted_topk
    from tablestructurerec_spark.sources.read import read_table

    docs = read_table(spark, SF, "documents").select("doc_id", "lang")
    order = [F.col("doc_id").asc()]
    plan = _plan(salted_topk(docs, "lang", order, 20, salt_col="doc_id"))
    assert plan.count("row_number()") >= 2
