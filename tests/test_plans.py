"""Plan-quality golden tests (SURVEY.md §4.2): the optimizations we rely
on must actually appear in the physical plan — pushdown, pruning,
broadcast, whole-stage codegen, and UDF-stage placement.
"""

import os

import numpy as np
from pyspark.sql import functions as F

from glcmstream import plan, queries, similarity

SF = "/root/testdata/sf0.01"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    df = queries.QUERIES["filter_pushdown_part"](spark, SF)
    s = _executed(df)
    assert "PushedFilters: [" in s
    # size/retailprice predicates pushed to the scan
    assert "p_size" in s.split("PushedFilters")[1][:400]


def test_column_pruning_never_reads_html_for_metadata_query(spark):
    """A query over pages that touches only url/lang must not read html
    (the 100TB-killer would be scanning the payload for a count)."""
    pages = plan.pages_from_documents(spark, SF)
    q = pages.groupBy("lang").count()
    s = _executed(q)
    # ReadSchema of the documents scan excludes text (html is derived
    # from text, so text absent == payload not read)
    read_schema = s.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, read_schema
    assert "lang" in read_schema


def test_broadcast_join_used_for_small_dims(spark):
    df = queries.QUERIES["join_broadcast_region"](spark, SF)
    s = _executed(df)
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_semi_anti_join_strategies(spark):
    s1 = _executed(queries.QUERIES["anti_join_customers"](spark, SF))
    assert "LeftAnti" in s1
    s2 = _executed(queries.QUERIES["semi_join_suppliers"](spark, SF))
    assert "LeftSemi" in s2


def test_whole_stage_codegen_covers_agg(spark):
    import contextlib
    import io
    df = queries.QUERIES["pricing_summary"](spark, SF)
    df.collect()  # let AQE finalize
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    # '*' marks whole-stage-codegen nodes in formatted explain
    assert "* HashAggregate" in s and "* Filter" in s, s[:600]


def test_featurize_udf_is_single_arrow_stage_after_pruning(spark):
    """Exactly one ArrowEvalPython node; filters placed before it (Catalyst
    can't see through the UDF, so plan construction must — SURVEY.md §4.2)."""
    pages = plan.pages_from_documents(spark, SF).filter(F.col("lang") == "en")
    feats = plan.featurize(pages)
    s = _executed(feats.groupBy("lang").agg(F.avg("contrast")))
    # one Arrow stage per union branch (base + recrawl), nothing duplicated
    assert 1 <= s.count("ArrowEvalPython") <= 2
    # the lang filter must appear below (after in text order) the Arrow node
    arrow_pos = s.index("ArrowEvalPython")
    assert "en" in s[arrow_pos:], "filter should be pushed below the UDF"


def test_lsh_signature_udf_evaluated_once(spark):
    """posexplode(sigs) infers a size(sigs) > 0 filter; pushed through
    the projection it would inline a second _sig evaluation, i.e. a
    second Python runner per task over the same scan."""
    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(similarity.EMB_DIM).tolist())
         for i in range(200)], "vec_id long, embedding array<float>")
    s = _executed(similarity.lsh_near_neighbors(emb, min_cosine=0.9,
                                                n_vectors=200))
    assert s.count("ArrowEvalPython") == 1, s


def test_map_json_props_parses_json_once(spark):
    """Filters on the parsed map get pushed below the parse and inline
    from_json into every predicate (and the scan's DataFilters); the
    plan must parse each props value once."""
    s = _executed(queries.QUERIES["map_json_props"](spark, SF))
    assert s.count("from_json(") == 1, s


def test_range_join_is_equi_not_nested_loop(spark):
    s = _executed(queries.QUERIES["range_join_event_pairs"](spark, SF))
    assert "NestedLoop" not in s, "bucketed range join degenerated to NLJ"


def test_corpus_clean_never_shuffles_text(spark):
    """corpus_clean_stats' scale claim: the text is md5-fingerprinted
    BEFORE the dedup shuffle, so no Exchange input carries the text
    column — only (doc_id, lang, ts, ntok, 32B hash) rows move."""
    s = _executed(queries.QUERIES["corpus_clean_stats"](spark, SF))
    for frag in s.split("Exchange")[1:]:
        # the attribute list printed on the Exchange line itself
        line = frag.splitlines()[0]
        assert "text" not in line, f"text crosses a shuffle: {line}"


def test_heavy_hitters_plan_shape(spark):
    """heavy_hitters' scale claims: candidates broadcast (never a
    shuffle join against the full input), the verify phase is a single
    ROLLUP aggregation (Expand), and no NestedLoop anywhere."""
    s = _executed(queries.QUERIES["heavy_hitters_hosts"](spark, SF))
    assert "BroadcastHashJoin" in s or "BroadcastNestedLoopJoin" not in s
    assert "Broadcast" in s, "candidate set must broadcast"
    assert "Expand" in s, "rollup (counts + grand total in one agg) gone"
    assert "SortMergeJoin" not in s, "candidate join degenerated to SMJ"


def test_keep_best_component_map_broadcasts(spark):
    """dedup_keep_best's scale claim: the component map (dup-graph
    members only — a vanishing fraction of a 10^12-doc corpus) must
    BROADCAST onto the corpus scan; a shuffle join here would move the
    whole corpus for a tiny map."""
    s = _executed(queries.QUERIES["dedup_keep_best"](spark, SF))
    assert "BroadcastHashJoin" in s, "component map join must broadcast"


def test_stratified_sample_rank_limit_pushed_down(spark):
    """stratified_sample's scale claim: Spark's WindowGroupLimit runs a
    PARTIAL top-50 per stratum map-side, before the exchange — only
    <=50 rows per lang per scan partition shuffle, so a 5-strata key
    set never becomes a 5-reducer sort bottleneck."""
    s = _executed(queries.QUERIES["stratified_sample"](spark, SF))
    partial = s.index("WindowGroupLimit")
    assert "Partial" in s or "Final" in s
    # a Partial WindowGroupLimit must appear below the Exchange
    # (later in text order = earlier in execution)
    assert "Partial" in s[s.index("Exchange"):], \
        "map-side rank limit missing — full strata shuffle"
    assert partial >= 0


def test_stateful_state_exchanges_never_carry_html(spark):
    """Scale claim of every stateful-GLCM path (tumbling, pane and
    session): the html decodes map-side and only the fixed-size gvec
    crosses the state exchange — a plan whose Exchange carries html
    serializes the whole corpus per window at 10^12 docs. Streaming
    plans only materialize once started, so each path drains into a
    memory table on the small fixture and the executed plan comes from
    the returned query's explainInternal."""
    import os as _os
    import shutil as _sh

    from glcmstream import state, stream

    scratch = _os.path.join(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))), ".scratch")
    d = _os.path.join(scratch, "pages_stream_400")
    if not _os.path.exists(_os.path.join(d, "part-0007.parquet")):
        from glcmstream import fixtures
        _sh.rmtree(d, ignore_errors=True)
        fixtures.write_pages_parquet(d, n_docs=400, n_files=8)

    paths = {
        "bucketed": state.stateful_glcm_agg_bucketed,
        "pane_bucketed": state.stateful_glcm_pane_agg_bucketed,
        "session_bucketed": state.stateful_glcm_session_agg_bucketed,
    }
    for name, fn in paths.items():
        ck = _os.path.join(scratch, f"ckpt_plan_{name}")
        _sh.rmtree(ck, ignore_errors=True)
        sdf = stream.pages_stream(spark, d, max_files_per_trigger=None)
        s = stream.drain(fn(sdf), "update", ck)._jsq.explainInternal(False)
        assert "FlatMapGroupsInPandasWithState" in s, (name, s[:400])
        for frag in s.split("Exchange")[1:]:
            line = frag.splitlines()[0]
            assert "html" not in line, \
                f"{name}: html crosses the state exchange: {line}"


def test_no_per_row_python_udf_lint():
    """BASELINE.json:15: vectorized pandas/Arrow UDFs only — no
    row-at-a-time @udf anywhere in the engine source."""
    src_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "src", "glcmstream")
    for fn in os.listdir(src_dir):
        if not fn.endswith(".py"):
            continue
        body = open(os.path.join(src_dir, fn)).read()
        assert "F.udf(" not in body and "@udf(" not in body, fn
        assert "spark.udf.register" not in body, fn
