"""Physical-plan invariants: the properties that make these queries
scale are asserted on the EXECUTED plan, so a refactor that silently
adds a shuffle, drops a filter pushdown, or loses a broadcast fails
here rather than at 100 TB.
"""

from __future__ import annotations

import importlib.util
import re
import sys
from pathlib import Path

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_plans", str(Path(__file__).resolve().parent.parent / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["spark_entry_plans"] = mod
    spec.loader.exec_module(mod)
    return mod


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_stage_is_zero_shuffle(spark, monkeypatch):
    """The 100 TB contract: for an at-scale input, scan -> mapInArrow
    -> output with NO Exchange anywhere (pure narrow map; parallelism
    comes from scan splits). Since round 8 a provably SMALL
    under-partitioned input instead gets exactly one size-gated
    repartition (operators.adaptive) so the compute-bound kernel uses
    every core — pinned here in both regimes."""
    import fundus_spark.operators.adaptive as adaptive
    from fundus_spark.plans import extract_articles

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "source as conv_id",
        "cast(doc_id as int) as turn_idx",
        "'tool' as role",
        "text",
        "'generic' as tool",
        "cast(null as timestamp) as ts",
    )
    # at-scale regime: force the "big input" decision (threshold 0)
    monkeypatch.setattr(adaptive, "PER_CORE_BYTES", 0)
    plan = _plan(extract_articles(df))
    assert "Exchange" not in plan, plan
    monkeypatch.undo()
    # small-input regime: exactly ONE repartition exchange on the
    # uniform (conv_id, turn_idx) key, nothing else
    plan = _plan(extract_articles(df))
    assert plan.count("Exchange") == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan


def test_small_dims_broadcast(spark, entry):
    # revenue_by_nation moved to extra_queries() in round 7 (slot
    # ceded to hll_ngram_distinct) — the broadcast pin still applies
    qs = {**entry.queries(), **entry.extra_queries()}
    plan = _plan(qs["revenue_by_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    plan = _plan(qs["robots_gate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_filters_reach_the_scan(spark, entry):
    # shipping_priority moved to extra_queries() in round 7 (slot
    # ceded to quality_classifier); the pushdown pin stays here
    qs = {**entry.queries(), **entry.extra_queries()}
    plan = _plan(qs["shipping_priority"](spark, SF_DIR))
    # all three scans carry their predicate
    assert "l_shipdate" in plan and "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment)" in plan
    # top-10 rides TakeOrderedAndProject, never a global sort of the agg
    assert "TakeOrderedAndProject" in plan


def test_scan_prunes_columns(spark, entry):
    """pricing_summary touches 7 of 16 lineitem columns; the scan's
    ReadSchema must not include untouched ones like l_comment-ish
    fields (column pruning)."""
    qs = {**entry.queries(), **entry.extra_queries()}
    plan = _plan(qs["pricing_summary"](spark, SF_DIR))
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines
    assert "l_partkey" not in scan_lines[0]
    assert "l_suppkey" not in scan_lines[0]


def test_sampling_ops_are_narrow_zero_shuffle(spark, entry):
    """Hash-bucket sampling and split assignment must stay pure
    filter/projection over a pruned scan — no Exchange anywhere."""
    qs = {**entry.queries(), **entry.extra_queries()}
    for name in ("stratified_sample", "split_assign"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "Exchange" not in plan, name
        assert "BatchScan" in plan or "FileScan" in plan, name


def test_media_decode_is_zero_shuffle_by_default(spark, entry):
    """The media decode/resize/frame-sample stages are stateless narrow
    maps; over a fresh scan they must run on the scan's own byte-uniform
    partitioning. A default repartition here would shuffle every payload
    byte — at 100 TB of media that would be the single most expensive
    operation in the plan (round-3 verdict item; now opt-in via
    ``repartition_on``)."""
    import fundus_spark.operators.adaptive as adaptive

    qs = {**entry.queries(), **entry.extra_queries()}
    for name in ("media_features", "media_decode", "media_resize", "media_frame_sample"):
        plan = _plan(qs[name](spark, SF_DIR))
        # since round 8 a provably SMALL fixture corpus may carry ONE
        # size-gated repartition — but only BELOW the payload builder,
        # i.e. it moves doc_ids, never media bytes: any Exchange in the
        # plan must be the REPARTITION_BY_NUM over the bare doc_id scan
        for frag in plan.split("Exchange")[1:]:
            assert "REPARTITION_BY_NUM" in frag.splitlines()[0], (name, plan)
            assert "payload" not in frag.split("+- ")[1], (name, plan)
    # the at-scale regime stays zero-shuffle end to end
    for name in ("media_features", "media_decode", "media_resize", "media_frame_sample"):
        try:
            adaptive.PER_CORE_BYTES, saved = 0, adaptive.PER_CORE_BYTES
            plan = _plan(qs[name](spark, SF_DIR))
            assert "Exchange" not in plan, name
        finally:
            adaptive.PER_CORE_BYTES = saved

    # the opt-in path still exists for skewed upstream shuffles
    from fundus_spark.operators import media_features as _mf

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"x"), "image/bmp")],
        "media_id long, kind string, payload binary, mime string",
    )
    assert "Exchange" in _plan(_mf(media, repartition_on="media_id"))


def test_adaptive_repartition_builds_without_running_a_job(spark):
    """Building a plan runs nothing: over the shape of
    ``incremental_assign``'s frozen-side semi-join (a checkpointed docs
    relation left-semi joined to a broadcast candidate-id set) and over
    a grouped pandas map (the WARC source's shape), reading the
    partition count from ``df.rdd`` would run the broadcast side or the
    shuffle. The single-partition semi-join input still gets its
    repartition."""
    from pyspark.sql import functions as F

    from fundus_spark.operators.adaptive import adaptive_repartition

    rows = spark.createDataFrame(
        [(i, "text %d" % i) for i in range(40)], "doc_id long, text string"
    )
    docs = rows.coalesce(1).localCheckpoint(eager=True)
    cands = spark.createDataFrame([(i % 7,) for i in range(20)], "doc_id long")
    needed = docs.join(F.broadcast(cands.distinct()), "doc_id", "left_semi")
    grouped = rows.groupBy("doc_id").applyInPandas(lambda pdf: pdf, schema=rows.schema)
    sc = spark.sparkContext
    sc.setJobGroup("plan_build", "plan_build")
    try:
        outs = [adaptive_repartition(df, cols=("doc_id",)) for df in (needed, grouped)]
    finally:
        sc.setJobGroup("default", "")
    assert list(sc.statusTracker().getJobIdsForGroup("plan_build")) == []
    assert "REPARTITION_BY_NUM" in _plan(outs[0])


def test_packing_has_exactly_one_exchange_on_shard_key(spark, entry):
    """Sequence packing = one shuffle on the shard key feeding the
    window; a second Exchange would mean an accidental repartition."""
    plan = _plan(entry.queries()["pack_by_budget"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_simhash_neardup_has_no_cartesian(spark, entry):
    """Bit-block banding must produce an equi-join on (block, key);
    a cartesian/BNL product would be the all-pairs scan it exists to
    avoid."""
    plan = _plan(entry.queries()["simhash_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_survivors_broadcasts_component_labels(spark, entry):
    """The component relation is |clustered nodes| rows; joining it
    back to the corpus must broadcast, never shuffle the fact side."""
    plan = _plan(entry.queries()["dedup_survivors"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_pii_scrub_is_narrow_zero_shuffle(spark, entry):
    plan = _plan(entry.queries()["pii_scrub"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_tfidf_rank_filter_pushes_below_sort(spark, entry):
    """row_number <= k must ride WindowGroupLimit (partial top-k before
    the shuffle), not filter after a full per-doc sort."""
    plan = _plan(entry.queries()["tfidf_topk"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_bigram_lm_has_no_cartesian(spark, entry):
    """The vocab-size scalar rides a 1-row broadcast nested loop (the
    lazy scalar-aggregate cross join — intentional and free); what must
    NOT appear is an unbroadcast CartesianProduct over data relations."""
    plan = _plan(entry.queries()["bigram_logprob"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_span_dedup_shuffle_budget(spark, entry):
    """sentence_span_dedup's first-occurrence is an agg+join, never a
    window over the span hash: exactly 2 span_hash exchanges (agg +
    probe side) and 2 doc_id exchanges (removal agg + rebuild join) —
    no Sort-within-a-hot-key-partition pattern, no cartesian."""
    df = entry.queries()["c4_span_dedup"](spark, SF_DIR)
    plan = _plan(df)
    # exact counts are AQE-size-dependent (small sides broadcast at
    # sf0.001); the invariants are the BOUNDS and the absent shapes
    assert plan.count("Exchange hashpartitioning(span_hash") <= 2
    assert plan.count("Exchange hashpartitioning(doc_id") <= 2
    assert "CartesianProduct" not in plan and "Window" not in plan


def test_dup_substring_spans_reuses_window_partitioning(spark, entry):
    """dup_substring_spans: 2 fp exchanges (count agg + probe), and
    exactly TWO doc_id exchanges — one feeding the winnowing
    selection's sliding-min window (round 6: the hash/winnow stage is
    exploded relational algebra, 4x the interpreted-HOF throughput, at
    the price of this doc-partitioned window), one feeding the
    gaps-and-islands window after the fp probe join; the final per-doc
    span aggregation must reuse the islands window's partitioning, not
    re-shuffle."""
    df = entry.queries()["dup_substring_spans"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning(fp") <= 2
    assert plan.count("Exchange hashpartitioning(doc_id") == 2
    assert "CartesianProduct" not in plan


def test_gopher_and_c4_filters_are_zero_shuffle(spark, entry):
    for name in ("gopher_quality", "c4_page_filter"):
        plan = _plan(entry.queries()[name](spark, SF_DIR))
        assert "Exchange" not in plan, name


def test_dsir_ratio_join_is_broadcast_no_self_join(spark, entry):
    """DSIR's scoring join must broadcast the bounded ratio table (at
    most n_buckets rows) onto the raw instance relation — never
    sort-merge it — and nothing in the plan may join the raw corpus to
    itself (no pair explosion at any corpus size)."""
    df = entry.queries()["dsir_select"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the only SortMergeJoin-eligible relation pair is instances x
    # ratio; with the ratio broadcast there must be none at all
    assert "SortMergeJoin" not in plan


def test_domain_mix_fact_side_never_shuffles(spark, entry):
    """domain_mix: the per-domain totals aggregate (tiny) is folded
    back by broadcast; the fact table itself is scan -> broadcast-join
    -> explode -> filter with no Exchange on its side. The only
    exchanges allowed are the aggregation of the totals relation."""
    df = entry.queries()["domain_mix"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # both exchanges in the plan belong to the totals aggregation
    # (partial -> final); the fact scan feeds the broadcast join direct
    assert plan.count("Exchange") <= 2


def test_bpe_token_count_corpus_side_shape(spark, entry):
    """bpe_token_count (round 7): the corpus-scale plan is explode ->
    broadcast join of the vocab token map -> partial agg; no Python
    eval anywhere (the merge chain is a codegen replace projection over
    the vocab relation) and no sort-merge join at any size the guard
    admits."""
    df = entry.queries()["bpe_token_count"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_shape_joins_on_cell(spark, entry):
    """semantic_dedup (round 7): cell assignment is a narrow
    projection; the pairwise cosine joins on the small cell key (never
    cartesian); the pruned-id relation folds back broadcast; no UDF."""
    df = entry.queries()["semantic_dedup"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_manifest_commit_frame_is_a_local_relation(spark):
    """The manifest commit appends a handful of rows built in Python.
    From a pandas frame they plan as an Arrow-backed LocalRelation; a
    list of tuples would plan as a LogicalRDD, whose one-task append
    stage costs most of a second per job. Values, including a naive
    (local-time, as ``collect()`` returns it) and an aware timestamp,
    must come back exactly as the list path gives them."""
    import datetime

    from fundus_spark.plans.lineage import MANIFEST_SCHEMA, manifest_frame

    rows = [
        ("run", 0, 0, 0, 0, 0, datetime.datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=datetime.timezone.utc)),
        ("run", 3, 10, 9, 1, 12345, datetime.datetime(2024, 6, 1, 12, 30, 0, 5)),
    ]
    df = manifest_frame(spark, rows)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert df.schema == MANIFEST_SCHEMA
    assert df.collect() == spark.createDataFrame(rows, MANIFEST_SCHEMA).collect()


def _is_local_relation(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LocalRelation" in plan and "LogicalRDD" not in plan


def test_kmeans_model_is_a_local_relation(spark):
    """The fitted codebook is built on the driver; as one Arrow table it
    plans as a LocalRelation, where a list would plan as a LogicalRDD
    with a one-task stage per reading job."""
    from fundus_spark.operators.clustering import kmeans_fit

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2), 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    model = kmeans_fit(emb, k=2, n_iter=1, dim=4)
    assert _is_local_relation(model)
    assert model.count() == 2


def test_bpe_merge_table_is_a_local_relation(spark):
    from fundus_spark.operators.bpe import bpe_train

    df = spark.createDataFrame([(1, "low lower lowest"), (2, "newer newest")], "doc_id long, text string")
    model = bpe_train(df, n_merges=4)
    assert _is_local_relation(model)
    assert model.count() == 4


def test_classifier_model_is_a_local_relation(spark):
    from fundus_spark.operators.classifier import quality_classifier_fit

    docs = spark.createDataFrame(
        [(i, "good clean text %d" % i if i % 2 else "spam buy now %d" % i, i % 2) for i in range(8)],
        "doc_id long, text string, y int",
    )
    model = quality_classifier_fit(docs, n_features=8, n_iter=1)
    assert _is_local_relation(model)
    assert model.count() == 9


def test_listing_frame_is_a_local_relation(spark):
    from fundus_spark.sources.listing import listing_dataframe

    df = listing_dataframe(spark, iter(["https://a.example/1?x=1", "https://a.example/2"]), "pub")
    assert _is_local_relation(df)
    assert [r.url_norm for r in df.orderBy("list_rank").collect()] == ["https://a.example/1", "https://a.example/2"]


def test_fresh_corpus_frozen_side_is_a_local_relation(spark, tmp_path, monkeypatch):
    """Batch 0 into a fresh corpus curates against an empty frozen side
    that is an empty LocalRelation, which the optimizer prunes. The
    frozen side is captured where it enters the curate chain; no job
    runs."""
    import fundus_spark.streaming.curate_stream as cs

    class Captured(Exception):
        pass

    seen = {}

    def capture(batch, frozen, **kwargs):
        seen["frozen"] = frozen
        raise Captured

    monkeypatch.setattr(cs, "curate_increment", capture)
    batch = spark.createDataFrame([(1, "s", "some text")], "doc_id long, source string, text string")
    with pytest.raises(Captured):
        cs.curate_batch_into_corpus(spark, batch, str(tmp_path / "corpus"), batch_id=0)
    assert _is_local_relation(seen["frozen"])
    assert "<empty>" in seen["frozen"]._jdf.queryExecution().optimizedPlan().toString()


#: Exchange operators (shuffle and broadcast) in the executed plan of the
#: queries whose plans the round-8 optimization pass reworked (its
#: ``explain("formatted")`` dumps, in the git history of ``plans/r08/``,
#: show the same counts), and of the near-dup and span-dedup operators
EXCHANGES = {
    "assemble_conversations": 4,
    "bloom_dedup": 8,
    "boilerplate_strip": 1,
    "bpe_token_count": 2,
    "c4_span_dedup": 4,
    "cosine_neardup": 6,
    "cosine_topk": 3,
    "countmin_heavy": 8,
    "curate_corpus": 2,
    "curate_corpus_xxhash": 2,
    "dsir_select": 6,
    "dup_substring_spans": 3,
    "extract_documents": 2,
    "hll_ngram_distinct": 7,
    # 45 while the new x frozen verify expanded pairs x shingles rows
    # and joined separate size relations; 29 on the shared array verify
    "incremental_dedup": 29,
    "language_id": 0,
    "lsh_jaccard_verified": 12,
    "media_decode": 1,
    "minhash_signatures": 1,
    "minhash_xxhash": 1,
    "ngram_jaccard": 9,
    "pdf_extract": 1,
    "quality_classifier": 2,
    "remove_dup_substrings": 17,
    "robots_gate": 3,
    "semantic_dedup": 1,
}


def _exchange_count(plan: str) -> int:
    return sum(1 for line in plan.splitlines() if re.match(r"^[\s:+\-|]*\w*Exchange\b", line))


@pytest.mark.parametrize("name", sorted(EXCHANGES))
def test_query_exchange_count(spark, entry, name):
    queries = {**entry.queries(), **entry.extra_queries()}
    assert _exchange_count(_plan(queries[name](spark, SF_DIR))) == EXCHANGES[name]
