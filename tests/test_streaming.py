"""Structured Streaming path: same extraction stage via readStream with
availableNow trigger, results identical to the batch stage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fundus_spark.sources.transcripts import build_transcripts
from fundus_spark.streaming import stream_extract_articles, write_stream_to_parquet


def test_stream_matches_batch(spark, tmp_path):
    rows = build_transcripts(n_bulk_turns=30, include_golden=False)
    input_path = str(tmp_path / "in")
    spark.createDataFrame(rows).select(
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "role", "text", "tool", "ts"
    ).write.parquet(input_path)

    extracted_stream = stream_extract_articles(spark, input_path)
    assert extracted_stream.isStreaming

    out_path = str(tmp_path / "out")
    query = write_stream_to_parquet(extracted_stream, out_path, str(tmp_path / "ckpt"))
    query.awaitTermination(120)

    from fundus_spark.plans import extract_articles

    batch = extract_articles(spark.read.parquet(input_path))
    stream_result = spark.read.parquet(out_path)
    assert stream_result.count() == batch.count()
    b = {(r["conv_id"], r["turn_idx"]): r["plaintext"] for r in batch.collect()}
    s = {(r["conv_id"], r["turn_idx"]): r["plaintext"] for r in stream_result.collect()}
    assert b == s


def _write_turn_file(spark, path, rows):
    spark.createDataFrame(
        rows, schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(path)


def _turn(conv, idx, ts):
    import datetime

    base = datetime.datetime(2024, 6, 1, 12, 0, 0)
    html = f"<html lang='en'><head><title>T</title></head><body><main><article><p>turn {conv} {idx}</p></article></main></body></html>"
    return (conv, idx, "tool", html, "generic", base + datetime.timedelta(minutes=ts))


def test_stream_sessionized_conversations(spark, tmp_path):
    """Native session-window assembly: conv 'a' goes quiet, a much
    later conv advances the watermark past a's gap, a's session emits
    with turns in turn_idx order."""
    from fundus_spark.streaming import sessionized_conversations, stream_extract_articles

    in_path = str(tmp_path / "in")
    # file 1: conv a (3 turns inside one 10-min session, out of order)
    _write_turn_file(spark, in_path, [_turn("a", 1, 2), _turn("a", 0, 0), _turn("a", 2, 4)])
    # file 2: conv b two hours later -> watermark passes a's gap
    _write_turn_file(spark, in_path, [_turn("b", 0, 120)])
    # file 3: conv c even later -> watermark passes b's gap too
    _write_turn_file(spark, in_path, [_turn("c", 0, 400)])

    stream = stream_extract_articles(spark, in_path, max_files_per_trigger=1)
    sessions = sessionized_conversations(stream, gap="10 minutes", watermark="5 minutes")
    out = str(tmp_path / "out")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["conv_id"]: r for r in spark.read.parquet(out).collect()}
    assert "a" in got, sorted(got)
    assert got["a"]["n_turns"] == 3
    assert got["a"]["document"] == "turn a 0\n\nturn a 1\n\nturn a 2"


def test_stream_inactivity_timeout_state(spark, tmp_path):
    """applyInPandasWithState twin: conversation emits exactly when the
    watermark passes its latest turn + gap."""
    from fundus_spark.streaming import conversations_with_inactivity_timeout, stream_extract_articles

    in_path = str(tmp_path / "in")
    _write_turn_file(spark, in_path, [_turn("a", 1, 2), _turn("a", 0, 0)])
    _write_turn_file(spark, in_path, [_turn("b", 0, 120)])
    _write_turn_file(spark, in_path, [_turn("c", 0, 400)])

    stream = stream_extract_articles(spark, in_path, max_files_per_trigger=1)
    convs = conversations_with_inactivity_timeout(stream, gap_ms=600_000, watermark="5 minutes")
    out = str(tmp_path / "out")
    q = (
        convs.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["conv_id"]: r for r in spark.read.parquet(out).collect()}
    assert "a" in got, sorted(got)
    assert got["a"]["n_turns"] == 2
    assert got["a"]["document"] == "turn a 0\n\nturn a 1"


def test_stream_first_wins_dedup(spark, tmp_path):
    """Cross-micro-batch dedup: a (conv_id, turn_idx) seen in an
    earlier batch is dropped when it reappears later."""
    from fundus_spark.streaming import stream_first_wins_dedup

    in_path = str(tmp_path / "in")
    _write_turn_file(spark, in_path, [_turn("a", 0, 0), _turn("a", 1, 1)])
    _write_turn_file(spark, in_path, [_turn("a", 0, 2), _turn("b", 0, 3)])  # dup of (a,0)

    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_path)
    )
    deduped = stream_first_wins_dedup(stream, keys=("conv_id", "turn_idx"))
    out = str(tmp_path / "out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    keys = sorted((r["conv_id"], r["turn_idx"]) for r in rows)
    assert keys == [("a", 0), ("a", 1), ("b", 0)]


def test_stream_canonical_url_dedup(spark, tmp_path):
    """Canonical-URL dedup composes with the stream unchanged:
    normalize_urls is a pure per-row projection, so two messy variants
    of one logical URL arriving in DIFFERENT micro-batches collapse to
    one row via stream_first_wins_dedup on the canonical key — the
    streaming twin of url_dedup (the reference's seen-URL set dedups
    raw strings and would keep both variants)."""
    from pyspark.sql import functions as F

    from fundus_spark.operators.urlnorm import normalize_urls
    from fundus_spark.streaming import stream_first_wins_dedup

    in_path = str(tmp_path / "in")
    rows1 = [("HTTP://U@WWW.Ex.COM:80/a?utm_source=f&b=2", 0)]
    rows2 = [("http://ex.com/a///?b=2&gclid=X", 1), ("https://other.org/z", 2)]
    for i, rows in enumerate((rows1, rows2)):
        spark.createDataFrame(
            [(u, k) for u, k in rows], "url string, k int"
        ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:0%d" % i))).coalesce(
            1
        ).write.mode("append").parquet(in_path)

    stream = (
        spark.readStream.schema("url string, k int, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_path)
    )
    deduped = stream_first_wins_dedup(
        normalize_urls(stream), keys=("canonical_url",)
    )
    out = str(tmp_path / "out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["canonical_url"], r["k"]) for r in spark.read.parquet(out).collect())
    # the (k=1) variant canonicalizes identically to (k=0) and is dropped
    assert got == [
        ("http://ex.com/a?b=2", 0),
        ("https://other.org/z", 2),
    ]


def test_stream_narrow_curation_ops_match_batch(spark, tmp_path):
    """The narrow curation operators (PII scrub, split assignment,
    deterministic sampling) are pure per-row maps, so the SAME operator
    code composes with readStream unchanged — stream output must equal
    the batch result row-for-row."""
    from fundus_spark.operators import deterministic_sample, pii_scrub, split_assign

    rows = [
        (i, f"doc {i} mail u{i}@ex.org ip 10.0.0.{i % 256} words here")
        for i in range(40)
    ]
    input_path = str(tmp_path / "docs_in")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(input_path)

    def chain(df):
        scrubbed = pii_scrub(df)
        kept = deterministic_sample(scrubbed, 0.5, salt="s")
        return split_assign(kept, salt="sp")

    stream_df = chain(
        spark.readStream.schema("doc_id long, text string").parquet(input_path)
    )
    assert stream_df.isStreaming
    out_path = str(tmp_path / "docs_out")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "docs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = {
        (r.doc_id, r.clean_text, r.split, r.n_emails, r.n_ips)
        for r in chain(spark.read.parquet(input_path)).collect()
    }
    stream = {
        (r.doc_id, r.clean_text, r.split, r.n_emails, r.n_ips)
        for r in spark.read.parquet(out_path).collect()
    }
    assert batch == stream and len(batch) > 0


def test_continuous_curation_stream(spark, tmp_path):
    """The production loop: streamed document drops -> per-micro-batch
    incremental curation -> append-only corpus. A near-dup arriving in
    a LATER batch is absorbed into the earlier survivor's cluster; the
    streamed result equals the same batches applied sequentially via
    curate_batch_into_corpus."""
    import os
    import time

    from fundus_spark.streaming import (
        continuous_curation,
        curate_batch_into_corpus,
        read_corpus,
    )

    base = " ".join("alpha%d beta%d gamma%d" % (j, j, j) for j in range(12))
    fresh = " ".join("delta%d eps%d zeta%d" % (j, j, j) for j in range(12))
    later = " ".join("iota%d kappa%d lam%d" % (j, j, j) for j in range(12))
    b1 = [(1, "s1", base), (2, "s1", fresh)]
    b2 = [(10, "s1", base.replace("alpha3", "changed3")), (11, "s1", later)]

    schema = "doc_id long, source string, text string"
    inp = str(tmp_path / "in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(inp)
    time.sleep(1.1)  # distinct mtimes -> deterministic file order
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(inp)

    corpus = str(tmp_path / "corpus")
    query = continuous_curation(
        spark,
        input_path=inp,
        corpus_path=corpus,
        checkpoint_path=str(tmp_path / "ckpt"),
        jaccard_threshold=0.2,
    )
    query.awaitTermination(120)
    assert not query.isActive

    got = {r.doc_id for r in read_corpus(spark, corpus).collect()}
    assert got == {1, 2, 11}  # 10 absorbed into cluster 1

    # sequential twin over the same batches
    corpus2 = str(tmp_path / "corpus2")
    n1 = curate_batch_into_corpus(
        spark, spark.createDataFrame(b1, schema), corpus2, jaccard_threshold=0.2
    )
    n2 = curate_batch_into_corpus(
        spark, spark.createDataFrame(b2, schema), corpus2, jaccard_threshold=0.2
    )
    assert (n1, n2) == (2, 1)
    assert {r.doc_id for r in read_corpus(spark, corpus2).collect()} == got


def test_curation_commit_is_exactly_once_under_redelivery(spark, tmp_path):
    """Kill-between-corpus-commit-and-checkpoint-commit: the streaming
    path commits batch N to corpus/batch-N via staged write + atomic
    rename, and a re-delivered trigger excludes its OWN directory from
    the frozen side and replaces it. Re-running the same (batch_id,
    data) must leave the corpus with ZERO duplicate doc_ids — without
    any dedup-on-read — including when the crashed attempt left a
    partial directory."""
    from fundus_spark.streaming import curate_batch_into_corpus, read_corpus

    schema = "doc_id long, source string, text string"
    base = " ".join("tok%d word%d item%d" % (j, j, j) for j in range(12))
    other = " ".join("qqq%d rrr%d sss%d" % (j, j, j) for j in range(12))
    corpus = str(tmp_path / "corpus")
    b0 = spark.createDataFrame([(1, "s", base)], schema)
    b1 = spark.createDataFrame([(2, "s", other)], schema)

    assert curate_batch_into_corpus(spark, b0, corpus, batch_id=0) == 1
    assert curate_batch_into_corpus(spark, b1, corpus, batch_id=1) == 1
    # redelivery of batch 1 (corpus committed, checkpoint was not):
    # the re-run must NOT append a duplicate doc_id=2
    assert curate_batch_into_corpus(spark, b1, corpus, batch_id=1) == 1
    rows = read_corpus(spark, corpus).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2]  # no duplicates

    # crashed attempt left a PARTIAL batch-2 directory (garbage file,
    # no _SUCCESS): the re-run replaces it wholesale
    import os

    # crashed attempts live under the stream's own namespace (the
    # direct-call default is "direct")
    os.makedirs(os.path.join(corpus, "batch-direct-2"), exist_ok=True)
    with open(os.path.join(corpus, "batch-direct-2", "part-junk.parquet.tmp"), "wb") as fh:
        fh.write(b"not parquet")
    b2 = spark.createDataFrame(
        [(3, "s", " ".join("aaa%d bbb%d ccc%d" % (j, j, j) for j in range(12)))], schema
    )
    assert curate_batch_into_corpus(spark, b2, corpus, batch_id=2) == 1
    rows = read_corpus(spark, corpus).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2, 3]
    assert not os.path.exists(os.path.join(corpus, "batch-direct-2", "part-junk.parquet.tmp"))

    # a redelivered batch whose docs are all exact dups of the FROZEN
    # side (not its own prior attempt) commits nothing and clears any
    # stale directory it may have left
    dup = spark.createDataFrame([(9, "s", base)], schema)
    assert curate_batch_into_corpus(spark, dup, corpus, batch_id=3) == 0
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [1, 2, 3]


def test_continuous_curation_processing_time_trigger(spark, tmp_path):
    """The trigger is a parameter: a deployment can run a genuinely
    continuous loop with processingTime instead of the drain-and-stop
    availableNow default."""
    import time

    from fundus_spark.streaming import continuous_curation, read_corpus

    schema = "doc_id long, source string, text string"
    inp = str(tmp_path / "in")
    text = " ".join("live%d feed%d doc%d" % (j, j, j) for j in range(12))
    spark.createDataFrame([(7, "s", text)], schema).coalesce(1).write.parquet(inp)
    corpus = str(tmp_path / "corpus")
    query = continuous_curation(
        spark,
        input_path=inp,
        corpus_path=corpus,
        checkpoint_path=str(tmp_path / "ckpt"),
        trigger={"processingTime": "1 seconds"},
    )
    try:
        deadline = time.time() + 60
        got = None
        while time.time() < deadline:
            df = read_corpus(spark, corpus)
            if df is not None and {r.doc_id for r in df.collect()} == {7}:
                got = {7}
                break
            time.sleep(0.5)
        assert query.isActive  # processingTime keeps running (availableNow would stop)
        assert got == {7}
    finally:
        query.stop()


def test_fresh_checkpoint_never_clobbers_prior_stream_commits(spark, tmp_path):
    """Review finding: Spark batch ids restart from 0 on a FRESH
    checkpoint, so without a per-stream namespace a restarted pipeline
    would silently REPLACE the old stream's batch-0 directory. The
    stream id minted inside each checkpoint keeps the directories
    disjoint: the new stream's batch 0 dedups against (not deletes)
    the old stream's commits."""
    from fundus_spark.streaming import curate_batch_into_corpus, read_corpus
    from fundus_spark.streaming.curate_stream import _stream_id

    schema = "doc_id long, source string, text string"
    base = " ".join("one%d two%d three%d" % (j, j, j) for j in range(12))
    fresh = " ".join("four%d five%d six%d" % (j, j, j) for j in range(12))
    corpus = str(tmp_path / "corpus")

    sid1 = _stream_id(spark, str(tmp_path / "ckpt1"))
    assert curate_batch_into_corpus(
        spark, spark.createDataFrame([(1, "s", base)], schema), corpus,
        batch_id=0, stream_id=sid1,
    ) == 1

    # new pipeline, new checkpoint -> new stream id, batch ids restart at 0
    sid2 = _stream_id(spark, str(tmp_path / "ckpt2"))
    assert sid2 != sid1
    assert curate_batch_into_corpus(
        spark, spark.createDataFrame([(2, "s", fresh)], schema), corpus,
        batch_id=0, stream_id=sid2,
    ) == 1
    # doc 1 survived the second stream's batch 0; exact re-appends dedup
    assert curate_batch_into_corpus(
        spark, spark.createDataFrame([(3, "s", base)], schema), corpus,
        batch_id=1, stream_id=sid2,
    ) == 0
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [1, 2]

    # restarting checkpoint 1 reads the SAME id back (redelivery safety)
    assert _stream_id(spark, str(tmp_path / "ckpt1")) == sid1


def test_streaming_frozen_store_matches_recompute_path(spark, tmp_path):
    """The store-backed loop must commit the exact same corpus as the
    recompute-per-trigger loop, absorb every committed part into the
    store, and serve steady-state probes from pure bucketed scans."""
    from fundus_spark.plans.frozen_store import _stream_parts, stream_frozen_relations
    from fundus_spark.streaming import curate_batch_into_corpus, read_corpus

    schema = "doc_id long, source string, text string"
    base = " ".join("alpha%d beta%d gamma%d" % (j, j, j) for j in range(12))
    fresh = " ".join("delta%d eps%d zeta%d" % (j, j, j) for j in range(12))
    later = " ".join("iota%d kappa%d lam%d" % (j, j, j) for j in range(12))
    b1 = [(1, "s1", base), (2, "s1", fresh)]
    b2 = [(10, "s1", base.replace("alpha3", "changed3")), (11, "s1", later)]

    store = str(tmp_path / "store")
    with_store = str(tmp_path / "corpus_store")
    without = str(tmp_path / "corpus_plain")
    for bid, rows in enumerate((b1, b2)):
        df = spark.createDataFrame(rows, schema)
        n_a = curate_batch_into_corpus(
            spark, df, with_store, batch_id=bid, frozen_store_path=store, jaccard_threshold=0.2
        )
        n_b = curate_batch_into_corpus(spark, df, without, batch_id=bid, jaccard_threshold=0.2)
        assert n_a == n_b
    got = {r.doc_id for r in read_corpus(spark, with_store).collect()}
    assert got == {r.doc_id for r in read_corpus(spark, without).collect()} == {1, 2, 11}

    # every committed corpus part is absorbed
    manifest = _stream_parts(spark, store)
    assert set(manifest["parts"]) >= {"batch-direct-0", "batch-direct-1"}
    # steady-state probe: nothing missing, relations are catalog scans
    parts = {
        "batch-direct-0": spark.read.schema(schema).parquet(with_store + "/batch-direct-0"),
        "batch-direct-1": spark.read.schema(schema).parquet(with_store + "/batch-direct-1"),
    }
    fps, bands, missing = stream_frozen_relations(spark, store, parts)
    assert missing == []
    # bucketing proof: aggregating on the bucket keys needs NO exchange
    # (the bucketed scan already satisfies the distribution) — the same
    # property that makes the probe joins frozen-side-shuffle-free
    fp_agg = fps.groupBy("fp").count()
    assert "Exchange" not in fp_agg._jdf.queryExecution().executedPlan().toString()
    bk_agg = bands.groupBy("band", "key").count()
    assert "Exchange" not in bk_agg._jdf.queryExecution().executedPlan().toString()
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == {1, 2, 11}


def test_streaming_frozen_store_self_heals_unabsorbed_parts(spark, tmp_path):
    """A corpus part committed WITHOUT the store (crash after corpus
    commit but before store append, or a pre-existing corpus) is
    computed on the fly for the probe and absorbed at the trigger's
    commit — and near-dup absorption against that part still works."""
    from fundus_spark.plans.frozen_store import _stream_parts
    from fundus_spark.streaming import curate_batch_into_corpus, read_corpus

    schema = "doc_id long, source string, text string"
    base = " ".join("tok%d word%d item%d" % (j, j, j) for j in range(12))
    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    # batch 0 commits with NO store (simulates the crash window)
    assert curate_batch_into_corpus(
        spark, spark.createDataFrame([(1, "s", base)], schema), corpus, batch_id=0
    ) == 1
    assert _stream_parts(spark, store)["parts"] == []
    # batch 1 probes via the store: near-dup of frozen doc 1 absorbed,
    # fresh doc survives, and BOTH parts are absorbed afterwards
    b1 = spark.createDataFrame(
        [
            (10, "s", base.replace("tok3", "changed3")),
            (11, "s", " ".join("new%d words%d here%d" % (j, j, j) for j in range(12))),
        ],
        schema,
    )
    assert (
        curate_batch_into_corpus(
            spark, b1, corpus, batch_id=1, frozen_store_path=store, jaccard_threshold=0.2
        )
        == 1
    )
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [1, 11]
    assert set(_stream_parts(spark, store)["parts"]) == {"batch-direct-0", "batch-direct-1"}


def test_streaming_frozen_store_redelivery_stays_exactly_once(spark, tmp_path):
    """Redelivery with the store active (corpus + store committed,
    checkpoint was not): the re-run excludes its own part from BOTH
    the corpus read and the store probe, recomputes identically, and
    the corpus ends with zero duplicate doc_ids."""
    from fundus_spark.streaming import curate_batch_into_corpus, read_corpus

    schema = "doc_id long, source string, text string"
    base = " ".join("mmm%d nnn%d ooo%d" % (j, j, j) for j in range(12))
    other = " ".join("ppp%d qqq%d rrr%d" % (j, j, j) for j in range(12))
    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    b0 = spark.createDataFrame([(1, "s", base)], schema)
    b1 = spark.createDataFrame([(2, "s", other)], schema)
    kw = dict(frozen_store_path=store, jaccard_threshold=0.2)
    assert curate_batch_into_corpus(spark, b0, corpus, batch_id=0, **kw) == 1
    assert curate_batch_into_corpus(spark, b1, corpus, batch_id=1, **kw) == 1
    # redelivery of batch 1
    assert curate_batch_into_corpus(spark, b1, corpus, batch_id=1, **kw) == 1
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [1, 2]
    # an all-dup redelivered batch commits nothing and leaves no part
    dup = spark.createDataFrame([(9, "s", base)], schema)
    assert curate_batch_into_corpus(spark, dup, corpus, batch_id=2, **kw) == 0
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [1, 2]


def test_first_batch_prunes_its_empty_frozen_side(spark, tmp_path):
    """Batch 0 into a fresh corpus curates against an empty frozen side
    the optimizer can see is empty (an empty ``LocalRelation``), so the
    frozen-side subtree is pruned from the plan instead of running on
    nothing: 49 jobs on this fixture, 55 against an empty
    ``createDataFrame``. The batch: 20 distinct docs, an exact and a
    near duplicate of doc 0, and one doc copying the benchmark's text."""
    from fundus_spark.streaming import curate_batch_into_corpus, read_corpus

    schema = "doc_id long, source string, text string"
    docs = [(i, "s", " ".join("w%dx%d common%d" % (i, j, j % 7) for j in range(30))) for i in range(20)]
    bench_text = " ".join("bench%d held%d out%d" % (j, j, j) for j in range(12))
    docs += [(20, "s", docs[0][2]), (21, "s", docs[0][2].replace("w0x3", "edit3")), (22, "s", bench_text)]
    batch = spark.createDataFrame(docs, schema)
    bench = spark.createDataFrame([(900, "b", bench_text)], schema)
    corpus = str(tmp_path / "corpus")
    sc = spark.sparkContext
    sc.setJobGroup("first_batch", "first_batch")
    try:
        n = curate_batch_into_corpus(
            spark, batch, corpus, benchmark=bench, batch_id=0,
            frozen_store_path=str(tmp_path / "store"), jaccard_threshold=0.2,
        )
    finally:
        sc.setJobGroup("default", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup("first_batch"))
    assert jobs <= 49, jobs
    assert n == 20
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == list(range(20))


def test_vanished_corpus_part_raises_and_commits_nothing(spark, tmp_path, monkeypatch):
    """A corpus part that is listed and then vanishes before the read
    fails the batch: curating against a silently emptied frozen side
    would re-append every doc the part held."""
    import os
    import shutil

    from pyspark.errors import AnalysisException

    import fundus_spark.streaming.curate_stream as cs
    from fundus_spark.streaming import curate_batch_into_corpus, read_corpus

    schema = "doc_id long, source string, text string"
    text = " ".join("vv%d ww%d xx%d" % (j, j, j) for j in range(12))
    corpus = str(tmp_path / "corpus")
    assert curate_batch_into_corpus(spark, spark.createDataFrame([(1, "s", text)], schema), corpus, batch_id=0) == 1
    part = os.path.join(corpus, "batch-direct-0")
    before = sorted(os.walk(corpus))
    kept = str(tmp_path / "kept")
    listed = cs._corpus_parts

    def list_then_vanish(*args, **kwargs):
        parts = listed(*args, **kwargs)
        shutil.move(part, kept)
        return parts

    monkeypatch.setattr(cs, "_corpus_parts", list_then_vanish)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        curate_batch_into_corpus(spark, spark.createDataFrame([(2, "s", text)], schema), corpus, batch_id=1)
    monkeypatch.undo()

    shutil.move(kept, part)
    assert sorted(os.walk(corpus)) == before
    assert [r.doc_id for r in read_corpus(spark, corpus).collect()] == [1]


def test_continuous_curation_with_frozen_store(spark, tmp_path):
    """End-to-end streaming query with frozen_store_path: same corpus
    as the storeless stream, store absorbs every batch."""
    import time

    from fundus_spark.plans.frozen_store import _stream_parts
    from fundus_spark.streaming import continuous_curation, read_corpus

    schema = "doc_id long, source string, text string"
    base = " ".join("aa%d bb%d cc%d" % (j, j, j) for j in range(12))
    b1 = [(1, "s1", base), (2, "s1", " ".join("dd%d ee%d ff%d" % (j, j, j) for j in range(12)))]
    b2 = [(10, "s1", base.replace("aa3", "zz3")), (11, "s1", " ".join("gg%d hh%d ii%d" % (j, j, j) for j in range(12)))]
    inp = str(tmp_path / "in")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(inp)
    time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(inp)

    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    query = continuous_curation(
        spark,
        input_path=inp,
        corpus_path=corpus,
        checkpoint_path=str(tmp_path / "ckpt"),
        frozen_store_path=store,
        jaccard_threshold=0.2,
    )
    query.awaitTermination(120)
    assert not query.isActive
    assert {r.doc_id for r in read_corpus(spark, corpus).collect()} == {1, 2, 11}
    assert len(_stream_parts(spark, store)["parts"]) == 2


def test_stream_store_compaction_reclaims_and_preserves_probes(spark, tmp_path):
    """compact_stream_store drops dead-part rows and duplicate appends,
    bumps the generation atomically, and the stream keeps working —
    including a post-compaction trigger and its probe results."""
    from fundus_spark.plans.frozen_store import (
        _stream_parts,
        _stream_tables,
        append_frozen_parts,
        compact_stream_store,
        stream_frozen_relations,
    )
    from fundus_spark.streaming import curate_batch_into_corpus, read_corpus

    schema = "doc_id long, source string, text string"
    base = " ".join("ca%d cb%d cc%d" % (j, j, j) for j in range(12))
    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    kw = dict(frozen_store_path=store, jaccard_threshold=0.2)
    b0 = spark.createDataFrame([(1, "s", base)], schema)
    b1 = spark.createDataFrame(
        [(2, "s", " ".join("cd%d ce%d cf%d" % (j, j, j) for j in range(12)))], schema
    )
    assert curate_batch_into_corpus(spark, b0, corpus, batch_id=0, **kw) == 1
    assert curate_batch_into_corpus(spark, b1, corpus, batch_id=1, **kw) == 1
    # simulate a crashed re-append (duplicate rows) and a dead part
    append_frozen_parts(spark, store, {"batch-direct-1": b1.select("doc_id", "source", "text")})
    append_frozen_parts(
        spark, store, {"batch-ghost-9": spark.createDataFrame([(99, "s", base)], schema)}
    )
    live = ["batch-direct-0", "batch-direct-1"]
    manifest = compact_stream_store(spark, store, live_parts=live)
    assert manifest["generation"] == 1 and manifest["parts"] == live
    tables = _stream_tables(spark, store, 1)
    fps = spark.table(tables["fps"]["table"])
    # dead part gone, duplicates collapsed: one fp row per live doc
    assert fps.count() == 2
    assert {r.part for r in fps.select("part").distinct().collect()} == set(live)
    # probes still serve from pure bucketed scans after the swap
    parts = {
        name: spark.read.schema(schema).parquet(f"{corpus}/{name}") for name in live
    }
    fps2, bands2, missing = stream_frozen_relations(spark, store, parts)
    assert missing == []
    agg = fps2.groupBy("fp").count()
    assert "Exchange" not in agg._jdf.queryExecution().executedPlan().toString()
    # and the NEXT trigger works end-to-end on the compacted store:
    # a near-dup of frozen doc 1 is absorbed, fresh content survives
    b2 = spark.createDataFrame(
        [
            (10, "s", base.replace("ca3", "zz3")),
            (11, "s", " ".join("cg%d ch%d ci%d" % (j, j, j) for j in range(12))),
        ],
        schema,
    )
    assert curate_batch_into_corpus(spark, b2, corpus, batch_id=2, **kw) == 1
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [1, 2, 11]
    assert set(_stream_parts(spark, store)["parts"]) == set(live) | {"batch-direct-2"}


def test_stream_trained_quality_scoring_matches_batch(spark, tmp_path):
    """quality_classifier_score(plan='narrow') is a pure per-row
    projection (zero shuffle), so a fitted model scores a document
    stream in append mode with no watermark — output must equal the
    batch scoring row-for-row."""
    from fundus_spark.operators import (
        quality_classifier_fit,
        quality_classifier_score,
    )

    rows = [
        (i, ("alpha beta spamword" if i % 4 == 0 else "alpha beta gamma delta") + f" unique{i}")
        for i in range(40)
    ]
    input_path = str(tmp_path / "qc_in")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(input_path)

    batch_df = spark.read.parquet(input_path)
    labeled = batch_df.withColumn(
        "y", (~batch_df.text.contains("spamword")).cast("int")
    )
    model = quality_classifier_fit(labeled, n_features=16, n_iter=8, salt="t")
    weights = [r.w_q for r in model.orderBy("j").collect()]

    stream_df = quality_classifier_score(
        spark.readStream.schema("doc_id long, text string").parquet(input_path),
        weights, salt="t", plan="narrow",
    )
    assert stream_df.isStreaming
    out_path = str(tmp_path / "qc_out")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "qc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = {
        (r.doc_id, r.score, r.predicted)
        for r in quality_classifier_score(batch_df, weights, salt="t", plan="narrow").collect()
    }
    stream = {
        (r.doc_id, r.score, r.predicted)
        for r in spark.read.parquet(out_path).collect()
    }
    assert batch == stream and len(batch) == 40
