"""BPE train/apply (operators/bpe.py) vs an independent in-test
reimplementation of Sennrich et al. 2016 — training parity, encoding
parity (including the min-rank iterative encoder equivalence the
rank-ordered replace chain relies on), OOV segmentation under frozen
merges, and the corpus-side plan shape."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

EOW = "\x17"


def _py_train(texts, n_merges):
    """Classic BPE training: word-freq table, arg-max pair by
    (count desc, pair asc), merge all non-overlapping occurrences
    left-to-right."""
    wf = Counter(w for t in texts for w in t.split())
    vocab = {w: tuple(list(w) + [EOW]) for w in wf}
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for w, c in wf.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        mx = max(pc.values())
        l, r = sorted(k for k, v in pc.items() if v == mx)[0]
        merges.append((rank, l, r, mx))
        for w in vocab:
            s, ns, i = vocab[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    ns.append(l + r)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            vocab[w] = tuple(ns)
    return merges, vocab


def _py_encode_min_rank(word, merges):
    """The standard ENCODER: repeatedly apply the lowest-rank merge
    whose pair is present (all occurrences), until none applies."""
    ranks = {(l, r): rank for rank, l, r, _ in merges}
    s = list(word) + [EOW]
    while True:
        present = [(ranks[(s[i], s[i + 1])], i) for i in range(len(s) - 1) if (s[i], s[i + 1]) in ranks]
        if not present:
            return s
        best = min(r for r, _ in present)
        l, r = next(k for k, v in ranks.items() if v == best)
        ns, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                ns.append(l + r)
                i += 2
            else:
                ns.append(s[i])
                i += 1
        s = ns


CORPUS = [
    "low lower lowest newer newest wide wider widest",
    "new news newest widely lowly lower new new lower",
    "the newest of the new low wide things the the",
]


def test_bpe_train_matches_independent_reimplementation(spark):
    from fundus_spark.operators import bpe_train

    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    got = [(r["rank"], r["left"], r["right"], r["pair_count"]) for r in bpe_train(df, n_merges=20).orderBy("rank").collect()]
    want, _ = _py_train(CORPUS, 20)
    assert got == want


def test_bpe_token_count_matches_training_vocab(spark):
    from fundus_spark.operators import bpe_token_count

    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    merges, vocab = _py_train(CORPUS, 12)
    got = {r.doc_id: (r.n_words, r.n_tokens) for r in bpe_token_count(df, n_merges=12).collect()}
    for i, t in enumerate(CORPUS):
        words = t.split()
        assert got[i] == (len(words), sum(len(vocab[w]) for w in words))


def test_bpe_frozen_merges_segment_oov_like_standard_encoder(spark):
    """Train on corpus A, tokenize corpus B with the frozen model:
    unseen words must segment exactly as the classic min-rank
    iterative encoder would — the rank-ordered replace chain is
    equivalent because merge operands can only be produced by
    LOWER-rank merges (training invariant)."""
    from fundus_spark.operators import bpe_token_count, bpe_train

    train_df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    model = bpe_train(train_df, n_merges=20)
    merges = [(r["rank"], r["left"], r["right"], 0) for r in model.orderBy("rank").collect()]

    new_texts = ["slower widen newt lowdown", "renew thew stowed"]
    new_df = spark.createDataFrame([(i, t) for i, t in enumerate(new_texts)], "doc_id long, text string")
    got = {r.doc_id: r.n_tokens for r in bpe_token_count(new_df, merges=model).collect()}
    for i, t in enumerate(new_texts):
        want = sum(len(_py_encode_min_rank(w, merges)) for w in t.split())
        assert got[i] == want, (i, t)


def test_bpe_merge_order_is_rank_not_row_order(spark):
    """A stored model arriving with its rows SHUFFLED must apply in
    rank order regardless (round 8: the tiny-relation orderBy+collect
    became a driver-side sort of the collected rows — this pins that
    the sort actually happens and row order is irrelevant)."""
    from fundus_spark.operators import bpe_token_count, bpe_train

    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    model = bpe_train(df, n_merges=12)
    shuffled = spark.createDataFrame(
        sorted(model.collect(), key=lambda r: (r["left"], r["right"]), reverse=True),
        model.schema,
    )
    want = {r.doc_id: r.n_tokens for r in bpe_token_count(df, merges=model).collect()}
    got = {r.doc_id: r.n_tokens for r in bpe_token_count(df, merges=shuffled).collect()}
    assert got == want


def test_bpe_exhaustion_stops_cleanly(spark):
    """A corpus tiny enough that every word fully merges before the
    merge budget runs out: training stops (no pairs left), single-
    symbol words don't break pair extraction, and every word counts
    as exactly one token."""
    from fundus_spark.operators import bpe_token_count, bpe_train

    df = spark.createDataFrame([(0, "ab ab ab ab")], "doc_id long, text string")
    model = bpe_train(df, n_merges=50)
    assert model.count() == 2  # (a,b) then (ab, EOW) — then nothing left
    out = bpe_token_count(df, merges=model).collect()[0]
    assert (out.n_words, out.n_tokens) == (4, 4)


def test_bpe_corpus_side_plan_is_jvm_only_broadcast_join(spark):
    """The hot path: corpus explode -> broadcast join -> partial agg.
    No Python evaluation anywhere (the replace chain is codegen over
    the vocab), and the vocab side is broadcast under the guard."""
    from fundus_spark.operators import bpe_token_count

    df = spark.createDataFrame(
        [(i, "some words repeat here every time") for i in range(64)],
        "doc_id long, text string",
    )
    plan = bpe_token_count(df, n_merges=4)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_domain_mix_accepts_precomputed_token_col(spark):
    from fundus_spark.operators import domain_mix

    rows = [(i, "d", "ten white space tokens but weighted differently", (i % 2) * 99 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string, n_tokens long")
    # 10_000 precomputed tokens total; target 5_000 -> rate 0.5
    out = domain_mix(df, {"d": 1.0}, total_tokens=5_000, token_col="n_tokens")
    kept_tokens = out.agg(F.sum("n_tokens").alias("t")).collect()[0].t
    assert abs(kept_tokens - 5_000) < 1_200
    assert out.groupBy().agg(F.max("epoch").alias("m")).collect()[0].m == 0


def test_bpe_train_refuses_a_count_without_its_relation(spark):
    """``word_freq_count`` describes ``word_freq``; passing it alone
    would steer the local-vs-distributed choice by a count of some
    other relation, so it raises before any job."""
    from fundus_spark.operators import bpe_train

    df = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="word_freq_count"):
        bpe_train(df, n_merges=2, word_freq_count=1)


def test_bpe_local_and_distributed_training_paths_agree(spark):
    """The driver-local fast path (vocab fits) and the distributed
    iteration path must learn the identical model — forcing the
    distributed path with local_vocab_max_rows=0."""
    from fundus_spark.operators import bpe_train

    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    local = [tuple(r) for r in bpe_train(df, n_merges=16).orderBy("rank").collect()]
    dist = [tuple(r) for r in bpe_train(df, n_merges=16, local_vocab_max_rows=0).orderBy("rank").collect()]
    assert local == dist and len(local) == 16


def test_bpe_chunked_apply_equals_single_projection(spark):
    """chunk_size materialization boundaries must not change results —
    the production path for 32k-merge vocabularies."""
    from fundus_spark.operators.bpe import _word_freq, bpe_apply_to_vocab, bpe_train

    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    model = bpe_train(df, n_merges=15)
    merge_list = [(r["left"], r["right"]) for r in model.orderBy("rank").collect()]
    vocab = _word_freq(df, "text")
    one = {r.word: r.n_tokens for r in bpe_apply_to_vocab(vocab, merge_list, chunk_size=256).collect()}
    chunked = {r.word: r.n_tokens for r in bpe_apply_to_vocab(vocab, merge_list, chunk_size=4).collect()}
    assert one == chunked and len(one) > 10


def test_pack_by_budget_accepts_bpe_counts(spark):
    """The packing operator budgets in whatever token column it is
    given — wiring bpe_token_count's n_tokens through end-to-end."""
    from pyspark.sql import functions as F

    from fundus_spark.operators import bpe_token_count, pack_by_budget

    rows = [(i, "shard%d" % (i % 2), " ".join("w%d" % ((i * 7 + j) % 40) for j in range(20))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    counts = bpe_token_count(df, n_merges=8).select("doc_id", "n_tokens")
    with_tokens = df.join(counts, "doc_id")
    packed = pack_by_budget(with_tokens, budget=256, token_col="n_tokens", part_col="source", order_col="doc_id")
    out = sorted(packed.collect(), key=lambda r: (r.source, r.doc_id))
    assert len(out) == 50
    # concat-and-chunk contract: pack_offset is the running sum of the
    # BPE counts in order, pack_bin = floor(offset / budget)
    running = {}
    for r in out:
        expect = running.get(r.source, 0)
        assert r.pack_offset == expect
        assert r.pack_bin == expect // 256
        running[r.source] = expect + r.n_tokens
