"""Trained linear quality classifier over hashed bag-of-words features
— the GPT-3 / LLaMA "quality filter" family (Brown et al. 2020 §A;
Touvron et al. 2023 train a fastText-style linear model on
reference-vs-crawl labels and keep pages the model scores as
reference-like). The reference has no trained-filter surface (it
crawls everything); this completes the public curation-family set next
to the heuristic gates (``quality_score``, ``gopher_quality``,
``c4_page_filter``) and the importance sampler (``dsir_select``):
heuristics encode rules, DSIR matches a target distribution, and this
operator LEARNS a separating surface from labeled examples.

Model: logistic-style linear probability model (least-squares gradient,
no transcendental functions — see below) over feature-hashed unigram
presence features (term-frequency mode optional) plus a bias term,
trained by full-batch gradient descent with a fixed iteration count
and learning rate.

Scale shape — sufficient statistics, not per-iteration scans: the
squared-loss full-batch gradient is ``(1/n)(XᵀX·w − Xᵀy)``, so the
corpus is touched exactly ONCE to build the Gram matrix ``XᵀX``
(``(n_features+1)²`` integers — a within-doc feature self-join into a
map-side-combinable aggregation whose post-combine shuffled volume is
``(n_features+1)² × partitions`` records, corpus-independent) and the
moment vector ``Xᵀy``; every gradient iteration then runs driver-local
on exact Python integers in microseconds. No per-iteration Spark jobs,
no per-iteration shuffles — the same bounded-model contract as the
k-means codebook and the BPE merge table, extended to the training
statistics. The default ``method='gram'`` requires the
``(n_features+1)²`` Gram to be driver-bounded (fine through a few
thousand features — 4096² ≈ 17M longs); for very high-dimensional
hashing switch to ``method='iterative'``, which computes the SAME
integer gradient distributively per iteration (one
map-side-combinable agg per step, post-combine volume
``(n_features+1) × partitions``) and yields the bit-identical model.

Scoring a corpus with a fitted model is join-free whole-stage codegen:
``element_at`` on the literal weight vector rides the projection and
the integer dot product is one map-side-combinable sum. Fit on a
hash-sample (compose with ``deterministic_sample``), score everything.

Engine-exact determinism (the property the DuckDB oracle gates):
distributed float sums are order-dependent, so — as in ``kmeans_fit``
— every aggregated quantity is integer:

* features: ``x_q = 10^4`` per present bucket (binary mode) or
  ``(count * 10^4) div n_tokens`` (tf mode; pure integer ops);
* weights: quantized to ``w_q = round(w * 10^4)`` after every update;
* Gram / moment entries: exact integer sums (DECIMAL-summed);
* the gradient numerator ``A_j = Σ_k Gram[j][k]·w_q[k] −
  W_SCALE·X_SCALE·Xᵀy[j]`` is exact integer arithmetic — identically
  ``Σ_docs (y_q_doc − y_doc·W_SCALE·X_SCALE)·x_q_doc_j``, which is
  what the iterative method aggregates directly.

The only float operations are the per-feature weight-update chain
``w − lr·(float(A_j) / float(W_SCALE·X_SCALE²·n))``, written with the
same association in both engines over the same exact integers
(int→double conversion is correctly rounded IEEE in Python, Spark and
DuckDB), so the learned model is bit-identical between Spark and the
unrolled-CTE DuckDB oracle, and the final score column is an exact
rational ``y_q / 10^8`` that hashes identically.

Why least-squares ("linear probability") gradient instead of the
logistic sigmoid: ``exp`` is a transcendental whose last-ulp rounding
is not specified by IEEE 754 and genuinely differs across libm
implementations, so a sigmoid inside the training loop would let the
two engines drift apart and compound over iterations. The squared-loss
gradient ``(w·x − y)·x`` is pure +/×/÷ — deterministic everywhere —
and for a thresholded keep/drop filter the two losses pick essentially
the same separating surface. (A production run that wants calibrated
probabilities can sigmoid the SCORE at read time; that is a display
transform, not training state.)
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .adaptive import adaptive_repartition, checkpoint, local_rows, materialize

#: fixed-point scales: weights, features
W_SCALE = 10_000
X_SCALE = 10_000


def classifier_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: Optional[str] = None,
    n_features: int = 64,
    salt: str = "qcls",
    feature_mode: str = "binary",
) -> DataFrame:
    """``(doc_id[, y], j, x_q)`` hashed bag-of-words instance relation:
    whitespace unigrams feature-hashed to
    ``j = md5_bucket(salt || token) % n_features`` (the same md5
    bucket primitive as ``sampling.hash_bucket`` / DSIR, so the DuckDB
    oracle recomputes the exact buckets), plus a constant bias feature
    ``j = n_features`` with ``x_q = X_SCALE`` on every doc.

    ``feature_mode``:

    * ``binary`` (default): presence features, ``x_q = X_SCALE`` per
      distinct present bucket — one map-side-combinable distinct, NO
      join anywhere in the feature build. Presence features keep
      gradient magnitudes O(1) per active feature, so full-batch GD
      converges in tens of iterations (tf features scale every
      gradient by ~1/doc_len and converge ~doc_len× slower).
    * ``tf`` : fixed-point term frequency ``x_q = (count * X_SCALE)
      div n_tokens`` (pure integer ops; zero-valued features dropped);
      adds one doc-co-partitioned totals join. For corpora where
      repeated-token mass should count.
    """
    if feature_mode not in ("binary", "tf"):
        raise ValueError(f"unknown feature_mode {feature_mode!r}: expected 'binary' or 'tf'")
    cols = [F.col(id_col).alias("doc_id")]
    if label_col is not None:
        cols.append(F.col(label_col).cast("long").alias("y"))
    # drop zero-length tokens: split(trim(''), '\s+') yields [''] in
    # both engines, and a phantom ''-token would train/score the
    # bucket md5(salt)%n_features on every empty doc (review finding —
    # an empty doc must score bias-only, not inherit whatever real
    # token collides with hash(''))
    toks = adaptive_repartition(docs, cols=(id_col,)).select(
        *cols,
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).where(F.length("tok") > 0)
    j = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.col("tok"))), 1, 8), 16, 10).cast(
            "bigint"
        ),
        F.lit(n_features),
    )
    keys = ["doc_id"] + (["y"] if label_col is not None else [])
    if feature_mode == "binary":
        feats = (
            toks.select(*keys, j.alias("j"))
            .distinct()
            .withColumn("x_q", F.lit(X_SCALE).cast("long"))
        )
    else:
        counted = toks.select(*keys, j.alias("j")).groupBy(*keys, "j").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        totals = counted.groupBy(*keys).agg(F.sum("cnt").alias("n_tok"))
        feats = (
            counted.join(totals, keys)
            .select(*keys, "j", F.expr(f"cnt * {X_SCALE} div n_tok").alias("x_q"))
            .where(F.col("x_q") > 0)
        )
    bias = docs.select(*cols, F.lit(n_features).cast("bigint").alias("j"), F.lit(X_SCALE).cast("long").alias("x_q"))
    return feats.unionByName(bias)



def _lit_long_array(vals) -> F.Column:
    """Literal ``array<bigint>`` as ONE parsed SQL expression instead of
    one py4j round trip per element (the lit_double_array device from
    operators.similarity, exact-integer flavor) — plan-build time only,
    identical plan values."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def _update_weights(
    wq: List[int], a: Dict[int, int], lr: float, n_docs: int
) -> List[int]:
    """One GD step over the exact integer gradient numerators ``a``:
    the float chain below is mirrored operand-for-operand by the SQL
    oracle (int→double conversions are correctly rounded IEEE in every
    engine, and both sides associate identically)."""
    denom = float(W_SCALE * X_SCALE * X_SCALE * n_docs)
    return [
        int(math.floor((v / W_SCALE - lr * (float(a.get(j, 0)) / denom)) * W_SCALE + 0.5))
        for j, v in enumerate(wq)
    ]


def _fit_gram(
    feats: DataFrame, n_features: int, n_iter: int, lr: float
) -> Tuple[List[int], int]:
    """One corpus pass -> exact integer sufficient statistics
    (Gram = XᵀX, moment = Xᵀy, n), then the whole GD loop driver-local
    on Python big ints (exact at any magnitude)."""
    # the Gram self-join multiplies each doc's features quadratically —
    # per-row compute dwarfs bytes, so a byte-coalesced single partition
    # would serialize it; lift a small under-partitioned (checkpointed)
    # relation to full parallelism first (no-op for big inputs)
    feats = adaptive_repartition(feats, cols=("doc_id",))
    a = feats.select("doc_id", F.col("j").alias("ja"), F.col("x_q").alias("xa"))
    b = feats.select("doc_id", F.col("j").alias("jb"), F.col("x_q").alias("xb"))
    gram_rows = (
        a.join(b, "doc_id")
        .groupBy("ja", "jb")
        .agg(F.sum((F.col("xa") * F.col("xb")).cast("decimal(38,0)")).alias("v"))
        .collect()
    )
    moment_rows = (
        feats.groupBy("j")
        .agg(
            F.sum((F.col("y") * F.col("x_q")).cast("decimal(38,0)")).alias("v"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    d = n_features + 1
    gram: List[List[int]] = [[0] * d for _ in range(d)]
    for r in gram_rows:
        gram[int(r["ja"])][int(r["jb"])] = int(r["v"])
    moment = [0] * d
    n_docs = 0
    for r in moment_rows:
        moment[int(r["j"])] = int(r["v"])
        if int(r["j"]) == n_features:
            n_docs = int(r["cnt"])  # the bias feature appears on every doc
    if n_docs == 0:
        raise ValueError("quality_classifier_fit: empty training relation")

    sxy = W_SCALE * X_SCALE
    wq = [0] * d
    for _ in range(n_iter):
        a_num = {
            j: sum(gram[j][k] * wq[k] for k in range(d)) - sxy * moment[j]
            for j in range(d)
        }
        wq = _update_weights(wq, a_num, lr, n_docs)
    return wq, n_docs


def _fit_iterative(
    feats: DataFrame, n_features: int, n_iter: int, lr: float
) -> Tuple[List[int], int]:
    """Per-iteration distributed gradient for feature spaces whose
    Gram matrix would not be driver-bounded: aggregate the SAME exact
    integer numerator ``A_j = Σ_docs (y_q − y·W·X)·x_q_j`` per step
    (one bounded array row per doc, integer fold over driver-literal
    weights, map-side-combinable DECIMAL sum). Bit-identical model to
    the gram method; costs one Spark job per iteration."""
    docf, n_docs = materialize(
        feats.groupBy("doc_id", "y")
        .agg(F.sort_array(F.collect_list(F.struct("j", "x_q"))).alias("fs"))
    )
    if n_docs == 0:
        raise ValueError("quality_classifier_fit: empty training relation")
    d = n_features + 1
    sxy = W_SCALE * X_SCALE
    wq = [0] * d
    for _ in range(n_iter):
        wlit = _lit_long_array(wq)
        yq = F.aggregate(
            F.col("fs"),
            F.lit(0).cast("long"),
            lambda acc, f: acc + F.element_at(wlit, (f["j"] + 1).cast("int")) * f["x_q"],
        )
        rows = (
            docf.select((yq - F.col("y") * F.lit(sxy)).alias("res"), F.explode("fs").alias("f"))
            .groupBy(F.col("f.j").alias("j"))
            .agg(F.sum((F.col("res") * F.col("f.x_q")).cast("decimal(38,0)")).alias("A"))
            .collect()
        )
        a_num = {int(r["j"]): int(r["A"]) for r in rows}
        wq = _update_weights(wq, a_num, lr, n_docs)
    return wq, n_docs


def quality_classifier_fit(
    docs: DataFrame,
    label_col: str = "y",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 64,
    n_iter: int = 8,
    lr: float = 0.0625,
    salt: str = "qcls",
    feature_mode: str = "binary",
    method: str = "gram",
) -> DataFrame:
    """Fit the linear model by ``n_iter`` full-batch gradient steps;
    returns the model as a DataFrame ``(j, w_q, weight)`` with
    ``n_features + 1`` rows (index ``n_features`` is the bias) —
    the same bounded-model contract as ``kmeans_fit`` / the BPE merge
    table. ``label_col`` must be 0/1 (castable to long).

    ``method='gram'`` (default) builds the exact integer sufficient
    statistics in one corpus pass and iterates driver-local;
    ``method='iterative'`` aggregates the same integer gradient
    distributively per step (for feature spaces whose
    ``(n_features+1)²`` Gram would not be driver-bounded). The two
    produce the bit-identical model.

    ``lr`` should be an exactly-representable double (2^-k) so the
    update chain stays bit-identical across engines, and must respect
    the GD stability bound ``lr < 2 / λmax``: with binary presence
    features λmax ≈ the typical number of ACTIVE features per doc, so
    the default 1/16 is stable up to ~30 distinct hashed tokens per
    doc; lower it (1/64…) for corpora with much larger per-doc active
    sets, or hash into fewer features.
    """
    if method not in ("gram", "iterative"):
        raise ValueError(f"unknown method {method!r}: expected 'gram' or 'iterative'")
    feats, m = checkpoint(
        classifier_features(
            docs, text_col=text_col, id_col=id_col, label_col=label_col,
            n_features=n_features, salt=salt, feature_mode=feature_mode,
        ),
        null_labels=F.count_if(F.col("y").isNull()),
    )
    # a label that CASTS to null (e.g. a 'true'/'false' string column,
    # or nulls from an outer join) would silently train as y=0 in the
    # gram path — its docs enter XᵀX and n but vanish from Xᵀy (review
    # finding). Fail fast; the checkpoint job counted them.
    if m["null_labels"] > 0:
        raise ValueError(
            f"quality_classifier_fit: {label_col!r} contains values that "
            "cast to NULL — labels must be 0/1 (castable to long)"
        )
    fit = _fit_gram if method == "gram" else _fit_iterative
    wq, _n = fit(feats, n_features, n_iter, lr)
    return local_rows(
        docs.sparkSession,
        [(j, wq[j], wq[j] / W_SCALE) for j in range(n_features + 1)],
        "j int, w_q long, weight double",
    )


def _model_weights(model: Union[DataFrame, Sequence[int]]) -> List[int]:
    """Quantized weight vector from a fitted model table (bounded:
    n_features + 1 rows, same driver-side collect contract as the
    k-means codebook) or a ready sequence."""
    if isinstance(model, DataFrame):
        rows = model.select("j", "w_q").collect()
        out = [0] * len(rows)
        for r in rows:
            out[int(r["j"])] = int(r["w_q"])
        return out
    return [int(v) for v in model]


def quality_classifier_score(
    docs: DataFrame,
    model: Union[DataFrame, Sequence[int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "qcls",
    threshold: float = 0.5,
    feature_mode: str = "binary",
    plan: str = "grouped",
) -> DataFrame:
    """Score every doc with a fitted model: ``(doc_id, score,
    predicted)`` where ``score = y_q / (W_SCALE * X_SCALE)`` is an
    exact rational and ``predicted`` is an INTEGER threshold compare
    (``2·y_q >= 2·threshold·W_SCALE·X_SCALE``), so no float-edge
    ambiguity. Use the same ``feature_mode``/``salt`` the model was
    fitted with.

    ``plan`` picks between two physically different, value-identical
    formulations (pinned equal by test):

    * ``grouped`` (default): explode buckets -> element_at on the
      literal weight vector -> one map-side-combinable sum. Join-free
      and fully whole-stage-codegen; shuffles ~active-features rows
      per doc (post-combine).
    * ``narrow`` : the whole score as ONE per-row projection —
      distinct hashed buckets via array ops, integer fold over the
      literal weights. ZERO shuffle, so it composes with Structured
      Streaming in append mode (a groupBy aggregation would demand a
      watermark/complete mode) and pipelines into any downstream
      stage; the fold is an F.aggregate HOF (CodegenFallback,
      interpreted per row — cheap multiply-adds over tens of
      elements, unlike the md5-heavy winnowing fold that motivated
      the round-6 relational rewrite). Binary feature mode only.
    """
    wq = _model_weights(model)
    n_features = len(wq) - 1
    wlit = _lit_long_array(wq)
    thr_q2 = int(round(2 * threshold * W_SCALE * X_SCALE))
    if plan not in ("grouped", "narrow"):
        raise ValueError(f"unknown plan {plan!r}: expected 'grouped' or 'narrow'")
    if plan == "narrow":
        if feature_mode != "binary":
            raise ValueError("plan='narrow' requires feature_mode='binary'")
        # filter drops the phantom '' token of empty docs, coalesce
        # keeps null-text docs scoring bias-only exactly like the
        # grouped plan, whose bias row is built from docs independent
        # of text (review finding: F.aggregate over a NULL array is
        # NULL, which silently turned null-text docs into null scores)
        toks = F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
        )
        js = F.coalesce(
            F.array_distinct(
                F.transform(
                    toks,
                    lambda t: F.pmod(
                        F.conv(
                            F.substring(F.md5(F.concat(F.lit(salt), t)), 1, 8), 16, 10
                        ).cast("bigint"),
                        F.lit(n_features),
                    ),
                )
            ),
            F.array().cast("array<bigint>"),
        )
        # binary features are a constant X_SCALE, so the dot product
        # factors: y_q = X_SCALE * (bias_w + sum of present weights)
        wsum = F.aggregate(
            js,
            F.lit(int(wq[n_features])).cast("long"),
            lambda acc, j: acc + F.element_at(wlit, (j + 1).cast("int")),
        )
        yq = wsum * F.lit(X_SCALE)
        return docs.select(
            F.col(id_col).alias("doc_id"),
            (yq.cast("double") / F.lit(float(W_SCALE * X_SCALE))).alias("score"),
            (yq * 2 >= F.lit(thr_q2)).alias("predicted"),
        )
    feats = classifier_features(
        docs, text_col=text_col, id_col=id_col, label_col=None,
        n_features=n_features, salt=salt, feature_mode=feature_mode,
    )
    # codegen formulation: element_at(literal weights, j) rides the
    # projection and the integer dot is ONE map-side-combinable sum —
    # no array fold (an F.aggregate HOF lambda is CodegenFallback and
    # would run interpreted per row; the fold is reserved for the
    # iterative training method and the narrow streaming plan),
    # evaluated once instead of once per output column
    scored = (
        feats.select(
            "doc_id",
            (F.element_at(wlit, (F.col("j") + 1).cast("int")) * F.col("x_q")).alias("t"),
        )
        .groupBy("doc_id")
        .agg(F.sum("t").alias("yq"))
    )
    return scored.select(
        "doc_id",
        (F.col("yq").cast("double") / F.lit(float(W_SCALE * X_SCALE))).alias("score"),
        (F.col("yq") * 2 >= F.lit(thr_q2)).alias("predicted"),
    )
