"""Unigram language-model quality scoring — the CCNet-style likelihood
filter: train token frequencies on a corpus, score each document by its
mean token log-probability, flag the improbable tail (boilerplate, key
soup, wrong-language shards).

The reference library has no analog (scoring kernel only,
/root/reference/PyNomaly/loop.py); this extends the engine's
training-data surface per the task brief.  Real pipelines use a 5-gram
KenLM; the unigram model is the same contract (train -> frozen model ->
per-doc likelihood -> threshold gate) with an engine-portable kernel.

Scale design (100 TB reasoning):

* the model is a ``(token, c)`` relation — vocab-sized, not corpus-
  sized, and prunable with ``min_count`` (pruned tokens score as OOV).
* the scoring joins are the skew case of the engine: token keys are
  Zipfian, so they go through the split lookup of
  :func:`pynomaly_spark.skew._skew_split_lookup` (hot head broadcast,
  rare tail shuffled; the split is ``c >= hot_min``).
* documents are reduced to ``(doc, token, tf)`` before any join —
  join input is distinct doc-token pairs, not token occurrences.

Cross-engine determinism: per-token log-probabilities are identical
IEEE expressions on both engines; only the per-doc accumulation order
differs, so the per-doc mean is rounded to 6 dp before any further
aggregation (the repo-standard device).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .packing import _running_sums
from .skew import _skew_split_lookup
from .textops import _TOKEN_SPLIT

__all__ = [
    "unigram_model",
    "score_unigram_logprob",
    "dsir_scores",
    "nb_model",
    "nb_priors",
    "nb_predict",
    "build_vocab",
    "feature_hash",
    "linear_score",
    "bigram_model",
    "score_bigram_logprob",
]


def _tokens(df: DataFrame, text_col: str, cols: list) -> DataFrame:
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            *cols,
            F.explode(
                F.split(F.lower(F.col(text_col)), _TOKEN_SPLIT)
            ).alias("_t"),
        )
        .where(F.col("_t") != "")
    )


def _count_or_0(name: str):
    """A looked-up model count as a double; no model row (OOV) reads 0."""
    return F.coalesce(F.col(name).cast("double"), F.lit(0.0))


def unigram_model(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Token unigram counts ``(token, c)`` over the corpus (shared
    tokenizer ``textops._TOKEN_SPLIT``; lowercased, empty tokens
    dropped).  ``min_count`` prunes the long tail — pruned tokens score
    as OOV, which is how production LMs bound their vocab."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    return (
        _tokens(df, text_col, [])
        .groupBy(F.col("_t").alias("token"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
    )


def score_unigram_logprob(
    df: DataFrame,
    model: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple = (),
    alpha: float = 0.5,
    hot_min: int = 1000,
) -> DataFrame:
    """Per-document mean token log-probability under a frozen unigram
    model (additive-``alpha`` smoothing; OOV floor ``alpha / (N +
    alpha*(V+1))``).  Returns ``(id_col, *carry_cols, n_tokens,
    logprob)`` with ``logprob`` rounded to 6 dp; documents with no
    tokens produce no row (no likelihood is defined for them).

    ``model=None`` self-trains on the scored corpus itself — the model
    is derived FROM the per-doc tf relation (``sum(tf) by token`` ==
    :func:`unigram_model` exactly), so the corpus is exploded and
    shuffled ONCE: every model/stat consumer hangs off the same tf
    exchange (``ReusedExchange`` in the physical plan — tested) instead
    of a second full scan+explode.  Pass an explicit model for the
    frozen train-then-score deployment.

    ``hot_min`` sets the broadcast head of the split lookup
    (:func:`pynomaly_spark.skew._skew_split_lookup`); results are
    invariant to its value — tested.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    cols = [id_col, *carry_cols]
    tf = (
        _tokens(df, text_col, cols)
        .groupBy(*cols, "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    if model is None:
        model = tf.groupBy(F.col("_t").alias("token")).agg(
            F.sum("_tf").alias("c")
        )
    looked = _skew_split_lookup(
        tf, model, [("_t", "token")], "c", hot_min, "_c"
    )
    stats = model.agg(
        # empty model (everything pruned): N=0, V=0 -> every token is
        # OOV at the alpha/alpha floor, logprob 0 — defined, not null
        F.coalesce(F.sum(F.col("c").cast("double")), F.lit(0.0)).alias("_N"),
        F.count(F.lit(1)).cast("double").alias("_V"),
    )
    denom = F.col("_N") + F.lit(alpha) * (F.col("_V") + F.lit(1.0))
    lp = F.log((_count_or_0("_c") + F.lit(alpha)) / denom)
    return (
        looked.crossJoin(F.broadcast(stats))
        .groupBy(*cols)
        .agg(
            F.sum("_tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("_tf") * lp) / F.sum(F.col("_tf")), 6
            ).alias("logprob"),
        )
    )


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    bucket_chars: int = 3,
    keep_threshold: float = 0.0,
) -> DataFrame:
    """DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by the mean hashed n-gram log-likelihood ratio between a
    TARGET distribution (the high-quality set you want more of) and the
    RAW distribution, ``w(x) = mean_g [ln p_t(bucket(g)) -
    ln p_r(bucket(g))]`` with add-one smoothing over the
    ``16^bucket_chars`` md5-prefix buckets.

    Returns ``(id_col, n_grams, dsir_logratio, keep_flag)`` for every
    raw doc with at least one n-gram; ``dsir_logratio`` is rounded to
    6 dp BEFORE the threshold compare so the gate is identical across
    engines (the repo-standard device).

    Scale shape: both distributions are ONE bucket-keyed count
    aggregate (partial combine; the result is at most 16^bucket_chars
    rows — 4096 at the default — regardless of corpus size), the
    weight table is broadcast, and scoring is a map-side join + one
    doc-keyed mean.  Hash buckets are md5 PREFIXES (strings), not
    numeric hashes, so the DuckDB twin reproduces them exactly and no
    hex-to-int conversion is needed on either engine.
    """
    from .decontam import exploded_ngrams

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if not (1 <= bucket_chars <= 8):
        raise ValueError(
            f"bucket_chars must be in [1, 8], got {bucket_chars}"
        )
    n_buckets = float(16 ** bucket_chars)
    bucket = F.substring(F.md5("gram"), 1, bucket_chars)
    raw_b = exploded_ngrams(raw, text_col, [F.col(id_col)], n).select(
        id_col, bucket.alias("_b")
    )
    tgt_b = exploded_ngrams(target, text_col, [], n).select(
        bucket.alias("_b")
    )
    rc = raw_b.groupBy("_b").agg(F.count(F.lit(1)).alias("_rc"))
    tc = tgt_b.groupBy("_b").agg(F.count(F.lit(1)).alias("_tc"))
    rtot = rc.agg(F.sum("_rc").cast("double").alias("_R"))
    ttot = tc.agg(
        F.coalesce(F.sum("_tc"), F.lit(0)).cast("double").alias("_T")
    )
    w = (
        rc.join(tc, "_b", "left")
        .crossJoin(F.broadcast(rtot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "_b",
            (
                F.log(
                    (F.coalesce(F.col("_tc"), F.lit(0)) + F.lit(1.0))
                    / (F.col("_T") + F.lit(n_buckets))
                )
                - F.log(
                    (F.col("_rc") + F.lit(1.0))
                    / (F.col("_R") + F.lit(n_buckets))
                )
            ).alias("_w"),
        )
    )
    score = F.round(F.avg("_w"), 6)
    return (
        raw_b.join(F.broadcast(w), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            score.alias("dsir_logratio"),
            (score >= F.lit(keep_threshold)).cast("int").alias("keep_flag"),
        )
    )


def nb_model(
    train: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Multinomial Naive Bayes likelihoods from a labelled corpus —
    aggregation-only supervised training (the counts ARE the model, no
    gradient loop): per (vocab token, class),

        lp = ln((cnt(token, class) + 1) / (tot_class + V))

    with add-one smoothing, ``tot_class`` the class's token total and
    ``V`` the train vocabulary size, DENSIFIED to every vocab x class
    cell so prediction is a single token-keyed join.  Both ln inputs
    are exact integers, so the one float op per cell is the same IEEE
    division+log on any engine.

    Returns ``(token, label, lp)``; shared tokenizer
    (``textops._TOKEN_SPLIT``, lowercased, empty tokens dropped).

    Scale: ONE corpus explode into a (token, label) keyed count; the
    densify cross join is vocabulary x classes (model-sized, not
    corpus-sized); class totals and vocab size are tiny broadcast
    re-aggregates of the count frame.
    """
    cnt = (
        _tokens(train, text_col, [label_col])
        .groupBy(F.col("_t").alias("token"), F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    vocab = cnt.select("token").distinct()
    classes = cnt.groupBy("label").agg(F.sum("_c").alias("_tot"))
    v = vocab.agg(F.count(F.lit(1)).alias("_V"))
    dense = (
        vocab.crossJoin(F.broadcast(classes))
        .join(cnt, ["token", "label"], "left")
        .crossJoin(F.broadcast(v))
    )
    lp = F.log(
        (F.coalesce(F.col("_c"), F.lit(0)).cast("double") + F.lit(1.0))
        / (F.col("_tot") + F.col("_V")).cast("double")
    )
    return dense.select("token", "label", lp.alias("lp"))


def nb_priors(
    train: DataFrame, label_col: str = "lang"
) -> DataFrame:
    """Class log-priors ``(label, lp0)`` with ``lp0 = ln(n_c / n)`` —
    exact integer inputs, one IEEE division+log per class."""
    c = train.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("_nc")
    )
    n = train.agg(F.count(F.lit(1)).alias("_n"))
    return c.crossJoin(F.broadcast(n)).select(
        "label",
        F.log(
            F.col("_nc").cast("double") / F.col("_n").cast("double")
        ).alias("lp0"),
    )


def nb_predict(
    df: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    r: int = 6,
) -> DataFrame:
    """Score and classify documents under a frozen Naive Bayes model:
    per (doc, class) ``score = round(lp0 + Σ tf·lp, 6)`` over the
    doc's IN-VOCABULARY tokens (out-of-vocabulary tokens are skipped —
    the bounded-vocab deployment convention; a doc with no in-vocab
    tokens emits no row), prediction = argmax with the engine-stable
    ``(rounded score DESC, label ASC)`` ordering so a last-ulp float
    divergence can never flip the winner.

    Returns ``(id_col, pred, score)``.

    Scale: tf is one doc-keyed aggregate of the exploded corpus; the
    scoring join is token-keyed against the |V|·|C|-row model (hot-token
    skew: see :func:`pynomaly_spark.skew._skew_split_lookup` if the
    vocabulary head dominates); the per-(doc, class) rollup and the
    per-doc argmax window both shuffle on the doc key.
    """
    from pyspark.sql import Window

    tf = (
        _tokens(df, text_col, [id_col])
        .groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    scored = (
        tf.join(model, tf["_t"] == model["token"])
        .groupBy(id_col, "label")
        .agg(F.sum(F.col("_tf") * F.col("lp")).alias("_s"))
        .join(F.broadcast(priors), "label")
        .select(
            id_col,
            "label",
            F.round(F.col("lp0") + F.col("_s"), r).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("label")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(id_col, F.col("label").alias("pred"), "score")
    )


def build_vocab(
    tokens_df: DataFrame,
    token_col: str,
    min_count: int = 1,
    head_cap: int = 256,
) -> DataFrame:
    """Frequency-ranked vocabulary with contiguous 0-based ids — the
    tokenizer-training step of an LM data pipeline: count every token,
    keep those seen ``min_count``+ times, and assign ``vocab_id`` in
    ``(count DESC, token ASC)`` order (id 0 = most frequent; ties
    break lexicographically, so the table is reproducible across
    engines, partitionings and reruns).

    Returns ``token, n, vocab_id``.

    Scale (100 TB of tokens → 10^8-row vocabularies): ids are the
    two-level running count of ``packing._running_sums``, never a
    global ``row_number()``.  Its buckets ``(-min(count, head_cap),
    first token char)`` are ORDER-MONOTONE in (count DESC, token):
    bucket 1 decreases with count and, when counts tie below the cap,
    the first character prefixes the token order; all heavy hitters
    (count ≥ head_cap, a handful of rows by Zipf) share one head
    bucket.  The largest bucket is one (count, first-char) cell of the
    count=1 tail, ~|vocab| / (alphabet size) rows — bounded
    parallelism without any quantile sketch.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (LM preprocessing; feeds ``unigram_model`` /
    ``dsir_scores`` pipelines with stable ids).
    """
    if min_count < 1:
        raise ValueError(f"build_vocab: min_count must be >= 1")
    if head_cap < 2:
        raise ValueError(f"build_vocab: head_cap must be >= 2")
    if token_col not in tokens_df.columns:
        raise ValueError(f"build_vocab: unknown column {token_col!r}")
    counts = (
        tokens_df.where(
            F.col(token_col).isNotNull() & (F.col(token_col) != "")
        )
        .groupBy(F.col(token_col).alias("token"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") >= min_count)
    )
    b1 = -F.least(F.col("n"), F.lit(head_cap)).cast("long")
    b2 = F.when(F.col("n") >= head_cap, F.lit("")).otherwise(
        F.substring("token", 1, 1)
    )
    return _running_sums(
        counts, [F.col("n").desc(), "token"], [b1, b2], {"_rank": F.lit(1)}
    ).select("token", "n", (F.col("_rank") - 1).alias("vocab_id"))


def feature_hash(
    tokens_df: DataFrame,
    id_col: str,
    token_col: str,
    dim: int = 256,
    salt: str = "fh",
) -> DataFrame:
    """The hashing trick (signed, Weinberger et al. 2009): map tokens
    into a FIXED ``dim``-slot feature space with a hash — no
    vocabulary pass, no id table, no OOV — the constant-memory
    alternative to :func:`build_vocab` when the model can take
    collision noise.  Token t lands in slot ``md5(salt:t) % dim`` and
    contributes ±1 (sign from an independent md5 bit); signed
    contributions make collisions cancel in expectation instead of
    inflating counts.

    Returns sparse rows ``(id, slot, weight)`` — ``weight`` the signed
    count of the row's tokens in that slot; zero-sum slots (perfect
    cancellation) are kept only if some token hit them (weight may be
    0), absent slots are implicit zeros.

    Determinism: slot and sign are seedless md5 arithmetic both
    engines share (16-bit hex prefix mod dim, exactly uniform for dim
    a power of two ≤ 65536 — enforced; sign from the NEXT hex digit's
    parity, an independent bit).  Weights are integers.

    Scale (100 TB): one (id, slot) aggregate with map-side combine —
    output bounded by ``docs × min(doc_len, dim)`` rows; nothing is
    corpus-global, so this pipelines per-partition (the property that
    makes hashing the only featurizer that needs NO second pass or
    broadcast state).

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (LM/classifier featurization; pairs with
    ``nb_model`` and ``ols_fit`` as the fixed-width input maker).
    """
    if dim < 2 or dim > 65536 or dim & (dim - 1):
        raise ValueError(
            f"feature_hash: dim must be a power of two in [2, 65536], "
            f"got {dim}"
        )
    for c in (id_col, token_col):
        if c not in tokens_df.columns:
            raise ValueError(f"feature_hash: unknown column {c!r}")
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(token_col)))
    slot = F.pmod(
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(dim)
    )
    sign = (
        F.pmod(F.conv(F.substring(h, 5, 1), 16, 10).cast("long"), F.lit(2))
        * 2
        - 1
    )
    return (
        tokens_df.where(
            F.col(id_col).isNotNull()
            & F.col(token_col).isNotNull()
            & (F.col(token_col) != "")
        )
        .select(F.col(id_col), slot.alias("slot"), sign.alias("_s"))
        .groupBy(id_col, "slot")
        .agg(F.sum("_s").cast("long").alias("weight"))
    )


def linear_score(
    features: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    slot_col: str = "slot",
    x_col: str = "weight",
    w_col: str = "w",
    bias: int = 0,
) -> DataFrame:
    """Linear-model inference over sparse hashed features — the
    serving half of the fastText/VW-style pipeline whose featurizer is
    :func:`feature_hash`: per row id, ``score = bias + Σ x_slot ·
    w_slot`` and the sign decision.  ``weights`` is ANY (slot, w)
    relation — a trained model read from a table, or a deterministic
    stand-in; it is dimension-bounded (``feature_hash`` caps dim at
    65536), so it ALWAYS broadcasts — model inference at 100 TB is a
    map-side join plus one per-id aggregate, no corpus-global state.

    Integer discipline: with integer ``x`` and ``w`` the score is an
    exact BIGINT — the decision boundary can never flip cross-engine.
    Features absent from ``weights`` score 0 (an L1-pruned model slot
    means "no contribution", not "drop the row").

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (classifier serving; pairs with feature_hash).
    """
    for c in (id_col, slot_col, x_col):
        if c not in features.columns:
            raise ValueError(f"linear_score: unknown feature column {c!r}")
    for c in (slot_col, w_col):
        if c not in weights.columns:
            raise ValueError(f"linear_score: unknown weight column {c!r}")
    w = F.broadcast(
        weights.select(
            F.col(slot_col).alias("_w_slot"), F.col(w_col).alias("_w")
        )
    )
    joined = features.join(
        w, F.col(slot_col) == F.col("_w_slot"), "left"
    ).select(
        F.col(id_col),
        (F.col(x_col) * F.coalesce(F.col("_w"), F.lit(0))).alias("_term"),
    )
    return joined.groupBy(id_col).agg(
        (F.sum("_term") + F.lit(bias)).cast("long").alias("score"),
        ((F.sum("_term") + F.lit(bias)) > 0).alias("positive"),
    )


def _bigram_tf(df: DataFrame, text_col: str, cols: list) -> DataFrame:
    """Per-row (w1, w2) bigram term frequencies over the FILTERED
    token array (empty tokens removed BEFORE pairing — adjacency is
    defined on real tokens; the oracle twin must filter first too)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), _TOKEN_SPLIT),
        lambda x: x != "",
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .select(*cols, toks.alias("_l"))
        .where(F.size("_l") >= 2)
        .select(
            *cols,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_l") - 1),
                    lambda i: F.struct(
                        F.element_at("_l", i).alias("w1"),
                        F.element_at("_l", i + 1).alias("w2"),
                    ),
                )
            ).alias("_p"),
        )
        .select(*cols, "_p.w1", "_p.w2")
        .groupBy(*cols, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )


def bigram_model(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus bigram counts ``(w1, w2, c)`` — the order-2 extension of
    :func:`unigram_model` (same tokenizer; adjacency over the filtered
    token array).  ``min_count`` prunes the long tail; pruned bigrams
    score as OOV."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    return (
        _bigram_tf(df, text_col, [])
        .groupBy("w1", "w2")
        .agg(F.sum("_tf").alias("c"))
        .where(F.col("c") >= min_count)
    )


def score_bigram_logprob(
    df: DataFrame,
    model: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    hot_min: int = 1000,
) -> DataFrame:
    """Per-document mean BIGRAM conditional log-probability — the
    order-2 CCNet-style fluency gate: ``P(w2|w1) = (c(w1,w2) + α) /
    (c(w1,·) + α·(V2+1))`` with Laplace smoothing over the model's
    right-vocabulary V2; an unseen left context falls to the
    ``1/(V2+1)`` floor.  Catches scrambled-word salad that unigram
    likelihood (bag-of-words by construction) cannot.

    Returns ``(id_col, n_bigrams, logprob)``, logprob rounded 6 dp;
    docs with < 2 tokens produce no row.

    ``model=None`` self-trains: the model AND the left marginals both
    derive from the per-doc bigram tf relation, so the corpus is
    exploded and shuffled once (the unigram ReusedExchange
    discipline).  Both the pair join and the marginal join are split
    lookups on ``hot_min``
    (:func:`pynomaly_spark.skew._skew_split_lookup`) — frequent bigrams
    ("of the") and frequent left tokens ("the") broadcast map-side.

    Reference parity: no counterpart in /root/reference/PyNomaly —
    engine addition (LM family order-2; pairs with
    score_unigram_logprob / collocation_pmi).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    tf = _bigram_tf(df, text_col, [id_col])
    if model is None:
        model = tf.groupBy("w1", "w2").agg(F.sum("_tf").alias("c"))
    m1 = model.groupBy("w1").agg(F.sum("c").alias("c1"))
    stats = model.agg(
        F.count_distinct(F.col("w2")).cast("double").alias("_V2")
    )
    paired = _skew_split_lookup(
        tf, model, [("w1", "w1"), ("w2", "w2")], "c", hot_min, "_c12"
    )
    looked = _skew_split_lookup(
        paired, m1, [("w1", "w1")], "c1", hot_min, "_c1"
    )
    denom = _count_or_0("_c1") + F.lit(alpha) * (F.col("_V2") + F.lit(1.0))
    lp = F.log((_count_or_0("_c12") + F.lit(alpha)) / denom)
    return (
        looked.crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.sum("_tf").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("_tf") * lp) / F.sum(F.col("_tf")), 6
            ).alias("logprob"),
        )
    )
