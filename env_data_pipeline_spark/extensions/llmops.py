"""Training-data pipeline operators beyond the reference's own set:
repetition-based quality (Gopher-style), eval-set decontamination,
sequence packing, token heavy-hitters, temperature-based corpus
reweighting, and PII redaction.

These are the operations a 100 TB pretraining-corpus build runs after
ingestion (the reference pipeline stops at per-source interpretation,
`containers/orchestrator/orchestrator.py:569-618`); each is designed
shuffle-minimal first:

- repetition_profile: zero shuffles — every metric is a per-row
  higher-order-function over the word array (embarrassingly parallel).
- contamination: the only shuffle carries (doc_id, 48-bit shingle
  hash); the eval side is distinct-reduced before the join.
- pack_sequences: one window per shard — shards bound partition
  width, so no global sort.
- heavy_hitters: explode -> partial-agg (map-side combine) -> one
  shuffle keyed by word; top-k runs over the vocab-sized aggregate.
- temperature_weights: one tiny groupBy on the mixture key.
- redact_pii: per-row regexp chain, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from env_data_pipeline_spark.extensions.text import words

# ---------------------------------------------------------------------------
# Gopher-style repetition quality (word-level analogs of the
# duplicate-line / top-n-gram rules in Rae et al. 2021, table A1)
# ---------------------------------------------------------------------------


def dup_word_frac(w: Column) -> Column:
    """1 - distinct/total: fraction of word occurrences that repeat an
    earlier word. Pure array expr — no explode, no shuffle."""
    n = F.size(w)
    return F.lit(1.0) - F.size(F.array_distinct(w)) / F.greatest(n, F.lit(1))


def top_word_frac(w: Column) -> Column:
    """Share of the single most frequent word: longest equal run over
    the SORTED array, folded with one aggregate() pass. O(n log n)
    per row, still zero shuffles."""
    s = F.array_sort(w)
    best = F.aggregate(
        F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0))),
        F.struct(
            F.element_at(s, 1).alias("prev"),
            F.lit(1).alias("run"),
            F.lit(1).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.getField("best"),
                F.when(x == acc.getField("prev"), acc.getField("run") + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc.getField("best"),
    )
    return best / F.greatest(F.size(w), F.lit(1))


def bigrams(w: Column) -> Column:
    n = F.size(w)
    return F.zip_with(
        F.slice(w, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def dup_bigram_frac(w: Column) -> Column:
    bg = bigrams(w)
    return F.when(F.size(bg) == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bg)) / F.size(bg)
    )


def repetition_bucket(dupw: Column, topw: Column, dupbg: Column) -> Column:
    """Keep/flag decision from the repetition signals. Thresholds sit
    at the observed corpus tails (see plans.llmops docstring) so the
    gate actually splits the synthetic corpus instead of passing or
    rejecting everything."""
    return (
        F.when((dupbg > 0.05) | (topw > 0.15), "HIGH_REPETITION")
        .when(dupw > 0.6, "MODERATE_REPETITION")
        .otherwise("OK")
    )


def repetition_profile(docs: DataFrame) -> DataFrame:
    w = words(F.col("text"))
    # materialize the split ONCE: referencing words(text) from every
    # metric sub-expression would re-split per reference (same
    # Catalyst pitfall as the shingle path, extensions/dedup.py)
    base = docs.select("doc_id", w.alias("w"))
    wc = F.col("w")
    dupw = dup_word_frac(wc)
    topw = top_word_frac(wc)
    dupbg = dup_bigram_frac(wc)
    return base.select(
        "doc_id",
        F.size(wc).alias("n_words"),
        F.round(dupw, 4).alias("dup_word_frac"),
        F.round(topw, 4).alias("top_word_frac"),
        F.round(dupbg, 4).alias("dup_bigram_frac"),
        repetition_bucket(dupw, topw, dupbg).alias("repetition_bucket"),
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination (n-gram collision join, the GPT-3/PaLM
# appendix-C recipe: flag training docs sharing any n-gram with a
# held-out benchmark)
# ---------------------------------------------------------------------------


def _shingle_hashes_raw(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, 48-bit word-n-gram hash), NOT deduplicated — a narrow
    explode with no shuffle. Hash in the projection so downstream
    stages carry (long, long), never text."""
    w = words(F.col("text"))
    base = docs.select("doc_id", w.alias("w"))
    n_grams = F.size(F.col("w")) - (n - 1)
    # sequence(1, stop) DESCENDS when stop < 1 — guard short docs to
    # an empty shingle set instead of relying on it
    from env_data_pipeline_spark.extensions.text import md5_prefix_hash

    grams = F.when(n_grams < 1, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: md5_prefix_hash(
                F.array_join(F.slice(F.col("w"), i, n), " ")
            ),
        )
    )
    return base.select("doc_id", F.explode(grams).alias("ghash"))


def shingle_hashes(docs: DataFrame, n: int = 4) -> DataFrame:
    """Distinct (doc_id, 48-bit word-n-gram hash)."""
    return _shingle_hashes_raw(docs, n).distinct()


def contamination_report(
    train: DataFrame, eval_docs: DataFrame, n: int = 4
) -> DataFrame:
    """Per contaminated train doc: how many of its distinct n-grams
    appear anywhere in the eval set.

    Shuffle order matters at 100 TB: the broadcast semi-join against
    the (tiny, distinct) eval hash set runs FIRST, on the raw
    un-deduplicated shingle stream — a narrow stage — so the only
    shuffle (the per-doc distinct-count aggregate) carries hit rows
    only, typically a vanishing fraction of the corpus. Deduplicating
    the train side before the join would instead shuffle every shingle
    of every document."""
    train_sh = _shingle_hashes_raw(train, n)
    eval_sh = _shingle_hashes_raw(eval_docs, n).select("ghash").distinct()
    return (
        train_sh.join(F.broadcast(eval_sh), "ghash")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("ghash")).alias("n_eval_ngram_hits"))
    )


# ---------------------------------------------------------------------------
# Sequence packing (fixed token budget, per-shard greedy chunking)
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    budget: int = 256,
    n_shards: int = 16,
    token_counts: DataFrame | None = None,
) -> DataFrame:
    """Assign docs to fixed-token-budget training sequences: within a
    shard, docs are taken in doc_id order and a doc belongs to the
    sequence its exclusive token prefix-sum lands in (the standard
    pack-then-split accounting — a sequence may overflow by at most
    its last doc, which the trainer truncates or rolls).

    Sharding bounds the sort width: the window partitions by
    ``doc_id % n_shards`` so no global single-partition sort exists;
    at 100 TB raise n_shards to O(cores) and each shard packs
    independently.

    With ``token_counts`` (doc_id, n_bpe_tokens) the budget is
    denominated in BPE tokens (extensions/bpe.py) instead of
    whitespace words — the unit the trainer's context window is
    actually measured in."""
    from pyspark.sql import Window

    if token_counts is not None:
        # token_counts is DOC-grain — corpus-sized, so it must NEVER
        # broadcast (review finding); merge-hinted because the
        # planner would happily size-broadcast it at test SF (the
        # standing AQE hazard) and the hint is what keeps the plan
        # the shape it must have at 100 TB
        base = docs.select(
            "doc_id", (F.col("doc_id") % n_shards).alias("shard")
        ).join(token_counts.hint("merge"), "doc_id", "left").select(
            "doc_id",
            "shard",
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_tokens"),
        )
    else:
        toks = F.size(words(F.col("text")))
        base = docs.select(
            "doc_id",
            (F.col("doc_id") % n_shards).alias("shard"),
            toks.alias("n_tokens"),
        )
    win = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = base.withColumn(
        "seq_id", F.floor(F.coalesce(F.sum("n_tokens").over(win), F.lit(0)) / budget)
    )
    return (
        packed.groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.round(F.sum("n_tokens") / F.lit(float(budget)), 4).alias("fill_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Token heavy-hitters
# ---------------------------------------------------------------------------


def heavy_hitters(docs: DataFrame, k: int = 20) -> DataFrame:
    """Exact global top-k tokens with corpus share. One shuffle keyed
    by token (partial counts combine map-side); the rank window runs
    over the vocab-sized aggregate, not the corpus. Ties break by
    token text so the result is deterministic."""
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(words(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )
    total = Window.partitionBy()
    ranked = counts.select(
        "token",
        "n_occurrences",
        F.round(F.col("n_occurrences") / F.sum("n_occurrences").over(total), 6).alias(
            "corpus_share"
        ),
        F.row_number()
        .over(Window.orderBy(F.desc("n_occurrences"), F.asc("token")))
        .alias("rank"),
    )
    return ranked.filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Temperature-based mixture reweighting (multilingual sampling, the
# p^alpha renormalization of Conneau & Lample 2019 §3.1)
# ---------------------------------------------------------------------------


def temperature_weights(
    docs: DataFrame,
    key: str = "lang",
    alpha: float = 0.7,
    token_counts: DataFrame | None = None,
) -> DataFrame:
    """Per mixture key: raw corpus share p, temperature-flattened
    share p^alpha / sum(p^alpha), and the implied up/down-sampling
    factor. One tiny groupBy; the window runs over K rows.

    With ``token_counts`` (key, n_tokens) the mixture is
    TOKEN-denominated — p is each key's share of the token budget,
    which is what a pretraining sampler actually draws against — and
    the output carries the n_tokens column. Without it, the legacy
    doc-count denomination."""
    from pyspark.sql import Window

    counts = docs.groupBy(key).agg(F.count("*").alias("n_docs"))
    everything = Window.partitionBy()
    extra = []
    if token_counts is not None:
        counts = counts.join(F.broadcast(token_counts), key)
        mass = F.col("n_tokens")
        extra = [F.col("n_tokens").cast("bigint").alias("n_tokens")]
    else:
        mass = F.col("n_docs")
    p = mass / F.sum(mass).over(everything)
    pa = F.pow(p, F.lit(alpha))
    out = counts.select(
        key,
        "n_docs",
        *extra,
        F.round(p, 6).alias("p_raw"),
        F.round(pa / F.sum(pa).over(everything), 6).alias("p_temp"),
        F.round((pa / F.sum(pa).over(everything)) / p, 4).alias("sample_factor"),
    )
    return out


def resample_execute(
    docs: DataFrame, key: str = "lang", alpha: float = 0.7, id_col: str = "doc_id"
) -> DataFrame:
    """Decide the temperature-mixture execution: each doc gets a
    replication count of floor(factor) plus one more with probability
    frac(factor), drawn from a deterministic per-doc hash — so a
    corpus materialized from these counts (explode(sequence(1,
    n_copies)) as the follow-on step) converges on the target mixture
    while staying reproducible across engines, runs, and cluster
    sizes. The factor arrives already rounded to 4 dp by
    temperature_weights — that rounding is what keeps the floor/frac
    split identical across engines (an unrounded pow() ulp could flip
    a floor).

    Returns the per-key accounting: docs in, docs out, target vs
    achieved factor. Plan: the K-row factor table broadcast-joins the
    corpus (null-safe, so NULL-key docs keep their group instead of
    silently dropping); no shuffle beyond the final K-row aggregate."""
    from env_data_pipeline_spark.extensions.text import md5_prefix_hash

    factors = temperature_weights(docs, key=key, alpha=alpha).select(
        F.col(key).alias("_factor_key"), F.col("sample_factor").alias("factor")
    )
    with_f = docs.join(
        F.broadcast(factors), docs[key].eqNullSafe(factors["_factor_key"])
    )
    frac = F.col("factor") - F.floor(F.col("factor"))
    extra_draw = (
        md5_prefix_hash(F.concat(F.col(id_col).cast("string"), F.lit("|resample")))
        % 1_000_000
    ) / 1_000_000.0
    n_copies = (F.floor(F.col("factor")) + (extra_draw < frac).cast("long")).alias(
        "n_copies"
    )
    per_doc = with_f.select(key, "factor", n_copies)
    return per_doc.groupBy(key).agg(
        F.count("*").alias("n_docs_in"),
        F.sum("n_copies").alias("n_docs_out"),
        F.round(F.first("factor"), 4).alias("target_factor"),
        F.round(F.sum("n_copies") / F.count("*"), 4).alias("achieved_factor"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality proxy (the CCNet-style signal: score each doc by
# the mean information content of its words under the corpus unigram
# model — gibberish and boilerplate sit at the distribution tails)
# ---------------------------------------------------------------------------


def unigram_logprob_scores(docs: DataFrame) -> DataFrame:
    """Per doc: mean -ln p(word) under the corpus unigram model.

    Two passes over one scan lineage: (1) global word counts — one
    shuffle keyed by word, map-side combined, vocab-sized output;
    (2) explode again and broadcast-join the vocab to score — at
    100 TB the vocab stays millions of rows (Zipf), far under
    broadcast limits, and the per-doc mean is the second (doc-keyed)
    shuffle. No UDFs; ln via builtin."""
    from pyspark.sql import Window

    tokens = docs.select("doc_id", F.explode(words(F.col("text"))).alias("token"))
    vocab = tokens.groupBy("token").agg(F.count("*").alias("n"))
    # corpus total via an everything-window over the vocab-sized
    # aggregate (single partition of |vocab| rows — same pattern as
    # heavy_hitters), not a scalar cross join
    scored = vocab.select(
        "token",
        (-F.log(F.col("n") / F.sum("n").over(Window.partitionBy()))).alias(
            "neg_logp"
        ),
    )
    return (
        tokens.join(F.broadcast(scored), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.round(F.avg("neg_logp"), 6).alias("mean_neg_logp"),
        )
    )


# ---------------------------------------------------------------------------
# Overlapping chunk windows (the RAG/embedding preprocessing step:
# fixed-width word windows with stride overlap)
# ---------------------------------------------------------------------------


def chunk_windows(docs: DataFrame, width: int = 32, stride: int = 16) -> DataFrame:
    """Split each doc into word windows of ``width`` starting every
    ``stride`` words; the final partial window is kept iff it adds
    tail words beyond the previous full window. Pure per-row HOFs +
    one explode — zero shuffles, embarrassingly parallel."""
    if stride <= 0 or width <= 0 or stride > width:
        raise ValueError(f"need 0 < stride <= width, got {width=} {stride=}")
    w = words(F.col("text"))
    base = docs.select("doc_id", w.alias("w"))
    n = F.size(F.col("w"))
    # number of windows: ceil(max(n - width + stride, 1) / stride) --
    # equivalently last start s.t. start <= n - 1 and (start == 0 or
    # it contributes tail words): starts 0, stride, 2*stride, ...,
    # while start + width < n + stride
    n_chunks = F.greatest(
        F.ceil((n - F.lit(width)) / F.lit(stride)) + 1, F.lit(1)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.array_join(
                F.slice(F.col("w"), i * stride + 1, width), " "
            ).alias("chunk_text"),
            F.least(n - i * stride, F.lit(width)).alias("n_tokens"),
        ),
    )
    return base.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation verdict: every gate composed into one
# keep/drop-with-reason decision per training doc
# ---------------------------------------------------------------------------


def curation_verdict(
    docs: DataFrame,
    eval_source: str,
    ngram: int = 4,
    clf_scores: DataFrame | None = None,
) -> DataFrame:
    """One row per TRAINING doc (the eval slice is excluded — it is
    the benchmark, not the corpus): verdict KEEP/DROP plus the first
    failing gate, evaluated in severity order:

      contaminated > low_quality > ml_low_quality > high_repetition
      > lang_mismatch

    ``clf_scores`` is the trained classifier's (doc_id, z_u) margin
    frame (plans/qualityclf.py::score_docs over the persisted weight
    artifact): docs the rule gate passes but the LEARNED model
    rejects (z_u < 0) drop as ml_low_quality — the CCNet-style
    ensemble where the classifier generalizes past the hand rules.
    Omit it and the chain is the pre-r11 four-gate form.

    Plan shape: all quality/repetition/lang metrics are per-row HOFs
    (narrow); the shuffles belong to the contamination report, whose
    output (hit docs only) left-broadcast-joins back onto the corpus,
    and to the classifier margin's doc-grain sum — so the wide path
    costs what ``contamination_report`` + one feature-frame aggregate
    cost."""
    from env_data_pipeline_spark.extensions.text import (
        predicted_lang_w,
        punct_ratio,
        quality_bucket,
        stopword_ratio_w,
    )

    train = docs.filter(F.col("source") != eval_source)
    eval_docs = docs.filter(F.col("source") == eval_source)
    hits = contamination_report(
        train.select("doc_id", "text"), eval_docs.select("doc_id", "text"), ngram
    ).select("doc_id", F.lit(True).alias("contaminated"))

    # materialize the split ONCE and derive every word-based metric
    # from the array column — quality, repetition, and all 5 language
    # scores would otherwise each re-run split(text) in this projection
    base = train.select("doc_id", "lang", "text", words(F.col("text")).alias("w"))
    wc = F.col("w")
    quality = quality_bucket(
        F.size(wc), stopword_ratio_w(wc), punct_ratio(F.col("text"))
    )
    rep = repetition_bucket(
        dup_word_frac(wc), top_word_frac(wc), dup_bigram_frac(wc)
    )
    flagged = base.select(
        "doc_id",
        "lang",
        quality.alias("quality"),
        rep.alias("repetition"),
        predicted_lang_w(wc).alias("predicted_lang"),
    ).join(F.broadcast(hits), "doc_id", "left")
    if clf_scores is not None:
        flagged = flagged.join(
            clf_scores.select("doc_id", "z_u"), "doc_id", "left"
        )
    ml_reject = (
        F.lit(False)
        if clf_scores is None
        else F.coalesce(F.col("z_u") < 0, F.lit(False))
    )

    reason = (
        F.when(F.col("contaminated"), "contaminated")
        .when(F.col("quality") != "OK", "low_quality")
        .when(ml_reject, "ml_low_quality")
        .when(F.col("repetition") == "HIGH_REPETITION", "high_repetition")
        .when(F.col("predicted_lang") != F.col("lang"), "lang_mismatch")
    )
    return flagged.select(
        "doc_id",
        "lang",
        F.when(reason.isNull(), "KEEP").otherwise("DROP").alias("verdict"),
        reason.alias("drop_reason"),
    )


# ---------------------------------------------------------------------------
# PII redaction (regex scrub; patterns restricted to the RE2-safe
# subset so the DuckDB oracle runs the literal same patterns)
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, tuple[str, str]] = {
    # name -> (pattern, replacement token)
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}

# order matters: emails contain dots/digits, so scrub them before the
# looser numeric patterns
PII_ORDER = ("email", "phone", "ipv4")


def redact_pii(text: Column) -> Column:
    out = text
    for name in PII_ORDER:
        pat, rep = PII_PATTERNS[name]
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-class redaction counts, each computed on the text AFTER the
    earlier classes were scrubbed — so the counts reconcile exactly
    with the replacement tokens in ``redact_pii``'s output. Counting
    every class on the raw text would double-report PII consumed by an
    earlier pass (a phone-shaped local part inside an email)."""
    out: dict[str, Column] = {}
    cur = text
    for name in PII_ORDER:
        pat, rep = PII_PATTERNS[name]
        out[name] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, rep)
    return out


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): hashed-n-gram
# importance weights log(p_target/p_raw) against a small held-out
# target corpus, then hash-Gumbel top-quarter selection. The missing
# tier between the trained quality classifier (ml gate) and
# temperature mixing: it moves the RAW mixture toward a TARGET
# distribution instead of gating on intrinsic quality.
# ---------------------------------------------------------------------------

_DSIR_GRID = 1_000_000  # 1e-6 integer grid for log-ratio/Gumbel terms


def _dsir_grams(docs: DataFrame) -> DataFrame:
    """One row per hashed-n-gram INSTANCE (unigrams + bigrams over the
    empty-filtered word list, tag-prefixed so the two families never
    collide), carrying the doc's identity columns. Pure per-row HOFs +
    one explode — zero shuffles."""
    from env_data_pipeline_spark.extensions.text import md5_prefix_hash, words

    ws = F.filter(words(F.col("text")), lambda x: F.length(x) > 0)
    n = F.size(ws)
    bi = F.zip_with(
        F.slice(ws, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(F.lit("b|"), a, F.lit(" "), b),
    )
    uni = F.transform(ws, lambda x: F.concat(F.lit("u|"), x))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.concat(uni, bi)).alias("gram"),
    ).withColumn("gram_hash", md5_prefix_hash(F.col("gram")))


def dsir_bucket_counts(
    grams: DataFrame, target_source: str, buckets: int
) -> DataFrame:
    """Per hash bucket (all ``buckets`` rows, zero-filled): target and
    raw gram-instance counts (ct, cr), from ONE corpus scan — the
    target/raw split is a conditional aggregation, not two filtered
    passes (review finding, r12). One shuffle, map-side combined down
    to <=B rows."""
    spark = grams.sparkSession
    hb = grams.select(
        F.pmod(F.col("gram_hash"), F.lit(buckets)).alias("b"),
        (F.col("source") == target_source).alias("is_t"),
    )
    cnt = hb.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("ct_nz"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("cr_nz"),
    )
    allb = spark.range(buckets).select(F.col("id").cast("bigint").alias("b"))
    return allb.join(cnt, "b", "left").select(
        "b",
        F.coalesce("ct_nz", F.lit(0)).cast("bigint").alias("ct"),
        F.coalesce("cr_nz", F.lit(0)).cast("bigint").alias("cr"),
    )


def _dsir_iterm(ct, cx, tt, tx, buckets: int):
    """The Laplace-smoothed integer-grid log ratio
    floor(1e6 * ln(((ct+1)*(tx+B)) / ((cx+1)*(tt+B)))): one ln() call
    over exact-integer products (all < 2^53), floored onto the 1e-6
    grid so every downstream sum and comparison is exact-integer on
    both engines."""
    return (
        F.floor(
            _DSIR_GRID
            * F.log(((ct + 1.0) * (tx + buckets)) / ((cx + 1.0) * (tt + buckets)))
        )
        .cast("bigint")
    )


def dsir_bucket_logratios(
    grams: DataFrame, target_source: str, buckets: int
) -> DataFrame:
    """Per hash bucket: the importance log-ratio ilr (target vs raw)
    on the 1e-6 integer grid. One corpus shuffle (dsir_bucket_counts);
    totals via an everything-window over the B-row aggregate (same
    pattern as unigram_logprob_scores), never a driver collect."""
    from pyspark.sql import Window

    full = dsir_bucket_counts(grams, target_source, buckets)
    w = Window.partitionBy()
    return full.select(
        "b",
        _dsir_iterm(
            F.col("ct"),
            F.col("cr"),
            F.sum("ct").over(w),
            F.sum("cr").over(w),
            buckets,
        ).alias("ilr"),
    )


def dsir_score_against(
    docs: DataFrame,
    ilr: DataFrame,
    buckets: int,
    strata: int,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Score ``docs`` against a STANDING bucket-log-ratio table (the
    ingest-gate asymmetry: arrivals are judged by frozen state, the
    models never refit per batch): per doc with >=1 gram — integer
    importance score, Gumbel-perturbed selection key on the same
    1e-6 grid, and md5 salt stratum. The ilr frame is <=B rows and
    broadcasts; the only shuffle is the doc-keyed aggregation.

    ``grams``: inject a prebuilt (possibly checkpointed) _dsir_grams
    frame for ``docs`` instead of re-deriving it — dsir_scored_docs
    passes the SAME materialization its ilr build consumed, so the
    gram+md5 kernel (the query's dominant map work) runs once, not
    twice (r12)."""
    from env_data_pipeline_spark.extensions.text import md5_prefix_hash

    bucketed = (grams if grams is not None else _dsir_grams(docs)).withColumn(
        "b", F.pmod(F.col("gram_hash"), F.lit(buckets))
    )
    scored = (
        bucketed.join(F.broadcast(ilr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("ilr").alias("score"),
            F.count("*").alias("n_grams"),
        )
    )
    u = (
        F.pmod(
            md5_prefix_hash(
                F.concat(F.col("doc_id").cast("string"), F.lit("|dsir"))
            ),
            F.lit(_DSIR_GRID),
        )
        + 0.5
    ) / _DSIR_GRID
    return scored.select(
        "doc_id",
        "lang",
        "score",
        "n_grams",
        (
            F.col("score")
            + F.floor(_DSIR_GRID * -F.log(-F.log(u))).cast("bigint")
        ).alias("sel_key"),
        F.pmod(
            md5_prefix_hash(
                F.concat(F.col("doc_id").cast("string"), F.lit("|strat"))
            ),
            F.lit(strata),
        ).alias("salt"),
    )


def dsir_scored_docs(
    docs: DataFrame,
    target_source: str = "src0",
    buckets: int = 128,
    keep_num: int = 1,
    keep_den: int = 4,
    strata: int = 64,
    ilr: DataFrame | None = None,
) -> DataFrame:
    """Per RAW doc (source != target, >=1 token): the DSIR selection
    frame — integer importance score (sum of its gram buckets' ilr),
    hash-Gumbel perturbed key, salt stratum, and the keep decision.

    Gumbel top-k sampling (the paper's estimator) is made exactly
    reproducible: u = (md5(doc_id|dsir)%1e6 + 0.5)/1e6, the Gumbel
    term floored onto the same 1e-6 grid as the score, so key
    comparisons are BIGINT. Selection is HASH-STRATIFIED top-k:
    row_number over Window.partitionBy(salt) — never a global
    single-partition sort — keeping keep_num/keep_den of each
    md5-uniform stratum; strata are i.i.d. samples of the key
    distribution, so the union is the global top fraction up to
    per-stratum rounding. At 100 TB, ``strata`` is the task-width
    knob (size it so a stratum fits one task's sort buffer); the
    registered query pins strata=64 as the oracle contract at test SF.

    ``ilr``: inject a prebuilt (possibly checkpointed) bucket-log-
    ratio frame instead of deriving it from ``docs`` — the callers
    that also consume the ratios (the KL metric, the streaming gate's
    frozen state) build it once (review finding, r12)."""
    from pyspark.sql import Window

    if ilr is None:
        # lineage cut (b): the ratio build and the scorer read one gram stream
        grams_all = (
            _dsir_grams(docs)
            .select("doc_id", "lang", "source", "gram_hash")
            .localCheckpoint()
        )
        ilr = dsir_bucket_logratios(grams_all, target_source, buckets)
        keyed = dsir_score_against(
            docs.filter(F.col("source") != target_source),
            ilr,
            buckets,
            strata,
            grams=grams_all.filter(F.col("source") != target_source),
        )
    else:
        keyed = dsir_score_against(
            docs.filter(F.col("source") != target_source), ilr, buckets, strata
        )
    win = Window.partitionBy("salt").orderBy(
        F.col("sel_key").desc(), F.col("doc_id")
    )
    cwin = Window.partitionBy("salt")
    return keyed.select(
        "doc_id",
        "lang",
        "score",
        "n_grams",
        "sel_key",
        "salt",
        (
            F.row_number().over(win) * keep_den
            <= F.count("*").over(cwin) * keep_num
        ).alias("selected"),
    )


def importance_resample(
    docs: DataFrame,
    target_source: str = "src0",
    buckets: int = 128,
    keep_num: int = 1,
    keep_den: int = 4,
    strata: int = 64,
) -> DataFrame:
    """Per-language accounting of the DSIR selection: raw vs selected
    vs target mixture shares (the resampled mixture should sit closer
    to the target's than the raw corpus does), plus the mean doc
    log-importance in nats. K-row output; the only corpus-sized work
    is in dsir_scored_docs."""
    from pyspark.sql import Window

    sel = dsir_scored_docs(
        docs, target_source, buckets, keep_num, keep_den, strata
    )
    raw_stats = sel.groupBy("lang").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.when(F.col("selected"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_selected"),
        F.sum("score").alias("sum_score"),
    )
    tgt_stats = (
        docs.filter(F.col("source") == target_source)
        .groupBy("lang")
        .agg(F.count("*").alias("n_target"))
    )
    # null-SAFE lang equality, mirroring the oracle's IS NOT DISTINCT
    # FROM — a NULL-lang corpus must merge, not emit two half-rows;
    # explicit aliases because both stat frames share the docs
    # lineage (review finding, r12)
    joined = (
        raw_stats.alias("r")
        .join(
            tgt_stats.alias("t"),
            F.col("r.lang").eqNullSafe(F.col("t.lang")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("r.lang"), F.col("t.lang")).alias("lang"),
            F.coalesce("n_raw", F.lit(0)).alias("n_raw"),
            F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
            F.coalesce("n_target", F.lit(0)).alias("n_target"),
            "sum_score",
        )
    )
    w = Window.partitionBy()
    share = lambda c: F.when(  # noqa: E731
        F.sum(c).over(w) > 0, F.round(F.col(c) / F.sum(c).over(w), 4)
    ).otherwise(F.lit(0.0))
    return joined.select(
        "lang",
        "n_raw",
        "n_selected",
        "n_target",
        share("n_raw").alias("raw_share"),
        share("n_selected").alias("sel_share"),
        share("n_target").alias("target_share"),
        F.when(
            F.col("n_raw") > 0,
            F.round(
                F.col("sum_score") / (F.col("n_raw") * float(_DSIR_GRID)), 4
            ),
        ).alias("mean_logw"),
    )


def importance_kl_shift(
    docs: DataFrame,
    target_source: str = "src0",
    buckets: int = 128,
    keep_num: int = 1,
    keep_den: int = 4,
    strata: int = 64,
) -> DataFrame:
    """The DSIR claim, quantified on the corpus itself: smoothed
    hashed-n-gram KL(target || raw) vs KL(target || selected) — a
    working importance sampler makes the second strictly smaller.

    Exact-integer contract: each bucket's log ratio is floored onto
    the 1e-6 grid BEFORE the (ct+1)-weighted sum, so both KL
    numerators are exact BIGINT sums over <=B buckets; the single
    division by (tot_target+B)*1e6 and ROUND(6) happen last. (The
    grid constant bounds the weighted sum well inside BIGINT for any
    corpus whose per-bucket gram count stays under ~1e11 — rescale
    the grid before that.)

    Corpus-scan accounting (review finding, r12): the target/raw
    bucket counts come from ONE conditional-aggregation pass whose
    B-row result is locally checkpointed, so both consumers (the
    scoring ilr and the KL terms) read the materialized aggregate
    instead of re-exploding the corpus; total corpus explodes = 3
    (counts, scoring, selected-gram counts)."""
    from pyspark.sql import Window

    # lineage cut (b): the scoring ratios and the KL terms both read the counts
    counts = dsir_bucket_counts(
        _dsir_grams(docs), target_source, buckets
    ).localCheckpoint()
    w = Window.partitionBy()
    ilr = counts.select(
        "b",
        _dsir_iterm(
            F.col("ct"),
            F.col("cr"),
            F.sum("ct").over(w),
            F.sum("cr").over(w),
            buckets,
        ).alias("ilr"),
    )
    sel_ids = (
        dsir_scored_docs(
            docs, target_source, buckets, keep_num, keep_den, strata, ilr=ilr
        )
        .filter(F.col("selected"))
        .select("doc_id")
    )
    hb = _dsir_grams(docs).select(
        "doc_id", F.pmod(F.col("gram_hash"), F.lit(buckets)).alias("b")
    )
    sc = hb.join(sel_ids, "doc_id").groupBy("b").agg(F.count("*").alias("cs"))
    fb2 = (
        counts.join(sc, "b", "left")
        .select(
            "b",
            "ct",
            "cr",
            F.coalesce("cs", F.lit(0)).alias("cs"),
        )
        .select(
            "b",
            "ct",
            "cr",
            "cs",
            F.sum("ct").over(w).alias("tt"),
            F.sum("cr").over(w).alias("tr"),
            F.sum("cs").over(w).alias("ts"),
        )
    )
    terms = fb2.select(
        "ct",
        "tt",
        _dsir_iterm(
            F.col("ct"), F.col("cr"), F.col("tt"), F.col("tr"), buckets
        ).alias("itr"),
        _dsir_iterm(
            F.col("ct"), F.col("cs"), F.col("tt"), F.col("ts"), buckets
        ).alias("its"),
    )
    denom = (F.max("tt") + buckets) * float(_DSIR_GRID)
    return terms.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.round(F.sum((F.col("ct") + 1) * F.col("itr")) / denom, 6).alias(
            "kl_target_raw"
        ),
        F.round(F.sum((F.col("ct") + 1) * F.col("its")) / denom, 6).alias(
            "kl_target_selected"
        ),
        F.round(
            (
                F.sum((F.col("ct") + 1) * F.col("itr"))
                - F.sum((F.col("ct") + 1) * F.col("its"))
            )
            / denom,
            6,
        ).alias("kl_reduction"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity tiering (Wenzek et al. 2020): score every raw
# doc under a hashed-unigram LM trained on the clean target corpus,
# then cut each language into head / middle / tail perplexity thirds.
# The reference has no language-model tier at all (its quality signal
# is per-source completeness, containers/orchestrator/orchestrator.py:
# 569-618); this is the standard pretraining-corpus triage step.
# ---------------------------------------------------------------------------

# the ONE 1e-6 grid shared with the DSIR family — rescaling either
# tier alone would silently split the two integer contracts
_PPL_GRID = _DSIR_GRID


def _ppl_tokens(docs: DataFrame) -> DataFrame:
    """One row per word INSTANCE with its hash — unigram-only (the
    perplexity LM), distinct from the DSIR uni+bigram family. Needs
    only (doc_id, lang, text); callers filter source themselves. Pure
    HOFs + one explode, zero shuffles."""
    from env_data_pipeline_spark.extensions.text import md5_prefix_hash, words

    ws = F.filter(words(F.col("text")), lambda x: F.length(x) > 0)
    return docs.select(
        "doc_id", "lang", F.explode(ws).alias("token")
    ).withColumn("tok_hash", md5_prefix_hash(F.col("token")))


def ppl_unigram_lm(
    docs: DataFrame, target_source: str = "src0", buckets: int = 512
) -> DataFrame:
    """The frozen LM: all ``buckets`` rows of (b, inlp) — the add-1-
    smoothed hashed-unigram neg-log-prob floored onto the 1e-6 grid.
    One explode -> <=buckets-row count aggregate (map-side combined);
    the streaming gate checkpoints this frame and scores every
    micro-batch against it."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    tcnt = (
        _ppl_tokens(docs.filter(F.col("source") == target_source))
        .select(F.pmod(F.col("tok_hash"), F.lit(buckets)).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct_nz"))
    )
    allb = spark.range(buckets).select(F.col("id").cast("bigint").alias("b"))
    w = Window.partitionBy()
    return (
        allb.join(tcnt, "b", "left")
        .select("b", F.coalesce("ct_nz", F.lit(0)).cast("bigint").alias("ct"))
        .select(
            "b",
            F.floor(
                -F.lit(float(_PPL_GRID))
                * F.log(
                    (F.col("ct") + 1)
                    / (F.sum("ct").over(w) + F.lit(buckets)).cast("double")
                )
            )
            .cast("bigint")
            .alias("inlp"),
        )
    )


def ppl_score_against(
    batch: DataFrame, lm: DataFrame, buckets: int, strata: int
) -> DataFrame:
    """Score (doc_id, lang, text) rows against a FROZEN (b, inlp) LM:
    per-doc integer mean neg-log-prob and md5 stratum — the arrival
    half of the streaming gate, shared verbatim with the batch path so
    the two cannot drift."""
    from env_data_pipeline_spark.extensions.text import md5_prefix_hash

    return (
        _ppl_tokens(batch)
        .select(
            "doc_id", "lang", F.pmod(F.col("tok_hash"), F.lit(buckets)).alias("b")
        )
        .join(F.broadcast(lm), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("inlp").alias("sum_inlp"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tok",
            F.expr("sum_inlp div n_tok").cast("bigint").alias("ippl"),
            F.pmod(
                md5_prefix_hash(
                    F.concat(F.col("doc_id").cast("string"), F.lit("|ppl"))
                ),
                F.lit(strata),
            ).alias("salt"),
        )
    )


def ppl_scored_docs(
    docs: DataFrame,
    target_source: str = "src0",
    buckets: int = 512,
    strata: int = 32,
    lm: DataFrame | None = None,
) -> DataFrame:
    """Per raw (non-target) doc: integer mean neg-log-prob under the
    add-1-smoothed hashed-unigram target LM, and its head/middle/tail
    bucket within (lang, md5-salt stratum) thirds.

    Exact-integer contract: each bucket's neg-log-prob is floored onto
    the 1e-6 grid, the per-doc sum is an exact BIGINT, and the mean is
    BIGINT ``div`` — so ranks, tertile cuts, and every downstream
    aggregate are reproducible bit-for-bit by the SQL oracle.

    Scale posture: one explode -> <=``buckets``-row count aggregate
    (map-side combined) -> broadcast onto a second explode -> one
    doc-keyed aggregation -> tertile window partitioned by
    (lang, salt). Strata is the task-width knob: the CCNet percentile
    cut runs per stratum, never as a global per-language sort."""
    from pyspark.sql import Window

    if lm is None:
        lm = ppl_unigram_lm(docs, target_source, buckets)
    scored = ppl_score_against(
        docs.filter(F.col("source") != target_source), lm, buckets, strata
    )
    sw = Window.partitionBy("lang", "salt").orderBy(
        F.asc("ippl"), F.asc("doc_id")
    )
    cw = Window.partitionBy("lang", "salt")
    ranked = scored.select(
        "*",
        F.row_number().over(sw).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n_strat"),
    )
    return ranked.withColumn(
        "bucket",
        F.when(3 * F.col("rn") <= F.col("n_strat"), "head")
        .when(3 * F.col("rn") <= 2 * F.col("n_strat"), "middle")
        .otherwise("tail"),
    )


def perplexity_buckets(
    docs: DataFrame,
    target_source: str = "src0",
    buckets: int = 512,
    strata: int = 32,
) -> DataFrame:
    """Per (lang, head/middle/tail bucket): doc count, exact-integer
    min/max/mean of the grid perplexity score, and the bucket's
    permille share of its language — the CCNet triage table a
    pretraining run keeps (train on head+middle, drop or re-weight
    tail). K-row output; all corpus-sized work is in
    ppl_scored_docs."""
    from pyspark.sql import Window

    lw = Window.partitionBy("lang")
    return (
        ppl_scored_docs(docs, target_source, buckets, strata)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("ippl").alias("min_ippl"),
            F.max("ippl").alias("max_ippl"),
            F.expr("sum(ippl) div count(1)").cast("bigint").alias("mean_ippl"),
        )
        .select(
            "*",
            F.floor(
                F.lit(1000) * F.col("n_docs") / F.sum("n_docs").over(lw)
            )
            .cast("bigint")
            .alias("lang_share_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher quality-rule accounting (Rae et al. 2021, table A1.1): the
# per-rule drop ledger a corpus-filtering run reports, adapted to a
# single-line corpus (word-count bounds, mean word length, stop-word
# presence, top-word repetition). Independent per-rule counts — not
# first-failure attribution — so each rule's bite is visible alone.
# ---------------------------------------------------------------------------


def gopher_rule_flags(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 1000,
) -> DataFrame:
    """Per-doc rule verdicts, every comparison exact-integer
    (cross-multiplied, never a float ratio):

    - ok_word_count:  min_words <= n <= max_words
    - ok_word_length: mean word length in [3, 10] as 3n <= L <= 10n
    - ok_stopwords:   >= 2 stop-word instances (EN_STOPWORDS)
    - ok_repetition:  most-frequent word <= 20% of tokens (5*max <= n)

    One projection over one scan: the word array materializes once and
    every rule reads it (HOFs, zero shuffles, zero UDFs)."""
    from env_data_pipeline_spark.extensions.text import EN_STOPWORDS, words

    base = docs.select(
        "doc_id",
        "lang",
        "source",
        F.filter(words(F.col("text")), lambda x: F.length(x) > 0).alias("ws"),
    )
    n = F.size("ws")
    total_len = F.aggregate(
        F.col("ws"), F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    n_stop = F.size(F.filter(F.col("ws"), lambda x: x.isin(*EN_STOPWORDS)))
    # max word multiplicity via a LINEAR run-length fold over the
    # sorted array (the distinct x filter nest is O(distinct * n) per
    # doc — quadratic on the corpus-scan hot path); empty docs stay
    # NULL so the rule fails them, mirroring the oracle's list_max
    run_fold = F.aggregate(
        F.array_sort("ws"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias(
                "run"
            ),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    top_cnt = F.when(F.size("ws") > 0, run_fold)
    return base.select(
        "doc_id",
        "lang",
        "source",
        n.alias("n_words"),
        ((F.lit(min_words) <= n) & (n <= F.lit(max_words))).alias(
            "ok_word_count"
        ),
        ((3 * n <= total_len) & (total_len <= 10 * n)).alias("ok_word_length"),
        (n_stop >= 2).alias("ok_stopwords"),
        (5 * top_cnt <= n).alias("ok_repetition"),
    )


def gopher_rules(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 1000,
) -> DataFrame:
    """Per source: doc count, independent fail count per Gopher rule,
    survivors of ALL rules, and the exact drop permille — the filter
    ledger next to which a curation run tunes its thresholds."""
    flags = gopher_rule_flags(docs, min_words, max_words)
    fails = lambda c: F.sum(  # noqa: E731
        F.when(F.col(c), 0).otherwise(1)
    ).cast("bigint")
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            fails("ok_word_count").alias("fail_word_count"),
            fails("ok_word_length").alias("fail_word_length"),
            fails("ok_stopwords").alias("fail_stopwords"),
            fails("ok_repetition").alias("fail_repetition"),
            F.sum(
                F.when(
                    F.col("ok_word_count")
                    & F.col("ok_word_length")
                    & F.col("ok_stopwords")
                    & F.col("ok_repetition"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pass"),
        )
        .select(
            "*",
            F.floor(
                F.lit(1000) * (F.col("n_docs") - F.col("n_pass")) / F.col("n_docs")
            )
            .cast("bigint")
            .alias("drop_permille"),
        )
    )
