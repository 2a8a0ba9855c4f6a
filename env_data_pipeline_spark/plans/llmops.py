"""Query registrations for the training-data pipeline family
(extensions/llmops.py): repetition quality, decontamination, sequence
packing, heavy hitters, temperature reweighting, PII redaction.

Beyond-the-reference scope: the reference pipeline's quality notion
stops at per-source completeness scoring
(`containers/orchestrator/orchestrator.py:569-618`); these are the
corpus-level operations the same data would need on the way into a
pretraining set.

Repetition thresholds are pinned to the measured sf0.01 corpus tails
(dup_bigram_frac median 0.028 / max 0.133; top_word_frac median 0.093
/ max 0.30; dup_word_frac median 0.54 / max 0.72) so every bucket is
populated — a gate that passes or rejects everything tests nothing.

The PII corpus derives a deterministic contact string from testdata
columns (doc_id, source) because the synthetic text itself is
PII-free; this checks real cross-engine regex behavior (Java regex vs
RE2) on the literal same patterns, not just that zero stays zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.extensions import bpe as B
from env_data_pipeline_spark.extensions import llmops as L
from env_data_pipeline_spark.plans.registry import BENCH_EXTRA, query
from env_data_pipeline_spark.sources.fixtures import duck_with, ensure_fixtures


def _bpe_prefix() -> str:
    """Shared oracle prefix: the bpe_vocab fixture + the greedy-walk
    CTEs ending in wordtok(word, n_bpe) (extensions/bpe.py)."""
    return f"{duck_with('bpe_vocab')},\n{B.duck_wordtok_ctes()}"


def _word_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n_bpe) against the materialized bpe_vocab fixture."""
    return B.word_tokens_for(spark, sf_dir)

# headline representatives for the family: the zero-shuffle HOF
# profile, the hashed n-gram decontamination join, and the composed
# curation verdict (every gate in one plan)
BENCH_EXTRA.update(
    {
        "text_repetition_profile",
        "decontaminate_eval_overlap",
        "corpus_curation_verdict",
        # r12: the DSIR selection tier (hashed-n-gram importance
        # weights + stratified Gumbel top-k)
        "corpus_importance_resample",
    }
)

_EVAL_SOURCE = "src0"
_PACK_BUDGET = 256
_PACK_SHARDS = 16
_TEMP_ALPHA = 0.7

# the one shared metric CTE for the repetition oracle: 1-based list
# indexing; range(1, len) stops at len-1, exactly the bigram count
_DUCK_REP = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    tw AS (SELECT doc_id, max(c) AS topc FROM (
        SELECT doc_id, u.x AS word, count(*) AS c
        FROM w, unnest(ws) AS u(x) GROUP BY 1, 2) GROUP BY 1),
    m AS (SELECT doc_id, len(ws) AS n, len(list_distinct(ws)) AS nd,
          list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg
          FROM w),
    j AS (SELECT m.doc_id, n, nd, topc,
          CASE WHEN len(bg) = 0 THEN 0.0
               ELSE 1 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE)
          END AS dupbg,
          1 - nd / CAST(n AS DOUBLE) AS dupw,
          topc / CAST(n AS DOUBLE) AS topw
          FROM m JOIN tw USING (doc_id))
"""


@query(
    "text_repetition_profile",
    oracle=_DUCK_REP
    + """
    SELECT doc_id, n AS n_words,
           ROUND(dupw, 4) AS dup_word_frac,
           ROUND(topw, 4) AS top_word_frac,
           ROUND(dupbg, 4) AS dup_bigram_frac,
           CASE WHEN dupbg > 0.05 OR topw > 0.15 THEN 'HIGH_REPETITION'
                WHEN dupw > 0.6 THEN 'MODERATE_REPETITION'
                ELSE 'OK' END AS repetition_bucket
    FROM j
    """,
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (word/bigram analogs of Rae et al.
    2021 table A1). Zero shuffles: every metric is a per-row
    higher-order function over the split array."""
    return L.repetition_profile(table(spark, sf_dir, "documents"))


@query(
    "decontaminate_eval_overlap",
    oracle=f"""
    WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, source,
           ('0x' || substr(md5(g), 1, 12))::BIGINT AS ghash
           FROM (SELECT doc_id, source,
                 unnest(list_transform(range(1, len(ws) - 2), i ->
                     list_aggr(ws[i:i+3], 'string_agg', ' '))) AS g
                 FROM w WHERE len(ws) >= 4)),
    ev AS (SELECT DISTINCT ghash FROM sh WHERE source = '{_EVAL_SOURCE}')
    SELECT t.doc_id, COUNT(*) AS n_eval_ngram_hits
    FROM (SELECT doc_id, ghash FROM sh WHERE source <> '{_EVAL_SOURCE}') t
    JOIN ev USING (ghash)
    GROUP BY 1
    """,
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C recipe): flag
    every training doc sharing a word-4-gram with the held-out eval
    slice (source = src0). Hashes travel, text never does; the eval
    side reduces to distinct hashes and broadcasts."""
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != _EVAL_SOURCE)
    eval_docs = docs.filter(F.col("source") == _EVAL_SOURCE)
    return L.contamination_report(train, eval_docs, n=4)


_SWEEP_NS = (4, 8, 13)


def _decon_sweep_oracle() -> str:
    """Per-tier replay of the contamination join for n = 4/8/13:
    same 48-bit md5-prefix hashes, same distinct-per-doc hit counts,
    aggregated to one summary row per tier."""
    tiers = []
    for n in _SWEEP_NS:
        tiers.append(
            f"""
    SELECT {n} AS ngram_n,
           CAST(COUNT(*) AS BIGINT) AS n_flagged_docs,
           CAST(COALESCE(SUM(h), 0) AS BIGINT) AS total_hits,
           CAST(COALESCE(MAX(h), 0) AS BIGINT) AS max_hits_per_doc
    FROM (
      WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, source,
             ('0x' || substr(md5(g), 1, 12))::BIGINT AS ghash
             FROM (SELECT doc_id, source,
                   unnest(list_transform(range(1, len(ws) - {n - 2}), i ->
                       list_aggr(ws[i:i+{n - 1}], 'string_agg', ' '))) AS g
                   FROM w WHERE len(ws) >= {n})),
      ev AS (SELECT DISTINCT ghash FROM sh WHERE source = '{_EVAL_SOURCE}')
      SELECT t.doc_id, COUNT(*) AS h
      FROM (SELECT doc_id, ghash FROM sh WHERE source <> '{_EVAL_SOURCE}') t
      JOIN ev USING (ghash) GROUP BY 1
    )"""
        )
    return "\nUNION ALL\n".join(tiers)


@query("decontaminate_ngram_sweep", oracle=_decon_sweep_oracle())
def decontaminate_ngram_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination aggressiveness sweep (r4 verdict item 9): the
    word-4-gram tier of decontaminate_eval_overlap plus the standard
    8- and 13-gram tiers (the GPT-3 appendix-C 13-gram rule and the
    common 8-gram middle ground), one summary row per tier so mixture
    owners can see what each aggressiveness level would flag before
    choosing. Each tier is the same broadcast-hash-set semi-join plan
    as the base query — hashes travel, text never does; three tiers
    means three narrow scans, not a wider shuffle."""
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != _EVAL_SOURCE)
    eval_docs = docs.filter(F.col("source") == _EVAL_SOURCE)
    out = None
    for n in _SWEEP_NS:
        rep = L.contamination_report(train, eval_docs, n=n)
        tier = rep.agg(
            F.count("*").alias("n_flagged_docs"),
            F.coalesce(F.sum("n_eval_ngram_hits"), F.lit(0)).alias("total_hits"),
            F.coalesce(F.max("n_eval_ngram_hits"), F.lit(0)).alias(
                "max_hits_per_doc"
            ),
        ).select(F.lit(n).alias("ngram_n"), "*")
        out = tier if out is None else out.unionByName(tier)
    return out


def _pack_oracle() -> str:
    return f"""
    {_bpe_prefix()},
    dtok AS (
      SELECT doc_id, SUM(n_bpe) AS n_tokens FROM (
        SELECT d.doc_id, u.x AS word
        FROM documents d, unnest(string_split(d.text, ' ')) AS u(x)
        WHERE length(u.x) > 0
      ) i JOIN wordtok t USING (word) GROUP BY 1
    ),
    base AS (SELECT d.doc_id, d.doc_id % {_PACK_SHARDS} AS shard,
                    COALESCE(dt.n_tokens, 0) AS n_tokens
             FROM documents d LEFT JOIN dtok dt USING (doc_id)),
    packed AS (SELECT *,
        CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
            PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {_PACK_BUDGET}.0) AS BIGINT) AS seq_id
        FROM base)
    SELECT shard, seq_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           ROUND(SUM(n_tokens) / {_PACK_BUDGET}.0, 4) AS fill_ratio
    FROM packed GROUP BY 1, 2
    """


@query("corpus_pack_sequences", oracle=_pack_oracle())
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget sequence packing: per shard, docs in doc_id
    order belong to the sequence their exclusive token prefix-sum
    lands in. The window partitions by shard, so no global sort.

    r9: the budget is denominated in BPE tokens (greedy longest-match
    over the bpe_vocab merges fixture, extensions/bpe.py) — the unit
    the trainer's context window is measured in — instead of
    whitespace words. Token counts come from a broadcast join of word
    instances against the vocabulary-scale (word, n_bpe) table, so
    the packing plan gains no new shuffle."""
    docs = table(spark, sf_dir, "documents")
    dtok = B.doc_tokens(docs, _word_tokens(spark, sf_dir))
    return L.pack_sequences(
        docs,
        budget=_PACK_BUDGET,
        n_shards=_PACK_SHARDS,
        token_counts=dtok,
    )


@query(
    "text_heavy_hitters",
    oracle="""
    WITH c AS (SELECT u.x AS token, count(*) AS n_occurrences
               FROM documents, unnest(string_split(text, ' ')) AS u(x)
               GROUP BY 1),
    r AS (SELECT token, n_occurrences,
          ROUND(n_occurrences / CAST(SUM(n_occurrences) OVER () AS DOUBLE), 6)
              AS corpus_share,
          ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS rank
          FROM c)
    SELECT token, n_occurrences, corpus_share, rank FROM r WHERE rank <= 20
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global top-20 tokens with corpus share. One shuffle keyed
    by token (map-side partial counts); the rank window covers the
    vocab-sized aggregate only."""
    return L.heavy_hitters(table(spark, sf_dir, "documents"), k=20)


def _temp_weights_oracle() -> str:
    return f"""
    {_bpe_prefix()},
    inst AS (SELECT d.lang, u.x AS word
             FROM documents d, unnest(string_split(d.text, ' ')) AS u(x)
             WHERE length(u.x) > 0),
    c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
    tk AS (SELECT i.lang, SUM(t.n_bpe) AS n_tokens
           FROM inst i JOIN wordtok t USING (word) GROUP BY 1),
    t AS (SELECT c.lang, c.n_docs, tk.n_tokens,
          tk.n_tokens / CAST(SUM(tk.n_tokens) OVER () AS DOUBLE) AS p
          FROM c JOIN tk USING (lang)),
    s AS (SELECT lang, n_docs, n_tokens, p, POW(p, {_TEMP_ALPHA}) AS pa,
          SUM(POW(p, {_TEMP_ALPHA})) OVER () AS spa FROM t)
    SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(p, 6) AS p_raw,
           ROUND(pa / spa, 6) AS p_temp,
           ROUND((pa / spa) / p, 4) AS sample_factor
    FROM s
    """


@query("corpus_temperature_weights", oracle=_temp_weights_oracle())
def corpus_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mixture (p^alpha renorm,
    Conneau & Lample 2019 §3.1) with the implied up/down-sampling
    factor per language. One K-row groupBy.

    r9: TOKEN-denominated — p is each language's share of the BPE
    token budget (extensions/bpe.py), the mass a pretraining sampler
    actually draws against, and the n_tokens column rides along.
    (corpus_resample_execute keeps the legacy doc-count denomination:
    its replication counts are per-document, so its factor must stay
    a doc-count ratio.)"""
    docs = table(spark, sf_dir, "documents")
    tk = B.group_tokens(docs, _word_tokens(spark, sf_dir), "lang").select(
        "lang", F.col("n_bpe_tokens").alias("n_tokens")
    )
    return L.temperature_weights(
        docs, key="lang", alpha=_TEMP_ALPHA, token_counts=tk
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tokens AS (SELECT doc_id, u.x AS token
                    FROM documents, unnest(string_split(text, ' ')) AS u(x)),
    vocab AS (SELECT token, count(*) AS n FROM tokens GROUP BY 1),
    scored AS (SELECT token,
               -ln(n / (SELECT CAST(SUM(n) AS DOUBLE) FROM vocab)) AS neg_logp
               FROM vocab)
    SELECT doc_id, COUNT(*) AS n_words,
           ROUND(AVG(neg_logp), 6) AS mean_neg_logp
    FROM tokens JOIN scored USING (token)
    GROUP BY 1
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality proxy: mean -ln p(word) under
    the corpus unigram model per doc. One vocab-keyed shuffle (map-
    side combined) then a broadcast-join score pass; the vocab stays
    broadcastable at 100 TB (Zipf)."""
    return L.unigram_logprob_scores(table(spark, sf_dir, "documents"))


_CHUNK_W = 32
_CHUNK_S = 16


@query(
    "corpus_chunk_windows",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    n AS (SELECT doc_id, ws, len(ws) AS n,
          greatest(CAST(ceil((len(ws) - {_CHUNK_W}) / {_CHUNK_S}.0) AS INT) + 1, 1)
              AS n_chunks
          FROM w)
    SELECT doc_id,
           unnest(list_transform(range(0, n_chunks), i -> {{
               'chunk_id': i,
               'chunk_text': array_to_string(
                   ws[i * {_CHUNK_S} + 1 : i * {_CHUNK_S} + {_CHUNK_W}], ' '),
               'n_tokens': least(n - i * {_CHUNK_S}, {_CHUNK_W})
           }}), recursive := true)
    FROM n
    """,
)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding preprocessing: fixed-width overlapping word
    windows (width 32, stride 16) per doc, final partial window kept
    iff it adds tail words. Pure per-row HOFs + one explode — zero
    shuffles."""
    return L.chunk_windows(
        table(spark, sf_dir, "documents"), width=_CHUNK_W, stride=_CHUNK_S
    )


@query(
    "corpus_resample_execute",
    oracle=f"""
    WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
    t AS (SELECT lang, n_docs,
          n_docs / CAST(SUM(n_docs) OVER () AS DOUBLE) AS p FROM c),
    s AS (SELECT lang, n_docs, p, POW(p, {_TEMP_ALPHA}) AS pa,
          SUM(POW(p, {_TEMP_ALPHA})) OVER () AS spa FROM t),
    -- 4 dp matches sample_factor's rounding in temperature_weights
    -- (the Spark side consumes that column); that rounding is the
    -- cross-engine guard for the floor/frac split
    f AS (SELECT lang, ROUND((pa / spa) / p, 4) AS factor FROM s),
    per_doc AS (
      SELECT d.lang, f.factor,
             CAST(FLOOR(f.factor) AS BIGINT) +
             CASE WHEN (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                        || '|resample'), 1, 12))::BIGINT % 1000000)
                       / 1000000.0 < f.factor - FLOOR(f.factor)
                  THEN 1 ELSE 0 END AS n_copies
      FROM documents d JOIN f ON d.lang IS NOT DISTINCT FROM f.lang
    )
    SELECT lang, COUNT(*) AS n_docs_in,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs_out,
           ROUND(MIN(factor), 4) AS target_factor,
           ROUND(SUM(n_copies) / CAST(COUNT(*) AS DOUBLE), 4) AS achieved_factor
    FROM per_doc GROUP BY 1
    """,
)
def corpus_resample_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temperature mixture EXECUTED: per-doc replication counts
    (floor + deterministic-hash fractional draw) aggregated into
    docs-in/docs-out accounting per language, converging on the
    target factor while staying reproducible everywhere. The K-row
    factor table broadcasts; no corpus-sized shuffle."""
    return L.resample_execute(
        table(spark, sf_dir, "documents"), key="lang", alpha=_TEMP_ALPHA
    )


@query(
    "corpus_split_assignment",
    oracle="""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                       % 100 < 90 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                       % 100 < 95 THEN 'validation'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs
    FROM assigned GROUP BY 1, 2
    """,
)
def corpus_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/validation/test assignment
    (90/5/5 on the engine-wide md5-prefix hash family, here 48 bits
    mod 100; the stratified sampler uses the same family at 32 bits
    mod 10000 — same idea, different parameters), summarized per
    (split, lang). Reproducible across engines, cluster sizes, and
    runs; a doc's split never changes when the corpus grows — the
    property random.split() cannot give."""
    from env_data_pipeline_spark.extensions.text import md5_prefix_hash

    docs = table(spark, sf_dir, "documents")
    bucket = md5_prefix_hash(F.col("doc_id").cast("string")) % 100
    assigned = docs.select(
        "lang",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "validation")
        .otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("split", "lang").agg(F.count("*").alias("n_docs"))


def _curation_oracle() -> str:
    # reuse the literal gate SQL already proven equal to the Spark
    # expressions by text_quality_profile / text_repetition_profile /
    # decontaminate_eval_overlap — the verdict must compose the SAME
    # metrics, so import rather than restate them
    from env_data_pipeline_spark.plans.extensions import _STOP, _duck_lang_case
    from env_data_pipeline_spark.plans.qualityclf import (
        _QC_ROUNDS,
        _qc_train_ctes,
    )

    # the trained-classifier gate replays the full weight training
    # inline (the oracle has no artifact store); the engine serves
    # the identical deterministic weights from the persisted artifact
    qc_ctes = ", ".join(_qc_train_ctes())

    return f"""
    WITH {qc_ctes},
    alldocs AS (
      SELECT doc_id, lang, source, text, string_split(text, ' ') AS w
      FROM documents
    ),
    sh AS (SELECT doc_id, source, ('0x' || substr(md5(g), 1, 12))::BIGINT AS ghash
           FROM (SELECT doc_id, source,
                 unnest(list_transform(range(1, len(w) - 2), i ->
                     list_aggr(w[i:i+3], 'string_agg', ' '))) AS g
                 FROM alldocs WHERE len(w) >= 4)),
    ev AS (SELECT DISTINCT ghash FROM sh WHERE source = '{_EVAL_SOURCE}'),
    cont AS (SELECT DISTINCT doc_id FROM sh
             WHERE source <> '{_EVAL_SOURCE}'
               AND ghash IN (SELECT ghash FROM ev)),
    sc AS (
      SELECT f.doc_id, SUM(ww.wu) AS zu
      FROM qfeats f JOIN qw{_QC_ROUNDS} ww ON ww.fid = f.fid
      GROUP BY 1
    ),
    m AS (SELECT doc_id, lang, text, w,
          len(w) AS n,
          len(list_distinct(w)) AS nd,
          len(list_filter(w, x -> x IN ({_STOP}))) AS n_stop,
          length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
          list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
          FROM alldocs WHERE source <> '{_EVAL_SOURCE}'),
    tw AS (SELECT doc_id, max(c) AS topc FROM (
           SELECT doc_id, u.x AS word, count(*) AS c
           FROM m, unnest(m.w) AS u(x) GROUP BY 1, 2) GROUP BY 1),
    j AS (SELECT m.doc_id, m.lang, topc,
          CASE WHEN len(bg) = 0 THEN 0.0
               ELSE 1 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE)
          END AS dupbg,
          topc / CAST(n AS DOUBLE) AS topw,
          CASE WHEN n < 10 THEN 'TOO_SHORT'
               WHEN n_punct / CAST(greatest(length(text), 1) AS DOUBLE) > 0.2
                   THEN 'TOO_NOISY'
               WHEN n_stop / CAST(greatest(n, 1) AS DOUBLE) < 0.01
                   THEN 'LOW_NATURALNESS'
               ELSE 'OK' END AS quality,
          {_duck_lang_case()} AS predicted_lang
          FROM m JOIN tw USING (doc_id)),
    v AS (SELECT j.doc_id, lang,
          CASE WHEN j.doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
               WHEN quality <> 'OK' THEN 'low_quality'
               WHEN COALESCE(sc.zu < 0, FALSE) THEN 'ml_low_quality'
               WHEN dupbg > 0.05 OR topw > 0.15 THEN 'high_repetition'
               WHEN predicted_lang <> lang THEN 'lang_mismatch'
               ELSE NULL END AS drop_reason
          FROM j LEFT JOIN sc ON sc.doc_id = j.doc_id)
    SELECT doc_id, lang,
           CASE WHEN drop_reason IS NULL THEN 'KEEP' ELSE 'DROP' END AS verdict,
           drop_reason
    FROM v
    """


@query("corpus_curation_verdict", oracle=_curation_oracle())
def corpus_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition endpoint: every curation gate — contamination,
    rule quality, TRAINED-classifier quality (r11: the persisted
    logistic weights of plans/qualityclf.py, the CCNet-style ensemble
    stage), repetition, language-ID agreement — folded into one
    KEEP/DROP verdict with the first failing reason per training doc.
    Narrow except for the contamination report and the classifier
    margin's doc-grain sum; the weights ride a 65-row broadcast from
    the artifact cache."""
    from env_data_pipeline_spark.plans.qualityclf import (
        doc_features,
        quality_weights_artifact,
        score_docs,
    )

    docs = table(spark, sf_dir, "documents")
    scores = score_docs(
        doc_features(docs), quality_weights_artifact(spark, sf_dir)
    )
    return L.curation_verdict(
        docs, eval_source=_EVAL_SOURCE, ngram=4, clf_scores=scores
    )


def _pii_contact_spark() -> F.Column:
    did = F.col("doc_id")
    email = F.concat(
        F.lit("user"), did.cast("string"), F.lit("@"), F.col("source"), F.lit(".net")
    )
    phone = F.concat(
        F.lit("555-"),
        F.lpad(((did * 7) % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((did * 13) % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit("10.0."),
        ((did * 3) % 256).cast("string"),
        F.lit("."),
        ((did * 11) % 256).cast("string"),
    )
    return (
        F.when(did % 3 == 0, F.concat(F.lit(" contact "), email))
        .when(did % 3 == 1, F.concat(F.lit(" call "), phone, F.lit(" from "), ip))
        .otherwise(F.lit(""))
    )


_DUCK_PII_CONTACT = """
    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
              || '@' || source || '.net'
         WHEN doc_id % 3 = 1 THEN ' call 555-'
              || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
              || ' from 10.0.' || CAST((doc_id * 3) % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 11) % 256 AS VARCHAR)
         ELSE '' END
"""


def _pii_oracle() -> str:
    email_pat, _ = L.PII_PATTERNS["email"]
    phone_pat, _ = L.PII_PATTERNS["phone"]
    ip_pat, _ = L.PII_PATTERNS["ipv4"]
    email_rep = L.PII_PATTERNS["email"][1]
    phone_rep = L.PII_PATTERNS["phone"][1]
    ip_rep = L.PII_PATTERNS["ipv4"][1]
    # counts mirror pii_counts: each class counted AFTER the earlier
    # classes were scrubbed, so counts reconcile with the tokens
    return f"""
    WITH augmented AS (SELECT doc_id, text || ({_DUCK_PII_CONTACT}) AS t FROM documents),
    s1 AS (SELECT doc_id, t,
           regexp_replace(t, '{email_pat}', '{email_rep}', 'g') AS t1
           FROM augmented),
    s2 AS (SELECT doc_id, t, t1,
           regexp_replace(t1, '{phone_pat}', '{phone_rep}', 'g') AS t2
           FROM s1)
    SELECT doc_id,
           len(regexp_extract_all(t, '{email_pat}')) AS n_emails,
           len(regexp_extract_all(t1, '{phone_pat}')) AS n_phones,
           len(regexp_extract_all(t2, '{ip_pat}')) AS n_ips,
           md5(regexp_replace(t2, '{ip_pat}', '{ip_rep}', 'g')) AS redacted_md5
    FROM s2
    """


@query("text_pii_redaction", oracle=_pii_oracle())
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a deterministically PII-augmented corpus:
    per-doc match counts per pattern class plus the md5 of the
    redacted text — byte-level parity of Java-regex vs RE2 behavior on
    the literal same RE2-safe patterns. Zero shuffles."""
    docs = table(spark, sf_dir, "documents")
    full = docs.select(
        "doc_id", F.concat(F.col("text"), _pii_contact_spark()).alias("t")
    )
    counts = L.pii_counts(F.col("t"))
    return full.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ips"),
        F.md5(L.redact_pii(F.col("t"))).alias("redacted_md5"),
    )


# quality-weighted sampling: per-bucket acceptance rates (basis points
# of the 48-bit hash mod 10000). JUNK is dropped outright; the rates
# encode "keep all clean text, thin the marginal buckets".
_QW_BP = {"OK": 5000, "LOW_NATURALNESS": 1500, "TOO_NOISY": 500, "TOO_SHORT": 0}


def _qw_oracle() -> str:
    from env_data_pipeline_spark.plans.extensions import _STOP

    bp_case = " ".join(
        f"WHEN '{q}' THEN {bp}" for q, bp in sorted(_QW_BP.items())
    )
    return f"""
    WITH m AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, source,
             CASE WHEN len(w) < 10 THEN 'TOO_SHORT'
                  WHEN length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                       / CAST(greatest(length(text), 1) AS DOUBLE) > 0.2
                      THEN 'TOO_NOISY'
                  WHEN len(list_filter(w, x -> x IN ({_STOP})))
                       / CAST(greatest(len(w), 1) AS DOUBLE) < 0.01
                      THEN 'LOW_NATURALNESS'
                  ELSE 'OK' END AS quality
      FROM m
    ),
    t AS (
      SELECT source, quality,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               % 10000) < (CASE quality {bp_case} END) AS keep
      FROM g
    )
    SELECT source, quality,
           CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS realized_rate
    FROM t GROUP BY source, quality
    """


@query("corpus_quality_weighted_sample", oracle=_qw_oracle())
def corpus_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic downsampling: each doc's
    acceptance probability is set by its quality bucket (clean text
    kept at 50%, marginal buckets thinned, junk dropped) and decided
    by the engine-wide md5-hash Bernoulli — reproducible across
    engines/cluster sizes, unlike rand()-based sampling, and the
    standard shape for quality-pruned pretraining mixes. The keep
    decision evaluates in the scan projection (zero shuffles before
    the summary aggregate); the doc row itself never moves."""
    from env_data_pipeline_spark.extensions import text as TX
    from env_data_pipeline_spark.extensions.text import md5_prefix_hash

    docs = table(spark, sf_dir, "documents")
    w = TX.words(F.col("text"))
    m = docs.select("doc_id", "source", "text", w.alias("w"))
    quality = TX.quality_bucket(
        F.size(F.col("w")),
        TX.stopword_ratio_w(F.col("w")),
        TX.punct_ratio(F.col("text")),
    )
    bp = F.lit(None)
    for q, v in sorted(_QW_BP.items()):
        bp = F.when(F.col("quality") == q, v).otherwise(bp)
    tagged = m.select(
        "source", quality.alias("quality"), F.col("doc_id")
    ).withColumn(
        "keep",
        (md5_prefix_hash(F.col("doc_id").cast("string")) % 10000) < bp,
    )
    kept = F.sum(F.when(F.col("keep"), 1).otherwise(0))
    return tagged.groupBy("source", "quality").agg(
        F.count("*").alias("n_in"),
        kept.alias("n_kept"),
        F.round(kept / F.count("*"), 4).alias("realized_rate"),
    )


@query(
    "decontaminate_execute",
    oracle=f"""
    WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, source,
           ('0x' || substr(md5(g), 1, 12))::BIGINT AS ghash
           FROM (SELECT doc_id, source,
                 unnest(list_transform(range(1, len(ws) - 2), i ->
                     list_aggr(ws[i:i+3], 'string_agg', ' '))) AS g
                 FROM w WHERE len(ws) >= 4)),
    ev AS (SELECT DISTINCT ghash FROM sh WHERE source = '{_EVAL_SOURCE}'),
    flagged AS (
      SELECT DISTINCT t.doc_id
      FROM (SELECT doc_id, ghash FROM sh WHERE source <> '{_EVAL_SOURCE}') t
      JOIN ev USING (ghash)
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           COUNT(f.doc_id) AS n_dropped,
           COUNT(*) - COUNT(f.doc_id) AS n_kept,
           ROUND(COUNT(f.doc_id) * 1.0 / COUNT(*), 4) AS drop_frac
    FROM documents d
    LEFT JOIN flagged f ON f.doc_id = d.doc_id
    WHERE d.source <> '{_EVAL_SOURCE}'
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def decontaminate_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination EXECUTION (detect -> act, the same symmetry
    corpus_resample_execute provides for temperature mixing): apply
    the 4-gram eval-overlap verdict and report, per training source,
    how much of the corpus survives the drop.

    Scale: the detection reuses contamination_report (hashes travel,
    eval side broadcasts); the verdict joins back to the corpus as a
    LEFT join on doc_id whose non-match IS the keep decision — one
    extra hash join over detection, output is |sources| rows.
    """
    from env_data_pipeline_spark.extensions import llmops as L

    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != _EVAL_SOURCE)
    eval_docs = docs.filter(F.col("source") == _EVAL_SOURCE)
    flagged = L.contamination_report(train, eval_docs, n=4).select("doc_id")
    return (
        train.join(
            flagged.withColumn("is_flagged", F.lit(1)), "doc_id", "left"
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("is_flagged").alias("n_dropped"),
            (F.count("*") - F.count("is_flagged")).alias("n_kept"),
            F.round(F.count("is_flagged") * 1.0 / F.count("*"), 4).alias(
                "drop_frac"
            ),
        )
        .orderBy("source")
    )


_N_SHARDS = 64


@query(
    "corpus_shard_balance",
    oracle=f"""
    WITH s AS (
        SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                   % {_N_SHARDS} AS shard_id,
               n_chars
        FROM documents
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           (SUM(n_chars) * 1000000
              // SUM(SUM(n_chars)) OVER ()) / 1000000.0 AS chars_share,
           (SUM(n_chars) * {_N_SHARDS} * 1000
              // SUM(SUM(n_chars)) OVER ()) / 1000.0 AS balance_ratio
    FROM s GROUP BY 1
    ORDER BY 1
    """,
)
def corpus_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path shard audit: assign every document to one of 64
    output shards by the engine-wide md5-prefix hash of its doc_id
    (deterministic, engine-independent — the same document lands in
    the same shard on any writer), then report per-shard doc count,
    byte mass, share, and balance_ratio = shard mass / ideal mass
    (1.000 = perfectly balanced). The audit a pipeline runs BEFORE
    committing a 100 TB shard layout: a ratio far from 1 on a hot
    shard means stragglers at training time.

    Exactness: shares and ratios are integer divisions of exact
    BIGINT sums — never a float ratio.

    Scale: one narrow projection scan (doc_id, n_chars only —
    ReadSchema-prunable), one 64-key aggregate with map-side combine;
    the window totals run over 64 rows. The md5 route means shard
    keys are uniform regardless of doc_id distribution — no salting
    needed on the write path itself.
    """
    from env_data_pipeline_spark.extensions import text as TX

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    s = docs.select(
        (TX.md5_prefix_hash(F.col("doc_id").cast("string")) % _N_SHARDS).alias(
            "shard_id"
        ),
        "n_chars",
    )
    g = s.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    return (
        g.withColumn(
            "chars_share",
            F.expr("n_chars * 1000000 div sum(n_chars) over ()")
            / F.lit(1000000.0),
        )
        .withColumn(
            "balance_ratio",
            F.expr(f"n_chars * {_N_SHARDS} * 1000 div sum(n_chars) over ()")
            / F.lit(1000.0),
        )
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------------
# corpus_shuffle_shards: seeded global-shuffle order + shard manifest
# (r11, VERDICT r10 item 5 — the writer half is
# sources/sinks.py::write_shuffled_shards)
# --------------------------------------------------------------------------

_SHUFFLE_SEED = 20260816  # the training run's fixed data-order seed
# order-checksum moduli: each term (rk % 1e6+3) * (h % 1e6+3) < 1e12,
# so a shard's checksum stays inside BIGINT up to ~9e6 docs per shard
# at 64 shards (~6e8 docs total); past that bump _N_SHARDS with the
# corpus (the same documented-bound convention as the Pareto grid)
_CK_P = 1_000_003
_CK_Q = 1_000_000_007


@query(
    "corpus_shuffle_shards",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             ('0x' || substr(md5('{_SHUFFLE_SEED}:' ||
                 CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h
      FROM documents
    ),
    r AS (
      SELECT doc_id, h, CAST(h % {_N_SHARDS} AS INT) AS shard_id,
             ROW_NUMBER() OVER (PARTITION BY h % {_N_SHARDS}
                                ORDER BY h, doc_id) AS rk
      FROM s
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
               AS first_doc_id,
           CAST(SUM(((rk % {_CK_P}) * (h % {_CK_P})) % {_CK_Q}) AS BIGINT)
               AS order_checksum
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seeded global-shuffle MANIFEST: every document's training
    order is the engine-wide 48-bit md5-prefix hash of "seed:doc_id"
    (deterministic on any engine — the cross-engine-stable order
    contract), its shard is hash % 64, and each shard reports its doc
    count, the first document in seeded order, and a position-
    weighted order checksum — SUM((rank % p) * (hash % p) % q) — that
    changes if ANY document moves position, so two writers can prove
    they produced the identical permutation without comparing 100 TB
    of rows. sources/sinks.py::write_shuffled_shards materializes the
    same assignment as a one-exchange sharded dataset. The manifest's
    n_docs column IS this layout's balance audit (the seeded hash
    participates, so corpus_shard_balance — which buckets by the
    UNSEEDED md5(doc_id) — audits a different assignment; both are
    uniform md5 shardings, but per-shard membership differs).

    Scale: one narrow (doc_id)-projection scan, ONE exchange on
    shard_id (the per-shard rank window and the manifest aggregate
    both run on that same partitioning — AQE elides a second
    exchange), 64 output rows."""
    from env_data_pipeline_spark.extensions import text as TX

    docs = table(spark, sf_dir, "documents").select("doc_id")
    s = docs.select(
        "doc_id",
        TX.md5_prefix_hash(
            F.concat(
                F.lit(f"{_SHUFFLE_SEED}:"), F.col("doc_id").cast("string")
            )
        ).alias("h"),
    ).withColumn("shard_id", (F.col("h") % _N_SHARDS).cast("int"))
    from pyspark.sql import Window

    w = Window.partitionBy("shard_id").orderBy("h", "doc_id")
    r = s.withColumn("rk", F.row_number().over(w))
    return (
        r.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("first_doc_id"),
            F.sum(
                ((F.col("rk") % _CK_P) * (F.col("h") % _CK_P)) % _CK_Q
            )
            .cast("bigint")
            .alias("order_checksum"),
        )
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------------
# corpus_token_budget: token-denominated corpus accounting (r9)
# --------------------------------------------------------------------------


def _token_budget_oracle() -> str:
    return f"""
    {_bpe_prefix()},
    inst AS (SELECT d.source, d.lang, u.x AS word
             FROM documents d, unnest(string_split(d.text, ' ')) AS u(x)
             WHERE length(u.x) > 0),
    wtok AS (SELECT i.source, i.lang,
                    COUNT(*) AS n_words,
                    SUM(t.n_bpe) AS n_bpe_tokens
             FROM inst i JOIN wordtok t USING (word) GROUP BY 1, 2),
    dg AS (SELECT source, lang, COUNT(*) AS n_docs
           FROM documents GROUP BY 1, 2)
    SELECT g.source, g.lang,
           CAST(g.n_docs AS BIGINT) AS n_docs,
           CAST(w.n_words AS BIGINT) AS n_words,
           CAST(w.n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
           CAST(100 * w.n_bpe_tokens // w.n_words AS BIGINT)
             AS bpe_per_100_words,
           CAST(1000 * w.n_bpe_tokens
                  // SUM(w.n_bpe_tokens) OVER () AS BIGINT)
             AS budget_share_permille
    FROM dg g JOIN wtok w ON w.source = g.source AND w.lang = g.lang
    """


@query("corpus_token_budget", oracle=_token_budget_oracle())
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus accounting a TRAINING run budgets against: per
    (source, lang), docs, whitespace words, BPE tokens (greedy
    longest-match over the bpe_vocab merges fixture, extensions/
    bpe.py), the fertility ratio (BPE tokens per 100 words — how much
    a tokenizer inflates this slice), and each slice's exact integer
    permille of the global token budget.

    Scale: tokenization runs once over the DISTINCT-word vocabulary
    (never the corpus); word instances broadcast-join the tiny
    (word, n_bpe) table, so the whole query is one corpus scan + one
    (source, lang) hash agg — the same plan shape as a word count."""
    docs = table(spark, sf_dir, "documents")
    w = B.group_tokens(
        docs, _word_tokens(spark, sf_dir), "source", "lang"
    )
    dg = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    from pyspark.sql import Window

    everything = Window.partitionBy()
    return dg.join(F.broadcast(w), ["source", "lang"]).select(
        "source",
        "lang",
        F.col("n_docs").cast("bigint"),
        F.col("n_words").cast("bigint"),
        F.col("n_bpe_tokens").cast("bigint"),
        F.floor(F.lit(100) * F.col("n_bpe_tokens") / F.col("n_words"))
        .cast("bigint")
        .alias("bpe_per_100_words"),
        F.floor(
            F.lit(1000)
            * F.col("n_bpe_tokens")
            / F.sum("n_bpe_tokens").over(everything)
        )
        .cast("bigint")
        .alias("budget_share_permille"),
    )


@query("streaming_token_budget_refresh", oracle=_token_budget_oracle())
def streaming_token_budget_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CONTINUOUS form of corpus_token_budget: documents replay
    as 4 real micro-batches (maxFilesPerTrigger=1); each batch's word
    instances broadcast-join the FROZEN (word, n_bpe) vocabulary
    table and fold additive (source, lang) counters — docs, words,
    BPE tokens — into the parquet state replay_fold
    (streaming/replay.py) persists; ratios and the
    permille budget shares are derived from the final state only.
    The oracle is the batch query's full recompute — green only if
    the counter fold composes across every batch boundary (the same
    proof shape as the CMS/HLL/backlog refreshers, here for the
    token-accounting ledger a crawl pipeline keeps live).

    Scale: per batch one narrow explode + broadcast join over the
    batch's rows only; the state is (source x lang)-sized. The
    vocabulary is trained once (the ingest-gate asymmetry: arrivals
    are coded against standing state, the corpus never recomputes)."""
    from pyspark.sql import Window

    from env_data_pipeline_spark.streaming.replay import replay_fold

    n_shards = 4
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    # lineage cut (b): every batch reads the trained vocabulary
    wt = _word_tokens(spark, sf_dir).localCheckpoint()
    empty = spark.createDataFrame(
        [],
        "source string, lang string, n_docs bigint, "
        "n_words bigint, n_bpe_tokens bigint",
    )

    def step(batch_df: DataFrame, _batch_id: int, prev: DataFrame):
        wcnt = B.group_tokens(batch_df, wt, "source", "lang").select(
            "source",
            "lang",
            F.col("n_words").alias("b_words"),
            F.col("n_bpe_tokens").alias("b_bpe"),
        )
        dcnt = batch_df.groupBy("source", "lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("b_docs")
        )
        batch = dcnt.join(wcnt, ["source", "lang"], "left")
        merged = (
            prev.join(
                F.broadcast(batch), ["source", "lang"], "full_outer"
            )
            .select(
                "source",
                "lang",
                (
                    F.coalesce("n_docs", F.lit(0))
                    + F.coalesce("b_docs", F.lit(0))
                ).cast("bigint").alias("n_docs"),
                (
                    F.coalesce("n_words", F.lit(0))
                    + F.coalesce("b_words", F.lit(0))
                ).cast("bigint").alias("n_words"),
                (
                    F.coalesce("n_bpe_tokens", F.lit(0))
                    + F.coalesce("b_bpe", F.lit(0))
                ).cast("bigint").alias("n_bpe_tokens"),
            )
        )
        return merged, None

    def finish(state: DataFrame, _emitted) -> DataFrame:
        # drop groups whose docs carry no non-empty word: the shared
        # oracle's inner dg JOIN wtok omits them, and a NULL fertility
        # ratio is not a row worth reporting (review finding — keeps
        # the batch and streaming forms agreeing on the same edge)
        state = state.filter(F.col("n_words") > 0)
        everything = Window.partitionBy()
        return state.select(
            "source",
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            F.floor(
                F.lit(100) * F.col("n_bpe_tokens") / F.col("n_words")
            )
            .cast("bigint")
            .alias("bpe_per_100_words"),
            F.floor(
                F.lit(1000)
                * F.col("n_bpe_tokens")
                / F.sum("n_bpe_tokens").over(everything)
            )
            .cast("bigint")
            .alias("budget_share_permille"),
        )

    return replay_fold(
        spark, docs, n_shards, "doc_id", step, finish, "stream_tokbudget_",
        seed=empty,
    )


# ---------------------------------------------------------------------------
# corpus_importance_resample — DSIR-style data selection
# ---------------------------------------------------------------------------

_DSIR_B = 128  # hashed n-gram buckets
_DSIR_STRATA = 64  # selection strata (the task-width knob at scale)
# keep 1/4 of the raw corpus
_DSIR_KEEP_NUM = 1
_DSIR_KEEP_DEN = 4


# the ONE 1e-6 grid constant: oracle f-strings read the engine's own
# value, so a grid rescale cannot desynchronize the two sides
# (review finding, r12)
_DSIR_GRID_SQL = L._DSIR_GRID


def _dsir_sel_ctes() -> str:
    """Shared oracle WITH-body for the DSIR family: gram explode ->
    hashed buckets -> integer-grid log ratios -> scored/keyed docs ->
    stratified Gumbel selection (final CTE ``sel``). ``hb`` is
    MATERIALIZED — it feeds both bucket counts AND the scoring join."""
    g = _DSIR_GRID_SQL
    return f"""
    WITH ws0 AS (
      SELECT doc_id, lang, source,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, source,
             unnest(list_concat(
               list_transform(ws, x -> 'u|' || x),
               list_transform(range(1, len(ws)),
                              i -> 'b|' || ws[i] || ' ' || ws[i + 1])
             )) AS gram
      FROM ws0
    ),
    hb AS MATERIALIZED (
      SELECT doc_id, lang, source,
             ('0x' || substr(md5(gram), 1, 12))::BIGINT % {_DSIR_B} AS b
      FROM grams
    ),
    tc AS (SELECT b, count(*) AS ct FROM hb
           WHERE source = '{_EVAL_SOURCE}' GROUP BY 1),
    rc AS (SELECT b, count(*) AS cr FROM hb
           WHERE source <> '{_EVAL_SOURCE}' GROUP BY 1),
    bk AS (SELECT r.range AS b FROM range(0, {_DSIR_B}) r),
    fb AS (SELECT bk.b, COALESCE(ct, 0) AS ct, COALESCE(cr, 0) AS cr
           FROM bk LEFT JOIN tc ON bk.b = tc.b
                   LEFT JOIN rc ON bk.b = rc.b),
    ilr AS (
      SELECT b, CAST(FLOOR({g} * LN(
               ((ct + 1.0) * (SUM(cr) OVER () + {_DSIR_B}))
             / ((cr + 1.0) * (SUM(ct) OVER () + {_DSIR_B}))
             )) AS BIGINT) AS ilr
      FROM fb
    ),
    scored AS (
      SELECT hb.doc_id, hb.lang, SUM(ilr) AS score
      FROM hb JOIN ilr USING (b)
      WHERE source <> '{_EVAL_SOURCE}'
      GROUP BY 1, 2
    ),
    keyed AS (
      SELECT doc_id, lang, score,
             score + CAST(FLOOR({g} * -LN(-LN(
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|dsir'),
                 1, 12))::BIGINT % {g} + 0.5) / {g}
             ))) AS BIGINT) AS sel_key,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|strat'),
              1, 12))::BIGINT % {_DSIR_STRATA} AS salt
      FROM scored
    ),
    sel AS (
      SELECT *,
             (ROW_NUMBER() OVER (PARTITION BY salt
                                 ORDER BY sel_key DESC, doc_id)
              * {_DSIR_KEEP_DEN}
              <= COUNT(*) OVER (PARTITION BY salt) * {_DSIR_KEEP_NUM})
             AS selected
      FROM keyed
    )"""


def _dsir_oracle() -> str:
    g = _DSIR_GRID_SQL
    return f"""{_dsir_sel_ctes()},
    raws AS (
      SELECT lang, COUNT(*) AS n_raw,
             CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT)
               AS n_selected,
             SUM(score) AS sum_score
      FROM sel GROUP BY 1
    ),
    tgt AS (SELECT lang, COUNT(*) AS n_target FROM documents
            WHERE source = '{_EVAL_SOURCE}' GROUP BY 1),
    j AS (
      SELECT COALESCE(raws.lang, tgt.lang) AS lang,
             COALESCE(n_raw, 0) AS n_raw,
             COALESCE(n_selected, 0) AS n_selected,
             COALESCE(n_target, 0) AS n_target,
             sum_score
      FROM raws FULL OUTER JOIN tgt
        ON raws.lang IS NOT DISTINCT FROM tgt.lang
    )
    SELECT lang, n_raw, n_selected, n_target,
      CASE WHEN SUM(n_raw) OVER () > 0
           THEN ROUND(n_raw / CAST(SUM(n_raw) OVER () AS DOUBLE), 4)
           ELSE 0.0 END AS raw_share,
      CASE WHEN SUM(n_selected) OVER () > 0
           THEN ROUND(n_selected / CAST(SUM(n_selected) OVER () AS DOUBLE), 4)
           ELSE 0.0 END AS sel_share,
      CASE WHEN SUM(n_target) OVER () > 0
           THEN ROUND(n_target / CAST(SUM(n_target) OVER () AS DOUBLE), 4)
           ELSE 0.0 END AS target_share,
      CASE WHEN n_raw > 0
           THEN ROUND(sum_score / (n_raw * {g}.0), 4) END AS mean_logw
    FROM j
    """


@query("corpus_importance_resample", oracle=_dsir_oracle())
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023) toward the
    held-out '{src0}' target corpus — the data-selection tier between
    the trained quality classifier (intrinsic-quality gate) and
    temperature mixing (language rebalance): hashed unigram+bigram
    bag models for target and raw, per-doc importance weight
    sum log(p_t/p_r) on the 1e-6 integer grid, hash-Gumbel
    top-quarter selection stratified over 64 md5 salt strata (never a
    global single-partition sort). Output: per-language raw vs
    selected vs target mixture accounting.

    Beyond-the-reference scope (the reference stops at per-source
    completeness scoring, containers/orchestrator/orchestrator.py:
    569-618). Scale posture: two bucket-count shuffles map-side
    combined to <=128 rows, a 128-row broadcast for scoring, one
    doc-keyed aggregation, and a salt-partitioned selection window —
    strata is the task-width knob at 100 TB."""
    return L.importance_resample(
        # parallel=True: two unigram+bigram gram passes (explode +
        # md5 per gram) sit directly above this scan — the heavy-map
        # shape the catalog scan floor targets (guide §2.5)
        table(spark, sf_dir, "documents", parallel=True),
        target_source=_EVAL_SOURCE,
        buckets=_DSIR_B,
        keep_num=_DSIR_KEEP_NUM,
        keep_den=_DSIR_KEEP_DEN,
        strata=_DSIR_STRATA,
    )


def _dsir_kl_oracle() -> str:
    g = _DSIR_GRID_SQL
    b = _DSIR_B
    return f"""{_dsir_sel_ctes()},
    scnt AS (
      SELECT hb.b, COUNT(*) AS cs
      FROM hb JOIN (SELECT doc_id FROM sel WHERE selected) s USING (doc_id)
      GROUP BY 1
    ),
    fb3 AS (
      SELECT fb.b, fb.ct, fb.cr, COALESCE(scnt.cs, 0) AS cs
      FROM fb LEFT JOIN scnt ON fb.b = scnt.b
    ),
    fb4 AS (
      SELECT b, ct, cr, cs,
             SUM(ct) OVER () AS tt, SUM(cr) OVER () AS tr,
             SUM(cs) OVER () AS ts
      FROM fb3
    ),
    terms AS (
      SELECT ct, tt,
             CAST(FLOOR({g} * LN(((ct + 1.0) * (tr + {b}))
                  / ((cr + 1.0) * (tt + {b})))) AS BIGINT) AS itr,
             CAST(FLOOR({g} * LN(((ct + 1.0) * (ts + {b}))
                  / ((cs + 1.0) * (tt + {b})))) AS BIGINT) AS its
      FROM fb4
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(SUM((ct + 1) * itr) / ((MAX(tt) + {b}) * {g}.0), 6)
               AS kl_target_raw,
           ROUND(SUM((ct + 1) * its) / ((MAX(tt) + {b}) * {g}.0), 6)
               AS kl_target_selected,
           ROUND((SUM((ct + 1) * itr) - SUM((ct + 1) * its))
               / ((MAX(tt) + {b}) * {g}.0), 6) AS kl_reduction
    FROM terms
    """


@query("corpus_importance_kl_shift", oracle=_dsir_kl_oracle())
def corpus_importance_kl_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR paper's own success metric, computed on the corpus
    (Xie et al. 2023 §4 report KL reduction of the selected set
    toward the target): smoothed hashed-n-gram KL(target || raw) vs
    KL(target || selected quarter) under the same 128-bucket models
    the selection used. A working sampler makes kl_target_selected
    strictly smaller; kl_reduction is the corpus-level effect size
    the planted unit test pins directionally. Integer-grid weighted
    sums (see extensions.llmops.importance_kl_shift); single-row
    output."""
    return L.importance_kl_shift(
        table(spark, sf_dir, "documents"),
        target_source=_EVAL_SOURCE,
        buckets=_DSIR_B,
        keep_num=_DSIR_KEEP_NUM,
        keep_den=_DSIR_KEEP_DEN,
        strata=_DSIR_STRATA,
    )


def _dsir_gate_oracle() -> str:
    g = _DSIR_GRID_SQL
    return f"""{_dsir_sel_ctes()},
    thr AS (SELECT salt, MIN(sel_key) AS thr FROM sel
            WHERE selected GROUP BY 1),
    acc AS (
      SELECT k.lang, k.score,
             CASE WHEN thr.thr IS NOT NULL AND k.sel_key >= thr.thr
                  THEN 1 ELSE 0 END AS a
      FROM keyed k LEFT JOIN thr ON k.salt = thr.salt
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(a) AS BIGINT) AS n_accepted,
           CAST((1000 * SUM(a)) // COUNT(*) AS BIGINT) AS accept_permille,
           ROUND(SUM(score) / (COUNT(*) * {g}.0), 4) AS mean_logw
    FROM acc GROUP BY 1
    """


@query("streaming_dsir_gate_refresh", oracle=_dsir_gate_oracle())
def streaming_dsir_gate_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS form of the DSIR selection: the standing corpus
    trains the bucket log-ratio table and fixes per-stratum acceptance
    thresholds (the minimum selected Gumbel key — the selection
    boundary an offline DSIR run establishes); raw documents then
    replay as 4 real micro-batches, each scored against the FROZEN
    ilr table and gated by the standing threshold of its stratum
    (arrivals judged by standing state — the models and boundary
    never refit per batch; strata with no selected doc reject, the
    conservative gate). Per-language (n_docs, n_accepted, sum_score)
    counters fold additively into the parquet state replay_fold
    (streaming/replay.py) persists; the output derives from the
    final state only. The oracle is the full batch recompute — green
    only if the fold composes across every batch boundary."""
    from env_data_pipeline_spark.streaming.replay import replay_fold

    n_shards = 4
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    # lineage cut (b): the offline selection and every batch read the ratios
    ilr = L.dsir_bucket_logratios(
        L._dsir_grams(docs), _EVAL_SOURCE, _DSIR_B
    ).localCheckpoint()
    scored_full = L.dsir_scored_docs(
        docs, _EVAL_SOURCE, _DSIR_B, _DSIR_KEEP_NUM, _DSIR_KEEP_DEN,
        _DSIR_STRATA, ilr=ilr,
    )
    thr = (
        scored_full.filter(F.col("selected"))
        .groupBy("salt")
        .agg(F.min("sel_key").alias("thr"))
        # lineage cut (b): every batch reads the standing thresholds
        .localCheckpoint()
    )
    raw = docs.filter(F.col("source") != _EVAL_SOURCE)
    empty = spark.createDataFrame(
        [], "lang string, n_docs bigint, n_accepted bigint, sum_score bigint"
    )

    def step(batch_df: DataFrame, _batch_id: int, prev: DataFrame):
        keyed = L.dsir_score_against(
            batch_df, ilr, _DSIR_B, _DSIR_STRATA
        )
        batch = (
            keyed.join(F.broadcast(thr), "salt", "left")
            .select(
                "lang",
                "score",
                F.when(
                    F.col("thr").isNotNull()
                    & (F.col("sel_key") >= F.col("thr")),
                    1,
                )
                .otherwise(0)
                .alias("a"),
            )
            .groupBy("lang")
            .agg(
                F.count("*").alias("b_docs"),
                F.sum("a").alias("b_acc"),
                F.sum("score").alias("b_score"),
            )
        )
        merged = (
            prev.join(F.broadcast(batch), "lang", "full_outer")
            .select(
                "lang",
                *[
                    (F.coalesce(a, F.lit(0)) + F.coalesce(bc, F.lit(0)))
                    .cast("bigint")
                    .alias(a)
                    for a, bc in [
                        ("n_docs", "b_docs"),
                        ("n_accepted", "b_acc"),
                        ("sum_score", "b_score"),
                    ]
                ],
            )
        )
        return merged, None

    def finish(state: DataFrame, _emitted) -> DataFrame:
        return state.select(
            "lang",
            "n_docs",
            "n_accepted",
            F.expr("1000 * n_accepted div n_docs")
            .cast("bigint")
            .alias("accept_permille"),
            F.round(
                F.col("sum_score") / (F.col("n_docs") * float(_DSIR_GRID_SQL)),
                4,
            ).alias("mean_logw"),
        )

    return replay_fold(
        spark, raw, n_shards, "doc_id", step, finish, "stream_dsir_",
        seed=empty,
    )
