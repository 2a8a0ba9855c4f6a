"""Corpus-filter plans (X4/X6 depth): CCNet-style perplexity tiering
and the Gopher quality-rule drop ledger — the two classic
pretraining-corpus triage tables between raw ingest and the trained
quality classifier (plans/qualityclf.py) / DSIR resampling
(plans/llmops.py) tiers.

Beyond-the-reference scope: the reference's only quality signal is
per-source completeness scoring (containers/orchestrator/
orchestrator.py:569-618); it has no language-model tier and no
rule-ledger accounting. Both queries here are full DuckDB-oracle
replays on the exact-integer contract (1e-6 grid neg-log-probs,
cross-multiplied rule comparisons).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.extensions import llmops as L
from env_data_pipeline_spark.extensions.text import EN_STOPWORDS
from env_data_pipeline_spark.plans.registry import query

_EVAL_SOURCE = "src0"  # the held-out clean corpus (TESTDATA.md), the
# same target the DSIR and decontamination tiers key on
_PPL_B = 512  # hashed-unigram LM buckets (unigram-only: distinct
# from DSIR's 128-bucket uni+bigram family)
_PPL_STRATA = 32  # tertile-cut strata — the task-width knob
_PPL_GRID = L._PPL_GRID


def _ppl_oracle() -> str:
    g = _PPL_GRID
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, source, u.x AS token
      FROM documents d,
           unnest(list_filter(string_split(d.text, ' '),
                              x -> length(x) > 0)) AS u(x)
    ),
    hb AS MATERIALIZED (
      SELECT doc_id, lang, source,
             ('0x' || substr(md5(token), 1, 12))::BIGINT % {_PPL_B} AS b
      FROM toks
    ),
    tc AS (SELECT b, count(*) AS ct FROM hb
           WHERE source = '{_EVAL_SOURCE}' GROUP BY 1),
    bk AS (SELECT r.range AS b FROM range(0, {_PPL_B}) r),
    lm AS (
      SELECT bk.b,
             CAST(FLOOR(-{g} * LN(
               (COALESCE(ct, 0) + 1.0)
               / (SUM(COALESCE(ct, 0)) OVER () + {_PPL_B})
             )) AS BIGINT) AS inlp
      FROM bk LEFT JOIN tc ON bk.b = tc.b
    ),
    scored AS (
      SELECT hb.doc_id, hb.lang,
             CAST(SUM(inlp) // COUNT(*) AS BIGINT) AS ippl,
             ('0x' || substr(md5(CAST(hb.doc_id AS VARCHAR) || '|ppl'),
              1, 12))::BIGINT % {_PPL_STRATA} AS salt
      FROM hb JOIN lm USING (b)
      WHERE source <> '{_EVAL_SOURCE}'
      GROUP BY hb.doc_id, hb.lang
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY lang, salt
                                ORDER BY ippl, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang, salt) AS n_strat
      FROM scored
    ),
    bucketed AS (
      SELECT *,
             CASE WHEN 3 * rn <= n_strat THEN 'head'
                  WHEN 3 * rn <= 2 * n_strat THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ranked
    )
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(ippl) AS BIGINT) AS min_ippl,
           CAST(MAX(ippl) AS BIGINT) AS max_ippl,
           CAST(SUM(ippl) // COUNT(*) AS BIGINT) AS mean_ippl,
           CAST(1000 * COUNT(*)
                  // SUM(COUNT(*)) OVER (PARTITION BY lang) AS BIGINT)
             AS lang_share_permille
    FROM bucketed GROUP BY 1, 2
    """


@query("corpus_perplexity_buckets", oracle=_ppl_oracle())
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity triage (Wenzek et al. 2020): every raw
    doc scored under an add-1-smoothed hashed-unigram LM trained on
    the held-out '{src0}' corpus, then cut into head/middle/tail
    thirds per (language, md5 stratum) — the table a pretraining run
    keeps to train on head+middle and drop or down-weight tail.

    Exact-integer contract: per-bucket neg-log-probs floored onto the
    1e-6 grid, per-doc mean by BIGINT ``div`` — ranks and tertile cuts
    replay bit-for-bit in the oracle. Scale posture: one explode to a
    <=512-row LM (map-side combined, broadcast back), one doc-keyed
    aggregation, and a (lang, salt)-partitioned tertile window — the
    percentile cut never becomes a global per-language sort; strata is
    the task-width knob at 100 TB."""
    return L.perplexity_buckets(
        table(spark, sf_dir, "documents"),
        target_source=_EVAL_SOURCE,
        buckets=_PPL_B,
        strata=_PPL_STRATA,
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


def _gopher_oracle(min_words: int = 20, max_words: int = 1000) -> str:
    return f"""
    WITH ws0 AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
      FROM documents
    ),
    flags AS (
      SELECT source,
             ({min_words} <= len(ws) AND len(ws) <= {max_words})
               AS ok_word_count,
             (3 * len(ws)
                <= COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
              AND COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
                <= 10 * len(ws)) AS ok_word_length,
             (len(list_filter(ws, x -> x IN ({_STOP_SQL}))) >= 2)
               AS ok_stopwords,
             (5 * list_max(list_transform(list_distinct(ws),
                  w -> len(list_filter(ws, x -> x = w)))) <= len(ws))
               AS ok_repetition
      FROM ws0
    ),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN ok_word_count THEN 0 ELSE 1 END) AS BIGINT)
               AS fail_word_count,
             CAST(SUM(CASE WHEN ok_word_length THEN 0 ELSE 1 END) AS BIGINT)
               AS fail_word_length,
             CAST(SUM(CASE WHEN ok_stopwords THEN 0 ELSE 1 END) AS BIGINT)
               AS fail_stopwords,
             CAST(SUM(CASE WHEN ok_repetition THEN 0 ELSE 1 END) AS BIGINT)
               AS fail_repetition,
             CAST(SUM(CASE WHEN ok_word_count AND ok_word_length
                            AND ok_stopwords AND ok_repetition
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM flags GROUP BY 1
    )
    SELECT *, CAST(1000 * (n_docs - n_pass) // n_docs AS BIGINT)
             AS drop_permille
    FROM agg
    """


@query("corpus_gopher_rules", oracle=_gopher_oracle())
def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule drop ledger (Rae et al. 2021, table A1.1,
    adapted to a single-line corpus): per source, INDEPENDENT fail
    counts for the word-count bounds, mean-word-length [3, 10],
    >=2-stop-word, and top-word-repetition (<=20%) rules, plus the
    all-rules survivor count and exact drop permille — the table a
    curation run tunes its thresholds against.

    Every comparison is cross-multiplied exact-integer (never a float
    ratio); one scan, one projection materializing the word array
    once, one source-keyed aggregation. Zero UDFs, zero joins."""
    return L.gopher_rules(table(spark, sf_dir, "documents"))


@query("streaming_perplexity_tier_refresh", oracle=_ppl_oracle())
def streaming_perplexity_tier_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CONTINUOUS form of the CCNet triage: the standing corpus
    trains the frozen unigram LM and fixes per-(lang, stratum) tertile
    BOUNDARIES (the (ippl, doc_id) of the last head and last middle
    rank — the cut an offline tiering run establishes); raw documents
    then replay as 4 real micro-batches, each scored against the
    frozen LM and classified by lexicographic compare against the
    standing boundaries (strata with no head rank send nothing to
    head — the conservative gate, exactly the batch tertile rule for
    n < 3). Per-(lang, bucket) mergeable counters (n, sum, min, max)
    fold into the parquet state replay_fold (streaming/replay.py)
    persists; the output derives from the
    final state only. The oracle is the FULL batch tertile table
    (corpus_perplexity_buckets' oracle, verbatim) — green only if the
    frozen-boundary classification reproduces the rank cut across
    every batch boundary."""
    from pyspark.sql import Window

    from env_data_pipeline_spark.streaming.replay import replay_fold

    n_shards = 4
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    # lineage cut (b): the offline ranking and every batch read the frozen LM
    lm = L.ppl_unigram_lm(docs, _EVAL_SOURCE, _PPL_B).localCheckpoint()
    offline = L.ppl_scored_docs(
        docs, _EVAL_SOURCE, _PPL_B, _PPL_STRATA, lm=lm
    )
    bound = lambda rank_expr, pre: (  # noqa: E731
        offline.filter(F.col("rn") == F.expr(rank_expr)).select(
            "lang",
            "salt",
            F.col("ippl").alias(f"{pre}_i"),
            F.col("doc_id").alias(f"{pre}_d"),
        )
    )
    # null-SAFE merge of the two boundary frames: a NULL-lang stratum
    # must land on ONE thr row (a name-list join is null-unsafe and
    # would split it into two half-rows, double-classifying every
    # NULL-lang arrival downstream — review finding, r12)
    thr = (
        bound("n_strat div 3", "h")
        .alias("hb")
        .join(
            bound("(2 * n_strat) div 3", "m").alias("mb"),
            F.col("hb.lang").eqNullSafe(F.col("mb.lang"))
            & (F.col("hb.salt") == F.col("mb.salt")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("hb.lang"), F.col("mb.lang")).alias("lang"),
            F.coalesce(F.col("hb.salt"), F.col("mb.salt")).alias("salt"),
            "h_i",
            "h_d",
            "m_i",
            "m_d",
        )
        # lineage cut (b): every batch reads the standing boundaries
        .localCheckpoint()
    )
    raw = docs.filter(F.col("source") != _EVAL_SOURCE)
    empty = spark.createDataFrame(
        [],
        "lang string, bucket string, n_docs bigint, sum_ippl bigint,"
        " min_ippl bigint, max_ippl bigint",
    )

    def step(batch_df: DataFrame, _batch_id: int, prev: DataFrame):
        scored = L.ppl_score_against(batch_df, lm, _PPL_B, _PPL_STRATA)
        # null-SAFE lang equality (a NULL-lang corpus must hit its
        # own stratum boundary, mirroring the oracle's partition)
        j = scored.alias("s").join(
            F.broadcast(thr).alias("t"),
            F.col("s.lang").eqNullSafe(F.col("t.lang"))
            & (F.col("s.salt") == F.col("t.salt")),
            "left",
        )
        le = lambda i, d: (  # noqa: E731 — lexicographic (ippl, doc_id)
            (F.col("s.ippl") < F.col(i))
            | (
                (F.col("s.ippl") == F.col(i))
                & (F.col("s.doc_id") <= F.col(d))
            )
        )
        batch = (
            j.select(
                F.col("s.lang").alias("lang"),
                F.col("s.ippl").alias("ippl"),
                F.when(
                    F.col("h_i").isNotNull() & le("h_i", "h_d"), "head"
                )
                .when(
                    F.col("m_i").isNotNull() & le("m_i", "m_d"), "middle"
                )
                .otherwise("tail")
                .alias("bucket"),
            )
            .groupBy("lang", "bucket")
            .agg(
                F.count(F.lit(1)).alias("b_n"),
                F.sum("ippl").alias("b_sum"),
                F.min("ippl").alias("b_min"),
                F.max("ippl").alias("b_max"),
            )
        )
        add = lambda a, b: (  # noqa: E731
            F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
        ).cast("bigint")
        merged = (
            prev.alias("p")
            .join(
                F.broadcast(batch).alias("b"),
                F.col("p.lang").eqNullSafe(F.col("b.lang"))
                & (F.col("p.bucket") == F.col("b.bucket")),
                "full_outer",
            )
            .select(
                F.coalesce(F.col("p.lang"), F.col("b.lang")).alias("lang"),
                F.coalesce(F.col("p.bucket"), F.col("b.bucket")).alias(
                    "bucket"
                ),
                add(F.col("n_docs"), F.col("b_n")).alias("n_docs"),
                add(F.col("sum_ippl"), F.col("b_sum")).alias("sum_ippl"),
                # least/greatest skip NULLs — the mergeable min/max
                F.least(F.col("min_ippl"), F.col("b_min"))
                .cast("bigint")
                .alias("min_ippl"),
                F.greatest(F.col("max_ippl"), F.col("b_max"))
                .cast("bigint")
                .alias("max_ippl"),
            )
        )
        return merged, None

    def finish(state: DataFrame, _emitted) -> DataFrame:
        lw = Window.partitionBy("lang")
        return state.select(
            "lang",
            "bucket",
            "n_docs",
            "min_ippl",
            "max_ippl",
            F.expr("sum_ippl div n_docs").cast("bigint").alias("mean_ippl"),
            F.floor(
                F.lit(1000) * F.col("n_docs") / F.sum("n_docs").over(lw)
            )
            .cast("bigint")
            .alias("lang_share_permille"),
        )

    return replay_fold(
        spark, raw, n_shards, "doc_id", step, finish, "stream_ppl_",
        seed=empty,
    )


def _agreement_oracle() -> str:
    from env_data_pipeline_spark.plans.llmops import _dsir_sel_ctes

    g = _PPL_GRID
    return f"""{_dsir_sel_ctes()},
    p_toks AS (
      SELECT doc_id, lang, source, u.x AS token
      FROM documents d,
           unnest(list_filter(string_split(d.text, ' '),
                              x -> length(x) > 0)) AS u(x)
    ),
    p_hb AS MATERIALIZED (
      SELECT doc_id, source,
             ('0x' || substr(md5(token), 1, 12))::BIGINT % {_PPL_B} AS b
      FROM p_toks
    ),
    p_tc AS (SELECT b, count(*) AS ct FROM p_hb
             WHERE source = '{_EVAL_SOURCE}' GROUP BY 1),
    p_bk AS (SELECT r.range AS b FROM range(0, {_PPL_B}) r),
    p_lm AS (
      SELECT p_bk.b,
             CAST(FLOOR(-{g} * LN(
               (COALESCE(ct, 0) + 1.0)
               / (SUM(COALESCE(ct, 0)) OVER () + {_PPL_B})
             )) AS BIGINT) AS inlp
      FROM p_bk LEFT JOIN p_tc ON p_bk.b = p_tc.b
    ),
    p_scored AS (
      SELECT p_hb.doc_id,
             CAST(SUM(inlp) // COUNT(*) AS BIGINT) AS ippl,
             ('0x' || substr(md5(CAST(p_hb.doc_id AS VARCHAR) || '|ppl'),
              1, 12))::BIGINT % {_PPL_STRATA} AS p_salt
      FROM p_hb JOIN p_lm USING (b)
      WHERE source <> '{_EVAL_SOURCE}'
      GROUP BY p_hb.doc_id
    ),
    p_ranked AS (
      SELECT ps.doc_id, d.lang, ps.ippl, ps.p_salt,
             ROW_NUMBER() OVER (PARTITION BY d.lang, ps.p_salt
                                ORDER BY ps.ippl, ps.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d.lang, ps.p_salt) AS n_strat
      FROM p_scored ps JOIN documents d USING (doc_id)
    ),
    p_bucketed AS (
      SELECT doc_id,
             CASE WHEN 3 * rn <= n_strat THEN 'head'
                  WHEN 3 * rn <= 2 * n_strat THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM p_ranked
    ),
    j AS (
      SELECT p.bucket, s.selected
      FROM p_bucketed p JOIN sel s USING (doc_id)
    ),
    gtab AS (
      SELECT bucket, selected, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM j GROUP BY 1, 2
    )
    SELECT bucket, selected, n_docs,
           CAST(1000 * n_docs
                  // SUM(n_docs) OVER (PARTITION BY bucket) AS BIGINT)
             AS bucket_sel_permille
    FROM gtab
    """


@query("corpus_selection_agreement", oracle=_agreement_oracle())
def corpus_selection_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-selector agreement audit: the CCNet perplexity tertile
    (this module) crossed with the DSIR resampling verdict
    (plans/llmops.py) per document — head docs should be selected at
    a decisively higher rate than tail docs when both selectors track
    the same target corpus; a flat table flags a broken tier. The
    ensemble-sanity check a curation stack runs before composing its
    gates.

    Both per-doc frames derive from the SAME corpus scan lineage and
    meet on a doc-keyed equi-join; output is the <=6-row contingency
    with exact permille selected-share per bucket."""
    from env_data_pipeline_spark.plans.llmops import (
        _DSIR_B,
        _DSIR_KEEP_DEN,
        _DSIR_KEEP_NUM,
        _DSIR_STRATA,
    )
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    sel = L.dsir_scored_docs(
        docs, _EVAL_SOURCE, _DSIR_B, _DSIR_KEEP_NUM, _DSIR_KEEP_DEN,
        _DSIR_STRATA,
    ).select("doc_id", "selected")
    ppl = L.ppl_scored_docs(
        docs, _EVAL_SOURCE, _PPL_B, _PPL_STRATA
    ).select("doc_id", "bucket")
    bw = Window.partitionBy("bucket")
    return (
        ppl.join(sel, "doc_id")
        .groupBy("bucket", "selected")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            "bucket",
            "selected",
            "n_docs",
            F.floor(
                F.lit(1000) * F.col("n_docs") / F.sum("n_docs").over(bw)
            )
            .cast("bigint")
            .alias("bucket_sel_permille"),
        )
    )


# headline representative of the new triage tier: the corpus-scan +
# broadcast-LM + stratified-window class (the other three queries in
# this module ride the same kernels or the streaming harness)
from env_data_pipeline_spark.plans.registry import BENCH_EXTRA  # noqa: E402

BENCH_EXTRA.add("corpus_perplexity_buckets")
