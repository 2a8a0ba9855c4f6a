"""In-engine TRAINED quality classifier (X4/X6 — the learned half of
the curation story; the rule gates in extensions/text.py own the
label half).

Production curation (CCNet, fastText-style, the RefinedWeb/Dolma
pipelines) does not ship the rule heuristics to the full crawl — it
trains a cheap linear classifier on a labeled reference and scores
at scale. This module is that pattern in-engine: logistic-style
regression on HASHED unigram features (the fastText trick: 64
md5-bucket features + bias, binary presence), trained by a bounded
driver loop of full-batch gradient steps — the same
driver-loop-with-lineage-cut idiom as BPE / PageRank / k-core
(plans/bpetrain.py, plans/graphops.py) — with the DuckDB oracle
unrolling the identical rounds as MATERIALIZED CTEs.

Exactness (the engine-wide integer-grid discipline): weights live on
the 1e-6 grid as BIGINTs; the sigmoid is the HARD sigmoid
clip(z/4 + 1/2, 0, 1) — a documented deviation from exp-based
logistic chosen because exp() is not bit-reproducible across engines
while `div 4` is (Spark `div` and DuckDB `//` both truncate toward
zero, verified on negatives at plans/statmining.py::holt_report).
Hard-sigmoid logistic is still a proper convex surrogate (it is the
binary Huberized/"smoothed hinge" family); the AUC-floor test proves
it learns. Labels are the integer-exact mirror of
extensions/text.py::quality_bucket: y=0 iff n_words < 10 OR
5*n_punct > len(text) OR 100*n_stop < n_words (strict inequalities
on integers — identical to the double-ratio gate thresholds 0.2 and
0.01).

Overflow bounds (documented per the Pareto/Fano convention): per
round |w_u| grows <= 4e6, so after 8 rounds |z_u| <= 65 * 3.2e7 ~
2e9; the gradient sum |grad| <= n_docs * 1e6 stays inside BIGINT up
to ~9e12 training docs.

Scale (100 TB): the corpus is scanned once into the DISTINCT
(doc_id, fid) feature frame (lazily checkpointed, reused by all
rounds); each round shuffles only that frame's doc-grain z-sums and
65-row gradients, and the only broadcast is the 65-row weight table.
Rounds are a fixed constant (8). Training runs ONCE per corpus
through the snapshot store (sources/fixtures.py::snapshot, keyed on
the base tables' size+mtime + hyperparameters); scoring and the
curation verdict consume the 65-row weight parquet as a broadcast —
a deployment would train on a bounded labeled sample by passing a
sampled frame to train_quality_weights.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.extensions.text import (
    EN_STOPWORDS,
    md5_prefix_hash,
    words,
)
from env_data_pipeline_spark.plans.registry import query

_QC_D = 64  # hashed unigram buckets; bias is feature_id == _QC_D
_QC_ROUNDS = 8  # full-batch gradient steps, both engines exactly
_QC_GRID = 1_000_000  # weight grid (1e-6 units)
_QC_LR = 4  # learning rate (integer): w -= (grad * 4) div n


def _label_col(text: Column, w: Column) -> Column:
    """Integer-exact quality label: 1 = the rule gate keeps the doc.
    Strict integer cross-multiplies of quality_bucket's 0.2 / 0.01
    double thresholds (5*n_punct > len <=> punct_ratio > 0.2, etc.)."""
    n = F.size(w)
    n_punct = F.length(F.regexp_replace(text, "[a-zA-Z0-9 ]", ""))
    n_stop = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS)))
    bad = (
        (n < 10)
        | (5 * n_punct > F.greatest(F.length(text), F.lit(1)))
        | (100 * n_stop < F.greatest(n, F.lit(1)))
    )
    return F.when(bad, F.lit(0)).otherwise(F.lit(1))


def doc_features(docs: DataFrame) -> DataFrame:
    """DISTINCT (doc_id, fid) binary hashed-unigram features plus the
    per-doc bias row fid=_QC_D. The ONE place the feature hashing
    lives — training, scoring, and the curation verdict must bucket
    identically or the learned weights silently misapply."""
    base = docs.select("doc_id", words(F.col("text")).alias("w"))
    feats = (
        base.select("doc_id", F.explode("w").alias("word"))
        .filter(F.length("word") > 0)
        .select(
            "doc_id",
            (md5_prefix_hash("word") % _QC_D).cast("int").alias("fid"),
        )
        .distinct()
    )
    bias = base.select("doc_id", F.lit(_QC_D).cast("int").alias("fid"))
    return feats.unionByName(bias)


def doc_labels(docs: DataFrame) -> DataFrame:
    base = docs.select("doc_id", "text", words(F.col("text")).alias("w"))
    return base.select(
        "doc_id", _label_col(F.col("text"), F.col("w")).alias("y")
    )


def score_docs(feats: DataFrame, weights: DataFrame) -> DataFrame:
    """(doc_id, z_u): the 1e-6-grid margin of every doc under a
    (fid, wu) weight table — the weights ride a 65-row broadcast, the
    only shuffle is the doc-grain sum."""
    return (
        feats.join(F.broadcast(weights), "fid")
        .groupBy("doc_id")
        .agg(F.sum("wu").alias("z_u"))
    )


def train_quality_weights(docs: DataFrame, rounds: int = _QC_ROUNDS) -> DataFrame:
    """Learn the (fid, wu) weight table from a documents frame — THE
    kernel; the registered queries, the artifact build, and the
    pure-Python reference test share it."""
    spark = docs.sparkSession
    # lineage cut (a): every round reads the features and the labels
    feats = doc_features(docs).localCheckpoint()
    lab = doc_labels(docs).localCheckpoint()
    nn = lab.agg(F.count(F.lit(1)).alias("n"))
    w = spark.range(_QC_D + 1).select(
        F.col("id").cast("int").alias("fid"),
        F.lit(0).cast("bigint").alias("wu"),
    )
    half = _QC_GRID // 2
    for _ in range(rounds):
        z = (
            lab.join(feats, "doc_id")
            .join(F.broadcast(w), "fid")
            .groupBy("doc_id", "y")
            .agg(F.sum("wu").alias("zu"))
        )
        err = z.select(
            "doc_id",
            (
                F.least(
                    F.lit(_QC_GRID).cast("bigint"),
                    F.greatest(
                        F.lit(0).cast("bigint"),
                        F.expr("zu div 4") + half,
                    ),
                )
                - F.col("y").cast("bigint") * _QC_GRID
            ).alias("err"),
        )
        grad = (
            feats.join(err, "doc_id")
            .groupBy("fid")
            .agg(F.sum("err").alias("grad"))
        )
        w = (
            w.join(grad, "fid", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "fid",
                F.expr(
                    f"wu - (coalesce(grad, CAST(0 AS BIGINT)) * {_QC_LR}) div n"
                ).alias("wu"),
            )
            # lineage cut (a): the plan would otherwise grow with every round
            .localCheckpoint()
        )
    return w


_DUCK_STOP = ", ".join(f"'{s}'" for s in EN_STOPWORDS)


def _qc_base_ctes() -> list[str]:
    """docs / lab / feats / nn / w0 — the shared front of both
    oracles (and of the curation verdict's extension)."""
    return [
        """qdocs AS MATERIALIZED (
          SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
        )""",
        f"""qlab AS MATERIALIZED (
          SELECT doc_id,
                 CASE WHEN len(w) < 10
                        OR 5 * length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                            > greatest(length(text), 1)
                        OR 100 * len(list_filter(w, x -> x IN ({_DUCK_STOP})))
                            < greatest(len(w), 1)
                      THEN 0 ELSE 1 END AS y
          FROM qdocs
        )""",
        f"""qfeats AS MATERIALIZED (
          SELECT DISTINCT doc_id,
                 CAST(('0x' || substr(md5(u.x), 1, 12))::BIGINT % {_QC_D} AS INT)
                     AS fid
          FROM qdocs, unnest(w) AS u(x) WHERE length(u.x) > 0
          UNION
          SELECT doc_id, {_QC_D} AS fid FROM qdocs
        )""",
        f"""qw0 AS MATERIALIZED (
          SELECT CAST(r.range AS INT) AS fid, CAST(0 AS BIGINT) AS wu
          FROM range({_QC_D + 1}) r
        )""",
    ]


def _qc_train_ctes(rounds: int = _QC_ROUNDS) -> list[str]:
    """Unroll the gradient rounds as chained MATERIALIZED CTEs
    generated by the same loop shape the engine runs; the trained
    table is qw{rounds}."""
    half = _QC_GRID // 2
    ctes = _qc_base_ctes()
    for r in range(rounds):
        ctes.append(
            f"""qz{r} AS MATERIALIZED (
              SELECT l.doc_id, l.y, SUM(ww.wu) AS zu
              FROM qlab l
              JOIN qfeats f ON f.doc_id = l.doc_id
              JOIN qw{r} ww ON ww.fid = f.fid
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""qe{r} AS MATERIALIZED (
              SELECT doc_id,
                     LEAST({_QC_GRID}, GREATEST(0, zu // 4 + {half}))
                       - y * {_QC_GRID} AS err
              FROM qz{r}
            )"""
        )
        ctes.append(
            f"""qg{r} AS MATERIALIZED (
              SELECT f.fid, SUM(e.err) AS grad
              FROM qfeats f JOIN qe{r} e ON e.doc_id = f.doc_id
              GROUP BY 1
            )"""
        )
        ctes.append(
            f"""qw{r + 1} AS MATERIALIZED (
              SELECT ww.fid,
                     ww.wu - (COALESCE(g.grad, 0) * {_QC_LR})
                         // (SELECT COUNT(*) FROM qlab) AS wu
              FROM qw{r} ww LEFT JOIN qg{r} g ON g.fid = ww.fid
            )"""
        )
    return ctes


def _train_oracle() -> str:
    return f"""
    WITH {", ".join(_qc_train_ctes())}
    SELECT CAST(fid AS INT) AS feature_id,
           CAST(wu AS BIGINT) AS w_u,
           ROUND(wu / {_QC_GRID}.0, 6) AS weight
    FROM qw{_QC_ROUNDS}
    ORDER BY feature_id
    """


QC_ARTIFACT_PARAMS = (
    f"d={_QC_D},rounds={_QC_ROUNDS},lr={_QC_LR},grid={_QC_GRID},v1"
)


def quality_weights_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained (fid, wu) table as a persisted 65-row artifact —
    trained once per corpus, broadcast by every consumer."""
    from env_data_pipeline_spark.sources.fixtures import snapshot

    return snapshot(
        spark,
        sf_dir,
        "quality_clf_weights",
        QC_ARTIFACT_PARAMS,
        lambda: train_quality_weights(table(spark, sf_dir, "documents")).coalesce(1),
    )


@query("text_quality_classifier_train", oracle=_train_oracle())
def text_quality_classifier_train(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The learned weight table itself (65 rows: 64 hashed-unigram
    buckets + bias) — see the module docstring for algorithm, parity,
    and scale contracts. Positive weights concentrate on the buckets
    the stopwords hash into: the classifier rediscovers naturalness
    from raw features, which is what lets it generalize past the rule
    gate."""
    w = train_quality_weights(table(spark, sf_dir, "documents"))
    return w.select(
        F.col("fid").cast("int").alias("feature_id"),
        F.col("wu").cast("bigint").alias("w_u"),
        F.round(F.col("wu") / _QC_GRID, 6).alias("weight"),
    ).orderBy("feature_id")


def _score_oracle() -> str:
    return f"""
    WITH {", ".join(_qc_train_ctes())},
    sc AS (
      SELECT f.doc_id, SUM(ww.wu) AS zu
      FROM qfeats f JOIN qw{_QC_ROUNDS} ww ON ww.fid = f.fid
      GROUP BY 1
    )
    SELECT s.doc_id,
           ROUND(s.zu / {_QC_GRID}.0, 6) AS score,
           s.zu >= 0 AS pred_keep,
           l.y = 1 AS gate_keep
    FROM sc s JOIN qlab l ON l.doc_id = s.doc_id
    ORDER BY s.doc_id
    """


@query("text_quality_classifier_score", oracle=_score_oracle())
def text_quality_classifier_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Every document scored under the PERSISTED trained weights: the
    1e-6-grid margin, the classifier's keep prediction (z >= 0, i.e.
    hard-sigmoid >= 1/2), and the rule gate's label for audit — the
    (prediction, label) pair quality dashboards disagree-sample from.
    The plan contains only serving stages: feature hashing + a 65-row
    broadcast join + one doc-grain sum; training lives behind the
    artifact cache (the oracle, which has no artifact store, replays
    the training rounds inline)."""
    docs = table(spark, sf_dir, "documents")
    weights = quality_weights_artifact(spark, sf_dir)
    sc = score_docs(doc_features(docs), weights)
    lab = doc_labels(docs)
    return (
        sc.join(lab, "doc_id")
        .select(
            "doc_id",
            F.round(F.col("z_u") / _QC_GRID, 6).alias("score"),
            (F.col("z_u") >= 0).alias("pred_keep"),
            (F.col("y") == 1).alias("gate_keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# corpus_quality_agreement + streaming refresh: the classifier-vs-gate
# monitoring ledger a curation deployment keeps live
# ---------------------------------------------------------------------------


def _agreement_oracle() -> str:
    return f"""
    WITH {", ".join(_qc_train_ctes())},
    sc AS (
      SELECT f.doc_id, SUM(ww.wu) AS zu
      FROM qfeats f JOIN qw{_QC_ROUNDS} ww ON ww.fid = f.fid
      GROUP BY 1
    ),
    per AS (
      SELECT d.source,
             CASE WHEN s.zu >= 0 THEN 1 ELSE 0 END AS pk,
             l.y AS gk
      FROM documents d
      JOIN sc s ON s.doc_id = d.doc_id
      JOIN qlab l ON l.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pk) AS BIGINT) AS n_pred_keep,
           CAST(SUM(gk) AS BIGINT) AS n_gate_keep,
           CAST(SUM(CASE WHEN pk = gk THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree,
           CAST(1000 * SUM(CASE WHEN pk = gk THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS agreement_permille
    FROM per GROUP BY 1 ORDER BY 1
    """


def _agreement_counters(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """Per-source (n_docs, n_pred_keep, n_gate_keep, n_agree) under a
    frozen weight table — the shared kernel of the batch ledger and
    the streaming refresh (additive counters, so micro-batch states
    merge by plain +)."""
    sc = score_docs(doc_features(docs), weights)
    lab = doc_labels(docs)
    per = (
        docs.select("doc_id", "source")
        .join(sc, "doc_id")
        .join(lab, "doc_id")
        .select(
            "source",
            F.when(F.col("z_u") >= 0, 1).otherwise(0).alias("pk"),
            F.col("y").alias("gk"),
        )
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pk").cast("bigint").alias("n_pred_keep"),
        F.sum("gk").cast("bigint").alias("n_gate_keep"),
        F.sum(F.when(F.col("pk") == F.col("gk"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
    )


def _agreement_finalize(state: DataFrame) -> DataFrame:
    return state.select(
        "source",
        "n_docs",
        "n_pred_keep",
        "n_gate_keep",
        "n_agree",
        F.expr("1000 * n_agree div n_docs")
        .cast("bigint")
        .alias("agreement_permille"),
    ).orderBy("source")


@query("corpus_quality_agreement", oracle=_agreement_oracle())
def corpus_quality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source classifier-vs-rule-gate agreement ledger: doc
    count, classifier keeps, gate keeps, agreements, and the exact
    agreement permille — the drift monitor a deployment reads to
    decide when the trained weights need refreshing (agreement
    sliding on one source = that source's text shifted under the
    model). Serving-only plan: the 65-row weight artifact broadcasts;
    the only shuffles are the feature frame's doc-grain sum and a
    source-grain fold."""
    docs = table(spark, sf_dir, "documents")
    return _agreement_finalize(
        _agreement_counters(docs, quality_weights_artifact(spark, sf_dir))
    )


@query("streaming_quality_score_refresh", oracle=_agreement_oracle())
def streaming_quality_score_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CONTINUOUS form of corpus_quality_agreement: documents
    replay as 4 real micro-batches; each batch is scored against the
    FROZEN persisted weights (the ingest-gate asymmetry — arrivals
    are judged by standing state, the model never retrains per batch)
    and folds additive per-source counters into the parquet state
    replay_fold (streaming/replay.py) persists; the agreement
    permille derives from the final state only.
    The oracle is the batch query's full recompute — green only if
    the counter fold composes across every batch boundary."""
    from env_data_pipeline_spark.streaming.replay import replay_fold

    n_shards = 4
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    weights = quality_weights_artifact(spark, sf_dir)
    empty = spark.createDataFrame(
        [],
        "source string, n_docs bigint, n_pred_keep bigint, "
        "n_gate_keep bigint, n_agree bigint",
    )

    def step(batch_df: DataFrame, _batch_id: int, prev: DataFrame):
        batch = _agreement_counters(batch_df, weights).select(
            "source",
            F.col("n_docs").alias("b_docs"),
            F.col("n_pred_keep").alias("b_pred"),
            F.col("n_gate_keep").alias("b_gate"),
            F.col("n_agree").alias("b_agree"),
        )
        merged = (
            prev.join(F.broadcast(batch), "source", "full_outer")
            .select(
                "source",
                *[
                    (
                        F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
                    )
                    .cast("bigint")
                    .alias(a)
                    for a, b in [
                        ("n_docs", "b_docs"),
                        ("n_pred_keep", "b_pred"),
                        ("n_gate_keep", "b_gate"),
                        ("n_agree", "b_agree"),
                    ]
                ],
            )
        )
        return merged, None

    return replay_fold(
        spark, docs, n_shards, "doc_id", step,
        lambda state, _emitted: _agreement_finalize(state),
        "stream_qualclf_", seed=empty,
    )
