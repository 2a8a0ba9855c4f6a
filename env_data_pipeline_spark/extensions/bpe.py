"""Greedy longest-match BPE-approximation tokenizer (X4/X6:
token-denominated corpus accounting).

Training pipelines budget corpora in TOKENS, not whitespace words.
This module segments each word by greedy longest-match over the
``bpe_vocab`` fixture merges table (all corpus characters + the top
frequent 2/3/4-grams — the deterministic public-vocab stand-in; a
real tokenizer's merges file drops into the same table shape) and
exposes word-level and doc-level token counts.

Everything is relational + HOFs — no Python UDF anywhere:

1. ``steps``: for every (distinct word, position), the length of the
   longest vocab piece matching there (>= 1: single characters are in
   the vocab). A candidate explode of |words| x positions x
   MAX_PIECE_LEN piece lengths, hash-joined against the broadcast
   vocab (the PIECE table is bounded — fixture merges or <=24 learned
   merges + alphabet — unlike the word table).
2. the greedy WALK: per word, fold a bounded ``sequence`` through
   ``F.aggregate`` carrying (pos, count) state — pos advances by the
   matched step each iteration, so the fold is the exact greedy
   segmentation and terminates because steps are >= 1.

The DuckDB oracle replays the identical walk as MAX_WORD_LEN chained
CTEs (the Lloyd-unroll style); ``duck_wordtok_ctes`` emits that block
so every token-denominated oracle shares one definition. Distinct
words are vocabulary-scale (tens at test SF, O(millions) at 100 TB),
so tokenization never touches the corpus — word INSTANCES
shuffle_hash-join the (word, n_bpe) table, which is the hash build
side but is never BROADCAST (it grows with the corpus per Heaps'
law — ADVICE r9 family fix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# hard bound on word length the walk unrolls to; the testdata pin
# (tests/test_testdata_contract.py) keeps the corpus inside it
MAX_WORD_LEN = 16

# longest vocab piece the greedy walk probes for at each position.
# The bpe_vocab fixture tops out at 4-grams, but the r10 in-engine
# trainer (plans/bpetrain.py) learns merged pieces up to this length
# — the walk probes 1..MAX_PIECE_LEN so EITHER table drops in
# unchanged (probing lengths the vocab lacks finds no hit and costs
# only candidate rows on the vocabulary-sized word set).
MAX_PIECE_LEN = 8


def duck_wordtok_ctes() -> str:
    """DuckDB CTE block ending in ``wordtok(word, n_bpe)``. Requires
    the ``documents`` view and a ``bpe_vocab`` CTE already in scope
    (compose with fixtures.duck_with('bpe_vocab'))."""
    parts = [
        """bwords AS (
  SELECT u.x AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(x)
  WHERE length(u.x) > 0 GROUP BY 1
)""",
        f"""bsteps AS (
  SELECT c.word, c.pos,
         COALESCE(MAX(CASE WHEN v.piece IS NOT NULL THEN c.l END), 1)
           AS step
  FROM (
    SELECT w.word, CAST(p.range AS INT) AS pos,
           CAST(l.range AS INT) AS l,
           substr(w.word, CAST(p.range AS INT) + 1,
                  CAST(l.range AS INT)) AS sub
    FROM bwords w
    CROSS JOIN range({MAX_WORD_LEN}) p
    CROSS JOIN range(1, {MAX_PIECE_LEN + 1}) l
    WHERE p.range < length(w.word)
      AND p.range + l.range <= length(w.word)
  ) c LEFT JOIN bpe_vocab v ON v.piece = c.sub
  GROUP BY 1, 2
)""",
        "bw0 AS (SELECT word, length(word) AS wl, 0 AS pos, 0 AS cnt"
        " FROM bwords)",
    ]
    for k in range(MAX_WORD_LEN):
        parts.append(
            f"""bw{k + 1} AS (
  SELECT w.word, w.wl,
         CASE WHEN w.pos < w.wl THEN w.pos + s.step ELSE w.pos END AS pos,
         CASE WHEN w.pos < w.wl THEN w.cnt + 1 ELSE w.cnt END AS cnt
  FROM bw{k} w LEFT JOIN bsteps s ON s.word = w.word AND s.pos = w.pos
)"""
        )
    parts.append(
        f"wordtok AS (SELECT word, cnt AS n_bpe FROM bw{MAX_WORD_LEN})"
    )
    return ",\n".join(parts)


def word_tokens(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, n_bpe) for every distinct whitespace word in ``docs``
    — the greedy longest-match segment count against ``vocab``
    (piece, piece_len)."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .distinct()
    )
    grid = words.select(
        "word",
        F.explode(
            F.sequence(F.lit(0), F.length("word") - F.lit(1))
        ).alias("pos"),
    )
    cand = (
        grid.select(
            "word",
            "pos",
            F.explode(
                F.array(
                    *[F.lit(l) for l in range(1, MAX_PIECE_LEN + 1)]
                )
            ).alias("l"),
        )
        .filter(F.col("pos") + F.col("l") <= F.length("word"))
        .withColumn("sub", F.expr("substr(word, pos + 1, l)"))
    )
    steps = (
        cand.join(
            F.broadcast(
                vocab.select(
                    F.col("piece").alias("sub"), F.lit(1).alias("hit")
                )
            ),
            "sub",
            "left",
        )
        .groupBy("word", "pos")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("hit") == 1, F.col("l"))), F.lit(1)
            ).alias("step")
        )
    )
    larr = steps.groupBy("word").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "step"))),
            lambda s: s["step"],
        ).alias("steps")
    )
    zero = F.lit(0).cast("int")
    return larr.select(
        "word",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(MAX_WORD_LEN)),
            F.struct(zero.alias("pos"), zero.alias("cnt")),
            lambda acc, _: F.when(
                acc["pos"] < F.size("steps"),
                F.struct(
                    (
                        acc["pos"]
                        + F.element_at(F.col("steps"), acc["pos"] + 1)
                    )
                    .cast("int")
                    .alias("pos"),
                    (acc["cnt"] + 1).cast("int").alias("cnt"),
                ),
            ).otherwise(acc),
        )["cnt"]
        .cast("bigint")
        .alias("n_bpe"),
    )


def doc_tokens(docs: DataFrame, wordtok: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens): per-document BPE token counts — word
    instances shuffle_hash-joined to the (word, n_bpe) table (the
    distinct-word vocabulary grows with the corpus per Heaps' law, so
    it is never broadcast — ADVICE r9 family fix; wordtok is the hash
    build side, always the smaller leg), one groupBy. Documents with
    no non-empty word drop out; callers that need every doc should
    left-join back."""
    inst = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    return (
        inst.join(wordtok.hint("shuffle_hash"), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"))
    )


def word_tokens_for(spark, sf_dir: str) -> DataFrame:
    """(word, n_bpe) for the sf_dir corpus against the materialized
    bpe_vocab fixture — THE entry point every token-denominated plan
    shares (a drifting copy of the fixture wiring or the broadcast
    strategy would silently desynchronize queries from each other)."""
    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.sources.fixtures import ensure_fixtures

    (vocab,) = ensure_fixtures(spark, sf_dir, ("bpe_vocab",))
    return word_tokens(table(spark, sf_dir, "documents"), vocab)


def group_tokens(docs: DataFrame, wordtok: DataFrame, *keys: str) -> DataFrame:
    """Per-``keys`` word/token mass: explode word instances,
    shuffle_hash-join the vocabulary-scale (word, n_bpe) table (never
    broadcast — it grows with the corpus), one hash agg — columns
    (``*keys``, n_words, n_bpe_tokens). Groups whose documents carry
    no non-empty word drop out (inner join), matching the shared
    oracle's ``dg JOIN wtok`` shape."""
    inst = docs.select(
        *keys, F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    return (
        inst.join(wordtok.hint("shuffle_hash"), "word")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        )
    )
