"""In-engine BPE merge LEARNING (X6 — the training half of the
tokenizer story; extensions/bpe.py owns the application half).

Real tokenizer prep learns merges by iterated highest-frequency-pair
merging (Sennrich et al. 2016, the public BPE algorithm): start from
the character segmentation of every distinct word (weighted by its
corpus count), and each round (a) count adjacent-piece pairs over the
CURRENT segmentation — every adjacent position counts, overlaps
included, exactly as the reference implementation counts — then
(b) merge the single most frequent pair everywhere it occurs,
leftmost-first non-overlapping within each word.

Engine shape: the same bounded driver-loop-with-lineage-cut idiom
as k-core / PageRank (plans/graphops.py) — _BPE_ROUNDS (24) rounds,
each one |distinct words|-sized state scan + a pair-count groupBy + a
1-row argmax broadcast back onto the state. The segmentation is a
WRAPPED-piece string — pieces [p1, p2, p3] encode as "|p1||p2||p3|"
— so applying a merge is ONE literal replace() of "|l||r|" with
"|lr|": SQL replace scans left-to-right and continues after each
substitution, and because the pattern consumes ONLY its own pair's
delimiters (adjacent pieces share no characters in this encoding),
that is exactly BPE's leftmost-first non-overlapping application —
including runs of the same pair ("|a||a||a||a|" -> "|aa||aa|"),
where a naive space-separated encoding under-merges because the
shared separator gets consumed (caught by the reference test). A
piece can never match across a boundary: every candidate match
starts at "|l|", and l never contains the sentinel (enforced
engine-side with raise_error; corpus words are whitespace-split so
they cannot contain spaces, and the testdata alphabet is [a-z]).

The DuckDB oracle unrolls the identical rounds as MATERIALIZED CTEs
(the part_kcore_membership pattern) generated by the same Python
loop, so engine and oracle cannot drift.

Bounded-piece deviation (documented contract): pairs whose merged
piece would exceed extensions.bpe.MAX_PIECE_LEN (8) are never merge
candidates, so the learned table drops UNCHANGED into the greedy
longest-match walk (word_tokens probes lengths 1..MAX_PIECE_LEN).
Unbounded BPE differs only after a learned piece reaches 8 chars —
beyond round 24 on this corpus (tests pin the shipped rounds never
hit the cap).

Exactness: pair frequencies are exact BIGINT sums of word counts;
the per-round argmax tie-breaks on (freq DESC, left piece, right
piece) — binary string order in both engines; no float anywhere.

Scale (100 TB): state is DISTINCT-WORD-sized (Heaps-sublinear in the
corpus — the corpus itself is touched exactly once, in the initial
word count), each round shuffles only (piece, piece) pair counts with
map-side combine, and the only broadcast is the 1-row winning pair.
Rounds are a fixed constant. This is how you'd actually train a
tokenizer on a 100 TB crawl in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.extensions.bpe import MAX_PIECE_LEN
from env_data_pipeline_spark.plans.registry import query

# merge rounds learned per run; bounded by contract (VERDICT r9 asked
# for <= 24). Both engines run exactly this many rounds, so parity
# never depends on a convergence test.
_BPE_ROUNDS = 24


def _duck_pairs(st: str) -> str:
    """Pair-count CTE body over segmentation state ``st`` — adjacent
    pieces of the wrapped-piece segmentation, weighted by word count,
    capped at the mergeable piece length."""
    return f"""(
      SELECT l, r, SUM(wc) AS freq FROM (
        SELECT s.wc, s.lst[t.k] AS l, s.lst[t.k + 1] AS r
        FROM (SELECT wc, string_split(trim(seg, '|'), '||') AS lst
              FROM {st}) s,
             unnest(generate_series(1, len(s.lst) - 1)) AS t(k)
      )
      WHERE length(l || r) <= {MAX_PIECE_LEN}
      GROUP BY 1, 2
    )"""


def _bpetrain_oracle() -> str:
    """Unroll the merge rounds as chained MATERIALIZED CTEs generated
    by the same loop shape the engine runs."""
    ctes = [
        """bwords AS MATERIALIZED (
          SELECT u.x AS word, COUNT(*) AS wc
          FROM documents, unnest(string_split(text, ' ')) AS u(x)
          WHERE length(u.x) > 0 GROUP BY 1
        )""",
        # character-grain initial segmentation: 'abc' -> '|a||b||c|'
        """st0 AS MATERIALIZED (
          SELECT word, wc,
                 regexp_replace(word, '(.)', '|\\1|', 'g') AS seg
          FROM bwords
        )""",
    ]
    for i in range(_BPE_ROUNDS):
        ctes.append(f"pr{i} AS {_duck_pairs(f'st{i}')}")
        ctes.append(
            f"""best{i} AS MATERIALIZED (
              SELECT l, r, freq FROM pr{i}
              ORDER BY freq DESC, l, r LIMIT 1
            )"""
        )
        # wrapped-piece replace applies the merge leftmost-first
        # non-overlapping; an exhausted corpus (no pair left) keeps
        # the segmentation unchanged
        ctes.append(
            f"""st{i + 1} AS MATERIALIZED (
              SELECT word, wc,
                CASE WHEN NOT EXISTS (SELECT 1 FROM best{i}) THEN seg
                     ELSE replace(seg,
                            '|' || (SELECT l FROM best{i}) || '||'
                                || (SELECT r FROM best{i}) || '|',
                            '|' || (SELECT l || r FROM best{i}) || '|')
                END AS seg
              FROM st{i}
            )"""
        )
    rounds_union = "\nUNION ALL\n".join(
        f"""SELECT {i + 1} AS merge_round, l AS pair_left, r AS pair_right,
                   l || r AS merged, CAST(freq AS BIGINT) AS freq
            FROM best{i}"""
        for i in range(_BPE_ROUNDS)
    )
    return f"""
    WITH {", ".join(ctes)}
    SELECT CAST(merge_round AS INT) AS merge_round,
           pair_left, pair_right, merged, freq
    FROM ({rounds_union})
    ORDER BY merge_round
    """


def _pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-piece pair counts over the current segmentation,
    weighted by word count — every adjacent position counts (overlaps
    included), the standard BPE statistic."""
    s = F.split(F.expr("trim(BOTH '|' FROM seg)"), "\\|\\|")
    pair = F.explode(
        F.zip_with(
            F.slice(s, 1, F.size(s) - 1),
            F.slice(s, 2, F.size(s) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
    )
    return (
        state.select("wc", pair.alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("wc").alias("freq"))
        .filter(F.length(F.concat("l", "r")) <= MAX_PIECE_LEN)
    )


def train_merges(words: DataFrame, rounds: int) -> DataFrame:
    """Learn ``rounds`` BPE merges from a (word, wc) frame; returns
    (merge_round, pair_left, pair_right, merged, freq). THE kernel —
    the registered query and tests share it."""
    # lineage cut (a): the first round's pair count and merge both read it
    state = words.select(
        # the wrapped-piece encoding needs '|'-free words; corpus
        # words are whitespace-split so the only reachable violation
        # is a literal '|' in document text — fail loudly, the oracle
        # (computing the identical wrong merge) could never catch it
        F.when(
            ~F.col("word").contains("|"), F.col("word")
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "bpe_train_merges: word contains the '|' "
                    "separator sentinel"
                )
            ).cast("string")
        )
        .alias("word"),
        "wc",
        F.regexp_replace("word", "(.)", "|$1|").alias("seg"),
    ).localCheckpoint()
    merge_frames: list[DataFrame] = []
    for i in range(rounds):
        best = (
            _pair_counts(state)
            .orderBy(F.desc("freq"), "l", "r")
            .limit(1)
            # lineage cut (a): the merge list and the state update both read it
            .localCheckpoint()
        )
        merge_frames.append(
            best.select(
                F.lit(i + 1).cast("int").alias("merge_round"),
                F.col("l").alias("pair_left"),
                F.col("r").alias("pair_right"),
                F.concat("l", "r").alias("merged"),
                F.col("freq").cast("bigint").alias("freq"),
            )
        )
        # left join on a constant key: an empty winner (exhausted
        # corpus) must keep the state, not wipe it (a crossJoin with
        # an empty frame would)
        bj = best.select(
            F.lit(1).alias("_k"),
            F.col("l").alias("_l"),
            F.col("r").alias("_r"),
        )
        pat = F.concat(
            F.lit("|"), F.col("_l"), F.lit("||"), F.col("_r"), F.lit("|")
        )
        rep = F.concat(F.lit("|"), F.col("_l"), F.col("_r"), F.lit("|"))
        state = (
            state.withColumn("_k", F.lit(1))
            .join(F.broadcast(bj), "_k", "left")
            .select(
                "word",
                "wc",
                F.when(F.col("_l").isNull(), F.col("seg"))
                # literal (non-regex) replace — scans left to right
                # and resumes AFTER each substitution: exactly BPE's
                # leftmost-first non-overlapping merge application
                .otherwise(F.replace(F.col("seg"), pat, rep))
                .alias("seg"),
            )
        )
        if i % 2 == 1:
            # lineage cut (a): the plan would otherwise grow with every round.
            # Every other round, as in graphops._power_iterate: sf0.1 medians
            # (4 cores, qprofile --runs 3, 3 alternating pairs) 6.20/5.06/6.07 s
            # cutting every round, 6.05/5.53/5.83 s now; 98 build jobs either
            # way at sf0.01 (both consumers of an uncut state rebroadcast the winner)
            state = state.localCheckpoint()
    out = merge_frames[0]
    for mf in merge_frames[1:]:
        out = out.unionByName(mf)
    return out.orderBy("merge_round")


@query("bpe_train_merges", oracle=_bpetrain_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 24 highest-frequency BPE merges learned from the documents
    corpus — see the module docstring for algorithm, parity, and
    scale contracts."""
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    return train_merges(words, _BPE_ROUNDS)
