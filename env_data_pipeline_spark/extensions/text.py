"""Text analysis operators (X4, SURVEY.md §2.11): quality scoring,
language-ID heuristic, token counting, document fingerprinting — all
builtin Column expressions (regex/split/array HOFs), zero UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language marker-word profiles for the n-gram/stopword
# heuristic; deliberately minimal and deterministic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "de": ("der", "die", "und", "schnell"),
    "es": ("el", "la", "datos", "rapido"),
    "fr": ("le", "la", "les", "vite"),
    "zh": ("shu", "ju", "kuai", "biao"),
}

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def words(text: Column) -> Column:
    return F.split(text, " ")


def md5_prefix_hash(col: Column | str, hex_chars: int = 12) -> Column:
    """THE engine-wide string->int hash convention: leading
    ``hex_chars`` of md5 as a BIGINT (48 bits by default). Every
    DuckDB oracle mirrors it as ``('0x' || substr(md5(x), 1, n))::
    BIGINT`` — change the two together or every hash-keyed oracle
    drifts."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("bigint")


def n_tokens(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def n_tokens_bpe_ish(text: Column) -> Column:
    """BPE-ish token estimate: word-piece splits on a regex of
    alphanumeric runs vs punctuation, plus a chars/4 subword term —
    the standard cheap estimator when no tokenizer is shipped."""
    word_pieces = F.size(F.split(text, "[^a-zA-Z0-9]+"))
    return F.greatest(word_pieces, F.ceil(F.length(text) / 4).cast("int"))


def stopword_ratio_w(w: Column) -> Column:
    """Stopword ratio over an ALREADY-SPLIT word array — use this when
    the split is materialized as its own column; composing the
    text-based form several times in one projection re-runs the split
    per reference (the Catalyst pitfall measured on the shingle
    path)."""
    n_stop = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS)))
    return n_stop / F.greatest(F.size(w), F.lit(1))


def stopword_ratio(text: Column) -> Column:
    return stopword_ratio_w(words(text))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, "[a-zA-Z0-9 ]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def avg_word_len(text: Column) -> Column:
    w = words(text)
    total = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    return total / F.greatest(F.size(w), F.lit(1))


def quality_bucket(n_words: Column, stop_ratio: Column, punct: Column) -> Column:
    """Length/stopword/punctuation heuristic quality gate (the usual
    pretraining-filter shape: too short, too list-like, too noisy)."""
    return (
        F.when(n_words < 10, "TOO_SHORT")
        .when(punct > 0.2, "TOO_NOISY")
        .when(stop_ratio < 0.01, "LOW_NATURALNESS")
        .otherwise("OK")
    )


def lang_scores_w(w: Column) -> dict[str, Column]:
    return {
        lang: F.size(F.filter(w, lambda x: x.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_lang_w(w: Column) -> Column:
    """Argmax of marker-word overlap over an already-split word array,
    ties broken by language code order (deterministic)."""
    scores = lang_scores_w(w)
    best = None
    for lang in sorted(scores):
        s = scores[lang]
        if best is None:
            best = F.struct(s.alias("score"), F.lit(lang).alias("lang"))
        else:
            best = F.when(
                s > best.getField("score"),
                F.struct(s.alias("score"), F.lit(lang).alias("lang")),
            ).otherwise(best)
    return best.getField("lang")


def predicted_lang(text: Column) -> Column:
    return predicted_lang_w(words(text))


def bag_fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted
    distinct word multiset — detects shuffled near-copies that exact
    hashing misses."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(words(text))), " "))


# polynomial rolling hash (Rabin-Karp): h = fold(h*B + v_i mod P) over
# per-word 48-bit md5 values. P < 2^31 keeps h*B + v < 2^36 — exact in
# BIGINT on both engines. Fold is LEFT-assoc with the first element as
# the seed, matching DuckDB list_reduce's 2-arg semantics exactly.
ROLL_B = 31
ROLL_P = 2_147_483_647


def word_hash_vals(text: Column) -> Column:
    """Per-word 48-bit md5 prefix reduced mod P — materialize this as
    its own projection before folding: referencing it from several
    sub-expressions of one projection would re-run the transform per
    reference (same Catalyst pitfall as the shingle split)."""
    return F.transform(words(text), lambda w: md5_prefix_hash(w) % ROLL_P)


def rolling_fingerprint(vals: Column) -> Column:
    """Order-SENSITIVE fingerprint from word_hash_vals — the rolling-
    hash complement of bag_fingerprint: equal only when the word
    sequence is equal."""
    return F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.element_at(vals, 1),
        lambda acc, v: (acc * ROLL_B + v) % ROLL_P,
    )


def text_profile(docs: DataFrame) -> DataFrame:
    t = F.col("text")
    nw = n_tokens(t)
    sr = stopword_ratio(t)
    pr = punct_ratio(t)
    return docs.select(
        "doc_id",
        "lang",
        nw.alias("n_words"),
        n_tokens_bpe_ish(t).alias("n_tokens_est"),
        F.round(avg_word_len(t), 4).alias("avg_word_len"),
        F.round(sr, 4).alias("stopword_ratio"),
        F.round(pr, 4).alias("punct_ratio"),
        quality_bucket(nw, sr, pr).alias("quality"),
        predicted_lang(t).alias("predicted_lang"),
        bag_fingerprint(t).alias("fingerprint"),
    )
