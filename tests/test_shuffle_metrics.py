"""Measured shuffle bytes pin the plan claims (VERDICT r5 item 2).

The plan-audit suite proves shape (broadcast here, bucketed there);
these tests prove the BYTES. Shuffle traffic is deterministic per
plan — unlike wall time it cannot flake with scheduler noise — so a
broadcast or zero-exchange claim that regresses shows up as a hard
byte count, not a timing wiggle. Measurement: job-group-scoped sums
of per-stage shuffleReadBytes/shuffleWriteBytes from the UI status
store (env_data_pipeline_spark.observe).
"""

from __future__ import annotations

import pytest

from env_data_pipeline_spark.observe import observe
from env_data_pipeline_spark.plans import registry

registry.load_all()

LO = "/root/testdata/sf0.01"
HI = "/root/testdata/sf0.1"


def _shuffle(spark, name: str, sf_dir: str) -> dict:
    return observe(spark, lambda: registry.QUERIES[name](spark, sf_dir).count())


def _bytes(m: dict) -> tuple[int, int]:
    """(read, write) — for failure messages, without the stage dicts."""
    return m["shuffle_read_bytes"], m["shuffle_write_bytes"]


def test_repetition_profile_zero_shuffle(spark, sf_dir):
    """text_repetition_profile is all higher-order-function Column math
    over the scan — the claim is literally zero exchanges, so zero
    bytes may move. Action is a noop sink, not count(): count() adds
    its own one-row final-aggregation exchange (~59 bytes) that would
    mask the pin."""
    df = registry.QUERIES["text_repetition_profile"](spark, sf_dir)
    m = observe(spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert _bytes(m) == (0, 0), _bytes(m)


def test_measure_shuffle_sees_real_traffic(spark, sf_dir):
    """Sanity for the meter itself: a query with a real exchange must
    report non-zero bytes (guards against the meter silently matching
    no jobs and every pin above passing vacuously)."""
    m = _shuffle(spark, "revenue_by_region", sf_dir)
    assert m["shuffle_write_bytes"] > 0 and m["stages"], _bytes(m)


# (query, driving table, slack): shuffled bytes may grow at most
# slack x the driving table's row growth across the sf0.01->sf0.1
# pair. Bytes are deterministic, so the slack only absorbs encoding
# effects (dictionary/compression ratios shifting with size), not
# timing noise. A reintroduced all-pairs or lost-broadcast stage
# overshoots these bounds by orders of magnitude.
SHUFFLE_SCALING = [
    # eval side broadcasts: shuffle ∝ corpus grams only
    ("decontaminate_eval_overlap", "documents", 1.5),
    # banded equi-join shuffles (doc_id, 16 ints) ∝ documents
    ("dedup_minhash_lsh", "documents", 1.5),
    # bucket equi-joins ∝ embeddings
    ("similarity_topk_lsh", "embeddings", 1.5),
    ("similarity_topk_ivf", "embeddings", 1.5),
    # r7: the MERGE-hinted gram self-join shuffles (doc, pos, md5)
    # twice — linear in documents; the broadcast plan this replaced
    # moved ~0 shuffle bytes but collected the stream to one node,
    # so THIS pin is deliberately a lower bound too (see below)
    ("dedup_substring_spans", "documents", 2.0),
    # basket build + pair counts: ∝ lineitem (constant pairs/order)
    ("market_basket_part_pairs", "lineitem", 1.5),
    # CMS build is map-side combined to 256 cells per partition;
    # probe side is the key sample — strongly sublinear
    ("events_cms_user_counts", "events", 1.5),
    # token-count shuffle carries distinct tokens per partition;
    # the V-row vocabulary broadcasts back
    ("text_vocab_coverage", "documents", 1.5),
    # (label,pos) centroid partials are bounded; per-vector distance
    # aggregate ∝ embeddings
    ("embedding_label_outliers", "embeddings", 1.5),
    # r7c merge-hinted data-sized joins (memory discipline: every
    # .hint('merge') needs a shuffle-bytes bound + plan pin):
    # deletion-neighborhood keys ∝ names x avg_len
    ("customer_name_edit1_pairs", "customer", 1.5),
    # edges ∝ lineitem (constant basket size); wedges ∝ edges x
    # oriented out-degree, which orientation keeps near-constant
    ("part_triangle_participation", "lineitem", 2.0),
    # only the two phrase terms leave the scan — ∝ documents
    ("text_phrase_search", "documents", 1.5),
    # three delta terms, each one shuffle of key-partitioned slices
    ("orders_join_view_incremental_refresh", "lineitem", 1.5),
    # one full-outer key shuffle of the two snapshots
    ("orders_snapshot_diff", "orders", 1.5),
    # level-neighbor construction: probe explodes x7, pool caps at 4
    # per level — shuffle stays linear in the part catalog
    ("part_substitution_candidates", "part", 1.5),
    # r8 merge-hinted data-sized joins and sampled/banded paths:
    # (user, 5-min bucket) equi-join, probe side 2x via bucket explode
    ("events_rapid_repeat_pairs", "events", 1.5),
    # 16-byte fingerprints + band keys shuffle; payloads never do
    ("multimodal_phash_near_dups", "documents", 1.5),
    # delta bands broadcast; corpus side shuffles band keys once
    ("dedup_delta_vs_corpus", "documents", 1.5),
    # node-sampled edges ∝ q^2 x lineitem, wedges ∝ q^3 — the sampled
    # tier must inherit the exact tier's linear-in-data bound
    ("part_triangle_count_sampled", "lineitem", 2.0),
    # register build is map-side combined to ≤ |types| x 64 rows
    ("events_hll_distinct_by_type", "events", 1.5),
    # one custkey shuffle + months^2-bounded cell grid
    ("customer_ltv_cohort_curve", "orders", 1.5),
    # one day-keyed rank shuffle
    ("events_daily_value_percentiles", "events", 1.5),
    # distinct (user, week) + one user-keyed lag/lead window
    ("events_user_lifecycle_weekly", "events", 1.5),
    # merge-pattern as-of: one custkey shuffle of both sides
    ("orders_pit_prior_features", "orders", 1.5),
    # canonical 16-byte digests shuffle, never the text
    ("dedup_canonical_text", "documents", 1.5),
]


@pytest.mark.parametrize("name,table_name,slack", SHUFFLE_SCALING)
def test_shuffle_grows_no_faster_than_data(spark, name, table_name, slack):
    from env_data_pipeline_spark.catalog import table

    data_ratio = table(spark, HI, table_name).count() / table(
        spark, LO, table_name
    ).count()
    assert data_ratio > 1.5, "tier pair carries no data growth"
    lo = _shuffle(spark, name, LO)
    hi = _shuffle(spark, name, HI)
    lo_total = sum(_bytes(lo))
    hi_total = sum(_bytes(hi))
    assert lo_total > 0, f"{name}: meter saw no traffic at the low tier ({_bytes(lo)})"
    ratio = hi_total / lo_total
    assert ratio <= slack * data_ratio, (
        f"{name}: shuffled bytes grew {ratio:.2f}x vs data {data_ratio:.2f}x "
        f"(lo={lo_total}, hi={hi_total}) — the broadcast/bucketed claim "
        "no longer holds"
    )


def test_substring_spans_shuffles_not_broadcasts(spark):
    """Companion to the plan pin: the gram stream must MOVE through
    exchanges (non-zero shuffle bytes at the low tier) — a zero-byte
    reading here means the join regressed to broadcasting the stream
    again (shuffle-free but driver-collected)."""
    m = _shuffle(spark, "dedup_substring_spans", LO)
    assert m["shuffle_write_bytes"] > 0, _bytes(m)
