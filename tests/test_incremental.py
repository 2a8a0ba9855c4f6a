"""Unit tests for the incremental-maintenance operators: MERGE
semantics on constructed frames, partial-state merge equivalence
against direct aggregation, and batching-invariance (associativity)
of the refresh algebra."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from env_data_pipeline_spark.operators import incremental as INC


def test_merge_upsert_ops(spark):
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    updates = spark.createDataFrame(
        [(2, "B"), (4, "D")], "k bigint, v string"
    )
    rows = {r["k"]: r for r in INC.merge_upsert(base, updates, key="k").collect()}
    assert {k: (r["v"], r["op"]) for k, r in rows.items()} == {
        1: ("a", "unchanged"),
        2: ("B", "update"),
        3: ("c", "unchanged"),
        4: ("D", "insert"),
    }


def test_merge_upsert_rejects_schema_mismatch(spark):
    base = spark.createDataFrame([(1, "a")], "k bigint, v string")
    bad = spark.createDataFrame([(1, "a")], "k bigint, w string")
    with pytest.raises(ValueError, match="schema mismatch"):
        INC.merge_upsert(base, bad, key="k")


def test_refresh_equals_direct_aggregation(spark, sf_dir):
    from env_data_pipeline_spark.catalog import table

    events = table(spark, sf_dir, "events")
    base = events.filter(F.col("event_id") % 10 != 0)
    delta = events.filter(F.col("event_id") % 10 == 0)
    refreshed = {
        r["event_type"]: r
        for r in INC.refresh_partial_aggs(
            INC.partial_aggs(base, ["event_type"], "value"),
            INC.partial_aggs(delta, ["event_type"], "value"),
            ["event_type"],
        ).collect()
    }
    direct = {
        r["event_type"]: r
        for r in INC.partial_aggs(events, ["event_type"], "value").collect()
    }
    assert set(refreshed) == set(direct)
    for t in direct:
        assert refreshed[t]["n_rows"] == direct[t]["n_rows"]
        assert refreshed[t]["sum_value"] == pytest.approx(
            direct[t]["sum_value"], rel=1e-12
        )
        assert refreshed[t]["min_value"] == direct[t]["min_value"]
        assert refreshed[t]["max_value"] == direct[t]["max_value"]


def test_refresh_batching_invariant(spark, sf_dir):
    """One 2-batch refresh and a 3-batch replay must agree exactly on
    counts/min/max and to float tolerance on sums — the associativity
    that lets deltas arrive hourly, daily, or replayed."""
    from env_data_pipeline_spark.catalog import table

    events = table(spark, sf_dir, "events")
    parts = [
        INC.partial_aggs(
            events.filter(F.col("event_id") % 3 == i), ["event_type"], "value"
        )
        for i in range(3)
    ]
    two_step = INC.refresh_partial_aggs(
        INC.refresh_partial_aggs(parts[0], parts[1], ["event_type"]),
        parts[2],
        ["event_type"],
    )
    flat = INC.refresh_partial_aggs(
        parts[2], INC.refresh_partial_aggs(parts[1], parts[0], ["event_type"]),
        ["event_type"],
    )
    a = {r["event_type"]: r for r in two_step.collect()}
    b = {r["event_type"]: r for r in flat.collect()}
    assert set(a) == set(b)
    for t in a:
        assert a[t]["n_rows"] == b[t]["n_rows"]
        assert a[t]["min_value"] == b[t]["min_value"]
        assert a[t]["max_value"] == b[t]["max_value"]
        assert a[t]["sum_value"] == pytest.approx(b[t]["sum_value"], rel=1e-12)


def test_histogram_refresh_batching_invariant(spark, sf_dir):
    """The histogram merge algebra: 3-way replay equals 2-way equals
    the direct full-scan histogram, bin for bin — per-bin integer
    addition is exact, so equality is strict."""
    from env_data_pipeline_spark.catalog import table

    events = table(spark, sf_dir, "events")
    LO, HI, NB = 0.0, 500.0, 20
    parts = [
        INC.histogram_state(
            events.filter(F.col("event_id") % 3 == i), ["event_type"], "value", LO, HI, NB
        )
        for i in range(3)
    ]
    merged = INC.refresh_histogram(
        INC.refresh_histogram(parts[0], parts[1], ["event_type"]),
        parts[2],
        ["event_type"],
    )
    direct = INC.histogram_state(events, ["event_type"], "value", LO, HI, NB)
    a = {(r["event_type"], r["bin"]): r["n_rows"] for r in merged.collect()}
    b = {(r["event_type"], r["bin"]): r["n_rows"] for r in direct.collect()}
    assert a == b
    assert sum(a.values()) == events.count()


def test_streaming_refresh_deterministic_across_runs(spark, sf_dir):
    """Two independent drains (fresh temp dirs, fresh checkpoints)
    must produce identical state — batch order and partitioning may
    vary, so this holds only because the merge algebra is
    commutative/associative and sums are rounded at read time."""
    from env_data_pipeline_spark.plans.incremental import (
        streaming_incremental_agg_refresh,
    )

    a = {
        r["event_type"]: r
        for r in streaming_incremental_agg_refresh(spark, sf_dir).collect()
    }
    b = {
        r["event_type"]: r
        for r in streaming_incremental_agg_refresh(spark, sf_dir).collect()
    }
    assert set(a) == set(b)
    for t in a:
        assert a[t]["n_rows"] == b[t]["n_rows"]
        assert a[t]["min_value"] == b[t]["min_value"]
        assert a[t]["max_value"] == b[t]["max_value"]
        # sums merge in batch order which the file source fixes, but
        # compare with tolerance like the sibling batching test — a
        # rounded value within an ulp of a .5e-4 boundary must not
        # flake the suite
        assert a[t]["total_value"] == pytest.approx(b[t]["total_value"], abs=2e-4)
        assert a[t]["avg_value"] == pytest.approx(b[t]["avg_value"], abs=2e-6)


def test_scd2_apply_history_shape(spark):
    """Changed key -> closed row + new current row with contiguous
    validity; no-op update and absent key -> single open row."""
    dim = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k bigint, seg string, bal double",
    )
    upd = spark.createDataFrame(
        [(1, "A", 11.0), (2, "b", 20.0)],  # change / no-op
        "k bigint, seg string, bal double",
    )
    out = INC.scd2_apply(
        dim, upd, key="k", attrs=["seg", "bal"],
        base_date="2024-01-01", batch_date="2024-06-01",
    )
    rows = sorted(
        ((r["k"], r["seg"], r["bal"], str(r["valid_from"]),
          str(r["valid_to"]), r["is_current"]) for r in out.collect())
    )
    assert rows == [
        (1, "A", 11.0, "2024-06-01", "None", True),
        (1, "a", 10.0, "2024-01-01", "2024-06-01", False),
        (2, "b", 20.0, "2024-01-01", "None", True),
        (3, "c", 30.0, "2024-01-01", "None", True),
    ]


def test_scd2_apply_idempotent_on_redelivery(spark):
    """Re-applying the SAME batch to the post-merge current snapshot
    forks no new history: every update now matches the current
    attributes, so each key keeps exactly one open row."""
    dim = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k bigint, seg string, bal double"
    )
    upd = spark.createDataFrame([(1, "A", 11.0)], "k bigint, seg string, bal double")
    first = INC.scd2_apply(
        dim, upd, key="k", attrs=["seg", "bal"],
        base_date="2024-01-01", batch_date="2024-06-01",
    )
    current = first.filter(F.col("is_current")).select("k", "seg", "bal")
    replay = INC.scd2_apply(
        current, upd, key="k", attrs=["seg", "bal"],
        base_date="2024-06-01", batch_date="2024-07-01",
    )
    assert replay.count() == 2
    assert replay.filter(F.col("is_current")).count() == 2


def test_scd2_apply_inserts_new_keys(spark):
    """An update for a key absent from the history INSERTS an open row
    at the batch date (review finding: the left-join draft silently
    dropped it)."""
    dim = spark.createDataFrame([(1, "a", 10.0)], "k bigint, seg string, bal double")
    upd = spark.createDataFrame([(9, "Z", 1.0)], "k bigint, seg string, bal double")
    out = INC.scd2_apply(
        dim, upd, key="k", attrs=["seg", "bal"],
        base_date="2024-01-01", batch_date="2024-06-01",
    )
    rows = sorted(
        ((r["k"], r["seg"], str(r["valid_from"]), r["is_current"])
         for r in out.collect())
    )
    assert rows == [
        (1, "a", "2024-01-01", True),
        (9, "Z", "2024-06-01", True),
    ]


def test_scd2_apply_null_attr_update_still_applies(spark):
    """An update that legitimately sets the FIRST attribute to NULL
    must still close/open history (review finding: attribute-null
    sniffing treated it as 'no update')."""
    dim = spark.createDataFrame([(1, "a", 10.0)], "k bigint, seg string, bal double")
    upd = spark.createDataFrame([(1, None, 10.0)], "k bigint, seg string, bal double")
    out = INC.scd2_apply(
        dim, upd, key="k", attrs=["seg", "bal"],
        base_date="2024-01-01", batch_date="2024-06-01",
    )
    rows = sorted(
        ((r["seg"], str(r["valid_to"]), r["is_current"]) for r in out.collect()),
        key=str,
    )
    assert rows == [("a", "2024-06-01", False), (None, "None", True)]


def test_scd2_reopen_fully_closed_key(spark):
    """ADVICE r4: a key whose history rows are ALL closed (no
    is_current row) must not swallow an update — the reopen branch
    passes the closed rows through and opens exactly ONE new current
    row at the batch date."""
    hist = spark.createDataFrame(
        [
            (1, "a", 10.0, "2024-01-01", "2024-03-01", False),
            (1, "b", 12.0, "2024-03-01", "2024-05-01", False),
            (2, "x", 99.0, "2024-01-01", None, True),
        ],
        "k bigint, seg string, bal double, valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "seg", "bal",
        F.to_date("valid_from").alias("valid_from"),
        F.to_date("valid_to").alias("valid_to"),
        "is_current",
    )
    upd = spark.createDataFrame([(1, "c", 14.0)], "k bigint, seg string, bal double")
    out = INC.scd2_apply_history(
        hist, upd, key="k", attrs=["seg", "bal"], batch_date="2024-06-01"
    )
    k1 = sorted(
        ((r["seg"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
         for r in out.filter(F.col("k") == 1).collect())
    )
    assert k1 == [
        ("a", "2024-01-01", "2024-03-01", False),
        ("b", "2024-03-01", "2024-05-01", False),
        ("c", "2024-06-01", "None", True),
    ]
    # untouched current key passes through
    assert out.filter((F.col("k") == 2) & F.col("is_current")).count() == 1
    assert out.filter(F.col("k") == 2).count() == 1


def test_scd2_out_of_order_batch_rejected(spark):
    """The CHOSEN out-of-order semantics (r4 verdict item 7):
    effective dates must be non-decreasing across applications.
    Delivery shuffled across micro-batches — a batch effective BEFORE
    an already-applied boundary — raises a NAMED error instead of
    silently minting an inverted validity interval. (The reference's
    event path guarantees no ordering, orchestrator.py:941-950, so
    the history operator enforces it.) In-order stacking of distinct
    effective dates is the positive case."""
    dim = spark.createDataFrame([(1, "a", 10.0)], "k bigint, seg string, bal double")
    upd_jun = spark.createDataFrame([(1, "b", 11.0)], "k bigint, seg string, bal double")
    upd_mar = spark.createDataFrame([(1, "c", 12.0)], "k bigint, seg string, bal double")

    # in-order: two stacked closures, one open row
    hist = INC.scd2_apply(
        dim, upd_mar, key="k", attrs=["seg", "bal"],
        base_date="2024-01-01", batch_date="2024-03-01",
    )
    hist2 = INC.scd2_apply_history(
        hist, upd_jun, "k", ["seg", "bal"], "2024-06-01"
    )
    rows = sorted(
        ((r["seg"], str(r["valid_from"]), str(r["valid_to"])) for r in hist2.collect())
    )
    assert rows == [
        ("a", "2024-01-01", "2024-03-01"),
        ("b", "2024-06-01", "None"),
        ("c", "2024-03-01", "2024-06-01"),
    ]

    # shuffled delivery: the June batch applied, then the March one
    late = INC.scd2_apply(
        dim, upd_jun, key="k", attrs=["seg", "bal"],
        base_date="2024-01-01", batch_date="2024-06-01",
    )
    bad = INC.scd2_apply_history(late, upd_mar, "k", ["seg", "bal"], "2024-03-01")
    with pytest.raises(Exception, match="out-of-order batch_date"):
        bad.collect()


def test_scd2_apply_batches_reorders_shuffled_delivery(spark):
    """scd2_apply_batches sorts by effective date, so SHUFFLED
    delivery produces the identical history as in-order application —
    the correct-reordering path for backfills/replays (live streams
    get the named rejection instead)."""
    dim = spark.createDataFrame([(1, "a", 10.0)], "k bigint, seg string, bal double")
    upd_mar = spark.createDataFrame([(1, "c", 12.0)], "k bigint, seg string, bal double")
    upd_jun = spark.createDataFrame([(1, "b", 11.0)], "k bigint, seg string, bal double")
    hist0 = INC.scd2_init(dim, "k", ["seg", "bal"], "2024-01-01")
    shuffled = INC.scd2_apply_batches(
        hist0,
        [("2024-06-01", upd_jun), ("2024-03-01", upd_mar)],  # out of order
        "k",
        ["seg", "bal"],
    )
    in_order = INC.scd2_apply_history(
        INC.scd2_apply_history(hist0, upd_mar, "k", ["seg", "bal"], "2024-03-01"),
        upd_jun, "k", ["seg", "bal"], "2024-06-01",
    )

    def canon(df):
        return sorted(
            (r["k"], r["seg"], r["bal"], str(r["valid_from"]),
             str(r["valid_to"]), r["is_current"])
            for r in df.collect()
        )

    assert canon(shuffled) == canon(in_order)


def test_scd2_batch_composition_disjoint_keys(spark):
    """The algebra the streaming refresh relies on: applying two
    DISJOINT-key update batches sequentially (same effective date)
    equals applying their union in one shot."""
    dim = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(1, 9)],
        "k bigint, seg string, bal double",
    )
    upd_a = spark.createDataFrame(
        [(2, "A", 20.0), (4, "B", 40.0)], "k bigint, seg string, bal double"
    )
    upd_b = spark.createDataFrame(
        [(5, "C", 50.0), (9, "N", 90.0)], "k bigint, seg string, bal double"
    )
    one_shot = INC.scd2_apply(
        dim, upd_a.unionByName(upd_b), key="k", attrs=["seg", "bal"],
        base_date="2024-01-01", batch_date="2024-06-01",
    )
    hist = INC.scd2_init(dim, "k", ["seg", "bal"], "2024-01-01")
    staged = INC.scd2_apply_history(
        INC.scd2_apply_history(hist, upd_a, "k", ["seg", "bal"], "2024-06-01"),
        upd_b, "k", ["seg", "bal"], "2024-06-01",
    )

    def canon(df):
        return sorted(
            (r["k"], r["seg"], r["bal"], str(r["valid_from"]),
             str(r["valid_to"]), r["is_current"])
            for r in df.collect()
        )

    assert canon(one_shot) == canon(staged)


# --------------------------------------------------------------------------
# join-view maintenance + snapshot diff (round-7 additions)
# --------------------------------------------------------------------------


def test_join_view_delta_terms_partition_the_join(spark, sf_dir):
    """The three delta terms + old|><|old must partition the full join:
    term row counts sum exactly to the full-join count (nothing missed,
    nothing double-counted) and the refreshed state's n_join_rows agree."""
    from pyspark.sql import functions as F

    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.plans.incremental import (
        _JV_A_MOD,
        _JV_B_MOD,
        orders_join_view_incremental_refresh,
    )

    orders = table(spark, sf_dir, "orders").select("o_orderkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    a_delta = F.col("o_orderkey") % _JV_A_MOD == 0
    b_delta = (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % _JV_B_MOD == 0
    a_old, da = orders.filter(~a_delta), orders.filter(a_delta)
    b_old, db = li.filter(~b_delta), li.filter(b_delta)

    def n(a, b):
        return a.join(b, a["o_orderkey"] == b["l_orderkey"]).count()

    full = n(orders, li)
    parts = n(a_old, b_old) + n(da, b_old) + n(a_old, db) + n(da, db)
    assert parts == full

    refreshed = orders_join_view_incremental_refresh(spark, sf_dir)
    assert refreshed.agg(F.sum("n_join_rows")).collect()[0][0] == full


def test_snapshot_diff_classifies_ops_and_drops_unchanged(spark, sf_dir):
    from pyspark.sql import functions as F

    from env_data_pipeline_spark.catalog import table
    from env_data_pipeline_spark.plans.incremental import (
        _SD_DEL,
        _SD_INS,
        _SD_UPD,
        orders_snapshot_diff,
    )

    diff = orders_snapshot_diff(spark, sf_dir)
    rows = {r["o_orderkey"]: r for r in diff.collect()}
    keys = [
        r["o_orderkey"]
        for r in table(spark, sf_dir, "orders").select("o_orderkey").collect()
    ]
    for k in keys:
        ins, dele, upd = k % _SD_INS == 0, k % _SD_DEL == 0, k % _SD_UPD == 0
        if ins:
            expect = "insert"
        elif dele:
            expect = "delete"
        elif upd:
            expect = "update"
        else:
            expect = None
        got = rows.get(k)
        assert (got["op"] if got else None) == expect, k
        if expect == "update":
            assert got["new_price_units"] - got["old_price_units"] == 10000
        elif expect == "insert":
            assert got["old_price_units"] is None
        elif expect == "delete":
            assert got["new_price_units"] is None
