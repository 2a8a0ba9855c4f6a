"""Pure-Python references for the round-7 analytics kernels on
seeded random fixtures — independent of BOTH the Spark plan and the
DuckDB oracle replay, so a shared design bug between the two engines
cannot hide. Each reference reimplements the QUERY SEMANTICS from the
docstring, not the code."""

from __future__ import annotations

import datetime as dt
import itertools
import random
from collections import Counter, defaultdict

from env_data_pipeline_spark.plans import registry

registry.load_all()

_SEED = 7


def _mk_events(n_users=40, n_events=600, n_days=20, seed=_SEED):
    rng = random.Random(seed)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for eid in range(n_events):
        ts = t0 + dt.timedelta(
            days=rng.randrange(n_days), seconds=rng.randrange(86400)
        )
        rows.append(
            (
                eid,
                ts,
                rng.randrange(n_users),
                rng.choice(["view", "click", "purchase", "error"]),
                round(rng.uniform(0, 100), 3),
                "{}",
            )
        )
    return rows


_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(rows, _EV_SCHEMA).coalesce(2).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))


def test_rolling_7d_active_users_reference(spark, tmp_path):
    rows = _mk_events()
    _write_events(spark, tmp_path, rows)
    got = {
        r["day"]: r["active_users_7d"]
        for r in registry.QUERIES["events_rolling_7d_active_users"](
            spark, str(tmp_path)
        ).collect()
    }
    active = {(r[1].date(), r[2]) for r in rows}
    days = sorted({d for d, _ in active})
    ref = {}
    for d in days:
        lo = d - dt.timedelta(days=6)
        ref[d.strftime("%Y-%m-%d")] = len(
            {u for (ad, u) in active if lo <= ad <= d}
        )
    assert got == ref


def test_transition_matrix_reference(spark, tmp_path):
    rows = _mk_events()
    _write_events(spark, tmp_path, rows)
    out = registry.QUERIES["events_transition_matrix"](
        spark, str(tmp_path)
    ).collect()
    per_user = defaultdict(list)
    for eid, ts, uid, et, _v, _p in rows:
        per_user[uid].append((ts, eid, et))
    trans = Counter()
    for uid, evs in per_user.items():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            trans[(a, b)] += 1
    totals = Counter()
    for (a, _b), c in trans.items():
        totals[a] += c
    got = {(r["from_type"], r["to_type"]): (r["transitions"], r["share"]) for r in out}
    ref = {
        k: (c, (c * 1000000 // totals[k[0]]) / 1000000.0)
        for k, c in trans.items()
    }
    assert got == ref


def test_mad_outliers_reference(spark, tmp_path):
    rng = random.Random(_SEED)
    t0 = dt.datetime(2024, 1, 1)
    orders = []
    for okey in range(400):
        pri = f"{rng.randrange(1, 4)}-P"
        # heavy tail so outliers exist
        price = rng.choice([rng.uniform(10, 100), rng.uniform(5000, 9000)])
        orders.append((okey, okey % 50, "O", round(price, 4), t0, pri))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))

    import math

    def units(x):
        return math.floor(x * 10000 + 0.5)

    by_pri = defaultdict(list)
    for okey, _c, _s, price, _d, pri in orders:
        by_pri[pri].append((okey, units(price)))

    def lower_median(vals):
        s = sorted(vals)
        return s[(len(s) + 1) // 2 - 1]

    ref_rows = []
    for pri, items in by_pri.items():
        med = lower_median([u for _, u in items])
        mad = lower_median([abs(u - med) for _, u in items])
        for okey, u in items:
            ad = abs(u - med)
            if ad > 5 * mad:
                ref_rows.append((ad, okey, pri, u, med, mad))
    ref_rows.sort(key=lambda r: (-r[0], r[1]))
    ref = [
        (
            pri,
            okey,
            u / 10000.0,
            med / 10000.0,
            mad / 10000.0,
            ad / 10000.0,
        )
        for ad, okey, pri, u, med, mad in ref_rows[:20]
    ]
    got = [
        (
            r["priority"],
            r["orderkey"],
            r["totalprice"],
            r["median_price"],
            r["mad_price"],
            r["abs_dev"],
        )
        for r in registry.QUERIES["orders_mad_outliers"](
            spark, str(tmp_path)
        ).collect()
    ]
    assert got == ref


def test_market_basket_reference(spark, tmp_path):
    rng = random.Random(_SEED)
    li = []
    for okey in range(300):
        parts = rng.sample(range(30), rng.randrange(1, 6))
        for p in parts:
            li.append((okey, p))
    # duplicated lines must not double-count pairs (distinct basket)
    li += li[:25]
    spark.createDataFrame(li, "l_orderkey long, l_partkey long").coalesce(
        2
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    baskets = defaultdict(set)
    for o, p in li:
        baskets[o].add(p)
    pairs = Counter()
    for parts in baskets.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            pairs[(a, b)] += 1
    ref = sorted(
        ((c, a, b) for (a, b), c in pairs.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    got = [
        (r["pair_count"], r["part_a"], r["part_b"])
        for r in registry.QUERIES["market_basket_part_pairs"](
            spark, str(tmp_path)
        ).collect()
    ]
    assert got == ref


def test_ewma_reference(spark, tmp_path):
    rows = _mk_events(n_events=300, n_days=12)
    _write_events(spark, tmp_path, rows)
    got = {
        (r["event_type"], r["day"]): (r["daily_value"], r["ewma_value"])
        for r in registry.QUERIES["events_ewma_daily"](
            spark, str(tmp_path)
        ).collect()
    }
    import math

    daily = defaultdict(int)
    for _eid, ts, _u, et, v, _p in rows:
        daily[(et, ts.date())] += math.floor(v * 10000 + 0.5)
    ref = {}
    series = defaultdict(list)
    for (et, d), su in sorted(daily.items()):
        series[et].append((d, su))
    wt = [128, 64, 32, 16, 8, 4, 2, 1]
    for et, pts in series.items():
        for i, (d, su) in enumerate(pts):
            window = pts[max(0, i - 7): i + 1][::-1]  # newest first
            score = sum(s * wt[k] for k, (_, s) in enumerate(window))
            norm = sum(wt[k] for k in range(len(window)))
            # TRUNCATING division (toward zero), matching Spark's div
            # and DuckDB's // — Python's // floors, which diverges for
            # a negative weighted score
            q = -((-score) // norm) if score < 0 else score // norm
            ref[(et, d.strftime("%Y-%m-%d"))] = (
                su / 10000.0,
                q / 10000.0,
            )
    assert got == ref


def test_cms_merge_equivalence(spark, tmp_path):
    """The docstring's mergeability claim, pinned: a CMS built on each
    half of the stream and merged by CELL-WISE ADDITION must equal the
    sketch built on the whole stream — the property that lets 1000
    executors sketch independently."""
    from pyspark.sql import functions as F
    from env_data_pipeline_spark.extensions import sketches as SK

    rows = _mk_events(n_events=400)
    ev = spark.createDataFrame(rows, _EV_SCHEMA).select("event_id", "user_id")

    # THE shared build (extensions/sketches.py) — duplicating it here
    # would let the test keep validating a stale definition
    full = {(r["j"], r["b"]): r["n"] for r in SK.cms_cells(ev).collect()}
    h1 = SK.cms_cells(ev.filter(F.col("event_id") % 2 == 0)).collect()
    h2 = SK.cms_cells(ev.filter(F.col("event_id") % 2 == 1)).collect()
    merged = Counter()
    for r in itertools.chain(h1, h2):
        merged[(r["j"], r["b"])] += r["n"]
    assert dict(merged) == full


# --------------------------------------------------------------------------
# Triangle participation (graphops)
# --------------------------------------------------------------------------


def test_triangle_participation_reference(spark, tmp_path):
    """Random baskets -> brute-force triangle enumeration over the
    co-purchase adjacency, per-node counts and milli clustering."""
    rng = random.Random(_SEED)
    rows = []
    for o in range(60):
        basket = rng.sample(range(25), rng.randrange(2, 6))
        rows.extend((o, p) for p in basket)
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    adj = defaultdict(set)
    baskets = defaultdict(set)
    for o, p in rows:
        baskets[o].add(p)
    for basket in baskets.values():
        for a, b in itertools.combinations(sorted(basket), 2):
            adj[a].add(b)
            adj[b].add(a)
    tri = Counter()
    nodes = sorted(adj)
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    expected = {}
    for v, t in tri.items():
        d = len(adj[v])
        expected[v] = (t, d, 2000 * t // (d * (d - 1)))
    top = sorted(expected.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]

    got = [
        (r["partkey"], (r["n_triangles"], r["n_neighbors"], r["clustering_milli"]))
        for r in registry.QUERIES["part_triangle_participation"](
            spark, str(tmp_path)
        ).collect()
    ]
    assert got == top


# --------------------------------------------------------------------------
# Corpus source divergence (textstats)
# --------------------------------------------------------------------------


def test_corpus_source_divergence_reference(spark, tmp_path):
    rng = random.Random(_SEED)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = []
    for d in range(80):
        src = f"s{rng.randrange(4)}"
        # source s3 skews hard toward one word: real drift to detect
        weights = [8, 1, 1, 1, 1, 1] if src == "s3" else [1] * 6
        text = " ".join(rng.choices(vocab, weights=weights, k=rng.randrange(3, 9)))
        rows.append((d, text, "en", src, len(text)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    cnt = defaultdict(Counter)
    for _, text, _, src, _ in rows:
        cnt[src].update(text.split(" "))
    total = Counter()
    for c in cnt.values():
        total.update(c)
    t_all = sum(total.values())
    expected = {}
    for src, c in cnt.items():
        t_s = sum(c.values())
        t_r = t_all - t_s
        num = sum(
            abs(c.get(w, 0) * t_r - (total[w] - c.get(w, 0)) * t_s) for w in total
        )
        expected[src] = (t_s, 500 * num // (t_s * t_r))

    got = {
        r["source"]: (r["n_tokens"], r["tv_permille_vs_rest"])
        for r in registry.QUERIES["corpus_source_divergence"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == expected
    # the skewed source must read as the most divergent
    assert max(expected, key=lambda s: expected[s][1]) == "s3"


# --------------------------------------------------------------------------
# Trigram paths (relational_ext)
# --------------------------------------------------------------------------


def test_top_trigram_paths_reference(spark, tmp_path):
    rows = _mk_events(n_users=25, n_events=400)
    spark.createDataFrame(rows, _EV_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))

    per_user = defaultdict(list)
    for eid, ts, uid, etype, _, _ in rows:
        per_user[uid].append((ts, eid, etype))
    tri = Counter()
    for uid, evs in per_user.items():
        evs.sort()
        for i in range(2, len(evs)):
            tri[f"{evs[i - 2][2]}>{evs[i - 1][2]}>{evs[i][2]}"] += 1
    top = sorted(tri.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    got = [
        (r["path"], r["n_paths"])
        for r in registry.QUERIES["events_top_trigram_paths"](
            spark, str(tmp_path)
        ).collect()
    ]
    assert got == top


# --------------------------------------------------------------------------
# Winsorized stats (relational_ext)
# --------------------------------------------------------------------------


def test_winsorized_stats_reference(spark, tmp_path):
    rng = random.Random(_SEED)
    rows = []
    for ok in range(300):
        flag = rng.choice(["A", "N", "R"])
        # heavy right tail so the p99 fence actually clips
        price = rng.uniform(10, 100) * (100 if rng.random() < 0.03 else 1)
        rows.append((ok, 1, flag, round(price, 2)))
    schema = (
        "l_orderkey long, l_linenumber int, l_returnflag string, "
        "l_extendedprice double"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))

    by_flag = defaultdict(list)
    for ok, ln, flag, price in rows:
        by_flag[flag].append((int(price * 10000 + 0.5), ok, ln))
    expected = {}
    clipped_somewhere = False
    for flag, vals in by_flag.items():
        vals.sort()
        n = len(vals)
        units = [v[0] for v in vals]
        p01 = units[max(1, n // 100) - 1]
        p99 = units[max(1, n * 99 // 100) - 1]
        lo = sum(1 for v in units if v < p01)
        hi = sum(1 for v in units if v > p99)
        clipped_somewhere |= hi > 0
        wsum = sum(min(max(v, p01), p99) for v in units)
        expected[flag] = (
            n, p01, p99, lo, hi, sum(units) // n, wsum // n,
        )
    assert clipped_somewhere  # fixture must exercise the clamp

    got = {
        r["flag"]: (
            r["n_rows"], r["p01_units"], r["p99_units"], r["n_clamped_low"],
            r["n_clamped_high"], r["mean_units_raw"],
            r["mean_units_winsorized"],
        )
        for r in registry.QUERIES["lineitem_winsorized_stats"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == expected


# --------------------------------------------------------------------------
# Backlog over time (relational_ext)
# --------------------------------------------------------------------------


def test_backlog_reference_counts_open_intervals(spark, tmp_path):
    """The delta-sum backlog at each emitted day must equal the brute
    count of orders whose [open, last_ship] interval covers that day."""
    rng = random.Random(_SEED)
    d0 = dt.date(2024, 1, 1)
    orders, lines = [], []
    for ok in range(120):
        open_off = rng.randrange(60)
        orders.append((ok, dt.datetime.combine(d0 + dt.timedelta(days=open_off),
                                               dt.time())))
        for ln in range(1, rng.randrange(1, 4) + 1):
            ship = open_off + rng.randrange(1, 30)
            lines.append((ok, ln,
                          dt.datetime.combine(d0 + dt.timedelta(days=ship),
                                              dt.time())))
    spark.createDataFrame(orders, "o_orderkey long, o_orderdate timestamp") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines, "l_orderkey long, l_linenumber int, l_shipdate timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )

    close = defaultdict(lambda: None)
    for ok, _, ship in lines:
        c = close[ok]
        close[ok] = ship.date() if c is None or ship.date() > c else c
    spans = {ok: (od.date(), close[ok]) for ok, od in orders if ok in close}

    got = {
        r["day"]: (r["n_opened"], r["n_closed"], r["backlog"])
        for r in registry.QUERIES["orders_backlog_over_time"](
            spark, str(tmp_path)
        ).collect()
    }
    for day, (n_o, n_c, backlog) in got.items():
        brute = sum(1 for o, c in spans.values() if o <= day <= c)
        assert backlog == brute, day
        assert n_o == sum(1 for o, _ in spans.values() if o == day)
        assert n_c == sum(
            1 for _, c in spans.values() if c + dt.timedelta(days=1) == day
        )
    # emitted days must cover every open and every close+1 day
    expect_days = {o for o, _ in spans.values()} | {
        c + dt.timedelta(days=1) for _, c in spans.values()
    }
    assert set(got) == expect_days


# --------------------------------------------------------------------------
# RFM segments (relational_ext) — ntile semantics pinned
# --------------------------------------------------------------------------


def _ntile5(ordered_keys):
    """Standard NTILE: equal buckets, remainder to the FIRST buckets."""
    n = len(ordered_keys)
    base, rem = divmod(n, 5)
    out, i = {}, 0
    for b in range(1, 6):
        size = base + (1 if b <= rem else 0)
        for k in ordered_keys[i : i + size]:
            out[k] = b
        i += size
    return out


def test_rfm_segments_reference(spark, tmp_path):
    rng = random.Random(_SEED)
    d0 = dt.date(2024, 1, 1)
    rows = []
    ok = 0
    for cust in range(37):
        for _ in range(rng.randrange(1, 8)):
            rows.append(
                (
                    ok,
                    cust,
                    dt.datetime.combine(
                        d0 + dt.timedelta(days=rng.randrange(120)), dt.time()
                    ),
                    round(rng.uniform(10, 5000), 2),
                )
            )
            ok += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))

    per = {}
    for _, cust, od, price in rows:
        last, freq, mon = per.get(cust, (dt.date.min, 0, 0))
        per[cust] = (
            max(last, od.date()),
            freq + 1,
            mon + int(price * 10000 + 0.5),
        )
    anchor = max(v[0] for v in per.values())
    rec = {c: (anchor - v[0]).days for c, v in per.items()}
    r = _ntile5(sorted(per, key=lambda c: (-rec[c], c)))
    f = _ntile5(sorted(per, key=lambda c: (per[c][1], c)))
    m = _ntile5(sorted(per, key=lambda c: (per[c][2], c)))
    cells = defaultdict(lambda: [0, 0, 0])
    for c in per:
        cell = r[c] * 100 + f[c] * 10 + m[c]
        cells[cell][0] += 1
        cells[cell][1] += per[c][2]
        cells[cell][2] += per[c][1]
    expected = {
        cell: (n, mon // n, freq // n) for cell, (n, mon, freq) in cells.items()
    }

    got = {
        row["rfm_cell"]: (
            row["n_customers"],
            row["avg_monetary_units"],
            row["avg_frequency"],
        )
        for row in registry.QUERIES["customer_rfm_segments"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == expected


# --------------------------------------------------------------------------
# Substitution candidates (relational_ext) — level-neighbor exactness
# --------------------------------------------------------------------------


def _brute_subs(parts):
    """parts: list of (partkey, type, units). Brute top-3 by
    (diff, sub_partkey) within 5% band."""
    out = {}
    for pk, t, u in parts:
        cand = [
            (abs(u - su), sk, su)
            for sk, st, su in parts
            if st == t and sk != pk and abs(u - su) * 20 <= min(u, su)
        ]
        cand.sort()
        out[pk] = [(i + 1, sk, u, su, d) for i, (d, sk, su) in enumerate(cand[:3])]
    return {pk: rows for pk, rows in out.items() if rows}


def _run_subs(spark, tmp_path, parts):
    spark.createDataFrame(
        [(pk, t, u / 10000.0) for pk, t, u in parts],
        "p_partkey long, p_type string, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    got = defaultdict(list)
    for r in (
        registry.QUERIES["part_substitution_candidates"](spark, str(tmp_path))
        .collect()
    ):
        got[r["partkey"]].append(
            (
                r["sub_rank"],
                r["sub_partkey"],
                r["price_units"],
                r["sub_price_units"],
                r["diff_units"],
            )
        )
    return {pk: sorted(rows) for pk, rows in got.items()}


def test_substitution_heavy_price_ties(spark, tmp_path):
    """A 9-part equal-price block: the true top-3 are the 3 smallest
    OTHER partkeys of the block — the case a +/-k positional
    neighbor scan would break and the level pool must not."""
    parts = [(pk, "t", 5_000_000) for pk in range(9)]
    parts += [(100, "t", 5_100_000), (101, "t", 9_999_999)]
    assert _run_subs(spark, tmp_path, parts) == _brute_subs(parts)


def test_substitution_fuzz_vs_bruteforce(spark, tmp_path):
    rng = random.Random(_SEED)
    parts = []
    for pk in range(150):
        t = rng.choice(["a", "b", "c"])
        # mix of dense ties and spread values, incl. sparse levels
        u = rng.choice(
            [1_000_000, 1_010_000, 1_020_000, 1_030_000, 1_040_000,
             rng.randrange(900_000, 1_200_000)]
        )
        parts.append((pk, t, u))
    assert _run_subs(spark, tmp_path, parts) == _brute_subs(parts)


# --------------------------------------------------------------------------
# Multi-touch attribution (relational_ext) — credit conservation
# --------------------------------------------------------------------------


def test_multitouch_credit_is_conserved(spark, sf_dir):
    """Every converted purchase with >=1 touch distributes EXACTLY
    1000 milli-credits, so the channel totals must sum to 1000 x that
    purchase count — the invariant integer floor shares + remainder-
    to-first exist to protect."""
    from pyspark.sql import functions as F

    from env_data_pipeline_spark.catalog import table

    out = registry.QUERIES["events_multitouch_attribution"](spark, sf_dir)
    total_credit = out.agg(F.sum("credit_milli_total")).collect()[0][0]

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    from env_data_pipeline_spark.plans.relational_ext import _MT_WINDOW_MIN

    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"), F.col("ts").alias("t_ts")
    )
    converted = (
        p.join(
            t,
            (F.col("t_user") == F.col("p_user"))
            & (
                F.col("t_ts")
                >= F.col("p_ts") - F.expr(f"INTERVAL {_MT_WINDOW_MIN} MINUTES")
            )
            & (F.col("t_ts") < F.col("p_ts")),
            "left_semi",
        )
        .count()
    )
    assert converted > 0, "fixture must convert"
    assert total_credit == 1000 * converted


# --------------------------------------------------------------------------
# Weekly growth accounting + Pareto concentration — invariants
# --------------------------------------------------------------------------


def test_new_vs_returning_partitions_active(spark, sf_dir):
    """new + returning must equal active in EVERY week, and total new
    across all weeks must equal the distinct-user count (each user is
    new exactly once)."""
    from pyspark.sql import functions as F

    from env_data_pipeline_spark.catalog import table

    out = registry.QUERIES["events_new_vs_returning_weekly"](spark, sf_dir)
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["n_new_users"] + r["n_returning_users"] == r["n_active_users"], r
    total_new = sum(r["n_new_users"] for r in rows)
    n_users = (
        table(spark, sf_dir, "events").agg(
            F.countDistinct("user_id").alias("n")
        ).collect()[0]["n"]
    )
    assert total_new == n_users


def test_revenue_concentration_invariants(spark, sf_dir):
    """Ten deciles of near-equal size; shares sum to 1000 minus floor
    loss (<10); decile 1 (top spenders) holds the largest share."""
    out = {
        r["decile"]: (r["n_customers"], r["rev_units"], r["share_permille"])
        for r in registry.QUERIES["customer_revenue_concentration"](
            spark, sf_dir
        ).collect()
    }
    assert set(out) == set(range(1, 11))
    sizes = [out[d][0] for d in range(1, 11)]
    assert max(sizes) - min(sizes) <= 1
    share_sum = sum(out[d][2] for d in range(1, 11))
    assert 990 < share_sum <= 1000
    assert out[1][2] == max(out[d][2] for d in range(1, 11))
    # rank order guarantees per-ROW dominance, so SUM dominance is an
    # invariant only between EQUAL-SIZE adjacent deciles (a larger
    # later decile can out-sum a smaller earlier one)
    for d in range(1, 10):
        if out[d][0] == out[d + 1][0]:
            assert out[d][1] >= out[d + 1][1], d


# --------------------------------------------------------------------------
# orders_pit_prior_features — pure-Python point-in-time reference
# --------------------------------------------------------------------------


def test_pit_prior_features_reference(spark, tmp_path):
    """Random orders fixture (with deliberate same-customer same-date
    ties): every row of the PIT feature join must equal a brute-force
    Python scan — strictly-prior max-date, max-orderkey tiebreak,
    NULL features for a customer's first order."""
    rng = random.Random(11)
    t0 = dt.datetime(2023, 1, 1)
    rows = []
    for okey in range(300):
        cust = rng.randrange(25)
        # coarse date grid so same-(cust, date) ties actually occur
        date = t0 + dt.timedelta(days=rng.randrange(40))
        rows.append(
            (okey, cust, rng.choice("OFP"), round(rng.uniform(1e3, 5e5), 2),
             date, rng.choice(["1-URGENT", "3-MEDIUM", "5-LOW"]))
        )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(2).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )

    def ref_prior(okey, cust, date):
        prior = [r for r in rows if r[1] == cust and r[4] < date]
        if not prior:
            return (None, None, None, None)
        best_date = max(r[4] for r in prior)
        best = max(r for r in prior if r[4] == best_date)  # max orderkey
        return (
            best[0],
            round(best[3], 4),
            best[5],
            (date.date() - best_date.date()).days,
        )

    got = {
        r["o_orderkey"]: (
            r["prior_orderkey"],
            r["prior_totalprice"],
            r["prior_priority"],
            r["days_since_prior"],
        )
        for r in registry.QUERIES["orders_pit_prior_features"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(got) == 300
    for okey, cust, _st, _tp, date, _pr in rows:
        assert got[okey] == ref_prior(okey, cust, date), okey


# --------------------------------------------------------------------------
# dedup_delta_vs_corpus — planted-copy detector
# --------------------------------------------------------------------------


def test_delta_dedup_rejects_planted_copy(spark, tmp_path):
    """A delta doc (id % 10 == 7) that copies a corpus doc must be
    REJECTED with the copied doc as best match at Jaccard 1.0; a delta
    doc with unique text must be ADMITTED with zero candidates.
    Doc ids avoid % 50 in {0, 25} so the fixture's augmentation layer
    stays empty."""
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles watch quietly from the river bank at dawn"
    )
    uniq = (
        "completely different content about distributed query engines "
        "shuffling partitions across a thousand executor machines"
    )
    docs = [
        (3, base, "web"),
        (7, base, "web"),     # delta copy of corpus doc 3 -> reject
        (17, uniq, "web"),    # unique delta -> admit
        (11, "short filler text one two three four five six", "web"),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r["delta_id"]: r
        for r in registry.QUERIES["dedup_delta_vs_corpus"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {7, 17}
    assert not out[7]["admitted"]
    assert out[7]["best_match_doc"] == 3
    assert out[7]["best_jaccard"] == 1.0
    assert out[17]["admitted"]
    assert out[17]["n_candidates"] == 0
    assert out[17]["best_match_doc"] is None


# --------------------------------------------------------------------------
# events_hll_distinct_by_type — pure-Python HLL replica + accuracy
# --------------------------------------------------------------------------


def test_hll_matches_python_replica_and_accuracy(spark, tmp_path):
    """Fixture with three orders of magnitude of per-type cardinality
    (12 / 400 / 9000 distinct users). The engine's HLL report must
    EXACTLY equal a pure-Python replica of the md5 register pipeline
    (third implementation, independent of Spark and DuckDB), and the
    estimates must land within 25% of truth — raw HLL's ~13% 1-sigma
    at m=64, with the precomputed linear-counting table covering the
    small-range regime."""
    import hashlib

    from env_data_pipeline_spark.extensions import sketches as SK

    spec = {"tiny": 12, "mid": 400, "big": 9000}
    rows = []
    eid = 0
    for etype, n_users in spec.items():
        for u in range(n_users):
            # distinct user spaces per type via offset
            uid = u + {"tiny": 0, "mid": 10_000, "big": 100_000}[etype]
            rows.append((eid, dt.datetime(2024, 5, 1), uid, etype, 1.0, "{}"))
            eid += 1
            if u % 3 == 0:  # repeats must not move the sketch
                rows.append(
                    (eid, dt.datetime(2024, 5, 2), uid, etype, 2.0, "{}")
                )
                eid += 1
    _write_events(spark, tmp_path, rows)

    def py_hll(uids):
        regs = {}
        for uid in uids:
            h = int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16)
            idx = h % SK.HLL_M
            w = (h >> 6) & ((1 << SK.HLL_WBITS) - 1)
            rank = (
                SK.HLL_WBITS + 1 if w == 0
                else SK.HLL_WBITS + 1 - w.bit_length()
            )
            regs[idx] = max(regs.get(idx, 0), rank)
        n_hit = len(regs)
        s = sum(1 << (SK.HLL_WBITS + 1 - m) for m in regs.values()) + (
            SK.HLL_M - n_hit
        ) * (1 << (SK.HLL_WBITS + 1))
        raw = SK.HLL_EST_NUM // (SK.HLL_ALPHA_DEN * s)
        if raw <= SK.HLL_LC_THRESHOLD and n_hit < SK.HLL_M:
            return n_hit, SK.HLL_LC[SK.HLL_M - n_hit - 1]
        return n_hit, raw

    got = {
        r["event_type"]: (
            r["n_registers_hit"], r["hll_estimate"], r["true_distinct"]
        )
        for r in registry.QUERIES["events_hll_distinct_by_type"](
            spark, str(tmp_path)
        ).collect()
    }
    by_type = defaultdict(set)
    for _e, _t, uid, etype, _v, _p in rows:
        by_type[etype].add(uid)
    all_uids = set().union(*by_type.values())
    for etype, uids in {**by_type, "ALL": all_uids}.items():
        n_hit, est = py_hll(uids)
        assert got[etype] == (n_hit, est, len(uids)), etype
        assert abs(est - len(uids)) / len(uids) <= 0.25, (etype, est)


def test_hll_streaming_refresh_equals_batch(spark, sf_dir):
    """Max-merge across micro-batch boundaries must reproduce the
    one-shot sketch exactly."""
    from env_data_pipeline_spark.plans.incremental import (
        streaming_hll_sketch_refresh,
    )

    streamed = sorted(
        map(tuple, streaming_hll_sketch_refresh(spark, sf_dir).collect())
    )
    batch = sorted(
        map(
            tuple,
            registry.QUERIES["events_hll_distinct_by_type"](
                spark, sf_dir
            ).collect(),
        )
    )
    assert streamed == batch


# --------------------------------------------------------------------------
# events_rapid_repeat_pairs — bucket-boundary edge cases
# --------------------------------------------------------------------------


def test_rapid_repeat_bucket_boundary_semantics(spark, tmp_path):
    """The cases the bucketization exists for: a pair straddling the
    5-minute bucket boundary is found, a gap of exactly the horizon is
    included, one microsecond past is excluded, same-timestamp pairs
    order by event_id, and cross-user pairs never match."""
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)

    def ev(eid, sec, uid, us=0):
        return (
            eid,
            t0 + dt.timedelta(seconds=sec, microseconds=us),
            uid, "view", 1.0, "{}",
        )

    # bucket width = 300 s; t0 is bucket-aligned (epoch % 300 checked
    # irrelevant: only RELATIVE straddling matters for coverage)
    rows = [
        ev(1, 299, 1), ev(2, 301, 1),      # straddles a bucket edge, gap 2
        ev(3, 1000, 2), ev(4, 1300, 2),    # gap exactly 300 -> included
        ev(5, 2000, 3), ev(6, 2300, 3, 1), # gap 300.000001 -> excluded
        ev(7, 3000, 4), ev(8, 3000, 4),    # same ts -> ordered by id
        ev(9, 4000, 5), ev(10, 4001, 6),   # different users -> no pair
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        (r["first_event_id"], r["next_event_id"], r["gap_s"])
        for r in registry.QUERIES["events_rapid_repeat_pairs"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {(1, 2, 2), (3, 4, 300), (7, 8, 0)}, got


# --------------------------------------------------------------------------
# dedup_canonical_text — normalization semantics
# --------------------------------------------------------------------------


def test_canonical_dedup_groups_variants_not_strangers(spark, tmp_path):
    """Case/punctuation/whitespace variants group; distinct texts and
    genuinely different words never do. Fixture ids avoid the query's
    own plant (% 40 == 13) so the groups below are exactly the planted
    ones."""
    docs = [
        (1, "Hello, World!  How are you?", "web"),
        (2, "hello world how are you", "web"),
        (3, "HELLO   world; how ARE you...", "web"),
        (4, "a completely different document", "web"),
        (5, "hello world how are you today", "web"),  # extra word -> no
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = registry.QUERIES["dedup_canonical_text"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 1
    (g,) = rows
    assert g["n_docs"] == 3
    assert g["representative_doc_id"] == 1
    assert g["n_raw_variants"] == 3


# --------------------------------------------------------------------------
# customer_ltv_cohort_curve — pure-Python cohort accounting
# --------------------------------------------------------------------------


def test_ltv_cohort_curve_reference(spark, tmp_path):
    """Random orders fixture: every (cohort, age) cell of the LTV curve
    must equal a brute-force Python cohort accounting — first-order
    month cohorts, month-index age, half-up 1e-4-unit money, floor
    per-customer cumulative LTV."""
    import math

    rng = random.Random(23)
    t0 = dt.datetime(2022, 1, 1)
    rows = []
    for okey in range(400):
        cust = rng.randrange(30)
        date = t0 + dt.timedelta(days=rng.randrange(700))
        rows.append((okey, cust, "O", round(rng.uniform(10, 9e5), 2), date,
                     "3-MEDIUM"))
    # pin a DECEMBER cohort: the month-label inversion of
    # midx = year*12 + month wrapped 12 -> next year's -01 before the
    # r8 review fix, and only a December first order can catch that
    rows.append((400, 99, "O", 1234.56, dt.datetime(2022, 12, 15),
                 "3-MEDIUM"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(2).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )

    midx = lambda d: d.year * 12 + d.month
    units = lambda p: math.floor(p * 10000 + 0.5)
    first = {}
    for _o, cust, _s, _p, date, _pr in rows:
        first[cust] = min(first.get(cust, 10**9), midx(date))
    sizes = Counter(first.values())
    cells = defaultdict(lambda: [set(), 0])
    for _o, cust, _s, price, date, _pr in rows:
        key = (first[cust], midx(date) - first[cust])
        cells[key][0].add(cust)
        cells[key][1] += units(price)
    got = {
        (r["cohort_month"], r["age_month"]): (
            r["n_cohort_customers"], r["n_active_customers"],
            r["revenue"], r["cum_ltv_per_customer"],
        )
        for r in registry.QUERIES["customer_ltv_cohort_curve"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(got) == len(cells)
    for (cidx, age), (active, rev_u) in sorted(cells.items()):
        cum_u = sum(
            v[1] for (c2, a2), v in cells.items() if c2 == cidx and a2 <= age
        )
        label = f"{(cidx - 1) // 12}-{(cidx - 1) % 12 + 1:02d}"
        assert got[(label, age)] == (
            sizes[cidx],
            len(active),
            rev_u / 10000.0,
            (cum_u // sizes[cidx]) / 10000.0,
        ), (label, age)


# --------------------------------------------------------------------------
# phash kernel — injectable-hasher seam + locality property
# --------------------------------------------------------------------------


def test_phash_dct_properties_and_hasher_swap(spark):
    """The default kernel is a REAL integer-DCT pHash: (a) exactly
    brightness-invariant (gain +k flips zero bits — the rounded basis
    rows for u >= 1 sum to exactly 0), (b) local-edit tolerant (one
    byte edited lands at small nibble-Hamming), (c) discriminative
    (unrelated payloads differ in most nibbles), and (d) the
    injectable-hasher seam still works through the Arrow kernel."""
    import random

    from env_data_pipeline_spark.extensions import multimodal as M

    # basis rows u >= 1 sum to exactly 0 -> AC brightness invariance
    basis = M.dct_basis()
    assert [sum(row) for row in basis[1:]] == [0] * 7

    rng = random.Random(41)
    base = bytes(rng.randrange(32, 127) for _ in range(700))
    edited = bytes([90] * 30) + base[30:]  # ~4% of pixels rewritten
    other = bytes(rng.randrange(32, 127) for _ in range(700))
    assets = spark.createDataFrame(
        [
            (1, bytearray(base), 0),
            (2, bytearray(base), 5),  # brightness-shifted copy
            (3, bytearray(edited), 0),
            (4, bytearray(other), 0),
        ],
        "asset_id long, payload binary, gain int",
    )
    fps = {
        r["asset_id"]: r["phash"]
        for r in M.phash_fingerprints(assets).collect()
    }
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert len(fps[1]) == 16
    assert fps[1] == M.dct_phash(base)  # kernel == local function
    assert fps[2] == M.dct_phash(base, 5)
    assert ham(fps[1], fps[2]) == 0  # exact brightness invariance
    assert ham(fps[1], fps[3]) <= 6  # local edit stays near
    assert ham(fps[1], fps[4]) >= 10  # unrelated lands far

    fake = {
        r["asset_id"]: r["phash"]
        for r in M.phash_fingerprints(
            assets, hasher=lambda payload, gain: "f" * 16
        ).collect()
    }
    assert fake == {i: "f" * 16 for i in (1, 2, 3, 4)}


def test_daily_percentiles_reference(spark, tmp_path):
    """Exact-percentile definition pinned against a Python sort:
    value at rank ceil(q*n) under (value, event_id) order, per day."""
    import math

    rng = random.Random(31)
    t0 = dt.datetime(2024, 7, 1)
    rows = []
    for eid in range(500):
        ts = t0 + dt.timedelta(days=rng.randrange(4), seconds=rng.randrange(86400))
        rows.append((eid, ts, rng.randrange(9), "view", round(rng.uniform(0, 100), 3), "{}"))
    _write_events(spark, tmp_path, rows)
    by_day = defaultdict(list)
    for eid, ts, _u, _t, v, _p in rows:
        by_day[ts.strftime("%Y-%m-%d")].append((v, eid))
    got = {
        r["day"]: (r["n_events"], r["p50"], r["p90"], r["p99"])
        for r in registry.QUERIES["events_daily_value_percentiles"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == set(by_day)
    for day, vals in by_day.items():
        vals.sort()
        n = len(vals)
        pick = lambda q_num, q_den: vals[
            (q_num * n + q_den - 1) // q_den - 1
        ][0]
        assert got[day] == (n, pick(1, 2), pick(9, 10), pick(99, 100)), day


def test_lifecycle_weekly_reference(spark, tmp_path):
    """Sparse random activity: every weekly lifecycle cell must equal
    a brute-force Python state machine (new / retained / resurrected /
    churned-at-week-of-absence, no churn past the last observed
    week)."""
    rng = random.Random(41)
    t0 = dt.datetime(2024, 1, 1)  # a Monday
    rows, eid = [], 0
    for uid in range(30):
        for wk in sorted(rng.sample(range(12), rng.randrange(1, 8))):
            rows.append(
                (eid, t0 + dt.timedelta(weeks=wk, days=rng.randrange(7)),
                 uid, "view", 1.0, "{}")
            )
            eid += 1
    _write_events(spark, tmp_path, rows)

    active = defaultdict(set)
    for _e, ts, uid, _t, _v, _p in rows:
        active[uid].add((ts.date() - dt.date(1970, 1, 5)).days // 7)
    gmax = max(w for s in active.values() for w in s)
    ref = defaultdict(lambda: [0, 0, 0, 0])  # new, ret, res, churn
    for uid, weeks in active.items():
        ws = sorted(weeks)
        for i, wk in enumerate(ws):
            if i == 0:
                ref[wk][0] += 1
            elif ws[i - 1] == wk - 1:
                ref[wk][1] += 1
            else:
                ref[wk][2] += 1
            nxt = ws[i + 1] if i + 1 < len(ws) else None
            if (nxt is None and wk < gmax) or (nxt is not None and nxt > wk + 1):
                ref[wk + 1][3] += 1
    got = {
        r["week_start"]: (
            r["n_new"], r["n_retained"], r["n_resurrected"], r["n_churned"]
        )
        for r in registry.QUERIES["events_user_lifecycle_weekly"](
            spark, str(tmp_path)
        ).collect()
    }
    label = lambda w: (
        dt.date(1970, 1, 5) + dt.timedelta(weeks=w)
    ).strftime("%Y-%m-%d")
    assert got == {label(w): tuple(v) for w, v in ref.items()}


def test_streaming_dedup_index_sequential_semantics(spark, tmp_path):
    """Planted arrival-order scenario for the ingest-gate index:
    within-batch first-occurrence-wins, cross-batch rejection only by
    ADMITTED earlier docs, and the transitive rule (a doc whose only
    verified twin was itself rejected still gets rejected, because
    that twin's content is in the corpus through ITS admitted
    ancestor). Batch = doc_id % 4. Doc ids avoid % 50 in {0, 25} so
    the augmentation layer stays empty."""
    T1 = "alpha beta gamma delta epsilon zeta eta theta"
    T2 = "one two three four five six seven eight nine"
    T3 = "red orange yellow green blue indigo violet colors"
    T4 = "spark duck oracle parity shuffle partition broadcast join"
    docs = [
        (4, T1), (8, T1),          # batch 0: 4 admitted, 8 rejected by 4
        (5, T1),                   # batch 1: rejected by admitted 4
        (9, T3),                   # batch 1: unique -> admitted
        (6, T2),                   # batch 2: admitted
        (7, T2),                   # batch 3: rejected by admitted 6
        (12, T4), (16, T4),        # batch 0: 12 admitted, 16 rejected
        (13, T4),                  # batch 1: rejected by admitted 12
    ]
    spark.createDataFrame(
        [(i, t, "web") for i, t in docs],
        "doc_id long, text string, source string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["batch_id"], r["admitted"], r["n_conflicts"])
        for r in registry.QUERIES["streaming_dedup_index_refresh"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        4: (0, True, 0),
        8: (0, False, 1),
        5: (1, False, 1),
        9: (1, True, 0),
        6: (2, True, 0),
        7: (3, False, 1),
        12: (0, True, 0),
        16: (0, False, 1),
        13: (1, False, 1),
    }, got


def test_supplier_concentration_reference(spark, tmp_path):
    """Tiny lineitem fixture with a known dominant supplier and an
    exact tie: shares, ranks and the larger-suppkey tie resolution
    must match hand-computed values."""
    rows = [
        # part 1: supplier 10 dominates 3:1 (share 750)
        (1, 1, 10, 1, 1.0, 300.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
        (2, 1, 11, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
        # part 2: exact 50/50 tie -> larger suppkey 21 wins, share 500
        (3, 2, 20, 1, 1.0, 200.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
        (4, 2, 21, 1, 1.0, 200.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
        # part 3: single supplier -> share 1000
        (5, 3, 30, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = [
        (r["partkey"], r["n_suppliers"], r["top_suppkey"],
         r["top_share_permille"], r["total_revenue"])
        for r in registry.QUERIES["part_supplier_concentration"](
            spark, str(tmp_path)
        ).collect()
    ]
    assert got == [
        (3, 1, 30, 1000, 50.0),
        (1, 2, 10, 750, 400.0),
        (2, 2, 21, 500, 400.0),
    ], got


# --------------------------------------------------------------------------
# BPE-approximation tokenizer — greedy longest-match golden replay
# --------------------------------------------------------------------------


def test_bpe_word_tokens_match_python_greedy(spark, sf_dir):
    """The HOF-folded greedy walk (extensions/bpe.py) must equal a
    straight Python greedy longest-match over the same vocab for
    every distinct corpus word, and segment counts must genuinely
    compress (some word shorter than its character count) while
    covering every word (count >= 1, <= len)."""
    from env_data_pipeline_spark.extensions import bpe as B
    from env_data_pipeline_spark.sources.fixtures import ensure_fixtures
    from env_data_pipeline_spark.catalog import table

    (vocab_df,) = ensure_fixtures(spark, sf_dir, ("bpe_vocab",))
    vocab = {r["piece"] for r in vocab_df.collect()}
    docs = table(spark, sf_dir, "documents")
    got = {
        r["word"]: r["n_bpe"]
        for r in B.word_tokens(docs, vocab_df).collect()
    }

    def greedy(w: str) -> int:
        p = c = 0
        while p < len(w):
            step = 1
            for l in (4, 3, 2):
                if p + l <= len(w) and w[p : p + l] in vocab:
                    step = l
                    break
            p += step
            c += 1
        return c

    assert got, "no words tokenized"
    mism = {w: (n, greedy(w)) for w, n in got.items() if n != greedy(w)}
    assert not mism, mism
    assert all(1 <= n <= len(w) for w, n in got.items())
    assert any(n < len(w) for w, n in got.items()), (
        "no compression: merges table is not merging anything"
    )
    # the unrolled walk bound must dominate the corpus
    assert max(len(w) for w in got) <= B.MAX_WORD_LEN


def test_user_value_gini_reference(spark, tmp_path):
    """Exact rank-sum Gini identity pinned against a Python replay on
    a skewed fixture: G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
    over ascending (micro-value, user_id) ranks, reported as
    truncating integer permille."""
    rng = random.Random(23)
    t0 = dt.datetime(2024, 5, 1)
    rows = []
    for eid in range(400):
        uid = rng.randrange(30)
        # whales: a few users carry most of the value
        v = rng.uniform(500, 900) if uid < 3 else rng.uniform(0, 20)
        rows.append(
            (eid, t0 + dt.timedelta(seconds=eid), uid,
             rng.choice(["view", "click"]), round(v, 3), "{}")
        )
    _write_events(spark, tmp_path, rows)
    got = {
        r["event_type"]: (r["n_users"], r["gini_permille"])
        for r in registry.QUERIES["events_user_value_gini"](
            spark, str(tmp_path)
        ).collect()
    }
    import math

    by_type = defaultdict(lambda: defaultdict(int))
    for _e, _t, uid, et, v, _p in rows:
        by_type[et][uid] += math.floor(v * 10000 + 0.5)
    ref = {}
    for et, users in by_type.items():
        xs = sorted((x, u) for u, x in users.items())
        n = len(xs)
        sx = sum(x for x, _ in xs)
        six = sum((i + 1) * x for i, (x, _) in enumerate(xs))
        num = 1000 * (2 * six - (n + 1) * sx)
        den = n * sx
        g = -((-num) // den) if num < 0 else num // den
        ref[et] = (n, g)
    assert got == ref
    # whales must register: heavy concentration on this fixture
    assert all(g >= 500 for _, g in got.values())


def test_survivorship_funnel_stage_semantics(spark, sf_dir):
    """Funnel invariants on the real corpus: counts chain
    (n_out[k] == n_in[k+1]), every stage drops a non-negative count,
    every PLANTED class is gone by its own stage — exact plants
    (offset 1e7) by stage 1, canonical plants (9e6) by stage 2,
    boilerplate-paragraph plants (3e7, r10) by stage 3, near plants
    (2e7) by stage 4 — and the planted drop counts are lower bounds
    on each stage's n_dropped."""
    from env_data_pipeline_spark.plans.extensions import (
        _CANON_MOD,
        _CANON_REM,
        _PARA_MOD,
        _PARA_REM,
    )
    from env_data_pipeline_spark.catalog import table
    from pyspark.sql import functions as F

    rows = {
        r["stage_id"]: r
        for r in registry.QUERIES["corpus_dedup_survivorship_funnel"](
            spark, sf_dir
        ).collect()
    }
    assert sorted(rows) == [0, 1, 2, 3, 4, 5]
    for k in range(5):
        assert rows[k]["n_out"] == rows[k + 1]["n_in"]
    assert rows[0]["n_dropped"] == 0
    assert all(rows[k]["n_dropped"] >= 0 for k in rows)

    docs = table(spark, sf_dir, "documents")
    n_exact = docs.filter(F.col("doc_id") % 50 == 0).count()
    n_near = docs.filter(F.col("doc_id") % 50 == 25).count()
    n_canon = docs.filter(
        F.col("doc_id") % _CANON_MOD == _CANON_REM
    ).count()
    n_boiler = docs.filter(
        F.col("doc_id") % _PARA_MOD == _PARA_REM
    ).count()
    assert n_boiler > 0
    assert rows[1]["n_dropped"] >= n_exact
    assert rows[2]["n_dropped"] >= n_canon
    assert rows[3]["n_dropped"] >= n_boiler
    assert rows[4]["n_dropped"] >= n_near


def test_paragraph_dedup_alignment_semantics(spark, tmp_path):
    """Window-grain paragraph dedup on a handcrafted corpus: an exact
    copy reads 1000 permille (dropped); a shift-by-one copy shares NO
    aligned window (absent from the dup report — that near-dup is the
    MinHash tier's job); a doc that repeats one boilerplate window
    internally registers it; unique docs are absent."""
    from env_data_pipeline_spark.plans.extensions import (
        _PARA_W,
        paragraph_doc_stats,
    )

    w = [f"w{i}" for i in range(_PARA_W * 3)]
    base = " ".join(w)  # 3 windows
    shifted = " ".join(w[1:])  # same words, alignment broken
    boiler = " ".join(w[:_PARA_W])
    selfrep = " ".join([boiler] * 2 + ["tail"])  # window repeated 2x
    docs = [
        (0, base),
        (1, base),  # exact copy of 0
        (2, shifted),
        (3, selfrep),
        (4, "completely different words here padding " + " ".join(
            f"u{i}" for i in range(_PARA_W)
        )),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_paras, r.n_dup_paras, r.dup_permille, r.dropped)
        for r in paragraph_doc_stats(df).collect()
    }
    assert got[0] == (3, 3, 1000, True)
    assert got[1] == (3, 3, 1000, True)
    assert got[2][1] == 0  # shifted: no aligned window collides
    # selfrep: 3 windows (boiler, boiler, tail-with-'tail'... the 2nd
    # window is boiler again only if alignment holds: words are
    # [boiler x8, boiler x8, tail] -> windows 1,2 = boiler, 3 = tail
    assert got[3][0] == 3 and got[3][1] == 2
    assert got[3][2] == 666 and got[3][3] is True
    assert got[4][1] == 0


def test_spatial_neighbor_pairs_vs_bruteforce(spark, sf_dir):
    """The grid-bucketed spatial join must equal a brute-force
    all-pairs scan over the distinct quantized coordinates — the
    3x3-cell probe with radius < cell side can miss nothing, and the
    top-50 ordering (dist, then the four keys) is total."""
    import math
    from collections import Counter

    from env_data_pipeline_spark.plans.envpipe import _GEO_R2, _GEO_TOPK
    from env_data_pipeline_spark.sources.fixtures import ensure_fixtures

    (requests,) = ensure_fixtures(spark, sf_dir, ("requests",))
    rows = requests.select("latitude", "longitude").collect()
    pts = Counter()
    for r in rows:
        la, lo = r["latitude"], r["longitude"]
        if la is None or lo is None:
            continue
        if -90 <= la <= 90 and -180 <= lo <= 180:
            pts[(math.floor(la * 1e6), math.floor(lo * 1e6))] += 1
    coords = sorted(pts)
    ref = []
    for i, a in enumerate(coords):
        for b in coords[i + 1 :]:
            d = (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2
            if d <= _GEO_R2:
                ref.append((d, a[0], a[1], b[0], b[1], pts[a], pts[b]))
    ref.sort()
    ref = [
        (la1, lo1, la2, lo2, na, nb, na * nb, d)
        for d, la1, lo1, la2, lo2, na, nb in ref[:_GEO_TOPK]
    ]
    got = [
        (
            r["lat_a_u"], r["lon_a_u"], r["lat_b_u"], r["lon_b_u"],
            r["n_a"], r["n_b"], r["pair_weight"], r["dist_sq"],
        )
        for r in registry.QUERIES["requests_spatial_neighbor_pairs"](
            spark, sf_dir
        ).collect()
    ]
    assert got == ref


def test_density_hotspots_python_replay(spark, sf_dir):
    """3x3 box-kernel smoothed cell density replayed in pure Python
    from the same requests fixture — grid ids, kernel mass, and the
    (smoothed DESC, cx, cy) top-k order must match exactly."""
    import math
    from collections import Counter

    from env_data_pipeline_spark.plans.envpipe import (
        _DENS_TOPK,
        _GEO_CELL,
        requests_density_hotspots,
    )
    from env_data_pipeline_spark.sources.fixtures import ensure_fixtures

    (requests,) = ensure_fixtures(spark, sf_dir, ("requests",))
    pts = requests.select("latitude", "longitude").collect()
    cells: Counter = Counter()
    for r in pts:
        la, lo = r["latitude"], r["longitude"]
        if la is None or lo is None:
            continue
        if -90 <= la <= 90 and -180 <= lo <= 180:
            cx = (math.floor(lo * 1e6) + 180_000_000) // _GEO_CELL
            cy = (math.floor(la * 1e6) + 90_000_000) // _GEO_CELL
            cells[(cx, cy)] += 1
    sm: Counter = Counter()
    for (cx, cy), n in cells.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                sm[(cx + dx, cy + dy)] += n
    want = sorted(
        ((c, cells[c], sm[c]) for c in cells),
        key=lambda t: (-t[2], t[0][0], t[0][1]),
    )[:_DENS_TOPK]
    got = [
        ((r.cx, r.cy), r.n_requests, r.smoothed_density)
        for r in requests_density_hotspots(spark, sf_dir).collect()
    ]
    assert got == want


def test_streaming_paragraph_refresh_equals_batch(spark, sf_dir):
    """The paragraph-index refresh state is an additive algebra, so
    the drained-stream report must equal a pure-Python one-shot
    recomputation from the same documents table."""
    from collections import Counter, defaultdict

    from env_data_pipeline_spark.plans.extensions import _PARA_W

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    per_src: dict = defaultdict(Counter)
    for r in docs:
        ws = r.text.split(" ")
        for k in range((len(ws) - 1) // _PARA_W + 1):
            w = " ".join(ws[k * _PARA_W : (k + 1) * _PARA_W])
            per_src[r.source][w] += 1
    glob: Counter = Counter()
    for c in per_src.values():
        glob.update(c)
    want = []
    for src in sorted(per_src):
        n = sum(per_src[src].values())
        dup = sum(v for w, v in per_src[src].items() if glob[w] > 1)
        want.append((src, n, dup, 1000 * dup // n))
    got = [
        (r.source, r.n_windows, r.n_dup_windows, r.dup_permille)
        for r in registry.QUERIES["streaming_paragraph_dedup_refresh"](
            spark, sf_dir
        ).collect()
    ]
    assert got == want
