"""Graph ranking and distribution diagnostics.

Two engine-native families the warehouse/curation surface did not yet
cover:

- ``part_pagerank_copurchase``: PageRank power iteration over the part
  co-purchase graph — the canonical ITERATIVE algorithm done the way
  Spark wants it (a driver loop of narrow join+agg stages with a
  lineage cut every other iteration), with every arithmetic step in
  exact BIGINT fixed-point so a DuckDB oracle can replay all five
  iterations as unrolled CTEs and hash-match.
- ``join_key_skew_profile``: the pre-flight skew audit a 100 TB join
  plan starts from — per join-key family, the hottest key, its mass,
  and the hot/mean ratio that decides whether salting is needed.

No reference counterpart (the reference has no graph or diagnostics
surface); both are engine-native additions in the SURVEY §2.12 spirit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.extensions import text as TX
from env_data_pipeline_spark.plans.registry import BENCH_EXTRA, query

# PageRank fixed-point scale: total initial mass, split evenly over
# nodes. 10^12 keeps every product (85 * rank) far inside BIGINT.
_PR_MASS = 1_000_000_000_000
_PR_ITERS = 5
_PR_TOPK = 20


def _pagerank_oracle() -> str:
    """Unroll the five power iterations as chained CTEs — generated by
    the same loop shape the engine runs, so the two can't drift."""
    base = f"(15 * ({_PR_MASS} // (SELECT n FROM n))) // 100"
    ctes = [
        "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """e0 AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM op a JOIN op b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        )""",
        "edges AS (SELECT DISTINCT src, dst FROM e0)",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1)",
        "n AS (SELECT COUNT(*) AS n FROM deg)",
        f"r0 AS (SELECT node, deg, {_PR_MASS} // (SELECT n FROM n) AS rank FROM deg)",
    ]
    for i in range(_PR_ITERS):
        ctes.append(f"c{i} AS (SELECT node, rank // deg AS c FROM r{i})")
        ctes.append(
            f"""inc{i} AS (
              SELECT e.dst AS node, SUM(c.c) AS inc
              FROM edges e JOIN c{i} c ON e.src = c.node GROUP BY 1
            )"""
        )
        ctes.append(
            f"""r{i + 1} AS (
              SELECT d.node, d.deg,
                     {base} + (85 * COALESCE(i.inc, 0)) // 100 AS rank
              FROM deg d LEFT JOIN inc{i} i USING (node)
            )"""
        )
    return f"""
    WITH {", ".join(ctes)}
    SELECT node AS partkey, CAST(deg AS BIGINT) AS n_neighbors,
           CAST(rank AS BIGINT) AS rank_units
    FROM r{_PR_ITERS}
    ORDER BY rank DESC, partkey
    LIMIT {_PR_TOPK}
    """


def _power_iterate(edges: DataFrame, rank: DataFrame, iters: int) -> DataFrame:
    """THE shared PageRank/PPR power-iteration loop (global PR and the
    seed-teleport variant differ only in the init of `rank`/`base`).

    Join strategy (one home, per ADVICE r9): contrib and inc are
    |nodes|-sized — they GROW with the data, so broadcasting them
    violates the bounded-frames-only broadcast rule at 100 TB. Both
    loop joins are shuffle_hash-hinted instead: `edges` arrives
    pre-partitioned on src (repartition + localCheckpoint in the
    callers preserves outputPartitioning), contrib shuffles on its
    node key to the same 32-slot hash — co-partitioned, so the
    per-iteration data movement is ONE node-sized (node, bigint)
    shuffle, never the edge list and never a growing broadcast.
    shuffle_hash (not merge) because sorting the edge stream every
    iteration is pure waste — the hash build side is the node frame."""
    for i in range(iters):
        contrib = rank.select("node", F.expr("rank div deg").alias("c"))
        inc = (
            edges.join(
                contrib.hint("shuffle_hash"),
                edges["src"] == contrib["node"],
            )
            .groupBy(F.col("dst").alias("inode"))
            .agg(F.sum("c").alias("inc"))
        )
        rank = rank.join(
            inc.hint("shuffle_hash"), rank["node"] == inc["inode"], "left"
        ).select(
            "node",
            "deg",
            "base",
            (F.col("base") + F.expr("(85 * coalesce(inc, 0)) div 100")).alias(
                "rank"
            ),
        )
        if i % 2 == 1:
            # lineage cut (a): the plan would otherwise grow with every iteration
            rank = rank.localCheckpoint()
    return rank


@query("part_pagerank_copurchase", oracle=_pagerank_oracle())
def part_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, 5 power iterations) over the part co-purchase
    graph: nodes are parts, an edge joins two parts bought in the same
    order (distinct, symmetric), and the top-20 ranked parts are the
    assortment's structural hubs — a different signal than raw pair
    counts (market_basket_part_pairs), because rank flows THROUGH
    neighbors.

    Exactness: ranks live on a 10^12 fixed-point BIGINT grid; each
    step is integer division and integer scaling (85*x div 100), so
    all five iterations are deterministic on both engines — the oracle
    unrolls the same loop as chained CTEs generated by the same Python
    loop. Truncation bleeds a few units of mass per step; both engines
    bleed identically.

    Scale: the loop body is the iterative-algorithm pattern Spark
    wants — edges pre-partitioned on src ONCE, then per iteration ONE
    contribution projection, one co-partitioned shuffle_hash
    edges⋈contrib equi-join + dst-keyed partial-agg shuffle, and one
    shuffle_hash join back onto the |parts|-sized rank table (see
    _power_iterate — contrib/inc grow with the data, so they are never
    broadcast); a localCheckpoint every other iteration stops the
    plan growing with the iteration count, as connected_components does
    (extensions/dedup.py). Edges are bounded by sum(basket²) and nodes
    by |parts|, so the per-iteration shuffle carries (node, bigint)
    pairs only — vectors of state never widen with iteration count.
    """
    # lineage cut (a): every iteration's join reads the edge set
    edges = _copurchase_edges(spark, sf_dir).repartition("src").localCheckpoint()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n1 = deg.agg(F.count(F.lit(1)).alias("n"))
    rank = (
        deg.crossJoin(F.broadcast(n1))
        .select(
            "node",
            "deg",
            F.expr(f"{_PR_MASS} div n").alias("base_unit"),
        )
        .select(
            "node",
            "deg",
            F.expr("(15 * base_unit) div 100").alias("base"),
            F.col("base_unit").alias("rank"),
        )
        # lineage cut (a): the loop's first two iterations read it four times;
        # without it sf0.1 qprofile medians were 6.72/6.92 s against 6.32/5.04 s
        .localCheckpoint()
    )
    rank = _power_iterate(edges, rank, _PR_ITERS)
    return (
        rank.select(
            F.col("node").alias("partkey"),
            F.col("deg").cast("bigint").alias("n_neighbors"),
            F.col("rank").cast("bigint").alias("rank_units"),
        )
        .orderBy(F.desc("rank_units"), "partkey")
        .limit(_PR_TOPK)
    )


# hottest-key decode scale: keys in the profiled tables are BIGINTs
# far below 10^12, so cnt*10^12 - key is maximized at the largest cnt
# and, within it, the smallest key — an exact integer arg-max both
# engines compute identically (no struct/arg_max dialect dependence).
# The precondition 0 <= key < _SKEW_ENC is ENFORCED engine-side
# (raise_error below), not just assumed: a future leg on a signed
# hash-derived key would otherwise decode plausible garbage that the
# oracle — computing the identical wrong value — could never catch.
_SKEW_ENC = 1_000_000_000_000

# one leg list feeding BOTH the oracle generator and the engine body
_SKEW_LEGS = (
    ("events", "user_id"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
)


def _skew_leg_sql(tbl: str, key: str) -> str:
    return f"""
    SELECT '{tbl}' AS table_name, '{key}' AS key_column,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           CAST(MAX(cnt) * {_SKEW_ENC}
                - MAX(cnt * {_SKEW_ENC} - key) AS BIGINT) AS hot_key,
           (MAX(cnt) * COUNT(*) * 1000 // SUM(cnt)) / 1000.0 AS hot_to_mean
    FROM (SELECT {key} AS key, COUNT(*) AS cnt FROM {tbl} GROUP BY 1)
    """


@query(
    "join_key_skew_profile",
    oracle=" UNION ALL ".join(_skew_leg_sql(t, k) for t, k in _SKEW_LEGS)
    + " ORDER BY table_name",
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit over the three hot join-key families: row
    count, distinct keys, the hottest key and its mass, and
    hot_to_mean = hottest-key count / mean-key count (milli-precision
    integer division). This is the pre-flight check that decides the
    physical join strategy at 100 TB — hot_to_mean near 1 means plain
    hash partitioning is safe; a large value says salt (the engine's
    events_salted_type_stats pattern) or let AQE split (which, per
    tests/test_skew_ownership.py, only helps JOIN skew, not
    aggregation skew).

    Exactness: the hottest key is decoded from MAX(cnt * 10^12 - key)
    — an arithmetic arg-max (ties → smallest key) that avoids
    engine-specific arg_max/struct-ordering semantics; the ratio is
    integer division.

    Scale: one map-side-combinable per-key count per table, then a
    one-row total aggregate; nothing data-sized crosses the wire
    twice.
    """
    legs = []
    for tbl, key in _SKEW_LEGS:
        cnts = (
            table(spark, sf_dir, tbl)
            .groupBy(F.col(key).alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        decoded = F.max("cnt") * F.lit(_SKEW_ENC) - F.max(
            F.col("cnt") * F.lit(_SKEW_ENC) - F.col("key")
        )
        # the decode is only monotone-in-cnt when every key sits in
        # [0, _SKEW_ENC) AND no NULL-key group exists (min/max skip
        # NULLs but max(cnt) would still see the NULL group, decoding
        # garbage the oracle mirrors); fail loudly instead
        key_ok = (
            (F.min("key") >= 0)
            & (F.max("key") < F.lit(_SKEW_ENC))
            & (F.count("key") == F.count(F.lit(1)))
        )
        legs.append(
            cnts.agg(
                F.sum("cnt").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.max("cnt").cast("bigint").alias("max_cnt"),
                F.when(key_ok, decoded)
                .otherwise(
                    F.raise_error(
                        F.lit(
                            f"{tbl}.{key}: key outside [0, {_SKEW_ENC}) — "
                            "hot_key arg-max decode precondition violated"
                        )
                    ).cast("bigint")
                )
                .cast("bigint")
                .alias("hot_key"),
            )
            .select(
                F.lit(tbl).alias("table_name"),
                F.lit(key).alias("key_column"),
                "n_rows",
                "n_keys",
                "max_cnt",
                "hot_key",
                (
                    F.expr("max_cnt * n_keys * 1000 div n_rows")
                    / F.lit(1000.0)
                ).alias("hot_to_mean"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("table_name")


# --------------------------------------------------------------------------
# Triangle counting / clustering coefficient
# --------------------------------------------------------------------------

_TRI_TOPK = 20


def _copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    keep_millis: int | None = None,
    min_support: int | None = None,
):
    """Symmetric co-purchase edges (src, dst), src != dst — the graph
    part_pagerank_copurchase walks. The basket self-join is
    merge-hinted: both sides are the fact-sized (order, part)
    projection, so AQE must not data-size-broadcast one at test SF
    (memory: AQE hazard).

    (r12 note: a basket-array rework of this build — collect_set +
    nested-HOF pair expansion, market_basket style — was prototyped
    and measured NO faster at sf0.1: the interpreted HOF pair
    expansion costs what the co-partitioned sort-merge costs, and the
    edge distinct dominates either way. The self-join form is kept;
    lineitem's 11 MB file already splits into ~5 scan tasks via the
    open-cost packing, so the scan floor buys nothing here either.)

    ``keep_millis`` (node sampling): keep only parts whose 48-bit md5
    prefix mod 1000 falls below it, applied BEFORE the basket
    self-join so the sampled graph's edge build costs q^2 of the full
    one — the pushdown is the whole point of sampling at the node
    grain rather than the edge grain.

    ``min_support``: keep an edge only when the pair co-occurs in at
    least that many distinct orders (the k-core/BFS/PPR-reachability
    graph) — the support HAVING rides the dedup groupBy, so the
    thresholded build costs the same join as the distinct one.

    Half-pair build (r12, guide §2.3 "shuffle fewer bytes"): the
    self-join emits each unordered pair ONCE (src < dst) instead of
    both directions, halving the join output and the dedup/support
    shuffle; the symmetric set is recovered AFTER the aggregation by
    exploding each surviving half-pair into its two directions — a
    narrow op, no second derivation of the aggregate (no union of two
    branches over the same subtree, which would re-run the reduce-side
    aggregation twice). Equivalence: distinct/support are symmetric in
    (src, dst) — support(a,b) = #distinct orders containing both =
    support(b,a) — so {half} ∪ {mirror(half)} is exactly the old
    symmetric result."""
    li = table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    if keep_millis is not None:
        op = op.filter(
            TX.md5_prefix_hash(F.col("l_partkey").cast("string")) % 1000
            < keep_millis
        )
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    joined = op.hint("merge").join(
        b, (op["l_orderkey"] == b["k"]) & (op["l_partkey"] < b["dst"])
    )
    if min_support is None:
        half = joined.select(F.col("l_partkey").alias("src"), "dst").distinct()
    else:
        half = (
            joined.groupBy(F.col("l_partkey").alias("src"), "dst")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= min_support)
            .select("src", "dst")
        )
    return half.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _oriented_triangle_stream(edges):
    """Shared exact-triangle core: degree-ordered orientation, apex
    wedge join, shuffle-hash closure. Returns (deg, oriented, tri)
    where ``tri`` has one row (a, b, c) per closed triangle. See
    part_triangle_participation's docstring for the scale argument;
    both the exact query and the sampled estimator run this same
    pipeline, differing only in the edge set fed in."""
    # lineage cut (b): the degree frame and the orientation both read the edges
    edges = edges.localCheckpoint()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    da = deg.select(F.col("node").alias("src"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("dst"), F.col("deg").alias("degb"))
    oriented = (
        edges.join(F.broadcast(da), "src")
        .join(F.broadcast(db), "dst")
        .filter(
            (F.col("dega") < F.col("degb"))
            | ((F.col("dega") == F.col("degb")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("a"), F.col("dst").alias("b"), F.col("degb"))
        # lineage cut (b): both wedge sides and the closure probe read it
        .localCheckpoint()
    )
    x = oriented.select(F.col("a"), F.col("b"), F.col("degb"))
    y = oriented.select(
        F.col("a").alias("ya"), F.col("b").alias("c"), F.col("degb").alias("degc")
    )
    wedges = (
        x.hint("merge")
        .join(y, x["a"] == y["ya"])
        .filter(
            (F.col("degb") < F.col("degc"))
            | ((F.col("degb") == F.col("degc")) & (F.col("b") < F.col("c")))
        )
        .select("a", "b", "c")
    )
    closer = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    # shuffle-hash, NOT merge: hashing builds on the edge-sized closer
    # and streams the (potentially outdeg^2-sized) wedge relation
    # through it — a merge join would have to SORT the wedges
    tri = wedges.join(closer.hint("shuffle_hash"), ["b", "c"], "left_semi")
    return deg, oriented, tri


def _triangle_oracle() -> str:
    return f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
           FROM op a JOIN op b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    edges AS (SELECT DISTINCT src, dst FROM e0),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
    o AS (SELECT e.src AS a, e.dst AS b
          FROM edges e
          JOIN deg da ON da.node = e.src
          JOIN deg db ON db.node = e.dst
          WHERE da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)),
    ow AS (SELECT o.a, o.b, db.deg AS degb
           FROM o JOIN deg db ON db.node = o.b),
    w AS (SELECT x.a, x.b, y.b AS c
          FROM ow x JOIN ow y ON x.a = y.a
          WHERE x.degb < y.degb OR (x.degb = y.degb AND x.b < y.b)),
    tri AS (SELECT w.a, w.b, w.c
            FROM w JOIN o ON o.a = w.b AND o.b = w.c),
    pernode AS (
        SELECT node, COUNT(*) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b AS node FROM tri
            UNION ALL SELECT c AS node FROM tri) u
        GROUP BY 1)
    SELECT p.node AS partkey,
           CAST(p.n_triangles AS BIGINT) AS n_triangles,
           CAST(d.deg AS BIGINT) AS n_neighbors,
           CAST(2000 * p.n_triangles // (d.deg * (d.deg - 1)) AS BIGINT)
               AS clustering_milli
    FROM pernode p JOIN deg d ON d.node = p.node
    ORDER BY n_triangles DESC, partkey
    LIMIT {_TRI_TOPK}
    """


@query("part_triangle_participation", oracle=_triangle_oracle())
def part_triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation and local clustering coefficient
    on the co-purchase graph: the top-20 parts by how many closed
    co-purchase triangles they sit in, with clustering =
    2*tri/(deg*(deg-1)) on an exact integer milli grid. Triangle
    density separates parts embedded in cohesive bundles from mere
    high-degree hubs (PageRank's signal).

    Algorithm: degree-ordered orientation — each undirected edge points
    from its (deg, node)-smaller endpoint to the larger, so every
    triangle is counted exactly once at its lowest-rank apex, and the
    wedge fan-out per node is bounded by OUT-degree, which orientation
    caps near the graph's arboricity instead of the raw max degree
    (the classic trick that makes triangle counting survive hub skew
    at 100 TB).

    Scale: deg is |nodes|-sized and broadcasts onto the edge list; the
    ORIENTED edge table is lazily checkpointed once and feeds all
    three consumers (two wedge sides + closure probe) instead of
    re-deriving the basket join each time. The wedge self-join on the
    apex is a merge-hinted equi-join (edge-sized sides); the closure
    is a SHUFFLE-HASH left-semi building on the edge-sized probe — the
    wedge stream is the one relation that may be orders of magnitude
    larger than the edges (sum of outdeg^2), so it must never be
    SORTED, only hashed against. Neither data-sized join can be
    broadcast by AQE (memory: AQE hazard). Per-node counts shuffle one
    BIGINT per triangle corner; the final top-20 is
    TakeOrderedAndProject.
    """
    deg, _oriented, tri = _oriented_triangle_stream(
        _copurchase_edges(spark, sf_dir)
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    pernode = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        pernode.join(F.broadcast(deg), "node")
        .select(
            F.col("node").alias("partkey"),
            F.col("n_triangles").cast("bigint"),
            F.col("deg").cast("bigint").alias("n_neighbors"),
            F.expr("2000 * n_triangles div (deg * (deg - 1))")
            .cast("bigint")
            .alias("clustering_milli"),
        )
        .orderBy(F.desc("n_triangles"), "partkey")
        .limit(_TRI_TOPK)
    )


# Node-sampling rate for the triangle-count scale tier, in thousandths.
# q = 1/2 makes the unbiasing factor 1/q^3 the EXACT integer 8, so the
# estimate stays on the integer grid both engines share. The q = 1/4
# tier (scale 64) quarters the sampled node set again: the edge build
# drops ~q^2 and the wedge stream ~q^3, buying cost for variance —
# the error-vs-cost trade is recorded by the bench x10 tier and
# pinned by tests/test_graphops.py.
_TRI_SAMPLE_MILLIS = 500
_TRI_SAMPLE_SCALE = 8
_TRI_Q4_MILLIS = 250
_TRI_Q4_SCALE = 64


def _tri_sample_oracle(
    millis: int = _TRI_SAMPLE_MILLIS, scale: int = _TRI_SAMPLE_SCALE
) -> str:
    return f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE (('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 12))::BIGINT
               % 1000) < {millis}),
    e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
           FROM op a JOIN op b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    edges AS (SELECT DISTINCT src, dst FROM e0),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
    o AS (SELECT e.src AS a, e.dst AS b
          FROM edges e
          JOIN deg da ON da.node = e.src
          JOIN deg db ON db.node = e.dst
          WHERE da.deg < db.deg OR (da.deg = db.deg AND e.src < e.dst)),
    ow AS (SELECT o.a, o.b, db.deg AS degb
           FROM o JOIN deg db ON db.node = o.b),
    w AS (SELECT x.a, x.b, y.b AS c
          FROM ow x JOIN ow y ON x.a = y.a
          WHERE x.degb < y.degb OR (x.degb = y.degb AND x.b < y.b)),
    tri AS (SELECT w.a FROM w JOIN o ON o.a = w.b AND o.b = w.c)
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes_sampled,
           CAST((SELECT COUNT(*) FROM o) AS BIGINT) AS n_edges_sampled,
           CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles_sampled,
           CAST((SELECT COUNT(*) FROM tri) * {scale} AS BIGINT)
               AS est_total_triangles
    """


def _triangle_count_sampled(
    spark: SparkSession, sf_dir: str, millis: int, scale: int
) -> DataFrame:
    """Shared body of the sampled-triangle tiers (see
    part_triangle_count_sampled for the estimator rationale)."""
    deg, oriented, tri = _oriented_triangle_stream(
        _copurchase_edges(spark, sf_dir, keep_millis=millis)
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles_sampled"))
    n_edges = oriented.agg(F.count(F.lit(1)).alias("n_edges_sampled"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes_sampled"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            F.col("n_nodes_sampled").cast("bigint"),
            F.col("n_edges_sampled").cast("bigint"),
            F.col("n_triangles_sampled").cast("bigint"),
            (F.col("n_triangles_sampled") * F.lit(scale))
            .cast("bigint")
            .alias("est_total_triangles"),
        )
    )


@query("part_triangle_count_sampled", oracle=_tri_sample_oracle())
def part_triangle_count_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting's SCALE tier (VERDICT r7 item 2): a
    deterministic node-sampled estimator of the co-purchase graph's
    global triangle count. Keep each part iff its 48-bit md5 prefix
    mod 1000 < 500 (q = 1/2); a triangle survives iff all three
    corners are kept (probability q^3), so
    ``sampled_triangles * 8`` is an unbiased estimate of the total.
    Measured error on the synthetic graphs: +9.2% (sf0.001), +11.1%
    (sf0.01) — pinned within ±20% by
    tests/test_graphops.py::test_triangle_sample_estimator_error_bound,
    with the exact oriented count (part_triangle_participation's core)
    as ground truth.

    Why node sampling, not edge sampling (DOULION): the hash filter
    applies BEFORE the basket self-join, so the edge build itself —
    the exact query's dominant cost — shrinks by q^2 and the wedge
    stream (sum of outdeg^2) by ~q^3. Edge sampling would still pay
    the full basket join to materialize the edges it then throws away.
    Hash-deterministic sampling (vs rand()) keeps the estimate
    reproducible and lets the DuckDB oracle replay it exactly — a full
    rows+schema+hash check, not a tolerance check.

    At 100 TB this is the tier you actually run: cost scales with the
    sampled graph, the unbiasing is a constant multiply, and error
    shrinks as the graph grows (more independent triangles per kept
    node). The three 1-row global aggregates assemble via broadcast
    singleton joins (NESTED_LOOP_OK)."""
    return _triangle_count_sampled(
        spark, sf_dir, _TRI_SAMPLE_MILLIS, _TRI_SAMPLE_SCALE
    )


@query(
    "part_triangle_count_sampled_q4",
    oracle=_tri_sample_oracle(_TRI_Q4_MILLIS, _TRI_Q4_SCALE),
)
def part_triangle_count_sampled_q4(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The q = 1/4 rung of the sampled-triangle ladder (VERDICT r11
    item 6): same deterministic md5 node filter at 250/1000, unbias
    by 1/q^3 = 64. Relative to the q = 1/2 tier the edge build costs
    ~q^2 (a further 4x cut on the estimator's dominant stage — the
    basket self-join) and the wedge stream ~q^3, in exchange for
    ~sqrt(8)x the estimator's standard error; the bench x10 tier
    records both tiers' cost next to their error bounds
    (tests/test_graphops.py pins q4 within +/-45% where q2 holds
    +/-20% — the measured trade, not a guess)."""
    return _triangle_count_sampled(
        spark, sf_dir, _TRI_Q4_MILLIS, _TRI_Q4_SCALE
    )


BENCH_EXTRA.add("part_triangle_count_sampled")
BENCH_EXTRA.add("part_triangle_count_sampled_q4")


# ---------------------------------------------------------------------------
# k-core decomposition + bounded BFS reachability (round 9)
# ---------------------------------------------------------------------------

# Support-thresholded co-purchase graph: keep an edge only when the
# pair co-occurs in >= _SUPP distinct orders. The raw co-purchase
# graph is near-complete at test SF (min degree ~89), so core/peel
# structure only appears once weak edges are dropped — which is also
# the graph a recommender would actually walk.
_SUPP = 2
_KCORE_K = 3
# Unrolled peel rounds. Fixpoint is reached in <=10 rounds at sf0.01
# (<=1 at sf0.001); tests assert convergence (round N == round N-1) so
# the bounded peel IS the true 3-core on the shipped data. Both
# engines run exactly this many rounds, so parity holds even before
# the convergence assert.
_KCORE_ITERS = 14
_REACH_MOD = 101
_REACH_RES = 7

_EDGES_SUPP_SQL = f"""
    op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_SUPP}
    )"""


def _support_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-core/BFS/PPR edge set: _copurchase_edges thresholded at
    order-support >= _SUPP (one shared basket-self-join body)."""
    return _copurchase_edges(spark, sf_dir, min_support=_SUPP)


def _kcore_oracle() -> str:
    """Unroll the peel rounds as chained CTEs — generated by the same
    loop shape the engine runs, so the two cannot drift."""
    ctes = [
        _EDGES_SUPP_SQL,
        "n0 AS (SELECT DISTINCT src AS node FROM edges)",
    ]
    for i in range(_KCORE_ITERS):
        ctes.append(
            f"""n{i + 1} AS MATERIALIZED (
              SELECT e.src AS node
              FROM edges e
              JOIN n{i} a ON e.src = a.node
              JOIN n{i} b ON e.dst = b.node
              GROUP BY e.src
              HAVING COUNT(*) >= {_KCORE_K}
            )"""
        )
    last = f"n{_KCORE_ITERS}"
    return f"""
    WITH {", ".join(ctes)}
    SELECT e.src AS partkey, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM edges e
    JOIN {last} a ON e.src = a.node
    JOIN {last} b ON e.dst = b.node
    GROUP BY e.src
    ORDER BY core_degree DESC, partkey
    """


@query("part_kcore_membership", oracle=_kcore_oracle())
def part_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core decomposition of the support-thresholded
    co-purchase graph: iteratively peel nodes of degree < k until the
    surviving subgraph has min-degree >= k; emit each core member with
    its within-core degree.

    Engine-native (the reference has no graph surface); the LLM-data
    angle is the same peel used to find the dense "spam ring" cluster
    in a web-crawl link graph before dedup.

    Scale: the edge build is the merge-hinted basket self-join the
    triangle queries already pay. Each peel round is edge⋈nodes
    semi-joins + a groupBy on src — node-frame-sized state, with a
    localCheckpoint per round truncating the logical plan so
    analysis cost stays linear in rounds (the driver loop is the
    Spark idiom for bounded iteration; cf. PageRank above). At 100 TB the
    node frame shuffles on its key — no broadcast of a data-sized
    side, no driver collect. Rounds are bounded (=14) and both
    engines run all of them, so the comparison never depends on a
    convergence test; tests/test_graphops.py asserts fixpoint on the
    shipped data so the bounded answer IS the true core."""
    # lineage cut (a): every peel round reads the edge set
    edges = _support_edges(spark, sf_dir).localCheckpoint()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    for _ in range(_KCORE_ITERS):
        a = nodes.select(F.col("node").alias("src"))
        b = nodes.select(F.col("node").alias("dst"))
        nodes = (
            edges.join(a, "src", "left_semi")
            .join(b, "dst", "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node"))
            # lineage cut (a): the plan would otherwise grow with every round
            .localCheckpoint()
        )
    a = nodes.select(F.col("node").alias("src"))
    b = nodes.select(F.col("node").alias("dst"))
    return (
        edges.join(a, "src", "left_semi")
        .join(b, "dst", "left_semi")
        .groupBy(F.col("src").alias("partkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .orderBy(F.desc("core_degree"), "partkey")
    )


@query(
    "part_copurchase_reach_3hop",
    oracle=f"""
    WITH {_EDGES_SUPP_SQL},
    h0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
           WHERE src % {_REACH_MOD} = {_REACH_RES}),
    h1 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM edges e JOIN h0 s ON e.src = s.node),
    h2 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM edges e JOIN h1 s ON e.src = s.node),
    h3 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM edges e JOIN h2 s ON e.src = s.node),
    lab AS (
      SELECT node, 0 AS hops FROM h0
      UNION ALL SELECT node, 1 FROM h1
      UNION ALL SELECT node, 2 FROM h2
      UNION ALL SELECT node, 3 FROM h3
    )
    SELECT node AS partkey, CAST(MIN(hops) AS INT) AS hops
    FROM lab GROUP BY node
    ORDER BY hops, partkey
    """,
)
def part_copurchase_reach_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded breadth-first reachability: every part within 3 hops of
    a deterministic seed set (partkey % 101 == 7) on the
    support-thresholded co-purchase graph, labeled with its shortest
    hop count. The "blast radius" primitive — recall expansion in
    recommendations, contamination spread in a link graph.

    Scale: 3 unrolled frontier⋈edges semi-join expansions (frontier
    grows 19 -> 84 -> 317 -> 903 nodes at sf0.01), then a single
    min-hop groupBy. Frontiers are node-sized; each expansion is one
    shuffle keyed on the join column. The hop bound makes cost
    strictly bounded — the honest contract at 100 TB where transitive
    closure is not."""
    # lineage cut (b): the seed set and all three expansions read it; without it
    # sf0.1 qprofile medians were 3.91/3.45 s against 2.71/3.06 s with it
    edges = _support_edges(spark, sf_dir).localCheckpoint()
    h0 = (
        edges.select(F.col("src").alias("node"))
        .filter(F.col("node") % _REACH_MOD == _REACH_RES)
        .distinct()
    )
    frontiers = [h0]
    for _ in range(3):
        prev = frontiers[-1].select(F.col("node").alias("src"))
        frontiers.append(
            edges.join(prev, "src", "left_semi")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
    lab = None
    for hop, fr in enumerate(frontiers):
        cur = fr.select("node", F.lit(hop).alias("hops"))
        lab = cur if lab is None else lab.unionByName(cur)
    return (
        lab.groupBy(F.col("node").alias("partkey"))
        .agg(F.min("hops").cast("int").alias("hops"))
        .orderBy("hops", "partkey")
    )


# ---------------------------------------------------------------------------
# part_ppr_recommendations — personalized PageRank from the seed set
# (round 9): the "related items" ranking a recommender serves
# ---------------------------------------------------------------------------

_PPR_ITERS = 5
_PPR_TOPK = 20


def _ppr_oracle() -> str:
    """Unroll the five seed-teleport power iterations — same loop
    shape as the engine (and as _pagerank_oracle), but all teleport
    mass returns to the seed set each step."""
    ctes = [
        "op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """e0 AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM op a JOIN op b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        )""",
        "edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0)",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1)",
        f"""seeds AS (SELECT node FROM deg
                      WHERE node % {_REACH_MOD} = {_REACH_RES})""",
        "ns AS (SELECT COUNT(*) AS ns FROM seeds)",
        # NULLIF guard (ADVICE r9): an empty seed set must yield an
        # empty ranking, not a division-by-zero error — mirrors the
        # engine's coalesce(mass div nullif(ns, 0), 0)
        f"""r0 AS (
          SELECT d.node, d.deg,
                 CASE WHEN s.node IS NOT NULL
                      THEN COALESCE({_PR_MASS}
                                    // NULLIF((SELECT ns FROM ns), 0), 0)
                      ELSE 0 END AS rank,
                 CASE WHEN s.node IS NOT NULL
                      THEN (15 * COALESCE({_PR_MASS}
                                 // NULLIF((SELECT ns FROM ns), 0), 0)) // 100
                      ELSE 0 END AS base
          FROM deg d LEFT JOIN seeds s USING (node)
        )""",
    ]
    for i in range(_PPR_ITERS):
        ctes.append(f"c{i} AS (SELECT node, rank // deg AS c FROM r{i})")
        ctes.append(
            f"""inc{i} AS (
              SELECT e.dst AS node, SUM(c.c) AS inc
              FROM edges e JOIN c{i} c ON e.src = c.node GROUP BY 1
            )"""
        )
        ctes.append(
            f"""r{i + 1} AS (
              SELECT d.node, d.deg, d.base,
                     d.base + (85 * COALESCE(i.inc, 0)) // 100 AS rank
              FROM r{i} d LEFT JOIN inc{i} i USING (node)
            )"""
        )
    return f"""
    WITH {", ".join(ctes)}
    SELECT node AS partkey, CAST(deg AS BIGINT) AS n_neighbors,
           CAST(rank AS BIGINT) AS rank_units
    FROM r{_PPR_ITERS}
    WHERE node % {_REACH_MOD} <> {_REACH_RES} AND rank > 0
    ORDER BY rank DESC, partkey
    LIMIT {_PPR_TOPK}
    """


@query("part_ppr_recommendations", oracle=_ppr_oracle())
def part_ppr_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (d=0.85, 5 power iterations) over the
    co-purchase graph with ALL teleport mass pinned to the seed
    basket (partkey % 101 == 7 — the same seed set the 3-hop BFS
    expands): the top-20 NON-seed parts by stationary mass are the
    "customers who bought these also buy" ranking, weighted by
    proximity to the whole seed set rather than any single item.
    Differs from part_pagerank_copurchase exactly in the teleport
    vector — global PR measures structural hubs, PPR measures
    relevance TO the seeds; the BFS gives reachability, PPR gives a
    ranking within it.

    Exactness: the same 10^12 fixed-point BIGINT grid as global PR —
    integer division per step on both engines, oracle unrolls the
    identical loop.

    Scale: identical per-iteration cost to part_pagerank_copurchase
    (shared _power_iterate loop — co-partitioned shuffle_hash joins,
    never a data-sized broadcast; rank table is |parts|-sized) —
    except contributions are nonzero only within the expanding seed
    neighborhood, so early iterations move strictly less data. A
    localCheckpoint every other iteration caps lineage.

    Degenerate input (ADVICE r9): an empty seed set (no part with
    partkey % _REACH_MOD == _REACH_RES) means zero teleport mass
    everywhere — both engines return an empty ranking (engine: ns=0
    zeroes every rank via the NULLIF-guarded division, and the
    rank > 0 filter drops all rows; oracle: same guard)."""
    # lineage cut (a): every iteration's join reads the edge set
    edges = _copurchase_edges(spark, sf_dir).repartition("src").localCheckpoint()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    seeds = deg.filter(F.col("node") % _REACH_MOD == _REACH_RES).select("node")
    ns1 = seeds.agg(F.count(F.lit(1)).alias("ns"))
    is_seed = F.col("node") % _REACH_MOD == _REACH_RES
    seed_unit = f"coalesce({_PR_MASS} div nullif(ns, 0), 0)"
    rank = (
        deg.crossJoin(F.broadcast(ns1))
        .select(
            "node",
            "deg",
            F.when(is_seed, F.expr(seed_unit)).otherwise(0).alias("rank"),
            F.when(is_seed, F.expr(f"(15 * ({seed_unit})) div 100"))
            .otherwise(0)
            .alias("base"),
        )
        # lineage cut (a): the loop's first two iterations read it four times;
        # without it sf0.1 qprofile medians were 7.34/6.48 s against 5.54/5.35 s
        .localCheckpoint()
    )
    rank = _power_iterate(edges, rank, _PPR_ITERS)
    return (
        rank.filter(~is_seed & (F.col("rank") > 0))
        .select(
            F.col("node").alias("partkey"),
            F.col("deg").cast("bigint").alias("n_neighbors"),
            F.col("rank").cast("bigint").alias("rank_units"),
        )
        .orderBy(F.desc("rank_units"), "partkey")
        .limit(_PPR_TOPK)
    )
