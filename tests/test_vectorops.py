"""Vector-storage operator tests: int8 quantization error bounds and
Lloyd-iteration convergence (the properties the oracle-parity check
cannot express)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.extensions import similarity as X


def _pts(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def test_int8_quantization_error_small(spark, sf_dir):
    """Symmetric int8 on 64-dim vectors: worst-case per-component
    error is scale/2, so the relative L2 error must stay well under
    1% on this data — the lossless-enough storage-format claim."""
    emb = _pts(spark, sf_dir)
    q = X.int8_quantize_cols(F.col("v"))
    stats = emb.select(
        F.max(q["rel_err"]).alias("mx"), F.min(q["rel_err"]).alias("mn")
    ).collect()[0]
    assert 0.0 <= stats["mn"] <= stats["mx"] < 0.01


def test_int8_codes_in_range(spark, sf_dir):
    """Every emitted code fits int8: |floor(x/scale + .5)| <= 127."""
    emb = _pts(spark, sf_dir)
    absmax = F.aggregate(
        F.col("v"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = absmax / F.lit(127.0)
    worst = F.aggregate(
        F.col("v"),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(F.floor(x / scale + F.lit(0.5)))),
    )
    top = emb.select(F.max(worst).alias("w")).collect()[0]["w"]
    assert top <= 127.0


def test_kmeans_inertia_decreases(spark, sf_dir):
    """One more Lloyd iteration must not increase total inertia —
    the convergence property of the alternating minimization (each
    step re-assigns to the nearest centroid, then re-centers)."""
    pts = _pts(spark, sf_dir)
    k, step = 4, 30
    init = pts.filter(
        (F.col("vec_id") % step == 0) & (F.col("vec_id") < k * step)
    ).select(
        (F.col("vec_id") / step).cast("int").alias("cluster_id"),
        F.col("v").alias("c"),
    )

    def inertia(iters: int) -> float:
        a = X.kmeans_lloyd(pts, init, iters=iters)
        return a.agg(F.sum("dist2").alias("s")).collect()[0]["s"]

    i1, i2 = inertia(1), inertia(2)
    assert i2 <= i1 * (1.0 + 1e-9), (i1, i2)


def test_kmeans_assignment_is_total_partition(spark, sf_dir):
    """Every vector lands in exactly one cluster."""
    pts = _pts(spark, sf_dir)
    k, step = 4, 30
    init = pts.filter(
        (F.col("vec_id") % step == 0) & (F.col("vec_id") < k * step)
    ).select(
        (F.col("vec_id") / step).cast("int").alias("cluster_id"),
        F.col("v").alias("c"),
    )
    a = X.kmeans_lloyd(pts, init, iters=2)
    assert a.count() == pts.count()
    assert a.select("vec_id").distinct().count() == pts.count()


def _pq_seed_codebook(pts, m, d, k, step):
    return (
        pts.filter((F.col("vec_id") % step == 0) & (F.col("vec_id") < k * step))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"),
            (F.col("vec_id") / step).cast("int").alias("code"),
            F.col("v"),
        )
        .select("m", "code", F.slice(F.col("v"), F.col("m") * d + 1, d).alias("cw"))
    )


def _exact_top3(pts, qids):
    from pyspark.sql.window import Window

    q = pts.join(qids, "vec_id").select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = pts.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(X.cosine(F.col("qv"), F.col("cv")), 4).alias("s"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )


def test_ivf_trained_recall_floor(spark, sf_dir):
    """The trained-centroid IVF serving path (kmeans_train ->
    topk_ivf_cells, the similarity_topk_ivf_trained query): recall@3
    >= 0.93 vs brute-force ground truth at nprobe=6 of K=8 cells
    (measured 1.0 at this tier; the sampled-cell baseline needs the
    same probe fraction for less recall because its cells are
    unbalanced)."""
    k, step = 8, 60
    pts = _pts(spark, sf_dir)
    init = pts.filter(
        (F.col("vec_id") % step == 0) & (F.col("vec_id") < k * step)
    ).select(
        (F.col("vec_id") / step).cast("int").alias("cluster_id"),
        F.col("v").alias("c"),
    )
    cent = X.kmeans_train(pts, init, iters=2)
    cent.cache().count()
    from env_data_pipeline_spark.catalog import table as _table

    got = X.topk_ivf_cells(
        _table(spark, sf_dir, "embeddings"), cent, k=3, nprobe=6
    ).select("query_id", "neighbor_id")
    qids = pts.filter(F.col("vec_id") % 100 == 0).select("vec_id")
    exact = _exact_top3(pts, qids)
    hits = exact.join(got, ["query_id", "neighbor_id"]).count()
    total = exact.count()
    cent.unpersist()
    assert total > 0
    assert hits / total >= 0.93, (hits, total)


def test_pq_adc_recall_with_trained_codebook(spark, sf_dir):
    """The PQ serving path end-to-end: train the codebook (2 Lloyd
    iterations per subspace), ADC-shortlist 60 candidates from codes
    alone, exact re-rank — recall@3 >= 0.8 vs brute-force ground
    truth. Isotropic testdata is PQ's worst case, so this is a floor,
    not a showcase (measured 0.83; the sampled-codebook baseline
    measures 0.63 at the same shortlist)."""
    M, D, K, STEP = 8, 8, 16, 17
    pts = _pts(spark, sf_dir)
    seed = _pq_seed_codebook(pts, M, D, K, STEP)
    trained = X.pq_train_codebook(pts, seed, M, D, iters=2)
    trained.cache().count()
    qids = pts.filter(F.col("vec_id") % 20 == 0).select("vec_id")
    adc = X.pq_adc_topk(pts, qids, trained, M, D, k=3, shortlist=60)
    exact = _exact_top3(pts, qids)
    hits = exact.join(
        adc.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    total = exact.count()
    trained.unpersist()
    assert total > 0
    assert hits / total >= 0.8, (hits, total)


def test_pq_training_reduces_distortion(spark, sf_dir):
    """Lloyd training must not increase total quantization distortion
    over the sampled-codeword init (the k-means objective, per
    subspace)."""
    M, D, K, STEP = 8, 8, 16, 17
    pts = _pts(spark, sf_dir)
    seed = _pq_seed_codebook(pts, M, D, K, STEP)

    def distortion(cb) -> int:
        sub = pts.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(M - 1))).alias("m"),
            "v",
        ).select(
            "vec_id", "m", F.slice(F.col("v"), F.col("m") * D + 1, D).alias("sv")
        )
        scored = sub.join(F.broadcast(cb), "m").select(
            "vec_id",
            "m",
            F.floor(X.sq_dist(F.col("sv"), F.col("cw")) * F.lit(1e6))
            .cast("bigint")
            .alias("dist_u"),
        )
        best = scored.groupBy("vec_id", "m").agg(F.min("dist_u").alias("d"))
        return best.agg(F.sum("d").alias("s")).collect()[0]["s"]

    trained = X.pq_train_codebook(pts, seed, M, D, iters=2)
    trained.cache().count()
    d_seed, d_trained = distortion(seed), distortion(trained)
    trained.unpersist()
    assert d_trained <= d_seed, (d_seed, d_trained)


def test_ivfpq_recall_and_probe_monotonicity(spark, sf_dir):
    """The composite IVF+PQ index (coarse cells prune, PQ codes rank,
    exact re-rank): recall@3 >= 0.65 at nprobe=3 of K=8 cells on
    worst-case isotropic data (measured 0.69; 0.77 at nprobe=5), and
    probing more cells must not lose recall — the knob a deployment
    turns when recall matters more than latency."""
    M, D, K, STEP = 8, 8, 16, 17
    pts = _pts(spark, sf_dir)
    cb = X.pq_train_codebook(pts, _pq_seed_codebook(pts, M, D, K, STEP), M, D, iters=2)
    cb.cache().count()
    coarse_init = pts.filter(
        (F.col("vec_id") % 60 == 0) & (F.col("vec_id") < 480)
    ).select(
        (F.col("vec_id") / 60).cast("int").alias("cluster_id"),
        F.col("v").alias("c"),
    )
    assigned = X.kmeans_lloyd(pts, coarse_init, iters=2)
    cent = X.grid_mean_vectors(
        assigned.join(pts, "vec_id").select("cluster_id", "v"),
        ["cluster_id"],
        "v",
        "c",
        1e6,
    )
    cent.cache().count()
    qids = pts.filter(F.col("vec_id") % 20 == 0).select("vec_id")
    exact = _exact_top3(pts, qids)
    total = exact.count()

    def recall(nprobe: int) -> float:
        got = X.ivfpq_topk(pts, qids, cent, cb, M, D, k=3, nprobe=nprobe, shortlist=60)
        hits = exact.join(
            got.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        ).count()
        return hits / total

    r3, r5 = recall(3), recall(5)
    cb.unpersist()
    cent.unpersist()
    assert r3 >= 0.65, r3
    assert r5 >= r3 - 1e-9, (r3, r5)


def test_streaming_pq_code_refresh_equals_batch(spark, sf_dir):
    """Streaming index maintenance: vectors replayed as 3 real
    micro-batches, each PQ-coded and appended to the persistent code
    table — the final table must equal the one-shot batch coding
    (coding is per-row, so incremental ingestion cannot change any
    code as long as the codebook is frozen)."""
    from env_data_pipeline_spark.streaming.vector_index_refresh import (
        streaming_pq_code_refresh,
    )

    M, D, K, STEP = 8, 8, 16, 17
    pts = _pts(spark, sf_dir)
    cb = _pq_seed_codebook(pts, M, D, K, STEP)
    streamed = streaming_pq_code_refresh(spark, pts, cb, M, D)
    batch = X.pq_codes(pts, cb, M, D)
    assert streamed.count() == batch.count()
    assert (
        streamed.join(batch, ["vec_id", "m", "code"]).count() == batch.count()
    )


def test_served_equals_trained(spark, sf_dir):
    """The persisted-artifact serving query must return EXACTLY the
    rows of its inline train+serve sibling — training is
    deterministic, so a divergence means the artifact cache returned a
    stale/foreign index or the serving stages drifted."""
    from env_data_pipeline_spark.plans.vectorops import (
        similarity_topk_ivfpq,
        similarity_topk_ivfpq_served,
    )

    served = sorted(
        map(tuple, similarity_topk_ivfpq_served(spark, sf_dir).collect())
    )
    trained = sorted(map(tuple, similarity_topk_ivfpq(spark, sf_dir).collect()))
    assert served == trained


def test_ivf_served_equals_inline_scaled_replay(spark, sf_dir):
    """similarity_topk_ivf_served (per-tier artifacts, K = floor(
    sqrt(n)), md5-rank seeds, bounded query batch) must return
    EXACTLY the rows of an inline replay that trains the same scaled
    index and serves through the in-plan reassignment kernel — a
    divergence means the artifact cache returned a stale/foreign
    index, or the inverted-list serving path drifted from the
    coarse-assignment discipline it was persisted with."""
    from env_data_pipeline_spark.plans import vectorops as V

    served = sorted(
        map(tuple, V.similarity_topk_ivf_served(spark, sf_dir).collect())
    )
    pts = V._pts(spark, sf_dir)
    n = pts.count()
    k = V._ivf_scale_k(n)
    seeds = (
        pts.select("vec_id", "v", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(k)
    )
    init = seeds.withColumn(
        "rk", F.row_number().over(Window.orderBy("h", "vec_id"))
    ).select((F.col("rk") - 1).cast("int").alias("cluster_id"), F.col("v").alias("c"))
    cent = X.kmeans_train(pts, init, iters=V._ITERS, quant=float(V._QGRID))
    from env_data_pipeline_spark.catalog import table as _table

    emb = _table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < V._Q_CAP)
    )
    # inline replay serves via topk_ivf_cells' corpus reassignment —
    # same cells the persisted inverted lists hold
    inline = X.topk_ivf_cells(
        _table(spark, sf_dir, "embeddings"),
        cent,
        k=V._IVF_K,
        nprobe=V._IVF_NPROBE,
        quant=float(V._QGRID),
    ).join(emb.select(F.col("vec_id").alias("query_id")), "query_id")
    inline = sorted(
        map(
            tuple,
            inline.select("query_id", "neighbor_id", "cosine_sim", "rank").collect(),
        )
    )
    assert served == inline


def test_ivf_scaled_recall_floor_on_clustered_corpus(spark, tmp_path, monkeypatch):
    """Recall@3 >= 0.93 for the scaled-K serving path, pinned on a
    PLANTED clustered corpus (40 tight clusters of 25, the workload
    IVF exists for). The shipped test embeddings are isotropic random
    vectors — same-label mean cosine 0.000, so "neighbors" are noise
    ranks and NO sublinear index can retrieve them without scanning a
    constant corpus fraction (the r10 fixed-K path hit recall 1.0
    only because nprobe=6 of K=8 re-scanned 75% of the corpus every
    serve — the exact anti-pattern the verdict flagged). On clustered
    data the scaled index must actually find the neighbors: queries
    probe 6 of K=31 cells (~19% — and shrinking as sqrt(n) grows)."""
    import numpy as np

    from env_data_pipeline_spark.sources import fixtures

    # the corpus is thrown away with tmp_path, so are its trained artifacts
    monkeypatch.setattr(fixtures, "_CACHE_ROOT", str(tmp_path / "store"))

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(40, 64))
    rows = []
    for i in range(1000):
        c = i % 40
        v = centers[c] + 0.05 * rng.normal(size=64)
        rows.append((i, int(c), [float(x) for x in v]))
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from env_data_pipeline_spark.plans import vectorops as V

    got = V.similarity_topk_ivf_served(spark, str(tmp_path)).select(
        "query_id", "neighbor_id"
    )
    pts = V._pts(spark, str(tmp_path))
    qids = pts.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < V._Q_CAP)
    ).select("vec_id")
    exact = _exact_top3(pts, qids)
    hits = exact.join(got, ["query_id", "neighbor_id"]).count()
    total = exact.count()
    assert total == 30
    assert hits / total >= 0.93, (hits, total)


def test_served_artifact_is_persisted_and_reused(spark, sf_dir):
    """Second invocation must consume the parquet artifacts, not
    retrain: the centroid and inverted-list dirs exist after the
    first call and their mtimes are unchanged by the second; the
    inverted lists are hive-partitioned by cell."""
    import os

    from env_data_pipeline_spark.plans import vectorops as V
    from env_data_pipeline_spark.sources.fixtures import _snapshot_path

    V.similarity_topk_ivf_served(spark, sf_dir).collect()
    n = V._pts(spark, sf_dir).count()
    params = V._ivf_scaled_params_str(V._ivf_scale_k(n))
    cd = _snapshot_path(sf_dir, "ivf_centroids_scaled", params)
    ld = _snapshot_path(sf_dir, "ivf_invlists", params)
    assert os.path.exists(cd) and os.path.exists(ld)
    # the inverted lists are laid out one directory per cell — the
    # physical layout the probe-set join prunes against
    assert any(p.startswith("cell=") for p in os.listdir(ld))
    # a different hyperparameter string must map to a DIFFERENT cache
    # slot — the stale-index hazard the params key exists to prevent
    assert _snapshot_path(sf_dir, "ivf_centroids_scaled", "k=9,v1") != cd
    before_c, before_l = os.path.getmtime(cd), os.path.getmtime(ld)
    V.similarity_topk_ivf_served(spark, sf_dir).collect()
    assert os.path.getmtime(cd) == before_c
    assert os.path.getmtime(ld) == before_l


# --------------------------------------------------------------------------
# similarity_mmr_diverse_topk — pure-Python greedy MMR reference
# --------------------------------------------------------------------------


def test_mmr_matches_python_greedy_reference(spark, tmp_path):
    """Seeded vectors with float32-exact components (multiples of
    1/64), so the Python double arithmetic below bit-matches the
    engines' float->double pipeline; the greedy loop reimplements the
    DOCSTRING semantics (7*rel - 3*maxsim, (score, vec_id) ties)."""
    import math
    import random

    from env_data_pipeline_spark.plans.vectorops import (
        _MMR_K,
        _MMR_POOL,
        _MMR_QUERY_ID,
        similarity_mmr_diverse_topk,
    )

    rng = random.Random(41)
    vecs = {
        i: [rng.randrange(-64, 65) / 64.0 for _ in range(8)] for i in range(60)
    }
    spark.createDataFrame(
        [(i, v, 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    def cos_micro(a, b):
        num = 0.0
        for x, y in zip(a, b):
            num += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        return math.floor(1e6 * (num / (math.sqrt(na) * math.sqrt(nb))))

    q = vecs[_MMR_QUERY_ID]
    rel = {i: cos_micro(v, q) for i, v in vecs.items() if i != _MMR_QUERY_ID}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:_MMR_POOL]
    selected = [min(pool, key=lambda i: (-rel[i], i))]
    expected = {selected[0]: (1, rel[selected[0]], 7 * rel[selected[0]])}
    for r in range(2, _MMR_K + 1):
        cand = [i for i in pool if i not in selected]
        scores = {
            i: 7 * rel[i]
            - 3 * max(cos_micro(vecs[i], vecs[s]) for s in selected)
            for i in cand
        }
        pick = min(cand, key=lambda i: (-scores[i], i))
        selected.append(pick)
        expected[pick] = (r, rel[pick], scores[pick])

    got = {
        row["vec_id"]: (
            row["sel_rank"],
            row["relevance_micro"],
            row["mmr_score_micro"],
        )
        for row in similarity_mmr_diverse_topk(spark, str(tmp_path)).collect()
    }
    assert got == expected
    # the diversity term must actually bite on this fixture: the MMR
    # picks differ from the plain top-K by relevance
    plain_topk = set(sorted(rel, key=lambda i: (-rel[i], i))[:_MMR_K])
    assert set(expected) != plain_topk


def test_semdedup_decisions_match_numpy_replay(spark, sf_dir):
    """Replay SemDeDup's within-cluster election in numpy from the
    engine's OWN cell assignment (so the test isolates the pair scan +
    min-id election, the part the kmeans oracle does not cover)."""
    import math

    import numpy as np

    from env_data_pipeline_spark.plans.vectorops import (
        _QGRID,
        _SEM_TAU_UNITS,
        dedup_semantic_semdedup,
    )

    from env_data_pipeline_spark.plans.extensions import (
        EXACT_COPY_OFFSET,
        NEAR_COPY_OFFSET,
    )

    rows = dedup_semantic_semdedup(spark, sf_dir).collect()
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    # replay the planted-duplicate augmentation (_aug_embeddings)
    for vid in list(emb):
        if vid % 50 == 0:
            emb[vid + EXACT_COPY_OFFSET] = emb[vid].copy()
        elif vid % 50 == 25:
            v = emb[vid].copy()
            v[0] += 0.25
            emb[vid + NEAR_COPY_OFFSET] = v
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cluster_id, []).append(r.vec_id)

    expect = {}
    for cell, ids in by_cell.items():
        ids.sort()
        for j, b in enumerate(ids):
            dup = None
            for a in ids[:j]:
                va, vb = emb[a], emb[b]
                cos = float(va @ vb) / (
                    math.sqrt(float(va @ va)) * math.sqrt(float(vb @ vb))
                )
                if math.floor(cos * _QGRID) >= _SEM_TAU_UNITS:
                    dup = a
                    break  # ids sorted -> first hit IS the min
            expect[b] = dup
    got = {r.vec_id: r.dup_of for r in rows}
    assert got == expect
    assert set(got) == set(emb), "every vector must get a decision"
    n_drop = sum(1 for v in got.values() if v is not None)
    assert n_drop > 0, "fixture plants near-dup vectors; none found"
    # representatives are never themselves dropped
    reps = {v for v in got.values() if v is not None}
    assert all(got[r] is None for r in reps)


def test_power_iteration_pc1_matches_numpy(spark, sf_dir):
    """Two independent checks of the integer-grid power iteration:
    (1) an EXACT numpy replay of the quantized recurrence (integer
    contractions, truncating rescale, j-ordered float norm, floor
    re-quantization) must reproduce pc1_unit bit for bit and the
    convergence certificate to the unit; (2) the engine direction
    must agree with a pure-FLOAT power iteration of the same budget
    to |cos| > 0.999 — i.e. quantization does not distort the
    trajectory; closeness to the true eigenvector is governed by the
    eigengap and is exactly what converged_cos_unit reports (the
    synthetic corpus's flat spectrum reads < 1e6 by design)."""
    import math

    import numpy as np

    from env_data_pipeline_spark.plans.vectorops import (
        _PC1_GRID,
        _PC1_ITERS,
        embedding_power_iteration_pc1,
    )

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    X = np.floor(
        np.array([r.embedding for r in rows], dtype=np.float64) * _PC1_GRID
    ).astype(object)  # exact integer arithmetic via Python ints

    def int_iter(v):
        s = X @ v  # exact: object ints
        sp = np.array([int(x) // _PC1_GRID if x >= 0 else -((-int(x)) // _PC1_GRID) for x in s], dtype=object)
        w = X.T @ sp
        nrm = math.sqrt(
            sum((float(int(x)) * float(int(x)) for x in w), 0.0)
        )
        return np.array(
            [math.floor(float(int(x)) / nrm * _PC1_GRID) for x in w],
            dtype=object,
        )

    v = np.array([_PC1_GRID // 8] * X.shape[1], dtype=object)
    prev = v
    for _ in range(_PC1_ITERS):
        prev = v
        v = int_iter(v)
    got = sorted(
        embedding_power_iteration_pc1(spark, sf_dir).collect(),
        key=lambda r: r.j,
    )
    assert [r.pc1_unit for r in got] == [int(x) for x in v]
    na = math.sqrt(sum(float(int(x)) ** 2 for x in prev))
    nb = math.sqrt(sum(float(int(x)) ** 2 for x in v))
    dot = sum(int(a) * int(b) for a, b in zip(prev, v))
    want_cos = math.floor(dot / (na * nb) * _PC1_GRID)
    assert got[0].converged_cos_unit == want_cos
    # float trajectory agreement
    Xf = X.astype(np.float64)
    vf = np.ones(Xf.shape[1]) / 8
    for _ in range(_PC1_ITERS):
        wf = Xf.T @ (Xf @ vf)
        vf = wf / np.linalg.norm(wf)
    ve = np.array([r.pc1_unit for r in got], dtype=np.float64)
    cos = abs(float(ve @ vf)) / np.linalg.norm(ve)
    assert cos > 0.999, cos


# ---------------------------------------------------------------------------
# hard-negative mining + JL distortion (extensions/similarity.py)
# ---------------------------------------------------------------------------


def test_hard_negatives_planted_geometry(spark):
    """Anchor at e1 (label 0): the same-label near-copy must surface
    as pos_sim, and the different-label candidates must rank by their
    planted cosines with margin = pos - neg."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),  # anchor (vec_id % 1000 == 0)
        (1, [0.9, 0.1, 0.0, 0.0], 0),  # hardest positive
        (2, [0.8, 0.6, 0.0, 0.0], 1),  # neg, cos 0.8
        (3, [0.6, 0.8, 0.0, 0.0], 1),  # neg, cos 0.6
        (4, [0.0, 1.0, 0.0, 0.0], 1),  # neg, cos 0.0
        (5, [-1.0, 0.0, 0.0, 0.0], 2),  # neg, cos -1.0
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = X.hard_negatives(emb, k=3, query_mod=1000).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [
        2,
        3,
        4,
    ]
    by_id = {r["neighbor_id"]: r for r in out}
    assert by_id[2]["cosine_sim"] == 0.8
    assert by_id[3]["cosine_sim"] == 0.6
    pos = by_id[2]["pos_sim"]
    assert pos > 0.99  # the [0.9, 0.1] same-label near-copy
    for r in out:
        assert r["pos_sim"] == pos
        assert abs(r["margin"] - round(pos - r["cosine_sim"], 4)) < 1e-9
        assert r["anchor_label"] == 0 and r["neighbor_label"] != 0


def test_hard_negatives_without_positive_has_null_margin(spark):
    rows = [
        (0, [1.0, 0.0], 7),
        (1, [0.5, 0.5], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = X.hard_negatives(emb, k=2, query_mod=1000).collect()
    assert len(out) == 1
    assert out[0]["pos_sim"] is None and out[0]["margin"] is None


def test_jl_distortion_matches_python_replay(spark):
    """The strided pair sample, the fixed sign projection, and the
    basis-point ratio all replay exactly in Python."""
    import math

    from env_data_pipeline_spark.plans.vectorops import (
        _JL_OFFSET,
        _JL_OUT,
        _JL_SIGNS,
        _JL_STRIDE,
    )

    vecs = {
        i: [
            math.sin(0.1 * i + 0.37 * d) for d in range(64)
        ]  # deterministic, non-degenerate
        for i in range(80)
    }
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
        "vec_id bigint, embedding array<float>, label int",
    )
    out = {
        (r["vec_a"], r["vec_b"]): r
        for r in X.jl_distortion(
            emb, signs=_JL_SIGNS, stride=_JL_STRIDE, offset=_JL_OFFSET
        ).collect()
    }
    expect_pairs = {
        (a, a + _JL_OFFSET)
        for a in range(0, 80, _JL_STRIDE)
        if a + _JL_OFFSET < 80
    }
    assert set(out) == expect_pairs
    import numpy as np

    for (a, b), r in out.items():
        va = np.array(vecs[a], dtype=np.float32).astype(np.float64)
        vb = np.array(vecs[b], dtype=np.float32).astype(np.float64)
        d2o = round(float(((va - vb) ** 2).sum()), 4)
        s = np.array(_JL_SIGNS, dtype=np.float64)
        d2p = round(float(((s @ va - s @ vb) ** 2).sum()) / _JL_OUT, 4)
        assert abs(r["d2_orig"] - d2o) < 2e-4
        assert abs(r["d2_proj"] - d2p) < 2e-4
        assert r["ratio_bp"] == math.floor(
            10000.0 * r["d2_proj"] / r["d2_orig"]
        )
        assert r["within_2x"] == (5000 <= r["ratio_bp"] <= 20000)


def test_jl_distortion_null_ratio_on_coincident_pair(spark):
    same = [1.0] * 64
    emb = spark.createDataFrame(
        [(0, same, 0), (18, same, 0)],
        "vec_id bigint, embedding array<float>, label int",
    )
    out = X.jl_distortion(emb, signs=[[1] * 64] * 4, stride=37, offset=18).collect()
    assert len(out) == 1
    assert out[0]["d2_orig"] == 0.0
    assert out[0]["ratio_bp"] is None and out[0]["within_2x"] is None


def test_hybrid_rrf_fusion_invariants(spark, sf_dir):
    """The fused output must satisfy the RRF identity row-by-row
    (rrf_units = sum over present arms of 1e6 // (60 + rank)) and the
    fused_rank must be the (units desc, doc_id) order."""
    from env_data_pipeline_spark.plans.vectorops import hybrid_search_rrf

    out = sorted(
        hybrid_search_rrf(spark, sf_dir).collect(),
        key=lambda r: r.fused_rank,
    )
    assert [r.fused_rank for r in out] == list(range(1, len(out) + 1))
    assert 0 < len(out) <= 10
    for r in out:
        expect = 0
        if r.rank_lex is not None:
            assert 1 <= r.rank_lex <= 15
            expect += 1000000 // (60 + r.rank_lex)
        if r.rank_vec is not None:
            assert 1 <= r.rank_vec <= 15
            expect += 1000000 // (60 + r.rank_vec)
        assert r.rank_lex is not None or r.rank_vec is not None
        assert r.rrf_units == expect
    # the fused order is (units desc, doc_id asc)
    keys = [(-r.rrf_units, r.doc_id) for r in out]
    assert keys == sorted(keys)
