"""Query registrations for the scale extensions (X1-X5).

The dedup queries run over an AUGMENTED corpus (documents + exact
copies of doc_id%50=0 + first-word-dropped near-copies of
doc_id%50=25) so duplicate groups exist by construction at every SF —
the base synthetic corpus is collision-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from env_data_pipeline_spark.catalog import table
from env_data_pipeline_spark.extensions import bpe as BP
from env_data_pipeline_spark.extensions import dedup as D
from env_data_pipeline_spark.extensions import llmops as L_rep
from env_data_pipeline_spark.extensions import multimodal as M
from env_data_pipeline_spark.extensions import similarity as X
from env_data_pipeline_spark.extensions import text as TX
from env_data_pipeline_spark.plans.registry import (
    BENCH_EXTRA,
    BENCH_TRAINING,
    query,
)
from env_data_pipeline_spark.sources.fixtures import duck_with
from env_data_pipeline_spark.streaming import incremental_refresh as IR

# --------------------------------------------------------------------------
# augmented corpus (shared by the dedup family)
# --------------------------------------------------------------------------

EXACT_COPY_OFFSET = 10_000_000
NEAR_COPY_OFFSET = 20_000_000

_DUCK_AUG = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {EXACT_COPY_OFFSET} AS doc_id, text
      FROM documents WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + {NEAR_COPY_OFFSET} AS doc_id,
             substring(text, position(' ' IN text) + 1) AS text
      FROM documents WHERE doc_id % 50 = 25
"""


def _aug_docs(
    spark: SparkSession, sf_dir: str, parallel: bool = True
) -> DataFrame:
    # parallel=True (default): most consumers run the md5 shingle/gram
    # kernels (0.4-2 s of single-thread CPU at sf0.1) directly above
    # this scan, exactly the heavy-map shape the catalog's
    # layout-adaptive parallelism floor exists for (optimization guide
    # §2.5). Consumers whose map kernel is LIGHT (one md5/length per
    # doc — paragraph stats, exact dedup, id-only projections) pass
    # parallel=False: for them the floor's repartition exchange costs
    # more than the parallelism buys (measured r12:
    # dedup_paragraph_exact 0.63 s floor-off vs 1.17 s floor-on).
    docs = table(spark, sf_dir, "documents", parallel=parallel).select(
        "doc_id", "text"
    )
    exact = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + EXACT_COPY_OFFSET).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 50 == 25).select(
        (F.col("doc_id") + NEAR_COPY_OFFSET).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


# --------------------------------------------------------------------------
# X1 exact dedup
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
    WITH aug AS ({_DUCK_AUG})
    SELECT md5(text) AS text_hash, COUNT(*) AS n_docs,
           MIN(doc_id) AS representative_doc_id
    FROM aug GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: hash-groupBy exact duplicate groups. One shuffle on
    md5(text); at 100 TB hash first, shuffle the 16-byte digest, never
    the text."""
    return D.exact_dup_groups(_aug_docs(spark, sf_dir, parallel=False))


_DUCK_SIG_MINS = ",\n             ".join(
    f"MIN(({a} * x + {b}) % {D.MINHASH_P}) AS s{i}"
    for i, (a, b) in enumerate(D.MINHASH_COEFFS)
)
_DUCK_BANDS = "\n      UNION ALL\n".join(
    "      SELECT doc_id, {band} AS band, md5(concat_ws('|', {cols})) AS band_key FROM sigs".format(
        band=band,
        cols=", ".join(f"s{band * D.ROWS_PER_BAND + j}" for j in range(D.ROWS_PER_BAND)),
    )
    for band in range(D.N_BANDS)
)


# Shingle -> signature -> band CTE prefix shared by the symmetric
# pair pipeline below AND the asymmetric delta-vs-corpus probe.
_DUCK_SIG_BAND_CTES = f"""aug AS ({_DUCK_AUG}),
    w AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(len(w) - {D.SHINGLE_K - 1}),
                    i -> array_to_string(w[i + 1 : i + {D.SHINGLE_K}], ' '))) AS shingle
      FROM w WHERE len(w) >= {D.SHINGLE_K}
    ),
    hx AS (
      SELECT doc_id,
             (('0x' || substr(md5(shingle), 1, 12))::BIGINT) % {D.MINHASH_P} AS x
      FROM sh
    ),
    sigs AS (
      SELECT doc_id,
             {_DUCK_SIG_MINS}
      FROM hx GROUP BY doc_id
    ),
    bands AS (
{_DUCK_BANDS}
    )"""

# Full MinHash-LSH candidate-pair pipeline as a reusable CTE chain:
# dedup_minhash_lsh selects from it directly; dedup_clusters extends
# it with a recursive connected-components walk.
_DUCK_LSH_CTES = f"""{_DUCK_SIG_BAND_CTES},
    lsh_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(DISTINCT a.band) AS shared_bands
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                 AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE candidate-pair pipeline every dedup consumer shares:
    shingle (distinct=False — MIN is idempotent) -> minhash ->
    banded self-join over the augmented corpus. One definition so
    dedup_minhash_lsh, dedup_clusters, corpus_dedup_keep and
    dedup_crossmodal_agreement can never desynchronize their pair
    populations."""
    sh = D.shingles(_aug_docs(spark, sf_dir), distinct=False)
    return D.lsh_candidate_pairs(D.minhash_signatures(sh))


@query(
    "corpus_dedup_keep",
    oracle=f"""
    WITH {_DUCK_LSH_CTES},
    exact AS (SELECT doc_id,
              min(doc_id) OVER (PARTITION BY md5(text)) AS rep
              FROM aug),
    near AS (SELECT DISTINCT doc_b FROM lsh_pairs)
    SELECT e.doc_id,
           CASE WHEN e.doc_id <> e.rep OR n.doc_b IS NOT NULL
                THEN 'DROP' ELSE 'KEEP' END AS verdict,
           CASE WHEN e.doc_id <> e.rep THEN 'exact_duplicate'
                WHEN n.doc_b IS NOT NULL THEN 'near_duplicate'
                ELSE NULL END AS drop_reason
    FROM exact e LEFT JOIN near n ON e.doc_id = n.doc_b
    """,
)
def corpus_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+X2 composed into the executable curation decision: drop
    non-representative exact copies and the larger side of every
    MinHash-LSH candidate pair; everything else keeps. Exact evidence
    wins the reason column. One digest shuffle + the LSH pipeline;
    the near-dup drop set broadcasts back onto the corpus."""
    return D.dedup_keep_decision(_aug_docs(spark, sf_dir), _lsh_pairs(spark, sf_dir))


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_DUCK_LSH_CTES}
    SELECT doc_a, doc_b, shared_bands FROM lsh_pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash (16 perms) + LSH (4 bands x 4) candidate pairs —
    shingle -> minhash -> band-bucket self-join (SURVEY.md §2.11).

    Scale: one md5 per shingle, 16 arithmetic permutations folded into
    a map-side partial min-aggregate (extensions/dedup.py); signatures
    shrink each doc to 16 ints regardless of length; the band join
    shuffles only (band, key, doc_id). Exact copies share 4/4 bands;
    first-word-dropped near-copies share bands with probability ~ J^4
    per band (J≈0.97)."""
    return _lsh_pairs(spark, sf_dir)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_DUCK_LSH_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM lsh_pairs
      UNION
      SELECT doc_b AS s, doc_a AS d FROM lsh_pairs
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT wk.node, e.d FROM walk wk JOIN edges e ON e.s = wk.reach
    ),
    lab AS (
      SELECT node AS doc_id, MIN(reach) AS cluster_id FROM walk GROUP BY node
    )
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           doc_id = cluster_id AS is_representative
    FROM lab
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 follow-through: near-dup PAIRS -> duplicate CLUSTERS via
    connected components (iterative min-label propagation,
    extensions/dedup.py:connected_components), with the smallest
    doc_id as the cluster representative.

    This is the missing half of a production dedup pipeline: pairwise
    evidence is transitive (A~B, B~C) and the keep/drop decision must
    be made per component, not per pair. Mirrors the reference's
    dedup-then-keep-one flow at corpus scale.

    Scale: the pair graph is a vanishing fraction of the corpus (only
    banded LSH collisions), each propagation round is one narrow
    shuffle, and convergence takes O(cluster diameter) rounds —
    near-dup clusters are near-cliques, so 2-4. The oracle walks the
    same graph with a recursive CTE (transitive closure is fine at
    oracle SF, wrong tool at 100 TB — which is exactly why the engine
    side iterates instead)."""
    labels = D.connected_components(_lsh_pairs(spark, sf_dir))
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
    )


@query(
    "dedup_cluster_quality_keep",
    oracle=f"""
    WITH RECURSIVE {_DUCK_LSH_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM lsh_pairs
      UNION
      SELECT doc_b AS s, doc_a AS d FROM lsh_pairs
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT wk.node, e.d FROM walk wk JOIN edges e ON e.s = wk.reach
    ),
    lab AS (
      SELECT node AS doc_id, MIN(reach) AS cluster_id FROM walk GROUP BY node
    ),
    scored AS (
      SELECT lab.doc_id, lab.cluster_id, length(a.text) AS len
      FROM lab JOIN aug a ON a.doc_id = lab.doc_id
    ),
    win AS (
      SELECT cluster_id, doc_id AS kept_doc_id FROM (
        SELECT cluster_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY len DESC, doc_id) AS rn
        FROM scored)
      WHERE rn = 1
    )
    SELECT s.doc_id, s.cluster_id, w.kept_doc_id,
           CASE WHEN s.doc_id = w.kept_doc_id THEN 'KEEP' ELSE 'DROP' END
               AS verdict
    FROM scored s JOIN win w USING (cluster_id)
    """,
)
def dedup_cluster_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster dedup — the decision rule production
    pipelines actually ship: within every near-dup CLUSTER keep the
    LONGEST document (the standard keep-longest heuristic; truncated
    crawls and stripped near-copies lose to the fullest version), ties
    to the smallest doc_id. Differs from corpus_dedup_keep, which
    keeps the smallest-id representative — id order is stable but
    quality-blind.

    Exactness: the quality key is length(text) — an integer on both
    engines — and the winner is max(struct(len, -doc_id)), replayed in
    the oracle as ROW_NUMBER ORDER BY len DESC, doc_id.

    Scale: component labels come from the iterative min-label
    propagation (extensions/dedup.py::connected_components — one
    narrow shuffle per pass); the winner table is |clusters| rows and
    broadcasts back; text never shuffles (only its length does).
    """
    labels = D.connected_components(_lsh_pairs(spark, sf_dir))
    lens = _aug_docs(spark, sf_dir, parallel=False).select(
        "doc_id", F.length("text").alias("len")
    )
    scored = labels.join(lens, "doc_id")
    win = (
        scored.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("len"), (-F.col("doc_id")).alias("nid"))
            ).alias("m")
        )
        .select(
            "cluster_id", (-F.col("m.nid")).cast("bigint").alias("kept_doc_id")
        )
    )
    return scored.join(F.broadcast(win), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "kept_doc_id",
        F.when(F.col("doc_id") == F.col("kept_doc_id"), F.lit("KEEP"))
        .otherwise(F.lit("DROP"))
        .alias("verdict"),
    )


@query(
    "dedup_lsh_verified_pairs",
    oracle=f"""
    WITH {_DUCK_LSH_CTES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS i
      FROM lsh_pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           CAST(COALESCE(i.i, 0) AS BIGINT) AS inter_size,
           CAST(sa.n + sb.n - COALESCE(i.i, 0) AS BIGINT) AS union_size,
           (COALESCE(i.i, 0) * 1000000
              // (sa.n + sb.n - COALESCE(i.i, 0))) / 1000000.0 AS jaccard,
           COALESCE(i.i, 0) * 2 >= sa.n + sb.n - COALESCE(i.i, 0) AS verified
    FROM lsh_pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    """,
)
def dedup_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 production shape: LSH gives CANDIDATES, not duplicates — a
    band collision at 16 permutations has a real false-positive rate,
    so the pipeline every large corpus actually runs is candidates ->
    exact set-Jaccard verification on just those pairs. This query is
    that second stage: for every LSH candidate pair, the exact
    3-shingle intersection / union sizes, the quantized Jaccard
    ((i * 1e6) div union / 1e6 — integer division, cross-engine
    exact), and the verified flag at J >= 0.5 via the integer
    cross-multiply 2*i >= union.

    A left join keeps candidates with an empty intersection (possible
    only via md5 band-key collision) as verified=false evidence rather
    than silently dropping them.

    Scale: the exact-Jaccard join — quadratic if run corpus-wide — is
    restricted to the LSH collision set, which is O(near-dup pairs),
    a vanishing fraction of the corpus. The candidate pair list
    broadcasts onto the shingle stream; the intersection count
    shuffles (doc_a, doc_b) pair keys only.
    """
    # lineage cut (b): the doc filter, the pair broadcast and the assembly read it
    cand = _lsh_pairs(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    sh = D.shingles(_aug_docs(spark, sf_dir), distinct=True)
    # restrict the shingle stream to docs that appear in ANY candidate
    # pair BEFORE anything shuffles — the corpus never re-shuffles
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    sizes = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a_sh = sh_c.select(F.col("doc_id").alias("doc_a"), "shingle").join(
        F.broadcast(cand), "doc_a"
    )
    inter = (
        a_sh.join(
            sh_c.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    i0 = F.coalesce(F.col("i"), F.lit(0))
    union = F.col("na") + F.col("nb") - i0
    return (
        cand.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .join(F.broadcast(inter), ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            i0.cast("bigint").alias("inter_size"),
            union.cast("bigint").alias("union_size"),
            (F.expr("coalesce(i, 0) * 1000000 div (na + nb - coalesce(i, 0))")
             / F.lit(1000000.0)).alias("jaccard"),
            (i0 * 2 >= union).alias("verified"),
        )
    )


# delta split for the incremental ingest gate: ~10% of the augmented
# corpus plays the role of "today's crawl batch"
_DELTA_MOD = 10
_DELTA_REM = 7


@query(
    "dedup_delta_vs_corpus",
    oracle=f"""
    WITH {_DUCK_SIG_BAND_CTES},
    cand AS (
      SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
      FROM bands d
      JOIN bands c ON d.band = c.band AND d.band_key = c.band_key
      WHERE d.doc_id % {_DELTA_MOD} = {_DELTA_REM}
        AND c.doc_id % {_DELTA_MOD} <> {_DELTA_REM}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT p.delta_id, p.corpus_id, COUNT(*) AS i
      FROM cand p
      JOIN sh a ON a.doc_id = p.delta_id
      JOIN sh b ON b.doc_id = p.corpus_id AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.delta_id, p.corpus_id,
             COALESCE(i.i, 0) AS i,
             sa.n + sb.n - COALESCE(i.i, 0) AS u,
             COALESCE(i.i, 0) * 1000000
               // (sa.n + sb.n - COALESCE(i.i, 0)) AS j_u
      FROM cand p
      JOIN sizes sa ON sa.doc_id = p.delta_id
      JOIN sizes sb ON sb.doc_id = p.corpus_id
      LEFT JOIN inter i
        ON i.delta_id = p.delta_id AND i.corpus_id = p.corpus_id
    ),
    ranked AS (
      SELECT delta_id, corpus_id, j_u,
             COUNT(*) OVER (PARTITION BY delta_id) AS n_candidates,
             MAX(CASE WHEN 2 * i >= u THEN 1 ELSE 0 END)
               OVER (PARTITION BY delta_id) AS dup,
             ROW_NUMBER() OVER (PARTITION BY delta_id
                                ORDER BY j_u DESC, corpus_id) AS rn
      FROM scored
    ),
    delta AS (SELECT doc_id FROM aug
              WHERE doc_id % {_DELTA_MOD} = {_DELTA_REM})
    SELECT d.doc_id AS delta_id,
           CAST(COALESCE(r.n_candidates, 0) AS BIGINT) AS n_candidates,
           r.corpus_id AS best_match_doc,
           r.j_u / 1000000.0 AS best_jaccard,
           COALESCE(r.dup, 0) = 0 AS admitted
    FROM delta d
    LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON r.delta_id = d.doc_id
    """,
)
def dedup_delta_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingest dedup — the gate a production corpus runs on
    every new crawl batch: probe the day's DELTA (doc_id % 10 == 7
    plays that role) against the standing CORPUS LSH index, exact-
    verify only the collisions, and ADMIT a delta doc iff no corpus
    doc matches at Jaccard >= 0.5. One row per delta doc: candidate
    count, best match, quantized best Jaccard, verdict — zero-
    candidate docs kept via left join with admitted = true.

    Differs from the batch pipelines (dedup_minhash_lsh & friends):
    those dedup a corpus against ITSELF (symmetric self-join); this is
    the asymmetric delta-probe shape where the corpus side is a stored
    index (extensions/dedup.py::band_table — one shared definition) and
    only the delta's bands and collision shingles move.

    Scale: the delta band table is ingest-batch-sized and BROADCASTS
    onto the corpus index — the corpus never self-joins and never
    re-shuffles; exact verification touches only colliding docs'
    shingles (semi-join-restricted before any shuffle). Quadratic
    nothing, same discipline as dedup_lsh_verified_pairs."""
    aug = _aug_docs(spark, sf_dir)
    is_delta = F.col("doc_id") % _DELTA_MOD == _DELTA_REM
    # lineage cut (b): the delta and the corpus branches both read the band table
    bands = D.band_table(
        D.minhash_signatures(D.shingles(aug, distinct=False))
    ).localCheckpoint()
    delta_bands = bands.filter(is_delta).select(
        F.col("doc_id").alias("delta_id"), "band", "band_key"
    )
    corpus_bands = bands.filter(~is_delta)
    cand = (
        corpus_bands.join(F.broadcast(delta_bands), ["band", "band_key"])
        .select("delta_id", F.col("doc_id").alias("corpus_id"))
        .distinct()
        # lineage cut (b): the doc filter, the delta side and the scoring read it
        .localCheckpoint()
    )
    sh = D.shingles(aug, distinct=True)
    cand_docs = (
        cand.select(F.col("delta_id").alias("doc_id"))
        .unionByName(cand.select(F.col("corpus_id").alias("doc_id")))
        .distinct()
    )
    # consumed three times (sizes, delta side, corpus side); the
    # expensive part — the full-corpus shingle distinct — sits below
    # one exchange, so the consumers share it as a ReusedExchange and
    # a checkpoint barrier here would only serialize the driver
    sh_c = sh.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    sizes = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a_sh = sh_c.select(F.col("doc_id").alias("delta_id"), "shingle").join(
        F.broadcast(cand), "delta_id"
    )
    inter = (
        a_sh.join(
            sh_c.select(F.col("doc_id").alias("corpus_id"), "shingle"),
            ["corpus_id", "shingle"],
        )
        .groupBy("delta_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("delta_id"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("corpus_id"), F.col("n").alias("nb"))
    scored = (
        cand.join(F.broadcast(sa), "delta_id")
        .join(F.broadcast(sb), "corpus_id")
        .join(F.broadcast(inter), ["delta_id", "corpus_id"], "left")
        .select(
            "delta_id",
            "corpus_id",
            F.expr(
                "coalesce(i, 0) * 1000000 div (na + nb - coalesce(i, 0))"
            ).alias("j_u"),
            (
                F.coalesce(F.col("i"), F.lit(0)) * 2
                >= F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))
            ).cast("int").alias("verified"),
        )
    )
    best = scored.groupBy("delta_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max(
            F.struct(F.col("j_u"), (-F.col("corpus_id")).alias("nid"))
        ).alias("m"),
        F.max("verified").alias("dup"),
    )
    delta_docs = aug.filter(is_delta).select(F.col("doc_id").alias("delta_id"))
    return delta_docs.join(F.broadcast(best), "delta_id", "left").select(
        "delta_id",
        F.coalesce(F.col("n_candidates"), F.lit(0))
        .cast("bigint")
        .alias("n_candidates"),
        (-F.col("m.nid")).cast("bigint").alias("best_match_doc"),
        (F.col("m.j_u") / F.lit(1000000.0)).alias("best_jaccard"),
        (F.coalesce(F.col("dup"), F.lit(0)) == 0).alias("admitted"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH aug AS ({_DUCK_AUG}),
    w AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
    shtext AS (
      SELECT doc_id,
             unnest(list_transform(range(len(w) - {D.SHINGLE_K - 1}),
                    i -> array_to_string(w[i + 1 : i + {D.SHINGLE_K}], ' '))) AS shingle_text
      FROM w WHERE len(w) >= {D.SHINGLE_K}
    ),
    sh0 AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(shingle_text), 1, 12))::BIGINT AS shingle
      FROM shtext
    ),
    rare AS (
      SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) <= {D.JACCARD_MAX_DF}
    ),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4)
          >= {D.JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c: exact n-gram Jaccard near-dup pairs over an inverted index
    with a document-frequency skew cap (see extensions/dedup.py)."""
    return D.ngram_jaccard_pairs(_aug_docs(spark, sf_dir))


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH aug AS ({_DUCK_AUG}),
    w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM aug),
    hw AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 16))::UBIGINT AS h FROM w),
    bits AS (
      SELECT doc_id, b.range AS bit,
             SUM(CASE WHEN (h >> CAST(b.range AS INT)) & 1 = 1
                      THEN 1 ELSE -1 END) AS acc
      FROM hw CROSS JOIN range(64) b GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             SUM(CASE WHEN acc > 0
                      THEN (CAST(1 AS UBIGINT) << CAST(bit AS INT))
                      ELSE CAST(0 AS UBIGINT) END) AS ufp
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, ufp, b.range AS band,
             (ufp >> CAST(b.range * 16 AS INT)) & 65535 AS key
      FROM fp CROSS JOIN range({D.SIMHASH_N_BANDS}) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             a.ufp AS ua, b2.ufp AS ub
      FROM bands a
      JOIN bands b2 ON a.band = b2.band AND a.key = b2.key
                   AND a.doc_id < b2.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ua, ub)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ua, ub)) <= 6
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b: SimHash fingerprints as pure JVM Column math (r6: the
    former Arrow pandas_udf kernel is gone — dedup.simhash_col
    evaluates the whole fingerprint in the scan projection, zero
    Python) + banded Hamming-distance self-join. FULL ORACLE as of
    r5: word hashes are md5-derived 64-bit ints, so DuckDB replays
    the whole fingerprint — per-word +/-1 bit votes, sign
    aggregation, 16-bit band keys, the band equi-join and the
    bit_count(xor) distance — in the unsigned domain, bit-identical
    to the signed LongType fingerprints Spark carries (parity
    asserted per-doc by the golden tests)."""
    fps = D.simhash_fingerprints(_aug_docs(spark, sf_dir))
    return D.simhash_near_pairs(fps, max_hamming=6)


# --------------------------------------------------------------------------
# X3 similarity search
# --------------------------------------------------------------------------

_DUCK_COSINE = """
      list_sum(list_transform(range(len(q.embedding)),
               i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(range(len(q.embedding)),
               i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE))))
       * sqrt(list_sum(list_transform(range(len(c.embedding)),
               i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))))
"""

_DUCK_SIGN_BUCKET = "concat(" + ", ".join(
    f"CASE WHEN embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(8)
) + ")"

# augmented embeddings: exact copies of vec_id%50=0 + first-coordinate
# +0.25 perturbed near-copies of vec_id%50=25 (all cast to DOUBLE first
# so both engines perturb the identical value)
_DUCK_AUG_EMB = f"""
      WITH e0 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
        FROM embeddings
      )
      SELECT vec_id, embedding FROM e0
      UNION ALL
      SELECT vec_id + {EXACT_COPY_OFFSET} AS vec_id, embedding
      FROM e0 WHERE vec_id % 50 = 0
      UNION ALL
      SELECT vec_id + {NEAR_COPY_OFFSET} AS vec_id,
             list_concat([embedding[1] + 0.25], embedding[2:]) AS embedding
      FROM e0 WHERE vec_id % 50 = 25
"""


def _aug_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    exact = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + EXACT_COPY_OFFSET).alias("vec_id"), "embedding"
    )
    near = e.filter(F.col("vec_id") % 50 == 25).select(
        (F.col("vec_id") + NEAR_COPY_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.25)),
            F.slice(F.col("embedding"), F.lit(2), F.size("embedding") - 1),
        ).alias("embedding"),
    )
    return e.unionByName(exact).unionByName(near)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH aug AS ({_DUCK_AUG_EMB}),
    b AS (SELECT vec_id, embedding, {_DUCK_SIGN_BUCKET} AS bucket FROM aug),
    pairs AS (
      SELECT q.vec_id AS vec_a, c.vec_id AS vec_b,
             ROUND({_DUCK_COSINE}, 4) AS cosine_sim
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
    )
    SELECT vec_a, vec_b, cosine_sim FROM pairs WHERE cosine_sim >= 0.9
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c: embedding-cosine near-duplicate pairs over an augmented
    corpus — sign-bucket LSH equi-join, cosine >= 0.9 inside buckets
    (see extensions/similarity.py::embedding_near_dup_pairs)."""
    return X.embedding_near_dup_pairs(_aug_embeddings(spark, sf_dir), tau=0.9)


@query(
    "dedup_crossmodal_agreement",
    oracle=f"""
    WITH {_DUCK_LSH_CTES},
    aug_emb AS ({_DUCK_AUG_EMB})
    SELECT p.doc_a, p.doc_b, p.shared_bands,
           ROUND({_DUCK_COSINE}, 4) AS cosine_sim,
           ROUND({_DUCK_COSINE}, 4) >= 0.9 AS embedding_agrees
    FROM lsh_pairs p
    JOIN aug_emb q ON q.vec_id = p.doc_a
    JOIN aug_emb c ON c.vec_id = p.doc_b
    """,
)
def dedup_crossmodal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup consistency: every TEXT near-dup candidate
    pair (MinHash-LSH) checked against the EMBEDDING signal — pairs
    whose ids carry embeddings get their cosine and an agrees flag.
    The two augmentations plant the same duplicate structure at the
    same ids, so text-evidence pairs should score high cosine; a
    divergence flags either a bad embedding batch or an LSH false
    positive. Plan: the pair set (duplicate-sized, tiny) broadcasts
    onto the embeddings twice — no corpus-sized shuffle."""
    pairs = _lsh_pairs(spark, sf_dir)
    emb = _aug_embeddings(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("eb"))
    # stream the embeddings, broadcast the (duplicate-sized) pair side
    # at each step — the pair frame never exceeds the dup population
    pa = a.join(F.broadcast(pairs), "doc_a")
    joined = b.join(F.broadcast(pa), "doc_b")
    # materialize the cosine ONCE, then derive the flag from the named
    # column — referencing the 3-fold HOF expression twice in one
    # projection would re-evaluate it per reference
    scored = joined.select(
        "doc_a",
        "doc_b",
        "shared_bands",
        F.round(X.cosine(F.col("ea"), F.col("eb")), 4).alias("cosine_sim"),
    )
    return scored.withColumn("embedding_agrees", F.col("cosine_sim") >= 0.9)


@query(
    "similarity_topk_exact_baseline",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_DUCK_COSINE} AS sim
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id % 100 = 0
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(sim, 4) DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def similarity_topk_exact_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 GROUND-TRUTH BASELINE — deliberately brute-force: broadcast
    query set crossed against the corpus (the one intentional nested
    loop in the registry, allowlisted in the plan audit). Exists to
    measure the approximate paths' recall; ``similarity_topk`` is the
    user-facing top-k and routes to the LSH equi-join."""
    return X.topk_bruteforce(table(spark, sf_dir, "embeddings"), k=5)


def _duck_int_bucket(n: int = 4) -> str:
    """Integer sign-bit bucket (bit i set when dim i+1 >= 0)."""
    return (
        "("
        + " + ".join(
            f"CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
            for i in range(n)
        )
        + ")"
    )


# shared LSH CTEs: 4-bit int bucket, queries multi-probe their own
# bucket plus every <=2-bit flip (mirrors extensions/similarity.py;
# the mask list comes from the same probe_masks helper so the two
# engines cannot drift)
_DUCK_PROBES = ", ".join(
    f"xor(bucket, {m})" if m else "bucket" for m in X.probe_masks(4, 2)
)
_DUCK_ANN_LSH_CTES = f"""
    cb AS (SELECT vec_id, embedding, {_duck_int_bucket(4)} AS bucket FROM embeddings),
    qp AS (
      SELECT vec_id, embedding,
             unnest([{_DUCK_PROBES}]) AS bucket
      FROM cb WHERE vec_id % 100 = 0
    ),
    lscored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_DUCK_COSINE} AS sim
      FROM qp q JOIN cb c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
    )
"""

# shared IVF CTEs: corpus assigned to its 1 nearest cell, queries
# probe their 4 nearest cells (nprobe=4)
_DUCK_IVF_CTES = f"""
    e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS centroid_id, embedding FROM e WHERE vec_id % 100 = 50
    ),
    sims AS (
      SELECT q.vec_id, c.centroid_id, {_DUCK_COSINE} AS csim
      FROM e q CROSS JOIN (SELECT centroid_id, embedding FROM cent) c
    ),
    assigned AS (
      SELECT vec_id, centroid_id AS cell
      FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ROUND(csim, 4) DESC, centroid_id ASC) AS rn
        FROM sims
      ) WHERE rn = 1
    ),
    cells AS (SELECT e.vec_id, e.embedding, a.cell FROM e JOIN assigned a USING (vec_id)),
    qcells AS (
      SELECT vec_id AS query_id, centroid_id AS cell
      FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ROUND(csim, 4) DESC, centroid_id ASC) AS rn
        FROM sims WHERE vec_id % 100 = 0
      ) WHERE rn <= 4
    ),
    qc AS (
      SELECT qc0.query_id, e.embedding, qc0.cell
      FROM qcells qc0 JOIN e ON e.vec_id = qc0.query_id
    ),
    iscored AS (
      SELECT q.query_id AS query_id, c.vec_id AS neighbor_id, {_DUCK_COSINE} AS sim
      FROM qc q JOIN cells c ON q.cell = c.cell AND q.query_id != c.vec_id
    )
"""


@query(
    "similarity_topk_lsh",
    oracle=f"""
    WITH {_DUCK_ANN_LSH_CTES},
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(sim, 4) DESC, neighbor_id ASC) AS rank
      FROM lscored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim, rank
    FROM ranked WHERE rank <= 3
    """,
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: sign-bit LSH bucket equi-join with 1-bit
    multi-probe instead of the cross join — at 100 TB each query
    scores a ~(n_bits+1)/2^n_bits slice of the corpus."""
    return X.topk_lsh(table(spark, sf_dir, "embeddings"), k=3)


# Rademacher hyperplane family shared by the Spark plan and the
# DuckDB oracle: both sides derive their ±1 literals from the same
# seeded function, and both sum terms left-to-right in double, so the
# projections are bit-identical and the sign bits cannot diverge.
_HP_PLANES = X.rademacher_hyperplanes(n_bits=4, dim=64, seed=42)


def _duck_hp_proj(plane: list[int], rel: str = "") -> str:
    """Left-to-right ±embedding[i] chain matching hyperplane_projection."""
    col = f"{rel}embedding" if not rel else f"{rel}.embedding"
    terms = [f"CAST({col}[1] AS DOUBLE) * {plane[0]}"]
    for i in range(1, len(plane)):
        op = "+" if plane[i] > 0 else "-"
        terms.append(f"{op} CAST({col}[{i + 1}] AS DOUBLE)")
    return "(" + " ".join(terms) + ")"


def _duck_hp_bucket() -> str:
    bits = [
        f"CASE WHEN {_duck_hp_proj(plane)} >= 0 THEN {1 << b} ELSE 0 END"
        for b, plane in enumerate(_HP_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


_DUCK_HP_CTES = f"""
    hb AS (SELECT vec_id, embedding, {_duck_hp_bucket()} AS bucket FROM embeddings),
    hqp AS (
      SELECT vec_id, embedding,
             unnest([{_DUCK_PROBES}]) AS bucket
      FROM hb WHERE vec_id % 100 = 0
    ),
    hscored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_DUCK_COSINE} AS sim
      FROM hqp q JOIN hb c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
    )
"""


@query(
    "similarity_topk_hyperplane",
    oracle=f"""
    WITH {_DUCK_HP_CTES},
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(sim, 4) DESC, neighbor_id ASC) AS rank
      FROM hscored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim, rank
    FROM ranked WHERE rank <= 3
    """,
)
def similarity_topk_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path, hyperplane variant: the bucket bit b is the sign
    of a seeded Rademacher projection mixing ALL 64 dims — robust on
    real normalized embeddings whose leading dims correlate, where
    sign-of-coordinate degenerates into a handful of buckets. Same
    multi-probe equi-join shape as similarity_topk_lsh."""
    return X.topk_lsh(
        table(spark, sf_dir, "embeddings"), k=3, max_flips=2, planes=_HP_PLANES
    )


@query(
    "similarity_topk",
    oracle=f"""
    WITH {_DUCK_HP_CTES},
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(sim, 4) DESC, neighbor_id ASC) AS rank
      FROM hscored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 user-facing top-k: routes to the multi-probe RADEMACHER
    HYPERPLANE buckets (the r4-verdict default — sign-of-coordinate
    buckets key on the leading dims and degenerate on real correlated
    embeddings, while each hyperplane bit mixes all 64 dims). Same
    equi-join plan as similarity_topk_hyperplane; recall@3 >= 0.9 is
    pinned by tests/test_extensions.py::test_hyperplane_lsh_recall_floor.
    The brute-force cross join is deliberately NOT reachable under
    this name; it lives on as ``similarity_topk_exact_baseline`` for
    recall measurement only."""
    return X.topk_lsh(
        table(spark, sf_dir, "embeddings"), k=5, max_flips=2, planes=_HP_PLANES
    )


# --------------------------------------------------------------------------
# X4 text analysis
# --------------------------------------------------------------------------

_STOP = ", ".join(f"'{s}'" for s in TX.EN_STOPWORDS)


def _duck_lang_case() -> str:
    score = {
        lang: f"len(list_filter(w, x -> x IN ({', '.join(repr(m) for m in markers)})))"
        for lang, markers in TX.LANG_MARKERS.items()
    }
    langs = sorted(score)
    clauses = []
    for i, lang in enumerate(langs):
        conds = [f"{score[lang]} >= {score[o]}" for o in langs[i + 1 :]]
        clauses.append(
            f"WHEN {' AND '.join(conds)} THEN '{lang}'" if conds else f"ELSE '{lang}'"
        )
    return "CASE " + " ".join(clauses) + " END"


@query(
    "text_quality_profile",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents
    ),
    m AS (
      SELECT doc_id, lang, text, w,
             len(w) AS n_words,
             greatest(len(string_split_regex(text, '[^a-zA-Z0-9]+')),
                      CAST(ceil(length(text) / CAST(4.0 AS DOUBLE)) AS INT)) AS n_tokens_est,
             list_sum(list_transform(w, x -> length(x))) AS total_chars,
             len(list_filter(w, x -> x IN ({_STOP}))) AS n_stop,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct
      FROM w
    )
    SELECT doc_id, lang, n_words, n_tokens_est,
           ROUND(total_chars / CAST(greatest(n_words, 1) AS DOUBLE), 4) AS avg_word_len,
           ROUND(n_stop / CAST(greatest(n_words, 1) AS DOUBLE), 4) AS stopword_ratio,
           ROUND(n_punct / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS punct_ratio,
           CASE WHEN n_words < 10 THEN 'TOO_SHORT'
                WHEN n_punct / CAST(greatest(length(text), 1) AS DOUBLE) > 0.2 THEN 'TOO_NOISY'
                WHEN n_stop / CAST(greatest(n_words, 1) AS DOUBLE) < 0.01 THEN 'LOW_NATURALNESS'
                ELSE 'OK' END AS quality,
           {_duck_lang_case()} AS predicted_lang,
           md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
    FROM m
    """,
)
def text_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: token counts (whitespace + BPE-ish estimate), quality
    scoring (length/stopword/punct), language-ID heuristic, bag
    fingerprint — all builtin HOF Column expressions, zero UDFs."""
    return TX.text_profile(table(spark, sf_dir, "documents"))


@query(
    "text_token_stats",
    oracle=f"""
    WITH m AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_tok,
             greatest(len(string_split_regex(text, '[^a-zA-Z0-9]+')),
                      CAST(ceil(length(text) / CAST(4.0 AS DOUBLE)) AS INT))
               AS n_tok_est
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tok_est) AS BIGINT) AS total_tokens_bpe_est,
           ROUND(AVG(n_tok), 4) AS avg_tokens,
           ROUND(quantile_cont(n_tok, 0.5), 4) AS p50_tokens,
           ROUND(quantile_cont(n_tok, 0.95), 4) AS p95_tokens,
           CAST(MAX(n_tok) AS BIGINT) AS max_tokens
    FROM m GROUP BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 corpus budgeting: per-language token totals and distribution
    — the numbers a training-data pipeline needs to size a mixture
    (docs, whitespace + BPE-ish token totals, mean/median/p95/max per
    doc). One scan, one hash agg keyed on lang; at 100 TB the exact
    percentile swaps to approx_percentile (t-digest, mergeable)."""
    docs = table(spark, sf_dir, "documents")
    m = docs.select(
        "lang",
        TX.n_tokens(F.col("text")).alias("n_tok"),
        TX.n_tokens_bpe_ish(F.col("text")).alias("n_tok_est"),
    )
    return m.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_tok_est").alias("total_tokens_bpe_est"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.round(F.expr("percentile(n_tok, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tok, 0.95)"), 4).alias("p95_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
    )


@query(
    "corpus_mixture_summary",
    oracle=f"""
    {duck_with('bpe_vocab')},
    {BP.duck_wordtok_ctes()},
    m AS (
      SELECT source, lang, n_chars,
             len(string_split(text, ' ')) AS n_tok,
             (n_chars = length(text)) AS chars_consistent
      FROM documents
    ),
    g AS (
      SELECT source, lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(CASE WHEN chars_consistent THEN 0 ELSE 1 END) AS BIGINT)
               AS n_chars_mismatch
      FROM m GROUP BY source, lang
    ),
    btok AS (
      SELECT source, lang, SUM(n_bpe) AS total_bpe_tokens FROM (
        SELECT d.source, d.lang, u.x AS word
        FROM documents d, unnest(string_split(d.text, ' ')) AS u(x)
        WHERE length(u.x) > 0
      ) i JOIN wordtok t USING (word) GROUP BY 1, 2
    )
    SELECT g.source, g.lang, n_docs, total_tokens,
           CAST(COALESCE(b.total_bpe_tokens, 0) AS BIGINT)
             AS total_bpe_tokens,
           total_chars, n_chars_mismatch,
           ROUND(n_docs / CAST(SUM(n_docs) OVER () AS DOUBLE), 4) AS corpus_frac
    FROM g LEFT JOIN btok b ON b.source = g.source AND b.lang = g.lang
    """,
)
def corpus_mixture_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 mixture accounting: docs/tokens/chars per (source, lang) plus
    each cell's fraction of the corpus — the table a pretraining run is
    sampled from — and a metadata-consistency count (rows whose stored
    n_chars disagrees with length(text), the cheap corruption tripwire).
    One scan, one hash agg; the fraction is a single whole-frame window
    over the tiny aggregated result, not the corpus. r9 adds the
    BPE-token denomination column (total_bpe_tokens, extensions/
    bpe.py) next to the whitespace count — the budget a trainer
    actually spends."""
    docs = table(spark, sf_dir, "documents")
    btok = BP.group_tokens(
        docs, BP.word_tokens_for(spark, sf_dir), "source", "lang"
    ).select(
        "source", "lang", F.col("n_bpe_tokens").alias("total_bpe_tokens")
    )
    m = docs.select(
        "source",
        "lang",
        "n_chars",
        TX.n_tokens(F.col("text")).alias("n_tok"),
        (F.col("n_chars") == F.length("text")).alias("chars_consistent"),
    )
    g = m.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.when(F.col("chars_consistent"), 0).otherwise(1)).alias(
            "n_chars_mismatch"
        ),
    )
    from pyspark.sql.window import Window

    return g.join(F.broadcast(btok), ["source", "lang"], "left").select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        F.coalesce("total_bpe_tokens", F.lit(0))
        .cast("bigint")
        .alias("total_bpe_tokens"),
        "total_chars",
        "n_chars_mismatch",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(Window.partitionBy()), 4
        ).alias("corpus_frac"),
    )


@query(
    "corpus_stratified_sample",
    oracle="""
    WITH sized AS (
      SELECT source, lang, COUNT(*) AS n_in
      FROM documents GROUP BY source, lang
    ),
    rated AS (
      SELECT source, lang, n_in,
             least(1.0, 60.0 / n_in) AS target_rate
      FROM sized
    ),
    tagged AS (
      SELECT d.source, d.lang, r.n_in, r.target_rate,
             (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 10000) < CAST(floor(r.target_rate * 10000) AS BIGINT) AS keep
      FROM documents d JOIN rated r USING (source, lang)
    )
    SELECT source, lang,
           CAST(MIN(n_in) AS BIGINT) AS n_in,
           ROUND(MIN(target_rate), 4) AS target_rate,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           ROUND(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
                 / CAST(MIN(n_in) AS DOUBLE), 4) AS realized_rate
    FROM tagged GROUP BY source, lang
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: cap every (source, lang)
    cell at ~60 docs via HASH-based Bernoulli (keep iff
    md5(doc_id) mod 10k < rate*10k) — reproducible across runs,
    engines, and cluster sizes, unlike RNG sampleBy, and exactly
    oracle-checkable for the same reason. Per-cell rates come from a
    tiny aggregate broadcast back onto the scan; the doc row never
    shuffles (filter evaluates in the scan projection). The summary
    reports target vs realized rate per cell — hash sampling's
    realized rate converges to target as cells grow."""
    docs = table(spark, sf_dir, "documents")
    rated = (
        docs.groupBy("source", "lang")
        .agg(F.count("*").alias("n_in"))
        .withColumn("target_rate", F.least(F.lit(1.0), F.lit(60.0) / F.col("n_in")))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10000
    )
    # explicit floor on BOTH engines: DuckDB CAST(double AS BIGINT)
    # rounds to nearest while Spark's cast truncates — without the
    # floor the keep-thresholds differ by 1 on half the cells
    tagged = docs.join(F.broadcast(rated), ["source", "lang"]).withColumn(
        "keep", bucket < F.floor(F.col("target_rate") * 10000).cast("bigint")
    )
    kept = F.sum(F.when(F.col("keep"), 1).otherwise(0))
    return tagged.groupBy("source", "lang").agg(
        F.min("n_in").alias("n_in"),
        F.round(F.min("target_rate"), 4).alias("target_rate"),
        kept.alias("n_sampled"),
        F.round(kept / F.min("n_in"), 4).alias("realized_rate"),
    )


@query(
    "text_rolling_fingerprint",
    oracle=f"""
    WITH aug AS ({_DUCK_AUG}),
    v AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               w -> ('0x' || substr(md5(w), 1, 12))::BIGINT % {TX.ROLL_P})
               AS vals
      FROM aug
    ),
    fp AS (
      SELECT doc_id,
             list_reduce(vals,
               (acc, x) -> (acc * {TX.ROLL_B} + x) % {TX.ROLL_P}) AS fingerprint
      FROM v
    )
    SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS representative_doc_id
    FROM fp GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 rolling-hash fingerprint (Rabin-Karp polynomial fold over
    per-word hashes): order-SENSITIVE duplicate groups — the sequence-
    equality complement of the bag fingerprint. The augmented corpus's
    exact copies collide; the first-word-dropped near copies do not.
    One narrow shuffle on the 8-byte fingerprint, like dedup_exact —
    the text never crosses the wire."""
    docs = _aug_docs(spark, sf_dir)
    vals = docs.select("doc_id", TX.word_hash_vals(F.col("text")).alias("vals"))
    fp = vals.select(
        "doc_id", TX.rolling_fingerprint(F.col("vals")).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("representative_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# headline set leads with the SCALE paths (banded LSH joins); the
# brute-force broadcast cross stays registered + oracle-checked as the
# small-query-set tool it is documented to be, but is not a headline
BENCH_EXTRA.update(
    {"dedup_minhash_lsh", "similarity_topk_lsh", "similarity_topk_ivf",
     "text_quality_profile", "dedup_substring_spans",
     # r8 operator classes: incremental delta-probe dedup and the
     # Arrow-binary-kernel banding near-dup path
     "dedup_delta_vs_corpus", "multimodal_phash_near_dups",
     # r10: the RefinedWeb paragraph tier (explode + digest groupBy)
     "dedup_paragraph_exact"}
)
# inline-train IVF baseline: labeled training tier, not the serving
# headline (its serving-path sibling similarity_topk_ivf_served owns
# that slot)
BENCH_TRAINING.add("similarity_topk_ivf")


# --------------------------------------------------------------------------
# X5 multimodal
# --------------------------------------------------------------------------


@query(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum,
           CAST(doc_id % 640 + 64 AS INT) AS width,
           CAST(doc_id % 480 + 48 AS INT) AS height
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: opaque binary payload + typed metadata struct — metadata
    projection stays columnar (the payload column is never read:
    Parquet column pruning at work)."""
    assets = M.media_assets(table(spark, sf_dir, "documents"))
    return assets.select(
        "asset_id",
        "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("checksum"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


@query(
    "multimodal_features",
    oracle="""
    WITH a AS (
      SELECT doc_id AS asset_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             text, encode(text) AS payload
      FROM documents
    )
    SELECT asset_id, media_type,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           -- md5 over the UTF-8 payload == md5 of the source string
           -- (DuckDB md5 hashes the string's UTF-8 encoding)
           md5(text) AS checksum,
           ROUND(CASE WHEN octet_length(payload) = 0 THEN 0.0
                      ELSE list_sum(list_transform(
                               range(octet_length(payload)),
                               i -> ('0x' || substr(hex(payload), i * 2 + 1, 2))::INT))
                           / CAST(octet_length(payload) AS DOUBLE) END,
                 4) AS brightness,
           16 AS feature_dim
    FROM a
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: the decode/feature-extract kernel over mapInPandas (codec
    stubbed — deterministic byte statistics; see extensions/multimodal
    for the real-decoder swap point). FULL ORACLE as of r5 (the last
    rows-only row): the stand-in codec is a pure function of the
    payload bytes — md5 checksum, mean byte value rounded to 4
    (DuckDB walks the hex dump two chars per byte), constant
    feature_dim — so the oracle replays byte-for-byte what the Arrow
    kernel computes. Tie-safety: the kernel rounds the mean HALF-UP
    (matching SQL ROUND) because payload lengths factoring into 2s
    and 5s make sum/len an exact 5-decimal tie where Python's
    half-even round() would diverge (observed at len 512/320)."""
    assets = M.media_assets(table(spark, sf_dir, "documents"))
    return M.extract_features(assets)


@query(
    "multimodal_base64_sink",
    oracle="""
    SELECT doc_id AS asset_id,
           to_base64(encode(text)) AS payload_b64,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
)
def multimodal_base64_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: binary -> base64 at the JSON boundary
    (sanitize_binary_data, landfire_container.py:308-320 /
    topography_container.py:180-192) — the builtin F.base64, no UDF;
    a pure projection that pipelines inside whole-stage codegen."""
    assets = M.media_assets(table(spark, sf_dir, "documents"))
    # Spark's base64 emits MIME-chunked text (CRLF every 76 chars);
    # strip to the standard unchunked form the reference's
    # b64encode().decode() produces
    b64 = F.regexp_replace(F.base64("payload"), "\r\n", "")
    return assets.select(
        "asset_id",
        b64.alias("payload_b64"),
        F.octet_length("payload").alias("n_bytes"),
    )


@query(
    "multimodal_nested_sanitize",
    oracle="""
    SELECT doc_id AS asset_id,
           to_base64(encode(text)) AS payload_b64,
           to_base64(encode(substring(text, 1, 16))) AS thumb_b64,
           to_base64(encode(substring(text, 1, 8))) AS frame0_b64,
           to_base64(encode(substring(text, 9, 8))) AS frame1_b64
    FROM documents
    """,
)
def multimodal_nested_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 full fidelity: the reference's sanitize_binary_data walks
    nested dicts/lists and b64-encodes every bytes leaf
    (landfire_container.py:308-320). Build a nested document shape —
    struct payload + struct thumbnail + array of binary frames — run
    the schema-recursive sanitizer (extensions/multimodal.py::
    sanitize_binary), then flatten the sanitized leaves for the
    oracle. Slices are char-based on the text BEFORE encoding so both
    engines cut identical bytes on multibyte UTF-8."""
    docs = table(spark, sf_dir, "documents")
    nested = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.struct(
            F.encode("text", "UTF-8").alias("payload"),
            F.struct(
                F.encode(F.substring("text", 1, 16), "UTF-8").alias("thumb"),
            ).alias("meta"),
            F.array(
                F.encode(F.substring("text", 1, 8), "UTF-8"),
                F.encode(F.substring("text", 9, 8), "UTF-8"),
            ).alias("frames"),
        ).alias("asset"),
    )
    clean = M.sanitize_binary_columns(nested)
    return clean.select(
        "asset_id",
        F.col("asset.payload").alias("payload_b64"),
        F.col("asset.meta.thumb").alias("thumb_b64"),
        F.element_at("asset.frames", 1).alias("frame0_b64"),
        F.element_at("asset.frames", 2).alias("frame1_b64"),
    )


@query(
    "text_langid_accuracy",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    pred AS (
      SELECT doc_id, lang, {_duck_lang_case()} AS predicted_lang FROM w
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(SUM(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS accuracy
    FROM pred GROUP BY lang
    """,
)
def text_langid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: language-ID heuristic evaluated against the corpus's true
    lang labels — per-language accuracy, the standard
    classifier-evaluation aggregation (predict in-scan via marker-word
    scores, one hash agg on the label)."""
    docs = table(spark, sf_dir, "documents")
    pred = docs.select(
        "lang", TX.predicted_lang(F.col("text")).alias("predicted_lang")
    )
    hit = F.when(F.col("predicted_lang") == F.col("lang"), 1).otherwise(0)
    return pred.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(hit).alias("n_correct"),
        F.round(F.sum(hit) / F.count("*"), 4).alias("accuracy"),
    )


@query(
    "similarity_topk_ivf",
    oracle=f"""
    WITH {_DUCK_IVF_CTES},
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(sim, 4) DESC, neighbor_id ASC) AS rank
      FROM iscored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim, rank
    FROM ranked WHERE rank <= 3
    """,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path, IVF variant: nearest-centroid cell assignment
    (deterministic corpus sample as centroids), queries probe their
    4 nearest cells (see extensions/similarity.py::topk_ivf)."""
    return X.topk_ivf(table(spark, sf_dir, "embeddings"), k=3)


@query(
    "similarity_knn_label_agreement",
    oracle=f"""
    WITH {_DUCK_ANN_LSH_CTES},
    lsh3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ROUND(sim, 4) DESC, neighbor_id ASC) AS rank
        FROM lscored
      ) WHERE rank <= 3
    ),
    votes AS (
      SELECT l.query_id, n.label, COUNT(*) AS c
      FROM lsh3 l JOIN embeddings n ON n.vec_id = l.neighbor_id
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT query_id, label AS pred_label FROM (
        SELECT query_id, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY c DESC, label ASC) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT q.label AS true_label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           ROUND(SUM(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS agreement
    FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
    GROUP BY q.label
    """,
)
def similarity_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 applied: 3-NN majority-vote label agreement through the LSH
    scale path — the standard embedding-quality probe (do neighbors
    share the query's label?). Votes and the argmax are tiny
    aggregations over the top-k output; ties break deterministically
    (max count, then smallest label) on both engines."""
    from pyspark.sql.window import Window as W

    e = table(spark, sf_dir, "embeddings")
    top3 = X.topk_lsh(e, k=3).select("query_id", "neighbor_id")
    labels = e.select("vec_id", "label")
    votes = (
        top3.join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("c"))
    )
    wv = W.partitionBy("query_id").orderBy(F.desc("c"), F.asc("label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )
    truth = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "true_label"
    )
    hit = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return (
        pred.join(truth, "query_id")
        .groupBy("true_label")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(hit).alias("n_agree"),
            F.round(F.sum(hit) / F.count("*"), 4).alias("agreement"),
        )
    )


@query(
    "similarity_recall_at_k",
    oracle=f"""
    WITH bscored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_DUCK_COSINE} AS sim
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id % 100 = 0
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ROUND(sim, 4) DESC, neighbor_id ASC) AS rank
        FROM bscored
      ) WHERE rank <= 3
    ),
    {_DUCK_ANN_LSH_CTES.strip().lstrip()},
    lsh AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ROUND(sim, 4) DESC, neighbor_id ASC) AS rank
        FROM lscored
      ) WHERE rank <= 3
    ),
    {_DUCK_IVF_CTES.strip().lstrip()},
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ROUND(sim, 4) DESC, neighbor_id ASC) AS rank
        FROM iscored
      ) WHERE rank <= 3
    ),
    {_DUCK_HP_CTES.strip().lstrip()},
    hp AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ROUND(sim, 4) DESC, neighbor_id ASC) AS rank
        FROM hscored
      ) WHERE rank <= 3
    ),
    nq AS (SELECT DISTINCT query_id FROM truth),
    lhit AS (
      SELECT t.query_id, COUNT(*) AS n_hit
      FROM truth t JOIN lsh a
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    ),
    ihit AS (
      SELECT t.query_id, COUNT(*) AS n_hit
      FROM truth t JOIN ivf a
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    ),
    hhit AS (
      SELECT t.query_id, COUNT(*) AS n_hit
      FROM truth t JOIN hp a
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    )
    SELECT 'lsh' AS method, CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(AVG(coalesce(n_hit, 0) / 3.0), 4) AS recall_at_3
    FROM nq LEFT JOIN lhit USING (query_id)
    UNION ALL
    SELECT 'ivf' AS method, CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(AVG(coalesce(n_hit, 0) / 3.0), 4) AS recall_at_3
    FROM nq LEFT JOIN ihit USING (query_id)
    UNION ALL
    SELECT 'hyperplane' AS method, CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(AVG(coalesce(n_hit, 0) / 3.0), 4) AS recall_at_3
    FROM nq LEFT JOIN hhit USING (query_id)
    """,
)
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 quality gate: recall@3 of the three approximate-NN scale
    paths (multi-probe sign-bucket LSH, IVF nprobe=4, multi-probe
    Rademacher-hyperplane LSH) against brute-force ground truth. The
    testdata embeddings are ~isotropic, so recall tracks candidate
    fraction; clustered real embeddings do better at the same settings.

    This is a VALIDATION query: the exact top-k it compares against is
    the intentional broadcast nested loop (allowlisted), run over the
    same small query set; the approximate paths under test are pure
    equi-joins. At 100 TB this runs on a sampled query set exactly as
    here — recall measurement never needs the full corpus crossed."""
    e = table(spark, sf_dir, "embeddings")
    truth = X.topk_bruteforce(e, k=3).select("query_id", "neighbor_id")
    approx = {
        "lsh": X.topk_lsh(e, k=3).select("query_id", "neighbor_id"),
        "ivf": X.topk_ivf(e, k=3).select("query_id", "neighbor_id"),
        "hyperplane": X.topk_lsh(e, k=3, planes=_HP_PLANES).select(
            "query_id", "neighbor_id"
        ),
    }

    def recall(method: str) -> DataFrame:
        hits = (
            truth.join(approx[method], ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hit"))
        )
        per_q = truth.select("query_id").distinct().join(hits, "query_id", "left")
        return per_q.agg(
            F.count("*").alias("n_queries"),
            F.round(
                F.avg(F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(3.0)), 4
            ).alias("recall_at_3"),
        ).select(F.lit(method).alias("method"), "n_queries", "recall_at_3")

    return recall("lsh").unionByName(recall("ivf")).unionByName(recall("hyperplane"))


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH assets AS (
      SELECT doc_id AS asset_id, text FROM documents WHERE doc_id % 3 = 2
    ),
    frames AS (
      SELECT asset_id,
             unnest(range(4)) AS frame_idx,
             text,
             octet_length(encode(text)) // 4 AS flen
      FROM assets
    )
    SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
           md5(substring(text, CAST(frame_idx * flen + 1 AS BIGINT), CAST(flen AS BIGINT))) AS frame_checksum,
           CAST(flen AS INT) AS frame_bytes
    FROM frames WHERE flen > 0
    """,
)
# oracle note: DuckDB cannot slice BLOBs, so it slices the TEXT — the
# corpus is ASCII (char slice == byte slice); a non-ASCII doc would
# surface instantly as a checksum hash mismatch in the parity gate.
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: frame sampling for video assets — four evenly-spaced byte
    slices stand in for decoded frames (the codec stays stubbed; see
    extensions/multimodal.py). Deliberately PURE relational: the
    slice/checksum math is substring-on-binary inside whole-stage
    codegen — Python only enters when a real decoder must
    (multimodal_features is that path)."""
    assets = M.media_assets(table(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "video"
    )
    frames = assets.select(
        "asset_id",
        F.posexplode(F.sequence(F.lit(0), F.lit(3))).alias("_p", "frame_idx"),
        (F.octet_length("payload") / 4).cast("int").alias("flen"),
        "payload",
    )
    return frames.filter(F.col("flen") > 0).select(
        "asset_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.md5(
            F.expr("substring(payload, frame_idx * flen + 1, flen)")
        ).alias("frame_checksum"),
        F.col("flen").alias("frame_bytes"),
    )


# --------------------------------------------------------------------------
# X1/X7: Bloom-prefiltered incremental membership dedup
# --------------------------------------------------------------------------


@query(
    "corpus_membership_dedup",
    oracle="""
    WITH delta AS (
      SELECT d.doc_id,
             md5(CASE WHEN d.doc_id % 20 = 0 THEN coalesce(b.text, d.text)
                      ELSE d.text END) AS text_md5
      FROM documents d LEFT JOIN documents b ON b.doc_id = d.doc_id + 1
      WHERE d.doc_id % 10 = 0
    )
    SELECT doc_id, text_md5 FROM delta
    WHERE text_md5 IN
          (SELECT md5(text) FROM documents WHERE doc_id % 10 <> 0)
    """,
)
def corpus_membership_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup of a delta against the standing corpus,
    TWO-PHASE: (1) the corpus aggregates once into a few-KB Bloom
    bitmap (extensions/dedup.py::bloom_build — map<word, bigint> of
    bit masks, corpus values never shuffle) which broadcasts and
    prefilters the delta to its PROBABLE members; (2) only those
    survivors exact-join the corpus hashes for confirmation. Bloom has
    no false negatives, so the emitted rows are exactly the delta docs
    whose text exists in the corpus — the oracle is a plain semi-join,
    while the plan never joins the unfiltered delta against the
    corpus. Scenario: re-crawled deltas (every 20th doc re-fetches its
    successor's page verbatim). At 100 TB the sketch is what makes
    nightly dedup O(|delta|) instead of O(|corpus| join): the corpus
    is read once to BUILD (and incrementally maintained by bit_or
    merging batch bitmaps), never re-joined wholesale. FPP only costs
    wasted confirmations, pinned by tests/test_extensions.py."""
    docs = table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.md5("text").alias("text_md5")
    )
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("next_text")
    )
    delta = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .join(nxt, "doc_id", "left")
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % 20 == 0,
                    F.coalesce(F.col("next_text"), F.col("text")),
                ).otherwise(F.col("text"))
            ).alias("text_md5"),
        )
    )
    bloom = D.bloom_build(base, "text_md5")
    probable = D.bloom_probe(delta, "text_md5", bloom)
    # no distinct on the corpus side: a LEFT SEMI join's output is
    # unaffected by right-side duplicates, and the distinct would be a
    # full extra aggregate exchange over the corpus hash set (review)
    return probable.join(base, "text_md5", "left_semi").select(
        "doc_id", "text_md5"
    )


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH aug AS ({_DUCK_AUG}),
    w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM aug
    ),
    g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(ws[i:i+7], chr(31))) AS h
      FROM w, UNNEST(generate_series(1, len(ws) - 7)) AS t(i)
      WHERE len(ws) >= 8
    ),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos AS pb
      FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, pa, pb,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                     ORDER BY pa) AS isl_id
      FROM m
    )
    SELECT doc_a, doc_b,
           MIN(pa) AS start_a, MIN(pb) AS start_b,
           COUNT(*) + 7 AS span_words
    FROM isl
    GROUP BY doc_a, doc_b, pa - pb, isl_id
    HAVING COUNT(*) + 7 >= 12
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 substring-level duplication (the exact-substring dedup of the
    training-data literature, word-gram form): MAXIMAL shared spans of
    >= 12 consecutive words between document pairs — not whole-doc
    fingerprints (text_rolling_fingerprint) and not bag similarity
    (dedup_ngram_jaccard); this finds the copied PASSAGE inside
    otherwise-different documents and says where it starts in both.

    Mechanics: 8-word gram hashes with positions; matching gram
    occurrences across doc pairs land on diagonals (pos_a - pos_b
    constant); a gaps-and-islands pass per diagonal merges consecutive
    gram matches into maximal spans (m consecutive grams = m+7 words).

    Scale: only (doc_id, pos, 16-byte hash) tuples shuffle — text
    never crosses the wire; the equi-join on gram hash is the
    pigeonhole (a 12-word copied span MUST share an 8-word gram; no
    false negatives over the threshold); the island window partitions
    by (pair, diagonal) — bounded by true match volume, the same
    output-sized cost every exact-substring deduper pays.
    """
    docs = _aug_docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    # unhex: the same md5 VALUE as 16-byte binary instead of its
    # 32-char hex spelling — identical collision behavior (it IS the
    # md5), h never reaches the output, and the join key's bytes
    # through the exchange and the SMJ sort compares halve (guide
    # §2.3 narrower types; r12)
    gram_structs = F.transform(
        F.sequence(F.lit(1), F.size(words) - 7),
        lambda i: F.struct(
            i.alias("pos"),
            F.unhex(
                F.md5(F.array_join(F.slice(words, i, 8), "\x1f"))
            ).alias("h"),
        ),
    )
    g = (
        docs.filter(F.size(words) >= 8)
        .select("doc_id", F.explode(gram_structs).alias("gr"))
        .select("doc_id", F.col("gr.pos").alias("pos"), F.col("gr.h").alias("h"))
    )
    a = g.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "h"
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "h"
    )
    # MERGE hint is load-bearing: left alone, AQE sees a "small" gram
    # stream at test SF and broadcasts it — a hash table of the ENTIRE
    # (doc, pos, md5) stream, which is the one structure in this query
    # that grows with corpus size (measured: the broadcast build
    # dominated the query's time and its run-to-run variance). The
    # sort-merge self-join shuffles both sides identically on h, so
    # the second side is a ReusedExchange — the gram md5 kernel runs
    # ONCE, and nothing data-sized is ever collected to one node.
    m = a.hint("merge").join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
    from pyspark.sql.window import Window as W

    diag = (F.col("pa") - F.col("pb")).alias("diag")
    isl = m.select("doc_a", "doc_b", "pa", "pb", diag).withColumn(
        "isl_id",
        F.col("pa")
        - F.row_number().over(
            W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
        ),
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "isl_id")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.count("*") + 7).alias("span_words"),
        )
        .filter(F.col("span_words") >= 12)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_words")
    )


# --------------------------------------------------------------------------
# dedup_canonical_text: normalization-exact dedup
# --------------------------------------------------------------------------

# canonical-copy plant: every 40th doc (rem 13) re-enters the corpus
# upper-cased, punctuated and re-spaced — byte-distinct, canonically
# identical. Offset disjoint from _aug_docs' exact/near offsets.
CANON_COPY_OFFSET = 9_000_000
_CANON_MOD = 40
_CANON_REM = 13


@query(
    "dedup_canonical_text",
    oracle=f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    aug AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + {CANON_COPY_OFFSET},
             '  ' || upper(text) || ' !!!'
      FROM base WHERE doc_id % {_CANON_MOD} = {_CANON_REM}
    ),
    canon AS (
      SELECT doc_id, md5(text) AS raw_hash,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS canon_hash
      FROM aug
    )
    SELECT canon_hash, COUNT(*) AS n_docs,
           MIN(doc_id) AS representative_doc_id,
           CAST(COUNT(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants
    FROM canon GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dedup_canonical_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-exact dedup — the cheap tier between byte-exact
    and fuzzy: two documents are duplicates iff they agree after
    casefolding, punctuation stripping and whitespace collapse. Real
    corpora are full of these (re-encoded quotes, trailing banners,
    case-mangled mirrors); byte-exact dedup misses all of them and
    MinHash spends a full signature on what one regex pass settles.
    The planted upper-cased/punctuated variants here are byte-distinct
    (dedup_exact finds nothing) but canonically identical —
    n_raw_variants = 2 in every group is that fact, in data.

    Regex parity: the canonical key uses only '[^a-z0-9 ]' and ' +',
    whose semantics are identical in Java regex (Spark, global by
    default) and RE2 (DuckDB, 'g' flag) — no shorthand classes, no
    unicode properties, the cross-engine-safe subset.

    Scale: one map-side regex pass per doc, then the dedup_exact
    shape — shuffle the 16-byte canonical digest, never the text."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % _CANON_MOD == _CANON_REM).select(
        (F.col("doc_id") + CANON_COPY_OFFSET).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" !!!")).alias("text"),
    )
    aug = docs.unionByName(variants)
    canon = aug.select(
        "doc_id",
        F.md5("text").alias("raw_hash"),
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
                    " +",
                    " ",
                )
            )
        ).alias("canon_hash"),
    )
    return (
        canon.groupBy("canon_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("representative_doc_id"),
            F.countDistinct("raw_hash").cast("bigint").alias("n_raw_variants"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# multimodal_phash_near_dups: perceptual-hash banding over binary payloads
# --------------------------------------------------------------------------

PHASH_COPY_OFFSET = 7_000_000
_PHASH_MOD = 35
_PHASH_REM = 11
_PHASH_HAM_MAX = 3  # nibble-Hamming threshold for is_near_dup

# The integer-quantized DCT basis, shared verbatim with the Arrow
# kernel (extensions/multimodal.py::dct_basis) so DuckDB replays the
# pHash bit-for-bit: flattened row-major [u * 32 + x].
_PHASH_BASIS_SQL = "[" + ",".join(
    str(v) for row in M.dct_basis() for v in row
) + "]"

# ASCII + non-empty guard: ord(substr(text, i, 1)) reads BYTES only
# while every character is single-byte; filtering BOTH engines to
# length(text) == byte-length makes parity robust by construction if
# a future corpus regeneration introduces multi-byte characters
# (tests/test_testdata_contract.py pins that no row is dropped today).
_PHASH_ASCII_GUARD_SQL = "length(text) = strlen(text) AND strlen(text) > 0"

_PHASH_HAM_SQL = " + ".join(
    f"(CASE WHEN substring(fa, {i + 1}, 1) <> substring(fb, {i + 1}, 1) "
    "THEN 1 ELSE 0 END)"
    for i in range(16)
)


@query(
    "multimodal_phash_near_dups",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS asset_id, text, 0 AS gain FROM documents
      WHERE {_PHASH_ASCII_GUARD_SQL}
      UNION ALL
      SELECT doc_id + {PHASH_COPY_OFFSET}, text, 1 AS gain
      FROM documents
      WHERE doc_id % {_PHASH_MOD} = {_PHASH_REM}
        AND {_PHASH_ASCII_GUARD_SQL}
    ),
    basis AS (
      SELECT CAST(r.range AS INT) AS i,
             ({_PHASH_BASIS_SQL})[CAST(r.range AS INT) + 1] AS b
      FROM range(256) r
    ),
    pix AS (
      SELECT asset_id, CAST(r.range AS INT) AS p,
             CAST(ord(substr(text,
                      CAST(r.range % strlen(text) AS INT) + 1, 1))
                  + gain AS BIGINT) AS val
      FROM base CROSS JOIN range(1024) r
    ),
    rowdct AS (
      SELECT asset_id, CAST(u.range AS INT) AS u, p // 32 AS y,
             SUM(val * b.b) AS r
      FROM pix CROSS JOIN range(8) u
      JOIN basis b ON b.i = CAST(u.range AS INT) * 32 + (p % 32)
      GROUP BY 1, 2, 3
    ),
    coef AS (
      SELECT asset_id, u, CAST(v.range AS INT) AS v,
             SUM(r * b2.b) AS c
      FROM rowdct CROSS JOIN range(8) v
      JOIN basis b2 ON b2.i = CAST(v.range AS INT) * 32 + y
      GROUP BY 1, 2, 3
    ),
    med AS (
      SELECT asset_id, c AS med FROM (
        SELECT asset_id, c,
               ROW_NUMBER() OVER (PARTITION BY asset_id ORDER BY c)
                 AS rn
        FROM coef WHERE NOT (u = 0 AND v = 0)
      ) WHERE rn = 32
    ),
    nibs AS (
      SELECT coef.asset_id, (u * 8 + v) // 4 AS j,
             SUM(CASE WHEN c > med THEN
                   CASE (u * 8 + v) % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                        WHEN 2 THEN 2 ELSE 1 END
                 ELSE 0 END) AS nib
      FROM coef JOIN med USING (asset_id)
      GROUP BY 1, 2
    ),
    fp AS (
      SELECT asset_id,
             string_agg(substr('0123456789abcdef',
                               CAST(nib AS INT) + 1, 1),
                        '' ORDER BY j) AS phash
      FROM nibs GROUP BY asset_id
    ),
    bands AS (
      SELECT asset_id, r.range AS band,
             substr(phash, CAST(r.range * 4 + 1 AS INT), 4) AS band_key
      FROM fp CROSS JOIN range(4) r
    ),
    pairs AS (
      SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
             COUNT(DISTINCT a.band) AS shared_bands
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.asset_id < b.asset_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.asset_a, p.asset_b, p.shared_bands,
             ({_PHASH_HAM_SQL}) AS hamming_nibbles
      FROM pairs p
      JOIN (SELECT asset_id, phash AS fa FROM fp) x ON x.asset_id = p.asset_a
      JOIN (SELECT asset_id, phash AS fb FROM fp) y ON y.asset_id = p.asset_b
    )
    SELECT asset_a, asset_b,
           CAST(shared_bands AS BIGINT) AS shared_bands,
           CAST(hamming_nibbles AS BIGINT) AS hamming_nibbles,
           hamming_nibbles <= {_PHASH_HAM_MAX} AS is_near_dup
    FROM scored
    """,
)
def multimodal_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 near-duplicate detection for MEDIA payloads with a REAL
    perceptual hash: payload bytes are tiled into a 32x32 grayscale
    thumbnail, 2-D integer-DCT'd (integer-quantized cosine basis, the
    codec trick), and the 8x8 low-frequency block is thresholded at
    the AC-median into 64 bits (extensions/multimodal.py::dct_phash,
    Arrow mapInPandas kernel, numpy only). Banding is 4 x 16 bits;
    band-collision candidates are exact-verified by nibble-Hamming.
    The planted variants (brightness gain +1 on every pixel,
    id % 35 == 11) land at hamming 0 — the rounded basis rows for
    u >= 1 sum to exactly 0, so AC bits are EXACTLY brightness-
    invariant, the signature pHash property — while random band
    collisions stay as is_near_dup = false evidence, the
    dedup_lsh_verified_pairs discipline.

    Cross-engine exactness: all math is int64 (coefficients bounded by
    32*255*1024^2 ~ 2.7e11), and the DuckDB oracle replays the same
    basis constants via ord()-per-byte pixel extraction — bit-exact,
    no tolerance anywhere. Both engines restrict to single-byte-char
    non-empty text (ord() reads bytes only on ASCII; the fixture test
    pins that the guard drops zero rows today).

    Scale: fingerprints are 16 bytes per asset (the only thing that
    shuffles); the band self-join is merge-hinted (both sides are
    asset-sized — AQE must not data-size-broadcast one); Hamming
    verification touches only collision pairs. Same banding shape as
    SimHash over text, but the kernel consumes binary payloads through
    the Arrow batch path — the multimodal half of the story."""
    ascii_docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(
            (F.length("text") == F.octet_length("text"))
            & (F.length("text") > 0)
        )
    )
    variants = ascii_docs.filter(
        F.col("doc_id") % _PHASH_MOD == _PHASH_REM
    ).select(
        (F.col("doc_id") + PHASH_COPY_OFFSET).alias("doc_id"),
        "text",
        F.lit(1).alias("gain"),
    )
    assets = (
        ascii_docs.withColumn("gain", F.lit(0))
        .unionByName(variants)
        .select(
            F.col("doc_id").alias("asset_id"),
            F.encode("text", "UTF-8").alias("payload"),
            "gain",
        )
    )
    # lineage cut (b): the band table and both fingerprint lookups read it
    fp = M.phash_fingerprints(assets).localCheckpoint()
    bands = fp.select(
        "asset_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.substring("phash", i * 4 + 1, 4).alias("band_key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("asset_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    a = bands.select(
        F.col("asset_id").alias("asset_a"), "band", "band_key"
    )
    b = bands.select(
        F.col("asset_id").alias("asset_b"), "band", "band_key"
    )
    pairs = (
        a.hint("merge")
        .join(b, ["band", "band_key"])
        .filter(F.col("asset_a") < F.col("asset_b"))
        .groupBy("asset_a", "asset_b")
        .agg(F.countDistinct("band").alias("shared_bands"))
    )
    # fingerprint lookups are merge-hinted SHUFFLE joins: fp is the
    # asset-sized table and must never broadcast (AQE hazard); what
    # moves is 16 bytes per asset once per side, linear in the corpus
    fa = fp.select(F.col("asset_id").alias("asset_a"), F.col("phash").alias("fa"))
    fb = fp.select(F.col("asset_id").alias("asset_b"), F.col("phash").alias("fb"))
    ham = F.expr(_PHASH_HAM_SQL)
    return (
        pairs.join(fa.hint("merge"), "asset_a")
        .join(fb.hint("merge"), "asset_b")
        .select(
            "asset_a",
            "asset_b",
            F.col("shared_bands").cast("bigint"),
            ham.cast("bigint").alias("hamming_nibbles"),
            (ham <= _PHASH_HAM_MAX).alias("is_near_dup"),
        )
    )


# --------------------------------------------------------------------------
# streaming_dedup_index_refresh: sequential ingest-gate admission
# --------------------------------------------------------------------------

def _dedup_index_oracle() -> str:
    """Unrolled replay of the 4-batch sequential admission: the global
    verified-pair relation (same LSH candidates + exact-Jaccard >= 0.5
    as every dedup oracle here), then admission step by step — batch k
    rejects a doc iff a verified neighbor is admitted in batches < k
    or precedes it (smaller doc_id) in batch k."""
    # Each admission step as hash-joinable set algebra (an OR mixing a
    # correlated predicate with an IN-subquery forces DuckDB into
    # row-at-a-time evaluation — measured 452 s vs ~1 s for this
    # form). rej = within-batch earlier-id neighbors UNION verified
    # neighbors admitted in earlier batches; adm = batch minus rej.
    steps = []
    for k in range(4):
        within = f"""
      SELECT DISTINCT s.b AS doc_id
      FROM sym s
      JOIN docs x ON x.doc_id = s.a AND x.batch = {k}
      JOIN docs d ON d.doc_id = s.b AND d.batch = {k}
      WHERE x.doc_id < d.doc_id"""
        if k == 0:
            rej_body = within
        else:
            prior = " UNION ALL ".join(
                f"SELECT doc_id FROM adm{j}" for j in range(k)
            )
            rej_body = f"""{within}
      UNION
      SELECT DISTINCT s.b AS doc_id
      FROM sym s
      JOIN ({prior}) p ON p.doc_id = s.a
      JOIN docs d ON d.doc_id = s.b AND d.batch = {k}"""
        steps.append(f"""rej{k} AS ({rej_body}
    ),
    adm{k} AS (
      SELECT doc_id FROM docs WHERE batch = {k}
        AND doc_id NOT IN (SELECT doc_id FROM rej{k})
    )""")
    all_adm = " UNION ALL ".join(f"SELECT doc_id FROM adm{j}" for j in range(4))
    return f"""
    WITH {_DUCK_SIG_BAND_CTES},
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    shm AS MATERIALIZED (SELECT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shm GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN shm x ON x.doc_id = c.doc_a
      JOIN shm y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      WHERE COALESCE(i.i, 0) * 2 >= sa.n + sb.n - COALESCE(i.i, 0)
    ),
    sym AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM ver
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM ver
    ),
    docs AS MATERIALIZED (SELECT doc_id, doc_id % 4 AS batch FROM aug),
    {",".join(steps)},
    admitted AS MATERIALIZED ({all_adm}),
    conflicts AS (
      SELECT s.b AS doc_id, COUNT(*) AS n_conflicts
      FROM sym s
      JOIN docs x ON x.doc_id = s.a
      JOIN docs d ON d.doc_id = s.b
      LEFT JOIN admitted p ON p.doc_id = s.a
      WHERE (x.batch = d.batch AND x.doc_id < d.doc_id)
         OR (x.batch < d.batch AND p.doc_id IS NOT NULL)
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(d.batch AS BIGINT) AS batch_id,
           (a.doc_id IS NOT NULL) AS admitted,
           CAST(COALESCE(c.n_conflicts, 0) AS BIGINT) AS n_conflicts
    FROM docs d
    LEFT JOIN admitted a ON a.doc_id = d.doc_id
    LEFT JOIN conflicts c ON c.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


@query("streaming_dedup_index_refresh", oracle=_dedup_index_oracle())
def streaming_dedup_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS form of dedup_delta_vs_corpus: documents arrive
    as 4 real micro-batches; each batch probes the persistent
    admitted-docs index (band table + shingle store), rejected docs
    never enter it, admitted docs extend it for every later batch —
    sequential ingest-gate semantics proven against an oracle that
    unrolls all four admission steps over the global verified-pair
    relation (streaming/incremental_refresh.py::
    streaming_dedup_index_refresh has the full rule statement and the
    scale posture)."""
    return IR.streaming_dedup_index_refresh(spark, _aug_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# dedup_paragraph_exact: paragraph-grain exact dedup (r10 — the tier
# production web pipelines run FIRST: RefinedWeb/Gopher drop repeated
# paragraphs before any fuzzy matching)
# --------------------------------------------------------------------------

# paragraph surrogate: the synthetic corpus is a single line of
# space-separated words (no newlines, no punctuation — verified
# against the shipped parquet), so "paragraphs" are NON-OVERLAPPING
# _PARA_W-word windows; on a real crawl the same kernel runs with
# split(text, '\n') as the paragraph source and nothing else changes.
# Window alignment makes this tier deliberately alignment-SENSITIVE:
# it catches copy-paste duplication (exact copies, aligned
# boilerplate blocks) and leaves shifted/perturbed near-duplicates to
# the MinHash tier below it — which is why it sits between
# canonical-text and LSH in the ladder.
_PARA_W = 8
# drop a doc when more than this fraction (permille) of its
# paragraphs also occur elsewhere in the corpus — the RefinedWeb
# "document is mostly duplicated paragraphs" rule
_PARA_DROP_PERMILLE = 600

# funnel plant class for the paragraph stage: a fixed boilerplate
# paragraph repeated 8 aligned times (8 duplicated windows) plus a
# per-plant unique tail word drawn from the SAME disjoint boilerplate
# vocabulary ("issue<doc_id>") -> 888 permille, dropped by the
# paragraph stage; byte/canonically unique (survives stages 1-2), and
# NO plant window collides with any organic window — a source-derived
# tail would hand the base doc a duplicated window and, on a corpus
# with a short doc at this residue, silently drop an organic doc at
# the paragraph stage (r10 review finding). doc_id % 50 == 37 is
# disjoint from the exact (0) and near (25) plants, and CRT-disjoint
# from the canonical plants (13 mod 40).
PARA_COPY_OFFSET = 30_000_000
_PARA_MOD = 50
_PARA_REM = 37
_PARA_BOILER = "subscribe to our newsletter for daily updates now"
_PARA_BOILER_BLOCK = " ".join([_PARA_BOILER] * _PARA_W)


def paragraph_hashes(docs: DataFrame, *keys: str) -> DataFrame:
    """(*keys, ph): one md5 per non-overlapping _PARA_W-word window.
    Only the 16-byte digest ever shuffles, never paragraph text.
    ``keys`` defaults to doc grain; the streaming refresh passes
    source grain instead."""
    cols = list(keys) or ["doc_id"]
    return docs.select(
        *cols, F.split(F.col("text"), " ").alias("ws")
    ).select(
        *cols,
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(ws) - 1) div {_PARA_W}),"
                f" k -> md5(array_join("
                f"slice(ws, 1 + k * {_PARA_W}, {_PARA_W}), ' ')))"
            )
        ).alias("ph"),
    )


def paragraph_doc_stats(docs: DataFrame) -> DataFrame:
    """Per-doc paragraph-duplication accounting: (doc_id, n_paras,
    n_dup_paras, dup_permille, dropped). THE shared kernel — the
    standalone query and the funnel stage both run it.

    Scale (r12 rework, guide §2.4): ONE digest shuffle. The old shape
    aggregated window counts separately and shuffle_hash-joined them
    back onto the window stream — since the count side and the join
    side carry different payloads their exchanges cannot be reused,
    so the md5 window kernel (the query's dominant map work) ran
    TWICE. A count(*) window over the ph partition after a single
    exchange of the digest stream computes the identical per-window
    occurrence count with one kernel pass and no join; shuffled bytes
    shrink (the full stream moves once instead of once plus its
    distinct-count table), and nothing is broadcast at any scale."""
    from pyspark.sql.window import Window as W

    pw = paragraph_hashes(docs)
    return (
        pw.withColumn("cnt", F.count(F.lit(1)).over(W.partitionBy("ph")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias(
                "n_dup"
            ),
        )
        .select(
            "doc_id",
            F.col("n_paras").cast("bigint").alias("n_paras"),
            F.col("n_dup").cast("bigint").alias("n_dup_paras"),
            F.expr("1000 * n_dup div n_paras")
            .cast("bigint")
            .alias("dup_permille"),
            (
                F.expr("1000 * n_dup div n_paras") > _PARA_DROP_PERMILLE
            ).alias("dropped"),
        )
    )


def _duck_para_ctes(src: str) -> str:
    """DuckDB CTE block ending in ``pd_stats`` — the oracle mirror of
    paragraph_doc_stats over corpus CTE ``src``."""
    return f"""
    pw AS (
      SELECT doc_id,
             md5(array_to_string(
               lst[1 + k * {_PARA_W} : {_PARA_W} + k * {_PARA_W}], ' '))
                 AS ph
      FROM (SELECT doc_id, string_split(text, ' ') AS lst FROM {src}),
           unnest(generate_series(0, (len(lst) - 1) // {_PARA_W}))
             AS t(k)
    ),
    pc AS (SELECT ph, COUNT(*) AS cnt FROM pw GROUP BY 1),
    pd_stats AS (
      SELECT pw.doc_id, COUNT(*) AS n_paras,
             SUM(CASE WHEN pc.cnt > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM pw JOIN pc USING (ph) GROUP BY 1
    )"""


@query(
    "dedup_paragraph_exact",
    oracle=f"""
    WITH aug AS ({_DUCK_AUG}),
    {_duck_para_ctes("aug")}
    SELECT doc_id,
           CAST(n_paras AS BIGINT) AS n_paras,
           CAST(n_dup AS BIGINT) AS n_dup_paras,
           CAST(1000 * n_dup // n_paras AS BIGINT) AS dup_permille,
           1000 * n_dup // n_paras > {_PARA_DROP_PERMILLE} AS dropped
    FROM pd_stats WHERE n_dup > 0 ORDER BY doc_id
    """,
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-grain exact dedup over the augmented corpus: every
    doc with at least one window also occurring elsewhere, its
    duplicated-window permille, and the RefinedWeb-style drop verdict
    (> {_PARA_DROP_PERMILLE} permille duplicated mass). Exact copies
    read 1000; shift-by-one near copies read ~0 here (alignment) and
    are the MinHash tier's job — see the _PARA_W comment for why that
    split is deliberate."""
    return (
        paragraph_doc_stats(_aug_docs(spark, sf_dir, parallel=False))
        .filter(F.col("n_dup_paras") > 0)
        .orderBy("doc_id")
    )


@query(
    "streaming_paragraph_dedup_refresh",
    oracle=f"""
    WITH pw AS (
      SELECT source,
             md5(array_to_string(
               lst[1 + k * {_PARA_W} : {_PARA_W} + k * {_PARA_W}], ' '))
                 AS ph
      FROM (SELECT source, string_split(text, ' ') AS lst
            FROM documents),
           unnest(generate_series(0, (len(lst) - 1) // {_PARA_W}))
             AS t(k)
    ),
    pc AS (SELECT source, ph, COUNT(*) AS cnt FROM pw GROUP BY 1, 2),
    g AS (SELECT ph, SUM(cnt) AS gcnt FROM pc GROUP BY 1)
    SELECT pc.source,
           CAST(SUM(pc.cnt) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN g.gcnt > 1 THEN pc.cnt ELSE 0 END)
                AS BIGINT) AS n_dup_windows,
           CAST(1000 * SUM(CASE WHEN g.gcnt > 1 THEN pc.cnt ELSE 0 END)
                // SUM(pc.cnt) AS BIGINT) AS dup_permille
    FROM pc JOIN g USING (ph)
    GROUP BY pc.source ORDER BY pc.source
    """,
)
def streaming_paragraph_dedup_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Standing per-source paragraph-duplication monitor maintained
    across real micro-batches — the streaming form of the paragraph
    tier (paired with dedup_paragraph_exact): state is the additive
    (source, window-hash) count frame, so the final report is
    batch-order-independent and hash-equal to the one-shot batch
    computation (the oracle). Batches contribute their window counts;
    finalize computes each source's share of window instances whose
    text occurs more than once ANYWHERE in the corpus (the
    cross-source boilerplate monitor a crawl ingest dashboard
    actually shows).

    Scale: state is distinct-(source, window)-sized — the paragraph
    vocabulary, Heaps-sublinear in the corpus; merge is one additive
    groupBy per batch; finalize is one window-hash-keyed aggregate +
    a source-grain rollup. Only 16-byte digests ever sit in state."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )

    def build(batch: DataFrame) -> DataFrame:
        return (
            paragraph_hashes(batch, "source")
            .groupBy("source", "ph")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def merge(old: DataFrame, new: DataFrame) -> DataFrame:
        return (
            old.unionByName(new)
            .groupBy("source", "ph")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def finalize(state: DataFrame) -> DataFrame:
        g = state.groupBy("ph").agg(F.sum("cnt").alias("gcnt"))
        return (
            state.join(g.hint("shuffle_hash"), "ph")
            .groupBy("source")
            .agg(
                F.sum("cnt").cast("bigint").alias("n_windows"),
                F.sum(F.when(F.col("gcnt") > 1, F.col("cnt")).otherwise(0))
                .cast("bigint")
                .alias("n_dup_windows"),
            )
            .select(
                "source",
                "n_windows",
                "n_dup_windows",
                F.expr("1000 * n_dup_windows div n_windows")
                .cast("bigint")
                .alias("dup_permille"),
            )
            .orderBy("source")
        )

    return IR.merge_refresh(
        spark, docs, build, merge, finalize, "stream_para_refresh_",
        shard_key="doc_id",
    )


# --------------------------------------------------------------------------
# corpus_dedup_survivorship_funnel: staged curation accounting (r9)
# --------------------------------------------------------------------------


def _funnel_oracle() -> str:
    """Stage-by-stage replay: the shared LSH CTE chain provides
    lsh_pairs over the standard augmented corpus; the funnel corpus
    additionally carries the canonical plants (byte-distinct,
    canonically identical, dropped by the canonical stage) and the
    boilerplate plants (r10 — mostly one repeated boilerplate
    paragraph plus a unique tail, dropped by the paragraph stage)."""
    return f"""
    WITH {_DUCK_LSH_CTES},
    aug2 AS (
      SELECT doc_id, text FROM aug
      UNION ALL
      SELECT doc_id + {CANON_COPY_OFFSET}, '  ' || upper(text) || ' !!!'
      FROM documents WHERE doc_id % {_CANON_MOD} = {_CANON_REM}
      UNION ALL
      SELECT doc_id + {PARA_COPY_OFFSET},
             '{_PARA_BOILER_BLOCK}' || ' issue' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % {_PARA_MOD} = {_PARA_REM}
    ),
    ex AS (SELECT doc_id, text,
                  min(doc_id) OVER (PARTITION BY md5(text)) AS rep
           FROM aug2),
    s1 AS (SELECT doc_id, text FROM ex WHERE doc_id = rep),
    cn AS (SELECT doc_id, text,
                  min(doc_id) OVER (PARTITION BY
                    md5(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))) AS rep
           FROM s1),
    s2 AS (SELECT doc_id, text FROM cn WHERE doc_id = rep),
    {_duck_para_ctes("s2")},
    sp AS (SELECT s2.doc_id, s2.text FROM s2
           JOIN pd_stats pd ON pd.doc_id = s2.doc_id
           WHERE 1000 * pd.n_dup // pd.n_paras
                 <= {_PARA_DROP_PERMILLE}),
    near AS (SELECT DISTINCT doc_b FROM lsh_pairs),
    s3 AS (SELECT sp.doc_id, sp.text FROM sp
           LEFT JOIN near n ON n.doc_b = sp.doc_id
           WHERE n.doc_b IS NULL),
    w3 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s3),
    tw3 AS (SELECT doc_id, max(c) AS topc FROM (
        SELECT doc_id, u.x AS word, count(*) AS c
        FROM w3, unnest(ws) AS u(x) GROUP BY 1, 2) GROUP BY 1),
    m3 AS (SELECT doc_id, len(ws) AS n,
           list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg
           FROM w3),
    s4 AS (
      SELECT m3.doc_id FROM m3 JOIN tw3 USING (doc_id)
      WHERE NOT ((CASE WHEN len(bg) = 0 THEN 0.0
                       ELSE 1 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE)
                  END) > 0.05
                 OR topc / CAST(n AS DOUBLE) > 0.15)
    ),
    cts AS (
      SELECT 0 AS stage_id, 'ingested' AS stage,
             (SELECT COUNT(*) FROM aug2) AS n_out
      UNION ALL SELECT 1, 'exact_dedup', (SELECT COUNT(*) FROM s1)
      UNION ALL SELECT 2, 'canonical_dedup', (SELECT COUNT(*) FROM s2)
      UNION ALL SELECT 3, 'paragraph_dedup', (SELECT COUNT(*) FROM sp)
      UNION ALL SELECT 4, 'near_dedup', (SELECT COUNT(*) FROM s3)
      UNION ALL SELECT 5, 'quality_gate', (SELECT COUNT(*) FROM s4)
    )
    SELECT stage_id, stage,
           CAST(COALESCE(lag(n_out) OVER (ORDER BY stage_id), n_out)
                AS BIGINT) AS n_in,
           CAST(COALESCE(lag(n_out) OVER (ORDER BY stage_id), n_out)
                - n_out AS BIGINT) AS n_dropped,
           CAST(n_out AS BIGINT) AS n_out,
           CAST(1000 * (COALESCE(lag(n_out) OVER (ORDER BY stage_id),
                                 n_out) - n_out)
                // COALESCE(lag(n_out) OVER (ORDER BY stage_id), n_out)
                AS BIGINT) AS drop_permille
    FROM cts ORDER BY stage_id
    """


@query("corpus_dedup_survivorship_funnel", oracle=_funnel_oracle())
def corpus_dedup_survivorship_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The curation pipeline as ONE staged accounting query — the
    report a data-pipeline owner actually reads before a training
    run: ingested -> exact dedup (md5 groups) -> canonical dedup
    (casefold/punct/space key) -> paragraph dedup (r10: drop docs
    whose duplicated-window mass exceeds {_PARA_DROP_PERMILLE}
    permille — the RefinedWeb first-tier rule, paragraph_doc_stats)
    -> near dedup (MinHash-LSH doc_b drops, the corpus_dedup_keep
    rule) -> quality gate (drop HIGH_REPETITION: dup-bigram > 0.05 or
    top-word > 0.15). Each stage reports in/dropped/out and the exact
    integer drop permille; every planted duplicate class (exact,
    canonical, boilerplate-paragraph, near) is dropped by exactly its
    own stage — the shift-by-one near plants are alignment-invisible
    to the window-grain paragraph stage by construction.

    Scale: the stages are the SAME kernels the standalone dedup
    queries run (one digest shuffle each; the LSH chain is banded,
    never all-pairs); stage counts are 1-row aggregates unioned into
    a 6-row frame — the funnel adds accounting, not new corpus-sized
    work."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    plants = docs.filter(
        F.col("doc_id") % _CANON_MOD == _CANON_REM
    ).select(
        (F.col("doc_id") + CANON_COPY_OFFSET).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" !!!")).alias(
            "text"
        ),
    )
    boiler = docs.filter(F.col("doc_id") % _PARA_MOD == _PARA_REM).select(
        (F.col("doc_id") + PARA_COPY_OFFSET).alias("doc_id"),
        F.concat(
            F.lit(_PARA_BOILER_BLOCK + " issue"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    corpus = (
        _aug_docs(spark, sf_dir).unionByName(plants).unionByName(boiler)
    )
    from pyspark.sql import Window

    ex = corpus.withColumn(
        "rep", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    )
    s1 = ex.filter(F.col("doc_id") == F.col("rep")).drop("rep")
    canon_key = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    cn = s1.withColumn(
        "rep", F.min("doc_id").over(Window.partitionBy(canon_key))
    )
    s2 = cn.filter(F.col("doc_id") == F.col("rep")).drop("rep")
    para_drops = paragraph_doc_stats(s2).filter(F.col("dropped")).select(
        "doc_id"
    )
    sp = s2.join(para_drops, "doc_id", "left_anti")
    near = (
        _lsh_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s3 = sp.join(near, "doc_id", "left_anti")
    rep = L_rep.repetition_profile(s3)
    s4 = rep.filter(F.col("repetition_bucket") != "HIGH_REPETITION")

    stages = [
        (0, "ingested", corpus),
        (1, "exact_dedup", s1),
        (2, "canonical_dedup", s2),
        (3, "paragraph_dedup", sp),
        (4, "near_dedup", s3),
        (5, "quality_gate", s4),
    ]
    cts = None
    for sid, label, frame in stages:
        row = frame.agg(F.count(F.lit(1)).alias("n_out")).select(
            F.lit(sid).alias("stage_id"),
            F.lit(label).alias("stage"),
            "n_out",
        )
        cts = row if cts is None else cts.unionByName(row)
    w = Window.orderBy("stage_id")
    n_in = F.coalesce(F.lag("n_out").over(w), F.col("n_out"))
    return cts.select(
        "stage_id",
        "stage",
        n_in.cast("bigint").alias("n_in"),
        (n_in - F.col("n_out")).cast("bigint").alias("n_dropped"),
        F.col("n_out").cast("bigint"),
        F.floor(F.lit(1000) * (n_in - F.col("n_out")) / n_in)
        .cast("bigint")
        .alias("drop_permille"),
    ).orderBy("stage_id")


# ---------------------------------------------------------------------------
# dedup_bcubed_eval — B-cubed precision/recall of the MinHash-LSH
# cluster assignment against the planted-duplicate ground truth
# ---------------------------------------------------------------------------

_B3_GRID = 1_000_000  # per-item P/R land on this integer grid pre-sum


def _planted_truth(item_id):
    """Ground-truth group of an augmented id under the engine-wide
    planted-duplicate convention: +EXACT/+NEAR copies map back to
    their base id (same rule for doc_ids and vec_ids)."""
    return (
        F.when(item_id >= NEAR_COPY_OFFSET, item_id - NEAR_COPY_OFFSET)
        .when(item_id >= EXACT_COPY_OFFSET, item_id - EXACT_COPY_OFFSET)
        .otherwise(item_id)
    )


def bcubed_metrics(items: DataFrame) -> DataFrame:
    """THE B-cubed kernel (Bagga & Baldwin 1998): a (pred, truth)
    item frame in, the 1-row metrics frame out — shared by the LSH
    grading (dedup_bcubed_eval) and the semantic-tier grading
    (dedup_semantic_bcubed, r10).

    Exactness: per-item precision/recall land on an integer 1e-6 grid
    (bigint div) BEFORE summation, so the averages are exact integer
    sums — aggregation order cannot move them; the only doubles are
    the final three ROUND projections.

    Scale: ct/cs/ts are all corpus-keyed groupBys (the pred key
    reuses one partitioning across ct/cs and the final join);
    nothing here exceeds the corpus in size, nothing is quadratic."""
    ct = items.groupBy("pred", "truth").agg(F.count(F.lit(1)).alias("n_ct"))
    cs = items.groupBy("pred").agg(F.count(F.lit(1)).alias("n_c"))
    ts = items.groupBy("truth").agg(F.count(F.lit(1)).alias("n_t"))
    per = (
        items.join(ct, ["pred", "truth"])
        .join(cs, "pred")
        .join(ts, "truth")
        .select(
            F.expr(f"(n_ct * {_B3_GRID}) div n_c").alias("p_u"),
            F.expr(f"(n_ct * {_B3_GRID}) div n_t").alias("r_u"),
        )
    )
    n_pred = cs.agg(F.count(F.lit(1)).alias("n_pred_clusters"))
    n_truth = ts.agg(F.count(F.lit(1)).alias("n_truth_groups"))
    tot = (
        per.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p_u").alias("sp"),
            F.sum("r_u").alias("sr"),
        )
        .crossJoin(F.broadcast(n_pred))
        .crossJoin(F.broadcast(n_truth))
    )
    g = float(_B3_GRID)
    p = F.col("sp") / (F.col("n") * F.lit(g))
    r = F.col("sr") / (F.col("n") * F.lit(g))
    return tot.select(
        F.col("n").cast("bigint").alias("n_items"),
        F.col("n_pred_clusters").cast("bigint"),
        F.col("n_truth_groups").cast("bigint"),
        F.round(p, 4).alias("bcubed_precision"),
        F.round(r, 4).alias("bcubed_recall"),
        F.round(F.lit(2.0) * p * r / (p + r), 4).alias("bcubed_f1"),
    )


def duck_bcubed_tail(items: str) -> str:
    """Oracle mirror of bcubed_metrics: CTE block + final SELECT over
    an in-scope (pred, truth) item CTE named ``items``."""
    return f"""
    ct AS (SELECT pred, truth, COUNT(*) AS n_ct FROM {items} GROUP BY 1, 2),
    cs AS (SELECT pred, COUNT(*) AS n_c FROM {items} GROUP BY 1),
    ts AS (SELECT truth, COUNT(*) AS n_t FROM {items} GROUP BY 1),
    per AS (
      SELECT (c.n_ct * {_B3_GRID}) // s.n_c AS p_u,
             (c.n_ct * {_B3_GRID}) // t.n_t AS r_u
      FROM {items} i
      JOIN ct c ON c.pred = i.pred AND c.truth = i.truth
      JOIN cs s ON s.pred = i.pred
      JOIN ts t ON t.truth = i.truth
    ),
    tot AS (
      SELECT COUNT(*) AS n, SUM(p_u) AS sp, SUM(r_u) AS sr,
             (SELECT COUNT(*) FROM cs) AS n_pred,
             (SELECT COUNT(*) FROM ts) AS n_truth
      FROM per
    )
    SELECT CAST(n AS BIGINT) AS n_items,
           CAST(n_pred AS BIGINT) AS n_pred_clusters,
           CAST(n_truth AS BIGINT) AS n_truth_groups,
           ROUND(sp / (n * {_B3_GRID}.0), 4) AS bcubed_precision,
           ROUND(sr / (n * {_B3_GRID}.0), 4) AS bcubed_recall,
           ROUND(2.0 * (sp / (n * {_B3_GRID}.0)) * (sr / (n * {_B3_GRID}.0))
                 / ((sp / (n * {_B3_GRID}.0)) + (sr / (n * {_B3_GRID}.0))), 4)
               AS bcubed_f1
    FROM tot
    """


@query(
    "dedup_bcubed_eval",
    oracle=f"""
    WITH RECURSIVE {_DUCK_LSH_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM lsh_pairs
      UNION
      SELECT doc_b AS s, doc_a AS d FROM lsh_pairs
    ),
    walk(node, reach) AS (
      SELECT s, s FROM edges
      UNION
      SELECT wk.node, e.d FROM walk wk JOIN edges e ON e.s = wk.reach
    ),
    lab AS (
      SELECT node AS doc_id, MIN(reach) AS cluster_id FROM walk GROUP BY node
    ),
    items AS MATERIALIZED (
      SELECT COALESCE(l.cluster_id, a.doc_id) AS pred,
             CASE WHEN a.doc_id >= {NEAR_COPY_OFFSET}
                    THEN a.doc_id - {NEAR_COPY_OFFSET}
                  WHEN a.doc_id >= {EXACT_COPY_OFFSET}
                    THEN a.doc_id - {EXACT_COPY_OFFSET}
                  ELSE a.doc_id END AS truth
      FROM aug a LEFT JOIN lab l USING (doc_id)
    ),
    {duck_bcubed_tail("items")}
    """,
)
def dedup_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline QA for the dedup stack: B-cubed precision/recall/F1
    (Bagga & Baldwin 1998; the clustering-eval standard from the
    entity-resolution literature) of the MinHash-LSH connected-
    component clusters against the planted-duplicate ground truth the
    augmentation defines (base id <-> +EXACT/+NEAR copies). Unclustered
    docs count as singletons on BOTH sides, so over-merging lowers
    precision and missed dups lower recall — the two failure modes a
    production dedup rollout must monitor before dropping data.

    Exactness and scale: see bcubed_metrics (the shared kernel);
    cluster labels come from the iterative min-label propagation —
    nothing here exceeds the corpus in size, and nothing is
    quadratic."""
    aug = _aug_docs(spark, sf_dir, parallel=False).select("doc_id")
    labels = D.connected_components(_lsh_pairs(spark, sf_dir))
    items = (
        aug.join(labels, "doc_id", "left")
        .select(
            F.coalesce("cluster_id", "doc_id").alias("pred"),
            _planted_truth(F.col("doc_id")).alias("truth"),
        )
    )
    return bcubed_metrics(items)


# --------------------------------------------------------------------------
# documents_lang_confusion — language-ID confusion matrix (r11)
# --------------------------------------------------------------------------


@query(
    "documents_lang_confusion",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    p AS (SELECT lang, {{lang_case}} AS predicted_lang FROM w)
    SELECT lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(1000 * COUNT(*) //
                SUM(COUNT(*)) OVER (PARTITION BY lang) AS BIGINT)
               AS row_permille
    FROM p GROUP BY 1, 2 ORDER BY 1, 2
    """.format(lang_case=_duck_lang_case()),
)
def documents_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The language-ID confusion matrix: labeled language x predicted
    language with doc counts and exact row permilles — the evaluation
    table behind the curation verdict's lang_mismatch gate (which
    cell is bleeding tells you whether the n-gram marker lists or the
    labels are wrong). Scale: per-row HOF prediction (narrow), one
    (lang x lang)-key aggregate — the window total runs over at most
    |langs|^2 rows."""
    docs = table(spark, sf_dir, "documents")
    p = docs.select(
        "lang",
        TX.predicted_lang_w(TX.words(F.col("text"))).alias(
            "predicted_lang"
        ),
    )
    g = p.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return g.select(
        "lang",
        "predicted_lang",
        "n_docs",
        F.expr("1000 * n_docs div sum(n_docs) over (partition by lang)")
        .cast("bigint")
        .alias("row_permille"),
    ).orderBy("lang", "predicted_lang")
