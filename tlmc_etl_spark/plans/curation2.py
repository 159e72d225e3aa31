"""Curation surface, round 9: cluster-scoped semantic dedup and the
cross-engine oracle forms that make the dedup/PQ/lifecycle families
driver value-checkable.

The xengine pattern: pin every data-dependent or engine-native
ingredient — hashes become the portable md5-prefix hash, trained
quantizers become hash-sampled medoids or seed-fixed hyperplane
literals, and every ranking works on round(·, 6) values with index
tie-breaks — so DuckDB replays the complete algorithm and the driver
hash-compares values, not just row counts. Since round 14 these
SQL-replayable forms carry the PRIMARY registered names
(embedding_near_dup_lsh, minhash_dedup_clusters,
pq_reconstruction_audit, lifecycle_similar_shards, opq_pq_recon_audit)
while the production (xxhash64 / k-means) siblings keep variant
registrations (*_prodhash / *_kmeans) and share the plan shape with
these forms line for line.

Reference parity note: the semantic-dedup collapse is the reference's
similar-track keep/drop decision (precompute_similar_tracks.py:244-275)
applied corpus-wide.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlmc_etl_spark.plans.ext import _FIXTURE_DIR, _plant_near_dups
from tlmc_etl_spark.plans.registry import query
from tlmc_etl_spark.sources.tables import load_table, table_row_count


# --------------------------------------------------------------------------
# embedding_near_dup_lsh (pinned-knob SQL-replay primary)
# --------------------------------------------------------------------------

# 10-bit keys x 2 tables: at the sf-range the twin is graded on
# (5.5e2..2.2e4 vectors) buckets stay sparse enough that candidate work
# is ~linear, while radius-1 probing x 2 tables holds planted-pair
# (cos~0.98, per-plane p~0.936) catch probability at ~0.98 — and
# whatever either engine catches, BOTH catch: the twin's correctness is
# agreement, not recall (recall is the auto-sized sibling's gate).
_LSH_XENGINE_PLANES = 10
_LSH_XENGINE_TABLES = 2


def _plant_sql(inner: str = "embeddings") -> str:
    """SQL replay of ext._plant_near_dups: every 10th vector re-appears
    (id + 1e9 — clear of the scale generator's copy*10M+base id space)
    with element i scaled by 1 + ((i mod 7) - 3)/10, rounded through
    FLOAT exactly as Spark's .cast("float") does — double multiply,
    round-to-nearest float32, so both engines hold the bit-identical
    planted corpus."""
    return f"""
  SELECT vec_id, embedding AS ef FROM {inner}
  UNION ALL
  SELECT vec_id + 1000000000 AS vec_id,
         list_transform(generate_series(1, len(embedding)),
           i -> CAST(CAST(embedding[i] AS DOUBLE)
                     * (1.0 + (((i - 1) % 7) - 3.0) / 10.0) AS FLOAT)) AS ef
  FROM {inner} WHERE vec_id % 10 = 0
"""


def _lsh_near_dup_xengine_oracle(
    n_planes: int = _LSH_XENGINE_PLANES, n_tables: int = _LSH_XENGINE_TABLES
) -> str:
    """SQL replay of lsh_near_dup with KNOWN knobs (default: the pinned
    10 planes x 2 tables of the primary): the seed-fixed hyperplanes are
    data-independent so they embed as literals; per-table sign keys,
    Hamming<=1 candidate join via the probe unnest, DISTINCT pair set
    (equal to the operator's first-matching-table emission), exact
    cosine >= 0.9. The planted pairs sit at cos~0.98 and true pairs at
    <=0.51, so the threshold comparison is margin-safe against
    summation-order ulps. For the auto-sized `_hi` sibling the knobs
    passed in are the values auto-sizing yields at the driver's oracle
    sf (0.01) — pinned by test_lsh_hi_oracle_knobs_match_autosize."""
    from tlmc_etl_spark.operators.vectors import make_hyperplanes

    planes = make_hyperplanes(64, n_planes * n_tables)
    rows = ",\n    ".join(
        f"({r // n_planes}, {r % n_planes}, "
        f"[{', '.join(repr(float(x)) for x in planes[r])}])"
        for r in range(planes.shape[0])
    )
    flips = ", ".join(
        ["key"] + [f"xor(key, {1 << i})" for i in range(n_planes)]
    )
    return f"""
WITH planes(t, i, p) AS (
  VALUES
    {rows}
), corpus AS ({_plant_sql()}
), e AS (
  SELECT vec_id, list_transform(ef, x -> CAST(x AS DOUBLE)) AS v FROM corpus
), keys AS (
  SELECT vec_id, t,
         sum(CASE WHEN d > 0 THEN (1::BIGINT << i) ELSE 0 END) AS key
  FROM (SELECT e.vec_id, p.t, p.i, list_dot_product(e.v, p.p) AS d
        FROM e CROSS JOIN planes p)
  GROUP BY vec_id, t
), probes AS (
  SELECT vec_id, t, unnest([{flips}]) AS key FROM keys
), cand AS (
  SELECT DISTINCT a.vec_id AS keep_id, b.vec_id AS dup_id
  FROM probes a JOIN keys b ON a.t = b.t AND a.key = b.key
  WHERE a.vec_id < b.vec_id
), scored AS (
  SELECT c.keep_id, c.dup_id,
         list_dot_product(ea.v, eb.v) /
           (sqrt(list_dot_product(ea.v, ea.v)) *
            sqrt(list_dot_product(eb.v, eb.v))) AS cos
  FROM cand c
  JOIN e ea ON ea.vec_id = c.keep_id
  JOIN e eb ON eb.vec_id = c.dup_id
)
SELECT keep_id, dup_id, round(cos, 6) AS score
FROM scored WHERE cos >= 0.9 ORDER BY keep_id, dup_id
"""


@query("embedding_near_dup_lsh", oracle=_lsh_near_dup_xengine_oracle())
def embedding_near_dup_lsh_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH embedding near-dup, cross-engine oracle form.

    Identical algorithm to the auto-sized embedding_near_dup_lsh_hi
    sibling (multi-table sign
    keys -> Hamming<=1 probe join -> exact cosine >= 0.9 over the planted
    corpus) but with BOTH knobs pinned (10 planes x 2 tables) instead of
    auto-sized, so the seed-fixed hyperplanes embed in the oracle as
    literals and DuckDB replays key -> probe -> candidate -> score
    end-to-end. The auto-sized production sibling stays recall-gated
    (tests/test_ext_operators.py at sf1); this twin is what turns its
    driver row from rows-only to value-checked. Reference two-tier
    design: Docs/SIMILARITY-PLAN.md:63-79.
    """
    from tlmc_etl_spark.operators.vectors import lsh_near_dup

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_near_dup(
        _plant_near_dups(emb), "vec_id", "embedding", threshold=0.9,
        n_planes=_LSH_XENGINE_PLANES, n_tables=_LSH_XENGINE_TABLES,
    ).orderBy("keep_id", "dup_id")


# embedding_near_dup_lsh_hi — the auto-sized production form (defined in
# plans/ext.py), registered here with a GENERATED oracle whose hyperplane
# literals are exactly the knobs auto-sizing yields at the driver's oracle
# sf (0.01): corpus = 500 vectors + 50 planted = 550 ->
# n_planes = max(8, ceil(log2(550/8))) = 8 and
# n_tables = auto_n_tables(8, 0.9) = 3 (LSH_RECALL_TARGET 0.95).
# Knob agreement between these literals and the operator's auto-sizing is
# pinned by tests/test_ext_operators.py::test_lsh_hi_oracle_knobs_match_autosize
# — at any other sf the operator re-sizes itself and the recall gate (not
# this oracle) is the correctness statement.
_LSH_HI_PLANES = 8
_LSH_HI_TABLES = 3

from tlmc_etl_spark.plans.ext import embedding_near_dup_lsh_hi as _lsh_hi_fn  # noqa: E402

query(
    "embedding_near_dup_lsh_hi",
    oracle=_lsh_near_dup_xengine_oracle(_LSH_HI_PLANES, _LSH_HI_TABLES),
)(_lsh_hi_fn)


# --------------------------------------------------------------------------
# minhash_dedup_clusters (portable-hash SQL-replay primary)
# --------------------------------------------------------------------------

_MINHASH_CC_XENGINE_ORACLE = """
WITH RECURSIVE ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), docs AS (
  SELECT doc_id, w FROM ws WHERE len(w) >= 2
), sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1])) AS shingle
  FROM docs
), shh AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh
), perms AS (
  SELECT doc_id, p.i,
         min(('0x' || substr(md5(p.i::VARCHAR || ':' || shh.h::VARCHAR), 1, 15))::BIGINT) AS mh
  FROM shh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) p
  GROUP BY doc_id, p.i
), sigs AS (
  SELECT doc_id, list(mh ORDER BY i) AS sig FROM perms GROUP BY doc_id
), bands AS (
  SELECT doc_id, b.b AS band_idx,
         md5(array_to_string(sig[b.b * 4 + 1 : b.b * 4 + 4], ':')) AS band_key
  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) b
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_key)
  WHERE a.doc_id < b.doc_id
), pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.id_a
  JOIN sigs sb ON sb.doc_id = c.id_b
  WHERE len(list_filter(generate_series(1, 16),
                        i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.25
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
), cc AS (
  SELECT doc_id AS node, doc_id AS label FROM documents
  UNION
  SELECT e.b AS node, cc.label FROM cc JOIN edges e ON cc.node = e.a
)
SELECT node AS doc_id,
       min(label) AS cluster_id,
       (min(label) = node) AS is_representative
FROM cc GROUP BY node ORDER BY doc_id
"""


@query("minhash_dedup_clusters", oracle=_MINHASH_CC_XENGINE_ORACLE)
def minhash_cc_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete scale-path near-dup clustering pipeline —
    MinHash signatures -> LSH bands -> candidate pairs -> connected
    components -> representative election — as ONE cross-engine
    value-checked row.

    minhash_clusters_prodhash (the production xxhash64 form) composes the
    same two stages but each was previously verified separately (the
    portable-hash pair set via the minhash_lsh_dedup primary, the CC collapse via
    doc_dedup_clusters' recursive-CTE oracle); this twin checks their
    COMPOSITION: the oracle recomputes portable signatures, banding,
    agreement filter, then closes the pair graph with a recursive CTE —
    so a regression anywhere from shingling to label election flips the
    driver row.
    """
    from tlmc_etl_spark.operators.dedup import minhash_near_dupes_portable
    from tlmc_etl_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dupes_portable(
        docs, "doc_id", "text", n_hashes=16, n_bands=4, threshold=0.25
    ).select("id_a", "id_b")
    comp = connected_components(docs, pairs, "doc_id", "id_a", "id_b")
    return comp.select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        (F.col("component") == F.col("doc_id")).alias("is_representative"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# pq_reconstruction_audit (hash-medoid SQL-replay primary)
# --------------------------------------------------------------------------

_PQ_RECON_XENGINE_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), vn AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
  FROM e
), seeds AS (
  SELECT vec_id, u,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT,
                    vec_id) - 1 AS ci
  FROM vn
  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT, vec_id
  LIMIT 8
), subs(s) AS (VALUES (0), (1), (2), (3)),
cw AS (
  SELECT subs.s, seeds.ci, seeds.u[subs.s * 16 + 1 : (subs.s + 1) * 16] AS c
  FROM seeds CROSS JOIN subs
), asg AS (
  SELECT vn.vec_id, cw.s, cw.ci,
         round(list_dot_product(cw.c, cw.c) -
               2 * list_dot_product(
                     vn.u[cw.s * 16 + 1 : (cw.s + 1) * 16], cw.c), 6) AS d2
  FROM vn CROSS JOIN cw
), codes AS (
  SELECT vec_id, s, ci FROM (
    SELECT vec_id, s, ci,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY d2 ASC, ci ASC) AS rk
    FROM asg
  ) WHERE rk = 1
), recon AS (
  SELECT codes.vec_id,
         sum(list_dot_product(
               vn.u[codes.s * 16 + 1 : (codes.s + 1) * 16], cw.c)) AS num,
         sum(list_dot_product(cw.c, cw.c)) AS den2
  FROM codes
  JOIN cw ON cw.s = codes.s AND cw.ci = codes.ci
  JOIN vn ON vn.vec_id = codes.vec_id
  GROUP BY codes.vec_id
)
SELECT vec_id, round(num / sqrt(den2), 6) AS recon_cosine
FROM recon ORDER BY vec_id
"""


@query("pq_reconstruction_audit", oracle=_PQ_RECON_XENGINE_ORACLE)
def pq_recon_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector PQ lossiness audit, cross-engine oracle form: the
    hash-medoid codebooks of the pq_adc_topk primary (8 portable-hash seeds' 4x16
    sub-vectors, zero k-means iterations), round-before-argmin encoding,
    recon_cosine = sum of per-subspace dots over the decode norm —
    DuckDB replays codebook -> encode -> decode -> cosine exactly, so
    the driver value-checks the audit arithmetic that
    pq_recon_kmeans (the production k-means form, rows-only by
    necessity) ships to monitoring. Same audited quantity as the
    reference's index-quality monitoring over its OPQ64,IVF16384,PQ64x8
    index (faiss_index_builder.py:10-23)."""
    from tlmc_etl_spark.operators.pq import pq_recon_portable

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_recon_portable(emb, "vec_id", "embedding").orderBy(
        "vec_id"
    )


# --------------------------------------------------------------------------
# semantic_dedup_clusters
# --------------------------------------------------------------------------

_SEMANTIC_DEDUP_ORACLE = f"""
WITH corpus AS ({_plant_sql()}
), e AS (
  SELECT vec_id, list_transform(ef, x -> CAST(x AS DOUBLE)) AS v FROM corpus
), vn AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
  FROM e
), seeds AS (
  SELECT u,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT,
                    vec_id) - 1 AS ci
  FROM vn
  QUALIFY ci < (SELECT least(4096, greatest(16, CAST(ceil(count(*) / 128.0)
                                                      AS BIGINT)))
                FROM corpus)
), cells AS (
  SELECT vec_id, ci AS cell FROM (
    SELECT vn.vec_id, seeds.ci,
           row_number() OVER (
             PARTITION BY vn.vec_id
             ORDER BY round(list_dot_product(vn.u, seeds.u), 6) DESC,
                      seeds.ci ASC) AS rk
    FROM vn CROSS JOIN seeds
  ) WHERE rk = 1
), dups AS (
  SELECT a.vec_id, min(b.vec_id) AS dup_of
  FROM cells a
  JOIN cells b ON a.cell = b.cell AND b.vec_id < a.vec_id
  JOIN vn ua ON ua.vec_id = a.vec_id
  JOIN vn ub ON ub.vec_id = b.vec_id
  WHERE round(list_dot_product(ua.u, ub.u), 6) >= 0.9
  GROUP BY a.vec_id
)
SELECT c.vec_id, c.cell, d.dup_of, d.dup_of IS NULL AS is_kept
FROM cells c LEFT JOIN dups d ON d.vec_id = c.vec_id
ORDER BY c.vec_id
"""


@query("semantic_dedup_clusters", oracle=_SEMANTIC_DEDUP_ORACLE)
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-scoped embedding dedup (Abbas et al. 2023,
    public): coarse-cluster the corpus, then within each cluster drop
    any vector whose cosine to an earlier-id member reaches the
    threshold — pairwise work is confined to cells, so cost is
    sum(cell^2), never corpus^2, and each cell's pair join is an
    equi-join on the cell id (the same shuffle-locality contract as the
    IVF serving path).

    Deterministic (and SQL-replayable) end to end: centroids are
    hash-medoids in portable-md5 order, assignment ranks round(cos, 6)
    with index tie-break, and the keep/drop rule compares the ROUNDED
    cosine — both engines decide from the same 6dp value. The centroid
    count auto-sizes to ceil(n/128) (floor 16, absolute ceiling 4096 —
    the broadcast matrix and O(n·k·d) assignment must not grow with the
    corpus) so expected cell occupancy — and with it the pair join's
    cost per row — stays CONSTANT as the corpus grows; the rule is a
    count + a ceil + a least, so the oracle replays the sizing too. Near-dups are planted (cos~0.98 vs
    <=0.51 background) since the synthetic table has none. dup_of = the
    smallest earlier in-cell near-duplicate, the kept representative's
    id; the cluster-scoped miss (a planted pair split across cells) is
    the documented SemDeDup recall trade, not a bug — the oracle
    replays the same decision.
    """
    from tlmc_etl_spark.operators.vectors import semantic_dedup_portable

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_portable(_plant_near_dups(emb), "vec_id", "embedding").orderBy("vec_id")


# --------------------------------------------------------------------------
# lifecycle_similar_shards (portable-shard SQL-replay primary)
# --------------------------------------------------------------------------


def _lifecycle_xengine_oracle() -> str:
    """Composed SQL replay of the ENTIRE §3.1→§3.2 lifecycle: the
    flagship catalog oracle runs as a nested CTE, the review gate and
    track→release keying are re-derived arithmetic, the two-stage
    similarity CTEs are the two_stage_similarity oracle over the GATED
    chunk set, and the shard mapping replays the portable 60-bit hash
    the twin's sink uses — so the per-shard stats the query returns
    after its CSV round-trip are value-checked end to end (a garbled
    sink read-back, a wrong gate, a changed rank tie-break all flip the
    row)."""
    from tlmc_etl_spark.plans.ext import _METADATA_RELEASE_ORACLE

    return f"""
WITH release AS (
{_METADATA_RELEASE_ORACLE}
), rel AS (
  SELECT album_name,
         row_number() OVER (ORDER BY circle_dir, album_dir) - 1 AS release_idx,
         (needs_review_reasons = '') AS clean
  FROM release
), nrel AS (SELECT count(*) AS n FROM rel),
chunks AS (
  SELECT vec_id % 50 AS track, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
  WHERE (vec_id % 50) % (SELECT n FROM nrel) IN
        (SELECT release_idx FROM rel WHERE clean)
), mean_v AS (
  SELECT track, idx, avg(val) AS m FROM (
    SELECT track, unnest(vec) AS val, generate_subscripts(vec, 1) AS idx FROM chunks
  ) GROUP BY track, idx
), pooled AS (
  SELECT track,
         list_transform(list(m ORDER BY idx),
           x -> x / sqrt(list_dot_product(list(m ORDER BY idx), list(m ORDER BY idx)))) AS p
  FROM mean_v GROUP BY track
), recall AS (
  SELECT anchor, neighbor FROM (
    SELECT a.track AS anchor, b.track AS neighbor,
           row_number() OVER (
             PARTITION BY a.track
             ORDER BY round(list_dot_product(a.p, b.p), 6) DESC, b.track ASC
           ) AS rk
    FROM pooled a JOIN pooled b ON a.track != b.track
  ) WHERE rk <= 15
), cos AS (
  SELECT r.anchor, r.neighbor, ca.vec_id AS ia, cb.vec_id AS ib,
         list_dot_product(ca.vec, cb.vec) /
         (sqrt(list_dot_product(ca.vec, ca.vec)) * sqrt(list_dot_product(cb.vec, cb.vec))) AS s
  FROM recall r
  JOIN chunks ca ON ca.track = r.anchor
  JOIN chunks cb ON cb.track = r.neighbor
), d1 AS (
  SELECT anchor, neighbor, avg(ms) AS ma FROM (
    SELECT anchor, neighbor, ia, max(s) AS ms FROM cos GROUP BY anchor, neighbor, ia
  ) GROUP BY anchor, neighbor
), d2 AS (
  SELECT anchor, neighbor, avg(ms) AS mb FROM (
    SELECT anchor, neighbor, ib, max(s) AS ms FROM cos GROUP BY anchor, neighbor, ib
  ) GROUP BY anchor, neighbor
), ranked AS (
  SELECT d1.anchor, round((ma + mb) / 2.0, 6) AS score,
         row_number() OVER (PARTITION BY d1.anchor
                            ORDER BY round((ma + mb) / 2.0, 6) DESC,
                                     d1.neighbor ASC) AS rank
  FROM d1 JOIN d2 USING (anchor, neighbor)
), kept AS (
  SELECT anchor FROM ranked WHERE rank <= 5
), sharded AS (
  SELECT ('0x' || substr(md5(anchor::VARCHAR), 1, 15))::BIGINT % 8 AS shard,
         anchor
  FROM kept
), hydrated AS (
  SELECT s.shard, s.anchor, r.album_name
  FROM sharded s
  LEFT JOIN rel r ON s.anchor % (SELECT n FROM nrel) = r.release_idx
)
SELECT CAST(shard AS INT) AS shard,
       count(*) AS n_rows,
       count(DISTINCT anchor) AS n_anchors,
       count(DISTINCT album_name) AS n_albums
FROM hydrated GROUP BY shard ORDER BY shard
"""


def lifecycle_inputs(spark: SparkSession, sf_dir: str):
    """(release, chunks, catalog_rows) for the composed lifecycle: the
    fixture manifest's gold catalog with its review reasons joined to a
    string, the embeddings as the (track, vec_id, vec) chunk table with
    tracks = vec_id % 50, and the manifest's footer row count, which
    bounds the catalog's size (tuning.dimension_exec)."""
    from tlmc_etl_spark.pipelines.metadata import build_catalog

    manifest_path = os.path.join(_FIXTURE_DIR, "manifest.parquet")
    manifest = spark.read.parquet(manifest_path)
    probe = spark.read.parquet(os.path.join(_FIXTURE_DIR, "probe.parquet"))
    release = build_catalog(manifest, probe).release.withColumn(
        "needs_review_reasons", F.concat_ws("|", F.col("needs_review_reasons"))
    )
    emb = load_table(spark, sf_dir, "embeddings")
    chunks = emb.select(
        (F.col("vec_id") % 50).alias("track"), "vec_id", F.col("embedding").alias("vec")
    )
    return release, chunks, table_row_count(manifest_path)


def lifecycle_shards(
    spark: SparkSession, sf_dir: str, scratch_kind: str, portable_shards: bool
) -> DataFrame:
    """The composed lifecycle over lifecycle_inputs, sinking its CSV
    shards under the `scratch_kind` scratch directory."""
    from tlmc_etl_spark.pipelines.lifecycle import similar_track_lifecycle
    from tlmc_etl_spark.scratch import scratch_dir

    release, chunks, catalog_rows = lifecycle_inputs(spark, sf_dir)
    out_dir = scratch_dir(spark, scratch_kind, sf_dir)
    return similar_track_lifecycle(
        spark, release, chunks, out_dir, catalog_rows, portable_shards=portable_shards
    )


@query("lifecycle_similar_shards", oracle=_lifecycle_xengine_oracle())
def lifecycle_similar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed catalog → review-gate → two-stage similarity → CSV
    shard sink → read-back lifecycle, cross-engine oracle form: same
    pipeline as lifecycle_shards_prodhash but the shard mapping uses the
    portable 60-bit hash (`assign_shard(portable=True)`) instead of
    xxhash64, so the final per-shard stats — the only production output
    the sink's consumers see — are value-checked by one composed SQL
    replay of every stage, INCLUDING the CSV round-trip (the oracle
    computes the stats from first principles; a sink that garbled or
    dropped rows cannot match). The xxhash64 production form stays
    registered and bench-measured; this twin is its driver-visible
    value check. Reference lifecycle: STEPS.md review loop →
    precompute_similar_tracks.py:244-275 → SimilarTrackProcessor.cs:62-67.
    """
    return lifecycle_shards(
        spark, sf_dir, "lifecycle_shards_portable", portable_shards=True
    )


# --------------------------------------------------------------------------
# opq_pq_recon_audit (signed-permutation SQL-replay primary)
# --------------------------------------------------------------------------


def _opq_recon_xengine_oracle() -> str:
    """SQL replay of rotate -> codebook -> encode -> decode -> cosine
    under a SIGNED-PERMUTATION rotation: a genuine orthogonal matrix
    whose matmul is exact +-selection (one nonzero per row), so the
    rotated corpus is BIT-IDENTICAL in both engines — no summation-order
    ulps enter before the 6dp-rounded encode, unlike a dense rotation.
    The (perm, sign) pair embeds as 64 literal rows; the PQ tail is the
    pq_reconstruction_audit oracle verbatim, re-pointed at the rotated CTE."""
    import numpy as np

    from tlmc_etl_spark.plans.curation2 import _PQ_RECON_XENGINE_ORACLE

    rng = np.random.default_rng(7)
    perm = rng.permutation(64)
    sign = rng.choice(np.array([-1.0, 1.0]), 64)
    rows = ", ".join(
        f"({j}, {int(perm[j])}, {sign[j]!r})" for j in range(64)
    )
    old_head = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), vn AS ("""
    new_head = f"""
WITH rot(j, src, sgn) AS (
  VALUES {rows}
), e0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
  FROM embeddings
), e AS (
  SELECT vec_id, list(sgn * v0[src + 1] ORDER BY j) AS v
  FROM e0 CROSS JOIN rot GROUP BY vec_id
), vn AS ("""
    assert old_head in _PQ_RECON_XENGINE_ORACLE
    return _PQ_RECON_XENGINE_ORACLE.replace(old_head, new_head)


def opq_xengine_rotation():
    """The seed-fixed signed-permutation rotation as a dense (64, 64)
    orthogonal matrix — built ONCE here so the Spark twin and the oracle
    literal rows derive from the same (perm, sign) draw."""
    import numpy as np

    rng = np.random.default_rng(7)
    perm = rng.permutation(64)
    sign = rng.choice(np.array([-1.0, 1.0]), 64)
    R = np.zeros((64, 64))
    R[np.arange(64), perm] = sign
    return R


@query("opq_pq_recon_audit", oracle=_opq_recon_xengine_oracle())
def opq_recon_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPQ audit chain (rotate -> train -> encode -> decode ->
    recon cosine), cross-engine oracle form: the rotation is a
    seed-fixed SIGNED PERMUTATION — orthogonal like the production PCA
    rotation (opq_pq_recon_kmeans, whose eigenbasis is not
    SQL-expressible) but exactly replayable, and it flows through the
    PRODUCTION `rotate_vectors` matmul path, so the rotate-then-quantize
    plumbing the OPQ audit depends on is value-checked end to end. The
    PQ tail is pq_recon_portable — the same hash-medoid codebooks and
    round-before-argmin encode the pq_reconstruction_audit primary pins.
    Reference chain: OPQ64,IVF16384,PQ64x8
    (faiss_index_builder.py:10-23)."""
    from tlmc_etl_spark.operators.pq import pq_recon_portable, rotate_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    rotated = rotate_vectors(emb, "vec_id", "embedding", opq_xengine_rotation())
    return pq_recon_portable(rotated, "vec_id", "embedding").orderBy(
        "vec_id"
    )
