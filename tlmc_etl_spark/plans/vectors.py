"""Vector / similarity-search query catalog over the `embeddings` table.

The reference's similarity layer (SURVEY.md §3.2): pooled vectors → exact
cosine top-K recall → chamfer rerank. Here the relational parts (norms,
pooling, brute-force top-k) are pure DataFrame algebra with a DuckDB oracle;
the hash/GPU-shaped parts (MinHash-LSH ANN, chamfer) live in operators/ and
register as ext queries.

Float determinism: every per-vector reduction folds the array **in element
order with double accumulation** on both engines (Spark `aggregate` over the
array vs an ordered correlated sum in DuckDB), so results agree to well below
the rounding we emit (4-6 dp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tlmc_etl_spark.plans.registry import query
from tlmc_etl_spark.sources.tables import load_table


def _l2_norm(col: str):
    """JVM-side l2 norm of an array<float> column, double accumulation."""
    return F.sqrt(F.aggregate(F.col(col), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _dot(a: str, b: str):
    """JVM-side ordered dot product of two array<float> columns."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@query(
    "embedding_norms",
    oracle="""
SELECT vec_id, label, len(embedding) AS dim,
       round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4)
         AS l2_norm
FROM embeddings
""",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector l2 norm + dimension audit.

    Reference: embeddings are L2-normalized on write (mert_batched_uuid.py:292)
    and dimension-validated on load (TrackEmbeddingProcessor.cs:118-168); this
    is that validation as a query. `F.aggregate` keeps the fold JVM-side.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.size("embedding").alias("dim"), F.round(_l2_norm("embedding"), 4).alias("l2_norm")
    )


@query(
    "pooled_mean_by_label",
    oracle="""
WITH expanded AS (
  SELECT label, t.pos, CAST(embedding[t.pos] AS DOUBLE) AS x
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t
), mean_vec AS (
  SELECT label, pos, avg(x) AS m FROM expanded GROUP BY label, pos
), norms AS (
  SELECT label, sqrt(sum(m * m)) AS nrm FROM mean_vec GROUP BY label
)
SELECT v.label, v.pos, round(v.m / n.nrm, 6) AS unit_mean
FROM mean_vec v JOIN norms n USING (label)
""",
)
def pooled_mean_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mean-pooling of vectors, renormalized to unit length.

    Reference: pooled mean vector per track, masked mean renormalized
    (Experimental/utils/utils.py:114-129, precompute_similar_groups.py:68-92);
    two-level rollups chain this groupBy. posexplode→groupBy(label,pos) is
    the distributed form: state per reducer is one running sum per (label,
    position), never a gathered matrix.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    expanded = emb.select("label", F.posexplode("embedding").alias("pos0", "x")).select(
        "label", (F.col("pos0") + 1).alias("pos"), F.col("x").cast("double").alias("x")
    )
    mean_vec = expanded.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    norms = mean_vec.groupBy("label").agg(F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nrm"))
    return mean_vec.join(F.broadcast(norms), "label").select(
        "label", "pos", F.round(F.col("m") / F.col("nrm"), 6).alias("unit_mean")
    )


# Anchor set collected to the driver for the tiled-matmul scorer — a
# named cap with the memory math (operators/graph.py:driver_edge_cap
# standard): 64 float64 dims × 8 B + id ≈ 520 B per anchor → ~10 KB
# collected here; at corpus scale anchors chunk into tiles of this size
# (pipelines/similarity.py) rather than growing the collect. The DuckDB
# oracle pins the same bound (`ON q.vec_id < 20`).
COSINE_TOPK_ANCHOR_CAP = 20


@query(
    "cosine_topk",
    oracle="""
WITH pairs AS (
  SELECT q.vec_id AS anchor, c.vec_id AS neighbor,
         round(
           list_sum(list_transform(generate_series(1, len(q.embedding)),
                    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) AS score
  FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id != c.vec_id
)
SELECT anchor, neighbor, score, rnk AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor ORDER BY score DESC, neighbor ASC) AS rnk
  FROM pairs
) WHERE rnk <= 10
""",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k neighbors per anchor (tiled matmul).

    Reference: exact pooled-cosine top-K=500 per track via tiled matmul,
    deliberately exact-over-ANN at catalog scale
    (precompute_similar_tracks.py:116-126, SIMILARITY-PLAN.md:52-55).

    Spark shape: the anchor matrix is tiny → shipped to every task in the
    closure (the broadcast side of a broadcast nested-loop); candidates
    stream through `mapInPandas`, each Arrow batch scored with ONE numpy
    matmul — the vectorized path, ~100× the per-element fold. Per-anchor
    top-k then goes through a partitioned window. At 100 TB: anchors chunk
    into tiles, candidates stay partition-local — no shuffle until the
    (tiny) scored top-k rows. Ranking uses the rounded score so tie order
    is engine-stable.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        emb.filter(F.col("vec_id") < COSINE_TOPK_ANCHOR_CAP)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    def score_batches(batches):
        for pdf in batches:
            c_mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            c_ids = pdf["vec_id"].to_numpy()
            dots = c_mat @ q_mat.T  # (batch, n_anchors)
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            scores = dots / (c_norm[:, None] * q_norm[None, :])
            n_c, n_q = scores.shape
            yield pd.DataFrame(
                {
                    "anchor": np.repeat(q_ids[None, :], n_c, axis=0).ravel(),
                    "neighbor": np.repeat(c_ids, n_q),
                    "score": np.round(scores.ravel(), 6),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score_batches, schema="anchor long, neighbor long, score double"
    )
    scored = scored.filter(F.col("anchor") != F.col("neighbor"))
    w = W.partitionBy("anchor").orderBy(F.col("score").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("anchor", "neighbor", "score", "rank")
    )


@query(
    "embedding_near_dup",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
         list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
              * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS s
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT keep_id, dup_id, round(s, 6) AS score
FROM pairs WHERE s >= 0.35
""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a<b) pairs whose cosine
    clears the threshold; `keep_id` is the lower id (the dedup winner rule).

    This exact all-pairs form is the SMALL-SF DIFFERENTIAL ORACLE: it
    broadcasts the full matrix and scores one numpy matmul per Arrow batch,
    so it is only valid where the table fits the driver. The production
    scale path is `embedding_near_dup_lsh` (plans/ext.py) — LSH candidate
    generation → the same exact scoring kernel — property-gated to ≥0.95
    recall against this query. Threshold boundary is 2.9e-5 away from
    the nearest pair at sf0.01, far above float fold-order noise.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nrm = np.sqrt((M * M).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids, M, nrm))

    def near_pairs(batches):
        c_ids, C, c_nrm = bc.value
        for pdf in batches:
            A = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            a_nrm = np.sqrt((A * A).sum(axis=1))
            a_ids = pdf["vec_id"].to_numpy()
            sims = (A @ C.T) / (a_nrm[:, None] * c_nrm[None, :])
            ai, ci = np.nonzero((sims >= 0.35) & (a_ids[:, None] < c_ids[None, :]))
            yield pd.DataFrame(
                {
                    "keep_id": a_ids[ai],
                    "dup_id": c_ids[ci],
                    "score": np.round(sims[ai, ci], 6),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        near_pairs, schema="keep_id long, dup_id long, score double"
    )


@query(
    "label_centroid_similarity",
    oracle="""
WITH expanded AS (
  SELECT label, t.pos, CAST(embedding[t.pos] AS DOUBLE) AS x
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t
), cent AS (
  SELECT label, pos, avg(x) AS m FROM expanded GROUP BY label, pos
), pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.m * b.m) AS dot,
         sqrt(sum(a.m * a.m)) AS na, sqrt(sum(b.m * b.m)) AS nb
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b, round(dot / (na * nb), 6) AS centroid_cosine
FROM pairs
""",
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: vectors → group centroids → all-pairs cosine.

    Reference: two-level rollup track→album→circle centroids then group
    similarity scores (precompute_similar_groups.py:120-154,195-235). The
    centroid table is tiny after the rollup, so the pair join is a broadcast
    self-join on position — the 'aggregate then compare groups' plan shape.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    expanded = emb.select("label", F.posexplode("embedding").alias("pos0", "x")).select(
        "label", (F.col("pos0") + 1).alias("pos"), F.col("x").cast("double").alias("x")
    )
    cent = expanded.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("m").alias("ma"))
    b = cent.select(F.col("label").alias("label_b"), F.col("pos").alias("pos_b"), F.col("m").alias("mb"))
    pairs = (
        a.join(b, (F.col("pos") == F.col("pos_b")) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).alias("dot"),
            F.sqrt(F.sum(F.col("ma") * F.col("ma"))).alias("na"),
            F.sqrt(F.sum(F.col("mb") * F.col("mb"))).alias("nb"),
        )
    )
    return pairs.select(
        "label_a", "label_b", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("centroid_cosine")
    )


@query(
    "embedding_quantize_int8",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scaled AS (
  SELECT vec_id, v,
         greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS scale
  FROM e
), q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER)) AS qv
  FROM scaled
)
SELECT vec_id, floor(scale * 100000000 + 0.5) / 100000000 AS scale,
       CAST(list_max(list_transform(qv, x -> abs(x))) AS INTEGER) AS max_q,
       floor(sqrt(list_sum(list_transform(generate_series(1, len(v)),
             i -> (v[i] / scale - qv[i]) * (v[i] / scale - qv[i]))) / len(v))
             * 10000 + 0.5) / 10000 AS rmse_steps
FROM q
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization with a reconstruction audit.

    The storage/serving compression step a 100 TB vector corpus runs
    before indexing (4× smaller than float32, dot products stay usable):
    scale = max|x|/127 per vector, q = round(x/scale) ∈ [-127, 127],
    and the query emits the per-vector RMS error in quantization-step
    units (multiply by `scale` for the absolute figure) so the quality
    regression is a monitored number, not an assumption. Step units keep
    the error formula cancellation-free — (v − q·scale)² subtracts two
    nearly-equal products and amplifies engine-level FMA/rounding
    differences past any sane rounding, while (v/scale − q)² is built
    from bit-identical operations on both engines. Every rounding —
    the quantizer itself and the emitted decimals — is expressed as
    floor(x·10^k + 0.5)/10^k on BOTH engines: Spark's round() goes
    through decimal-string HALF_UP while DuckDB rounds the binary
    double, so borderline halves diverge between the builtins; the
    explicit floor form is the same IEEE op everywhere. rmse_steps is
    emitted at 4 dp so summation-order ulps can't straddle a rounding
    boundary. Pure JVM higher-order array algebra — one scan, no
    shuffle, no UDF. `max_q` ≤ 127 is the range invariant (also
    unit-gated).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))
    scale = (
        F.greatest(
            F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))), F.lit(1e-12)
        )
        / 127.0
    )
    scaled = e.select("vec_id", "v", scale.alias("scale"))
    qv = F.transform(
        F.col("v"), lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")
    )
    q = scaled.select("vec_id", "v", "scale", qv.alias("qv"))
    err2 = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("qv"),
            lambda x, qx: (x / F.col("scale") - qx) * (x / F.col("scale") - qx),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # NB: rmse must see the RAW scale. Rounding `scale` in the same select
    # would shadow it for the rmse expression via lateral-column-alias
    # resolution (the r2 parity bug: err2 silently used the 8-dp scale).
    out = q.select(
        "vec_id",
        "scale",
        F.array_max(F.transform(F.col("qv"), lambda x: F.abs(x))).cast("int").alias("max_q"),
        (F.floor(F.sqrt(err2 / F.size("v")) * 1e4 + F.lit(0.5)) / 1e4).alias("rmse_steps"),
    )
    return out.select(
        "vec_id",
        (F.floor(F.col("scale") * 1e8 + F.lit(0.5)) / 1e8).alias("scale"),
        "max_q",
        "rmse_steps",
    )


@query(
    "binvec_roundtrip",
    oracle="""
SELECT vec_id, len(embedding) AS dim,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS checksum
FROM embeddings
""",
)
def binvec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{uuid}.bin` float32 IO round-trip with per-file validation.

    Writes every embedding as a raw little-endian float32 file named by a
    deterministic uuid (sinks/binvec.py), plants one non-uuid filename and
    one wrong-dimension file, then reads the directory back through the
    distributed `binaryFile` + Arrow-decode source (sources/binvec.py —
    TrackEmbeddingProcessor.cs:118-168's load semantics: bad names and
    truncated files fail their own row only). The oracle is the embeddings
    table itself — valid rows must reproduce ids, dimensions and value
    checksums exactly; the two planted files must be flagged out.
    """
    import os
    import shutil

    import numpy as np

    from tlmc_etl_spark.sinks.binvec import write_embedding_bins, write_manifest
    from tlmc_etl_spark.sources.binvec import read_embedding_bins

    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "..", ".scratch",
        f"binvec_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    out_dir = os.path.abspath(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    n = write_embedding_bins(emb, out_dir, "vec_id", "embedding").count()
    write_manifest(out_dir, dim, n)
    # the two skip classes the loader must survive
    np.zeros(4, dtype="<f4").tofile(os.path.join(out_dir, "notauuid.bin"))
    np.zeros(dim + 1, dtype="<f4").tofile(
        os.path.join(out_dir, "00000000-0000-0000-0000-3b9ac9ff0000.bin")
    )
    back = read_embedding_bins(spark, out_dir, expected_dims=dim)
    return back.filter(F.col("valid")).select(
        F.col("track_int").alias("vec_id"),
        F.col("n_floats").alias("dim"),
        F.round(
            F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x.cast("double")), 4
        ).alias("checksum"),
    )


@query(
    "pooled_meanmax_export",
    oracle="""
WITH expanded AS (
  SELECT vec_id % 50 AS track, t.pos, CAST(embedding[t.pos] AS DOUBLE) AS x
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t
), agg AS (
  SELECT track, pos, avg(x) AS mean_x, max(x) AS max_x FROM expanded GROUP BY track, pos
), dims AS (SELECT max(pos) AS d FROM agg)
SELECT track, pos, round(mean_x, 6) AS x FROM agg
UNION ALL
SELECT track, pos + d AS pos, round(max_x, 6) AS x FROM agg CROSS JOIN dims
""",
)
def pooled_meanmax_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mean+max pooled export vector: concat(mean over chunks, max over
    chunks), fp accumulation, NO renormalization — exactly utils.pool's
    contract as exported by export_pooled_from_store.py (mean dims then
    max dims in one 2d vector; positions dim+1..2dim are the max half).
    Emitted positionally so the SQL oracle checks every element; the .bin
    serialization of the same rows is covered by binvec_roundtrip and the
    sink unit tests.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    expanded = emb.select(
        (F.col("vec_id") % 50).alias("track"), F.posexplode("embedding").alias("pos0", "x")
    ).select("track", (F.col("pos0") + 1).alias("pos"), F.col("x").cast("double").alias("x"))
    agg = expanded.groupBy("track", "pos").agg(
        F.avg("x").alias("mean_x"), F.max("x").alias("max_x")
    )
    dims = agg.select(F.max("pos").alias("d"))
    mean_half = agg.select("track", "pos", F.round("mean_x", 6).alias("x"))
    max_half = agg.crossJoin(F.broadcast(dims)).select(
        "track", (F.col("pos") + F.col("d")).alias("pos"), F.round("max_x", 6).alias("x")
    )
    return mean_half.unionByName(max_half)


@query(
    "bridge_rollup_centroid_similarity",
    oracle="""
WITH tr AS (
  SELECT vec_id, vec_id % 50 AS release, embedding FROM embeddings
), expanded AS (
  SELECT release, t.pos, CAST(embedding[t.pos] AS DOUBLE) AS x
  FROM tr, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t
), rel_mean AS (
  SELECT release, pos, avg(x) AS m FROM expanded GROUP BY release, pos
), rel_norm AS (
  SELECT release, sqrt(sum(m * m)) AS nrm FROM rel_mean GROUP BY release
), rel_cent AS (
  SELECT r.release, r.pos, r.m / n.nrm AS c
  FROM rel_mean r JOIN rel_norm n USING (release)
), rels AS (
  SELECT DISTINCT release FROM tr
), bridge AS (
  SELECT release, release % 7 AS circle FROM rels
  UNION ALL
  SELECT release, (release + 1) % 7 AS circle FROM rels WHERE release % 10 = 0
), circ_mean AS (
  SELECT b.circle, rc.pos, avg(rc.c) AS m
  FROM bridge b JOIN rel_cent rc USING (release)
  GROUP BY b.circle, rc.pos
), circ_norm AS (
  SELECT circle, sqrt(sum(m * m)) AS nrm FROM circ_mean GROUP BY circle
), circ_cent AS (
  SELECT c.circle, c.pos, c.m / n.nrm AS u
  FROM circ_mean c JOIN circ_norm n USING (circle)
)
SELECT a.circle AS circle_a, b.circle AS circle_b,
       round(sum(a.u * b.u), 6) AS centroid_cosine
FROM circ_cent a JOIN circ_cent b ON a.pos = b.pos AND a.circle < b.circle
GROUP BY a.circle, b.circle
""",
)
def bridge_rollup_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-to-many hierarchical rollup: track vectors → release centroids
    → circle centroids via a MEMBERSHIP BRIDGE, then all-pairs cosine.

    Reference: a release linked to two circles contributes its centroid to
    BOTH (build_groups over track_release/release_circle exports,
    precompute_similar_groups.py:120-154 and the module docstring's collab
    note). Here release = vec_id % 50; the bridge owns each release at
    circle release%7, and every 10th release is a collab also owned by
    circle (release+1)%7 — so shared releases provably feed two rollups
    (tests/test_group_similarity.py gates the collab effect directly).

    Plan shape: both rollup levels are posexplode → groupBy(key, pos)
    means with renormalization — reducer state is one running sum per
    (key, position), never a gathered matrix; the bridge is a tiny
    broadcast; the final pair join is a broadcast self-join on position
    over the 7-row centroid table.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    tr = emb.select((F.col("vec_id") % 50).alias("release"), "embedding")
    expanded = tr.select("release", F.posexplode("embedding").alias("pos0", "x")).select(
        "release", (F.col("pos0") + 1).alias("pos"), F.col("x").cast("double").alias("x")
    )
    rel_mean = expanded.groupBy("release", "pos").agg(F.avg("x").alias("m"))
    rel_norm = rel_mean.groupBy("release").agg(F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nrm"))
    rel_cent = rel_mean.join(F.broadcast(rel_norm), "release").select(
        "release", "pos", (F.col("m") / F.col("nrm")).alias("c")
    )
    rels = tr.select("release").distinct()
    bridge = rels.select("release", (F.col("release") % 7).alias("circle")).unionByName(
        rels.filter(F.col("release") % 10 == 0).select(
            "release", ((F.col("release") + 1) % 7).alias("circle")
        )
    )
    circ_mean = (
        rel_cent.join(F.broadcast(bridge), "release")
        .groupBy("circle", "pos")
        .agg(F.avg("c").alias("m"))
    )
    circ_norm = circ_mean.groupBy("circle").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nrm")
    )
    circ_cent = circ_mean.join(F.broadcast(circ_norm), "circle").select(
        "circle", "pos", (F.col("m") / F.col("nrm")).alias("u")
    )
    a = circ_cent.select(F.col("circle").alias("circle_a"), "pos", F.col("u").alias("ua"))
    b = circ_cent.select(F.col("circle").alias("circle_b"), F.col("pos").alias("pos_b"), F.col("u").alias("ub"))
    return (
        a.join(F.broadcast(b), (F.col("pos") == F.col("pos_b")) & (F.col("circle_a") < F.col("circle_b")))
        .groupBy("circle_a", "circle_b")
        .agg(F.round(F.sum(F.col("ua") * F.col("ub")), 6).alias("centroid_cosine"))
    )


@query(
    "kde_bandwidth_calibration",
    oracle="""
WITH capped AS (
  SELECT vec_id, label, embedding,
         row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
  FROM embeddings
), e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM capped WHERE rn <= 96
), pairs AS (
  SELECT a.label,
         1.0 - list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
             / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS d
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT label, count(*) AS n_pairs,
       round(median(d), 6) AS median_dist,
       round(1.0 / median(d), 6) AS gamma
FROM pairs GROUP BY label
""",
)
def kde_bandwidth_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBF bandwidth calibration: γ = 1 / median pairwise cosine distance,
    per group — over member pairs, not global pairs.

    Reference: the KDE group-similarity score calibrates its kernel width
    from the median cosine distance of anchor-vs-own-candidate member pairs
    (precompute_similar_groups.py:156-194) because a global median would
    over-smooth. Exact `median` (Spark 3.4+) matches DuckDB's interpolated
    median; the pair join shuffles on the group key only.

    The pair join is quadratic in member count, so members are CAPPED at
    96 per label (row_number by vec_id — deterministic, layout-free)
    before pairing, the same subsample bound the reference applies before
    its quadratic pair work (precompute_similar_tracks.py:84-92). The cap
    is in the oracle too: both engines calibrate on identical pairs, and
    a hot label costs at most 96·95/2 pairs instead of members².
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cw = W.partitionBy("label").orderBy("vec_id")
    # persist: BOTH self-join sides read the capped table; unpersisted,
    # the member scan + window exchange compiled into the plan twice
    # (two independent hashpartitioning(label) exchanges carrying the
    # embeddings — the r15 duplicated-subtree audit). ≤96 rows per label
    # by construction; LRU-evictable. Cache ownership: the session —
    # plan builders cannot unpersist blocks their lazy result still
    # needs; bench.py clearCache() between queries releases them.
    capped = (
        emb.withColumn("__rn", F.row_number().over(cw))
        .filter(F.col("__rn") <= 96)
        .drop("__rn")
        .persist()
    )
    a = capped.select(F.col("vec_id").alias("id_a"), "label", F.col("embedding").alias("va"))
    b = capped.select(F.col("vec_id").alias("id_b"), F.col("label").alias("label_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, (F.col("label") == F.col("label_b")) & (F.col("id_a") < F.col("id_b"))).select(
        "label",
        (
            F.lit(1.0)
            - _dot("va", "vb") / (_l2_norm("va") * _l2_norm("vb"))
        ).alias("d"),
    )
    return pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.median("d"), 6).alias("median_dist"),
        F.round(F.lit(1.0) / F.median("d"), 6).alias("gamma"),
    )


@query(
    "int8_quant_audit",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scaled AS (
  SELECT vec_id, v,
         greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0
           AS scale
  FROM e
), q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> round(x / scale)) AS qv
  FROM scaled
), recon AS (
  SELECT vec_id, scale,
         list_max(list_transform(qv, x -> abs(x))) AS q_absmax,
         sqrt(list_sum(list_transform(
           list_zip(v, qv), p -> (p[1] - p[2] * scale) ** 2))) AS err_l2,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm_l2
  FROM q
)
SELECT vec_id,
       round(scale, 9)                          AS scale,
       CAST(q_absmax AS BIGINT)                 AS q_absmax,
       round(err_l2 / norm_l2, 9)               AS rel_err
FROM recon
ORDER BY vec_id
""",
)
def int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the 4× storage
    compression a 100 TB embedding corpus ships (scale = absmax/127,
    q = round(x/scale)), verified end to end: quantize, reconstruct,
    and report per-vector scale, quantized absmax (must be ≤ 127 — the
    range proof), and relative L2 reconstruction error. Everything is
    JVM-side higher-order array expressions (transform/aggregate/
    zip_with) — one map stage, no shuffle before the presentation sort;
    the DuckDB oracle replays the same arithmetic with list functions.
    round() is HALF_UP in both engines (the banker's-rounding trap the
    repo's conventions pin), so quantized codes match exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    scale = F.greatest(
        F.expr(
            "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
        ),
        F.lit(1e-12),
    ) / F.lit(127.0)
    d = emb.select("vec_id", v.alias("v"), scale.alias("scale"))
    d = d.withColumn(
        "qv", F.expr("transform(v, x -> round(x / scale))")
    )
    return d.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.expr("array_max(transform(qv, x -> abs(x)))")
        .cast("long")
        .alias("q_absmax"),
        F.round(
            F.sqrt(
                F.expr(
                    "aggregate(zip_with(v, qv, (a, q) -> pow(a - q * scale, 2)), "
                    "0D, (acc, x) -> acc + x)"
                )
            )
            / F.sqrt(
                F.expr("aggregate(v, 0D, (acc, x) -> acc + x * x)")
            ),
            9,
        ).alias("rel_err"),
    ).orderBy("vec_id")


# --- incremental similarity maintenance -----------------------------------

# The threshold that defines a "similar" edge over pooled track vectors;
# membership compares the ROUNDED score in both engines so edge sets are
# engine-stable.
SIM_EDGE_TAU = 0.1
# The delta scenario: these tracks receive late-arriving chunks
# (vec_id % 11 == 0), so their pooled vectors change between the old and
# new snapshots. The CHANGED set is still DERIVED from the data (distinct
# tracks owning a late chunk), never assumed.
_SIM_DELTA_TRACKS = (3, 19, 29, 41)

_SIM_INCR_ORACLE = """
WITH chunks AS (
  SELECT vec_id % 50 AS track, vec_id, embedding FROM embeddings
), changed AS (
  SELECT DISTINCT track FROM chunks
  WHERE vec_id % 11 = 0 AND track IN (3, 19, 29, 41)
), expanded AS (
  SELECT track, t.pos, CAST(embedding[t.pos] AS DOUBLE) AS x
  FROM chunks, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) t
), mean_vec AS (
  SELECT track, pos, avg(x) AS m FROM expanded GROUP BY track, pos
), norms AS (
  SELECT track, sqrt(sum(m * m)) AS nrm FROM mean_vec GROUP BY track
), unit AS (
  SELECT track, pos, m / nrm AS u FROM mean_vec JOIN norms USING (track)
), pairs AS (
  SELECT a.track AS anchor, b.track AS neighbor, round(sum(a.u * b.u), 6) AS score
  FROM unit a JOIN unit b ON a.pos = b.pos AND a.track < b.track
  GROUP BY a.track, b.track
)
SELECT anchor, neighbor, score,
       (anchor NOT IN (SELECT track FROM changed)
        AND neighbor NOT IN (SELECT track FROM changed)) AS carried
FROM pairs
WHERE score >= 0.1
ORDER BY anchor, neighbor
"""


def _pair_dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@query("similarity_incremental_rebuild", oracle=_SIM_INCR_ORACLE)
def similarity_incremental_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the similar-track edge table, with
    incremental ≡ full PROVEN by the oracle — the vector-layer extension
    of catalog_incremental_rebuild's contract (the reference rebuilds
    similar_track from scratch every release,
    precompute_similar_tracks.py; this is the delta cadence it never
    built).

    Delta semantics: a set of tracks receives late-arriving chunks
    between the old and new snapshots (the changed set is DERIVED from
    the data via the same fingerprint-diff idea as delta_detect). The
    incremental path then:
      1. recomputes pooled vectors ONLY for changed tracks over the new
         snapshot (an aggregate over |changed| tracks' chunks, not the
         corpus);
      2. rescores ONLY pairs touching a changed track — an
         n × |changed| broadcast join, never n², because an edge's score
         is a pure function of its two endpoint vectors, so every
         unchanged-unchanged edge is carried verbatim from the stored
         table;
      3. merges: carried edges (both endpoints unchanged) union the
         rescored delta edges, threshold applied to the rounded score.
    Exactness holds BY CONSTRUCTION for threshold edges (unlike top-k
    lists, where an unchanged pair can re-enter a list when a changed
    neighbor drops out — that shape needs the stored (k+1..k') buffer or
    a full rescore of affected anchors). The stored old state is stood
    in by checkpointed in-plan builds, deterministic like the catalog
    twin's carried arm. The DuckDB oracle computes the FULL rebuild over
    the new snapshot plus the same carried flag, so the driver's value
    compare IS the invariant: the delta path must be indistinguishable
    from a from-scratch run. 100 TB shape: step 1 scans only changed
    tracks' chunks; step 2 broadcasts |changed| pooled vectors against
    the pooled table (and would go IVF-probed candidate gen with a
    recall floor if |changed| × n itself became the bottleneck —
    pipelines/similarity.py's recall_candidates contract).
    """
    from tlmc_etl_spark.pipelines.similarity import pooled_unit_mean

    emb = load_table(spark, sf_dir, "embeddings")
    chunks = emb.select(
        (F.col("vec_id") % 50).alias("track"), "vec_id", F.col("embedding").alias("vec")
    )
    late = (F.col("vec_id") % 11 == 0) & F.col("track").isin(*_SIM_DELTA_TRACKS)
    old_chunks = chunks.filter(~late)
    changed = chunks.filter(late).select("track").distinct()

    # ---- stored state stand-ins (production reads these from the gold
    # tables; checkpoints make the "previously materialized" boundary
    # explicit and keep the old-state subtree out of the delta plans)
    old_pooled = pooled_unit_mean(old_chunks).localCheckpoint(eager=True)
    rhs_all = old_pooled.select(
        F.col("track").alias("b_track"), F.col("pooled").alias("b_pooled")
    )
    old_edges = (
        old_pooled.join(F.broadcast(rhs_all), F.col("track") < F.col("b_track"))
        .select(
            F.col("track").alias("anchor"),
            F.col("b_track").alias("neighbor"),
            F.round(_pair_dot("pooled", "b_pooled"), 6).alias("score"),
        )
        .filter(F.col("score") >= SIM_EDGE_TAU)
        .localCheckpoint(eager=True)
    )

    # ---- the incremental path proper
    # 1. pooled vectors recomputed ONLY for changed tracks, new snapshot;
    # checkpointed because it feeds both the merged table and the rescore
    # side (|changed| rows — recompute ONCE is the whole point)
    new_changed_pooled = pooled_unit_mean(
        chunks.join(F.broadcast(changed), "track", "left_semi")
    ).localCheckpoint(eager=True)
    merged_pooled = old_pooled.join(F.broadcast(changed), "track", "left_anti").unionByName(
        new_changed_pooled
    )
    # 2. rescore only pairs touching a changed track: n x |changed|
    rhs_changed = new_changed_pooled.select(
        F.col("track").alias("b_track"), F.col("pooled").alias("b_pooled")
    )
    rescored = (
        merged_pooled.join(F.broadcast(rhs_changed), F.col("track") != F.col("b_track"))
        .select(
            F.least("track", "b_track").alias("anchor"),
            F.greatest("track", "b_track").alias("neighbor"),
            F.round(_pair_dot("pooled", "b_pooled"), 6).alias("score"),
        )
        # changed-changed pairs surface twice with operands swapped; the
        # elementwise product commutes and the fold order is positional,
        # so both copies are bit-identical — keep one
        .dropDuplicates(["anchor", "neighbor"])
        .filter(F.col("score") >= SIM_EDGE_TAU)
        .withColumn("carried", F.lit(False))
    )
    # 3. carry every edge with both endpoints unchanged, verbatim
    carried = (
        old_edges.join(
            F.broadcast(changed.select(F.col("track").alias("anchor"))), "anchor", "left_anti"
        )
        .join(
            F.broadcast(changed.select(F.col("track").alias("neighbor"))), "neighbor", "left_anti"
        )
        .select("anchor", "neighbor", "score")
        .withColumn("carried", F.lit(True))
    )
    return carried.unionByName(rescored).orderBy("anchor", "neighbor")
