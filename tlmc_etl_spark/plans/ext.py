"""Ext query catalog: operators born outside plain SQL — hash-dependent
signatures (MinHash/SimHash/LSH), optimal assignment, late interaction,
trained quantizers. Where the math nevertheless reduces to SQL at oracle
scale (chunk-IDF, chamfer, the two-stage rerank — DuckDB's
list_dot_product covers the vector kernels), the query carries a full
DuckDB oracle; the genuinely inexpressible rest (anything riding
xxhash64 bucketing, trained codebooks, greedy matching, calibrated
gammas) stays rows-only for the driver, with the differential/property
suites in tests/ as the real verification — the same strategy the
reference uses for its GPU kernels (SURVEY.md §5.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tlmc_etl_spark.operators.dedup import MD5_60, minhash_near_dupes, simhash_near_dupes
from tlmc_etl_spark.operators.fuzzy import hungarian_match_join
from tlmc_etl_spark.operators.mirror import lcp_pairing, mirror_dedup
from tlmc_etl_spark.operators.vectors import (
    centroid_topk_pairs,
    chamfer_group_scores,
    lsh_topk,
)
from tlmc_etl_spark.plans.registry import query
from tlmc_etl_spark.sources.tables import load_table, table_row_count


@query("minhash_lsh_prodhash")
def minhash_lsh_prodhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs over documents — the
    production-hash (xxhash64) form of the portable-hash primary
    `minhash_lsh_dedup`, whose SQL replay value-checks the pipeline body
    both forms run (operators/dedup.minhash_near_dupes); this form keeps
    the JVM-native hash and is rows/property-tested.

    Scale path for ngram_jaccard_pairs (which is its exact oracle at small
    J): 64 xxhash64 permutations, 32 bands × 2 rows, estimate ≥ 0.1.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        minhash_near_dupes(docs, "doc_id", "text", n_hashes=64, n_bands=32, threshold=0.1)
        .select("id_a", "id_b", "est_jaccard")
        .orderBy("id_a", "id_b")
    )


@query("simhash_prodhash")
def simhash_prodhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 16 of 64 bits, chunk-banded) —
    production-hash (xxhash64) form of the portable-hash primary
    `simhash_dedup`, over the same operators/dedup.simhash_near_dupes
    body."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dupes(
        docs, "doc_id", "text", bits=64, max_hamming=16
    ).orderBy("id_a", "id_b")


@query(
    "chamfer_group_similarity",
    oracle="""
WITH v AS (
  SELECT label AS g, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), cent AS (
  SELECT g, idx, avg(val) AS m FROM (
    SELECT g, unnest(e) AS val, generate_subscripts(e, 1) AS idx FROM v
  ) GROUP BY g, idx
), cvec AS (SELECT g, list(m ORDER BY idx) AS c FROM cent GROUP BY g),
cpair AS (
  SELECT a.g AS ga, b.g AS gb,
         list_dot_product(a.c, b.c) /
         (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c))) AS c
  FROM cvec a JOIN cvec b ON a.g != b.g
), topk AS (
  SELECT ga, gb FROM (
    SELECT ga, gb, row_number() OVER (PARTITION BY ga ORDER BY c DESC, gb ASC) AS rk
    FROM cpair
  ) WHERE rk <= 16
), cands AS (
  SELECT DISTINCT least(ga, gb) AS group_a, greatest(ga, gb) AS group_b FROM topk
), cos AS (
  SELECT c.group_a, c.group_b, va.vec_id AS ia, vb.vec_id AS ib,
         list_dot_product(va.e, vb.e) /
         (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))) AS s
  FROM cands c
  JOIN v va ON va.g = c.group_a
  JOIN v vb ON vb.g = c.group_b
), d1 AS (
  SELECT group_a, group_b, avg(ms) AS ma FROM (
    SELECT group_a, group_b, ia, max(s) AS ms FROM cos GROUP BY group_a, group_b, ia
  ) GROUP BY group_a, group_b
), d2 AS (
  SELECT group_a, group_b, avg(ms) AS mb FROM (
    SELECT group_a, group_b, ib, max(s) AS ms FROM cos GROUP BY group_a, group_b, ib
  ) GROUP BY group_a, group_b
)
SELECT d1.group_a, d1.group_b, round((ma + mb) / 2.0, 6) AS chamfer
FROM d1 JOIN d2 USING (group_a, group_b)
ORDER BY group_a, group_b
""",
)
def chamfer_group_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric chamfer (mean-of-max cosine) between label groups of
    embeddings — the late-interaction group score
    (rerank.py:47-116, precompute_similar_groups.py:195-235).

    Two-stage: centroid-cosine recall prunes to top-k candidate pairs
    per group, chamfer scores ONLY those (the reference reranks
    candidates, never all pairs). k=16 > the 9 possible neighbors at the
    10-label test scale, so the differential gate still sees every pair
    while the plan carries the n_groups·k shape (no group cross join —
    plan-gated in tests/test_plan_quality.py).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cands = centroid_topk_pairs(emb, "label", "embedding")
    return chamfer_group_scores(emb, "label", "embedding", candidates=cands).orderBy(
        "group_a", "group_b"
    )


_THREE_SCORE_ORACLE = """
WITH members AS (
  SELECT label AS g, vec_id AS o,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT (label + 1) % 10 AS g, vec_id + 1000000 AS o,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id % 5 = 0
), ranked AS (
  SELECT g, v,
         row_number() OVER (PARTITION BY g ORDER BY o) - 1 AS rn,
         count(*) OVER (PARTITION BY g) AS cnt
  FROM members
), picked AS (
  SELECT g, rn, v FROM ranked
  WHERE cnt <= 64 OR list_contains(
    list_transform(range(0, 64),
                   i -> CAST(round(i * (cnt - 1) / 63.0) AS BIGINT)), rn)
), un AS (
  SELECT g, rn,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
  FROM picked
), sims AS (
  SELECT a.g AS ga, b.g AS gb, a.rn AS ra, b.rn AS rb,
         list_dot_product(a.u, b.u) AS s
  FROM un a JOIN un b ON a.g < b.g
), gam AS (
  SELECT 1.0 / greatest(median(1.0 - s), 0.0001) AS g FROM sims
), qmax AS (
  SELECT ga, gb, ra, max(s) AS m,
         coalesce(max(CASE WHEN s < 0.9985 THEN s END), 0.0) AS ms
  FROM sims GROUP BY ga, gb, ra
), dmax AS (
  SELECT ga, gb, rb, max(s) AS m,
         coalesce(max(CASE WHEN s < 0.9985 THEN s END), 0.0) AS ms
  FROM sims GROUP BY ga, gb, rb
), qa AS (
  SELECT ga, gb, avg(m) AS raw_q, avg(ms) AS sty_q FROM qmax GROUP BY ga, gb
), da AS (
  SELECT ga, gb, avg(m) AS raw_d, avg(ms) AS sty_d FROM dmax GROUP BY ga, gb
), cross_k AS (
  SELECT ga, gb, avg(exp(gam.g * (s - 1.0))) AS kab
  FROM sims CROSS JOIN gam GROUP BY ga, gb, gam.g
), self_k AS (
  SELECT a.g AS grp, avg(exp(gam.g * (list_dot_product(a.u, b.u) - 1.0))) AS kk
  FROM un a JOIN un b ON a.g = b.g CROSS JOIN gam
  GROUP BY a.g, gam.g
)
SELECT qa.ga AS group_a, qa.gb AS group_b,
       round((raw_q + raw_d) / 2.0, 6) AS score_raw,
       round((sty_q + sty_d) / 2.0, 6) AS score_style,
       round(kab / sqrt(sa.kk * sb.kk), 6) AS score_kde,
       round((SELECT g FROM gam), 4) AS kde_gamma
FROM qa
JOIN da ON qa.ga = da.ga AND qa.gb = da.gb
JOIN cross_k ck ON qa.ga = ck.ga AND qa.gb = ck.gb
JOIN self_k sa ON sa.grp = qa.ga
JOIN self_k sb ON sb.grp = qa.gb
ORDER BY group_a, group_b
"""


@query("group_three_score_similarity", oracle=_THREE_SCORE_ORACLE)
def group_three_score_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-score group similarity (raw / dup-masked style / KDE kernel
    mean) between label groups — full parity with
    precompute_similar_groups.py:195-235, numpy-differentially gated
    (tests/test_group_similarity.py).

    Duplicate recordings are planted deterministically: every 5th vector is
    copied verbatim into the next label group, so (l, l+1) pairs share
    identical members — score_raw saturates on them while score_style
    masks them out (the re-release demotion the style flavor exists for).

    Oracle-backed since round 9 — no twin needed, the PRODUCTION query is
    SQL-replayable end to end: the linspace member subsample is HALF_UP
    rounding in both engines, every score is max/mean/exp arithmetic over
    the same member pairs, and the γ calibration's hash-ordered
    1024-pair sample provably covers ALL pairs at every graded sf (45
    label pairs), so the oracle's γ is the same exact distributed median
    (both engines interpolate even counts) — the only non-portable
    ingredient, the sample ORDER, never selects at these cardinalities.
    """
    from tlmc_etl_spark.operators.group_similarity import three_score_group_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("label", "vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        ((F.col("label") + 1) % 10).alias("label"),
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "embedding",
    )
    members = base.unionByName(planted)
    # the oracle replays γ as the median over ALL pairs; the operator
    # fails loudly (rather than silently diverging) if label cardinality
    # ever makes the 1024-pair hash-ordered sample actually select
    return three_score_group_similarity(
        members, "label", "embedding", order_col="vec_id"
    ).orderBy("group_a", "group_b")


@query(
    "chunk_idf_weights",
    oracle="""
WITH unitv AS (
  SELECT vec_id, vec_id % 50 AS track,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_dot_product(list_transform(embedding, y -> CAST(y AS DOUBLE)),
                                 list_transform(embedding, y -> CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), bg AS (
  SELECT idx, avg(val) AS m FROM (
    SELECT unnest(u) AS val, generate_subscripts(u, 1) AS idx FROM unitv
  ) GROUP BY idx
), bgv AS (SELECT list(m ORDER BY idx) AS mv FROM bg),
scored AS (
  SELECT vec_id, track, list_dot_product(u, (SELECT mv FROM bgv)) AS generic FROM unitv
), stats AS (
  SELECT vec_id, track, generic,
         avg(generic) OVER (PARTITION BY track) AS mu,
         stddev_pop(generic) OVER (PARTITION BY track) AS sd
  FROM scored
)
SELECT vec_id AS id, track AS "group",
       round(CASE WHEN sd < 1e-6 THEN 1.0
                  ELSE 1.0 / (1.0 + exp((generic - mu) / sd)) END, 6) AS weight
FROM stats ORDER BY id
""",
)
def chunk_idf_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-IDF weights: generic chunks (high mean cosine vs a corpus
    background sample) down-weighted per track via a sigmoid z-score —
    rerank.py:169-197's estimate_chunk_weights as a distributed plan.
    Feeds the weighted chamfer rerank (chamfer_numpy with chunk weights).

    Oracle equivalence: mean-of-cosines against the background equals the
    dot product with the background's MEAN unit vector, so the SQL form
    needs no pairwise join; it holds exactly whenever the corpus fits the
    deterministic background cap (true at every oracle sf — the sample is
    then the whole corpus and hash order is irrelevant)."""
    from tlmc_etl_spark.operators.group_similarity import chunk_idf_weights

    emb = load_table(spark, sf_dir, "embeddings")
    chunks = emb.select("vec_id", (F.col("vec_id") % 50).alias("track"), "embedding")
    return chunk_idf_weights(chunks, "vec_id", "track", "embedding").orderBy("id")


def _lsh_ann_oracle() -> str:
    """SQL replay of lsh_ann_topk. The 4x64 hyperplane matrix is
    seed-fixed and data-INDEPENDENT (make_hyperplanes(64, 4)), so
    its values embed as literals and DuckDB replays the entire
    bucket -> radius-1 probe -> exact-cosine -> top-k pipeline — the
    xengine pattern extended from hashes to the quantizer itself."""
    from tlmc_etl_spark.operators.vectors import make_hyperplanes

    planes = make_hyperplanes(64, 4)
    rows = ",\n    ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in planes[i])}])"
        for i in range(planes.shape[0])
    )
    return f"""
WITH planes(i, p) AS (
  VALUES
    {rows}
), e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), keys AS (
  SELECT vec_id, sum(CASE WHEN d > 0 THEN (1::BIGINT << i) ELSE 0 END) AS bucket
  FROM (SELECT e.vec_id, p.i, list_dot_product(e.v, p.p) AS d
        FROM e CROSS JOIN planes p)
  GROUP BY vec_id
), b AS (
  SELECT e.vec_id, e.v, k.bucket FROM e JOIN keys k USING (vec_id)
), probes AS (
  SELECT vec_id, v,
         unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                 xor(bucket, 4), xor(bucket, 8)]) AS bucket
  FROM b
), pairs AS (
  SELECT a.vec_id AS anchor, c.vec_id AS neighbor,
         round(list_dot_product(a.v, c.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(c.v, c.v))), 6) AS score
  FROM probes a JOIN b c ON a.bucket = c.bucket AND a.vec_id != c.vec_id
), ranked AS (
  SELECT anchor, neighbor, score,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY score DESC, neighbor ASC) AS rank
  FROM pairs
)
SELECT anchor, neighbor, score, rank FROM ranked
WHERE rank <= 10 ORDER BY anchor, rank
"""


@query("lsh_ann_topk", oracle=_lsh_ann_oracle())
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 cosine neighbors via sign-LSH buckets — the
    beyond-memory-budget fallback for cosine_topk
    (SIMILARITY-PLAN.md:52-55 inverted: ANN only when exact doesn't fit).

    Oracle-backed since round 8: the seeded hyperplanes are
    data-independent, so the SQL twin embeds them as literals and
    value-checks the full bucket/probe/score/rank pipeline.

    Regime note: the SQL oracle replays the fixed-plane LSH candidate
    rule, i.e. the sub-ceiling (n <= LSH_TOPK_CORPUS_CEILING) regime the
    driver's oracle sfs run in; past the ceiling lsh_topk serves the
    same contract through the IVF quantizer (recall property-gated, not
    SQL-replayed — see operators/vectors.lsh_topk). The corpus size
    comes from the parquet footer, so that regime decision runs no job."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(f"{sf_dir}/embeddings.parquet")
    return lsh_topk(emb, "vec_id", "embedding", n).orderBy("anchor", "rank")


@query("embedding_near_dup_lsh_lowthr")
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-threshold (0.35) embedding near-dup demo: LSH candidate
    generation → exact cosine ≥ threshold. Same contract as the exact
    `embedding_near_dup` (its small-sf differential oracle) but the pair
    set comes from a Hamming-radius-1 bucket join, so it is fully
    distributed — recall vs exact is property-gated ≥0.95
    (tests/test_ext_operators.py). 0.35 sits BELOW any LSH family's
    separation range (candidates approach all pairs), so this form is a
    recall demo outside the graded suite (bench stress_excluded); the
    design-regime primary is `embedding_near_dup_lsh` (pinned-knob, ≥0.9,
    SQL-replayed) with `embedding_near_dup_lsh_hi` as the auto-sized
    production form."""
    from tlmc_etl_spark.operators.vectors import lsh_near_dup

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_near_dup(
        emb, "vec_id", "embedding", threshold=0.35, n_planes=4, n_tables=6
    ).orderBy("keep_id", "dup_id")


def _plant_near_dups(emb: DataFrame) -> DataFrame:
    """Corpus + a deterministic near-duplicate of every 10th vector.

    The synthetic embeddings carry no genuine near-dups (max pair cosine
    ≈0.51), so the ≥0.8-threshold regime the LSH operator exists for
    would be vacuous on the raw table. Each plant multiplies element i by
    1 + ((i mod 7) - 3)/10 — a fixed ±30% comb, cosine ≈0.98 against its
    source — entirely JVM-side and layout-independent.
    """
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        # +1e9, NOT +10M: the sf1 scale generator encodes ids as
        # copy*10_000_000 + base_id, so a 10M offset collides planted ids
        # with real copy-1 rows (600 duplicate ids at sf1 — engines then
        # diverge structurally on per-id keying). 1e9 clears every
        # graded copy range.
        (F.col("vec_id") + 1_000_000_000).alias("vec_id"),
        "label",
        F.transform(
            "embedding",
            lambda x, i: (x * (1.0 + ((i % 7) - 3.0) / 10.0)).cast("float"),
        ).alias("embedding"),
    )
    return emb.select("vec_id", "label", "embedding").unionByName(planted)


def embedding_near_dup_lsh_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup in its design regime: threshold 0.9, 8 planes.
    Registered (with its generated SQL oracle) in plans/curation2.py.

    The 0.35-threshold sibling demonstrates the production form but sits
    below any LSH family's separation range (its own docstring's
    caveat) — at loose thresholds candidates approach all pairs. At 0.9,
    fine bucket keys make the candidate fraction tiny while radius-1
    probing × OR-amplified tables holds worst-pair (cos=0.9) recall
    ≥95% (planted pairs at ≈0.98 are safer still). BOTH LSH knobs
    auto-size to the corpus: `n_planes=None` →
    ceil(log2(n/LSH_TARGET_BUCKET)) planes keeps expected bucket occupancy —
    and with it the candidate join's cost per row — CONSTANT as the
    corpus grows (the pinned-8-plane form was measured quadratic, 16×
    wall for 4× rows, in the round-5 sf1 run), and `n_tables=None` →
    auto_n_tables() grows the OR depth with the key width so the recall
    target HOLDS instead of decaying (~40% worst-pair at n≈1e9 under a
    pinned L=6 — the round-6 ADVICE item; the n^ρ table cost is paid
    openly).
    Near-dups are planted deterministically (_plant_near_dups) since the
    synthetic table has none; recall vs exact scoring over the same
    corpus is property-gated ≥0.95 (tests/test_ext_operators.py).
    """
    from tlmc_etl_spark.operators.vectors import lsh_near_dup

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_near_dup(
        _plant_near_dups(emb), "vec_id", "embedding", threshold=0.9,
        n_planes=None, n_tables=None,
    ).orderBy("keep_id", "dup_id")


@query("fuzzy_hungarian_fuzztitles")
def fuzzy_hungarian_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-optimal 1:1 fuzzy title match per group (Hungarian),
    fuzzy-score variant: difflib similarity is not SQL-expressible, so
    this form is differential-tested against scipy's
    linear_sum_assignment (tests/test_assignment.py) while the
    `fuzzy_hungarian_match` primary carries the SQL oracle via a
    planted provably-unique optimum.

    Left = parts by size-group; right = the same titles perturbed
    (truncated + case-folded), so scores land below 100 and the 0.8
    acceptance threshold is exercised (song_info_matcher.py:123-208).
    """
    part = load_table(spark, sf_dir, "part")
    left = part.select(
        F.col("p_size").cast("long").alias("grp"),
        F.col("p_partkey").cast("string").alias("pid"),
        F.col("p_name").alias("title"),
    )
    right = part.select(
        F.col("p_size").cast("long").alias("grp"),
        F.concat(F.lit("w_"), F.col("p_partkey")).alias("pid"),
        F.upper(F.expr("substring(p_name, 1, length(p_name) - 2)")).alias("title"),
    )
    return hungarian_match_join(
        left, right, "grp", "pid", "title", "pid", "title", accept_fraction=0.8
    ).orderBy("grp", "left_id")


_HUNGARIAN_ORACLE = """
WITH base AS (
  SELECT CAST(p_partkey % 500 AS BIGINT) AS grp, p_partkey AS pk, p_name AS title,
         regexp_replace(lower(p_name), '[^a-z0-9]', '', 'g') AS mkey
  FROM part
), dedup AS (
  SELECT grp, pk, title FROM (
    SELECT grp, pk, title,
           row_number() OVER (PARTITION BY grp, mkey ORDER BY pk) AS rn
    FROM base
  ) WHERE rn = 1
), rot AS (
  SELECT grp, pk,
         coalesce(lead(pk) OVER (PARTITION BY grp ORDER BY pk),
                  min(pk) OVER (PARTITION BY grp)) AS next_pk
  FROM dedup
), m AS (SELECT grp, count(*) AS n FROM dedup GROUP BY grp)
SELECT r.grp,
       CAST(r.next_pk AS VARCHAR) AS left_id,
       'w_' || r.pk AS right_id,
       CAST(100.0 AS DOUBLE) AS score,
       CAST(round(100.0 * m.n, 4) AS DOUBLE) AS group_total,
       TRUE AS accepted
FROM rot r JOIN m USING (grp)
ORDER BY grp, left_id
"""


@query("fuzzy_hungarian_match", oracle=_HUNGARIAN_ORACLE)
def fuzzy_hungarian_match_oracle_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-optimal 1:1 title match per group (Hungarian), oracle
    form: the right side carries the SAME titles rotated by one position
    within each group (ids shifted), so the optimal assignment must
    RECOVER a non-identity permutation — and because match keys are
    deduplicated within each group, the all-exact-match assignment is
    the provably UNIQUE optimum (every other permutation leaves ≥2
    non-equal pairs, each scoring <100). The oracle derives that unique
    optimum relationally (window rotation), so the driver value-checks
    the assignment machinery end to end without replaying difflib; the
    fuzzy-score production form (`fuzzy_hungarian_fuzztitles`) keeps the
    scipy differential + permutation-optimality gates
    (tests/test_assignment.py). Reference: song_info_matcher.py:123-208.
    """
    part = load_table(spark, sf_dir, "part")
    base = part.select(
        (F.col("p_partkey") % 500).cast("long").alias("grp"),
        F.col("p_partkey").cast("long").alias("pk"),
        F.col("p_name").alias("title"),
        F.regexp_replace(F.lower("p_name"), "[^a-z0-9]", "").alias("mkey"),
    )
    wk = W.partitionBy("grp", "mkey").orderBy("pk")
    dedup = (
        base.withColumn("rn", F.row_number().over(wk)).filter("rn = 1").drop("rn", "mkey")
    )
    wg = W.partitionBy("grp").orderBy("pk")
    first_title = F.min(F.struct("pk", "title")).over(W.partitionBy("grp")).getField("title")
    rotated = dedup.withColumn(
        "rtitle", F.coalesce(F.lead("title").over(wg), first_title)
    )
    left = dedup.select("grp", F.col("pk").cast("string").alias("pid"), "title")
    right = rotated.select(
        "grp",
        F.concat(F.lit("w_"), F.col("pk")).alias("pid"),
        F.col("rtitle").alias("title"),
    )
    return hungarian_match_join(
        left, right, "grp", "pid", "title", "pid", "title", accept_fraction=0.8
    ).orderBy("grp", "left_id")


_MIRROR_ORACLE = """
WITH albums AS (
  SELECT l_orderkey AS album, count(*) AS n
  FROM lineitem WHERE l_orderkey % 20 = 0 GROUP BY l_orderkey
)
SELECT album AS grp, d.dirname, n AS n_tracks, d.is_mirror, d.mirror_of
FROM albums
CROSS JOIN (VALUES ('Bonus', false, CAST(NULL AS VARCHAR)),
                   ('Disc 1', false, CAST(NULL AS VARCHAR)),
                   ('Disc 1 (mp3)', true, 'Disc 1')) AS d(dirname, is_mirror, mirror_of)
"""


@query("mirror_duration_dedup", oracle=_MIRROR_ORACLE)
def mirror_duration_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-multiset mirror dedup: drop directories whose track
    durations greedily match an earlier directory within ±8 s on ≥85% of
    tracks (disc_duration_guard.py:50-57,92-112,137-148).

    Mirrors are synthesized: each order's lineitems appear as 'Disc 1',
    again jittered +0.4 s as 'Disc 1 (mp3)' (a re-encode), and shifted
    +500 s as 'Bonus' (not a mirror).

    Oracle (planted structure, not a greedy replay): durations are
    l_quantity*10 ∈ {10..500}, so 'Bonus' (+500) sits ≥9.6s from every
    other dir's tracks — above the 8s tolerance, never a mirror and never
    a match source; the +0.4s jitter keeps every 'Disc 1 (mp3)' track
    within tolerance of its partner, so the greedy match consumes all n
    tracks (each consumed element is within 0.4 of its consumer, so no
    hole wider than the tolerance can form) and frac=1 ≥ 0.85. Expected
    output is therefore exact per album: Bonus kept, Disc 1 kept,
    Disc 1 (mp3) mirrors Disc 1. The generic greedy (arbitrary multisets)
    stays covered by tests/test_mirror_lcp.py.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    base = li.select(
        F.col("l_orderkey").alias("album"),
        (F.col("l_quantity") * 10).alias("dur"),
    )
    d1 = base.select("album", F.lit("Disc 1").alias("dirname"), "dur")
    d1m = base.select("album", F.lit("Disc 1 (mp3)").alias("dirname"), (F.col("dur") + 0.4).alias("dur"))
    bonus = base.select("album", F.lit("Bonus").alias("dirname"), (F.col("dur") + 500).alias("dur"))
    tracks = d1.unionByName(d1m).unionByName(bonus)
    return mirror_dedup(tracks, "album", "dirname", "dur").orderBy("grp", "dirname")


_LCP_ORACLE = """
WITH o AS (
  SELECT o_custkey AS grp, o_orderkey AS k FROM orders WHERE o_orderkey % 10 = 0
)
SELECT grp,
       'order ' || k || '.cue'  AS left_name,
       'order ' || k || '.flac' AS right_name,
       CAST(length('order ' || k) + 1 AS INTEGER) AS prefix_len
FROM o
"""


@query("lcp_pairing_join", oracle=_LCP_ORACLE)
def lcp_pairing_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-common-prefix 1:1 pairing (cue ↔ audio,
    Shared/utils.py:159-189), grouped per customer.

    Oracle (planted structure, not a greedy replay): for names
    'order N.cue' / 'order N.flac', a same-key pair's LCP is
    len('order N')+1 (through the dot), while any cross-key pair (N, M)
    stops inside the digits — strictly shorter than BOTH members'
    same-key LCPs (if N prefixes M the cross LCP is same-key(N)−1, else
    shorter still). Longest-first greedy with each-side-once therefore
    always yields exactly the same-key pairing, at every scale factor.
    The generic greedy is covered by tests/test_mirror_lcp.py.
    """
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    left = orders.select(
        F.col("o_custkey").alias("grp"),
        F.concat(F.lit("order "), F.col("o_orderkey"), F.lit(".cue")).alias("name"),
    )
    right = orders.select(
        F.col("o_custkey").alias("grp"),
        F.concat(F.lit("order "), F.col("o_orderkey"), F.lit(".flac")).alias("name"),
    )
    return lcp_pairing(left, right, "grp", "name", "name").orderBy("grp", "left_name")


_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "metadata",
)

# The flagship's DuckDB oracle: the §3.1 lifecycle re-derived as pure CTEs
# over the SAME committed fixture parquet the Spark query reads
# (tools/gen_fixtures.py materializes sources/synthetic.generate(42, 24) —
# deterministic, so the files are reproducible). Stage mapping:
# classified = disc_scanner rule cascade; d_* = gap-fill disc numbering
# (info_scanner_ph3's free-slot algorithm, expressed as pool/anti-join/
# row_number — the same rewrite the Spark operator uses); tracks = ph1/ph2
# filename parse + probe coalesce; n_* = per-disc track gap-fill;
# info/mode_artist = ph2 album vote; rel_agg = the release rollup.
_METADATA_RELEASE_ORACLE = rf"""
WITH manifest AS (
  SELECT * FROM read_parquet('{_FIXTURE_DIR}/manifest.parquet')
), probe AS (
  SELECT * FROM read_parquet('{_FIXTURE_DIR}/probe.parquet')
), dirs AS (
  SELECT DISTINCT circle_dir, album_dir, rel_dir FROM manifest
), classified AS (
  SELECT circle_dir, album_dir, rel_dir,
    CASE
      WHEN coalesce(rel_dir,'') = '' THEN 'main'
      WHEN regexp_matches(coalesce(rel_dir,''), '(?i)(stems?|daw|project files?|sessions?)') THEN 'veto'
      WHEN regexp_matches(coalesce(rel_dir,''), '(?i)^(scans?|artwork|booklet|bk|jacket)$') THEN 'asset_dir'
      WHEN regexp_matches(coalesce(rel_dir,''), '(?i)^(?:disc|disk|cd|dvd)[-._ ]*([0-9]+)$') THEN 'disc_index'
      WHEN regexp_matches(coalesce(rel_dir,''), '(?i)(bonus|extra|omake|offvocal|off vocal|instrumental)') THEN 'bonus'
      WHEN regexp_matches(coalesce(rel_dir,''), '^([0-9]{{1,2}})$') THEN 'bare_index'
      ELSE 'unknown' END AS dir_class,
    CASE
      WHEN regexp_matches(coalesce(rel_dir,''), '(?i)^(?:disc|disk|cd|dvd)[-._ ]*([0-9]+)$')
        THEN CAST(regexp_extract(coalesce(rel_dir,''), '(?i)^(?:disc|disk|cd|dvd)[-._ ]*([0-9]+)$', 1) AS INTEGER)
      WHEN regexp_matches(coalesce(rel_dir,''), '^([0-9]{{1,2}})$')
        THEN CAST(regexp_extract(coalesce(rel_dir,''), '^([0-9]{{1,2}})$', 1) AS INTEGER)
      END AS parsed_disc_no
  FROM dirs
), audio_dirs AS (
  SELECT * FROM classified WHERE dir_class IN ('main','disc_index','bare_index','bonus','unknown')
), d_valid AS (
  SELECT circle_dir, album_dir, rel_dir, parsed_disc_no AS disc_number
  FROM audio_dirs WHERE parsed_disc_no IS NOT NULL
), d_invalid AS (
  SELECT circle_dir, album_dir, rel_dir,
         row_number() OVER (PARTITION BY circle_dir, album_dir ORDER BY rel_dir NULLS FIRST) AS need_rank
  FROM audio_dirs WHERE parsed_disc_no IS NULL
), d_bounds AS (
  SELECT circle_dir, album_dir, count(*) AS n_total,
         max(coalesce(parsed_disc_no, 0)) AS max_valid
  FROM audio_dirs GROUP BY 1, 2
), d_pool AS (
  SELECT circle_dir, album_dir, unnest(generate_series(1, max_valid + n_total)) AS cand
  FROM d_bounds
), d_free AS (
  SELECT p.circle_dir, p.album_dir, p.cand,
         row_number() OVER (PARTITION BY p.circle_dir, p.album_dir ORDER BY p.cand) AS need_rank
  FROM d_pool p ANTI JOIN d_valid v
    ON p.circle_dir = v.circle_dir AND p.album_dir = v.album_dir AND p.cand = v.disc_number
), d_filled AS (
  SELECT i.circle_dir, i.album_dir, i.rel_dir, f.cand AS disc_number
  FROM d_invalid i JOIN d_free f
    ON i.circle_dir = f.circle_dir AND i.album_dir = f.album_dir AND i.need_rank = f.need_rank
), discs AS (
  SELECT * FROM d_valid UNION ALL SELECT * FROM d_filled
), d_audit AS (
  SELECT circle_dir, album_dir,
         (min(disc_number) = 1 AND max(disc_number) = count(*)
          AND count(DISTINCT disc_number) = count(*)) AS discs_contiguous
  FROM discs GROUP BY 1, 2
), audio AS (
  SELECT * FROM manifest WHERE lower(ext) IN ('flac','mp3','wav','wv','m4a')
), parsed AS (
  SELECT m.*,
    CASE WHEN regexp_matches(filename, '^\((\d{{2}})\) \[([^\]]+)\] (.+)\.([A-Za-z0-9]+)$')
         THEN CAST(regexp_extract(filename, '^\((\d{{2}})\) \[([^\]]+)\] (.+)\.([A-Za-z0-9]+)$', 1) AS INTEGER) END AS fp_no,
    CASE WHEN regexp_matches(filename, '^\((\d{{2}})\) \[([^\]]+)\] (.+)\.([A-Za-z0-9]+)$')
         THEN regexp_extract(filename, '^\((\d{{2}})\) \[([^\]]+)\] (.+)\.([A-Za-z0-9]+)$', 2) END AS fp_artist,
    CASE WHEN regexp_matches(filename, '^\((\d{{2}})\) \[([^\]]+)\] (.+)\.([A-Za-z0-9]+)$')
         THEN regexp_extract(filename, '^\((\d{{2}})\) \[([^\]]+)\] (.+)\.([A-Za-z0-9]+)$', 3) END AS fp_title
  FROM audio m
), tracks AS (
  SELECT p.path, p.circle_dir, p.album_dir, p.rel_dir, p.filename,
    coalesce(p.fp_no, CAST(nullif(regexp_extract(pr.tags.track, '^(\d+)', 1), '') AS INTEGER)) AS track_no_raw,
    coalesce(p.fp_title, pr.tags.title,
             trim(regexp_replace(regexp_replace(p.filename, '\.[A-Za-z0-9]+$', ''), '\[[^\]]*\]', '', 'g'))) AS title,
    coalesce(p.fp_artist, pr.tags.artist) AS artist,
    pr.duration_s,
    pr.duration_s IS NULL AS probe_missing
  FROM parsed p LEFT JOIN probe pr ON p.path = pr.path
), t_discs AS (
  SELECT t.*, coalesce(d.disc_number, 1) AS disc_number, a.discs_contiguous
  FROM tracks t
  LEFT JOIN discs d ON t.circle_dir = d.circle_dir AND t.album_dir = d.album_dir AND t.rel_dir = d.rel_dir
  LEFT JOIN d_audit a ON t.circle_dir = a.circle_dir AND t.album_dir = a.album_dir AND d.disc_number IS NOT NULL
), n_valid AS (
  SELECT *, track_no_raw AS track_number FROM t_discs
  WHERE track_no_raw IS NOT NULL AND track_no_raw > 0
), n_invalid AS (
  SELECT *, row_number() OVER (PARTITION BY circle_dir, album_dir, disc_number ORDER BY filename) AS need_rank
  FROM t_discs WHERE NOT (track_no_raw IS NOT NULL AND track_no_raw > 0)
), n_bounds AS (
  SELECT circle_dir, album_dir, disc_number, count(*) AS n_total,
         max(CASE WHEN track_no_raw IS NOT NULL AND track_no_raw > 0 THEN track_no_raw ELSE 0 END) AS max_valid
  FROM t_discs GROUP BY 1, 2, 3
), n_pool AS (
  SELECT circle_dir, album_dir, disc_number, unnest(generate_series(1, max_valid + n_total)) AS cand
  FROM n_bounds
), n_free AS (
  SELECT p.circle_dir, p.album_dir, p.disc_number, p.cand,
         row_number() OVER (PARTITION BY p.circle_dir, p.album_dir, p.disc_number ORDER BY p.cand) AS need_rank
  FROM n_pool p ANTI JOIN n_valid v
    ON p.circle_dir = v.circle_dir AND p.album_dir = v.album_dir
   AND p.disc_number = v.disc_number AND p.cand = v.track_number
), n_filled AS (
  SELECT i.* EXCLUDE (need_rank), f.cand AS track_number
  FROM n_invalid i JOIN n_free f
    ON i.circle_dir = f.circle_dir AND i.album_dir = f.album_dir
   AND i.disc_number = f.disc_number AND i.need_rank = f.need_rank
), numbered AS (
  SELECT * FROM n_valid UNION ALL BY NAME SELECT * FROM n_filled
), albums AS (
  SELECT DISTINCT circle_dir, album_dir FROM tracks
), info AS (
  SELECT circle_dir, album_dir,
    CAST(nullif(regexp_extract(album_dir, '^(\d{{4}})\.(\d{{2}}|xx)\.(\d{{2}}|xx)', 1), '') AS INTEGER) AS release_year,
    CAST(nullif(nullif(regexp_extract(album_dir, '^(\d{{4}})\.(\d{{2}}|xx)\.(\d{{2}}|xx)', 2), ''), 'xx') AS INTEGER) AS release_month,
    CAST(nullif(nullif(regexp_extract(album_dir, '^(\d{{4}})\.(\d{{2}}|xx)\.(\d{{2}}|xx)', 3), ''), 'xx') AS INTEGER) AS release_day,
    list_filter(regexp_extract_all(album_dir, '\[([^\]]*)\]', 1), x -> regexp_matches(x, '^[A-Z]+-[0-9]{{2,}}$'))[1] AS catalog_number,
    list_filter(regexp_extract_all(album_dir, '\[([^\]]*)\]', 1), x -> regexp_matches(x, '^(?:C|RTS|M3-)[0-9]{{1,3}}$'))[1] AS convention,
    trim(regexp_replace(regexp_replace(album_dir, '^(\d{{4}})\.(\d{{2}}|xx)\.(\d{{2}}|xx)', ''), '\[[^\]]*\]', '', 'g')) AS album_name
  FROM albums
), artist_counts AS (
  SELECT circle_dir, album_dir, artist, count(*) AS cnt
  FROM tracks WHERE artist IS NOT NULL GROUP BY 1, 2, 3
), mode_artist AS (
  SELECT circle_dir, album_dir, artist AS album_artist
  FROM (SELECT *, row_number() OVER (PARTITION BY circle_dir, album_dir ORDER BY cnt DESC, artist ASC) AS rn
        FROM artist_counts) WHERE rn = 1
), rel_agg AS (
  SELECT circle_dir, album_dir,
         count(DISTINCT disc_number) AS disc_count,
         count(*) AS track_count,
         bool_or(probe_missing) AS any_probe_missing,
         bool_and(coalesce(discs_contiguous, TRUE)) AS discs_ok
  FROM numbered GROUP BY 1, 2
)
SELECT i.circle_dir, i.album_dir, i.album_name,
       i.release_year, i.release_month, i.release_day,
       i.catalog_number, i.convention, m.album_artist,
       r.disc_count, r.track_count,
       concat_ws('|',
         CASE WHEN r.any_probe_missing THEN 'probe_missing' END,
         CASE WHEN NOT r.discs_ok THEN 'discs_not_contiguous' END,
         CASE WHEN i.release_year IS NULL THEN 'no_release_date' END) AS needs_review_reasons
FROM info i
LEFT JOIN mode_artist m ON i.circle_dir = m.circle_dir AND i.album_dir = m.album_dir
JOIN rel_agg r ON i.circle_dir = r.circle_dir AND i.album_dir = r.album_dir
"""

# Incremental-rebuild oracle: the FULL rebuild (identical CTE chain) plus
# the carried flag derived from per-album max mtime — so the driver's
# value compare literally proves incremental ≡ full.
_INCREMENTAL_CUTOFF = 1_700_018_000
_CATALOG_INCREMENTAL_ORACLE = _METADATA_RELEASE_ORACLE.replace(
    """)
SELECT i.circle_dir, i.album_dir, i.album_name,""",
    """), album_mtime AS (
  SELECT circle_dir, album_dir, max(mtime_s) AS max_mtime
  FROM manifest GROUP BY 1, 2
)
SELECT i.circle_dir, i.album_dir, i.album_name,""",
).replace(
    "       concat_ws('|',",
    f"""       am.max_mtime <= {_INCREMENTAL_CUTOFF} AS carried,
       concat_ws('|',""",
).replace(
    """JOIN rel_agg r ON i.circle_dir = r.circle_dir AND i.album_dir = r.album_dir
""",
    """JOIN rel_agg r ON i.circle_dir = r.circle_dir AND i.album_dir = r.album_dir
JOIN album_mtime am ON i.circle_dir = am.circle_dir AND i.album_dir = am.album_dir
""",
)


@query("metadata_catalog_release", oracle=_METADATA_RELEASE_ORACLE)
def metadata_catalog_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full metadata pipeline (SURVEY.md §3.1 lifecycle) end-to-end:
    disc classification → filename/probe parse → album majority vote →
    gap-fill renumber → the gold `release` dimension, VALUE-checked
    against an independent DuckDB CTE re-derivation over the same
    committed fixture parquet (fixtures/metadata/, generated by
    tools/gen_fixtures.py from the deterministic synthetic source).

    The projection exposes every release value column keyed by the
    natural key (circle_dir, album_dir). The xxhash64 surrogate ids are
    deliberately NOT in the oracle-compared projection — the hash is
    engine-native (DuckDB has no xxhash64) and its determinism/stability
    is unit-tested separately; every value the ids are derived FROM is
    compared here. Pipeline invariants (id stability, disc contiguity,
    renumber bijection) are additionally property-tested in
    tests/test_metadata_pipeline.py.

    Reference semantics: info_scanner_ph2.py:296-326 (album vote),
    info_scanner_ph3.py:42-84 (gap-fill), id_assign_and_merge.py:74-118
    (id assembly), disc_scanner.py:40-149 (dir cascade).
    """
    from tlmc_etl_spark.pipelines.metadata import build_catalog

    manifest = spark.read.parquet(os.path.join(_FIXTURE_DIR, "manifest.parquet"))
    probe = spark.read.parquet(os.path.join(_FIXTURE_DIR, "probe.parquet"))
    cat = build_catalog(manifest, probe)
    # Driver canonicalizer hashes scalar cells only — flatten the
    # array<string> review-reason column to a '|'-joined string.
    return cat.release.select(
        "circle_dir",
        "album_dir",
        "album_name",
        "release_year",
        "release_month",
        "release_day",
        "catalog_number",
        "convention",
        "album_artist",
        "disc_count",
        "track_count",
        F.concat_ws("|", F.col("needs_review_reasons")).alias("needs_review_reasons"),
    ).orderBy("circle_dir", "album_dir")


@query("opq_pq_recon_kmeans")
def opq_pq_recon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ lossiness audit with the OPQ-style rotation applied first —
    completing the reference's OPQ64,IVF16384,PQ64x8 pre-transform chain
    (faiss_index_builder.py:10-23). The closed-form rotation (PCA basis,
    eigencomponents dealt round-robin across subspaces) balances variance
    so no codebook is starved; orthogonality, cosine preservation and
    recon-not-worse gates live in tests/test_pq.py."""
    from tlmc_etl_spark.operators.pq import (
        opq_rotation,
        pq_reconstruction,
        pq_train_codebooks,
        rotate_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    R = opq_rotation(emb, "vec_id", "embedding")
    rotated = rotate_vectors(emb, "vec_id", "embedding", R)
    cb = pq_train_codebooks(rotated, "vec_id", "embedding")
    return pq_reconstruction(rotated, "vec_id", "embedding", cb).orderBy("vec_id")


@query("pq_recon_kmeans")
def pq_reconstruction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector PQ lossiness audit: cosine between each unit vector and
    its 8x16 product-quantized decode — the monitored quality number a
    lossy serving index ships with (the reference's index is
    OPQ64,IVF16384,PQ64x8, faiss_index_builder.py:10-23; int8 scalar
    quantization's rmse_steps is the simpler sibling audit). Seeded
    k-means → deterministic rows; quality floors and the ADC-consistency
    identity are differentially gated in tests/test_pq.py."""
    from tlmc_etl_spark.operators.pq import pq_reconstruction, pq_train_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_train_codebooks(emb, "vec_id", "embedding")
    return pq_reconstruction(emb, "vec_id", "embedding", cb).orderBy("vec_id")


@query("pq_adc_topk_kmeans")
def pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 cosine neighbors scored entirely from 8-byte PQ
    codes via ADC lookup tables — the PQ index's serving arithmetic
    (m table reads per pair, candidates never decoded). Exact-rewrite
    identity (ADC == decode-then-dot) and recall floors gated in
    tests/test_pq.py. Value-checked two ways: the portable-hash twin
    `pq_adc_topk` replays training+serving in SQL, and this production
    form's CONVERGED codebooks are embedded as SQL literals at the
    driver sf (plans/ann_kmeans_oracles.py) so DuckDB replays its full
    serving path too."""
    from tlmc_etl_spark.operators.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, "vec_id", "embedding").orderBy(
        "anchor", "rank"
    )


_PQ_ADC_XENGINE_ORACLE = """
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
), anchors AS (
  SELECT vec_id AS aid, u FROM vn WHERE vec_id < 20
), contrib AS (
  SELECT a.aid AS anchor, codes.vec_id AS neighbor,
         list_dot_product(a.u[codes.s * 16 + 1 : (codes.s + 1) * 16], cw.c)
           AS part
  FROM codes
  JOIN cw ON cw.s = codes.s AND cw.ci = codes.ci
  CROSS JOIN anchors a
  WHERE a.aid != codes.vec_id
), scored AS (
  SELECT anchor, neighbor, round(sum(part), 6) AS adc_score
  FROM contrib GROUP BY anchor, neighbor
), ranked AS (
  SELECT anchor, neighbor, adc_score,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY adc_score DESC, neighbor ASC) AS rank
  FROM scored
)
SELECT anchor, neighbor, adc_score, rank FROM ranked
WHERE rank <= 10 ORDER BY anchor, rank
"""


_IVF_PQ_XENGINE_ORACLE = """
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
  LIMIT 16
), coarse AS (
  SELECT ci, u AS c FROM seeds
), subs(s) AS (VALUES (0), (1), (2), (3)),
cw AS (
  SELECT subs.s, seeds.ci, seeds.u[subs.s * 16 + 1 : (subs.s + 1) * 16] AS c
  FROM seeds CROSS JOIN subs WHERE seeds.ci < 8
), sims AS (
  SELECT vn.vec_id, coarse.ci,
         round(list_dot_product(vn.u, coarse.c), 6) AS sim
  FROM vn CROSS JOIN coarse
), cells AS (
  SELECT vec_id, ci,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, ci ASC) AS rk
  FROM sims
), codes AS (
  SELECT vec_id, s, ci FROM (
    SELECT vn.vec_id, cw.s, cw.ci,
           round(list_dot_product(cw.c, cw.c) -
                 2 * list_dot_product(
                       vn.u[cw.s * 16 + 1 : (cw.s + 1) * 16], cw.c), 6) AS d2,
           row_number() OVER (PARTITION BY vn.vec_id, cw.s
                              ORDER BY round(list_dot_product(cw.c, cw.c) -
                                2 * list_dot_product(
                                  vn.u[cw.s * 16 + 1 : (cw.s + 1) * 16],
                                  cw.c), 6) ASC, cw.ci ASC) AS rk
    FROM vn CROSS JOIN cw
  ) WHERE rk = 1
), pairs AS (
  SELECT p.vec_id AS anchor, a.vec_id AS neighbor
  FROM (SELECT vec_id, ci FROM cells WHERE rk <= 4
        AND vec_id < 200) p
  JOIN (SELECT vec_id, ci FROM cells WHERE rk = 1) a USING (ci)
  WHERE p.vec_id != a.vec_id
), contrib AS (
  SELECT pr.anchor, pr.neighbor,
         list_dot_product(
           an.u[codes.s * 16 + 1 : (codes.s + 1) * 16], cw.c) AS part
  FROM pairs pr
  JOIN codes ON codes.vec_id = pr.neighbor
  JOIN cw ON cw.s = codes.s AND cw.ci = codes.ci
  JOIN vn an ON an.vec_id = pr.anchor
), scored AS (
  SELECT anchor, neighbor, round(sum(part), 6) AS adc_score
  FROM contrib GROUP BY anchor, neighbor
), ranked AS (
  SELECT anchor, neighbor, adc_score,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY adc_score DESC, neighbor ASC) AS rank
  FROM scored
)
SELECT anchor, neighbor, adc_score, rank FROM ranked
WHERE rank <= 10 ORDER BY anchor, rank
"""


@query("ivf_pq_topk", oracle=_IVF_PQ_XENGINE_ORACLE)
def ivf_pq_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full index shape (IVF cells + PQ codes + ADC,
    faiss_index_builder.py:10-23), cross-engine oracle form: BOTH
    quantizers are hash-sampled medoids (coarse = 16 seed unit vectors,
    codebooks = the first 8 seeds' sub-vectors) and every ranking works
    on round(·, 6) values with index tie-breaks — DuckDB replays
    quantize -> encode -> probe -> ADC -> rank end-to-end, so the
    driver value-checks the complete serving path of the production
    ivf_pq_topk_kmeans (which keeps its k-means quantizers; since
    round 15 its converged quantizers embed as SQL literals at the
    driver sf — plans/ann_kmeans_oracles.py — so both forms are
    value-checked; the two share the ADC plan shape)."""
    from tlmc_etl_spark.operators.pq import ivf_pq_topk_portable

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk_portable(emb, "vec_id", "embedding").orderBy("anchor", "rank")


@query("pq_adc_topk", oracle=_PQ_ADC_XENGINE_ORACLE)
def pq_adc_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-10, cross-engine oracle form: codebooks are
    hash-sampled medoid sub-vectors (portable md5 order, zero k-means
    iterations), encoding ranks round(|c|^2 - 2 x·c, 6) with index
    tie-break, and the ADC sum rounds once at the end — DuckDB replays
    codebook -> encode -> m-table-read scoring -> rank exactly, so the
    driver value-checks the whole serving path. pq_adc_topk_kmeans
    (the production k-means form) shares the scoring kernel and is
    itself value-checked via generated-literal codebooks
    (plans/ann_kmeans_oracles.py)."""
    from tlmc_etl_spark.operators.pq import pq_adc_topk_portable

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk_portable(emb, "vec_id", "embedding").orderBy("anchor", "rank")


@query("catalog_incremental_rebuild", oracle=_CATALOG_INCREMENTAL_ORACLE)
def catalog_incremental_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental catalog rebuild, with incremental ≡ full PROVEN by the
    oracle: albums whose manifest changed since the cutoff (max mtime)
    are re-run through the full pipeline; unchanged albums carry their
    previous release rows untouched (the SCD-1 carry,
    id_assign_and_merge.py:74-118's production cadence — the reference
    never rebuilds the world). The DuckDB oracle computes the FULL
    rebuild plus the same carried flag, so the driver's value compare is
    the incremental-correctness invariant itself: partitioned recompute
    must be indistinguishable from a from-scratch run (albums are
    independent by construction — classification, votes and gap-fill
    never cross album boundaries — which is exactly what makes the
    incremental cut sound).
    """
    from tlmc_etl_spark.pipelines.metadata import build_catalog

    manifest = spark.read.parquet(os.path.join(_FIXTURE_DIR, "manifest.parquet"))
    probe = spark.read.parquet(os.path.join(_FIXTURE_DIR, "probe.parquet"))
    keys = ["circle_dir", "album_dir"]
    changed = (
        manifest.groupBy(*keys)
        .agg(F.max("mtime_s").alias("mx"))
        .filter(F.col("mx") > _INCREMENTAL_CUTOFF)
        .select(*keys)
    )

    def release_of(m):
        return build_catalog(m, probe).release.select(
            "circle_dir",
            "album_dir",
            "album_name",
            "release_year",
            "release_month",
            "release_day",
            "catalog_number",
            "convention",
            "album_artist",
            "disc_count",
            "track_count",
            F.concat_ws("|", F.col("needs_review_reasons")).alias("needs_review_reasons"),
        )

    # previous state = the build over unchanged albums (in production this
    # is the stored gold table filtered by the delta, not a recompute —
    # the recompute here stands in for the stored rows deterministically)
    carried = release_of(manifest.join(F.broadcast(changed), keys, "left_anti")).withColumn(
        "carried", F.lit(True)
    )
    rebuilt = release_of(manifest.join(F.broadcast(changed), keys, "left_semi")).withColumn(
        "carried", F.lit(False)
    )
    return carried.unionByName(rebuilt).orderBy("circle_dir", "album_dir")


@query("ivf_pq_topk_kmeans")
def ivf_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full serving-index shape: IVF coarse cells prune
    candidates, PQ codes + ADC lookup tables score them — the candidate
    side of the join ships m ints per vector, never the embedding
    (OPQ64,IVF16384,PQ64x8 minus the learned rotation,
    faiss_index_builder.py:10-23). Recall/consistency gated in
    tests/test_pq.py."""
    from tlmc_etl_spark.operators.pq import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(emb, "vec_id", "embedding").orderBy("anchor", "rank")


@query("ivf_ann_topk_kmeans")
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 cosine neighbors (k-means coarse quantizer,
    4-cell probe) — the faiss-IVF shape reduced to Spark-native joins
    (faiss_index_builder.py:10-23). Value-checked two ways: the
    portable-hash primary `ivf_ann_topk` replays quantizer+serving in
    SQL, and this form's CONVERGED k-means centroids embed as SQL
    literals at the driver sf (plans/ann_kmeans_oracles.py)."""
    from tlmc_etl_spark.operators.vectors import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, "vec_id", "embedding", k=10, n_centroids=16, n_probe=4).orderBy(
        "anchor", "rank"
    )


_IVF_XENGINE_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), seeds AS (
  SELECT vec_id, v,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT,
                    vec_id) - 1 AS ci
  FROM e
  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT, vec_id
  LIMIT 16
), cent AS (
  SELECT ci, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS c
  FROM seeds
), sims AS (
  SELECT e.vec_id, cent.ci,
         round(list_dot_product(e.v, cent.c) /
               sqrt(list_dot_product(e.v, e.v)), 6) AS s
  FROM e CROSS JOIN cent
), cells AS (
  SELECT vec_id, ci,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY s DESC, ci ASC) AS rk
  FROM sims
), pairs AS (
  SELECT p.vec_id AS anchor, a.vec_id AS neighbor,
         round(list_dot_product(ea.v, eb.v) /
               (sqrt(list_dot_product(ea.v, ea.v)) *
                sqrt(list_dot_product(eb.v, eb.v))), 6) AS score
  FROM (SELECT vec_id, ci FROM cells WHERE rk <= 4) p
  JOIN (SELECT vec_id, ci FROM cells WHERE rk = 1) a USING (ci)
  JOIN e ea ON ea.vec_id = p.vec_id
  JOIN e eb ON eb.vec_id = a.vec_id
  WHERE p.vec_id != a.vec_id
), ranked AS (
  SELECT anchor, neighbor, score,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY score DESC, neighbor ASC) AS rank
  FROM pairs
)
SELECT anchor, neighbor, score, rank FROM ranked
WHERE rank <= 10 ORDER BY anchor, rank
"""


@query("ivf_ann_topk", oracle=_IVF_XENGINE_ORACLE)
def ivf_ann_topk_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10, cross-engine oracle form: the coarse quantizer is
    hash-sampled medoids (the 16 vectors with smallest portable md5
    hash of their id, zero k-means iterations) and cell ranking is
    round(cosine, 6) with index tie-break — every step SQL-replayable,
    so the driver value-checks the full assign -> probe -> score ->
    rank pipeline. Identical serving plan shape to ivf_ann_topk_kmeans
    (the production k-means form, value-checked via generated-literal
    centroids, plans/ann_kmeans_oracles.py)."""
    from tlmc_etl_spark.operators.vectors import ivf_topk_portable

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_portable(emb, "vec_id", "embedding").orderBy("anchor", "rank")


@query(
    "two_stage_similarity",
    oracle="""
WITH chunks AS (
  SELECT vec_id % 50 AS track, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
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
           round(list_dot_product(a.p, b.p), 6) AS s,
           row_number() OVER (
             PARTITION BY a.track
             ORDER BY round(list_dot_product(a.p, b.p), 6) DESC, b.track ASC
           ) AS rk
    FROM pooled a JOIN pooled b ON a.track != b.track
  ) WHERE rk <= 15
), capped AS (
  -- the rerank's 96-chunk gather cap, replayed exactly (first 96 by
  -- vec_id per track — gather_chunks' order_col contract), so the
  -- oracle stays valid at EVERY sf: at sf1 a track has ~4k chunks and
  -- an uncapped replay scores a different chamfer (round-13 sf1 sweep)
  SELECT track, vec_id, vec FROM (
    SELECT track, vec_id, vec,
           row_number() OVER (PARTITION BY track ORDER BY vec_id) AS rn
    FROM chunks
  ) WHERE rn <= 96
), cos AS (
  SELECT r.anchor, r.neighbor, ca.vec_id AS ia, cb.vec_id AS ib,
         list_dot_product(ca.vec, cb.vec) /
         (sqrt(list_dot_product(ca.vec, ca.vec)) * sqrt(list_dot_product(cb.vec, cb.vec))) AS s
  FROM recall r
  JOIN capped ca ON ca.track = r.anchor
  JOIN capped cb ON cb.track = r.neighbor
), d1 AS (
  SELECT anchor, neighbor, avg(ms) AS ma FROM (
    SELECT anchor, neighbor, ia, max(s) AS ms FROM cos GROUP BY anchor, neighbor, ia
  ) GROUP BY anchor, neighbor
), d2 AS (
  SELECT anchor, neighbor, avg(ms) AS mb FROM (
    SELECT anchor, neighbor, ib, max(s) AS ms FROM cos GROUP BY anchor, neighbor, ib
  ) GROUP BY anchor, neighbor
), scored AS (
  SELECT d1.anchor, d1.neighbor, round((ma + mb) / 2.0, 6) AS score
  FROM d1 JOIN d2 USING (anchor, neighbor)
)
SELECT anchor, neighbor,
       CAST(row_number() OVER (PARTITION BY anchor ORDER BY score DESC, neighbor ASC) AS INT) AS rank,
       score
FROM scored
QUALIFY rank <= 5
ORDER BY anchor, rank
""",
)
def two_stage_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full recall→rerank similarity pipeline (SURVEY.md §3.2):
    pseudo-tracks = vec_id % 50 with member vectors as chunks; pooled
    cosine recall K=15, chamfer rerank to top-5 — differentially tested in
    tests/test_similarity_pipeline.py.

    Oracle equivalence: the 96-chunk gather cap never binds at oracle sf
    (10 chunks per pseudo-track), so the SQL form scores every chunk pair
    of every recall pair directly; recall ties break on the ROUNDED
    cosine exactly as the tiled scorer does."""
    from tlmc_etl_spark.pipelines.similarity import two_stage_similar_tracks

    emb = load_table(spark, sf_dir, "embeddings")
    chunks = emb.select(
        (F.col("vec_id") % 50).alias("track"), "vec_id", F.col("embedding").alias("vec")
    )
    return two_stage_similar_tracks(chunks).orderBy("anchor", "rank")


@query(
    "two_stage_weighted_similarity",
    oracle="""
WITH chunks AS (
  SELECT vec_id % 50 AS track, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), unitv AS (
  SELECT track, vec_id,
         list_transform(vec, x -> x / sqrt(list_dot_product(vec, vec))) AS u
  FROM chunks
), bg AS (
  SELECT idx, avg(val) AS m FROM (
    SELECT unnest(u) AS val, generate_subscripts(u, 1) AS idx FROM unitv
  ) GROUP BY idx
), bgv AS (SELECT list(m ORDER BY idx) AS mv FROM bg),
idf_scored AS (
  SELECT vec_id, track, list_dot_product(u, (SELECT mv FROM bgv)) AS generic FROM unitv
), weights AS (
  SELECT vec_id, round(CASE WHEN sd < 1e-6 THEN 1.0
                            ELSE 1.0 / (1.0 + exp((generic - mu) / sd)) END, 6) AS w
  FROM (
    SELECT vec_id, generic,
           avg(generic) OVER (PARTITION BY track) AS mu,
           stddev_pop(generic) OVER (PARTITION BY track) AS sd
    FROM idf_scored
  )
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
           round(list_dot_product(a.p, b.p), 6) AS s,
           row_number() OVER (
             PARTITION BY a.track
             ORDER BY round(list_dot_product(a.p, b.p), 6) DESC, b.track ASC
           ) AS rk
    FROM pooled a JOIN pooled b ON a.track != b.track
  ) WHERE rk <= 15
), capped AS (
  -- the 96-chunk gather cap replayed exactly (first 96 by vec_id per
  -- track), keeping this oracle valid at every sf — same fix as the
  -- unweighted form's round-13 sf1 hardening
  SELECT track, vec_id, vec FROM (
    SELECT track, vec_id, vec,
           row_number() OVER (PARTITION BY track ORDER BY vec_id) AS rn
    FROM chunks
  ) WHERE rn <= 96
), cos AS (
  SELECT r.anchor, r.neighbor, ca.vec_id AS ia, cb.vec_id AS ib,
         list_dot_product(ca.vec, cb.vec) /
         (sqrt(list_dot_product(ca.vec, ca.vec)) * sqrt(list_dot_product(cb.vec, cb.vec))) AS s
  FROM recall r
  JOIN capped ca ON ca.track = r.anchor
  JOIN capped cb ON cb.track = r.neighbor
), d1 AS (
  SELECT anchor, neighbor, sum(ms * w) / sum(w) AS q_side FROM (
    SELECT anchor, neighbor, ia, max(s) AS ms FROM cos GROUP BY anchor, neighbor, ia
  ) JOIN weights ON ia = weights.vec_id
  GROUP BY anchor, neighbor
), d2 AS (
  SELECT anchor, neighbor, sum(ms * w) / sum(w) AS d_side FROM (
    SELECT anchor, neighbor, ib, max(s) AS ms FROM cos GROUP BY anchor, neighbor, ib
  ) JOIN weights ON ib = weights.vec_id
  GROUP BY anchor, neighbor
), scored AS (
  SELECT d1.anchor, d1.neighbor, round(0.5 * (q_side + d_side), 6) AS score
  FROM d1 JOIN d2 USING (anchor, neighbor)
)
SELECT anchor, neighbor,
       CAST(row_number() OVER (PARTITION BY anchor ORDER BY score DESC, neighbor ASC) AS INT) AS rank,
       score
FROM scored
QUALIFY rank <= 5
ORDER BY anchor, rank
""",
)
def two_stage_weighted_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL rerank form: recall → chunk-IDF weights →
    weighted chamfer (rerank.py:60-90 weighted q/d sides with weights
    from estimate_chunk_weights, rerank.py:169-197). The unweighted
    `two_stage_similarity` is the structural baseline; this composition
    adds the generic-chunk down-weighting end-to-end: background sample
    → per-chunk genericness → sigmoid z-score weights → weight-aligned
    capped gather → weighted rerank. Differentially gated against a
    numpy replay of the identical composition
    (tests/test_similarity_pipeline.py)."""
    from tlmc_etl_spark.operators.group_similarity import chunk_idf_weights
    from tlmc_etl_spark.pipelines.similarity import (
        chamfer_rerank,
        cosine_recall,
        gather_chunks,
        pooled_unit_mean,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    chunks = emb.select(
        (F.col("vec_id") % 50).alias("track"), "vec_id", F.col("embedding").alias("vec")
    )
    weights = chunk_idf_weights(chunks, "vec_id", "track", "vec")
    pooled = pooled_unit_mean(chunks).persist()
    # 50 tracks by construction (track = vec_id % 50); any n ≤ TILE_ROWS
    # yields the same single tile.
    recall = cosine_recall(pooled, 50)
    pooled.unpersist()
    # weights join back by chunk id BEFORE the capped gather
    weighted_chunks = chunks.join(
        weights.select(F.col("id").alias("vec_id"), "weight"), "vec_id"
    )
    wsets = gather_chunks(weighted_chunks, weight_col="weight")
    return chamfer_rerank(recall, wsets).orderBy("anchor", "rank")


_TOKEN_SET_ORACLE = """
WITH pt AS (
  SELECT p_partkey, p_name,
         list_sort(list_distinct(list_filter(
           string_split(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g'), ' '),
           t -> t <> ''))) AS toks
  FROM part
), alt AS (
  SELECT p_partkey AS alt_key,
         (string_split(p_name, ' ')[2] || ' ' || string_split(p_name, ' ')[1]) AS alt_name
  FROM part WHERE p_partkey % 7 = 0
), alt_t AS (
  SELECT alt_key, alt_name,
         list_sort(list_distinct(list_filter(
           string_split(regexp_replace(lower(alt_name), '[^a-z0-9]+', ' ', 'g'), ' '),
           t -> t <> ''))) AS toks
  FROM alt
), hits AS (
  -- score == 100.0 exactly when one token SET contains the other
  -- (difflib on identical sorted-token strings); anything else scores
  -- < 100 and can never out-rank the guaranteed 100 from the source
  -- row, so the winner is simply the smallest subset-related partkey
  SELECT a.alt_key, a.alt_name, p.p_partkey, p.p_name
  FROM alt_t a JOIN pt p
    ON len(list_intersect(a.toks, p.toks)) = least(len(a.toks), len(p.toks))
), ranked AS (
  SELECT alt_key, alt_name, p_partkey, p_name,
         row_number() OVER (PARTITION BY alt_key ORDER BY p_partkey) AS rn
  FROM hits
)
SELECT alt_key AS left_id, alt_name AS left_name,
       p_partkey AS right_id, p_name AS right_name,
       CAST(100.0 AS DOUBLE) AS score
FROM ranked WHERE rn = 1 ORDER BY left_id, right_id
"""


@query("token_set_match", oracle=_TOKEN_SET_ORACLE)
def token_set_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set fuzzy match (fuzz.token_set_ratio > 90 analogue,
    thdb_album_scraper.py:17-21): word-reordered part names matched back to
    the catalog through a token-blocked candidate join — order-insensitive
    similarity finds them at score 100 without a dense cross product.

    Oracle-backed via planted structure: _ratio3 returns exactly 100 iff
    one normalized token set contains the other (the sorted-token strings
    are then byte-identical on the intersection side), and the winner rule
    is best-score-then-lowest-id, so with a guaranteed 100 (the source
    part's tokens are a superset of its two-word reorder) the emitted row
    per left id is the SMALLEST subset-related partkey at score 100.0 —
    a pure set computation DuckDB replays with list ops; sub-100 difflib
    scores can exist but can never win. The generic >90 fuzzy path stays
    covered by tests/test_ext_operators.py."""
    from tlmc_etl_spark.operators.fuzzy import token_set_match_join

    part = load_table(spark, sf_dir, "part")
    # alternate-source spellings: words reversed, a deterministic sample
    alt = part.filter(F.col("p_partkey") % 7 == 0).select(
        F.col("p_partkey").alias("alt_key"),
        F.concat(
            F.split("p_name", " ").getItem(1), F.lit(" "), F.split("p_name", " ").getItem(0)
        ).alias("alt_name"),
    )
    return token_set_match_join(
        alt, part, "alt_key", "alt_name", "p_partkey", "p_name", threshold=90.0
    ).orderBy("left_id", "right_id")


@query(
    "cue_split_plan",
    oracle="""
WITH tracks AS (
  -- TOTAL track order (linenumber, duration): the synthetic lineitem
  -- carries duplicate l_linenumber within an order (surfaced by the
  -- round-13 sf1 sweep), and a tie there let each engine pick its own
  -- track sequence; any residual (linenumber, duration) duplicate is
  -- value-invariant — same title, same prefix sums either way
  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) AS dur_s,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, CAST(l_quantity AS INTEGER)) AS track_number,
         CAST(coalesce(sum(CAST(l_quantity AS INTEGER))
                 OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, CAST(l_quantity AS INTEGER)
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_s
  FROM lineitem WHERE l_orderkey % 50 = 0
)
SELECT l_orderkey, track_number, 'Track ' || l_linenumber AS title,
       round(start_s * 1.0, 6) AS start_seconds
FROM tracks
""",
)
def cue_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cue-sheet round-trip: synthesize a cue document per order (tracks =
    lineitems, durations = quantities), parse it back with the pure-Python
    cue parser (functions/media.py — the CueSharp.cs:203-262 replacement),
    explode to track rows.

    The oracle computes the same rows relationally (window prefix-sum),
    so the parser's TRACK/INDEX/timing arithmetic is value-checked against
    ground truth that never went through the text format. The parse is one
    UDF call per document batched by Arrow — at scale, cue files are tiny
    text blobs riding the manifest table.
    """
    from tlmc_etl_spark.functions.media import cue_tracks_udf

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select("l_orderkey", "l_linenumber", F.col("l_quantity").cast("int").alias("dur_s"))
    )
    # total order (linenumber, duration) — see the oracle comment: the
    # synthetic data duplicates l_linenumber within an order
    w = W.partitionBy("l_orderkey").orderBy("l_linenumber", "dur_s")
    timed = li.withColumn(
        "start_s", F.coalesce(F.sum("dur_s").over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0))
    )
    frames = F.col("start_s") * 75
    block = F.concat(
        F.lit("  TRACK "),
        F.lpad((F.row_number().over(w)).cast("string"), 2, "0"),
        F.lit(" AUDIO\n    TITLE \"Track "),
        F.col("l_linenumber"),
        F.lit("\"\n    INDEX 01 "),
        F.lpad((frames / (75 * 60)).cast("int").cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(((frames / 75) % 60).cast("int").cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((frames % 75).cast("string"), 2, "0"),
    )
    # collect_list order is nondeterministic pre-shuffle → sort blocks first
    docs = timed.withColumn("blk", block).groupBy("l_orderkey").agg(
        F.concat(
            F.lit('FILE "CDImage.flac" WAVE\n'),
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(l_linenumber, blk))), s -> s.blk)"),
                "\n",
            ),
        ).alias("cue")
    )
    parsed = docs.select("l_orderkey", F.explode(cue_tracks_udf()("cue")).alias("t"))
    return parsed.select(
        "l_orderkey",
        F.col("t.track_number").alias("track_number"),
        F.col("t.title").alias("title"),
        F.round(F.col("t.start_seconds"), 6).alias("start_seconds"),
    )


@query(
    "wiki_template_explode",
    oracle="""
WITH o AS (
  SELECT o_orderkey AS page, o_orderkey % 7 AS s1, o_orderkey % 5 + 1 AS n1,
         lpad(CAST(o_orderkey % 15 AS VARCHAR), 3, '0') AS r1,
         o_orderkey % 3 AS s2, 'X' || CAST(o_orderkey % 9 AS VARCHAR) AS r2
  FROM orders WHERE o_orderkey % 40 = 0
)
SELECT page, 'src' || CAST(s1 AS VARCHAR) AS template, CAST(n1 AS INTEGER) AS ordinal,
       r1 AS track_ref, ltrim(r1, '0') AS track_ref_norm
FROM o
UNION ALL
SELECT page, 'src' || CAST(s2 AS VARCHAR) AS template, 2 AS ordinal,
       r2 AS track_ref, ltrim(r2, '0') AS track_ref_norm
FROM o
""",
)
def wiki_template_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wiki `{{template|n|index}}` reference extraction round-trip.

    Synthesizes each page's "original" string from order columns — two
    well-formed template segments, plus (page%4==0) a malformed comma part
    with a stray char (must drop silently, the reference's per-segment
    failure policy) and (page%4==1) an HTML comment part (must yield
    nothing) — then parses it back with the bracket-aware splitter +
    template regex (functions/wikitext.py; original_track_discovery.py:
    32-47, original_track_map.py:43-97) and explodes to reference rows.
    The oracle reconstructs the expected rows relationally from the same
    columns, so the parser is value-checked against ground truth that
    never went through the text format. Index normalization = leading-zero
    trim (original_track_map.py:209-211).
    """
    from tlmc_etl_spark.functions.wikitext import template_refs_pandas_udf

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 40 == 0)
    text = F.concat(
        F.lit("{{src"), (F.col("o_orderkey") % 7).cast("string"),
        F.lit("|"), (F.col("o_orderkey") % 5 + 1).cast("string"),
        F.lit("|"), F.lpad((F.col("o_orderkey") % 15).cast("string"), 3, "0"),
        F.lit("}}{{src"), (F.col("o_orderkey") % 3).cast("string"),
        F.lit("|2|X"), (F.col("o_orderkey") % 9).cast("string"), F.lit("}}"),
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(",bad<part"))
        .when(F.col("o_orderkey") % 4 == 1, F.lit(",<!--note-->"))
        .otherwise(F.lit("")),
    )
    parsed = o.select(
        F.col("o_orderkey").alias("page"), F.explode(template_refs_pandas_udf()(text)).alias("t")
    )
    return parsed.select(
        "page",
        F.col("t.template").alias("template"),
        F.col("t.ordinal").alias("ordinal"),
        F.col("t.track_ref").alias("track_ref"),
        F.regexp_replace(F.col("t.track_ref"), "^0+", "").alias("track_ref_norm"),
    )


@query(
    "lyrics_sections_explode",
    oracle="""
WITH o AS (
  SELECT o_orderkey AS page, CAST(o_orderkey AS VARCHAR) AS k
  FROM orders WHERE o_orderkey % 50 = 0
), plain AS (SELECT page, k FROM o WHERE page % 3 != 0),
tab AS (SELECT page, k FROM o WHERE page % 3 = 0)
SELECT page, CAST(NULL AS VARCHAR) AS section, 0 AS ti_index,
       '00:01.00' AS ts, 'ja' AS lang, 'ja A ' || k AS text FROM plain
UNION ALL
SELECT page, NULL, 0, '00:01.00', 'en', 'en A ' || k FROM plain
UNION ALL
SELECT page, NULL, 1, '00:02.00', 'ja', 'ja B ' || k || chr(10) || 'ja B2 ' || k FROM plain
UNION ALL
SELECT page, NULL, 3, '<line-0>', 'ja', 'ja C ' || k FROM plain
UNION ALL
SELECT page, 'Tab A', 0, '00:01.00', 'ja', 'ja TA ' || k FROM tab
UNION ALL
SELECT page, 'Tab B', 0, '<line-0>', 'ja', 'ja TB ' || k FROM tab
UNION ALL
SELECT page, 'Tab B', 0, '<line-0>', 'en', 'en TB ' || k FROM tab
""",
)
def lyrics_sections_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lyrics page → (section, time-instant, language, text) UDTF.

    Synthesizes a deterministic wiki lyrics page per order — non-tabber
    pages exercise timestamped groups, duplicate-language concatenation,
    sep= markers (an empty group that still consumes an index slot) and
    synthesized `<line-N>` untimed groups; every 3rd page wraps two
    sections in a <tabber> with `|-|` separators and `Title=` headers —
    then parses it back (functions/wikitext.py; lyrics_scraper.py:174-308)
    and explodes. The oracle reconstructs expected rows from the same
    columns without ever seeing the markup.
    """
    from tlmc_etl_spark.functions.wikitext import lyrics_rows_udf

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    k = F.col("o_orderkey").cast("string")
    nl = F.lit("\n")
    plain_page = F.concat(
        F.lit("{{歌词信息|语言=ja}}\nlyrics=\ntime=00:01.00\nja=ja A "), k,
        nl, F.lit("en=en A "), k,
        nl, F.lit("time=00:02.00\nja=ja B "), k,
        nl, F.lit("ja=ja B2 "), k,
        nl, F.lit("sep=03:00.00\nja=ja C "), k,
        nl, F.lit("==\nignored tail"),
    )
    tab_page = F.concat(
        F.lit("<tabber>\nTab A=\nlyrics=\ntime=00:01.00\nja=ja TA "), k,
        nl, F.lit("|-|\nTab B=\nlyrics=\nja=ja TB "), k,
        nl, F.lit("en=en TB "), k,
        nl, F.lit("==\n</tabber>"),
    )
    src = F.when(F.col("o_orderkey") % 3 == 0, tab_page).otherwise(plain_page)
    parsed = o.select(
        F.col("o_orderkey").alias("page"), F.explode(lyrics_rows_udf()(src)).alias("r")
    )
    return parsed.select(
        "page",
        F.col("r.section").alias("section"),
        F.col("r.ti_index").alias("ti_index"),
        F.col("r.ts").alias("ts"),
        F.col("r.lang").alias("lang"),
        F.col("r.text").alias("text"),
    )


_LYRICS_HEAL_ORACLE = """
WITH o AS (
  SELECT o_orderkey AS page, CAST(o_orderkey AS VARCHAR) AS k
  FROM orders WHERE o_orderkey % 45 = 0
)
SELECT page, 0 AS line_no, 'plain ' || k AS raw_text,
       'plain ' || k AS healed_text, 'parsed' AS healed_by,
       FALSE AS need_review
FROM o
UNION ALL
SELECT page, 1, '{{ruby|body ' || k || '|anno}}',
       CASE WHEN page % 2 = 0 THEN 'RUBY body ' || k
            ELSE 'body ' || k || ' anno' END,
       CASE WHEN page % 2 = 0 THEN 'cache' ELSE 'standin' END,
       page % 2 != 0
FROM o
UNION ALL
SELECT page, 2, '{{broken|payload ' || k, 'payload ' || k, 'standin', TRUE
FROM o
ORDER BY page, line_no
"""


@query("lyrics_heal_join", oracle=_LYRICS_HEAL_ORACLE)
def lyrics_heal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's LLM lyric-healing enrichment stage as a table
    contract (lyrics_formatter.py:1-3, Shared/openai_utils.py,
    AdvancedCache.py's hashed-id cache): lines the rule-based template
    parser REFUSES (the real functions/wikitext.template_refs gate — not
    a synthetic flag) become the bronze `unparseable` table, resolve
    through a content-hash enrichment cache (hits carry provenance
    'cache' and never re-heal), and misses run the pluggable healer —
    in-container the deterministic strip-code stand-in, provenance
    'standin' + need_review=true, exactly the reference's
    ENABLE_AI_HEALING=0 fallback. Parseable lines ride around the stage
    with provenance 'parsed'.

    Synthesis: per page, one plain line (parsed), one well-formed-but-
    unknown {{ruby|...}} template (non-numeric ordinal — template_refs
    yields nothing) and one brace-broken template. Every even page's
    ruby template is PRE-SEEDED in the cache with a DIFFERENT healed
    text than the stand-in would produce ('RUBY ...'), so the oracle
    distinguishes cache-hit from recompute: a broken hash join or a
    cache that loses to recompute flips healed_text/healed_by. Cache
    idempotence (second run all-cache, zero new heals) is
    property-tested in tests/test_heal.py.
    """
    from tlmc_etl_spark.functions.wikitext import template_refs_pandas_udf
    from tlmc_etl_spark.operators.dedup import portable_hash60
    from tlmc_etl_spark.operators.heal import heal_enrich

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 45 == 0)
    k = F.col("o_orderkey").cast("string")
    page = F.col("o_orderkey").alias("page")
    lines = (
        o.select(page, F.lit(0).alias("line_no"),
                 F.concat(F.lit("plain "), k).alias("raw_text"))
        .unionByName(o.select(
            page, F.lit(1).alias("line_no"),
            F.concat(F.lit("{{ruby|body "), k, F.lit("|anno}}")).alias("raw_text")))
        .unionByName(o.select(
            page, F.lit(2).alias("line_no"),
            F.concat(F.lit("{{broken|payload "), k).alias("raw_text")))
    )
    # the REAL parser is the gate: a line with template braces that
    # yields no reference rows is unparseable (lyrics_formatter.py's
    # healing trigger)
    refused = (F.instr("raw_text", "{{") > 0) & (
        F.size(template_refs_pandas_udf()(F.col("raw_text"))) == 0
    )
    bronze = lines.filter(refused)
    parsed = lines.filter(~refused).select(
        "page", "line_no", "raw_text",
        F.col("raw_text").alias("healed_text"),
        F.lit("parsed").alias("healed_by"),
        F.lit(False).alias("need_review"),
    )
    # pre-seeded enrichment cache: even pages' ruby template, healed by
    # the (absent) upstream healer to a text the stand-in cannot produce
    seed = o.filter(F.col("o_orderkey") % 2 == 0).select(
        portable_hash60(
            F.concat(F.lit("{{ruby|body "), k, F.lit("|anno}}"))
        ).alias("cache_key"),
        F.concat(F.lit("RUBY body "), k).alias("healed_text"),
    )
    healed, _cache = heal_enrich(bronze, seed)
    return (
        healed.select(
            "page", "line_no", "raw_text", "healed_text", "healed_by", "need_review"
        )
        .unionByName(parsed)
        .orderBy("page", "line_no")
    )


@query("minhash_clusters_prodhash")
def minhash_clusters_prodhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup clustering: MinHash-LSH pairs → connected
    components → representative per cluster.

    The 100 TB counterpart of doc_dedup_clusters (which builds the same
    clusters from exact n-gram Jaccard pairs and carries the recursive-CTE
    oracle): pair generation is LSH-banded instead of an inverted-index
    self-join, the collapse is identical. Its pair stage is the
    minhash_near_dupes body that the minhash_dedup_clusters oracle
    value-checks over the portable hash family; differentially covered by
    the doc_dedup_clusters oracle plus the MinHash estimate gates.
    """
    from tlmc_etl_spark.operators.graph import connected_components
    from tlmc_etl_spark.sources.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    pairs = minhash_near_dupes(
        docs, "doc_id", "text", n_hashes=64, n_bands=32, threshold=0.12
    ).select("id_a", "id_b")
    comp = connected_components(docs, pairs, "doc_id", "id_a", "id_b")
    return comp.select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        (F.col("component") == F.col("doc_id")).alias("is_representative"),
    ).orderBy("doc_id")


@query("lifecycle_shards_prodhash")
def lifecycle_shards_prodhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed §3.1→§3.2 lifecycle as one bench entry: manifest →
    release catalog → review-gate → two-stage similarity → CSV shard sink
    → read-back + hydrated per-shard stats (pipelines/lifecycle.py), with
    the production xxhash64 shard mapping.

    Exists so cross-stage plan regressions are MEASURED, not inferred
    from per-stage benches: the catalog gate rides into the similarity
    DAG as a broadcast semi-join, the sink materializes the ranked table
    exactly once, and the returned stats lineage holds only the CSV scan
    + a broadcast catalog join (plan-gated in tests/test_plan_quality.py
    — recomputing the similarity subtree downstream of the sink is the
    regression this query catches). Reference lifecycle:
    STEPS.md review loop → precompute_similar_tracks.py:244-275 →
    SimilarTrackProcessor.cs:62-67.
    """
    from tlmc_etl_spark.plans.curation2 import lifecycle_shards

    return lifecycle_shards(spark, sf_dir, "lifecycle_shards", portable_shards=False)


_MINHASH_XENGINE_ORACLE = """
WITH ws AS (
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
), est AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_filter(generate_series(1, 16),
                              i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_agree
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.id_a
  JOIN sigs sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, n_agree, n_agree / 16.0 AS est_jaccard
FROM est WHERE n_agree / 16.0 >= 0.25
"""


@query("minhash_lsh_dedup", oracle=_MINHASH_XENGINE_ORACLE)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, cross-engine oracle form.

    The same operators/dedup.minhash_near_dupes body as
    minhash_lsh_prodhash (shingle -> 16 permutation min-hashes -> 4x4
    banding -> candidate equi-join -> agreement estimate), run over the
    MD5_60 hash family DuckDB computes bit-identically (60-bit md5
    prefix), so the ENTIRE pipeline is value-checked by SQL replay; the
    production xxhash64 form differs only in the hash family it passes.
    est_jaccard = n_agree/16 is a dyadic rational with at most 4
    decimals: exact in both engines, so its 4dp rounding changes nothing.
    """
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dupes(
        docs, "doc_id", "text", n_hashes=16, n_bands=4, threshold=0.25, hashes=MD5_60
    ).orderBy("id_a", "id_b")


_SIMHASH_XENGINE_ORACLE = """
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), wh AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
  FROM w WHERE w <> ''
), bits AS (
  SELECT doc_id, b.i,
         sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM wh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) b
  GROUP BY doc_id, b.i
), fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS f
  FROM bits GROUP BY doc_id
), chunks AS (
  SELECT doc_id, f, c.c AS c, (f >> (c.c * 8)) & 255 AS cv
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) c
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.f AS fa, b.f AS fb
  FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 4
"""


@query("simhash_dedup", oracle=_SIMHASH_XENGINE_ORACLE)
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, cross-engine oracle form (32-bit
    fingerprint, 4x8-bit pigeonhole chunks, hamming <= 4).

    The same operators/dedup.simhash_near_dupes body as simhash_prodhash
    (tf-weighted bit vote, chunk-banded candidates kept from their first
    matching chunk) over the MD5_60 hash family, so DuckDB replays
    fingerprint -> chunk-band -> hamming exactly (its DISTINCT yields the
    same candidate set as the first-match filter) and the driver
    value-checks the whole operator; the production 64-bit xxhash64 form
    (simhash_prodhash) stays rows-only.
    """
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dupes(
        docs, "doc_id", "text", bits=32, max_hamming=4, hashes=MD5_60
    ).orderBy("id_a", "id_b")
