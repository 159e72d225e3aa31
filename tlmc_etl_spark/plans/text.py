"""Text-analysis / dedup query catalog over the `documents` table.

These are the training-data-pipeline operators (exact dedup, n-gram Jaccard
near-dup, token counting, quality scoring, fingerprinting, language
heuristics) expressed as pure Spark column algebra wherever the semantics
allow — regex work stays JVM-side (codegen'd), no Python in the hot path.
MinHash/SimHash (hash-function-dependent, not oracle-expressible) live in
operators/dedup.py and register as ext queries in plans/ext.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tlmc_etl_spark.plans.registry import query
from tlmc_etl_spark.tuning import fanout
from tlmc_etl_spark.sources.tables import load_table


@query(
    "doc_exact_dedup",
    oracle="""
WITH hashed AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents
), winners AS (
  SELECT content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
  FROM hashed GROUP BY content_hash
)
SELECT h.doc_id, h.content_hash, w.keep_id, (h.doc_id != w.keep_id) AS is_duplicate
FROM hashed h JOIN winners w USING (content_hash)
""",
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash; winner = min id per hash group.

    Reference analogue: xxh128 content identity for cross-release dedup
    (unextracted_snapshot.py:53); duplicate-id skip (CircleMetadataProcessor
    .cs:20-90). Hash-groupBy: one shuffle on the 16-byte hash, winner via
    min — the canonical exact-dedup plan for a 100 TB corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", F.md5("text").alias("content_hash"))
    winners = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return hashed.join(winners, "content_hash").select(
        "doc_id", "content_hash", "keep_id", (F.col("doc_id") != F.col("keep_id")).alias("is_duplicate")
    )


@query(
    "doc_token_stats",
    oracle="""
SELECT doc_id,
       n_chars,
       len(regexp_extract_all(text, '[a-z0-9]+'))           AS n_words,
       len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS n_tokens,
       round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / greatest(len(regexp_extract_all(text, '[a-z0-9]+')), 1), 4) AS avg_word_len
FROM documents
""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish regex tokens.

    The regexes run JVM-side (`regexp_count`), vectorized by codegen — the
    pattern a tokenizer-throughput pass over 100 TB of text needs.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.regexp_count("text", F.lit("[a-z0-9]+"))
    n_tokens = F.regexp_count("text", F.lit("[a-z0-9]+|[^a-z0-9 ]"))
    return docs.select(
        "doc_id",
        "n_chars",
        n_words.alias("n_words"),
        n_tokens.alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double") / F.greatest(n_words, F.lit(1)), 4
        ).alias("avg_word_len"),
    )


@query(
    "doc_quality_score",
    oracle="""
WITH m AS (
  SELECT doc_id, lang, n_chars,
         len(regexp_extract_all(text, '[a-z0-9]+')) AS n_words,
         len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b')) AS n_stop
  FROM documents
)
SELECT doc_id, lang, n_words,
       round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 4) AS stopword_ratio,
       round(least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.5
             + least(CAST(n_stop AS DOUBLE) / greatest(n_words, 1) * 10.0, 1.0) * 0.5, 4)
         AS quality_score,
       (n_words >= 20 AND n_stop > 0) AS passes_filter
FROM m
""",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length + stopword-ratio heuristics.

    The reference's measured-heuristic pattern (classifier constants carry
    their evaluation, disc_scanner.py:40-53) applied to corpus filtering:
    score ∈ [0,1] from length saturation and stopword density, plus a hard
    pass/fail gate — the C4/Gopher-style quality-filter shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.regexp_count("text", F.lit("[a-z0-9]+"))
    n_stop = F.regexp_count("text", F.lit(r"\b(the|a|of|and|to|in|is)\b"))
    m = docs.select("doc_id", "lang", "n_chars", n_words.alias("n_words"), n_stop.alias("n_stop"))
    stop_ratio = F.col("n_stop").cast("double") / F.greatest(F.col("n_words"), F.lit(1))
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(
            F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0)) * 0.5
            + F.least(stop_ratio * 10.0, F.lit(1.0)) * 0.5,
            4,
        ).alias("quality_score"),
        ((F.col("n_words") >= 20) & (F.col("n_stop") > 0)).alias("passes_filter"),
    )


@query(
    "doc_fingerprint",
    oracle="""
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
       CAST(floor(n_chars / 100) AS INTEGER) AS len_bucket
FROM documents
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized document fingerprint (whitespace-collapsed md5) + bucket.

    Reference analogue: content-hash identity + cache keys
    (unextracted_snapshot.py:47-60, AdvancedCache.py:13-14). Normalization
    before hashing is what makes it a *document* fingerprint rather than a
    byte fingerprint.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("fingerprint"),
        F.floor(F.col("n_chars") / 100).cast("int").alias("len_bucket"),
    )


@query(
    "doc_lang_heuristic",
    oracle="""
WITH m AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(text, '\\b(the|of|and|is|a)\\b'))   AS en_hits,
         len(regexp_extract_all(text, '[a-z0-9]+'))                 AS n_words
  FROM documents
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN CAST(en_hits AS DOUBLE) / greatest(n_words, 1) >= 0.05
            THEN 'en' ELSE 'other' END AS predicted_lang,
       round(CAST(en_hits AS DOUBLE) / greatest(n_words, 1), 4) AS en_density
FROM m
""",
)
def doc_lang_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: function-word density → predicted language.

    An n-gram/stopword language detector expressed as pure regex counts.
    (The synthetic corpus is English word-soup under every label, so the
    interesting output is the density feature, not label recovery — the
    plumbing is what a real fasttext-style UDF would slot into.)
    """
    docs = load_table(spark, sf_dir, "documents")
    en_hits = F.regexp_count("text", F.lit(r"\b(the|of|and|is|a)\b"))
    n_words = F.regexp_count("text", F.lit("[a-z0-9]+"))
    m = docs.select("doc_id", "lang", en_hits.alias("en_hits"), n_words.alias("n_words"))
    density = F.col("en_hits").cast("double") / F.greatest(F.col("n_words"), F.lit(1))
    return m.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(density >= 0.05, "en").otherwise("other").alias("predicted_lang"),
        F.round(density, 4).alias("en_density"),
    )


@query(
    "ngram_jaccard_pairs",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i + 1])) AS s
    FROM words WHERE len(ws) >= 2
  )
), sizes AS (
  SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, i.n_common,
       round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.12
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard near-duplicate pairs (exact, inverted-index join).

    The exact counterpart of MinHash dedup: shingle → inverted index →
    pair-count → Jaccard ≥ threshold. The join is on the shingle value, so
    cost scales with shingle document-frequency, not |docs|² — the same
    reason LSH banding works. At 100 TB you'd cap df (drop shingles in >X%
    of docs) and move to MinHash (operators/dedup.py); this exact variant is
    the oracle-checkable baseline.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(F.size("ws") >= 2)
    # The shingle table feeds three consumers (both self-join sides and the
    # per-doc sizes); persist so the explode+distinct shuffle runs once.
    # persist over localCheckpoint: a checkpoint runs the subtree as its
    # own job, which measured 2-3x slower on tiny-shuffle pipelines
    # (operators/dedup.py); cache blocks are LRU-evictable so a long
    # session degrades gracefully. No fanout before the persist — the
    # self-join is JVM bytes-proportional work, AQE's byte-based layout is
    # already scale-correct, and the extra exchange measured slower at
    # sf0.1 (round-4 same-session A/B, fanout on vs off, interleaved).
    bigrams = ws.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")
        ).alias("s"),
    ).distinct().persist()
    sizes = bigrams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = bigrams.alias("a")
    b = bigrams.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jacc = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # No broadcast hint on the sizes joins: sizes is one row PER DOCUMENT
    # (corpus-proportional — the hinted broadcast was an executor/driver
    # OOM shape at corpus scale). AQE's runtime join selection broadcasts
    # it whenever the actual built size fits (it does at every tested sf,
    # so the executed plan keeps the same BroadcastHashJoins), and falls
    # back to a shuffled join when the corpus outgrows the threshold.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jacc >= 0.12)
        .select("doc_a", "doc_b", "n_common", F.round(jacc, 4).alias("jaccard"))
    )


# Absolute ceiling on the shingle document-frequency cap: the inverted-
# index self-join emits ≤ cap² candidate rows per surviving shingle, so
# the ceiling — NOT the relative 1% rule — is what bounds join cost as
# the corpus grows (the 1% rule alone makes cap² grow quadratically in
# corpus size; measured 84× wall for 10× rows before the ceiling).
# 50 = the relative cap's value at sf0.1, so tested results are
# unchanged; at any larger corpus the ceiling governs.
DF_CAP_CEILING = 50


@query(
    "ngram_jaccard_capped",
    oracle="""
WITH shingles AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i + 1])) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE len(ws) >= 2
  )
), n_docs AS (
  SELECT count(DISTINCT doc_id) AS nd FROM shingles
), cold AS (
  SELECT sh.doc_id, sh.s
  FROM shingles sh
  JOIN (SELECT s, count(*) AS df FROM shingles GROUP BY s) d ON sh.s = d.s
  CROSS JOIN n_docs
  WHERE d.df <= least(greatest(5, CAST(floor(0.01 * nd) AS BIGINT)), 50)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM cold GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, i.n_common,
       round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.12
""",
)
def ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram Jaccard with a document-frequency cap on the shingle
    vocabulary — the reference-scale guard the plain exact variant only
    documents.

    A stop-phrase shingle present in a large fraction of the corpus makes
    the inverted-index self-join quadratic in that df (one hot key =
    df² candidate rows). The guard drops shingles with df >
    min(max(5, 1% of docs), DF_CAP_CEILING) from the VOCABULARY, so both
    intersection and set sizes are computed over the capped vocabulary —
    a well-defined semantic the SQL oracle replicates exactly, and the
    standard stop-shingle treatment for near-dup mining. Join cost is
    then bounded by Σ min(df, cap)² instead of Σ df².

    The cap has an ABSOLUTE ceiling, not just a relative (1%) rule: a
    relative cap grows with the corpus, so the per-shingle join cost
    cap² grows quadratically in corpus size — the round-5 sf1 scaling
    run measured exactly that (1% of 50k docs = df 500 → an 84×
    wall-clock for 10× rows). With the ceiling, per-shingle cost is a
    constant ≤ 50² candidate rows and total pair-generation cost is
    linear in the number of surviving shingle occurrences — the bound a
    100 TB corpus actually needs. At and below sf0.1 the ceiling equals
    the relative cap, so tested results are unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(F.size("ws") >= 2)
    shingles = ws.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(ws) - 1), i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")
        ).alias("s"),
    ).distinct().persist()
    n_docs = shingles.select(F.countDistinct("doc_id").alias("nd"))
    df_tbl = shingles.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    cap = F.least(
        F.greatest(F.lit(5), F.floor(0.01 * F.col("nd")).cast("bigint")),
        F.lit(DF_CAP_CEILING),
    )
    cold = (
        shingles.join(df_tbl, "s")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= cap)
        .select("doc_id", "s")
    )
    cold = cold.persist()
    sizes = cold.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # pair generation from CAPPED posting lists, not a self-join: fold
    # each surviving shingle's doc list (≤ cap ≤ DF_CAP_CEILING entries
    # by construction, so the collect_list is bounded and the combo
    # expansion is ≤ cap²/2 rows, all row-local) and count pairs in one
    # hash agg — the sort-merge self-join materialized the same df²
    # candidate rows through the join machinery plus an extra sort
    cold_by_s = cold.groupBy("s").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    combos = F.explode(
        F.expr(
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds) - i - 1), "
            "y -> struct(x AS doc_a, y AS doc_b))))"
        )
    )
    inter = (
        cold_by_s.select(combos.alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jacc = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # Unhinted sizes joins for the same reason as ngram_jaccard_pairs:
    # sizes is per-document, so a forced broadcast grows with the corpus;
    # AQE still broadcasts it at runtime wherever it actually fits.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jacc >= 0.12)
        .select("doc_a", "doc_b", "n_common", F.round(jacc, 4).alias("jaccard"))
    )


@query(
    "source_dedup_rollup",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique,
       count(*) - count(DISTINCT md5(text)) AS n_dupes,
       round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
FROM documents
GROUP BY source
""",
)
def source_dedup_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus statistics with exact-distinct dedup counts.

    The partial→final aggregation pattern (hls_runner.py:152-166 globbed
    shard journals) as one declarative agg; count(distinct hash) is the
    corpus-health metric a crawl pipeline tracks per source.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dupes"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )


@query(
    "doc_repetition_ratio",
    oracle="""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1]) AS bg
  FROM ws WHERE len(w) >= 2
)
SELECT doc_id,
       len(bg) AS n_bigrams,
       len(list_distinct(bg)) AS n_distinct,
       round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4) AS repetition
FROM grams
ORDER BY doc_id
""",
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-bigram fraction per document — the within-document
    repetition signal training-data quality filters threshold on (the
    Gopher/RefinedWeb "repetition" family; boilerplate and looping
    generations score high).

    Pure per-row column algebra: the bigram list, its distinct form, and
    the ratio all evaluate inside one codegen'd projection — no explode, no
    shuffle, so the operator scans a 100 TB corpus at parquet-read speed
    with full predicate/column pruning upstream.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Project the split ONCE: higher-order lambdas get no subexpression
    # elimination, so split(text) inlined in the transform body would
    # re-tokenize per element — O(words²) per row.
    words = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= 2
    )
    bg = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
    )
    grams = words.select("doc_id", bg.alias("bg"))
    return grams.select(
        "doc_id",
        F.size("bg").alias("n_bigrams"),
        F.size(F.array_distinct("bg")).alias("n_distinct"),
        F.round(
            1.0 - F.size(F.array_distinct("bg")).cast("double") / F.size("bg"), 4
        ).alias("repetition"),
    ).orderBy("doc_id")


_DEDUP_CLUSTERS_ORACLE = """
WITH RECURSIVE words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i + 1])) AS s
    FROM words WHERE len(ws) >= 2
  )
), n_docs AS (
  SELECT count(DISTINCT doc_id) AS nd FROM shingles
), cold AS (
  SELECT sh.doc_id, sh.s
  FROM shingles sh
  JOIN (SELECT s, count(*) AS df FROM shingles GROUP BY s) d ON sh.s = d.s
  CROSS JOIN n_docs
  WHERE d.df <= least(greatest(5, CAST(floor(0.01 * nd) AS BIGINT)), 50)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM cold GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.12
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
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


@query("doc_dedup_clusters", oracle=_DEDUP_CLUSTERS_ORACLE)
def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: Jaccard-pair graph → connected components →
    one representative (min doc_id) per cluster — the collapse step that
    turns pairwise near-dup evidence into a keep/drop decision for a
    training corpus.

    Pairs come from the DF-CAPPED vocabulary (ngram_jaccard_capped): a
    production clustering never mines pairs through stop-phrase shingles
    whose df makes the inverted-index join quadratic (at sf0.1 the hot
    shingles account for 73.2M of 73.2M join rows — the cap removes
    essentially all of it). The uncapped exact pair query stays registered
    and oracle-checked separately. Components run as iterative min-label
    propagation with path halving (operators/graph.py); the oracle
    computes the same capped pairs + closure with a recursive CTE, so
    cluster assignment is value-checked end to end.
    """
    from tlmc_etl_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_capped(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(docs, pairs, "doc_id", "doc_a", "doc_b")
    return comp.select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        (F.col("component") == F.col("doc_id")).alias("is_representative"),
    ).orderBy("doc_id")


@query(
    "doc_dedup_clusters_distributed",
    oracle=_DEDUP_CLUSTERS_ORACLE,
)
def doc_dedup_clusters_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_dedup_clusters with `driver_edge_cap=0`: the 100 TB code path
    (the distributed log-diameter min-label loop) forced on, regardless
    of edge count. Registered as its own headline query so the
    distributed loop has a measured wall AND a value-parity check every
    round — the same oracle as doc_dedup_clusters pins both paths to
    identical labels (min node id per component), turning the
    driver-vs-distributed property test into a standing cross-engine
    check. At small sf this deliberately pays the per-round scheduler
    floor the adaptive cutover exists to avoid; the bench delta between
    the two keys IS that floor, measured.
    """
    from tlmc_etl_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_capped(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(
        docs, pairs, "doc_id", "doc_a", "doc_b", driver_edge_cap=0
    )
    return comp.select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        (F.col("component") == F.col("doc_id")).alias("is_representative"),
    ).orderBy("doc_id")


@query(
    "doc_redact_pii",
    oracle=r"""
WITH enriched AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0
              THEN text || ' contact user' || doc_id || '@example.com via https://example.org/doc/' || doc_id
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
       len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls,
       regexp_replace(
         regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
         'https?://[^ ]+', '<URL>', 'g') AS redacted
FROM enriched
ORDER BY doc_id
""",
)
def doc_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails/URLs per document — the
    corpus-prep step every training-data pipeline runs before anything else
    touches the text.

    Patterns are pinned to the regex subset Java and RE2-family engines
    interpret identically, so the redaction is oracle-checkable; the
    deterministic enrichment (every 11th doc gains one email + one URL)
    gives the operator real matches to scrub in the synthetic corpus. Pure
    codegen'd regexp_replace/regexp_count — one scan, no shuffle, full
    pushdown upstream.
    """
    docs = load_table(spark, sf_dir, "documents")
    email = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    url = r"https?://[^ ]+"
    enriched = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com via https://example.org/doc/"),
                F.col("doc_id"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return enriched.select(
        "doc_id",
        F.regexp_count("text", F.lit(email)).alias("n_emails"),
        F.regexp_count("text", F.lit(url)).alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), url, "<URL>"
        ).alias("redacted"),
    ).orderBy("doc_id")


@query(
    "doc_chunking",
    oracle="""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 5 = 0
), spans AS (
  SELECT doc_id, w, len(w) AS n,
         unnest(generate_series(0, CAST(ceil(greatest(0, len(w) - 64) / 48.0) AS BIGINT))) AS i
  FROM ws
)
SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       CAST(least(64, n - i * 48) AS INTEGER) AS n_words,
       array_to_string(w[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
FROM spans
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: 64-word windows, stride 48
    (16-word overlap), with ordinals — the context-window packing step a
    pretraining pipeline runs between cleaning and tokenization.

    Chunk count is 1 + ceil(max(0, n-64)/48) so every word is covered and
    the last window may be short. Pure JVM array algebra: split once,
    posexplode a sequence of window ordinals, slice per ordinal — no UDF,
    no shuffle (the explode is row-local), full predicate pushdown
    upstream. At 100 TB this is the canonical map-only stage.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    ws = docs.select("doc_id", F.split("text", " ").alias("w")).withColumn(
        "n", F.size("w")
    )
    spans = ws.select(
        "doc_id",
        "w",
        "n",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.greatest(F.lit(0), F.col("n") - 64) / F.lit(48.0)).cast("bigint"),
            )
        ).alias("i"),
    )
    return spans.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        F.least(F.lit(64), F.col("n") - F.col("i") * 48).cast("int").alias("n_words"),
        F.array_join(F.slice("w", F.col("i") * 48 + 1, 64), " ").alias("chunk_text"),
    )


@query(
    "corpus_mix_sample",
    oracle="""
WITH rated AS (
  SELECT doc_id, source, n_chars,
         CASE source WHEN 'web' THEN 0.25 WHEN 'news' THEN 0.6
                     WHEN 'books' THEN 0.9 ELSE 0.45 END AS rate,
         ((doc_id * 2654435761) % 4294967296) / 4294967296.0 AS u
  FROM documents
)
SELECT doc_id, source, n_chars, round(rate, 2) AS rate
FROM rated WHERE u < rate
""",
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture sampling — the data-mixing step
    that reweights corpus sources (web down-sampled, books up-weighted)
    before training.

    The keep decision is a multiplicative hash of the doc id mapped to
    [0,1) against the source's rate: reproducible across runs, engines
    and partitionings (no RNG state), trivially map-only, and exactly
    SQL-expressible — the same portable-hash convention as
    hash_shard_assign. At 100 TB: one scan, no shuffle, rates broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source") == "web", 0.25)
        .when(F.col("source") == "news", 0.6)
        .when(F.col("source") == "books", 0.9)
        .otherwise(0.45)
    )
    u = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(4294967296.0)
    return (
        docs.select("doc_id", "source", "n_chars", rate.alias("rate"), u.alias("u"))
        .filter(F.col("u") < F.col("rate"))
        .select("doc_id", "source", "n_chars", F.round("rate", 2).alias("rate"))
    )


@query(
    "benchmark_contamination",
    oracle="""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 4),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
    FROM ws WHERE len(w) >= 5
  )
), bench AS (SELECT doc_id AS bench_id, g FROM grams
             WHERE doc_id % 31 = 0 AND doc_id < 20000),
corpus AS (SELECT doc_id, g FROM grams
           WHERE NOT (doc_id % 31 = 0 AND doc_id < 20000))
SELECT c.doc_id, b.bench_id, count(*) AS n_shared
FROM corpus c JOIN bench b ON c.g = b.g
GROUP BY c.doc_id, b.bench_id
HAVING count(*) >= 3
""",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥3 distinct
    5-gram spans with a held-out benchmark set — the overlap check run
    before any training corpus ships.

    The benchmark stand-in is FIXED-SIZE: ``doc_id % 31 = 0 AND doc_id <
    20000`` (162 docs at sf0.1 and the same 162 at sf1's key-shifted
    replication). Production benchmarks are constants — MMLU/GSM8K don't
    grow with the training corpus — so the stand-in mustn't either. The
    previous every-31st-doc form made the broadcast side grow linearly
    with the corpus (13.3× wall for 10× rows at sf1; OOM at 100×).

    Plan shape: grams live as 8-byte rolling hashes over per-word hashes
    (no gram string is ever materialized — the word_bigram_hashes trick at
    width 5), per-document dedup happens ROW-LOCALLY via array_distinct
    (distinctness is per (doc, gram), so a global distinct shuffle would
    be pure waste), and the now-constant-size benchmark side broadcasts.
    The corpus side therefore never shuffles at all; the only exchange is
    the final (doc, bench) pair count over actual matches. Hashed-gram
    overlap is the standard decontamination form at corpus scale
    (collisions are ~2^-64 per pair); the oracle's exact string form
    agrees at any tested sf.
    """
    docs = load_table(spark, sf_dir, "documents")
    gram = (
        "array_distinct(transform(sequence(1, size(hs) - 4),"
        " i -> xxhash64(element_at(hs, i), element_at(hs, i+1), element_at(hs, i+2),"
        " element_at(hs, i+3), element_at(hs, i+4))))"
    )
    grams = (
        docs.select(
            "doc_id",
            F.expr("transform(split(text, ' '), w -> xxhash64(w))").alias("hs"),
        )
        .filter(F.size("hs") >= 5)
        .select("doc_id", F.explode(F.expr(gram)).alias("gh"))
    )
    is_bench = (F.col("doc_id") % 31 == 0) & (F.col("doc_id") < 20000)
    bench = grams.filter(is_bench).select(F.col("doc_id").alias("bench_id"), "gh")
    corpus = grams.filter(~is_bench)
    return (
        corpus.join(F.broadcast(bench), "gh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


_PACKING_ORACLE = """
WITH RECURSIVE sized AS (
  SELECT doc_id, doc_id % 16 AS shard,
         len(string_split(text, ' ')) AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rn
  FROM documents
), packed AS (
  SELECT shard, rn, doc_id, n_tokens,
         0 AS bin_idx, n_tokens AS fill
  FROM sized WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
         CASE WHEN p.fill + s.n_tokens <= 1024 THEN p.bin_idx ELSE p.bin_idx + 1 END,
         CASE WHEN p.fill + s.n_tokens <= 1024 THEN p.fill + s.n_tokens ELSE s.n_tokens END
  FROM packed p JOIN sized s ON s.shard = p.shard AND s.rn = p.rn + 1
)
SELECT doc_id, shard, bin_idx, n_tokens FROM packed
"""


@query("sequence_packing", oracle=_PACKING_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy context-window packing: documents fill 1024-token bins in
    id order, a doc that would overflow opens the next bin — the
    sequence-packing step between chunking and tokenization in a
    pretraining pipeline (no doc is split; short docs coalesce so
    padding waste is bounded).

    Packing is inherently sequential, so the parallel unit is the
    SHARD (doc_id % 16): each shard packs independently in one
    `applyInPandas` task over an AQE-exempt fanout — at 100 TB you
    raise the shard count, never the per-task algorithm. Bins are
    local to a shard (global ids would serialize the whole corpus).
    The oracle replays the same greedy fold as a recursive CTE, so the
    reset-on-overflow arithmetic is value-checked row by row.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 16).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fills = [], []
        bin_idx, fill = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fills and fill + n <= 1024:
                fill += n
            else:
                if fills:
                    bin_idx += 1
                fill = n
            bins.append(bin_idx)
            fills.append(fill)
        out = pdf[["doc_id", "shard", "n_tokens"]].copy()
        out["bin_idx"] = bins
        return out[["doc_id", "shard", "bin_idx", "n_tokens"]]

    return (
        fanout(docs, "shard")
        .groupBy("shard")
        .applyInPandas(pack, schema="doc_id long, shard long, bin_idx long, n_tokens int")
        .orderBy("doc_id")
    )


_VOCAB_ORACLE = """
WITH words AS (
  SELECT doc_id, lower(t.w) AS w
  FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS w) t
  WHERE t.w <> ''
), vocab AS (
  SELECT w, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, w ASC) AS vrank
  FROM words GROUP BY w
), kept AS (
  SELECT w FROM vocab WHERE vrank <= 1000
)
SELECT wd.doc_id,
       count(*) AS n_words,
       CAST(sum(CASE WHEN k.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN k.w IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
FROM words wd LEFT JOIN kept k ON wd.w = k.w
GROUP BY wd.doc_id
"""


@query("vocab_oov_coverage", oracle=_VOCAB_ORACLE)
def vocab_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build + per-document OOV coverage: the top-1000
    words by frequency (deterministic count-desc/word-asc rank) become
    the vocabulary; every document reports its out-of-vocabulary token
    fraction — the coverage statistic a tokenizer-training or
    quality-filter stage monitors.

    Plan shape: one word-count shuffle builds the vocab; the kept set is
    tiny by construction (top-k) and BROADCASTS back against the word
    stream, so coverage costs one more groupBy on doc_id — no sort of
    the full corpus, no second scan of the text column (the exploded
    words feed both sides). At 100 TB the vocab stays a broadcast no
    matter the corpus size because k bounds it.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w0"))
        .filter(F.col("w0") != "")
        .select("doc_id", F.lower("w0").alias("w"))
    )
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # TakeOrderedAndProject, not a global row_number window: the top-k
    # needs no full sort and no single-partition window exchange
    kept = (
        counts.orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(1000)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    return (
        words.join(F.broadcast(kept), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


_RESAMPLE_ORACLE = """
WITH rated AS (
  SELECT doc_id, source, n_chars,
         (CASE source WHEN 'books' THEN 2.2 WHEN 'news' THEN 1.5
                      WHEN 'web' THEN 0.8 ELSE 1.0 END)
           * least(1.5, n_chars / 400.0) AS w,
         ((doc_id * 2654435761) % 4294967296) / 4294967296.0 AS u
  FROM documents
), counted AS (
  SELECT doc_id, source, round(w, 6) AS weight,
         CAST(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS BIGINT) AS copies
  FROM rated
)
SELECT c.doc_id, c.source, c.weight, c.copies, t.i - 1 AS copy_idx
FROM counted c, LATERAL (SELECT unnest(generate_series(1, c.copies)) AS i) t
WHERE c.copies > 0
"""


@query("quality_resample", oracle=_RESAMPLE_ORACLE)
def quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus resampling: each document is replicated
    floor(w) times plus one stochastic copy with probability frac(w) —
    upsampling high-value sources (books 2.2x) and long documents,
    downsampling low-weight ones to zero copies. The epoch-mixing step
    that turns per-source target rates into an actual materialized
    training corpus (corpus_mix_sample is the subsampling-only sibling).

    The stochastic copy uses the portable multiplicative hash of the
    doc id, not RNG state — identical on every run, every engine, every
    partition layout (the determinism contract the driver's value hash
    and any resumable pipeline both require). Map-only: weight
    arithmetic, one guarded sequence-explode, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    src_f = (
        F.when(F.col("source") == "books", 2.2)
        .when(F.col("source") == "news", 1.5)
        .when(F.col("source") == "web", 0.8)
        .otherwise(1.0)
    )
    w = src_f * F.least(F.lit(1.5), F.col("n_chars") / 400.0)
    u = ((F.col("doc_id") * 2654435761) % 4294967296) / 4294967296.0
    counted = docs.select(
        "doc_id",
        "source",
        F.round(w, 6).alias("weight"),
        (
            F.floor(w) + F.when(u < (w - F.floor(w)), 1).otherwise(0)
        ).cast("long").alias("copies"),
    )
    return (
        counted.filter(F.col("copies") > 0)
        .select(
            "doc_id",
            "source",
            "weight",
            "copies",
            F.explode(F.sequence(F.lit(1), F.col("copies"))).alias("__i"),
        )
        .select(
            "doc_id", "source", "weight", "copies", (F.col("__i") - 1).alias("copy_idx")
        )
    )


_SUBSTR_DEDUP_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), tok AS (
  SELECT doc_id, i AS pos, t[i + 1] AS token
  FROM toks, LATERAL (SELECT unnest(range(0, len(t))) AS i)
), grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(t[i + 1:i + 8], ' ')) AS gh
  FROM toks, LATERAL (SELECT unnest(range(0, greatest(len(t) - 7, 0))) AS i)
), ranked AS (
  SELECT doc_id, pos,
         count(*)     OVER (PARTITION BY gh)                        AS cnt,
         row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos)   AS rn
  FROM grams
), removals AS (
  SELECT doc_id, pos FROM ranked WHERE cnt > 1 AND rn > 1
), covered AS (
  SELECT DISTINCT doc_id, p AS pos
  FROM removals, LATERAL (SELECT unnest(range(pos, pos + 8)) AS p)
)
SELECT t.doc_id,
       count(*)                                        AS n_tokens,
       count(c.pos)                                    AS n_removed,
       coalesce(string_agg(CASE WHEN c.pos IS NULL THEN t.token END,
                           ' ' ORDER BY t.pos), '')    AS clean_text
FROM tok t
LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
GROUP BY t.doc_id
"""


@query("substring_span_dedup", oracle=_SUBSTR_DEDUP_ORACLE)
def substring_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring removal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): any 8-token span whose
    text occurs more than once in the corpus keeps exactly its first
    occurrence (min (doc_id, pos)); every other occurrence's 8 tokens are
    cut from their documents. Finer-grained than whole-document dedup —
    boilerplate shared across otherwise-distinct documents is removed
    once per corpus, not once per document.

    Reference analogue: the corpus-level content-identity machinery
    (unextracted_snapshot.py:53) generalized from whole files to spans.

    Scale shape: grams are 16-byte md5 keys (never the span text beyond
    the map side); the duplicate test is ONE groupBy(gh) with map-side
    partial agg (count + min(struct(doc_id, pos)) canonical occurrence —
    struct ordering, not an arithmetic encoding, so a million-token
    document can't bleed pos into the doc_id digits); only
    occurrences of duplicated grams explode into covered positions
    (bounded x8); the final reassembly is one groupBy(doc_id) of
    (pos, token) pairs. No window over the full gram table, no
    cartesian. All column algebra - zero Python in the plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    tok = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "token")
    )
    grams = toks.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(t) < 8 THEN array() ELSE"
            " transform(sequence(0, size(t) - 8),"
            " i -> struct(i AS pos, md5(concat_ws(' ', slice(t, i + 1, 8))) AS gh)) END"
        ).alias("gs"),
    ).select("doc_id", F.explode("gs").alias("g")).select(
        "doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh")
    )
    # one shuffle: partial-agg'd count + canonical occurrence per gram.
    # min(struct) orders lexicographically (doc_id, then pos) and stays
    # map-combinable; the independent DuckDB oracle uses a window
    # row_number instead, so an ordering bug here can't self-confirm.
    stats = grams.groupBy("gh").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc_id", "pos")).alias("canon"),
    )
    removals = (
        grams.join(stats.filter(F.col("cnt") > 1), "gh")
        .filter(
            (F.col("doc_id") != F.col("canon.doc_id"))
            | (F.col("pos") != F.col("canon.pos"))
        )
        .select("doc_id", "pos")
    )
    covered = removals.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("pos")
    ).distinct()
    kept = tok.join(covered.withColumn("__cut", F.lit(1)), ["doc_id", "pos"], "left")
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count("__cut").alias("n_removed"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN __cut IS NULL"
                " THEN struct(pos, token) END)), x -> x.token)"
            ),
        ).alias("clean_text"),
    )


_SPLIT_ASSIGN_ORACLE = """
WITH assigned AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket,
         ('0x' || substr(md5('shuffle:' || doc_id::VARCHAR), 1, 15))::BIGINT AS shuffle_key
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'validation'
            ELSE 'test' END AS split,
       shuffle_key
FROM assigned
"""


@query("dataset_split_assign", oracle=_SPLIT_ASSIGN_ORACLE)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/validation/test split plus a global
    shuffle key, both derived from the portable 60-bit md5 hash of the
    document id — no RNG state, so the assignment is stable across runs,
    engines, partition layouts, and corpus growth (adding documents never
    reassigns existing ones, the property resumable pipelines need).

    The shuffle key is a SECOND independent hash (different salt):
    writing sorted by it is a uniform global shuffle of the training
    order, done by Spark's range-partitioned sort rather than any
    driver-side permutation. Map-only assignment: zero shuffles here;
    the sort-by-key happens at the sink where the writer already pays
    its exchange.
    """
    from tlmc_etl_spark.operators.dedup import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    bucket = portable_hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    shuffle_key = portable_hash60(
        F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))
    )
    return docs.select(
        "doc_id",
        "source",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test")
        .alias("split"),
        shuffle_key.alias("shuffle_key"),
    )


_QUOTA_SAMPLE_ORACLE = """
SELECT source, doc_id
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(source || ':' || doc_id::VARCHAR), 1, 15))::BIGINT,
                    doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 10
ORDER BY source, doc_id
"""


@query("per_source_quota_sample", oracle=_QUOTA_SAMPLE_ORACLE)
def per_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-source subsample: keep the K documents with the
    smallest portable hash within each source — a reproducible "reservoir"
    that needs no RNG state and never reassigns a kept document when the
    corpus grows ONLY IF the newcomer hashes above the cutoff (the same
    stability argument as dataset_split_assign, but with an exact per-group
    quota instead of a global rate: the knob corpus mixing actually turns
    when a crawl source must be downweighted to a fixed document budget).

    Scale shape: one hash projection (map-only) and one shuffle on
    `source` for the per-group top-K — and because K is tiny the
    rank runs as a partial top-K per input partition before the
    exchange (Spark pushes the window's rank limit via
    WindowGroupLimit), so the shuffle carries at most K rows per source
    per mapper, not the corpus. A skewed giant source therefore costs
    K x n_mappers rows, not its full document count.
    """
    from pyspark.sql import Window as W

    from tlmc_etl_spark.operators.dedup import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash60(F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string")))
    ranked = docs.select("source", "doc_id", h.alias("__h")).withColumn(
        "rn", F.row_number().over(W.partitionBy("source").orderBy("__h", "doc_id"))
    )
    return ranked.filter(F.col("rn") <= 10).select("source", "doc_id").orderBy("source", "doc_id")


_BPE_PAIR_ORACLE = """
WITH words AS (
  SELECT w, count(*) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 2
  GROUP BY w
), pairs AS (
  SELECT substr(w, i, 2) AS pair, wc
  FROM words, LATERAL (SELECT unnest(range(1, len(w))) AS i)
)
SELECT pair, CAST(sum(wc) AS BIGINT) AS n_weighted
FROM pairs
GROUP BY pair
ORDER BY n_weighted DESC, pair
LIMIT 20
"""


@query("bpe_pair_counts", oracle=_BPE_PAIR_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner loop at corpus scale: adjacent-symbol pair
    frequencies weighted by word count — the step that dominates
    tokenizer training cost and the one that must distribute (the merge
    choice itself is a driver-side argmax over this table).

    Scale shape: the corpus first folds to a (word, count) table — the
    standard BPE regime, shrinking 10^11 tokens to 10^7 distinct words —
    then pairs explode per DISTINCT word (bounded by word length) and
    sum with map-side partial agg. Top-20 rides TakeOrdered with a
    lexicographic tie-break so both engines cut identical rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n_weighted"))
        .orderBy(F.col("n_weighted").desc(), "pair")
        .limit(20)
    )


_CURATION_ORACLE = """
WITH m AS (
  SELECT doc_id, source, text, n_chars,
         len(regexp_extract_all(text, '[a-z0-9]+')) AS n_words,
         len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b')) AS n_stop
  FROM documents
), passed AS (
  SELECT doc_id, source, text, n_words
  FROM m WHERE n_words >= 20 AND n_stop > 0
), winners AS (
  SELECT min(doc_id) AS doc_id
  FROM passed GROUP BY md5(text)
), curated AS (
  SELECT p.doc_id, p.source, p.n_words,
         ('0x' || substr(md5('split:' || p.doc_id::VARCHAR), 1, 15))::BIGINT % 100
           AS bucket
  FROM passed p JOIN winners USING (doc_id)
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'validation'
            ELSE 'test' END                    AS split,
       source,
       count(*)                                AS n_docs,
       CAST(sum(n_words) AS BIGINT)            AS n_words,
       CAST(sum(CAST(floor(n_words / 1024.0) AS BIGINT) + 1) AS BIGINT) AS n_seq_lower_bound
FROM curated
GROUP BY split, source
"""


@query("curation_lifecycle", oracle=_CURATION_ORACLE)
def curation_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation lifecycle as ONE DAG:
    quality-filter → exact-dedup (winner per content hash) → split
    assignment → per-(split, source) corpus accounting, the LLM-pipeline
    counterpart of the catalog lifecycle (`lifecycle_similar_shards`).
    Composed from the SAME building blocks the standalone queries use —
    the gate here is that the stages compose into one Catalyst plan
    (filters reach the scan through three stage boundaries; the dedup
    winner join stays the only wide op before the final rollup) rather
    than materializing between stages.

    Output is the curation report every dataset release ships: document
    and word counts per split×source plus a lower bound on 1024-token
    packed sequences (ceil word-count per doc — the packing query's bin
    floor).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.regexp_count("text", F.lit("[a-z0-9]+"))
    n_stop = F.regexp_count("text", F.lit(r"\b(the|a|of|and|to|in|is)\b"))
    passed = docs.select(
        "doc_id", "source", "text", n_words.alias("n_words")
    ).filter((n_words >= 20) & (n_stop > 0))
    winners = (
        passed.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    from tlmc_etl_spark.operators.dedup import portable_hash60

    bucket = (
        portable_hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    )
    curated = passed.join(winners, "doc_id").select(
        "source",
        "n_words",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test")
        .alias("split"),
    )
    return curated.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum(F.floor(F.col("n_words") / F.lit(1024.0)).cast("long") + 1)
        .cast("long")
        .alias("n_seq_lower_bound"),
    )


def _bpe_merge_sql(sym: str, best: str) -> str:
    """The left-to-right non-overlapping merge of ({best}.l, {best}.r)
    over {sym}.toks as a closed-form DuckDB list expression — the SQL
    replay of operators/bpe.apply_merge's F.aggregate fold. For l <> r
    matches can never chain (a match at j-1 consumes toks[j] as r, and a
    new match at j would need toks[j] = l = r); for l = r the greedy
    pairing inside a run of k equal symbols takes positions at ODD
    offsets from the run start, where the run start is found via the
    last preceding non-l symbol."""
    t = f"{sym}.toks"
    prev = (
        "coalesce(list_max(list_filter(generate_series(1, {up}), "
        f"i -> {t}[i] <> {best}.l)), 0)"
    )
    return f"""list_filter(
    list_transform(generate_series(1, len({t})),
      j -> CASE
        WHEN j < len({t}) AND {t}[j] = {best}.l AND {t}[j+1] = {best}.r
             AND ({best}.l <> {best}.r OR (j - {prev.format(up='j-1')}) % 2 = 1)
        THEN {best}.l || {best}.r
        WHEN j > 1 AND {t}[j-1] = {best}.l AND {t}[j] = {best}.r
             AND ({best}.l <> {best}.r OR ((j-1) - {prev.format(up='j-2')}) % 2 = 1)
        THEN NULL
        ELSE {t}[j] END),
    x -> x IS NOT NULL)"""


def _bpe_chain_sql(n_rounds: int = 8) -> str:
    """Shared CTE prefix replaying the iterative BPE training loop,
    UNROLLED: the k-round driver loop becomes k chained stages (pair
    count -> thresholded argmax with the count-DESC/left-ASC/right-ASC
    tie-break -> closed-form merge fold). The word key rides the fold so
    the encode oracle can map each vocabulary word to its final token
    count. Early stop replays via the LEFT JOIN ON TRUE: a round whose
    best pair falls under the 2-occurrence floor yields an empty best
    CTE, later stages carry symbols unchanged, and later pair counts
    re-derive the same sub-floor maximum — no round past the stop can
    emit."""
    parts = [
        """WITH w AS (
  SELECT word, count(*) AS wc FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE len(word) >= 2 GROUP BY word
), s0 AS (
  SELECT word, list_transform(generate_series(1, len(word)), i -> word[i]) AS toks, wc
  FROM w
)"""
    ]
    for k in range(n_rounds):
        merge = _bpe_merge_sql("t", f"b{k}")
        parts.append(
            f""", p{k} AS (
  SELECT t.toks[g.i] AS l, t.toks[g.i + 1] AS r,
         CAST(sum(t.wc) AS BIGINT) AS n_weighted
  FROM s{k} t, LATERAL (
    SELECT unnest(generate_series(1, len(t.toks) - 1)) AS i) g
  WHERE len(t.toks) >= 2
  GROUP BY 1, 2
), b{k} AS (
  SELECT l, r, n_weighted FROM p{k} WHERE n_weighted >= 2
  ORDER BY n_weighted DESC, l, r LIMIT 1
), s{k + 1} AS (
  SELECT t.word,
         CASE WHEN b{k}.l IS NULL THEN t.toks ELSE {merge} END AS toks,
         t.wc
  FROM s{k} t LEFT JOIN b{k} ON TRUE
)"""
        )
    return "".join(parts)


def _bpe_train_oracle(n_rounds: int = 8) -> str:
    """The training trajectory off the shared chain: which pairs won, in
    which order, at which weighted counts — the complete Sennrich loop
    value-checked by DuckDB."""
    selects = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_round, l AS left, r AS right, l || r AS merged,"
        f" n_weighted FROM b{k}"
        for k in range(n_rounds)
    )
    return _bpe_chain_sql(n_rounds) + f"\n{selects}\nORDER BY merge_round"


def _bpe_encode_oracle(n_rounds: int = 8) -> str:
    """The corpus-encode accounting off the SAME chain: the trained
    vocabulary's final token count per word (len of the fully-folded
    symbol list), broadcast onto per-doc word multiplicities — the SQL
    replay of the vocabulary/corpus split the Spark plan uses.
    Single-character words bypass the vocabulary (encode to themselves,
    the len>=2 training floor)."""
    return (
        _bpe_chain_sql(n_rounds)
        + f""", vocab AS (
  SELECT word, CAST(len(toks) AS BIGINT) AS n_tok FROM s{n_rounds}
), dw AS (
  SELECT doc_id, word, count(*) AS c FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE len(word) >= 1 GROUP BY doc_id, word
), j AS (
  SELECT dw.doc_id, dw.c,
         len(dw.word) * dw.c AS n_sym,
         coalesce(v.n_tok, 1) * dw.c AS n_tok
  FROM dw LEFT JOIN vocab v ON dw.word = v.word
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_words,
       CAST(sum(n_sym) AS BIGINT) AS n_symbols,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(round(CAST(sum(n_sym) AS DOUBLE) / sum(n_tok), 4) AS DOUBLE)
         AS compression
FROM j GROUP BY doc_id ORDER BY doc_id"""
    )


@query("bpe_train_merges", oracle=_bpe_train_oracle())
def bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer training (Sennrich et al. 2016) as an iterative
    Spark job: 8 rounds of [distributed pair count over the (distinct
    word, count) fold -> 1-row deterministic argmax -> JVM-side
    F.aggregate merge fold], lineage truncated per round. Oracle-backed
    since round 14: the loop UNROLLS into 8 chained SQL stages
    (_bpe_train_oracle) with the merge fold as a closed-form list
    expression, so DuckDB value-checks the complete merge trajectory —
    previously this was the flagship 'no SQL replay' ext claim, and the
    unroll deletes it. The from-scratch pure-Python differential
    (tests/test_bpe.py::TestBpeTraining) and the encode re-tokenization
    gate stay as independent second witnesses."""
    from tlmc_etl_spark.operators.bpe import train_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=8)
    return spark.createDataFrame(
        [
            (m["merge_round"], m["left"], m["right"], m["merged"], m["n_weighted"])
            for m in merges
        ],
        "merge_round int, left string, right string, merged string, n_weighted long",
    ).orderBy("merge_round")


@query("bpe_encode_corpus", oracle=_bpe_encode_oracle())
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: train the 8-merge BPE
    table (the bpe_train_merges loop), then tokenize every document
    with it and report per-doc token accounting — the pass a training
    pipeline runs over the whole corpus once per tokenizer release.

    Scale shape — the standard vocabulary/corpus split: the merge fold
    runs over the DISTINCT-WORD table only (10^7 rows where the corpus
    has 10^11 tokens), producing each word's encoded length; per-doc
    numbers are then a broadcast join of that vocabulary onto per-doc
    word multiplicities — no document's text ever flows through the
    merge fold. Single-character words bypass the vocabulary (they
    encode to themselves; training's len>=2 floor excludes them).
    Output: (doc_id, n_words, n_symbols, n_tokens, compression) where
    n_symbols is the pre-merge character-symbol count and compression =
    n_symbols / n_tokens. Oracle-backed since round 14: the unrolled
    training chain (_bpe_chain_sql) carries each vocabulary word through
    the 8 merge folds, so DuckDB replays train -> encode -> per-doc
    accounting end to end; the from-scratch Python differential
    (tests/test_bpe.py::TestBpeCorpusEncode) stays as a second witness.
    """
    from tlmc_etl_spark.operators.bpe import (
        encode_with_merges,
        train_bpe_merges,
        words_with_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=8)
    vocab = words_with_counts(docs).select(
        "w",
        F.size(encode_with_merges(F.split("w", ""), merges)).alias("n_tok"),
    )
    doc_words = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    joined = doc_words.join(F.broadcast(vocab), "w", "left").select(
        "doc_id",
        "c",
        (F.length("w") * F.col("c")).alias("n_sym"),
        (F.coalesce("n_tok", F.lit(1)) * F.col("c")).alias("n_tok"),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_symbols"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_symbols",
            "n_tokens",
            F.round(F.col("n_symbols") / F.col("n_tokens"), 4).alias("compression"),
        )
        .orderBy("doc_id")
    )
