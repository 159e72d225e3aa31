"""Near-duplicate detection operators: MinHash+LSH and SimHash.

These are the scale path for corpus dedup — the exact shingle-join
(plans/text.py::ngram_jaccard_pairs) is the oracle-checkable baseline but
its inverted-index join scales with shingle document frequency; banding
bounds the candidate set instead.

Each algorithm has one body, run over one of two hash families
(`NearDupHashes`), and the family is the only thing its callers differ in:
 - XXHASH64, the production family: JVM-native and cheap, but no other
   engine exposes it, so the queries on it are rows- and property-checked;
 - MD5_60, the portable family: 60 bits of md5, which Spark and DuckDB
   compute bit-identically (Spark conv(substr(md5(s),1,15),16,10) ==
   DuckDB ('0x'||substr(md5(s),1,15))::BIGINT), so a SQL oracle replays
   signature -> band -> candidate -> estimate and value-checks the body
   both families share. md5 costs ~4x xxhash64 per call.

Everything hash-heavy stays JVM-side: shingling via split/transform,
per-permutation min-hashes as min-aggregates, band keys as hashes over
signature slices. No Python in the hot path; the only Python is plan
construction.

Verified by property/differential tests (tests/test_ext_operators.py): MinHash
similarity estimates converge to exact Jaccard; LSH candidates recall
high-similarity pairs; SimHash hamming distance orders like cosine of
term-frequency vectors.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def portable_hash60(col) -> "F.Column":
    """60-bit integer hash reproducible in Spark and DuckDB (md5 prefix)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def word_bigram_hashes(words: DataFrame, id_col: str) -> DataFrame:
    """(id, ws array<string>) -> word-bigram shingle hashes (id, sh long).

    Each word hashes once, a bigram hash is xxhash64 over the two word
    hashes — no bigram string is ever materialized. No distinct either:
    min-hash aggregation is idempotent under duplicate shingles, so
    deduplicating here would only add a full shuffle of the shingle set.
    """
    hs = words.select(id_col, F.expr("transform(ws, w -> xxhash64(w))").alias("hs"))
    return hs.select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(1, size(hs) - 1),"
                " i -> xxhash64(element_at(hs, i), element_at(hs, i + 1)))"
            )
        ).alias("sh"),
    )


def word_bigram_hashes_portable(words: DataFrame, id_col: str) -> DataFrame:
    """(id, ws array<string>) -> (id, sh long): the portable hash of each
    word-bigram STRING (the oracle must hash the same bytes)."""
    bigrams = F.explode(
        F.expr(
            "transform(sequence(1, size(ws) - 1),"
            " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
        )
    )
    return words.select(id_col, bigrams.alias("shingle")).select(
        id_col, portable_hash60("shingle").alias("sh")
    )


@dataclass(frozen=True)
class NearDupHashes:
    """The hash family a MinHash or SimHash body runs over.

    word:     word -> 64-bit hash (SimHash's per-occurrence bit vote)
    shingles: (id, ws) -> (id, sh), the word-bigram shingle hashes
    perm:     (i, sh) -> the i-th MinHash permutation of a shingle hash
    band:     SQL for the band key over the signature slice `{s}`, with the
              band index bound to `b`
    """

    word: Callable[[Column], Column]
    shingles: Callable[[DataFrame, str], DataFrame]
    perm: Callable[[int, Column], Column]
    band: str


# Permutation i is seeded by its index — deterministic cluster-wide
# (SURVEY.md §4: deterministic routing) — and hashes the 8-byte shingle
# hash, not the shingle text, so each shingle costs n_hashes fixed-width
# hashes.
XXHASH64 = NearDupHashes(
    word=F.xxhash64,
    shingles=word_bigram_hashes,
    perm=lambda i, sh: F.xxhash64(F.lit(i), sh),
    band="xxhash64(b, {s})",
)
MD5_60 = NearDupHashes(
    word=portable_hash60,
    shingles=word_bigram_hashes_portable,
    perm=lambda i, sh: portable_hash60(F.concat(F.lit(f"{i}:"), sh.cast("string"))),
    band="md5(concat_ws(':', transform({s}, x -> cast(x as string))))",
)


def minhash_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    n_bands: int,
    threshold: float,
    hashes: NearDupHashes = XXHASH64,
) -> DataFrame:
    """MinHash-LSH near-dup pairs (id_a < id_b, n_agree, est_jaccard):
    shingle → n_hashes permutation minima → banded self-join → candidate
    distinct → agreement estimate ≥ threshold. Mirrors the reference's
    two-stage recall→verify shape (SIMILARITY-PLAN.md): cheap candidate
    generation, then scoring only candidates.

    est_jaccard = round(n_agree / n_hashes, 4). At n_hashes = 16 every
    k/16 has at most 4 decimals, so the rounding is exact there and the
    SQL oracle compares the unrounded n_agree / 16.0.
    """
    rows = n_hashes // n_bands
    # Round-robin repartition before the shingle explode: a small parquet
    # input is ONE scan partition, and the n_hashes permutation hashes per
    # shingle would otherwise all run inside that single pre-shuffle
    # partial-agg task. The shuffled payload is the slim (id, words) rows,
    # and the stage has a single consumer (the signature agg), so no
    # exchange reuse is lost.
    words = (
        df.select(id_col, F.split(F.col(text_col), " ").alias("ws"))
        .filter(F.size("ws") >= 2)
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    sh = hashes.shingles(words, id_col)
    # The group state is n_hashes running minima: map-side combinable,
    # O(1) per shingle. Signatures feed both the band self-join and the
    # estimate join (four scans of a tiny n_docs × n_hashes table), so
    # they persist. Not localCheckpoint: a checkpoint (eager or lazy) runs
    # the signature subtree as its own job and round-trips blocks through
    # storage, which measured 2-3x slower end-to-end here — the pipeline
    # is tiny shuffles where scheduling latency dominates. The blocks are
    # LRU-evictable (MEMORY_AND_DISK). No fanout before the persist: the
    # band explode and estimate join are JVM bytes-proportional stages,
    # and re-widening the cached table cost an extra exchange that
    # measured ~2x end-to-end at sf0.1 (round 4) — AQE re-widens at real
    # scale.
    mins = [F.min(hashes.perm(i, F.col("sh"))).alias(f"h{i}") for i in range(n_hashes)]
    sigs = (
        sh.groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))
        .persist()
    )
    # A pair is a candidate if any band hashes equal; the join key is
    # (band_idx, band_key), so candidate cost follows bucket sizes, never
    # |docs|². No fanout() here: the band self-join is pure-JVM,
    # bytes-proportional work, so AQE's byte-based coalescing is
    # scale-correct — serial when the exchange is tiny (the pinned-width
    # r3 variant measured 2x slower end-to-end at sf0.1), wide at real
    # scale. fanout() is reserved for Python-CPU stages (tuning.py).
    band_key = hashes.band.format(s=f"slice(sig, b * {rows} + 1, {rows})")
    bands = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"transform(sequence(0, {n_bands - 1}), b -> {band_key})")
        ).alias("band_idx", "band_key"),
    )
    a = bands.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    b = bands.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", agree.cast("long").alias("n_agree"))
        .withColumn("est_jaccard", F.round(F.col("n_agree") / n_hashes, 4))
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int,
    max_hamming: int,
    hashes: NearDupHashes = XXHASH64,
) -> DataFrame:
    """SimHash near-dup pairs (id_a < id_b, hamming) within a hamming
    radius, banded for scale.

    Each word occurrence hashes once and votes ±1 per bit; summing per
    occurrence IS the tf weighting, so there is no intermediate (id, word)
    tf aggregation — one scan, one shuffle, `bits` map-side-combinable
    sums. The fingerprint splits into 4 chunks of bits/4; a pair within
    hamming distance 3 shares at least one exact chunk (pigeonhole), so
    the candidate join is an equi-join on (chunk index, chunk value).
    Wider radii trade recall; exact hamming is then computed on
    candidates only via bit_count(xor).

    A pair sharing k chunks joins k times. Instead of a distinct shuffle
    over the candidates, each pair is kept only from its FIRST matching
    chunk — a pure filter (both fingerprints are in the joined row), so
    candidate dedup costs zero shuffle and yields the same set.
    """
    assert bits % 4 == 0
    cw = bits // 4  # chunk width
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.col("w") != "")
    hashed = words.select(id_col, hashes.word(F.col("w")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    fp = F.expr(" + ".join(f"IF(b{i} > 0, shiftleft(1L, {i}), 0L)" for i in range(bits)))
    # Both sides of the chunk self-join read the fingerprints (n_docs × 1
    # long) — persist so the word scan and bit-sum aggregates run once, in
    # the same job (a checkpoint would add a separate materialization job;
    # see minhash_near_dupes). No fanout: the chunk explode and join are
    # JVM-side; the extra exchange measured slower at sf0.1 and AQE keeps
    # the layout wide whenever the table is actually big.
    fps = hashed.groupBy(id_col).agg(*bit_sums).select(F.col(id_col), fp.alias("f")).persist()

    def chunk(f: str, k: int) -> str:
        return f"(shiftright({f}, {k * cw}) & {(1 << cw) - 1})"

    chunks = fps.select(
        F.col(id_col),
        "f",
        F.posexplode(F.array(*[F.expr(chunk("f", k)) for k in range(4)])).alias("c", "cv"),
    )
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("f").alias("fa"), "c", "cv")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("f").alias("fb"), "c", "cv")
    # A CASE, not a transform() lambda: this runs on every joined row, and
    # a higher-order function there is interpreted, not code-generated —
    # at sf0.1 the lambda form made the 8-bit-chunk (MD5_60, 32-bit)
    # candidate filter ~2x slower than a distinct.
    first_match = F.expr(
        "CASE "
        + " ".join(f"WHEN {chunk('fa', k)} = {chunk('fb', k)} THEN {k}" for k in range(3))
        + " ELSE 3 END"
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long")
    return (
        a.join(b, ["c", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("c") == first_match)
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
