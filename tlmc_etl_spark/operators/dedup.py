"""Near-duplicate detection operators: MinHash+LSH and SimHash.

These are the scale path for corpus dedup — the exact shingle-join
(plans/text.py::ngram_jaccard_pairs) is the oracle-checkable baseline but
its inverted-index join scales with shingle document frequency; banding
bounds the candidate set instead.

Everything hash-heavy stays JVM-side: shingling via split/transform,
per-permutation min-hashes as `xxhash64(seed, shingle)` min-aggregates,
band keys as hashes over signature slices. No Python in the hot path; the
only Python is plan construction.

Verified by property/differential tests (tests/test_ext_operators.py): MinHash
similarity estimates converge to exact Jaccard; LSH candidates recall
high-similarity pairs; SimHash hamming distance orders like cosine of
term-frequency vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_bigram_hashes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Word-bigram shingles per document as 64-bit hashes (id, sh).

    The cheap-shingle path behind MinHash: each word hashes once, a bigram
    hash is xxhash64 over the two word hashes — no bigram string is ever
    materialized, and rows stay (id, long). No distinct either: min-hash
    aggregation is idempotent under duplicate shingles, so deduplicating
    here would only add a full shuffle of the shingle set.
    """
    ws = df.select(
        id_col,
        F.expr(f"transform(split({text_col}, ' '), w -> xxhash64(w))").alias("hs"),
    ).filter(F.size("hs") >= 2)
    return ws.select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(1, size(hs) - 1),"
                " i -> xxhash64(element_at(hs, i), element_at(hs, i + 1)))"
            )
        ).alias("sh"),
    )


def minhash_signatures(shingles: DataFrame, id_col: str, n_hashes: int = 64) -> DataFrame:
    """One row per id with `sig` array<long> of n_hashes min-hashes of
    the shingle-hash column `sh`.

    Each permutation h_i is xxhash64 seeded by the permutation index —
    deterministic cluster-wide (SURVEY.md §4: deterministic routing). The
    permutations hash the 8-byte shingle hash, not the shingle text, so
    each input row costs n_hashes fixed-width hashes. The group state is
    n_hashes running minima: map-side combinable, O(1) per shingle, so
    this is one scan + one small shuffle at any corpus size.
    """
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sigs = shingles.groupBy(id_col).agg(*mins)
    return sigs.select(id_col, F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, n_bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b), deduplicated across bands.

    Signature sliced into bands; a pair is a candidate if any band hashes
    equal. The band join key is (band_idx, hash(slice)) so the self-join is
    an equi-join Catalyst shuffles on the band key — candidate generation
    cost follows bucket sizes, never |docs|².
    """
    assert n_bands * rows_per_band <= 1024
    bands = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}),"
                f" b -> xxhash64(b, slice(sig, b * {rows_per_band} + 1, {rows_per_band})))"
            )
        ).alias("band_idx", "band_key"),
    )
    # No fanout() here: the band self-join is pure-JVM, bytes-proportional
    # work, so AQE's byte-based coalescing is scale-correct — serial when
    # the exchange is tiny (where serial is faster; the pinned-width r3
    # variant measured 2x slower end-to-end at sf0.1), wide at real scale
    # where the band table is large. fanout() is reserved for Python-CPU
    # stages whose cost is per-row, not per-byte (tuning.py).
    a = bands.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    b = bands.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_estimate(sigs: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Estimated Jaccard per candidate pair = fraction of agreeing hashes."""
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(agree / F.size("sig_a"), 4).alias("est_jaccard"),
        )
    )


def minhash_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    n_bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pipeline: shingle → sign → band →
    candidate pairs → estimate ≥ threshold. Mirrors the reference's
    two-stage recall→verify shape (SIMILARITY-PLAN.md): cheap candidate
    generation, then scoring only candidates.
    """
    rows = n_hashes // n_bands
    sh = word_bigram_hashes(df, id_col, text_col)
    # Signatures feed both the band self-join and the estimate join (four
    # scans of the same tiny table: n_docs × n_hashes longs). persist(),
    # not localCheckpoint: a checkpoint (eager or lazy) runs the signature
    # subtree as its own job and round-trips blocks through storage, which
    # measured 2-3x slower end-to-end here — the whole pipeline is tiny
    # shuffles where scheduling latency dominates. persist keeps it one
    # job; its blocks are LRU-evictable (MEMORY_AND_DISK) so a long
    # session degrades gracefully rather than pinning forever. No fanout
    # before the persist: the downstream band explode and estimate join
    # are JVM bytes-proportional stages, and re-widening the tiny cached
    # table costs an extra exchange that measured ~2x end-to-end at sf0.1
    # (round-3 bench 2.56 s -> 1.34-1.58 s after removing the fanout; a
    # round-4 same-session A/B confirmed the fanout was the cause) — AQE
    # re-widens at real scale.
    sigs = minhash_signatures(sh, id_col, n_hashes).persist()
    pairs = lsh_candidate_pairs(sigs, id_col, n_bands, rows)
    est = minhash_estimate(sigs, pairs, id_col)
    return est.filter(F.col("est_jaccard") >= threshold)


SIMHASH_BITS = 64


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash fingerprint per document from term-frequency-weighted word
    hashes; returns (id, simhash bigint) with SIMHASH_BITS bits.

    Each word occurrence hashes once (xxhash64) and contributes ±1 per
    bit; summing per occurrence IS the tf weighting, so no intermediate
    (id, word) tf aggregation — one scan, one shuffle, 64 map-side-
    combinable sums.
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.col("w") != "")
    hashed = words.select(id_col, F.xxhash64("w").alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy(id_col).agg(*bit_sums)
    fp = F.expr(
        " + ".join(f"IF(b{i} > 0, shiftleft(1L, {i}), 0L)" for i in range(SIMHASH_BITS))
    )
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_dupes(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 12
) -> DataFrame:
    """SimHash near-dup pairs within a hamming radius, banded for scale.

    The fingerprint splits into 4×16-bit chunks; any pair within hamming
    distance 3 shares at least one exact chunk (pigeonhole), so the
    candidate join is an equi-join on (chunk_idx, chunk_value). Wider radii
    trade recall; exact hamming is then computed on candidates only via
    bit_count(xor).

    A pair sharing k chunks would surface k times; instead of a distinct
    shuffle over the candidate set, each pair is kept only from its FIRST
    matching chunk — a pure filter (both fingerprints are in the joined
    row), so candidate dedup costs zero shuffle.
    """
    # Both sides of the chunk self-join read the fingerprints (n_docs × 1
    # long) — persist so the word scan + 64 bit-sum aggregates run once,
    # in the same job (a checkpoint would add a separate materialization
    # job; see minhash_near_dupes). No fanout: the chunk explode + join
    # are JVM-side; the extra exchange measured slower at sf0.1 and AQE
    # keeps the layout wide whenever the table is actually big.
    fps = simhash_fingerprints(df, id_col, text_col).persist()
    chunks = fps.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), c -> cast(shiftright(simhash, c * 16) & 65535 as long))"
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk_idx", "chunk_val")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk_idx", "chunk_val")
    first_match = F.expr(
        "array_position(transform(sequence(0, 3),"
        " c -> (shiftright(sh_a, c * 16) & 65535) = (shiftright(sh_b, c * 16) & 65535)),"
        " true) - 1"
    )
    cands = (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("chunk_idx") == first_match)
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Cross-engine (portable-hash) variants
#
# The production forms above ride xxhash64, which no other engine exposes,
# so their driver verification is rows-only. These variants run the SAME
# algorithm over a hash both Spark and DuckDB can compute bit-identically
# (60 bits of md5: Spark conv(substr(md5(s),1,15),16,10) ==
# DuckDB ('0x'||substr(md5(s),1,15))::BIGINT — verified equal), which lets
# a full SQL oracle replay signature -> band -> candidate -> estimate and
# value-check the whole pipeline, not just its row count. md5 costs ~4x
# xxhash64 per call, so production stays on the fast hash; semantics are
# pinned here (plans/ext.py::minhash_lsh_xengine / simhash_xengine).
# ---------------------------------------------------------------------------


def portable_hash60(col) -> "F.Column":
    """60-bit integer hash reproducible in Spark and DuckDB (md5 prefix)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_near_dupes_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.25,
) -> DataFrame:
    """MinHash+LSH near-dups with the portable hash; emits
    (id_a, id_b, n_agree, est_jaccard). est is n_agree/n_hashes — a dyadic
    rational, exactly representable, so no rounding is needed for the
    hash-compare. Shingles are word-bigram STRINGS here (the oracle must
    hash the same bytes); the production path hashes word-wise without
    materializing bigrams (word_bigram_hashes)."""
    rows = n_hashes // n_bands
    # Round-robin repartition before the shingle explode: a small parquet
    # input is ONE scan partition, and the n_hashes md5+conv evaluations
    # per shingle — the portable path's deliberate 4x-md5 cost — would
    # otherwise all run inside that single pre-shuffle partial-agg task.
    # The shuffled payload is the slim (id, words) rows, and the stage has
    # a single consumer (the signature agg), so no exchange reuse is lost.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    ws = (
        df.select(id_col, F.split(F.col(text_col), " ").alias("ws"))
        .filter(F.size("ws") >= 2)
        .repartition(n_part)
    )
    sh = ws.select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("shingle"),
    ).select(id_col, portable_hash60("shingle").alias("h"))
    mins = [
        F.min(
            portable_hash60(F.concat(F.lit(f"{i}:"), F.col("h").cast("string")))
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sigs = (
        sh.groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))
        .persist()
    )
    bands = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}),"
                f" b -> md5(concat_ws(':', transform(slice(sig, b * {rows} + 1, {rows}),"
                " x -> cast(x as string)))))"
            )
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
        .select(
            "id_a",
            "id_b",
            agree.cast("long").alias("n_agree"),
            (agree / F.lit(float(n_hashes))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash_near_dupes_portable(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, max_hamming: int = 8
) -> DataFrame:
    """SimHash near-dups with the portable hash; emits (id_a, id_b, hamming).

    Same tf-weighted bit-vote and chunk-pigeonhole banding as the
    production form, over `bits` fingerprint bits in 4 chunks. Candidate
    dedup is a plain distinct here (the oracle replays it as DISTINCT);
    production keeps the zero-shuffle first-matching-chunk filter."""
    assert bits % 4 == 0
    cw = bits // 4  # chunk width
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.col("w") != "")
    hashed = words.select(id_col, portable_hash60("w").alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*bit_sums)
    fp_expr = F.expr(
        " + ".join(f"IF(b{i} > 0, shiftleft(1L, {i}), 0L)" for i in range(bits))
    )
    fps = agg.select(F.col(id_col), fp_expr.alias("f")).persist()
    chunks = fps.select(
        F.col(id_col),
        "f",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, 3), c -> cast(shiftright(f, c * {cw}) & {(1 << cw) - 1} as long))"
            )
        ).alias("c", "cv"),
    )
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("f").alias("fa"), "c", "cv")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("f").alias("fb"), "c", "cv")
    cand = (
        a.join(b, ["c", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fa", "fb")
        .distinct()
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long")
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
