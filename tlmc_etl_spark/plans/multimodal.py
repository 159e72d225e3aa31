"""Multimodal query catalog: binary-payload feature extraction as a
first-class, oracle-checked query.

The decode step is the deterministic synthetic stub from
operators/multimodal.py (real codecs aren't in this container); everything
around it — media-table construction, Arrow-batched `mapInPandas` decode,
feature explode — is the real plumbing a 100 TB media pipeline uses
(SURVEY.md §2.10: ffprobe/ffmpeg/MERT stages). Because the stub is a pure
function of the payload bytes (sha256 → centered unit vector), DuckDB can
reproduce it with byte arithmetic on the hex digest, giving this UDF path a
full value-level oracle instead of a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tlmc_etl_spark.operators.multimodal import extract_features, synthetic_media_from_documents
from tlmc_etl_spark.plans.registry import query
from tlmc_etl_spark.sources.tables import load_table
from tlmc_etl_spark.tuning import fanout


# Fixture dirs for the subprocess queries below: local-mode-only by design,
# session-keyed against concurrent-run races — see tlmc_etl_spark/scratch.py.
from tlmc_etl_spark.scratch import scratch_dir as _scratch_dir

_FEATURE_ORACLE = """
WITH m AS (
  SELECT 'doc-' || doc_id AS media_id,
         octet_length(encode(text)) AS n_bytes,
         sha256(text) AS h
  FROM documents
), raw AS (
  SELECT media_id, n_bytes,
         list_transform(range(16), i ->
           CAST(('0x' || substr(h, 4*i+1, 2))::INT
                + 256 * ('0x' || substr(h, 4*i+3, 2))::INT AS DOUBLE)) AS r
  FROM m
), cent AS (
  SELECT media_id, n_bytes, list_transform(r, x -> x - list_sum(r) / 16.0) AS v
  FROM raw
), unit AS (
  SELECT media_id, n_bytes, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM cent
)
SELECT media_id, n_bytes, t.pos - 1 AS pos, round(v[t.pos] / nrm, 6) AS f
FROM unit, LATERAL (SELECT unnest(generate_series(1, 16)) AS pos) t
"""


@query("multimodal_features", oracle=_FEATURE_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → synthetic media table (payload = utf-8 bytes, typed
    metadata struct) → batched decode UDF → exploded feature components.

    Reference: media probe/feature stages ride `mapInPandas` so one task
    amortizes many files (hls_assignment.py:109-169's one-process fusion);
    the oracle reproduces the stub decode (sha256 → uint16-LE → centered
    unit vector) byte-for-byte in SQL, so the whole UDF path is value-checked,
    not just row-counted.
    """
    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_media_from_documents(docs)
    feats = extract_features(media)
    return feats.select(
        "media_id", "n_bytes", F.posexplode("feature").alias("pos", "f0")
    ).select("media_id", "n_bytes", "pos", F.round("f0", 6).alias("f"))


_LADDER_ORACLE = """
WITH art AS (
  SELECT p_partkey AS artwork_id,
         100 + (p_partkey * 7919) % 1500 AS w,
         100 + (p_partkey * 104729) % 1200 AS h
  FROM part WHERE p_partkey % 10 = 0
), rungs AS (
  SELECT artwork_id, w, h, t.size_px
  FROM art, LATERAL (SELECT unnest([120, 300, 600]) AS size_px) t
  WHERE t.size_px < greatest(w, h)
), scaled AS (
  SELECT artwork_id, size_px,
         CAST(floor(w * size_px / greatest(w, h)) AS INTEGER) AS out_w,
         CAST(floor(h * size_px / greatest(w, h)) AS INTEGER) AS out_h
  FROM rungs
)
SELECT artwork_id, size_px,
       '_derived/artwork/' || artwork_id || '/' || size_px || '.jpg' AS storage_key,
       'image/jpeg' AS mime,
       200 + (out_w * out_h * 15) // 100 AS byte_size
FROM scaled
UNION ALL
SELECT artwork_id, 0 AS size_px,
       'library/' || artwork_id || '.png' AS storage_key,
       'image/png' AS mime,
       200 + (w * h * 15) // 100 AS byte_size
FROM art
"""


@query("artwork_variant_ladder", oracle=_LADDER_ORACLE)
def artwork_variant_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Artwork variant ladder: per artwork, one row per resize rung below
    the source's longest edge (never upscaled) plus a size-0 row that
    makes the ORIGINAL addressable through the ladder without copying —
    generate_artwork_variants.py:56-96 + apply_artwork_variants.sql's
    conflict-safe attach, minus the actual JPEG encode (codec boundary;
    byte_size is the deterministic synthetic encoder model
    200 + out_w*out_h*0.15, so rung selection, aspect-preserving scale
    arithmetic, derived storage keys and sizes all value-check).

    Dimensions derive from the part key by pure arithmetic — both
    engines compute identical inputs with no RNG state.
    """
    art = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(
            F.col("p_partkey").alias("artwork_id"),
            (100 + (F.col("p_partkey") * 7919) % 1500).alias("w"),
            (100 + (F.col("p_partkey") * 104729) % 1200).alias("h"),
        )
    )
    longest = F.greatest("w", "h")
    rungs = (
        art.crossJoin(
            F.broadcast(
                spark.createDataFrame([(120,), (300,), (600,)], "size_px int")
            )
        )
        .filter(F.col("size_px") < longest)
        .select(
            "artwork_id",
            "size_px",
            F.floor(F.col("w") * F.col("size_px") / longest).cast("int").alias("out_w"),
            F.floor(F.col("h") * F.col("size_px") / longest).cast("int").alias("out_h"),
        )
    )
    rung_rows = rungs.select(
        "artwork_id",
        "size_px",
        F.concat(
            F.lit("_derived/artwork/"), "artwork_id", F.lit("/"), "size_px", F.lit(".jpg")
        ).alias("storage_key"),
        F.lit("image/jpeg").alias("mime"),
        (200 + F.expr("(out_w * out_h * 15) DIV 100")).alias("byte_size"),
    )
    original_rows = art.select(
        "artwork_id",
        F.lit(0).alias("size_px"),
        F.concat(F.lit("library/"), "artwork_id", F.lit(".png")).alias("storage_key"),
        F.lit("image/png").alias("mime"),
        (200 + F.expr("(w * h * 15) DIV 100")).alias("byte_size"),
    )
    return rung_rows.unionByName(original_rows).orderBy("artwork_id", "size_px")


_COLORS_ORACLE = """
WITH art AS (
  SELECT p_partkey AS artwork_id FROM part WHERE p_partkey % 50 = 0
), px AS (
  SELECT artwork_id,
         (artwork_id * 2654435761 + t.i * 40503) % 4294967296 AS v
  FROM art, LATERAL (SELECT unnest(generate_series(0, 255)) AS i) t
), ch AS (
  SELECT artwork_id, v % 256 AS r, (v // 256) % 256 AS g, (v // 65536) % 256 AS b
  FROM px
), cnt AS (
  SELECT artwork_id,
         printf('#%02x%02x%02x',
                CAST((r // 64) * 64 + 32 AS INTEGER),
                CAST((g // 64) * 64 + 32 AS INTEGER),
                CAST((b // 64) * 64 + 32 AS INTEGER)) AS color,
         count(*) AS cnt
  FROM ch GROUP BY 1, 2
)
SELECT artwork_id,
       array_to_string((list(color ORDER BY cnt DESC, color ASC))[1:8], ',') AS colors
FROM cnt GROUP BY artwork_id
"""


@query("dominant_colors_palette", oracle=_COLORS_ORACLE)
def dominant_colors_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant colors with the reference's pixel-share ordering:
    quantize a probe image to a small palette, emit hex colors ordered
    dominant-first (generate_artwork_variants.py:56-67). The pixel
    DECODE is the stubbed codec boundary — probe pixels derive from the
    artwork key by portable multiplicative-hash arithmetic (the
    corpus_mix recipe), so both engines see identical 256-pixel images
    and the quantize → count → share-order pipeline value-checks
    end-to-end.
    """
    from tlmc_etl_spark.operators.multimodal import dominant_colors

    art = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 50 == 0)
        .select(F.col("p_partkey").alias("artwork_id"))
    )
    px = art.select(
        "artwork_id", F.explode(F.sequence(F.lit(0), F.lit(255))).alias("i")
    ).select(
        "artwork_id",
        ((F.col("artwork_id") * 2654435761 + F.col("i") * 40503) % 4294967296).alias("v"),
    )
    pixels = px.select(
        "artwork_id",
        (F.col("v") % 256).alias("r"),
        F.expr("(v DIV 256) % 256").alias("g"),
        F.expr("(v DIV 65536) % 256").alias("b"),
    )
    pal = dominant_colors(pixels, "artwork_id", n_colors=8, levels=4)
    return pal.select(
        "artwork_id", F.array_join("colors", ",").alias("colors")
    ).orderBy("artwork_id")


_ARCHIVE_ORACLE = """
SELECT o_orderkey AS archive_key,
       CASE WHEN o_orderkey % 300 = 0 THEN NULL
            WHEN o_orderkey % 3 = 0 THEN 'flat'
            WHEN o_orderkey % 3 = 1 THEN 'nested'
            ELSE 'bundle' END AS layout,
       CASE WHEN o_orderkey % 300 = 0 THEN NULL
            WHEN o_orderkey % 3 = 2 THEN 2 ELSE 1 END AS n_albums,
       o_orderkey % 300 <> 0 AS ok,
       CASE WHEN o_orderkey % 300 = 0 THEN 'not_an_archive' END AS reason
FROM orders WHERE o_orderkey % 100 = 0
"""

_AUDIO_RE = r"\.(flac|mp3|wav|wv|m4a)$"
# extract_plan.py:45-66's name families, verbatim semantics
_DISC_DIR_RE = r"(?i)^(disc|disk|cd)\s*[_\-]?\s*\d+|^\S+[_\s](a|b)side$|\s\d{2}$"
_ALBUM_DIR_RE = r"^(\d{4}[.\-_]|[\[\({])"
_AUX_DIRS = (
    "scans", "scan", "bk", "booklet", "artworks", "artwork", "covers", "images",
    "tracks", "ボイスドラマ", "カレンダー", "サウンドトラック",
)


def _archive_corpus_writer(out_dir: str):
    """The shared deterministic archive corpus: per order key k, one
    album tree (three layout arms keyed k%3, every 300th corrupt)
    stored in a container cycling 7z / zip / rar5 / rar4 by (k//100)%4,
    with per-entry payload sizes derived from k — so SQL can replay
    names, directory structure AND byte sizes closed-form. Used by
    archive_index_scan (layout decisions) and archive_size_audit
    (size/byte accounting)."""
    import os

    import pandas as pd

    from tlmc_etl_spark.operators.rarindex import encode_rar4, encode_rar5
    from tlmc_etl_spark.operators.sevenzip import encode_7z
    from tlmc_etl_spark.operators.zipindex import encode_zip

    def write_archives(batches):
        for pdf in batches:
            paths = []
            for k in pdf["o_orderkey"]:
                k = int(k)
                ext = ("7z", "zip", "rar", "rar")[(k // 100) % 4]
                p = os.path.join(out_dir, f"archive_{k}.{ext}")
                if k % 300 == 0:
                    with open(p, "w", encoding="utf-8") as fh:
                        fh.write("CORRUPT not an archive")
                    paths.append(p)
                    continue
                if k % 3 == 0:
                    entries = [
                        (f"{k % 7 + 1:02d} track.flac", False, b"fLaC" + bytes(k % 97)),
                        ("cover.jpg", False, b"\xff\xd8" + bytes(k % 31)),
                        ("Scans", True, None),
                        ("Scans/booklet01.png", False, b"\x89PNG" + bytes(k % 13)),
                    ]
                elif k % 3 == 1:
                    alb = f"2011.01.01 [ABC-{k}] Album {k}"
                    entries = [
                        (alb, True, None),
                        (f"{alb}/01 track.flac", False, b"fLaC" + bytes(k % 97)),
                        (f"{alb}/cover.jpg", False, b"\xff\xd8" + bytes(k % 31)),
                    ]
                else:
                    a1, a2 = f"[EVT] Album {k}a", f"[EVT] Album {k}b"
                    entries = [
                        (a1, True, None),
                        (f"{a1}/01 track.flac", False, b"fLaC" + bytes(k % 97)),
                        (a2, True, None),
                        (f"{a2}/01 track.mp3", False, b"\xff\xfb" + bytes(k % 41)),
                    ]
                # keys are multiples of 100, so per-container variation
                # must key on k//400 (k%2-style arms would be constant)
                container = (k // 100) % 4
                if container == 0:
                    blob = encode_7z(
                        entries,
                        header_codec="lzma" if (k // 400) % 2 else "copy",
                        solid=bool((k // 800) % 2),
                        mtime_unix=1_300_000_000 + k,
                    )
                elif container == 1:
                    blob = encode_zip(entries, zip64=bool((k // 400) % 2))
                elif container == 2:
                    blob = encode_rar5(entries,
                                       mtime_unix=1_300_000_000 + k)
                else:
                    blob = encode_rar4(entries)
                with open(p, "wb") as fh:
                    fh.write(blob)
                paths.append(p)
            yield pd.DataFrame({"path": paths})

    return write_archives


@query("archive_index_scan", oracle=_ARCHIVE_ORACLE)
def archive_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive header scan + layout plan over REAL archive bytes, end
    to end in-container, across the reference's FULL container surface
    (extract_plan.py:37 ARCHIVE_EXTENSIONS = .7z/.zip/.rar): conformant
    archives cycle through 7z (header codec alternating plain/LZMA,
    pack layout per-file/solid), ZIP (central-directory listing), and
    RAR 5.0/4.x (header-walk listing), each parsed directly with NO
    child process and NO extraction (operators/sevenzip.py, zipindex.py,
    rarindex.py — the in-container `7z l -slt`; the reference shells
    out per archive, extract_plan.py:84-116), and the
    flat/nested/bundle layout decision tree (extract_plan.py:156-199:
    root files → flat; one album-like top dir → nested, strip a level;
    several → bundle) runs relationally over the exploded entries.
    Every 3rd sampled archive is corrupt and must land as its own
    ok=false row (not_an_archive).

    The oracle re-derives layout/album-count from the construction
    arithmetic, so a drift anywhere — any of the four header walks,
    LZMA header decode, dir detection, top-dir/audio/album-pattern
    classification — hash-fails.
    """
    from tlmc_etl_spark.operators.archive import list_archives_inproc

    out_dir = _scratch_dir(spark, "archives", sf_dir)

    spec = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey")
    )

    files = spec.mapInPandas(
        _archive_corpus_writer(out_dir), schema="path string"
    ).localCheckpoint(eager=True)
    entries = list_archives_inproc(files)

    key = F.regexp_extract(
        F.element_at(F.split("archive", "/"), -1), r"archive_(\d+)", 1
    ).cast("long")
    e = entries.select(key.alias("archive_key"), "entry", "is_dir", "ok", "reason")

    bad = (
        e.filter(~F.col("ok"))
        .select(
            "archive_key",
            F.lit(None).cast("string").alias("layout"),
            F.lit(None).cast("long").alias("n_albums"),
            F.lit(False).alias("ok"),
            "reason",
        )
        .distinct()
    )

    good = e.filter(F.col("ok"))
    fdf = good.filter(~F.coalesce("is_dir", F.lit(False)))
    base = good.groupBy("archive_key").agg(
        F.sum(
            F.when(
                (~F.coalesce("is_dir", F.lit(False)))
                & F.col("entry").isNotNull()
                & ~F.col("entry").contains("/"),
                1,
            ).otherwise(0)
        ).alias("n_root_files"),
        F.max(
            F.when(
                (~F.coalesce("is_dir", F.lit(False)))
                & F.lower(F.col("entry")).rlike(_AUDIO_RE),
                1,
            ).otherwise(0)
        ).alias("any_audio"),
        F.sum(F.when(F.col("entry").isNotNull(), 1).otherwise(0)).alias("n_entries"),
    )
    tops = (
        good.filter(
            F.col("entry").isNotNull()
            & (F.coalesce("is_dir", F.lit(False)) | F.col("entry").contains("/"))
        )
        .select("archive_key", F.split("entry", "/").getItem(0).alias("top"))
        .distinct()
    )
    album_like = (
        F.col("top").rlike(_ALBUM_DIR_RE)
        & ~F.col("top").rlike(_DISC_DIR_RE)
        & ~F.lower(F.col("top")).isin(*_AUX_DIRS)
    )
    audio_under = (
        tops.join(
            fdf.select("archive_key", "entry"),
            ["archive_key"],
        )
        .filter(
            F.col("entry").startswith(F.concat(F.col("top"), F.lit("/")))
            & F.lower(F.col("entry")).rlike(_AUDIO_RE)
        )
        .select("archive_key", "top")
        .distinct()
        .withColumn("has_audio", F.lit(True))
    )
    top_stats = (
        tops.join(audio_under, ["archive_key", "top"], "left")
        .groupBy("archive_key")
        .agg(
            F.count(F.lit(1)).alias("n_top_dirs"),
            F.sum(
                F.when(album_like & F.coalesce("has_audio", F.lit(False)), 1).otherwise(0)
            ).alias("n_album_dirs"),
        )
    )
    layout = (
        F.when(F.col("n_entries") == 0, "flat")
        .when(F.col("any_audio") == 0, "flat")
        .when(F.col("n_root_files") > 0, "flat")
        .when((F.col("n_top_dirs") == 1) & (F.col("n_album_dirs") >= 1), "nested")
        .when(F.col("n_album_dirs") > 1, "bundle")
        .otherwise("flat")
    )
    classified = (
        base.join(top_stats, "archive_key", "left")
        .na.fill({"n_top_dirs": 0, "n_album_dirs": 0})
        .select(
            "archive_key",
            layout.alias("layout"),
            F.when(layout == "bundle", F.col("n_album_dirs"))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("n_albums"),
            F.lit(True).alias("ok"),
            F.lit(None).cast("string").alias("reason"),
        )
    )
    return classified.unionByName(bad).orderBy("archive_key")


_ARCHIVE_SIZE_ORACLE = """
WITH k AS (
  SELECT o_orderkey AS key FROM orders WHERE o_orderkey % 100 = 0
), sz AS (
  SELECT key,
         4 + key % 97 AS flac_b,
         2 + key % 31 AS jpg_b,
         4 + key % 13 AS png_b,
         2 + key % 41 AS mp3_b
  FROM k
)
SELECT key AS archive_key,
       CASE WHEN key % 300 = 0 THEN NULL
            WHEN key % 3 = 0 THEN 3
            ELSE 2 END AS n_files,
       CASE WHEN key % 300 = 0 THEN NULL
            WHEN key % 3 = 2 THEN 2 ELSE 1 END AS n_dirs,
       CASE WHEN key % 300 = 0 THEN NULL
            WHEN key % 3 = 0 THEN flac_b + jpg_b + png_b
            WHEN key % 3 = 1 THEN flac_b + jpg_b
            ELSE flac_b + mp3_b END AS total_bytes,
       CASE WHEN key % 300 = 0 THEN NULL
            WHEN key % 3 = 0 THEN greatest(flac_b, jpg_b, png_b)
            WHEN key % 3 = 1 THEN greatest(flac_b, jpg_b)
            ELSE greatest(flac_b, mp3_b) END AS max_file_bytes,
       CASE WHEN key % 300 = 0 THEN NULL
            WHEN key % 3 = 2 THEN flac_b + mp3_b
            ELSE flac_b END AS audio_bytes,
       key % 300 <> 0 AS ok
FROM sz
ORDER BY archive_key
"""


@query("archive_size_audit", oracle=_ARCHIVE_SIZE_ORACLE)
def archive_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-archive byte accounting over the in-process index: the SIZE
    fields of all four container parsers (7z folder/substream unpack
    sizes, ZIP central-directory uncompressed sizes incl. the ZIP64
    extra field, RAR 5.0 vint and 4.x fixed-width unpacked sizes) are
    value-checked against the corpus construction arithmetic — the
    reference's extract stage uses these listings to budget extraction
    disk (extract_plan.py). Corrupt archives stay isolated as ok=false
    rows with null accounting."""
    from tlmc_etl_spark.operators.archive import list_archives_inproc

    out_dir = _scratch_dir(spark, "archive_sizes", sf_dir)
    spec = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey")
    )
    files = spec.mapInPandas(
        _archive_corpus_writer(out_dir), schema="path string"
    ).localCheckpoint(eager=True)
    entries = list_archives_inproc(files)
    key = F.regexp_extract(
        F.element_at(F.split("archive", "/"), -1), r"archive_(\d+)", 1
    ).cast("long")
    e = entries.select(
        key.alias("archive_key"), "entry", "is_dir", "size", "ok"
    )
    is_file = F.col("ok") & ~F.coalesce("is_dir", F.lit(False)) & F.col(
        "entry"
    ).isNotNull()
    is_audio = is_file & F.lower("entry").rlike(_AUDIO_RE)
    return (
        e.groupBy("archive_key")
        .agg(
            F.sum(is_file.cast("int")).alias("files_raw"),
            F.sum(
                (F.col("ok") & F.coalesce("is_dir", F.lit(False))).cast("int")
            ).alias("dirs_raw"),
            F.sum(F.when(is_file, F.col("size"))).alias("total_raw"),
            F.max(F.when(is_file, F.col("size"))).alias("max_raw"),
            F.sum(F.when(is_audio, F.col("size"))).alias("audio_raw"),
            F.min("ok").alias("ok"),
        )
        .select(
            "archive_key",
            F.when(F.col("ok"), F.col("files_raw")).cast("int").alias("n_files"),
            F.when(F.col("ok"), F.col("dirs_raw")).cast("int").alias("n_dirs"),
            F.when(F.col("ok"), F.col("total_raw")).cast("long").alias("total_bytes"),
            F.when(F.col("ok"), F.col("max_raw")).cast("long").alias("max_file_bytes"),
            F.when(F.col("ok"), F.col("audio_raw")).cast("long").alias("audio_bytes"),
            "ok",
        )
        .orderBy("archive_key")
    )


_PROBE_ORACLE = """
SELECT 'order_' || o_orderkey || '.flac' AS fname,
       CASE WHEN o_orderkey % 300 = 0 THEN NULL
            ELSE round((1000 + o_orderkey % 5000) / 1000.0, 6) END AS duration_s,
       CASE WHEN o_orderkey % 300 = 0 THEN NULL ELSE 'flac' END AS codec,
       o_orderkey % 300 <> 0 AS ok,
       CASE WHEN o_orderkey % 300 = 0 THEN 'exit_1' END AS reason
FROM orders WHERE o_orderkey % 100 = 0
"""


@query("subprocess_probe_scan", oracle=_PROBE_ORACLE)
def subprocess_probe_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-UDF probe, executed for REAL: deterministic media files are
    written distributedly, then probed by an actual child process per file
    (tools/fake_ffprobe — the ffprobe interface with content-driven
    failure modes) through operators/process.probe_media_paths.

    Every 3rd sampled order plants a corrupt file, so the driver-visible
    result includes bad-exit rows isolated per the binvec contract. The
    oracle re-derives duration/codec/ok from the same size arithmetic the
    writer used — any drift in spawn/parse/framing hash-fails. Reference:
    info_scanner_ph1.py:550-616 (ffprobe spawn + JSON parse + journal).
    """
    import os
    import sys

    import pandas as pd

    from tlmc_etl_spark.operators.process import probe_media_paths

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    out_dir = _scratch_dir(spark, "probe", sf_dir)

    spec = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", (F.col("o_orderkey") % 300 == 0).alias("corrupt"))
    )

    def write_files(batches):
        for pdf in batches:
            paths = []
            for k, corrupt in zip(pdf["o_orderkey"], pdf["corrupt"]):
                p = os.path.join(out_dir, f"order_{k}.flac")
                body = (
                    b"CORRUPT" + b"x" * 100
                    if corrupt
                    else b"x" * (1000 + int(k) % 5000)
                )
                with open(p, "wb") as fh:
                    fh.write(body)
                paths.append(p)
            yield pd.DataFrame({"path": paths})

    # localCheckpoint materializes the writes BEFORE any probe spawns —
    # the write stage is a side-effecting task, not lazy plan text.
    files = spec.mapInPandas(write_files, schema="path string").localCheckpoint(
        eager=True
    )
    probed = probe_media_paths(
        files,
        probe_cmd=[sys.executable, os.path.join(repo_root, "tools", "fake_ffprobe")],
        timeout_s=30.0,
    )
    return probed.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.round("duration_s", 6).alias("duration_s"),
        "codec",
        "ok",
        "reason",
    ).orderBy("fname")


_LOUDNESS_ORACLE = """
WITH f AS (
  SELECT o_orderkey AS k, 1000 + o_orderkey % 5000 AS L
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT 'track_' || k || '.flac' AS fname,
       CASE WHEN k % 300 = 0 THEN NULL
            WHEN k % 500 = 0 THEN -70.0
            ELSE -(100 + L % 300) / 10.0 END AS i,
       CASE WHEN k % 300 = 0 OR k % 500 = 0 THEN NULL
            ELSE -(L % 80) / 10.0 END AS tp,
       CASE WHEN k % 300 = 0 THEN NULL
            WHEN k % 500 = 0 THEN 0.0
            ELSE (L % 150) / 10.0 END AS lra,
       CASE WHEN k % 300 = 0 THEN NULL
            WHEN k % 500 = 0 THEN 0.0
            ELSE round(least(-14.0 + (100 + L % 300) / 10.0,
                             -1.0 + (L % 80) / 10.0,
                             12.0), 4) END AS gain_db,
       k % 300 <> 0 AS ok,
       CASE WHEN k % 300 = 0 THEN 'exit_1' END AS reason
FROM f ORDER BY fname
"""


@query("subprocess_loudness_scan", oracle=_LOUDNESS_ORACLE)
def subprocess_loudness_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ebur128 loudness measurement, subprocess-real end to end, feeding
    the static-gain formula.

    Deterministic fake audio files are written distributedly, then each is
    measured by an actual child process (tools/fake_ffmpeg — ffmpeg's
    ebur128 stderr summary with content-driven failure modes) through
    operators/process.measure_loudness_paths, and the measurement flows
    straight into the reference's static-gain rule: gain = min(target_I −
    i, target_TP − tp) capped at +12 dB, forced 0 for silence/non-finite
    (loudness_measure.py:85-108,111-143). Every 3rd sampled file is
    corrupt (isolated ok=false row), and every 5th is digitally silent —
    ebur128 reports I = −70 LUFS with Peak = −inf, which must parse (not
    error) and must gain 0 (loudness_measure.py:60-67's silent-track
    lesson, pinned here as data).

    The oracle re-derives i/tp/lra/gain from the same byte-length
    arithmetic the writer used, so drift anywhere — spawn, exit handling,
    -inf/nan summary parse, gain clamp — hash-fails.
    """
    import os
    import sys

    import pandas as pd

    from tlmc_etl_spark.operators.process import measure_loudness_paths

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    out_dir = _scratch_dir(spark, "loudness", sf_dir)

    spec = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 300 == 0).alias("corrupt"),
            (F.col("o_orderkey") % 500 == 0).alias("silent"),
        )
    )

    def write_files(batches):
        for pdf in batches:
            paths = []
            for k, corrupt, silent in zip(
                pdf["o_orderkey"], pdf["corrupt"], pdf["silent"]
            ):
                p = os.path.join(out_dir, f"track_{k}.flac")
                if corrupt:
                    body = b"CORRUPT" + b"x" * 64
                elif silent:
                    body = b"SILENT" + b"\x00" * 64
                else:
                    body = b"x" * (1000 + int(k) % 5000)
                with open(p, "wb") as fh:
                    fh.write(body)
                paths.append(p)
            yield pd.DataFrame({"path": paths})

    # localCheckpoint materializes the writes BEFORE any measurement
    # spawns — the write stage is a side-effecting task, not lazy plan.
    files = spec.mapInPandas(write_files, schema="path string").localCheckpoint(
        eager=True
    )
    measured = measure_loudness_paths(
        files,
        ffmpeg_cmd=[sys.executable, os.path.join(repo_root, "tools", "fake_ffmpeg")],
        timeout_s=30.0,
    )
    gain = F.least(
        F.lit(-14.0) - F.col("i"), F.lit(-1.0) - F.col("tp"), F.lit(12.0)
    )
    return measured.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        "i",
        "tp",
        "lra",
        F.when(~F.col("ok"), F.lit(None).cast("double"))
        .when(F.col("i").isNull() | F.col("tp").isNull() | (F.col("i") <= -60.0), F.lit(0.0))
        .otherwise(F.round(gain, 4))
        .alias("gain_db"),
        "ok",
        "reason",
    ).orderBy("fname")


_FRAME_ORACLE = """
WITH media AS (
  SELECT o_orderkey AS media_id,
         30.0 + (o_orderkey % 240) AS duration_s
  FROM orders WHERE o_orderkey % 50 = 0
)
SELECT m.media_id, t.i AS sample_idx,
       CAST(floor(t.i * 2.0 * 24) AS BIGINT) AS frame_idx,
       round(t.i * 2.0, 3) AS t_offset_s
FROM media m, LATERAL (
  SELECT unnest(generate_series(0, CAST(ceil(m.duration_s / 2.0) AS BIGINT) - 1)) AS i
) t
"""


@query("frame_sample_plan", oracle=_FRAME_ORACLE)
def frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform video frame-sampling plan: one row per sampled frame
    (every 2 s at 24 fps), the work-list a distributed frame decoder
    consumes (the decode itself is the stubbed codec boundary —
    operators/multimodal.decode_payload; this plan is the Spark-side
    contract: which frames, at which timestamps, per media row).

    Pure row-local explode (sequence + posexplode), no shuffle, full
    pruning upstream — the same map-only shape as doc_chunking applied
    to the time axis. Durations derive from the key arithmetically so
    the oracle replays the schedule exactly.
    """
    media = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            F.col("o_orderkey").alias("media_id"),
            (30.0 + (F.col("o_orderkey") % 240)).alias("duration_s"),
        )
    )
    return media.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0), F.ceil(F.col("duration_s") / 2.0).cast("long") - 1
            )
        ).alias("sample_idx"),
    ).select(
        "media_id",
        "sample_idx",
        F.floor(F.col("sample_idx") * 2.0 * 24).cast("long").alias("frame_idx"),
        F.round(F.col("sample_idx") * 2.0, 3).alias("t_offset_s"),
    )


_AUDIO_CHUNK_PLAN_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), d AS (
  SELECT vec_id, CAST((1 + (vec_id % 7) * 2) * 24000 AS BIGINT) AS n_samples
  FROM ids
), c AS (
  SELECT vec_id, n_samples,
         CAST(floor(greatest(n_samples - 144000, 0) / 96000) + 1 AS BIGINT)
           AS base
  FROM d
)
SELECT vec_id AS track_id,
       CAST(base + CASE WHEN (base - 1) * 96000 + 144000 < n_samples
                        THEN 1 ELSE 0 END AS BIGINT) AS n_chunks,
       CAST(base + CASE WHEN (base - 1) * 96000 + 144000 < n_samples
                        THEN 1 ELSE 0 END AS BIGINT) AS n_rows
FROM c ORDER BY track_id
"""


@query("audio_chunk_plan", oracle=_AUDIO_CHUNK_PLAN_ORACLE)
def audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERT-shaped embedding pipeline's chunking contract,
    value-checked end-to-end: 200 deterministic synthetic WAV tracks
    (durations 1-13 s spanning the no-tail / padded-tail cases) run
    through the REAL decode -> chunk -> batch-infer path
    (pipelines/mert_standin.py), and the observed per-track chunk
    counts must equal the closed-form 6 s / 4 s-hop arithmetic the
    DuckDB oracle computes from the durations alone. n_rows ==
    n_chunks additionally proves the pipeline emits exactly one row
    per chunk (no dropped or duplicated chunk indices). Reference
    contract: mert_batched_uuid.py's 6 s / 2 s-overlap chunker."""
    import pandas as pd

    from tlmc_etl_spark.pipelines.mert_standin import (
        audio_chunk_embeddings,
        synth_tone_wav,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def synth(batches):
        for pdf in batches:
            rows = [
                (
                    str(vid),
                    synth_tone_wav(100.0 + (vid % 50) * 10.0, 1 + (vid % 7) * 2),
                )
                for vid in pdf["vec_id"]
            ]
            yield pd.DataFrame(rows, columns=["track_id", "payload"])

    audio = ids.mapInPandas(synth, schema="track_id string, payload binary")
    chunks = audio_chunk_embeddings(audio)
    return (
        chunks.groupBy(F.col("track_id").cast("long").alias("track_id"))
        .agg(
            F.max("n_chunks").cast("long").alias("n_chunks"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .orderBy("track_id")
    )


@query("audio_mel_embeddings")
def audio_mel_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk log-mel embeddings from the same synthetic corpus —
    the full decode -> chunk -> batch-64 collate -> featurize output
    surface (ext tier: the rFFT kernel has no SQL twin; the chunk
    arithmetic half IS oracle-checked by audio_chunk_plan, and the
    kernel's semantics are gated in tests/test_mert_standin.py's
    tone-in-right-mel-band property)."""
    import pandas as pd

    from tlmc_etl_spark.pipelines.mert_standin import (
        audio_chunk_embeddings,
        synth_tone_wav,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(50)
    )

    def synth(batches):
        for pdf in batches:
            rows = [
                (
                    str(vid),
                    synth_tone_wav(100.0 + (vid % 50) * 10.0, 1 + (vid % 5) * 3),
                )
                for vid in pdf["vec_id"]
            ]
            yield pd.DataFrame(rows, columns=["track_id", "payload"])

    audio = ids.mapInPandas(synth, schema="track_id string, payload binary")
    return (
        audio_chunk_embeddings(audio)
        .select(
            F.col("track_id").cast("long").alias("track_id"),
            "chunk_idx",
            "n_chunks",
            F.round(F.element_at("embedding", 1), 6).alias("band0"),
            F.expr(
                "array_position(embedding, array_max(embedding))"
            ).cast("int").alias("peak_band"),
        )
        .orderBy("track_id", "chunk_idx")
    )


_IMAGE_DECODE_ORACLE = """
WITH ids AS (
  SELECT vec_id AS img FROM embeddings ORDER BY vec_id LIMIT 32
), px AS (
  -- the PNG pattern: per-pixel gradient (i*31 + r*7 + c*13) mod 256
  SELECT ids.img, r.r, c.c,
         CAST((ids.img * 31 + r.r * 7 + c.c * 13) % 256 AS DOUBLE) AS v
  FROM ids
  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS r) r
  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS c) c
), png_pool AS (
  -- five encodings of the SAME pixels (8-bit PNG, 16-bit PNG via the
  -- v*257 expansion, Adam7-interlaced PNG, plain and interlaced GIF)
  -- must all decode to this one closed form
  SELECT img, k.kind, (r // 8) * 4 + (c // 8) AS pos, avg(v) AS m
  FROM px
  CROSS JOIN (SELECT unnest(['png', 'png16', 'pngi', 'gif', 'gifi']) AS kind) k
  GROUP BY img, k.kind, (r // 8) * 4 + (c // 8)
), jpeg_pool AS (
  -- the JPEG pattern is block-constant (8x8 blocks), so each pooled
  -- cell IS the generator value; the same closed form covers BOTH the
  -- baseline ('jpeg') and progressive ('jprog') encodes of it — the
  -- two bitstreams share only the quantized coefficients
  SELECT ids.img, k.kind, br.b * 4 + bc.b AS pos,
         CAST((ids.img * 31 + br.b * 7 + bc.b * 13) % 256 AS DOUBLE) AS m
  FROM ids
  CROSS JOIN (SELECT unnest(['jpeg', 'jprog']) AS kind) k
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) br
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bc
), pooled AS (
  SELECT * FROM png_pool UNION ALL SELECT * FROM jpeg_pool
), centered AS (
  SELECT img, kind, pos, m - avg(m) OVER (PARTITION BY img, kind) AS d
  FROM pooled
), norms AS (
  SELECT img, kind, sqrt(sum(d * d)) AS nrm
  FROM centered GROUP BY img, kind
)
SELECT c.img AS img_id, c.kind AS kind, c.pos AS pos,
       round(CASE WHEN n.nrm > 0 THEN c.d / n.nrm ELSE c.d END, 6) AS val
FROM centered c JOIN norms n ON c.img = n.img AND c.kind = n.kind
ORDER BY img_id, c.kind, pos
"""


@query("image_decode_features", oracle=_IMAGE_DECODE_ORACLE)
def image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressed-image decode arms, value-checked end to end: 32
    deterministic images are ENCODED in-plan (a per-pixel gradient as
    real zlib PNG — 8-bit, 16-bit via the v*257 bit-replication, and
    Adam7-interlaced — plus real LZW GIF in both row layouts; a
    block-constant pattern as real baseline AND progressive JPEG —
    constant 8x8 blocks decode bit-exactly through the DC path, so the
    lossy format becomes value-checkable; the progressive arm
    additionally walks SOF2 multi-scan successive approximation +
    EOB-run decode for real), pushed through the SAME decode_payload
    dispatch production uses, and the pooled-luma features must equal
    the closed-form pixel arithmetic DuckDB computes from the generator
    formulas alone. Any defect anywhere in the zlib/filter/Adam7
    reconstruction, the LZW dictionary walk, the Huffman/IDCT path, the
    pooling or the normalization shifts a value."""
    import numpy as np
    import pandas as pd

    from tlmc_etl_spark.operators.jpeg import (
        encode_gray_jpeg,
        encode_gray_progressive,
    )
    from tlmc_etl_spark.operators.multimodal import (
        decode_payload,
        encode_gray_gif,
        encode_gray_png,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(32)
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for img in pdf["vec_id"]:
                r = np.arange(32)[:, None]
                c = np.arange(32)[None, :]
                png_img = (img * 31 + r * 7 + c * 13) % 256
                br = np.repeat(np.arange(4), 8)[:, None]
                bc = np.repeat(np.arange(4), 8)[None, :]
                jpg_img = (img * 31 + br * 7 + bc * 13) % 256
                for kind, payload in (
                    ("png", encode_gray_png(png_img.astype(np.uint8))),
                    ("png16", encode_gray_png(png_img * 257, depth=16)),
                    ("pngi", encode_gray_png(png_img.astype(np.uint8),
                                             interlace=1)),
                    ("gif", encode_gray_gif(png_img)),
                    ("gifi", encode_gray_gif(png_img, interlace=True)),
                    ("jpeg", encode_gray_jpeg(jpg_img.astype(np.float64))),
                    ("jprog", encode_gray_progressive(jpg_img.astype(np.float64))),
                ):
                    feat = decode_payload("image", payload)
                    for pos, val in enumerate(feat):
                        rows.append((int(img), kind, pos, float(val)))
            yield pd.DataFrame(
                rows, columns=["img_id", "kind", "pos", "val"]
            )

    # F.round (HALF_UP), matching DuckDB's round — Python round() is
    # banker's and would diverge on an exact half boundary
    return (
        ids.mapInPandas(run, schema="img_id long, kind string, pos int, val double")
        .withColumn("val", F.round("val", 6))
        .orderBy("img_id", "kind", "pos")
    )


# --------------------------------------------------------------------------
# adts_chunk_plan — AAC/ADTS frame-indexed byte-range chunk work-list
# --------------------------------------------------------------------------

_ADTS_CHUNK_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), t AS (
  SELECT vec_id, CAST(24 + (vec_id % 7) * 47 AS BIGINT) AS n_frames FROM ids
), fr AS (
  SELECT vec_id, n_frames, f.i AS fidx,
         71 + ((vec_id + f.i) % 32) AS flen
  FROM t, LATERAL (
    SELECT unnest(generate_series(0, n_frames - 1)) AS i
  ) f
), off AS (
  SELECT vec_id, fidx, flen,
         COALESCE(SUM(flen) OVER (
           PARTITION BY vec_id ORDER BY fidx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS foff
  FROM fr
), d AS (
  SELECT vec_id, n_frames, n_frames * 1024 AS n_samples FROM t
), c AS (
  SELECT vec_id, n_frames, n_samples,
         CAST(floor(greatest(n_samples - 144000, 0) / 96000) + 1 AS BIGINT)
           AS base
  FROM d
), nch AS (
  SELECT vec_id, n_frames, n_samples,
         base + CASE WHEN (base - 1) * 96000 + 144000 < n_samples
                     THEN 1 ELSE 0 END AS n_chunks
  FROM c
), ch AS (
  SELECT vec_id, n_frames, n_samples, g.k AS chunk_idx
  FROM nch, LATERAL (
    SELECT unnest(generate_series(0, n_chunks - 1)) AS k
  ) g
), geo AS (
  SELECT vec_id, chunk_idx,
         CAST(floor(chunk_idx * 96000 / 1024.0) AS BIGINT) AS first_frame,
         CAST(ceil(least(chunk_idx * 96000 + 144000, n_samples) / 1024.0)
              AS BIGINT) - 1 AS last_frame
  FROM ch
)
SELECT g.vec_id AS track_id,
       CAST(g.chunk_idx AS BIGINT) AS chunk_idx,
       g.first_frame,
       g.last_frame - g.first_frame + 1 AS n_frames,
       CAST(a.foff AS BIGINT) AS byte_start,
       CAST(b.foff + b.flen - a.foff AS BIGINT) AS byte_len
FROM geo g
JOIN off a ON a.vec_id = g.vec_id AND a.fidx = g.first_frame
JOIN off b ON b.vec_id = g.vec_id AND b.fidx = g.last_frame
ORDER BY track_id, chunk_idx
"""


@query("adts_chunk_plan", oracle=_ADTS_CHUNK_ORACLE)
def adts_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AAC/ADTS chunk work-list, value-checked through the REAL framing
    parser: 200 deterministic ADTS elementary streams (variable frame
    payloads, AAC-LC @ 24 kHz) are BUILT as bytes, walked by
    functions/media.parse_adts_frames (sync, layer, 13-bit frame_length
    per header), and the parsed frame index is turned into the 6 s /
    4 s-hop chunk plan over FRAME-ALIGNED BYTE RANGES — per chunk: first
    frame, frame count, byte_start, byte_len. This is the seekable
    work-list the MERT pipeline consumes for its real HLS/AAC input
    (V6-MIGRATION-HANDOFF.md issue G5; hls_assignment.py encodes
    libfdk_aac): a 100 TB audio scan fetches exactly these ranges, never
    whole files. The DuckDB oracle re-derives every byte offset
    arithmetically (cumulative window sum over the deterministic frame
    lengths), so a single bit of disagreement between the byte-walk and
    the closed form fails the hash.

    Plan shape: one map stage (build + parse per track, Arrow-batched),
    then a row-local explode — no shuffle until the final presentation
    sort. Frame geometry lookups are element_at into the parsed array,
    JVM-side."""
    import pandas as pd

    from tlmc_etl_spark.functions.media import make_adts_stream, parse_adts_frames

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def build_and_parse(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n_frames = 24 + (vid % 7) * 47
                stream = make_adts_stream(
                    [64 + ((vid + i) % 32) for i in range(n_frames)]
                )
                frames = parse_adts_frames(stream)
                rows.append(
                    (
                        vid,
                        [f["byte_offset"] for f in frames],
                        [f["byte_length"] for f in frames],
                        sum(f["n_samples"] for f in frames),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["track_id", "offs", "lens", "n_samples"]
            )

    parsed = fanout(ids).mapInPandas(
        build_and_parse,
        schema="track_id long, offs array<long>, lens array<int>, n_samples long",
    )

    base = F.floor(F.greatest(F.col("n_samples") - 144000, F.lit(0)) / 96000) + 1
    n_chunks = base + F.when(
        (base - 1) * 96000 + 144000 < F.col("n_samples"), 1
    ).otherwise(0)
    start = F.col("chunk_idx") * 96000
    end = F.least(start + 144000, F.col("n_samples"))
    ff = F.floor(start / 1024.0)
    lf = F.ceil(end / 1024.0) - 1
    return (
        parsed.withColumn("n_chunks", n_chunks)
        .select(
            "track_id",
            "offs",
            "lens",
            "n_samples",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "track_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            ff.alias("first_frame"),
            (lf - ff + 1).alias("n_frames"),
            F.element_at("offs", (ff + 1).cast("int")).alias("byte_start"),
            (
                F.element_at("offs", (lf + 1).cast("int"))
                + F.element_at("lens", (lf + 1).cast("int"))
                - F.element_at("offs", (ff + 1).cast("int"))
            ).cast("long").alias("byte_len"),
        )
        .orderBy("track_id", "chunk_idx")
    )


# --------------------------------------------------------------------------
# mp3_chunk_plan — bit-reservoir-aware MP3 chunk work-list
# --------------------------------------------------------------------------

_MP3_CHUNK_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), t AS (
  SELECT vec_id,
         CAST(80 + (vec_id % 7) * 60 AS BIGINT) AS n_frames,
         CASE WHEN vec_id % 97 > 0
              THEN 10 + (vec_id % 97) ELSE 0 END AS prefix_len
  FROM ids
), fr AS (
  SELECT vec_id, n_frames, prefix_len, f.i AS fidx,
         (144 * ([32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                 [CAST(1 + ((vec_id + f.i) % 14) AS INT)]) * 1000) // 44100
           + ((vec_id + f.i * 3) % 2) AS flen,
         (vec_id * 7 + f.i * 53) % 512 AS mdb
  FROM t, LATERAL (
    SELECT unnest(generate_series(0, n_frames - 1)) AS i
  ) f
), geo AS (
  SELECT vec_id, n_frames, prefix_len, fidx, flen, mdb,
         flen - 36 AS mbytes,
         prefix_len + COALESCE(SUM(flen) OVER (
           PARTITION BY vec_id ORDER BY fidx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS foff,
         COALESCE(SUM(flen - 36) OVER (
           PARTITION BY vec_id ORDER BY fidx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_main
  FROM fr
), d AS (
  SELECT vec_id, n_frames, n_frames * 1152 AS n_samples FROM t
), c AS (
  SELECT vec_id, n_samples,
         CAST(floor(greatest(n_samples - 264600, 0) / 176400.0) + 1
              AS BIGINT) AS base
  FROM d
), nch AS (
  SELECT vec_id, n_samples,
         base + CASE WHEN (base - 1) * 176400 + 264600 < n_samples
                     THEN 1 ELSE 0 END AS n_chunks
  FROM c
), ch AS (
  SELECT vec_id, n_samples, g.k AS chunk_idx,
         CAST(floor(g.k * 176400 / 1152.0) AS BIGINT) AS first_frame,
         CAST(ceil(least(g.k * 176400 + 264600, n_samples) / 1152.0)
              AS BIGINT) - 1 AS last_frame
  FROM nch, LATERAL (
    SELECT unnest(generate_series(0, n_chunks - 1)) AS k
  ) g
), res AS (
  -- reservoir rule: decode starts at the LARGEST j with
  -- cum_main(j) <= cum_main(first_frame) - main_data_begin(first_frame),
  -- floored at 0 when the stream head can't satisfy the reservoir
  SELECT ch.vec_id, ch.chunk_idx, ch.first_frame, ch.last_frame,
         COALESCE(max(j.fidx), 0) AS decode_start_frame
  FROM ch
  JOIN geo ff ON ff.vec_id = ch.vec_id AND ff.fidx = ch.first_frame
  LEFT JOIN geo j ON j.vec_id = ch.vec_id AND j.fidx <= ch.first_frame
                 AND j.cum_main <= ff.cum_main - ff.mdb
  GROUP BY ALL
)
SELECT r.vec_id AS track_id,
       CAST(r.chunk_idx AS BIGINT) AS chunk_idx,
       r.first_frame, r.decode_start_frame,
       CAST(s.foff AS BIGINT) AS byte_start,
       CAST(e.foff + e.flen - s.foff AS BIGINT) AS byte_len
FROM res r
JOIN geo s ON s.vec_id = r.vec_id AND s.fidx = r.decode_start_frame
JOIN geo e ON e.vec_id = r.vec_id AND e.fidx = r.last_frame
ORDER BY track_id, chunk_idx
"""


@query("mp3_chunk_plan", oracle=_MP3_CHUNK_ORACLE)
def mp3_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-reservoir-aware MP3 chunk work-list, value-checked through the
    REAL framing parser: 200 deterministic MPEG-1 Layer III streams
    (per-frame bitrate/padding variation, 9-bit main_data_begin planted
    in real side-info bytes, ID3v2 prefixes of varying size) are BUILT
    as bytes, walked by functions/media.parse_mp3_frames, and chunked on
    the 6 s / 4 s-hop grid — where, unlike AAC, a chunk's byte range
    must START EARLIER than its first frame: Layer III's bit reservoir
    puts frame k's audio up to 511 bytes back inside previous frames'
    main data, so the plan backs each chunk up to the reservoir start
    (mp3_reservoir_start — the seek rule every gapless MP3 reader
    implements; a reader that fetches only [first_frame..] decodes
    garbage for the first granules). The corpus this serves is 10,084
    mp3 files (Docs/v6-run-record/README.md:127); PCM decode itself
    stays on the declared ffmpeg lane (COVERAGE: the Layer III Huffman
    tables can't be sourced in-container and must not be approximated).

    The DuckDB oracle re-derives the frame geometry, the cumulative
    main-data ledger, AND the reservoir walk-back (as a max-join over
    the cum ledger) from the key arithmetic alone — the Python byte-walk
    and the SQL closed form must agree on every byte.

    Plan shape: one map stage (build + parse + chunk per track — file
    locality is the point: at 100 TB each worker indexes its own files),
    row explode inside the stage, presentation sort only."""
    import pandas as pd

    from tlmc_etl_spark.functions.media import (
        make_mp3_stream,
        mp3_reservoir_start,
        parse_mp3_frames,
    )
    from tlmc_etl_spark.pipelines.mert_standin import chunk_starts

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )
    W, H, SPF = 264600, 176400, 1152  # 6 s / 4 s hop at 44.1 kHz

    def plan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n_frames = 80 + (vid % 7) * 60
                specs = [
                    (
                        1 + ((vid + i) % 14),
                        (vid + i * 3) % 2,
                        (vid * 7 + i * 53) % 512,
                    )
                    for i in range(n_frames)
                ]
                stream = make_mp3_stream(specs, id3v2_bytes=vid % 97)
                frames = parse_mp3_frames(stream)
                n_samples = sum(f["n_samples"] for f in frames)
                for k, start in enumerate(chunk_starts(n_samples, W, H)):
                    ff = start // SPF
                    lf = -(-min(start + W, n_samples) // SPF) - 1
                    ds = mp3_reservoir_start(frames, ff)
                    rows.append(
                        (
                            vid,
                            k,
                            ff,
                            ds,
                            frames[ds]["byte_offset"],
                            frames[lf]["byte_offset"]
                            + frames[lf]["byte_length"]
                            - frames[ds]["byte_offset"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "chunk_idx", "first_frame",
                    "decode_start_frame", "byte_start", "byte_len",
                ],
            )

    return fanout(ids).mapInPandas(
        plan,
        schema=(
            "track_id long, chunk_idx long, first_frame long, "
            "decode_start_frame long, byte_start long, byte_len long"
        ),
    ).orderBy("track_id", "chunk_idx")


# --------------------------------------------------------------------------
# h264_chunk_plan — keyframe-aligned video chunk work-list
# --------------------------------------------------------------------------

_H264_CHUNK_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), t AS (
  SELECT vec_id,
         CAST(3 + vec_id % 5 AS BIGINT) AS n_gops,
         CAST(12 + (vec_id % 4) * 6 AS BIGINT) AS fpg
  FROM ids
), nal AS (
  -- NAL j of GOP g: j=0 SPS, j=1 PPS, j=2 IDR, j>=3 P-slice; lengths =
  -- 4 (start code 0x000001 + header) + deterministic payload
  SELECT vec_id, n_gops, fpg, g.g, j.j,
         (g.g * (2 + fpg) + j.j) AS nidx,
         4 + CASE
               WHEN j.j = 0 THEN 10 + vec_id % 7
               WHEN j.j = 1 THEN 4
               WHEN j.j = 2 THEN 200 + (vec_id + g.g) % 50
               ELSE 60 + (vec_id * 3 + g.g * 7 + (j.j - 3)) % 40
             END AS nlen
  FROM t,
  LATERAL (SELECT unnest(generate_series(0, n_gops - 1)) AS g) g,
  LATERAL (SELECT unnest(generate_series(0, fpg + 1)) AS j) j
), off AS (
  SELECT vec_id, n_gops, fpg, nidx, nlen,
         COALESCE(SUM(nlen) OVER (
           PARTITION BY vec_id ORDER BY nidx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS noff
  FROM nal
), d AS (
  SELECT vec_id, n_gops, fpg, n_gops * fpg AS total_frames FROM t
), ch AS (
  SELECT vec_id, fpg, total_frames, g.k AS chunk_idx,
         g.k * 36 AS first_frame,
         least((g.k + 1) * 36, total_frames) - 1 AS last_frame
  FROM d, LATERAL (
    SELECT unnest(generate_series(
      0, CAST(ceil(total_frames / 36.0) AS BIGINT) - 1)) AS k
  ) g
), geo AS (
  -- frame f lives in GOP floor(f/fpg); its NAL = g*(2+fpg) + 2 + f%fpg;
  -- the decode start is that GOP's SPS = NAL g*(2+fpg)
  SELECT vec_id, chunk_idx, first_frame,
         (first_frame // fpg) * (2 + fpg) AS start_nal,
         (last_frame // fpg) * (2 + fpg) + 2 + (last_frame % fpg)
           AS last_nal
  FROM ch
)
SELECT g.vec_id AS track_id,
       CAST(g.chunk_idx AS BIGINT) AS chunk_idx,
       CAST(g.first_frame AS BIGINT) AS first_frame,
       CAST(g.start_nal AS BIGINT) AS start_nal,
       CAST(a.noff AS BIGINT) AS byte_start,
       CAST(b.noff + b.nlen - a.noff AS BIGINT) AS byte_len
FROM geo g
JOIN off a ON a.vec_id = g.vec_id AND a.nidx = g.start_nal
JOIN off b ON b.vec_id = g.vec_id AND b.nidx = g.last_nal
ORDER BY track_id, chunk_idx
"""


@query("h264_chunk_plan", oracle=_H264_CHUNK_ORACLE)
def h264_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe-aligned H.264 chunk work-list through the REAL Annex-B
    framing parser: 200 deterministic GOP-structured elementary streams
    (SPS+PPS+IDR+P-slices per GOP, varying payload sizes) are BUILT as
    bytes, walked by functions/media.parse_annexb_nals (start-code scan,
    NAL headers, forbidden-bit check), and chunked on a 36-frame grid —
    where each chunk's byte range backs up to h264_keyframe_start: the
    latest IDR at-or-before the chunk's first frame plus the SPS/PPS run
    in front of it, because a mid-stream decoder without reference
    frames and parameter sets produces garbage (the video analogue of
    MP3's bit-reservoir walk-back; same seek rule HLS segmenters apply).
    Entropy decode (CABAC/CAVLC) stays at the declared codec boundary —
    the framing layer is structural and exactly verifiable.

    The DuckDB oracle re-derives the full NAL layout (per-GOP generate_
    series, cumulative offset ledger) and the keyframe rule as closed-
    form arithmetic — byte-walk vs closed form must agree exactly.

    Plan shape: per-file build+parse+chunk in one map stage, explode
    inside it, presentation sort only — file locality, zero shuffles."""
    import pandas as pd

    from tlmc_etl_spark.functions.media import (
        h264_keyframe_start,
        make_nal,
        parse_annexb_nals,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def plan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n_gops = 3 + vid % 5
                fpg = 12 + (vid % 4) * 6
                stream = bytearray()
                for g in range(n_gops):
                    stream += make_nal(7, 10 + vid % 7)
                    stream += make_nal(8, 4)
                    stream += make_nal(5, 200 + (vid + g) % 50)
                    for i in range(fpg - 1):
                        stream += make_nal(
                            1, 60 + (vid * 3 + g * 7 + i) % 40
                        )
                nals = parse_annexb_nals(bytes(stream))
                total_frames = n_gops * fpg
                for k in range(-(-total_frames // 36)):
                    ff = k * 36
                    lf = min((k + 1) * 36, total_frames) - 1
                    ff_nal = (ff // fpg) * (2 + fpg) + 2 + (ff % fpg)
                    lf_nal = (lf // fpg) * (2 + fpg) + 2 + (lf % fpg)
                    sn = h264_keyframe_start(nals, ff_nal)
                    rows.append(
                        (
                            vid, k, ff, sn,
                            nals[sn]["byte_offset"],
                            nals[lf_nal]["byte_offset"]
                            + nals[lf_nal]["byte_length"]
                            - nals[sn]["byte_offset"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "chunk_idx", "first_frame", "start_nal",
                    "byte_start", "byte_len",
                ],
            )

    return fanout(ids).mapInPandas(
        plan,
        schema=(
            "track_id long, chunk_idx long, first_frame long, "
            "start_nal long, byte_start long, byte_len long"
        ),
    ).orderBy("track_id", "chunk_idx")


# --------------------------------------------------------------------------
# wv_chunk_plan — WavPack block-indexed byte-range chunk work-list
# --------------------------------------------------------------------------

_WV_CHUNK_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), t AS (
  SELECT vec_id,
         CAST(3000 + (vec_id % 4) * 500 AS BIGINT) AS bs,
         CAST(16 + (vec_id % 5) * 13 AS BIGINT) AS n_blocks
  FROM ids
), fr AS (
  SELECT vec_id, bs, n_blocks, f.i AS bidx,
         82 + ((vec_id + f.i) % 40) AS blen
  FROM t, LATERAL (
    SELECT unnest(generate_series(0, n_blocks - 1)) AS i
  ) f
), off AS (
  SELECT vec_id, bidx, blen,
         CAST(COALESCE(SUM(blen) OVER (
           PARTITION BY vec_id ORDER BY bidx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS boff
  FROM fr
), d AS (
  SELECT vec_id, bs, bs * n_blocks AS n_samples FROM t
), c AS (
  SELECT vec_id, bs, n_samples,
         CAST(floor(greatest(n_samples - 264600, 0) / 176400) + 1 AS BIGINT)
           AS base
  FROM d
), nch AS (
  SELECT vec_id, bs, n_samples,
         base + CASE WHEN (base - 1) * 176400 + 264600 < n_samples
                     THEN 1 ELSE 0 END AS n_chunks
  FROM c
), ch AS (
  SELECT vec_id, bs, n_samples, g.k AS chunk_idx
  FROM nch, LATERAL (
    SELECT unnest(generate_series(0, n_chunks - 1)) AS k
  ) g
), geo AS (
  SELECT vec_id, chunk_idx,
         (chunk_idx * 176400) // bs AS first_block,
         (least(chunk_idx * 176400 + 264600, n_samples) + bs - 1) // bs - 1
           AS last_block
  FROM ch
)
SELECT g.vec_id AS track_id,
       CAST(g.chunk_idx AS BIGINT) AS chunk_idx,
       g.first_block,
       g.last_block - g.first_block + 1 AS n_blocks,
       o1.boff AS byte_start,
       o2.boff + o2.blen - o1.boff AS byte_len
FROM geo g
JOIN off o1 ON o1.vec_id = g.vec_id AND o1.bidx = g.first_block
JOIN off o2 ON o2.vec_id = g.vec_id AND o2.bidx = g.last_block
ORDER BY track_id, chunk_idx
"""


@query("wv_chunk_plan", oracle=_WV_CHUNK_ORACLE)
def wv_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WavPack chunk work-list, value-checked through the REAL block
    walk: 200 deterministic .wv streams (per-track block size, variable
    block byte lengths) are BUILT as bytes, indexed by
    functions/media.parse_wvpk_blocks (32-byte "wvpk" headers: size,
    sample index, sample count — wavpack.com file_format.txt), and the
    block index becomes the 6 s / 4 s-hop chunk plan over BLOCK-ALIGNED
    BYTE RANGES. .wv is in the corpus's audio whitelist
    (extract_plan.py:45); the reference probes it via ffprobe — this
    lane gives the seekable geometry with no child process and no
    decode, completing the framing family (ADTS/MP3/H.264/FLAC/WavPack).
    The DuckDB oracle re-derives every byte offset arithmetically, so
    any disagreement between the byte walk and the closed form
    hash-fails. Plan shape: one map stage, rows emitted in-task — no
    shuffle until the presentation sort."""
    import pandas as pd

    from tlmc_etl_spark.functions.media import (
        make_wvpk_stream,
        parse_wvpk_blocks,
    )
    from tlmc_etl_spark.pipelines.mert_standin import chunk_starts

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def plan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                bs = 3000 + (vid % 4) * 500
                n_blocks = 16 + (vid % 5) * 13
                stream = make_wvpk_stream(
                    [bs] * n_blocks,
                    [50 + ((vid + i) % 40) for i in range(n_blocks)],
                )
                blocks = parse_wvpk_blocks(stream)
                n_samples = blocks[0]["total_samples"]
                assert n_samples == sum(b["block_samples"] for b in blocks)
                window, hop = 264600, 176400  # 6 s / 4 s at 44.1 kHz
                for k, start in enumerate(chunk_starts(n_samples, window, hop)):
                    end = min(start + window, n_samples)
                    ff = start // bs
                    lf = (end + bs - 1) // bs - 1
                    b0, b1 = blocks[ff], blocks[lf]
                    rows.append(
                        (
                            vid, k, ff, lf - ff + 1,
                            b0["byte_offset"],
                            b1["byte_offset"] + b1["byte_length"]
                            - b0["byte_offset"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "chunk_idx", "first_block", "n_blocks",
                    "byte_start", "byte_len",
                ],
            )

    return fanout(ids).mapInPandas(
        plan,
        schema=(
            "track_id long, chunk_idx long, first_block long, "
            "n_blocks long, byte_start long, byte_len long"
        ),
    ).orderBy("track_id", "chunk_idx")


# --------------------------------------------------------------------------
# m4a_chunk_plan — MP4 sample-table byte-range chunk work-list
# --------------------------------------------------------------------------

# mdat payload base: ftyp(28) + moov(466 + 4*n_frames + 4*n_chunks) +
# mdat header(8) — the writer's box arithmetic, replayed closed-form so
# a size drift anywhere in the box layout hash-fails.
_M4A_CHUNK_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), t AS (
  SELECT vec_id,
         CAST(40 + (vec_id % 9) * 25 AS BIGINT) AS n_frames,
         CAST(4 + vec_id % 5 AS BIGINT) AS spc
  FROM ids
), fr AS (
  SELECT vec_id, n_frames, spc, f.i AS fidx,
         100 + ((vec_id + f.i) % 53) AS fsize
  FROM t, LATERAL (
    SELECT unnest(generate_series(0, n_frames - 1)) AS i
  ) f
), off AS (
  SELECT vec_id, n_frames, spc, fidx, fsize,
         CAST(502 + 4 * n_frames + 4 * ((n_frames + spc - 1) // spc)
           + COALESCE(SUM(fsize) OVER (
               PARTITION BY vec_id ORDER BY fidx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS foff
  FROM fr
), d AS (
  SELECT vec_id, n_frames * 1024 AS n_samples FROM t
), c AS (
  SELECT vec_id, n_samples,
         CAST(floor(greatest(n_samples - 264600, 0) / 176400) + 1 AS BIGINT)
           AS base
  FROM d
), nch AS (
  SELECT vec_id, n_samples,
         base + CASE WHEN (base - 1) * 176400 + 264600 < n_samples
                     THEN 1 ELSE 0 END AS n_chunks
  FROM c
), ch AS (
  SELECT vec_id, n_samples, g.k AS chunk_idx
  FROM nch, LATERAL (
    SELECT unnest(generate_series(0, n_chunks - 1)) AS k
  ) g
), geo AS (
  SELECT vec_id, chunk_idx,
         (chunk_idx * 176400) // 1024 AS first_frame,
         (least(chunk_idx * 176400 + 264600, n_samples) + 1023) // 1024 - 1
           AS last_frame
  FROM ch
)
SELECT g.vec_id AS track_id,
       CAST(g.chunk_idx AS BIGINT) AS chunk_idx,
       g.first_frame,
       g.last_frame - g.first_frame + 1 AS n_frames,
       o1.foff AS byte_start,
       o2.foff + o2.fsize - o1.foff AS byte_len
FROM geo g
JOIN off o1 ON o1.vec_id = g.vec_id AND o1.fidx = g.first_frame
JOIN off o2 ON o2.vec_id = g.vec_id AND o2.fidx = g.last_frame
ORDER BY track_id, chunk_idx
"""


@query("m4a_chunk_plan", oracle=_M4A_CHUNK_ORACLE)
def m4a_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/M4A chunk work-list through the REAL ISO BMFF sample tables:
    200 deterministic .m4a files (per-track frame counts, variable
    sample sizes, per-track samples-per-chunk interleave) are BUILT
    with real stts/stsz/stsc/stco boxes, parsed back by
    functions/media.parse_m4a_sample_index (box walk → per-sample byte
    offsets via the stsc chunk runs), and the index becomes the
    6 s / 4 s-hop chunk plan over SAMPLE-ALIGNED BYTE RANGES. .m4a is
    in the corpus's audio whitelist (extract_plan.py:45); the reference
    probes it via ffprobe — the sample tables give the same geometry
    with no child process. The oracle replays the planted table
    arithmetic INCLUDING the absolute mdat base (the writer's box-size
    arithmetic, 502 + 4·frames + 4·chunks), so a drift anywhere in the
    box walk, the stsc expansion or the offset cumsum hash-fails."""
    import pandas as pd

    from tlmc_etl_spark.functions.media import (
        make_m4a,
        parse_m4a_sample_index,
    )
    from tlmc_etl_spark.pipelines.mert_standin import chunk_starts

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def plan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n_frames = 40 + (vid % 9) * 25
                sizes = [100 + ((vid + i) % 53) for i in range(n_frames)]
                enc = make_m4a(
                    sizes, timescale=44100, sample_delta=1024,
                    samples_per_chunk=4 + vid % 5,
                )
                idx = parse_m4a_sample_index(enc)
                offs = idx["sample_offsets"]
                szs = idx["sample_sizes"]
                n_samples = idx["n_samples"] * 1024
                window, hop = 264600, 176400
                for k, start in enumerate(chunk_starts(n_samples, window, hop)):
                    end = min(start + window, n_samples)
                    ff = start // 1024
                    lf = (end + 1023) // 1024 - 1
                    rows.append(
                        (
                            vid, k, ff, lf - ff + 1,
                            offs[ff], offs[lf] + szs[lf] - offs[ff],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "chunk_idx", "first_frame", "n_frames",
                    "byte_start", "byte_len",
                ],
            )

    return fanout(ids).mapInPandas(
        plan,
        schema=(
            "track_id long, chunk_idx long, first_frame long, "
            "n_frames long, byte_start long, byte_len long"
        ),
    ).orderBy("track_id", "chunk_idx")


# --------------------------------------------------------------------------
# flac_cue_seek_plan — cue-sheet split as byte ranges via FLAC SEEKTABLE
# --------------------------------------------------------------------------

_FLAC_CUE_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), t AS (
  SELECT vec_id,
         CAST(4 + vec_id % 6 AS BIGINT) AS n_tracks,
         CAST(40 + vec_id % 23 AS BIGINT) AS seg_s
  FROM ids
), dims AS (
  SELECT vec_id, n_tracks, seg_s,
         n_tracks * seg_s * 44100 + 30 * 44100 AS total_samples
  FROM t
), geo AS (
  SELECT vec_id, n_tracks, seg_s, total_samples,
         CAST(ceil(total_samples / 441000.0) AS BIGINT) AS k_max,
         -- audio data starts after fLaC(4) + STREAMINFO(4+34) +
         -- SEEKTABLE header(4) + 18 bytes per point incl. 2 placeholders
         46 + 18 * (CAST(ceil(total_samples / 441000.0) AS BIGINT) + 1 + 2)
           AS audio_offset
  FROM dims
), tr AS (
  SELECT g.vec_id, g.seg_s, g.total_samples, g.k_max, g.audio_offset,
         n.t AS track_number,
         (n.t - 1) * g.seg_s * 75 + ((g.vec_id + n.t) % 75) AS start_frames
  FROM geo g, LATERAL (
    SELECT unnest(generate_series(1, g.n_tracks)) AS t
  ) n
), rng AS (
  SELECT vec_id, track_number, k_max, audio_offset,
         start_frames * 588 AS start_sample,
         COALESCE(
           lead(start_frames * 588) OVER (
             PARTITION BY vec_id ORDER BY track_number),
           total_samples) AS end_sample
  FROM tr
)
SELECT vec_id AS track_id,
       CAST(track_number AS INT) AS track_number,
       CAST(start_sample AS BIGINT) AS start_sample,
       CAST(end_sample AS BIGINT) AS end_sample,
       (start_sample // 441000) * 441000 AS seek_sample,
       CAST(audio_offset
            + (start_sample // 441000) * 180000
            + (vec_id + 3 * (start_sample // 441000)) % 1000
            AS BIGINT) AS byte_start,
       CAST(audio_offset
            + CAST(ceil(end_sample / 441000.0) AS BIGINT) * 180000
            + (vec_id + 3 * CAST(ceil(end_sample / 441000.0) AS BIGINT))
              % 1000
            AS BIGINT) AS byte_end
FROM rng
ORDER BY track_id, track_number
"""


@query("flac_cue_seek_plan", oracle=_FLAC_CUE_ORACLE)
def flac_cue_seek_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cue-sheet split of a FLAC album as PURE BYTE RANGES, composing two
    real parsers: the cue parser (functions/media.parse_cue — the
    CueSharp replacement, cue_designator.py's job) yields each track's
    start in 75 fps cue frames, and the FLAC metadata walk
    (parse_flac_metadata) yields the SEEKTABLE — the only way to seek a
    FLAC without decoding, since FLAC frame headers don't carry frame
    length. Each cue track becomes [latest seek point <= track start,
    earliest seek point >= track end): the decode-and-trim window the
    reference's CueSplitter hands to ffmpeg per track, here planned as a
    byte-range read per 100 TB-scan conventions. 200 deterministic
    albums: cue TEXT and FLAC HEADER BYTES are built, parsed by the real
    parsers, and joined; the DuckDB oracle re-derives cue frame
    arithmetic (588 samples per cue frame), the seek-point ladder, and
    the byte offsets in closed form.

    Plan shape: one map stage per album (build + two parses + range
    join driver-side per file), row explode inside, presentation sort."""
    import bisect

    import pandas as pd

    from tlmc_etl_spark.functions.media import (
        make_flac_with_seektable,
        parse_cue,
        parse_flac_metadata,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def plan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n_tracks = 4 + vid % 6
                seg_s = 40 + vid % 23
                total = n_tracks * seg_s * 44100 + 30 * 44100
                # build the cue text and parse it with the REAL parser
                lines = ['FILE "album.flac" WAVE']
                for tno in range(1, n_tracks + 1):
                    fr = (tno - 1) * seg_s * 75 + ((vid + tno) % 75)
                    lines.append(f"  TRACK {tno:02d} AUDIO")
                    lines.append(
                        f"    INDEX 01 {fr // 75 // 60:02d}:"
                        f"{(fr // 75) % 60:02d}:{fr % 75:02d}"
                    )
                cue_tracks = parse_cue("\n".join(lines))
                # build the FLAC header and parse it with the REAL parser
                k_max = -(-total // 441000)
                pts = [
                    (k * 441000, k * 180000 + (vid + 3 * k) % 1000, 4096)
                    for k in range(k_max + 1)
                ]
                meta = parse_flac_metadata(
                    make_flac_with_seektable(44100, total, pts, n_placeholders=2)
                )
                samples = [p[0] for p in meta["seekpoints"]]
                offs = [p[1] for p in meta["seekpoints"]]
                ao = meta["audio_offset"]
                starts = [ct["index01_frames"] * 588 for ct in cue_tracks]
                for i, ct in enumerate(cue_tracks):
                    s = starts[i]
                    e = starts[i + 1] if i + 1 < len(starts) else total
                    k0 = bisect.bisect_right(samples, s) - 1
                    k1 = bisect.bisect_left(samples, e)
                    rows.append(
                        (
                            vid, ct["track_number"], s, e, samples[k0],
                            ao + offs[k0], ao + offs[k1],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "track_number", "start_sample",
                    "end_sample", "seek_sample", "byte_start", "byte_end",
                ],
            )

    return fanout(ids).mapInPandas(
        plan,
        schema=(
            "track_id long, track_number int, start_sample long, "
            "end_sample long, seek_sample long, byte_start long, "
            "byte_end long"
        ),
    ).orderBy("track_id", "track_number")


# --------------------------------------------------------------------------
# sps_resolution_ladder — SPS-parsed source resolution gating HLS rungs
# --------------------------------------------------------------------------

_SPS_LADDER_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), src AS (
  SELECT vec_id,
         CAST(16 * (40 + (vec_id % 5) * 20) AS BIGINT) AS width,
         CAST(16 * (23 + (vec_id % 4) * 11) - 2 * (vec_id % 4) AS BIGINT)
           AS height
  FROM ids
), rung AS (
  SELECT unnest([2160, 1440, 1080, 720, 480, 360]) AS rung_h
)
SELECT s.vec_id AS track_id, s.width, s.height,
       CAST(r.rung_h AS BIGINT) AS rung_h,
       -- scale preserving aspect, rounded to the nearest EVEN width
       CAST(2 * round(s.width * r.rung_h / s.height / 2.0) AS BIGINT)
         AS rung_w
FROM src s JOIN rung r ON r.rung_h <= s.height
ORDER BY track_id, rung_h DESC
"""


@query("sps_resolution_ladder", oracle=_SPS_LADDER_ORACLE)
def sps_resolution_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLS ladder rungs gated by SOURCE resolution parsed from a REAL
    H.264 SPS: per track an SPS NAL is BUILT (baseline profile,
    Exp-Golomb, crop bits for non-multiple-of-16 heights), parsed by
    functions/media.parse_sps (emulation-prevention strip + ue/se
    decode), and only rungs at or below the parsed height are planned —
    never upscale (hls_assignment.py's ladder contract keyed on ffprobe
    resolution; this is the in-engine arm of that probe). The DuckDB
    oracle re-derives the dimensions from the key arithmetic alone, so a
    single mis-parsed Exp-Golomb field shifts a value and fails the
    hash. One map stage + row explode, presentation sort only."""
    import pandas as pd

    from tlmc_etl_spark.functions.media import make_sps, parse_sps

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )
    RUNGS = (2160, 1440, 1080, 720, 480, 360)

    def plan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                w = 16 * (40 + (vid % 5) * 20)
                h = 16 * (23 + (vid % 4) * 11) - 2 * (vid % 4)
                meta = parse_sps(make_sps(w, h))
                for rung in RUNGS:
                    if rung <= meta["height"]:
                        rows.append(
                            (
                                vid,
                                meta["width"],
                                meta["height"],
                                rung,
                                # floor(x+0.5): HALF_UP like DuckDB's
                                # round — Python round() is banker's
                                2 * int(meta["width"] * rung
                                        / meta["height"] / 2.0 + 0.5),
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=["track_id", "width", "height", "rung_h", "rung_w"],
            )

    return ids.mapInPandas(
        plan,
        schema=(
            "track_id long, width long, height long, rung_h long, "
            "rung_w long"
        ),
    ).orderBy("track_id", F.col("rung_h").desc())


# --------------------------------------------------------------------------
# mp3_vbr_header_scan — O(1) duration via the Xing/Info tag
# --------------------------------------------------------------------------

_XING_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), t AS (
  SELECT vec_id,
         CAST(1000 + (vec_id % 977) * 7 AS BIGINT) AS n_frames,
         CAST(417 * (1000 + (vec_id % 977) * 7) + vec_id % 417 AS BIGINT)
           AS n_bytes
  FROM ids
)
SELECT vec_id AS track_id,
       CASE WHEN vec_id % 3 = 0 THEN 'Info' ELSE 'Xing' END AS tag,
       n_frames, n_bytes,
       round(n_frames * 1152 / 44100.0, 6) AS duration_s,
       CAST((vec_id + (50 * 255) // 99) % 256 AS BIGINT) AS toc_mid
FROM t ORDER BY track_id
"""


@query("mp3_vbr_header_scan", oracle=_XING_ORACLE)
def mp3_vbr_header_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(1) MP3 duration via the Xing/Info VBR tag in frame 0 — what a
    100 TB scan reads instead of walking every frame (the mutagen-grade
    metadata path, backfill_file_metadata.py). 200 deterministic frame-0
    tags (frame/byte counts, 100-point seek TOC) are BUILT as real side-
    info bytes and parsed by functions/media.parse_xing_header; the
    oracle re-derives every field from key arithmetic, including the
    TOC's midpoint entry — a single mis-read offset or a fabricated zero
    (the truncation trap the round-10 review closed) fails the hash."""
    import pandas as pd

    from tlmc_etl_spark.functions.media import make_xing_frame, parse_xing_header

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def scan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                nf = 1000 + (vid % 977) * 7
                nb = 417 * nf + vid % 417
                toc = [(vid + i * 255 // 99) % 256 for i in range(100)]
                x = parse_xing_header(
                    make_xing_frame(nf, nb, toc, vbr=vid % 3 != 0)
                )
                rows.append(
                    (
                        vid, x["tag"], x["n_frames"], x["n_bytes"],
                        x["duration_s"], x["toc"][50],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "tag", "n_frames", "n_bytes",
                    "duration_s", "toc_mid",
                ],
            )

    return fanout(ids).mapInPandas(
        scan,
        schema=(
            "track_id long, tag string, n_frames long, n_bytes long, "
            "duration_s double, toc_mid long"
        ),
    ).orderBy("track_id")


# --------------------------------------------------------------------------
# flac_decode_features — full in-container FLAC PCM decode, value-checked
# --------------------------------------------------------------------------

_FLAC_DECODE_ORACLE = """
WITH ids AS (
  SELECT vec_id AS id FROM embeddings ORDER BY vec_id LIMIT 24
), t AS (
  SELECT id, CAST(2048 + (id % 5) * 512 AS BIGINT) AS n FROM ids
), samp AS (
  SELECT id, n, i.i AS i,
         ((id % 9) + 2) * (i.i % 257) + ((i.i * 7 + id) % 23) - 11 AS l,
         ((id % 7) + 1) * (i.i % 211) + ((i.i * 5 + id) % 19) - 9 AS r
  FROM t, LATERAL (
    SELECT unnest(generate_series(0, n - 1)) AS i
  ) i
), chan AS (
  SELECT id, n, i, 0 AS ch, l AS v FROM samp
  UNION ALL
  SELECT id, n, i, 1 AS ch, r FROM samp
)
SELECT id AS track_id,
       ch,
       CAST(i // (n // 8) AS INT) AS win,
       CAST(ceil(n / 1024.0) AS INT) AS n_frames,
       CAST(SUM(v) AS BIGINT) AS s_sum,
       CAST(MIN(v) AS BIGINT) AS s_min,
       CAST(MAX(v) AS BIGINT) AS s_max
FROM chan
GROUP BY id, ch, i // (n // 8), n
ORDER BY track_id, ch, win
"""


@query("flac_decode_features", oracle=_FLAC_DECODE_ORACLE)
def flac_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL FLAC lane, value-checked end to end: 24 deterministic
    stereo PCM signals are ENCODED in-plan as conformant FLAC
    (operators/flac.py — ids rotate through all four stereo
    decorrelation modes and alternate fixed-predictor vs LPC subframes,
    so every §9.2 decode path runs), then DECODED back and reduced to
    per-channel window stats. FLAC is lossless, so the stats must equal
    the closed-form integer arithmetic DuckDB computes from the
    generator formulas alone — any defect in Rice coding, the
    predictors, stereo reconstruction, or the CRC-gated frame walk
    shifts a value. This is the in-container equivalent of the
    reference's soundfile/ffmpeg FLAC load
    (Experimental/vector_search/loader.py:113-146)."""
    import numpy as np
    import pandas as pd

    from tlmc_etl_spark.operators.flac import encode_flac, parse_flac_audio

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(24)
    )

    _STEREO = ("independent", "left_side", "right_side", "mid_side")

    def run(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n = 2048 + (vid % 5) * 512
                i = np.arange(n, dtype=np.int64)
                left = ((vid % 9) + 2) * (i % 257) + ((i * 7 + vid) % 23) - 11
                right = ((vid % 7) + 1) * (i % 211) + ((i * 5 + vid) % 19) - 9
                pcm = np.stack([left, right], axis=1)
                payload = encode_flac(
                    pcm, 44100,
                    block_size=1024,
                    stereo=_STEREO[vid % 4],
                    mode="lpc" if vid % 2 else "auto",
                    lpc_order=8,
                    partition_order=2 if vid % 3 == 0 else 0,
                )
                dec = parse_flac_audio(payload)
                got = dec["samples"]
                win = n // 8
                for ch in range(2):
                    for w in range(8):
                        seg = got[w * win : (w + 1) * win, ch]
                        rows.append(
                            (
                                vid, ch, w, dec["n_frames"],
                                int(seg.sum()), int(seg.min()),
                                int(seg.max()),
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "ch", "win", "n_frames",
                    "s_sum", "s_min", "s_max",
                ],
            )

    # round-robin the id list across tasks: the codec work is
    # CPU-bound Python per file, and a post-limit id list otherwise
    # lands in ONE partition (serial decode)
    return fanout(ids).mapInPandas(
        run,
        schema=(
            "track_id long, ch int, win int, n_frames int, "
            "s_sum long, s_min long, s_max long"
        ),
    ).orderBy("track_id", "ch", "win")


# --------------------------------------------------------------------------
# flac_tag_scan — VORBIS_COMMENT parse + the ph2 filename/tag coalesce
# --------------------------------------------------------------------------

def _tag_precedence_select(parsed, *extra_cols: str):
    """The reference's track-metadata precedence rule, shared by the
    FLAC/MP3/Ogg tag scans so the three tag channels cannot diverge:
    canonical-filename parse first, probe tags second, basename
    fallback for the title, review flag when number or artist is still
    missing (info_scanner_ph2.py:138-170 / pipelines/metadata
    parse_tracks). `parsed` carries track_id, filename, tag_title,
    tag_artist, tag_track plus any `extra_cols` to pass through."""
    from tlmc_etl_spark.functions.text import parse_track_filename

    parsed = parsed.withColumn("fp", parse_track_filename("filename"))
    tag_no_s = F.regexp_extract("tag_track", r"^(\d+)", 1)
    tag_no = F.when(tag_no_s != "", tag_no_s).cast("int")
    track_no = F.coalesce(F.col("fp.track_no"), tag_no)
    artist = F.coalesce(F.col("fp.artist"), F.col("tag_artist"))
    return parsed.select(
        "track_id",
        *extra_cols,
        track_no.alias("track_no"),
        artist.alias("artist"),
        F.coalesce(
            F.col("fp.title"),
            F.col("tag_title"),
            F.trim(
                F.regexp_replace(
                    F.regexp_replace("filename", r"\.[A-Za-z0-9]+$", ""),
                    r"\[[^\]]*\]",
                    "",
                )
            ),
        ).alias("title"),
        (track_no.isNull() | artist.isNull()).alias("needs_check"),
    ).orderBy("track_id")


_FLAC_TAG_ORACLE = """
WITH ids AS (
  SELECT vec_id AS id FROM embeddings ORDER BY vec_id LIMIT 200
), g AS (
  SELECT id,
         1 + id % 24 AS n_no,
         'Circle ' || CAST(id % 13 AS VARCHAR)
           || CASE WHEN id % 2 = 1 THEN ' ♪' ELSE '' END AS base_artist,
         'Title ' || CAST(id * 37 % 1000 AS VARCHAR) AS fname_title,
         'ref-flac 1.' || CAST(id % 4 AS VARCHAR) AS vendor
  FROM ids
), t AS (
  SELECT id, vendor,
         CASE WHEN id % 11 <> 0
              THEN 'Tagged ' || CAST(id * 41 % 1000 AS VARCHAR) END AS tag_title,
         CASE WHEN id % 5 <> 0 THEN base_artist END AS tag_artist,
         CASE WHEN id % 3 = 0 THEN CAST(n_no AS VARCHAR)
              WHEN id % 3 = 1 THEN CAST(n_no AS VARCHAR) || '/24' END AS tag_track,
         CASE WHEN id % 7 <> 0
              THEN '(' || lpad(CAST(n_no AS VARCHAR), 2, '0') || ') ['
                   || base_artist || '] ' || fname_title || '.flac'
              ELSE fname_title || '.flac' END AS filename
  FROM g
), r AS (
  SELECT id, vendor, filename, tag_title, tag_artist,
         regexp_matches(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$') AS canon,
         CAST(nullif(regexp_extract(tag_track, '^(\\d+)', 1), '')
              AS INTEGER) AS tag_no
  FROM t
), p AS (
  SELECT id, vendor, filename, tag_title, tag_artist, tag_no,
         CASE WHEN canon THEN CAST(regexp_extract(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$', 1)
           AS INTEGER) END AS fp_no,
         CASE WHEN canon THEN regexp_extract(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$', 2)
           END AS fp_artist,
         CASE WHEN canon THEN regexp_extract(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$', 3)
           END AS fp_title
  FROM r
)
SELECT id AS track_id, vendor,
       coalesce(fp_no, tag_no) AS track_no,
       coalesce(fp_artist, tag_artist) AS artist,
       coalesce(fp_title, tag_title,
                trim(regexp_replace(regexp_replace(filename,
                  '\\.[A-Za-z0-9]+$', ''), '\\[[^\\]]*\\]', '', 'g'))) AS title,
       (coalesce(fp_no, tag_no) IS NULL
        OR coalesce(fp_artist, tag_artist) IS NULL) AS needs_check
FROM p
ORDER BY track_id
"""


@query("flac_tag_scan", oracle=_FLAC_TAG_ORACLE)
def flac_tag_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VORBIS_COMMENT tag scan feeding the catalog pipeline's track
    coalesce, value-checked end to end: 200 FLAC prefixes with planted
    type-4 tag blocks (title/artist sometimes absent, track numbers in
    both plain and ID3-style 'n/total' form) are built AND parsed
    in-plan through the REAL metadata-block walk
    (functions/media.py:parse_flac_metadata), then merged with the
    canonical-filename parse under the reference's precedence rule —
    filename first, probe tags second, basename fallback
    (info_scanner_ph2.py:138-170 / pipelines/metadata.parse_tracks) —
    and the result must equal DuckDB's closed-form replay of the plant
    plus the same coalesce. Non-canonical filenames (id % 7 == 0) force
    the tag path; missing tags force the fallback and the review flag."""
    import pandas as pd

    from tlmc_etl_spark.functions.media import (
        make_flac_with_tags,
        parse_flac_metadata,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def scan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n_no = 1 + vid % 24
                base_artist = f"Circle {vid % 13}" + (" ♪" if vid % 2 else "")
                fname_title = f"Title {vid * 37 % 1000}"
                tags = {}
                if vid % 11:
                    tags["TITLE"] = f"Tagged {vid * 41 % 1000}"
                if vid % 5:
                    tags["ARTIST"] = base_artist
                if vid % 3 == 0:
                    tags["TRACKNUMBER"] = str(n_no)
                elif vid % 3 == 1:
                    tags["TRACKNUMBER"] = f"{n_no}/24"
                payload = make_flac_with_tags(
                    44100, 0, tags, vendor=f"ref-flac 1.{vid % 4}"
                )
                meta = parse_flac_metadata(payload)
                got = meta["tags"]
                filename = (
                    f"({n_no:02d}) [{base_artist}] {fname_title}.flac"
                    if vid % 7
                    else f"{fname_title}.flac"
                )
                rows.append(
                    (
                        vid, meta["vendor"], filename,
                        got.get("title"), got.get("artist"),
                        got.get("tracknumber"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "vendor", "filename",
                    "tag_title", "tag_artist", "tag_track",
                ],
            )

    parsed = fanout(ids).mapInPandas(
        scan,
        schema=(
            "track_id long, vendor string, filename string, "
            "tag_title string, tag_artist string, tag_track string"
        ),
    )
    return _tag_precedence_select(parsed, "vendor")


# --------------------------------------------------------------------------
# dominant_colors_jpeg — dominant palette over REAL colour-JPEG decode
# --------------------------------------------------------------------------

_COLORS_JPEG_ORACLE = """
WITH ids AS (
  SELECT vec_id AS id FROM embeddings ORDER BY vec_id LIMIT 24
), mcu AS (
  SELECT id, t.m AS m,
         CAST((id * 31 + t.m * 67) % 256 AS DOUBLE) AS r0,
         CAST((id * 17 + t.m * 41) % 256 AS DOUBLE) AS g0,
         CAST((id * 7 + t.m * 13) % 256 AS DOUBLE) AS b0
  FROM ids, LATERAL (SELECT unnest(generate_series(0, 3)) AS m) t
), ycc AS (
  -- the encoder's HALF-UP-rounded JFIF forward transform
  SELECT id, m,
    least(greatest(floor(0.299*r0 + 0.587*g0 + 0.114*b0 + 0.5), 0), 255) AS y,
    least(greatest(floor(128 - 0.168736*r0 - 0.331264*g0 + 0.5*b0 + 0.5), 0), 255) AS cb,
    least(greatest(floor(128 + 0.5*r0 - 0.418688*g0 - 0.081312*b0 + 0.5), 0), 255) AS cr
  FROM mcu
), dec AS (
  -- the decoder's inverse transform, clipped then HALF-UP to pixels
  SELECT id, m,
    CAST(floor(least(greatest(y + 1.402*(cr-128), 0), 255) + 0.5) AS BIGINT) AS r,
    CAST(floor(least(greatest(y - 0.344136*(cb-128) - 0.714136*(cr-128), 0), 255) + 0.5) AS BIGINT) AS g,
    CAST(floor(least(greatest(y + 1.772*(cb-128), 0), 255) + 0.5) AS BIGINT) AS b
  FROM ycc
), cnt AS (
  SELECT id,
         printf('#%02x%02x%02x',
                CAST((r // 64) * 64 + 32 AS INTEGER),
                CAST((g // 64) * 64 + 32 AS INTEGER),
                CAST((b // 64) * 64 + 32 AS INTEGER)) AS color,
         count(*) * 256 AS cnt
  FROM dec GROUP BY 1, 2
)
SELECT id AS artwork_id,
       array_to_string((list(color ORDER BY cnt DESC, color ASC))[1:8], ',') AS colors
FROM cnt GROUP BY artwork_id
ORDER BY artwork_id
"""


@query("dominant_colors_jpeg", oracle=_COLORS_JPEG_ORACLE)
def dominant_colors_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dominant_colors over REAL colour-JPEG artwork: 24 images are
    built as 32x32 four-colour mosaics (one colour per 16x16 MCU),
    encoded in-plan as REAL colour JPEG — ids cycle baseline and
    progressive (SOF2 multi-scan) at both 4:2:0 and 4:4:4 — fully
    chroma-decoded back through parse_jpeg_rgb (operators/jpeg.py:
    dequant + IDCT per component, chroma upsample, JFIF YCbCr->RGB),
    and fed to the SAME dominant_colors operator the synthetic palette
    query uses. MCU-constant colour with an all-ones quant table makes
    the lossy pipeline exact, so DuckDB replays the full
    encode-transform -> decode-transform arithmetic closed-form — the
    colour twin of image_decode_features' luma check, closing the
    round-10 'chroma entropy-skipped' gap
    (generate_artwork_variants.py:56-67 is the reference consumer)."""
    import numpy as np
    import pandas as pd

    from tlmc_etl_spark.operators.jpeg import (
        encode_color_jpeg,
        encode_color_progressive,
        parse_jpeg_rgb,
    )
    from tlmc_etl_spark.operators.multimodal import dominant_colors

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(24)
    )

    def run(batches):
        for pdf in batches:
            out_id, out_r, out_g, out_b = [], [], [], []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                rgb = np.zeros((32, 32, 3))
                for m in range(4):
                    color = (
                        (vid * 31 + m * 67) % 256,
                        (vid * 17 + m * 41) % 256,
                        (vid * 7 + m * 13) % 256,
                    )
                    r0, c0 = (m // 2) * 16, (m % 2) * 16
                    rgb[r0 : r0 + 16, c0 : c0 + 16] = color
                # ids cycle through baseline/progressive x 4:2:0/4:4:4
                # — four real colour bitstream families, one closed form
                enc = encode_color_jpeg if vid % 4 < 2 else encode_color_progressive
                payload = enc(rgb, "420" if vid % 2 == 0 else "444")
                dec = parse_jpeg_rgb(payload)
                px = np.floor(dec + 0.5).astype(np.int64).reshape(-1, 3)
                out_id.extend([vid] * len(px))
                out_r.extend(px[:, 0].tolist())
                out_g.extend(px[:, 1].tolist())
                out_b.extend(px[:, 2].tolist())
            yield pd.DataFrame(
                {"img_id": out_id, "r": out_r, "g": out_g, "b": out_b}
            )

    pixels = fanout(ids).mapInPandas(
        run, schema="img_id long, r long, g long, b long"
    )
    pal = dominant_colors(pixels, "img_id", n_colors=8, levels=4)
    return pal.select(
        "artwork_id", F.array_join("colors", ",").alias("colors")
    ).orderBy("artwork_id")


# --------------------------------------------------------------------------
# flac_cue_split_decode — REAL cue-sheet split: decode + sample-exact cuts
# --------------------------------------------------------------------------

_CUE_SPLIT_DECODE_ORACLE = """
WITH ids AS (
  SELECT vec_id AS id FROM embeddings ORDER BY vec_id LIMIT 6
), t AS (
  SELECT id, 3 + id % 3 AS n_tracks FROM ids
), trk AS (
  SELECT id, n_tracks, g.t AS trk,
         60 + ((id * 7 + g.t * 13) % 40) AS len_frames
  FROM t, LATERAL (SELECT unnest(generate_series(0, n_tracks - 1)) AS t) g
), pos AS (
  SELECT id, trk, len_frames,
         COALESCE(SUM(len_frames) OVER (
           PARTITION BY id ORDER BY trk
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_frames
  FROM trk
), px AS (
  SELECT id, trk, start_frames, len_frames,
         start_frames * 588 AS start_sample,
         len_frames * 588 AS n_samples
  FROM pos
), samp AS (
  SELECT p.id, p.trk, p.start_frames, p.n_samples,
         ((p.id % 5) + 1) * (s.i % 588) + ((s.i * 3 + p.id) % 41) - 20 AS v
  FROM px p, LATERAL (
    SELECT unnest(generate_series(CAST(p.start_sample AS BIGINT),
                                  CAST(p.start_sample + p.n_samples - 1
                                       AS BIGINT))) AS i
  ) s
)
SELECT id AS album_id,
       trk + 1 AS track_number,
       CAST(start_frames AS BIGINT) AS start_frames,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS s_sum,
       CAST(MIN(v) AS BIGINT) AS s_min
FROM samp
GROUP BY id, trk, start_frames, n_samples
ORDER BY album_id, track_number
"""


def _cue_split_track_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cue-split decode stage: 6 album FLACs encoded in-plan from
    closed-form PCM, cue sheets at exact 75 fps frame boundaries, split
    through the REAL lanes (parse_cue grid, SEEKTABLE-aware decode_range,
    sample-exact cuts). Emits per-track stats including s_abs (Σ|v|, the
    loudness stand-in's input) — flac_cue_split_decode projects the
    decode-audit columns; cue_split_lifecycle composes the full
    worklist (gain → shard sink → read-back)."""
    import numpy as np
    import pandas as pd

    from tlmc_etl_spark.functions.media import parse_cue
    from tlmc_etl_spark.operators.flac import decode_range, encode_flac

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(6)
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n_tracks = 3 + vid % 3
                lens = [60 + ((vid * 7 + t * 13) % 40) for t in range(n_tracks)]
                starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(int)
                total = int(sum(lens)) * 588
                i = np.arange(total, dtype=np.int64)
                pcm = ((vid % 5) + 1) * (i % 588) + ((i * 3 + vid) % 41) - 20
                payload = encode_flac(
                    pcm, 44100, block_size=4096,
                    mode="lpc" if vid % 2 else "auto",
                    seek_every=4,  # real SEEKTABLE: cuts read O(track)
                )
                cue_lines = [
                    'PERFORMER "Various"',
                    f'TITLE "Album {vid}"',
                    f'FILE "album_{vid}.flac" WAVE',
                ]
                for t, sf_ in enumerate(starts):
                    mm, rem = divmod(int(sf_), 60 * 75)
                    ss, ff = divmod(rem, 75)
                    cue_lines += [
                        f"  TRACK {t + 1:02d} AUDIO",
                        f"    INDEX 01 {mm:02d}:{ss:02d}:{ff:02d}",
                    ]
                cue_tracks = parse_cue("\n".join(cue_lines))
                bounds = [t["index01_frames"] * 588 for t in cue_tracks]
                bounds.append(total)
                for t, ct in enumerate(cue_tracks):
                    # seek-aware partial decode: each cut reads from the
                    # nearest SEEKTABLE point, never the stream head —
                    # the O(track) access pattern a distributed splitter
                    # needs when one task owns one track
                    seg = decode_range(
                        payload, bounds[t], bounds[t + 1] - bounds[t]
                    )[:, 0]
                    rows.append(
                        (
                            vid, ct["track_number"], ct["index01_frames"],
                            len(seg), int(seg.sum()), int(seg.min()),
                            int(np.abs(seg).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "album_id", "track_number", "start_frames",
                    "n_samples", "s_sum", "s_min", "s_abs",
                ],
            )

    return fanout(ids).mapInPandas(
        run,
        schema=(
            "album_id long, track_number int, start_frames long, "
            "n_samples long, s_sum long, s_min long, s_abs long"
        ),
    )


@query("flac_cue_split_decode", oracle=_CUE_SPLIT_DECODE_ORACLE)
def flac_cue_split_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CueSplitter made real in-container: 6 album FLACs are
    encoded in-plan from closed-form PCM, their cue sheets are built
    with INDEX 01 times at exact 75 fps frame boundaries (44100/75 =
    588 samples per cue frame), and the split runs the REAL lanes end
    to end — parse_cue for the time grid, parse_flac_audio for the full
    lossless decode, sample-exact slicing at each track boundary.
    Per-track stats must equal DuckDB's closed-form replay of the
    generator over each track's sample range. This upgrades
    flac_cue_seek_plan (byte-range planning, no decode) to the actual
    cut the reference performs via ffmpeg
    (CueSplitter/cue_designator.py; CueSplit.cs:203-262 for the cue
    semantics)."""
    return _cue_split_track_stats(spark, sf_dir).select(
        "album_id", "track_number", "start_frames", "n_samples", "s_sum", "s_min"
    ).orderBy("album_id", "track_number")


_CUE_LIFECYCLE_ORACLE = """
WITH ids AS (
  SELECT vec_id AS id FROM embeddings ORDER BY vec_id LIMIT 6
), t AS (
  SELECT id, 3 + id % 3 AS n_tracks FROM ids
), trk AS (
  SELECT id, n_tracks, g.t AS trk,
         60 + ((id * 7 + g.t * 13) % 40) AS len_frames
  FROM t, LATERAL (SELECT unnest(generate_series(0, n_tracks - 1)) AS t) g
), pos AS (
  SELECT id, trk, len_frames,
         COALESCE(SUM(len_frames) OVER (
           PARTITION BY id ORDER BY trk
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_frames
  FROM trk
), px AS (
  SELECT id, trk,
         start_frames * 588 AS start_sample,
         len_frames * 588 AS n_samples
  FROM pos
), samp AS (
  SELECT p.id, p.trk, p.n_samples,
         ((p.id % 5) + 1) * (s.i % 588) + ((s.i * 3 + p.id) % 41) - 20 AS v
  FROM px p, LATERAL (
    SELECT unnest(generate_series(CAST(p.start_sample AS BIGINT),
                                  CAST(p.start_sample + p.n_samples - 1
                                       AS BIGINT))) AS i
  ) s
), stats AS (
  SELECT id AS album_id, trk + 1 AS track_number,
         CAST(max(n_samples) AS BIGINT) AS n_samples,
         CAST(SUM(v) AS BIGINT) AS s_sum,
         CAST(SUM(ABS(v)) AS BIGINT) AS s_abs
  FROM samp GROUP BY id, trk
), gains AS (
  SELECT album_id, track_number, n_samples, s_sum,
         round(-1 * s_abs / (n_samples * 40.0), 4) AS i,
         round(-1 * s_abs / (n_samples * 400.0), 4) AS tp
  FROM stats
), worklist AS (
  SELECT album_id, track_number, n_samples, s_sum,
         CASE WHEN i <= -60 THEN 0.0
              ELSE round(least(least(-14.0 - i, -1.0 - tp), 12.0), 4)
         END AS gain_db
  FROM gains
), sharded AS (
  SELECT ('0x' || substr(md5(album_id::VARCHAR), 1, 15))::BIGINT % 4 AS shard, *
  FROM worklist
)
SELECT CAST(shard AS INT) AS shard,
       count(*) AS n_tracks,
       count(DISTINCT album_id) AS n_albums,
       CAST(sum(n_samples) AS BIGINT) AS total_samples,
       CAST(sum(s_sum) AS BIGINT) AS sum_s,
       min(gain_db) AS min_gain,
       max(gain_db) AS max_gain
FROM sharded GROUP BY shard ORDER BY shard
"""


@query("cue_split_lifecycle", oracle=_CUE_LIFECYCLE_ORACLE)
def cue_split_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Preprocessor cue-split worklist as ONE composed bench
    entry, mirroring lifecycle_similar_shards for the §3.1 phase:
    cue seek-plan → SEEKTABLE-aware decode_range cuts → per-track
    loudness static gain (the loudness_measure.py:72-108 formula over a
    deterministic i/tp derived FROM THE DECODED SAMPLES, so decode
    correctness flows into the gain) → resumable per-shard CSV sink
    (portable-hash shard mapping, tmp+rename commit — the
    precompute_similar_tracks.py:244-275 contract applied to the
    cue_splitter.py:28-37 worklist) → read-back per-shard stats.

    The returned stats hang off the CSV sink: their lineage holds only
    the shard scan + aggregation, never the decode subtree (plan-gated
    in tests/test_plan_quality.py — recomputing the FLAC decode in every
    downstream consumer is the cross-stage regression this entry
    catches). The oracle replays decode stats, gain arithmetic, the
    60-bit shard hash and the aggregation from first principles — a
    garbled sink, a wrong cut, or a changed gain clamp all flip the row.
    """
    from tlmc_etl_spark.scratch import scratch_dir
    from tlmc_etl_spark.sinks.shards import write_shards_resumable

    tracks = _cue_split_track_stats(spark, sf_dir)
    i_col = F.round(F.lit(-1) * F.col("s_abs") / (F.col("n_samples") * 40.0), 4)
    tp_col = F.round(F.lit(-1) * F.col("s_abs") / (F.col("n_samples") * 400.0), 4)
    gain = F.least(F.least(F.lit(-14.0) - i_col, F.lit(-1.0) - tp_col), F.lit(12.0))
    worklist = tracks.select(
        "album_id", "track_number", "n_samples", "s_sum",
        F.when(i_col <= -60, F.lit(0.0)).otherwise(F.round(gain, 4)).alias("gain_db"),
    )
    out_dir = scratch_dir(spark, "cue_split_shards", sf_dir)
    write_shards_resumable(
        worklist, "album_id", out_dir, n_shards=4, fmt="csv", portable=True
    )
    # explicit schema = no header-probe job; types identical to the
    # schemaless read (strings + path-inferred int shard)
    back = (
        spark.read.option("header", True)
        .schema(
            "album_id string, track_number string, n_samples string, "
            "s_sum string, gain_db string, shard int"
        )
        .csv(out_dir)
    )
    return (
        back.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_tracks"),
            F.countDistinct("album_id").alias("n_albums"),
            F.sum(F.col("n_samples").cast("long")).alias("total_samples"),
            F.sum(F.col("s_sum").cast("long")).alias("sum_s"),
            F.min(F.col("gain_db").cast("double")).alias("min_gain"),
            F.max(F.col("gain_db").cast("double")).alias("max_gain"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# mp3_tag_scan — ID3v2 text-frame parse + the same ph2 coalesce
# --------------------------------------------------------------------------

_MP3_TAG_ORACLE = """
WITH ids AS (
  SELECT vec_id AS id FROM embeddings ORDER BY vec_id LIMIT 200
), g AS (
  SELECT id,
         1 + id % 24 AS n_no,
         'Artist ' || CAST(id % 11 AS VARCHAR)
           || CASE WHEN id % 2 = 1 THEN ' 東方' ELSE '' END AS base_artist,
         'Song ' || CAST(id * 43 % 1000 AS VARCHAR) AS fname_title,
         CAST(2 + id % 3 AS INTEGER) AS id3_version
  FROM ids
), t AS (
  SELECT id, id3_version,
         CASE WHEN id % 13 <> 0
              THEN 'Tagged ' || CAST(id * 47 % 1000 AS VARCHAR) END AS tag_title,
         CASE WHEN id % 6 <> 0 THEN base_artist END AS tag_artist,
         CASE WHEN id % 3 = 0 THEN CAST(n_no AS VARCHAR)
              WHEN id % 3 = 1 THEN CAST(n_no AS VARCHAR) || '/24' END AS tag_track,
         CASE WHEN id % 8 <> 0
              THEN '(' || lpad(CAST(n_no AS VARCHAR), 2, '0') || ') ['
                   || base_artist || '] ' || fname_title || '.mp3'
              ELSE fname_title || '.mp3' END AS filename
  FROM g
), r AS (
  SELECT id, id3_version, filename, tag_title, tag_artist,
         regexp_matches(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$') AS canon,
         CAST(nullif(regexp_extract(tag_track, '^(\\d+)', 1), '')
              AS INTEGER) AS tag_no
  FROM t
), p AS (
  SELECT id, id3_version, filename, tag_title, tag_artist, tag_no,
         CASE WHEN canon THEN CAST(regexp_extract(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$', 1)
           AS INTEGER) END AS fp_no,
         CASE WHEN canon THEN regexp_extract(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$', 2)
           END AS fp_artist,
         CASE WHEN canon THEN regexp_extract(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$', 3)
           END AS fp_title
  FROM r
)
SELECT id AS track_id, id3_version,
       coalesce(fp_no, tag_no) AS track_no,
       coalesce(fp_artist, tag_artist) AS artist,
       coalesce(fp_title, tag_title,
                trim(regexp_replace(regexp_replace(filename,
                  '\\.[A-Za-z0-9]+$', ''), '\\[[^\\]]*\\]', '', 'g'))) AS title,
       (coalesce(fp_no, tag_no) IS NULL
        OR coalesce(fp_artist, tag_artist) IS NULL) AS needs_check
FROM p
ORDER BY track_id
"""


@query("mp3_tag_scan", oracle=_MP3_TAG_ORACLE)
def mp3_tag_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 tag scan — the MP3 twin of flac_tag_scan: 200 MP3 streams
    get REAL ID3v2.2/2.3/2.4 tags (version cycles by id; v2.2 uses the
    3-char TT2/TP1/TRK frame layout older corpus MP3s carry,
    version-conformant text encodings throughout, ID3-style 'n/total'
    TRCK for a third of the ids, absent frames elsewhere) planted IN
    FRONT of real MPEG-1 Layer III frames,
    parsed back through the real tag walk
    (functions/media.py:parse_id3v2 — the frame walk coexists with the
    tag via the same skip logic production uses), then merged with the
    canonical-filename parse under the reference's ph2 precedence
    (info_scanner_ph2.py:138-170: the TRCK '7/10' split is the rule
    that recovered 2,440 track numbers in the reference corpus). DuckDB
    replays the plant and the coalesce closed-form."""
    import pandas as pd

    from tlmc_etl_spark.functions.media import (
        make_id3v2,
        make_mp3_stream,
        parse_id3v2,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def scan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n_no = 1 + vid % 24
                base_artist = f"Artist {vid % 11}" + (
                    " 東方" if vid % 2 else ""
                )
                fname_title = f"Song {vid * 43 % 1000}"
                frames = {}
                if vid % 13:
                    frames["TIT2"] = f"Tagged {vid * 47 % 1000}"
                if vid % 6:
                    frames["TPE1"] = base_artist
                if vid % 3 == 0:
                    frames["TRCK"] = str(n_no)
                elif vid % 3 == 1:
                    frames["TRCK"] = f"{n_no}/24"
                version = 2 + vid % 3
                if version == 2:
                    short = {"TIT2": "TT2", "TPE1": "TP1", "TRCK": "TRK"}
                    frames = {short[k]: v for k, v in frames.items()}
                payload = make_id3v2(
                    frames, version=version, padding=vid % 32
                ) + make_mp3_stream([(5, 0, 0)])
                meta = parse_id3v2(payload)
                filename = (
                    f"({n_no:02d}) [{base_artist}] {fname_title}.mp3"
                    if vid % 8
                    else f"{fname_title}.mp3"
                )
                rows.append(
                    (
                        vid, meta["version"], filename,
                        meta["title"], meta["artist"], meta["track"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "id3_version", "filename",
                    "tag_title", "tag_artist", "tag_track",
                ],
            )

    parsed = fanout(ids).mapInPandas(
        scan,
        schema=(
            "track_id long, id3_version int, filename string, "
            "tag_title string, tag_artist string, tag_track string"
        ),
    )
    return _tag_precedence_select(parsed, "id3_version")


# --------------------------------------------------------------------------
# ogg_chunk_plan — Ogg (Vorbis/Opus) page-indexed byte-range chunk work-list
# --------------------------------------------------------------------------

# Byte geometry replayed closed-form: header pages are constant-size by
# construction (vorbis ID page 58 + tag/setup page 140 = 198; OpusHead
# page 47 + OpusTags page 67 = 114 — 4-digit title pad keeps the
# comment packet fixed), audio page i is 27 + ppp lacing values +
# sum_j(60 + ((vid + i*ppp + j) % 120)) payload. Any drift anywhere in
# the page writer or the page walk hash-fails against this arithmetic.
_OGG_CHUNK_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), t AS (
  SELECT vec_id,
         CASE WHEN vec_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
         CAST(12 + (vec_id % 7) * 8 AS BIGINT) AS n_audio_pages,
         CAST(3 + vec_id % 3 AS BIGINT) AS ppp,
         CASE WHEN vec_id % 2 = 0 THEN 44100 ELSE 48000 END AS rate,
         CASE WHEN vec_id % 2 = 0 THEN 264600 ELSE 288000 END AS win,
         CASE WHEN vec_id % 2 = 0 THEN 176400 ELSE 192000 END AS hop,
         CASE WHEN vec_id % 2 = 0 THEN 1024 ELSE 960 END AS spk,
         CASE WHEN vec_id % 2 = 0 THEN 198 ELSE 114 END AS header_bytes
  FROM ids
), sized AS (
  SELECT *, spk * ppp AS spp_page, n_audio_pages * spk * ppp AS n_samples
  FROM t
), pay AS (
  SELECT vec_id, f.i AS pidx,
         CAST(27 + ppp + SUM(60 + ((vec_id + f.i * ppp + g.j) % 120))
           AS BIGINT) AS plen
  FROM sized,
       LATERAL (SELECT unnest(generate_series(0, n_audio_pages - 1)) AS i) f,
       LATERAL (SELECT unnest(generate_series(0, ppp - 1)) AS j) g
  GROUP BY vec_id, f.i, ppp
), off AS (
  SELECT vec_id, pidx, plen,
         CAST(COALESCE(SUM(plen) OVER (
           PARTITION BY vec_id ORDER BY pidx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS rel_off
  FROM pay
), c AS (
  SELECT vec_id, CAST(floor(greatest(n_samples - win, 0) / hop) + 1 AS BIGINT)
           AS base
  FROM sized
), nch AS (
  SELECT s.vec_id,
         c.base + CASE WHEN (c.base - 1) * s.hop + s.win < s.n_samples
                       THEN 1 ELSE 0 END AS n_chunks
  FROM sized s JOIN c ON c.vec_id = s.vec_id
), ch AS (
  SELECT s.vec_id, s.codec, s.rate, s.win, s.hop, s.spp_page, s.n_samples,
         s.header_bytes, g.k AS chunk_idx
  FROM sized s JOIN nch ON nch.vec_id = s.vec_id,
       LATERAL (SELECT unnest(generate_series(0, nch.n_chunks - 1)) AS k) g
), geo AS (
  SELECT vec_id, codec, rate, n_samples, header_bytes, chunk_idx,
         (chunk_idx * hop) // spp_page AS first_page,
         (least(chunk_idx * hop + win, n_samples) + spp_page - 1)
           // spp_page - 1 AS last_page
  FROM ch
)
SELECT g.vec_id AS track_id,
       g.codec,
       CAST(g.chunk_idx AS BIGINT) AS chunk_idx,
       g.first_page,
       g.last_page - g.first_page + 1 AS n_pages,
       g.header_bytes + o1.rel_off AS byte_start,
       o2.rel_off + o2.plen - o1.rel_off AS byte_len,
       CAST(g.n_samples AS DOUBLE) / g.rate AS duration_s
FROM geo g
JOIN off o1 ON o1.vec_id = g.vec_id AND o1.pidx = g.first_page
JOIN off o2 ON o2.vec_id = g.vec_id AND o2.pidx = g.last_page
ORDER BY track_id, chunk_idx
"""


@query("ogg_chunk_plan", oracle=_OGG_CHUNK_ORACLE)
def ogg_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg chunk work-list for BOTH codec families the container carries
    in the corpus's recognizer list (disc_scanner.py:72 names ogg AND
    opus; info_scanner_ph2.py:43 likewise): 200 deterministic
    single-bitstream files alternate Vorbis (44.1 kHz granules) and
    Opus (48 kHz granules + pre-skip, RFC 7845 §4.2), are BUILT as real
    RFC 3533 pages (CRC-32 stamped), walked back by
    functions/media.parse_ogg_pages (capture pattern, lacing, CRC
    verify) + parse_ogg_stream_info (codec ID packet → rate/pre-skip),
    and the PARSED granule positions become the 6 s / 4 s-hop chunk
    plan over PAGE-ALIGNED BYTE RANGES — the seekable geometry with no
    child process and no packet decode, completing the framing family
    for every extension the reference's own scanners recognize
    (ADTS/MP3/H.264/FLAC/WavPack/MP4/WAV + Ogg/Opus). The DuckDB
    oracle re-derives every byte offset arithmetically, so any
    disagreement between the page walk and the closed form hash-fails;
    duration_s value-checks the ID-header rate/pre-skip parse. Plan
    shape: one map stage, rows emitted in-task — no shuffle until the
    presentation sort."""
    import bisect

    import pandas as pd

    from tlmc_etl_spark.functions.media import (
        make_ogg_stream,
        parse_ogg_pages,
        parse_ogg_stream_info,
    )
    from tlmc_etl_spark.pipelines.mert_standin import chunk_starts

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def plan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                codec = "vorbis" if vid % 2 == 0 else "opus"
                n_audio_pages = 12 + (vid % 7) * 8
                ppp = 3 + vid % 3
                spk = 1024 if codec == "vorbis" else 960
                rate = 44100 if codec == "vorbis" else 48000
                sizes = [
                    [60 + ((vid + i * ppp + j) % 120) for j in range(ppp)]
                    for i in range(n_audio_pages)
                ]
                data = make_ogg_stream(
                    codec, sizes, spk * ppp,
                    sample_rate=rate, title=f"t{vid % 10000:04d}",
                )
                pages = parse_ogg_pages(data)
                info = parse_ogg_stream_info(data, pages=pages)
                audio = pages[2:]
                pre = info["pre_skip"]
                ends = [p["granule_pos"] - pre for p in audio]
                ns = info["n_samples"]
                assert ns == ends[-1]
                gr = info["granule_rate"]
                win, hop = 6 * gr, 4 * gr
                dur = ns / gr
                for k, start in enumerate(chunk_starts(ns, win, hop)):
                    end = min(start + win, ns)
                    fp = bisect.bisect_right(ends, start)
                    lp = bisect.bisect_left(ends, end)
                    p0, p1 = audio[fp], audio[lp]
                    rows.append(
                        (
                            vid, codec, k, fp, lp - fp + 1,
                            p0["byte_offset"],
                            p1["byte_offset"] + p1["byte_length"]
                            - p0["byte_offset"],
                            dur,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "codec", "chunk_idx", "first_page",
                    "n_pages", "byte_start", "byte_len", "duration_s",
                ],
            )

    return fanout(ids).mapInPandas(
        plan,
        schema=(
            "track_id long, codec string, chunk_idx long, first_page long, "
            "n_pages long, byte_start long, byte_len long, duration_s double"
        ),
    ).orderBy("track_id", "chunk_idx")


# --------------------------------------------------------------------------
# ogg_tag_scan — Vorbis-comment / OpusTags parse + the ph2 coalesce
# --------------------------------------------------------------------------

_OGG_TAG_ORACLE = """
WITH ids AS (
  SELECT vec_id AS id FROM embeddings ORDER BY vec_id LIMIT 200
), g AS (
  SELECT id,
         CASE WHEN id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
         1 + id % 16 AS n_no,
         'Circle ' || CAST(id % 11 AS VARCHAR)
           || CASE WHEN id % 3 = 1 THEN ' ♫' ELSE '' END AS base_artist,
         'Song ' || CAST(id * 53 % 1000 AS VARCHAR) AS fname_title,
         CASE WHEN id % 2 = 0 THEN 'libvorbis 1.3.' || CAST(id % 5 AS VARCHAR)
              ELSE 'libopus 1.' || CAST(id % 5 AS VARCHAR) END AS vendor
  FROM ids
), t AS (
  SELECT id, codec, vendor,
         CASE WHEN id % 9 <> 0
              THEN 'OggTag ' || CAST(id * 29 % 1000 AS VARCHAR) END AS tag_title,
         CASE WHEN id % 4 <> 0 THEN base_artist END AS tag_artist,
         CASE WHEN id % 3 = 0 THEN CAST(n_no AS VARCHAR)
              WHEN id % 3 = 1 THEN CAST(n_no AS VARCHAR) || '/16' END AS tag_track,
         CASE WHEN id % 6 <> 0
              THEN '(' || lpad(CAST(n_no AS VARCHAR), 2, '0') || ') ['
                   || base_artist || '] ' || fname_title || '.ogg'
              ELSE fname_title || '.ogg' END AS filename
  FROM g
), r AS (
  SELECT id, codec, vendor, filename, tag_title, tag_artist,
         regexp_matches(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$') AS canon,
         CAST(nullif(regexp_extract(tag_track, '^(\\d+)', 1), '')
              AS INTEGER) AS tag_no
  FROM t
), p AS (
  SELECT id, codec, vendor, filename, tag_title, tag_artist, tag_no,
         CASE WHEN canon THEN CAST(regexp_extract(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$', 1)
           AS INTEGER) END AS fp_no,
         CASE WHEN canon THEN regexp_extract(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$', 2)
           END AS fp_artist,
         CASE WHEN canon THEN regexp_extract(filename,
           '^\\((\\d{2})\\) \\[([^\\]]+)\\] (.+)\\.([A-Za-z0-9]+)$', 3)
           END AS fp_title
  FROM r
)
SELECT id AS track_id, codec, vendor,
       coalesce(fp_no, tag_no) AS track_no,
       coalesce(fp_artist, tag_artist) AS artist,
       coalesce(fp_title, tag_title,
                trim(regexp_replace(regexp_replace(filename,
                  '\\.[A-Za-z0-9]+$', ''), '\\[[^\\]]*\\]', '', 'g'))) AS title,
       (coalesce(fp_no, tag_no) IS NULL
        OR coalesce(fp_artist, tag_artist) IS NULL) AS needs_check
FROM p
ORDER BY track_id
"""


@query("ogg_tag_scan", oracle=_OGG_TAG_ORACLE)
def ogg_tag_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg twin of flac_tag_scan / mp3_tag_scan: 200 Ogg files
    alternating Vorbis comment headers and OpusTags carry planted tags
    (title/artist sometimes absent, track numbers in plain and
    'n/total' form), are built AND parsed in-plan through the REAL page
    walk + comment-packet parse (functions/media.parse_ogg_comments —
    the SAME list parser as FLAC's VORBIS_COMMENT, so the three tag
    channels cannot drift), then merged with the canonical-filename
    parse under the reference's precedence rule — filename first, probe
    tags second, basename fallback (info_scanner_ph2.py:138-170). The
    DuckDB oracle replays the plant plus the same coalesce; the vendor
    column value-checks the comment header's vendor parse per codec."""
    import pandas as pd

    from tlmc_etl_spark.functions.media import (
        make_ogg_stream,
        parse_ogg_comments,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def scan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                codec = "vorbis" if vid % 2 == 0 else "opus"
                n_no = 1 + vid % 16
                base_artist = f"Circle {vid % 11}" + (" ♫" if vid % 3 == 1 else "")
                fname_title = f"Song {vid * 53 % 1000}"
                tags = []
                if vid % 9:
                    tags.append(("TITLE", f"OggTag {vid * 29 % 1000}"))
                if vid % 4:
                    tags.append(("ARTIST", base_artist))
                if vid % 3 == 0:
                    tags.append(("TRACKNUMBER", str(n_no)))
                elif vid % 3 == 1:
                    tags.append(("TRACKNUMBER", f"{n_no}/16"))
                vendor = (
                    f"libvorbis 1.3.{vid % 5}" if codec == "vorbis"
                    else f"libopus 1.{vid % 5}"
                )
                data = make_ogg_stream(
                    codec, [[40 + vid % 30]], 960,
                    tags=tags, vendor=vendor,
                )
                got = parse_ogg_comments(data)
                filename = (
                    f"({n_no:02d}) [{base_artist}] {fname_title}.ogg"
                    if vid % 6
                    else f"{fname_title}.ogg"
                )
                rows.append(
                    (
                        vid, got["codec"], got["vendor"], filename,
                        got["tags"].get("title"), got["tags"].get("artist"),
                        got["tags"].get("tracknumber"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "codec", "vendor", "filename",
                    "tag_title", "tag_artist", "tag_track",
                ],
            )

    parsed = fanout(ids).mapInPandas(
        scan,
        schema=(
            "track_id long, codec string, vendor string, filename string, "
            "tag_title string, tag_artist string, tag_track string"
        ),
    )
    return _tag_precedence_select(parsed, "codec", "vendor")


# --------------------------------------------------------------------------
# archive_member_extract — in-container payload extraction (7z + zip)
# --------------------------------------------------------------------------

_MEMBER_EXTRACT_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 200
), m AS (
  SELECT vec_id, k.k AS k,
         'member-' || CAST(vec_id AS VARCHAR) || '-' || CAST(k.k AS VARCHAR)
           || ':' || repeat('x', 50 + (vec_id * 7 + k.k) % 100) AS content
  FROM ids, LATERAL (SELECT unnest(generate_series(0, 1)) AS k) k
)
SELECT vec_id AS track_id,
       CASE vec_id % 8 WHEN 0 THEN '7z-copy' WHEN 1 THEN '7z-lzma-solid'
                       WHEN 2 THEN 'zip-store' WHEN 3 THEN 'zip-deflate'
                       WHEN 4 THEN 'rar5-store' WHEN 5 THEN 'rar4-store'
                       WHEN 6 THEN '7z-lzma-delta' ELSE '7z-lzma-bcj' END AS arm,
       CASE k WHEN 0 THEN 'm0.txt' ELSE 'sub/m1.txt' END AS path,
       CAST(length(content) AS BIGINT) AS size,
       md5(content) AS content_md5,
       true AS crc_checked
FROM m
ORDER BY track_id, path
"""


@query("archive_member_extract", oracle=_MEMBER_EXTRACT_ORACLE)
def archive_member_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Extract stage's PAYLOAD step in-container — the reference
    runs `7z x` per archive (extract_plan.py:84-116); this plan builds
    real archives cycling the EIGHT extractable layouts (7z Copy
    per-file folders, 7z LZMA1 solid with a substream CRC table, zip
    STORED, zip DEFLATE, RAR5 stored with data CRCs, RAR 4.x stored,
    and — round 13 — the 7z BCJ-x86 and Delta FILTER CHAINS, two-coder
    folders decoded through one stdlib FORMAT_RAW chain, the transforms
    xz ships),
    extracts every member through the stdlib coders
    (operators/sevenzip.extract_7z_members, zipindex.extract_zip_members,
    rarindex.extract_rar_members — CRC32-verified against each archive's
    own digest tables), and emits one row per extracted file whose
    md5 the DuckDB oracle re-derives from the plant arithmetic: a
    single flipped payload byte anywhere in the decode path
    hash-fails. COMPRESSED RAR payloads, AES and stacked 7z filter
    chains stay the documented child-process boundary — proprietary or
    unsourceable codecs, same stance as MP3 PCM (BCJ/Delta left that
    list in round 13). Plan shape: one map
    stage, rows emitted in-task — no shuffle until the presentation
    sort."""
    import hashlib

    import pandas as pd

    from tlmc_etl_spark.operators.rarindex import (
        encode_rar4,
        encode_rar5,
        extract_rar_members,
    )
    from tlmc_etl_spark.operators.sevenzip import (
        encode_7z,
        extract_7z_members,
    )
    from tlmc_etl_spark.operators.zipindex import (
        encode_zip,
        extract_zip_members,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(200)
    )

    def plan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                members = [
                    ("m0.txt", False,
                     f"member-{vid}-0:".encode()
                     + b"x" * (50 + (vid * 7) % 100)),
                    ("sub", True, None),
                    ("sub/m1.txt", False,
                     f"member-{vid}-1:".encode()
                     + b"x" * (50 + (vid * 7 + 1) % 100)),
                ]
                arm = vid % 8
                if arm == 0:
                    name = "7z-copy"
                    arc = encode_7z(members, header_codec="lzma",
                                    with_crcs=True)
                    out = extract_7z_members(arc)
                elif arm == 1:
                    name = "7z-lzma-solid"
                    arc = encode_7z(members, payload_codec="lzma",
                                    solid=True, with_crcs=True)
                    out = extract_7z_members(arc)
                elif arm == 2:
                    name = "zip-store"
                    arc = encode_zip(members)
                    out = extract_zip_members(arc)
                elif arm == 3:
                    name = "zip-deflate"
                    arc = encode_zip(members, method="deflate")
                    out = extract_zip_members(arc)
                elif arm == 4:
                    name = "rar5-store"
                    arc = encode_rar5(members, with_crcs=True)
                    out = extract_rar_members(arc)
                elif arm == 5:
                    name = "rar4-store"
                    arc = encode_rar4(members)
                    out = extract_rar_members(arc)
                elif arm == 6:
                    name = "7z-lzma-delta"
                    arc = encode_7z(members, payload_codec="lzma+delta",
                                    solid=True, with_crcs=True)
                    out = extract_7z_members(arc)
                else:
                    name = "7z-lzma-bcj"
                    arc = encode_7z(members, payload_codec="lzma+bcj",
                                    solid=True, with_crcs=True)
                    out = extract_7z_members(arc)
                for e in out:
                    if e["is_dir"]:
                        continue
                    rows.append(
                        (
                            vid, name, e["path"], len(e["content"]),
                            hashlib.md5(e["content"]).hexdigest(),
                            # zip verifies unconditionally; 7z when the
                            # digest table exists (planted in both arms)
                            e["crc_ok"] is True,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "arm", "path", "size",
                    "content_md5", "crc_checked",
                ],
            )

    return fanout(ids).mapInPandas(
        plan,
        schema=(
            "track_id long, arm string, path string, size long, "
            "content_md5 string, crc_checked boolean"
        ),
    ).orderBy("track_id", "path")


# --------------------------------------------------------------------------
# archive_nested_scan — inner-archive listing through in-container extraction
# --------------------------------------------------------------------------

_NESTED_SCAN_ORACLE = """
WITH ids AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 100
), inner_m AS (
  SELECT vec_id, k.k AS k,
         'track-' || CAST(vec_id AS VARCHAR) || '-' || CAST(k.k AS VARCHAR)
           || '.flac' AS inner_path,
         CAST(40 + (vec_id * 3 + k.k) % 60 AS BIGINT) AS inner_size
  FROM ids, LATERAL (
    SELECT unnest(generate_series(0, 2 + vec_id % 3)) AS k
  ) k
)
SELECT vec_id AS track_id,
       CASE vec_id % 2 WHEN 0 THEN 'zip-in-7z' ELSE '7z-in-zip' END AS nesting,
       'disc' || CAST(vec_id % 4 AS VARCHAR)
         || CASE vec_id % 2 WHEN 0 THEN '.zip' ELSE '.7z' END AS inner_archive,
       inner_path,
       inner_size,
       CAST(3 + vec_id % 3 AS BIGINT) AS n_inner_files
FROM inner_m
ORDER BY track_id, inner_path
"""


@query("archive_nested_scan", oracle=_NESTED_SCAN_ORACLE)
def archive_nested_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bundle-layout archives nest ARCHIVES (extract_plan.py:67-71,166:
    a release bundle carries per-disc archives inside the outer one);
    listing the inner discs previously required the child-process
    extract. This plan composes the round-12 extraction with the index
    walks end to end in-container: an OUTER archive (7z LZMA-solid for
    even tracks, zip-deflate for odd) holds an INNER archive of the
    other container kind (zip holding per-track FLAC stubs, or 7z
    ditto); the inner bytes come out of extract_7z_members /
    extract_zip_members and feed parse_archive_index directly — no
    temp files, no child process. One row per inner member; the oracle
    replays the two-level plant arithmetic, so a byte error in EITHER
    the outer decode or the inner header walk hash-fails. Plan shape:
    one map stage, rows emitted in-task — no shuffle until the
    presentation sort."""
    import pandas as pd

    from tlmc_etl_spark.operators.archive import parse_archive_index
    from tlmc_etl_spark.operators.sevenzip import (
        encode_7z,
        extract_7z_members,
    )
    from tlmc_etl_spark.operators.zipindex import (
        encode_zip,
        extract_zip_members,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(100)
    )

    def plan(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n_inner = 3 + vid % 3
                inner_members = [
                    (f"track-{vid}-{k}.flac", False,
                     b"fLaC" + bytes((vid + k + j) % 256
                                     for j in range(36 + (vid * 3 + k) % 60)))
                    for k in range(n_inner)
                ]
                if vid % 2 == 0:
                    nesting = "zip-in-7z"
                    inner_name = f"disc{vid % 4}.zip"
                    inner = encode_zip(inner_members, method="deflate")
                    outer = encode_7z(
                        [(inner_name, False, inner)],
                        payload_codec="lzma", solid=True, with_crcs=True,
                    )
                    got = {e["path"]: e for e in extract_7z_members(outer)}
                else:
                    nesting = "7z-in-zip"
                    inner_name = f"disc{vid % 4}.7z"
                    inner = encode_7z(
                        inner_members, header_codec="lzma", with_crcs=True,
                    )
                    outer = encode_zip(
                        [(inner_name, False, inner)], method="deflate"
                    )
                    got = {e["path"]: e for e in extract_zip_members(outer)}
                inner_bytes = got[inner_name]["content"]
                assert inner_bytes == inner  # CRC-verified upstream too
                listing = parse_archive_index(inner_bytes)
                for e in listing:
                    rows.append(
                        (
                            vid, nesting, inner_name, e["path"], e["size"],
                            len(listing),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "nesting", "inner_archive", "inner_path",
                    "inner_size", "n_inner_files",
                ],
            )

    return fanout(ids).mapInPandas(
        plan,
        schema=(
            "track_id long, nesting string, inner_archive string, "
            "inner_path string, inner_size long, n_inner_files long"
        ),
    ).orderBy("track_id", "inner_path")


# --------------------------------------------------------------------------
# archive_flac_decode — the Extract→Process hop composed in one plan
# --------------------------------------------------------------------------

_ARCHIVE_FLAC_ORACLE = """
WITH ids AS (
  SELECT vec_id AS id FROM embeddings ORDER BY vec_id LIMIT 16
), t AS (
  SELECT id, CAST(1536 + (id % 3) * 512 AS BIGINT) AS n FROM ids
), samp AS (
  SELECT id, n, i.i AS i,
         ((id % 8) + 2) * (i.i % 241) + ((i.i * 11 + id) % 29) - 14 AS l,
         ((id % 6) + 1) * (i.i % 199) + ((i.i * 3 + id) % 17) - 8 AS r
  FROM t, LATERAL (
    SELECT unnest(generate_series(0, n - 1)) AS i
  ) i
), chan AS (
  SELECT id, n, 0 AS ch, l AS v FROM samp
  UNION ALL
  SELECT id, n, 1 AS ch, r FROM samp
)
SELECT id AS track_id,
       CASE id % 2 WHEN 0 THEN '7z-lzma-solid' ELSE 'zip-deflate' END
         AS container,
       ch,
       CAST(n AS BIGINT) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS s_sum,
       CAST(MIN(v) AS BIGINT) AS s_min,
       CAST(MAX(v) AS BIGINT) AS s_max
FROM chan
GROUP BY id, ch, n
ORDER BY track_id, ch
"""


@query("archive_flac_decode", oracle=_ARCHIVE_FLAC_ORACLE)
def archive_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Extract→Process hop as ONE in-container plan
    with no child process anywhere: a REAL FLAC (encoded in-plan,
    rotating stereo modes and predictor families) rides inside a REAL
    compressed archive (7z LZMA1-solid with CRC table for even ids,
    zip-deflate for odd), the member comes back out through the
    round-12 extraction (CRC-verified), and the FULL RFC 9639 decode
    reduces it to per-channel PCM stats. The reference runs this as
    `7z x` to a temp tree followed by soundfile/ffmpeg reads
    (extract_plan.py:84-116 → loader.py:113-146); here it is a single
    map stage whose output must equal DuckDB's closed-form integer
    arithmetic on the generator formulas — any defect in the archive
    decode, the member slicing OR the audio decode shifts a value.
    Plan shape: one map stage, no shuffle until the presentation
    sort."""
    import numpy as np
    import pandas as pd

    from tlmc_etl_spark.operators.flac import encode_flac, parse_flac_audio
    from tlmc_etl_spark.operators.sevenzip import (
        encode_7z,
        extract_7z_members,
    )
    from tlmc_etl_spark.operators.zipindex import (
        encode_zip,
        extract_zip_members,
    )

    ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(16)
    )

    _STEREO = ("independent", "left_side", "right_side", "mid_side")

    def run(batches):
        for pdf in batches:
            rows = []
            for vid in pdf["vec_id"]:
                vid = int(vid)
                n = 1536 + (vid % 3) * 512
                i = np.arange(n, dtype=np.int64)
                left = ((vid % 8) + 2) * (i % 241) + ((i * 11 + vid) % 29) - 14
                right = ((vid % 6) + 1) * (i % 199) + ((i * 3 + vid) % 17) - 8
                pcm = np.stack([left, right], axis=1)
                flac = encode_flac(
                    pcm, 44100, block_size=1024,
                    stereo=_STEREO[vid % 4],
                    mode="lpc" if vid % 2 else "auto",
                )
                name = f"track-{vid}.flac"
                if vid % 2 == 0:
                    container = "7z-lzma-solid"
                    arc = encode_7z(
                        [(name, False, flac)],
                        payload_codec="lzma", solid=True, with_crcs=True,
                    )
                    member = {
                        e["path"]: e for e in extract_7z_members(arc)
                    }[name]
                else:
                    container = "zip-deflate"
                    arc = encode_zip([(name, False, flac)], method="deflate")
                    member = {
                        e["path"]: e for e in extract_zip_members(arc)
                    }[name]
                dec = parse_flac_audio(member["content"])
                got = dec["samples"]
                assert got.shape == (n, 2)
                for ch in range(2):
                    seg = got[:, ch]
                    rows.append(
                        (
                            vid, container, ch, n,
                            int(seg.sum()), int(seg.min()), int(seg.max()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "track_id", "container", "ch", "n_samples",
                    "s_sum", "s_min", "s_max",
                ],
            )

    return fanout(ids).mapInPandas(
        run,
        schema=(
            "track_id long, container string, ch int, n_samples long, "
            "s_sum long, s_min long, s_max long"
        ),
    ).orderBy("track_id", "ch")
