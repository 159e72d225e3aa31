"""Sources/sinks tests: JSONL corrupt-line tolerance, manifest scan,
sharded resume writes, atomic overwrite."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from tlmc_etl_spark.sinks.shards import (
    atomic_overwrite_parquet,
    existing_shards,
    read_similar_track_shards,
    write_shards_resumable,
    write_similar_track_shards,
)
from tlmc_etl_spark.sources.jsonl import LOUDNESS_SCHEMA, read_jsonl, split_corrupt
from tlmc_etl_spark.sources.manifest import album_audio_dirs, scan_tree, with_kind


class TestJsonl:
    def test_corrupt_lines_isolated(self, spark, tmp_path):
        p = tmp_path / "journal.jsonl"
        p.write_text(
            '{"path": "a.flac", "i": -12.5, "tp": -1.0, "lra": 6.0, "gain_db": -1.5, "source": "ebur128"}\n'
            "THIS IS A TORN LINE{{{\n"
            '{"path": "b.flac", "i": -9.0, "tp": 0.2, "lra": 4.0, "gain_db": -5.0, "source": "ebur128"}\n'
        )
        df = read_jsonl(spark, str(p), LOUDNESS_SCHEMA)
        good, bad = split_corrupt(df)
        assert good.count() == 2
        assert bad.count() == 1
        assert set(r["path"] for r in good.collect()) == {"a.flac", "b.flac"}


class TestManifest:
    def _mk_tree(self, root):
        files = [
            "[Circle A]/2011.05.08 [ABC-123] Album [C80]/(01) [Alice] Song.flac",
            "[Circle A]/2011.05.08 [ABC-123] Album [C80]/(02) [Alice] Tune.flac",
            "[Circle A]/2011.05.08 [ABC-123] Album [C80]/Disc 2/(01) [Bob] More.mp3",
            "[Circle A]/2011.05.08 [ABC-123] Album [C80]/cover.jpg",
            "[Circle B]/2012.12.30 Another/(01) [Carol] Solo.WAV",
        ]
        for f in files:
            p = os.path.join(root, f)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "w") as fh:
                fh.write("x" * 10)

    def test_scan_and_classify(self, spark, tmp_path):
        self._mk_tree(str(tmp_path))
        m = scan_tree(spark, str(tmp_path))
        assert m.count() == 5
        kinds = {r["filename"]: r["kind"] for r in with_kind(m).collect()}
        assert kinds["(01) [Alice] Song.flac"] == "audio"
        assert kinds["(01) [Carol] Solo.WAV"] == "audio"  # uppercase ext folded
        assert kinds["cover.jpg"] == "asset"
        dirs = album_audio_dirs(m).collect()
        by_dir = {(r["album_dir"], r["rel_dir"]): r["n_audio"] for r in dirs}
        assert by_dir[("2011.05.08 [ABC-123] Album [C80]", None)] == 2
        assert by_dir[("2011.05.08 [ABC-123] Album [C80]", "Disc 2")] == 1


class TestShardSink:
    def test_resume_skips_existing(self, spark, tmp_path):
        df = spark.range(0, 1000).select(F.col("id").cast("string").alias("k"), F.col("id").alias("v"))
        out = str(tmp_path / "shards")
        w1 = write_shards_resumable(df, "k", out, n_shards=8, fmt="parquet")
        assert w1 == list(range(8))
        # simulate a lost shard: remove one partition dir
        import shutil

        shutil.rmtree(os.path.join(out, "shard=3"))
        assert existing_shards(out) == set(range(8)) - {3}
        w2 = write_shards_resumable(df, "k", out, n_shards=8, fmt="parquet")
        assert w2 == [3]
        back = spark.read.parquet(out)
        assert back.count() == 1000
        assert back.select("k").distinct().count() == 1000

    def test_similar_track_contract(self, spark, tmp_path):
        ranked = spark.createDataFrame(
            [(1, 2, 1, 0.9), (1, 3, 2, 0.8), (2, 1, 1, 0.7)],
            "anchor long, neighbor long, rank int, score double",
        )
        out = str(tmp_path / "sim")
        write_similar_track_shards(ranked, out, n_shards=2)
        back = read_similar_track_shards(spark, out)
        assert set(back.columns) >= {"anchor_id", "neighbor_id", "rank", "score"}
        assert back.count() == 3


class TestAtomicOverwrite:
    def test_swap_replaces_whole_artifact(self, spark, tmp_path):
        out = str(tmp_path / "artifact")
        atomic_overwrite_parquet(spark.range(0, 10), out)
        assert spark.read.parquet(out).count() == 10
        atomic_overwrite_parquet(spark.range(0, 3), out)
        assert spark.read.parquet(out).count() == 3
        assert not os.path.isdir(out + ".__tmp__")
        assert not os.path.isdir(out + ".__old__")


class TestBinaryEmbeddingIO:
    def test_roundtrip_bytes_exact(self, spark, tmp_path):
        import numpy as np

        from tlmc_etl_spark.sinks.binvec import write_embedding_bins
        from tlmc_etl_spark.sources.binvec import read_embedding_bins, uuid_of_int

        df = spark.createDataFrame(
            [(7, [1.5, -2.25, 0.125]), (8, [0.0, 3.75, -1.0])],
            "vec_id long, embedding array<float>",
        )
        out = str(tmp_path / "bins")
        manifest = write_embedding_bins(df, out, "vec_id", "embedding").collect()
        assert {m["track_uuid"] for m in manifest} == {uuid_of_int(7), uuid_of_int(8)}
        # raw bytes are little-endian float32, no header
        raw = np.fromfile(os.path.join(out, uuid_of_int(7) + ".bin"), dtype="<f4")
        assert raw.tolist() == [1.5, -2.25, 0.125]
        back = {
            r["track_int"]: r["embedding"]
            for r in read_embedding_bins(spark, out, 3).filter("valid").collect()
        }
        assert back[7] == [1.5, -2.25, 0.125]
        assert back[8] == [0.0, 3.75, -1.0]

    def test_skip_classes_flagged_not_dropped(self, spark, tmp_path):
        import numpy as np

        from tlmc_etl_spark.sources.binvec import read_embedding_bins, uuid_of_int

        out = tmp_path / "bins"
        out.mkdir()
        np.array([1.0, 2.0], dtype="<f4").tofile(str(out / (uuid_of_int(1) + ".bin")))
        np.array([1.0, 2.0, 3.0], dtype="<f4").tofile(str(out / (uuid_of_int(2) + ".bin")))
        np.array([9.0], dtype="<f4").tofile(str(out / "not-a-uuid.bin"))
        rows = {r["track_uuid"]: r for r in read_embedding_bins(spark, str(out), 2).collect()}
        assert rows[uuid_of_int(1)]["valid"]
        assert not rows[uuid_of_int(2)]["valid"]
        assert rows[uuid_of_int(2)]["reason"] == "wrong_dims"
        assert rows[uuid_of_int(2)]["n_floats"] == 3
        assert not rows["not-a-uuid"]["valid"]
        assert rows["not-a-uuid"]["reason"] == "bad_filename"


class TestCopyBinarySink:
    def test_files_decode_back_exactly(self, spark, tmp_path):
        from tlmc_etl_spark.sinks.copybin import decode_copy_binary, write_copy_shards

        df = spark.createDataFrame(
            [(10, "O", 1.5, "note 10"), (20, "F", -2.25, None), (37, "P", 0.0, "note 37")],
            "k bigint, status string, price double, note string",
        )
        out = str(tmp_path / "copy")
        stats = {r["shard"]: r for r in write_copy_shards(df, out, "k", n_shards=4).collect()}
        types = ["bigint", "string", "double", "string"]
        got = []
        for s, st in stats.items():
            path = os.path.join(out, f"shard_{s:03d}.copy")
            data = open(path, "rb").read()
            assert len(data) == st["file_bytes"]  # writer stats match disk
            got.extend(decode_copy_binary(data, types))
        assert sorted(got) == sorted(
            [(10, "O", 1.5, "note 10"), (20, "F", -2.25, None), (37, "P", 0.0, "note 37")],
            key=lambda r: r[0],
        )

    def test_shard_routing_matches_hash_convention(self, spark, tmp_path):
        from tlmc_etl_spark.sinks.copybin import decode_copy_binary, write_copy_shards

        df = spark.createDataFrame([(i, float(i)) for i in range(50)], "k bigint, v double")
        out = str(tmp_path / "copy")
        write_copy_shards(df, out, "k", n_shards=8).collect()
        for fname in os.listdir(out):
            s = int(fname.split("_")[1].split(".")[0])
            for k, _ in decode_copy_binary(open(os.path.join(out, fname), "rb").read(), ["bigint", "double"]):
                assert (k * 2654435761) % 4294967296 % 8 == s


class TestBinvecDataSource:
    """The DataSource V2 form must match read_embedding_bins row-for-row."""

    def _write_fixture(self, spark, sf_dir, tmpdir):
        from tlmc_etl_spark.sinks.binvec import write_embedding_bins
        from tlmc_etl_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings").limit(50)
        write_embedding_bins(emb, str(tmpdir), "vec_id", "embedding").collect()
        return str(tmpdir)

    def test_format_read_matches_function_read(self, spark, sf_dir, tmp_path):
        from tlmc_etl_spark.sources.binvec import (
            read_embedding_bins,
            register_binvec_source,
        )

        out = self._write_fixture(spark, sf_dir, tmp_path)
        register_binvec_source(spark)
        via_format = (
            spark.read.format("binvec").option("dims", 64).load(out).collect()
        )
        via_fn = read_embedding_bins(spark, out, 64).collect()
        key = lambda r: r["track_uuid"]
        assert sorted([r.asDict() for r in via_format], key=key) == sorted(
            [r.asDict() for r in via_fn], key=key
        )

    def test_partition_planning_splits_by_file_count(self, spark, sf_dir, tmp_path):
        from tlmc_etl_spark.sources.binvec import register_binvec_source

        out = self._write_fixture(spark, sf_dir, tmp_path)
        register_binvec_source(spark)
        df = (
            spark.read.format("binvec")
            .option("dims", 64)
            .option("files_per_partition", 10)
            .load(out)
        )
        assert df.rdd.getNumPartitions() == 5  # 50 files / 10 per task
        assert df.count() == 50

    def test_bad_rows_isolated_per_row(self, spark, tmp_path):
        from tlmc_etl_spark.sources.binvec import register_binvec_source, uuid_of_int
        import numpy as np

        (tmp_path / "not-a-uuid.bin").write_bytes(b"\x00" * 8)
        (tmp_path / f"{uuid_of_int(1)}.bin").write_bytes(
            np.arange(3, dtype="<f4").tobytes()  # wrong dims
        )
        (tmp_path / f"{uuid_of_int(2)}.bin").write_bytes(
            np.arange(64, dtype="<f4").tobytes()
        )
        register_binvec_source(spark)
        rows = {
            r["track_uuid"]: r
            for r in spark.read.format("binvec")
            .option("dims", 64)
            .load(str(tmp_path))
            .collect()
        }
        assert rows["not-a-uuid"]["reason"] == "bad_filename"
        assert rows[uuid_of_int(1)]["reason"] == "wrong_dims"
        assert rows[uuid_of_int(2)]["valid"] and len(rows[uuid_of_int(2)]["embedding"]) == 64

    def _write_manifest_fixture(self, spark, sf_dir, tmp_path):
        from tlmc_etl_spark.sources.binvec import register_binvec_writable
        from tlmc_etl_spark.sources.tables import load_table

        register_binvec_writable(spark)
        emb = load_table(spark, sf_dir, "embeddings").limit(20).select(
            F.col("vec_id").alias("track_int"), "embedding"
        )
        out = str(tmp_path / "bins")
        emb.write.format("binvec").option("path", out).mode("append").save()
        return out

    def test_manifest_listed_file_missing_raises(self, spark, sf_dir, tmp_path):
        """An explicit manifest 'files' list is authoritative: a listed
        file deleted out-of-band must be an error, never a silent
        partial read."""
        import json
        import os

        import pytest

        out = self._write_manifest_fixture(spark, sf_dir, tmp_path)
        manifest = json.load(open(f"{out}/manifest.json"))
        victim = manifest["files"][0]
        os.remove(os.path.join(out, victim))
        with pytest.raises(Exception, match="manifest lists"):
            spark.read.format("binvec").option("dims", 64).load(out).collect()

    def test_empty_manifest_means_empty_table_not_glob(self, spark, sf_dir, tmp_path):
        """A committed files=[] manifest is an EMPTY generation; stale
        .bin files on disk (publish->delete crash window) must stay
        invisible rather than resurface via the glob fallback."""
        import json

        out = self._write_manifest_fixture(spark, sf_dir, tmp_path)
        manifest = json.load(open(f"{out}/manifest.json"))
        manifest["files"] = []
        manifest["n_files"] = 0
        json.dump(manifest, open(f"{out}/manifest.json", "w"))
        assert (
            spark.read.format("binvec").option("dims", 64).load(out).count() == 0
        )


class TestBinvecDataSourceWriter:
    def test_write_format_roundtrips_through_read_format(self, spark, sf_dir, tmp_path):
        from tlmc_etl_spark.sources.binvec import register_binvec_writable
        from tlmc_etl_spark.sources.tables import load_table
        import json

        register_binvec_writable(spark)
        emb = load_table(spark, sf_dir, "embeddings").limit(40).select(
            F.col("vec_id").alias("track_int"), "embedding"
        )
        out = str(tmp_path / "bins")
        emb.write.format("binvec").option("path", out).mode("append").save()

        manifest = json.load(open(f"{out}/manifest.json"))
        assert manifest["n_files"] == 40

        back = (
            spark.read.format("binvec").option("dims", 64).load(out)
        )
        rows = {r["track_int"]: r["embedding"] for r in back.filter("valid").collect()}
        want = {r["track_int"]: r["embedding"] for r in emb.collect()}
        assert rows == want

    def test_overwrite_clears_stale_files(self, spark, sf_dir, tmp_path):
        """mode('overwrite') must remove bins from a prior write — stale
        {uuid}.bin files surviving would be read back as live rows."""
        from tlmc_etl_spark.sources.binvec import register_binvec_writable
        from tlmc_etl_spark.sources.tables import load_table
        import json

        register_binvec_writable(spark)
        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("track_int"), "embedding"
        )
        out = str(tmp_path / "bins")
        emb.limit(40).write.format("binvec").option("path", out).mode(
            "append"
        ).save()
        emb.filter("track_int >= 100").limit(10).write.format("binvec").option(
            "path", out
        ).mode("overwrite").save()

        manifest = json.load(open(f"{out}/manifest.json"))
        assert manifest["n_files"] == 10
        back = spark.read.format("binvec").option("dims", 64).load(out)
        assert back.count() == 10  # no stale rows from the first write
        import os

        assert not os.path.isdir(f"{out}/_binvec_staging")  # staging cleaned

    def test_failed_job_leaves_previous_contents_intact(self, spark, sf_dir, tmp_path):
        """A job that dies mid-write must not publish partial files or
        disturb the previous generation (abort() drops staging only)."""
        from tlmc_etl_spark.sources.binvec import register_binvec_writable
        from tlmc_etl_spark.sources.tables import load_table
        import glob
        import os
        import pytest

        register_binvec_writable(spark)
        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("track_int"), "embedding"
        )
        out = str(tmp_path / "bins")
        emb.limit(5).write.format("binvec").option("path", out).mode(
            "append"
        ).save()
        before = sorted(glob.glob(f"{out}/*.bin"))

        bad = emb.limit(20).withColumn(
            "track_int",
            F.when(F.col("track_int") < 10, F.col("track_int")).otherwise(
                F.expr("assert_true(false, 'boom')").cast("long")
            ),
        )
        with pytest.raises(Exception):
            bad.write.format("binvec").option("path", out).mode(
                "overwrite"
            ).save()
        assert sorted(glob.glob(f"{out}/*.bin")) == before
        assert not os.path.isdir(f"{out}/_binvec_staging")


class TestBinvecCommitCrashWindows:
    """commit() ordering contract: publish new files first, atomically
    swap the manifest (THE commit point), delete stale bins last — no
    crash window may lose both generations (round-6 ADVICE)."""

    @staticmethod
    def _seed_old_generation(out):
        import json

        from tlmc_etl_spark.sources.binvec import uuid_of_int

        os.makedirs(out, exist_ok=True)
        old = [f"{uuid_of_int(i)}.bin" for i in range(3)]
        for n in old:
            with open(os.path.join(out, n), "wb") as fh:
                fh.write(np.zeros(4, "<f4").tobytes())
        with open(os.path.join(out, "manifest.json"), "w") as fh:
            json.dump({"n_files": 3, "dtype": "<f4", "files": old}, fh)
        return old

    @staticmethod
    def _staged_message(writer, ids):
        class Row:
            def __init__(self, i):
                self.track_int = i
                self.embedding = [float(i)] * 4

        return writer.write([Row(i) for i in ids])

    def test_crash_during_stale_cleanup_keeps_new_generation_live(
        self, tmp_path, monkeypatch
    ):
        import json

        import pytest

        from tlmc_etl_spark.sources.binvec import (
            _BinvecReader,
            _BinvecWriter,
            uuid_of_int,
        )

        out = str(tmp_path / "bins")
        old = self._seed_old_generation(out)
        w = _BinvecWriter({"path": out}, overwrite=True)
        msg = self._staged_message(w, [10, 11])

        def crash_remove(p):
            raise OSError(f"simulated crash deleting {p}")

        monkeypatch.setattr(os, "remove", crash_remove)
        with pytest.raises(OSError):
            w.commit([msg])
        monkeypatch.undo()

        # Manifest already committed the new generation before cleanup…
        manifest = json.load(open(os.path.join(out, "manifest.json")))
        want = sorted(f"{uuid_of_int(i)}.bin" for i in (10, 11))
        assert manifest["files"] == want
        # …so the reader resolves ONLY new files, though stale bins remain.
        resolved = [
            os.path.basename(f)
            for part in _BinvecReader({"path": out, "dims": "4"}).partitions()
            for f in part.files
        ]
        assert sorted(resolved) == want
        for n in old:  # stale but hidden, never a lost-both-generations hole
            assert os.path.exists(os.path.join(out, n))

    def test_crash_before_manifest_keeps_old_generation_live(
        self, tmp_path, monkeypatch
    ):
        import json

        import pytest

        from tlmc_etl_spark.sources.binvec import _BinvecReader, _BinvecWriter

        out = str(tmp_path / "bins")
        old = self._seed_old_generation(out)
        w = _BinvecWriter({"path": out}, overwrite=True)
        msg = self._staged_message(w, [10, 11])

        real_replace = os.replace

        def crash_on_manifest(src, dst):
            if dst.endswith("manifest.json"):
                raise OSError("simulated crash publishing manifest")
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", crash_on_manifest)
        with pytest.raises(OSError):
            w.commit([msg])
        monkeypatch.undo()

        # Old manifest untouched => readers still see the old generation
        # (every old file intact: new names don't collide in this test).
        manifest = json.load(open(os.path.join(out, "manifest.json")))
        assert manifest["files"] == old
        resolved = [
            os.path.basename(f)
            for part in _BinvecReader({"path": out, "dims": "4"}).partitions()
            for f in part.files
        ]
        assert sorted(resolved) == sorted(old)


class TestShardFileOrdering:
    def test_similar_track_shard_files_are_ordered(self, spark, tmp_path):
        """Loader contract: rows within each shard file arrive ordered by
        (anchor_id, rank). Round 16 caught the sink sorting BEFORE the
        shard repartition — the shuffle scrambled it and every shard
        file was emitted unordered while still paying the sort."""
        import csv
        import glob

        from pyspark.sql import functions as F

        from tlmc_etl_spark.sinks.shards import write_similar_track_shards

        df = spark.range(500).select(
            (F.col("id") % 50).alias("anchor"),
            (F.col("id") % 7).alias("neighbor"),
            (F.col("id") % 5 + 1).cast("int").alias("rank"),
            F.rand(1).alias("score"),
        )
        out = str(tmp_path / "shards")
        write_similar_track_shards(df, out, n_shards=4)
        files = sorted(glob.glob(out + "/shard=*/*.csv"))
        assert files
        for f in files:
            rows = list(csv.reader(open(f)))[1:]
            keys = [(r[0], int(r[2])) for r in rows]
            assert keys == sorted(keys), f"unordered shard file {f}"


class TestEventsLoader:
    def test_nanos_events_load_as_micro_timestamps(self, spark, tmp_path):
        """TIMESTAMP(NANOS) events load through the nanosAsLong flag that
        get_spark sets once; the loader truncates them to microseconds."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tlmc_etl_spark.sources.tables import load_table

        ns = np.array([1704067798778549123, 1704068166738090456], dtype="datetime64[ns]")
        pq.write_table(
            pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(ns)}),
            tmp_path / "events.parquet",
        )
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()
        assert [r["us"] for r in got] == [1704067798778549, 1704068166738090]
