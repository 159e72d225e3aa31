"""The benchmark's workloads, driven only through the package's public
functions: `plans.QUERIES[name].fn`, `streaming.incremental.*` and
`tools/bench_incremental.replicated_inputs`.

A workload exposes `ops` (the timed pass runs each once, in the seed's
order), `generate(work)` (untimed input files), `prepare(spark)`
(untimed in-session inputs), `run(op, pass_idx, tracer)`, `check()`
(one (name, error|None) per op), which runs untimed after the timed
pass and checks that pass's outputs, and `e2e_ops` (ops whose wall is
an end-to-end metric of their own).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

from perfbench import inputs

# A stream drain that has not ended after this long counts as a timeout.
DRAIN_TIMEOUT_S = 120
CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_build", "perfbench-cache"
)


class QueryWorkload:
    """Registered queries, each built by its plan function and fully
    materialized into the `noop` sink (a `count()` would let Catalyst
    drop output columns, Python UDF outputs included). The check
    collects each timed DataFrame once more, untimed: the sink output
    the op wrote in the timed pass is what the collect reads back."""

    def __init__(self, name: str, ops: list[str]):
        self.name = name
        self.ops = ops
        self.e2e_ops: list[str] = []
        self.spark = None
        self.sf_dir = ""
        self.kept: dict = {}

    def generate(self, work: str) -> None:
        self.sf_dir = inputs.write_sf_dir(os.path.join(work, "sf0.1"))

    def prepare(self, spark) -> None:
        self.spark = spark

    def run(self, op: str, pass_idx: int, tracer) -> None:
        from tlmc_etl_spark.plans import QUERIES

        with tracer.span("plans.build"):
            df = QUERIES[op].fn(self.spark, self.sf_dir)
        with tracer.span("spark.action"):
            df.write.format("noop").mode("overwrite").save()
        self.kept[op] = df

    def check(self):
        """Compare each timed op's output, collected, with its DuckDB
        oracle over the same table files."""
        from tlmc_etl_spark.plans import QUERIES
        from tools.check_oracle import compare

        for op in self.ops:
            if op not in self.kept:
                yield op, "no output collected"
                continue
            try:
                got = self.kept[op].toPandas()
                verdict = compare(op, got, oracle_frame(QUERIES[op].oracle, self.sf_dir))
                yield op, None if verdict == "OK" else verdict
            except Exception as e:  # noqa: BLE001 - recorded as the op's failure
                yield op, f"{type(e).__name__}: {e}"[:500]


def cached_frame(h, compute):
    """`compute()`'s pandas frame, cached under `.bench_build/perfbench-cache/`
    by the digest of `h`, a hash of everything the frame depends on."""
    import pandas as pd

    path = os.path.join(CACHE_DIR, h.hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    frame = compute()
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    frame.to_pickle(tmp)
    os.replace(tmp, path)
    return frame


def hash_files(h, paths) -> None:
    for path in sorted(paths):
        with open(path, "rb") as fh:
            h.update(fh.read())


def oracle_frame(sql: str, sf_dir: str):
    """The DuckDB oracle's result over the tables in `sf_dir`, cached by
    the SQL and the table bytes: the inputs never change, and the
    composed lifecycle oracle alone takes ~17 s on a 4-core host."""
    tables = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    h = hashlib.sha1(sql.encode())
    hash_files(h, [os.path.join(sf_dir, f) for f in tables])

    def compute():
        import duckdb

        con = duckdb.connect()
        for f in tables:
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, f)}'")
        return con.execute(sql).fetchdf()

    return cached_frame(h, compute)


def rebuild_oracle_key(n_albums: int):
    """Hash of what a one-shot `rebuild_releases` over
    `replicated_inputs(n_albums)` depends on: the package sources, the
    input replicator and the fixture files."""
    from tools.bench_incremental import FIXTURES, ROOT

    h = hashlib.sha1(f"rebuild_releases/{n_albums}".encode())
    paths = [os.path.join(ROOT, "tools", "bench_incremental.py")]
    for base in (os.path.join(ROOT, "tlmc_etl_spark"), FIXTURES):
        for d, _, files in os.walk(base):
            paths += [os.path.join(d, f) for f in files if not f.endswith(".pyc")]
    hash_files(h, paths)
    return h


class IncrementalDelta:
    """`start_incremental_catalog_stream` draining a 10,008-album change
    journal into a fresh gold table."""

    SIZES = {"delta_10k": 10000}

    def __init__(self, name: str):
        self.name = name
        self.ops = list(self.SIZES)
        self.e2e_ops = self.ops
        self.spark = None
        self.seed = 0
        self.work = ""
        self.inputs: dict[str, tuple] = {}
        self.drains: list[dict] = []
        self.kept: dict[str, str] = {}

    def generate(self, work: str) -> None:
        self.work = os.path.join(work, "delta")
        os.makedirs(self.work, exist_ok=True)

    def prepare(self, spark) -> None:
        from tools.bench_incremental import replicated_inputs

        self.spark = spark
        for op, n in self.SIZES.items():
            manifest, probe, _ = replicated_inputs(spark, n)
            manifest = manifest.localCheckpoint(eager=True)
            probe = probe.localCheckpoint(eager=True)
            albums = [
                (r["circle_dir"], r["album_dir"])
                for r in manifest.select("circle_dir", "album_dir").distinct().collect()
            ]
            self.inputs[op] = (manifest, probe, albums)

    def run(self, op: str, pass_idx: int, tracer) -> None:
        from tlmc_etl_spark.streaming.incremental import start_incremental_catalog_stream

        manifest, probe, albums = self.inputs[op]
        base = os.path.join(self.work, f"{op}_{pass_idx}")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        journal = os.path.join(base, "changes.jsonl")
        inputs.write_journal(journal, albums, self.seed, pass_idx)
        gold = os.path.join(base, "gold")
        t0 = time.perf_counter()
        with tracer.span("plans.build"):
            query = start_incremental_catalog_stream(
                self.spark, journal, manifest, probe, gold, os.path.join(base, "ckpt")
            )
        with tracer.span("spark.action"):
            ended = query.awaitTermination(DRAIN_TIMEOUT_S)
        if not ended:
            query.stop()
            raise TimeoutError(f"{op} drain did not end within {DRAIN_TIMEOUT_S} s")
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        wall = time.perf_counter() - t0
        progress = query.recentProgress
        self.drains.append(
            {
                "op": op,
                "traced": tracer.enabled,
                "wall_s": wall,
                "batches": len(progress),
                "trigger_ms": [p["durationMs"].get("triggerExecution", 0) for p in progress],
                "add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in progress),
            }
        )
        self.kept[op] = gold

    def check(self):
        """The gold table of each drain holds one row per album and
        equals a one-shot `rebuild_releases` over the same inputs. The
        rebuild is cached by the sources and inputs it depends on: at
        10k it costs ~5 s a run."""
        from tlmc_etl_spark.streaming.incremental import RELEASE_COLS, rebuild_releases
        from tools.check_oracle import compare

        cols = [*RELEASE_COLS, "needs_review_reasons"]
        for op in self.ops:
            try:
                if op not in self.kept:
                    yield op, "no completed drain to check"
                    continue
                manifest, probe, albums = self.inputs[op]
                got = self.spark.read.parquet(self.kept[op]).select(*cols).toPandas()
                if len(got) != len(albums):
                    yield op, f"gold rows {len(got)} != albums {len(albums)}"
                    continue
                want = cached_frame(
                    rebuild_oracle_key(self.SIZES[op]),
                    lambda: rebuild_releases(manifest, probe).select(*cols).toPandas(),
                )
                verdict = compare(op, got, want)
                yield op, None if verdict == "OK" else verdict
            except Exception as e:  # noqa: BLE001 - recorded as the op's failure
                yield op, f"{type(e).__name__}: {e}"[:500]

    def stream_stats(self) -> dict:
        """Streaming figures over the traced drains."""
        traced = [d for d in self.drains if d["traced"]]
        if not traced:
            return {}
        triggers = [t for d in traced for t in d["trigger_ms"]]
        return {
            "batches": sum(d["batches"] for d in traced),
            "batch_ms": statistics.median(triggers) if triggers else 0.0,
            "add_batch_ms": sum(d["add_batch_ms"] for d in traced),
            "overhead_s": sum(d["wall_s"] - d["add_batch_ms"] / 1000.0 for d in traced),
        }


def make(name: str):
    if name == "similarity_lifecycle":
        return QueryWorkload(name, ["lifecycle_similar_shards"])
    if name == "incremental_delta":
        return IncrementalDelta(name)
    raise KeyError(name)


WORKLOADS = ["similarity_lifecycle", "incremental_delta"]
