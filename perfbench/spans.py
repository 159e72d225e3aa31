"""Span wrappers: time the package's public functions from outside the
package and tag the Spark jobs each one runs.

A span covers one call. Spans nest on one shared stack (the streaming
foreachBatch callback runs on another thread while the driver thread
waits inside its own span, so the callback's spans nest under it). On
entry a span sets the job-group local property to its path and
restores the previous value on exit, so every job is attributed to the
innermost span that ran it. Each span reports its self time: its
duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import os
import sys
import threading
import time

GROUP_PREFIX = "pb:"
PACKAGE = "tlmc_etl_spark"

# (module, function) -> (layer, kind, sink target argument)
SPANS = {
    ("tlmc_etl_spark.sources.tables", "table_row_count"): ("sources.footer", "fn", None),
    ("tlmc_etl_spark.pipelines.metadata", "build_catalog"): ("pipelines.catalog", "fn", None),
    ("tlmc_etl_spark.pipelines.similarity", "two_stage_similar_tracks"): (
        "pipelines.similarity", "fn", None),
    ("tlmc_etl_spark.pipelines.lifecycle", "lifecycle_pre_sink"): (
        "pipelines.lifecycle_pre", "fn", None),
    ("tlmc_etl_spark.pipelines.lifecycle", "lifecycle_post_sink"): (
        "pipelines.lifecycle_post", "fn", None),
    ("tlmc_etl_spark.tuning", "dimension_exec"): ("tuning.dimension_exec", "ctx", None),
    ("tlmc_etl_spark.sinks.shards", "write_similar_track_shards"): (
        "sinks.write", "fn", "out_dir"),
    ("tlmc_etl_spark.streaming.foreach_merge", "merge_batch_into_parquet"): (
        "sinks.write", "fn", "target"),
}


def group_id(path: tuple[str, ...]) -> str:
    return GROUP_PREFIX + "/".join(path)


def parse_group(group: str | None) -> tuple[str, ...] | None:
    if not group or not group.startswith(GROUP_PREFIX):
        return None
    return tuple(group[len(GROUP_PREFIX):].split("/"))


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under `path`, ignoring hidden/marker files."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


class Tracer:
    """Records self and inclusive time per span path while enabled, and
    `overhead_s`: the time the tracer spends on its own bookkeeping
    (span entry and exit, the job-group calls into the JVM and the sink
    directory walks)."""

    def __init__(self, set_group=None, clock=time.perf_counter, wall_ms=None):
        self._set_group = set_group
        self._clock = clock
        self._wall_ms = wall_ms or (lambda: time.time() * 1000.0)
        self._lock = threading.RLock()
        self._stack: list[list] = []
        self.enabled = False
        self.self_s: dict[tuple[str, ...], float] = {}
        self.incl_s: dict[tuple[str, ...], float] = {}
        self.windows: list[tuple[float, float, tuple[str, ...]]] = []
        self.sink_bytes = 0
        self.sink_files = 0
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_enter = self._clock()
        with self._lock:
            path = (self._stack[-1][0] if self._stack else ()) + (name,)
            frame = [path, t_enter, 0.0, self._wall_ms()]
            self._stack.append(frame)
            prev = self._set_group(group_id(path)) if self._set_group else None
            self.overhead_s += self._clock() - t_enter
        try:
            yield path
        finally:
            t_exit = self._clock()
            with self._lock:
                dur = t_exit - frame[1]
                self._stack.remove(frame)
                if self._stack:
                    self._stack[-1][2] += dur
                self.self_s[path] = self.self_s.get(path, 0.0) + dur - frame[2]
                self.incl_s[path] = self.incl_s.get(path, 0.0) + dur
                self.windows.append((frame[3], self._wall_ms(), path))
                if self._set_group:
                    self._set_group(prev)
                self.overhead_s += self._clock() - t_exit

    def note_sink(self, target: str) -> None:
        t0 = self._clock()
        n_bytes, n_files = dir_stats(target)
        with self._lock:
            self.sink_bytes += n_bytes
            self.sink_files += n_files
            self.overhead_s += self._clock() - t0

    def path_at(self, epoch_ms: float) -> tuple[str, ...] | None:
        """Innermost recorded span that was open at `epoch_ms` — the
        attribution of a job that carries no span group of its own (the
        streaming engine tags its jobs with the query's run id)."""
        best = None
        for t0, t1, path in self.windows:
            if t0 <= epoch_ms <= t1 and (best is None or len(path) > len(best)):
                best = path
        return best


def job_group_setter(sc):
    """Setter for the current thread's job group; returns the old value."""

    def set_group(value):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", value)
        return prev

    return set_group


def _wrap(tracer: Tracer, fn, layer: str, kind: str, target_arg: str | None):
    if kind == "ctx":

        @functools.wraps(fn)
        def ctx_wrapper(*args, **kwargs):
            @contextlib.contextmanager
            def scoped():
                with tracer.span(layer), fn(*args, **kwargs) as value:
                    yield value

            return scoped()

        return ctx_wrapper

    sig = inspect.signature(fn) if target_arg else None

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer) as path:
            out = fn(*args, **kwargs)
        if sig is not None and path is not None:
            tracer.note_sink(sig.bind(*args, **kwargs).arguments[target_arg])
        return out

    return wrapper


def install(tracer: Tracer):
    """Wrap every SPANS function in every loaded package module that
    holds it; returns a function that restores the originals."""
    patched = []
    for (mod_name, fn_name), (layer, kind, target_arg) in SPANS.items():
        orig = getattr(importlib.import_module(mod_name), fn_name)
        wrapped = _wrap(tracer, orig, layer, kind, target_arg)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name != PACKAGE and not name.startswith(PACKAGE + "."):
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, wrapped)
                    patched.append((mod, attr, orig))

    def uninstall():
        for mod, attr, orig in patched:
            setattr(mod, attr, orig)

    return uninstall
