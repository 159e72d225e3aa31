"""Per-query job-count + wall profiler.

At sf0.1 most headline walls are scheduler-floor-bound (sf0.01 wall ~=
sf0.1 wall), so the optimization lever is the NUMBER of sequential Spark
jobs a query schedules, not bytes. This tool measures it: for each named
query, one warm pass at sf0.001 (bench.warm_suite, which names a query
that fails there), then a timed pass at $SPARK_GRAFT_SF_DIR
inside a job group, reporting wall seconds and the job count from the
status tracker.

Usage: python tools/profile_jobs.py [QUERY ...]   (default: top names)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_suite
from tlmc_etl_spark.plans import QUERIES
from tlmc_etl_spark.session import get_spark

DEFAULT = [
    "lifecycle_similar_shards",
    "doc_dedup_clusters",
    "minhash_dedup_clusters",
    "bpe_train_merges",
    "bpe_encode_corpus",
    "lyrics_heal_join",
    "doc_quality_classifier",
    "two_stage_similarity",
    "cue_split_lifecycle",
    "minhash_lsh_dedup",
    "embedding_near_dup_lsh",
    "embedding_near_dup_lsh_hi",
    "similarity_incremental_rebuild",
    "semantic_dedup_clusters",
    "gap_fill_numbering",
]


def main() -> None:
    argv = sys.argv[1:]
    verbose = "-v" in argv
    names = [a for a in argv if a != "-v"] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in names:
        warm_suite(spark, [name])
        spark.catalog.clearCache()
        group = f"prof-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        QUERIES[name].fn(spark, sf_dir).count()
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        jobs = tracker.getJobIdsForGroup(group)
        print(f"{name:35s} wall={wall:6.2f}s jobs={len(jobs)}")
        if verbose:
            # per-job stage breakdown: which operator each scheduler round
            # materialized (stage name = first line of the call site) and
            # how many tasks it ran — locates WHERE the job count goes.
            for jid in sorted(jobs):
                ji = tracker.getJobInfo(jid)
                if ji is None:
                    continue
                parts = []
                for sid in sorted(ji.stageIds):
                    si = tracker.getStageInfo(sid)
                    if si is None:
                        continue
                    nm = si.name.splitlines()[0][:60]
                    parts.append(f"{nm} x{si.numTasks}")
                print(f"    job {jid}: " + " | ".join(parts))
    spark.catalog.clearCache()


if __name__ == "__main__":
    main()
