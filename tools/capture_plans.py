"""Capture .explain("formatted") output for registered queries.

Usage:
    python tools/capture_plans.py OUTDIR SUFFIX [QUERY ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each named query (all bench
HEADLINE queries when none are named). The plan is the pre-execution
formatted physical plan (AdaptiveSparkPlan isFinalPlan=false when AQE
applies) built against $SPARK_GRAFT_SF_DIR — the artifact the round's
plan-shape claims are checked against. A query whose plan cannot build
gets a PLAN BUILD FAILED dump, and the run exits non-zero naming it.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tlmc_etl_spark.plans import QUERIES
from tlmc_etl_spark.session import get_spark


def explain_formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:]
    if not names:
        from bench import HEADLINE

        names = [n for n in HEADLINE if n in QUERIES]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    failed = []
    for name in names:
        try:
            df = QUERIES[name].fn(spark, sf_dir)
            text = explain_formatted(df)
        except Exception as exc:  # a plan that cannot build is itself evidence
            text = f"PLAN BUILD FAILED: {exc!r}\n"
            failed.append(name)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} bytes)", file=sys.stderr)
    if failed:
        sys.exit(f"plan build failed for: {', '.join(failed)}")


if __name__ == "__main__":
    main()
