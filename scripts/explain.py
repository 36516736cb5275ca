"""Dump ``explain("formatted")`` for named query keys.

Usage:
    python scripts/explain.py <tag> [--exec] [--out plans/<round>] key ...

Writes ``<out>/<key>_<tag>.txt`` (default ``--out``: ``plans/latest``,
relative to the repo root unless absolute) — the plan evidence files an
optimization claim is checked against; ``<tag>`` is typically
``before`` or ``after``. ``--exec`` collects each result first so AQE
finalizes and the dump is the EXECUTED final plan (isFinalPlan=true),
the only view in which runtime exchange reuse (ReusedExchange) is
visible; use it for small-result keys. Uses bench.py's session
bootstrap and data dir (``bench.SF_DIR``: ``$SPARK_GRAFT_SF_DIR``,
default sf0.1), with no layout registered (plain path).

Streaming keys (run_available_now executes the stream and returns the
materialized memory table) produce the *post-execution* result-table
plan; for those the interesting plan is the micro-batch plan, which the
bench's event-log CPU numbers capture instead.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import SF_DIR  # noqa: E402
from nyc_taxi_data_engineering_project_spark import registry  # noqa: E402
from nyc_taxi_data_engineering_project_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("tag", help="file-name tag, e.g. before|after")
    ap.add_argument("--exec", dest="execute", action="store_true",
                    help="collect() first; dump the executed final plan")
    ap.add_argument("--out", default=os.path.join("plans", "latest"),
                    help="output dir (relative to the repo root)")
    ap.add_argument("keys", nargs="+", help="registry keys")
    args = ap.parse_args()
    out_dir = os.path.join(ROOT, args.out)
    os.makedirs(out_dir, exist_ok=True)
    registry.load_all()
    spark = get_session("explain")
    for key in args.keys:
        df = registry.QUERIES[key](spark, SF_DIR)
        if args.execute:
            df.collect()  # finalize AQE so ReusedExchange is visible
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{key}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {key} [{args.tag}] sf_dir={SF_DIR}"
                     f"{' EXECUTED-final-plan' if args.execute else ''}\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
