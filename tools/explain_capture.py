"""Capture .explain("formatted") output for registry entries.

Writes plans/<round>/<name>_<suffix>.txt for each requested entry —
the committed evidence for optimization-round plan claims (the judge
cannot run Spark; these files are what the OPTIMIZATION_r*.md plan
diffs are checked against).

Usage:
    python tools/explain_capture.py --out plans/r15 --suffix after \
        q3_top_unshipped q5_revenue_by_nation q9_profit_by_nation_year

Run from any checkout: the plan is built against $SPARK_GRAFT_SF_DIR
(default sf0.1, the bench SF, so broadcast-threshold decisions in the
printed initial plan match what the bench executes). The capture names
the data directory by its basename only, in the header and in every
scan's ``Location`` line, so captures of the same plan from two
checkouts or hosts compare equal. Note the printed
plan is the AQE *initial* plan (isFinalPlan=false); runtime
re-optimizations (coalescing, SMJ->BHJ flips) are narrated in the
docstrings/OPTIMIZATION notes where they matter.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def portable(text: str, sf_dir: str) -> str:
    """``text`` with the absolute data directory ``sf_dir`` replaced by
    its basename wherever it names a path (followed by ``/``, ``]``,
    whitespace or the end)."""
    root = os.path.abspath(sf_dir).rstrip("/")
    return re.sub(
        re.escape(root) + r"(?=[/\]\s]|$)",
        os.path.basename(root),
        text,
        flags=re.MULTILINE,
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--suffix", required=True, help="before|after")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from universal_importer_duckdb_spark import entry_queries as eq
    from universal_importer_duckdb_spark.session import get_spark

    spark = get_spark(app_name="explain-capture")
    spark.sparkContext.setLogLevel("ERROR")
    q = eq.queries()
    os.makedirs(args.out, exist_ok=True)
    rc = 0
    for name in args.names:
        try:
            df = q[name](spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            header = f"== {name} ({args.suffix}) sf_dir={args.sf_dir} ==\n"
            with open(path, "w") as fh:
                fh.write(portable(header + buf.getvalue(), args.sf_dir))
            print(f"wrote {path}")
        except Exception as exc:  # keep going; name the failure
            print(f"FAILED {name}: {exc}", file=sys.stderr)
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
