"""Dump .explain("formatted") for registered queries to files.

Writes plans/<tag>/<query>_<suffix>.txt for every requested query
(default: all registered), so a change's physical plans can be diffed
before and after. The dumps are regenerable scratch: the repo's
.gitignore keeps /plans/ out of version control.

Usage:
  python tools/dump_plans.py --tag r13 --suffix before [query ...]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from open_tlm_spark.plans import REGISTRY
    from open_tlm_spark.session import get_spark, load_tables

    spark = get_spark("open-tlm-spark-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, args.sf_dir)

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", args.tag,
    )
    os.makedirs(out_dir, exist_ok=True)

    names = args.queries or sorted(REGISTRY)
    for name in names:
        q = REGISTRY[name]
        try:
            df = q.fn(spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # keep going; record the failure
            text = f"EXPLAIN FAILED: {e!r}\n"
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
