"""Dump .explain('formatted') for registered queries to
<outdir>/<query>_<tag>.txt (guide §1 / §7.2: keep the plan evidence
next to the claim). The queries come from the checkout this script
sits in.

Usage:
    python tools/dump_plans.py --outdir plans/<topic> --tag before q1 q2 ...
    python tools/dump_plans.py --outdir plans/<topic> --tag after --all
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag", required=True)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--outdir", required=True)
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_SF_DIR"] = args.sf
    import __spark_entry__ as mod
    from det_module_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = mod.queries()
    names = sorted(qs) if args.all else args.queries
    unknown = [q for q in names if q not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        sys.exit(2)
    os.makedirs(args.outdir, exist_ok=True)
    for name in names:
        # build the DataFrame ONCE (ADVICE r10: the old primary path
        # called the builder twice in one expression — re-running every
        # eager localCheckpoint — through a _jvm alias that never
        # resolved, so the fallback always did the work anyway) and
        # capture the public explain() output
        import contextlib
        import io

        df = qs[name](spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        path = os.path.join(args.outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
