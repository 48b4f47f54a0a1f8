#!/usr/bin/env python
"""Write live `.explain("formatted")` plans, one file per name:

    python tools/dump_plans.py OUT_DIR [NAME ...]

A NAME is a bench.py phase (its plan builder, after the shared state it
needs is built, exactly as bench.py times it) or a contract query. With no
names: every bench phase plus the contract queries below. A phase that
times several frames writes their plans into one file, in order.

Session, fixture and data come from bench.py (``$SPARK_GRAFT_CPUS``,
``$SPARK_GRAFT_SF_DIR``, ``$KGFORGE_BENCH_DOCS``); `make plans` uses sf0.001
and 2000 docs, so a capture takes about a minute. A before/after comparison
is two output directories. Plan-shape claims are asserted in
tests/test_plans.py and the operator tests, not here.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

# contract queries with a plan worth keeping that no bench phase times
CONTRACT_PLANS = ["scan_dropna", "lsh_bucketed_ann", "kg_mentions"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("names", nargs="*", help="phases or contract queries")
    args = ap.parse_args(argv)
    known = set(bench.PHASES) | set(bench.contract_queries())
    unknown = [n for n in args.names if n not in known]
    if unknown:
        ap.error(f"unknown plans: {unknown}")
    names = args.names or [*bench.PHASES, *CONTRACT_PLANS]

    os.makedirs(args.out_dir, exist_ok=True)
    b = bench.Bench()
    try:
        for name in names:
            plan = b.plan(name)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                for df in plan if isinstance(plan, tuple) else (plan,):
                    df.explain("formatted")
            path = os.path.join(args.out_dir, f"{name}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"wrote {path}", file=sys.stderr)
    finally:
        b.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
