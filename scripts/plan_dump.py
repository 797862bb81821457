#!/usr/bin/env python
"""Dump .explain('formatted') for a set of query keys to plans/<tag>/.

Usage: python scripts/plan_dump.py <tag> [key ...]
Defaults to the bench HEADLINE+EXTRA set. Writes
plans/<tag>/<key>_<suffix>.txt where suffix comes from $PLAN_SUFFIX
(default 'before'). Uses the same session shape as bench.py (input-sized
confs) so the captured plans are the plans the bench actually runs.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r11"
    keys = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    suffix = os.environ.get("PLAN_SUFFIX", "before")

    from engine import registry
    from engine.io import harness_session

    registry.load_all()
    if not keys:
        import bench

        keys = bench.HEADLINE + bench.EXTRA

    spark, _ = harness_session(sf_dir, app="plan_dump")

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        fn = registry.QUERIES[key]
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
