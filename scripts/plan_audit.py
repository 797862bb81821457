#!/usr/bin/env python
"""Registry-wide plan tool: plan-shape audit plus formatted plan dumps.

Builds each registered key's DataFrame on a bench-shaped session
(input-sized confs for the fixture, as bench.py runs it) and writes, into
the output dir:

- ``plan_audit.json``: per key, physical-plan statistics: Exchange count
  (distinct operator ids), Python-boundary nodes, join strategies,
  Cartesian/BNLJ occurrences, and whether the scan carries pushed
  filters;
- ``<key>.txt``: the key's ``explain("formatted")`` text, the string the
  statistics are read from.

Streaming keys are recorded as skipped: building them RUNS a full
availableNow query, and their shapes are pinned in tests/test_plans.py.
A key whose build raises is recorded with its error and the audit goes on.

Usage: python scripts/plan_audit.py [sf_dir] [key ...] [--out DIR]
(default: every key at /root/testdata/sf0.01 into the repo's plans/audit,
which git ignores; pass ``--out plans/<round>`` to write a record).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SKIP_PREFIXES = ("stream_",)
PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandasWithState",
)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Plan audit and dumps over registered keys.")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01", help="fixture dir")
    ap.add_argument("keys", nargs="*", help="registry keys (default: all)")
    ap.add_argument("--out", default=os.path.join(REPO, "plans", "audit"), help="output dir")
    return ap.parse_args(argv)


def plan_stats(s: str) -> dict:
    """Audit fields read from one ``explain("formatted")`` string."""
    ops = re.findall(r"\(\d+\) (\w+)", s)
    return {
        "exchanges": len(set(re.findall(r"\((\d+)\) Exchange", s))),
        "python_nodes": [o for o in ops if o in PYTHON_NODES],
        "joins": sorted({o for o in ops if "Join" in o or o == "CartesianProduct"}),
        "cartesian": "CartesianProduct" in ops,
        "bnlj": "BroadcastNestedLoopJoin" in ops,
        "pushed_filters": "PushedFilters: [" in s and "PushedFilters: []" not in s,
    }


def main(argv: list[str] | None = None) -> None:
    ns = parse_args(argv)

    from engine import registry
    from engine.io import harness_session

    registry.load_all()
    unknown = [k for k in ns.keys if k not in registry.QUERIES]
    if unknown:
        sys.exit(f"unknown keys: {unknown}")
    spark, _ = harness_session(ns.sf_dir, app="plan_audit")
    os.makedirs(ns.out, exist_ok=True)

    audit: dict[str, dict] = {}
    for key in ns.keys or sorted(registry.QUERIES):
        if key.startswith(SKIP_PREFIXES):
            audit[key] = {"skipped": "streaming (plan build runs the query)"}
            continue
        try:
            df = registry.QUERIES[key](spark, ns.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            s = buf.getvalue()
        except Exception as e:  # noqa: BLE001 - audit must finish
            audit[key] = {"error": f"{type(e).__name__}: {e}"[:200]}
            continue
        with open(os.path.join(ns.out, f"{key}.txt"), "w") as f:
            f.write(s)
        audit[key] = plan_stats(s)
    out_path = os.path.join(ns.out, "plan_audit.json")
    with open(out_path, "w") as f:
        json.dump(audit, f, indent=1, sort_keys=True)
    n_err = sum(1 for v in audit.values() if "error" in v)
    print(f"audited {len(audit)} keys ({n_err} errors) -> {out_path}")


if __name__ == "__main__":
    main()
