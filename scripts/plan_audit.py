#!/usr/bin/env python
"""Registry-wide plan-shape audit (r11 optimization checklist).

Builds every registered key's DataFrame at sf0.01 and records physical-
plan statistics: Exchange count (distinct operator ids), Python-boundary
nodes, join strategies, Cartesian/BNLJ occurrences, and whether the scan
carries pushed filters. Streaming keys are skipped (building them RUNS a
full availableNow query; their shapes are pinned in tests/test_plans.py
and measured in the streaming bench/state-store A/B instead).

Output: one JSON file (default plans/r11/plan_audit.json).
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKIP_PREFIXES = ("stream_",)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_AUDIT_DIR", "/root/testdata/sf0.01")
    out_path = sys.argv[1] if len(sys.argv) > 1 else "plans/r11/plan_audit.json"

    from engine import registry
    from engine.io import harness_session

    registry.load_all()
    spark, _ = harness_session(sf_dir, app="plan_audit")

    audit: dict[str, dict] = {}
    for key in sorted(registry.QUERIES):
        if key.startswith(SKIP_PREFIXES):
            audit[key] = {"skipped": "streaming (plan build runs the query)"}
            continue
        try:
            df = registry.QUERIES[key](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            s = buf.getvalue()
        except Exception as e:  # noqa: BLE001 - audit must finish
            audit[key] = {"error": f"{type(e).__name__}: {e}"[:200]}
            continue
        ops = re.findall(r"\(\d+\) (\w+)", s)
        audit[key] = {
            "exchanges": sum(1 for o in set(re.findall(r"\((\d+)\) Exchange", s))),
            "python_nodes": [
                o
                for o in ops
                if o
                in (
                    "BatchEvalPython",
                    "ArrowEvalPython",
                    "FlatMapGroupsInPandas",
                    "FlatMapGroupsInArrow",
                    "MapInPandas",
                    "MapInArrow",
                    "FlatMapGroupsInPandasWithState",
                )
            ],
            "joins": sorted(
                {o for o in ops if "Join" in o or o == "CartesianProduct"}
            ),
            "cartesian": "CartesianProduct" in ops,
            "bnlj": "BroadcastNestedLoopJoin" in ops,
            "pushed_filters": "PushedFilters: [" in s
            and "PushedFilters: []" not in s,
        }
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(audit, f, indent=1, sort_keys=True)
    n_err = sum(1 for v in audit.values() if "error" in v)
    print(f"audited {len(audit)} keys ({n_err} errors) -> {out_path}")


if __name__ == "__main__":
    main()
