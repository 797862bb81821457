#!/usr/bin/env python
"""DuckDB parity sweep through ``__spark_entry__`` — the one parity harness.

Runs registered keys in ``__spark_entry__.queries()`` order against their
``oracle_sql()`` with the verification comparator (``tests.oracle.compare``:
rows + schema + order-insensitive hash) at one or more fixture dirs, in
one session. Keys without an oracle only have to run; they are counted
as ``rows_only`` so ``checked`` never over-claims parity coverage.

One flag per use:

- the verification-prefix dry run: ``--slice 0:50`` replays the first
  50 keys of the ``queries()`` order, the prefix ``__spark_entry__``
  ranks for verification. Run it from a directory outside the repo, in
  a fresh process, to also exercise worker portability (cloudpickle
  by-name closures);
- the targeted re-check after a fix: ``--keys a,b`` at every fixture dir
  the fix must hold at;
- the conf-differential audit: ``--conf KEY=VALUE`` (repeatable) sets
  session confs after the session is built and reruns the sweep under
  them. ``--conf spark.sql.shuffle.partitions=13`` is the
  partitioning-invariance audit at an adversarial prime partition count;
  ``spark.sql.adaptive.enabled=false``,
  ``spark.sql.codegen.wholeStage=false`` and
  ``spark.sql.execution.arrow.maxRecordsPerBatch=7`` vary the planner,
  codegen and Arrow batching the same way. Every emitted value is meant
  to be independent of physical execution (exact integer cents, snapped
  averages, total-order tie breaks), so a key whose output depended on
  partition boundaries or batch sizes would change its hash here;
- the scaled sweep: pass a scaled fixture dir (``scripts/make_scaled.py``)
  to catch agreement that only held because the small fixtures were small.

Each key is isolated: an error (e.g. a DuckDB oracle that spills past
the disk at scale) is recorded and the sweep goes on. Progress lines are
flushed per key, so a crash still shows what was covered. One ``RESULT``
line ends the run; the exit code is 1 on any failure or error.

Usage: python scripts/parity.py [sf_dir ...] [--keys a,b | --slice START:END]
                                [--conf KEY=VALUE ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _slice(text: str) -> slice:
    start, sep, end = text.partition(":")
    if not sep:
        raise argparse.ArgumentTypeError(f"expected START:END, got {text!r}")
    return slice(int(start) if start else None, int(end) if end else None)


def _conf(text: str) -> tuple[str, str]:
    key, sep, value = text.partition("=")
    if not sep or not key:
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {text!r}")
    return key, value


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="DuckDB parity sweep over registered keys.")
    ap.add_argument(
        "sf_dirs", nargs="*", help="fixture dirs (default: tests.oracle.DEFAULT_SF_DIR)"
    )
    pick = ap.add_mutually_exclusive_group()
    pick.add_argument("--keys", help="comma-separated keys (default: all)")
    pick.add_argument("--slice", type=_slice, help="START:END over the queries() order")
    ap.add_argument(
        "--conf",
        type=_conf,
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help="session conf set after the session is built (repeatable)",
    )
    ns = ap.parse_args(argv)
    ns.conf = dict(ns.conf)
    return ns


def main() -> None:
    ns = parse_args()

    import __spark_entry__ as entrymod
    from engine.io import get_spark
    from tests.oracle import DEFAULT_SF_DIR, compare

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    order = {name: i for i, name in enumerate(queries)}
    if ns.keys:
        names = [k for k in ns.keys.split(",") if k]
        unknown = [k for k in names if k not in queries]
        if unknown:
            sys.exit(f"unknown keys: {unknown}")
    else:
        names = list(queries)[ns.slice or slice(None)]

    spark = get_spark(app="parity")
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in ns.conf.items():
        spark.conf.set(k, v)

    sf_dirs = ns.sf_dirs or [DEFAULT_SF_DIR]
    ok = checked = rows_only = failures = errors = 0
    bad: list[str] = []
    t_all = time.time()
    for sf_dir in sf_dirs:
        tag = os.path.basename(sf_dir.rstrip("/"))
        for name in names:
            t0 = time.time()
            try:
                df = queries[name](spark, sf_dir)
                if name in oracles:
                    passed, msg = compare(df, sf_dir, oracles[name])
                    checked += 1
                else:
                    passed, msg = df.count() >= 0, "rows-only"
                    rows_only += 1
                status = "ok" if passed else "FAIL"
                failures += not passed
            except Exception as e:  # noqa: BLE001 — isolate: keep sweeping
                passed, msg, status = False, f"{type(e).__name__}: {e}", "ERROR"
                errors += 1
            ok += passed
            if not passed:
                bad.append(f"{tag}:{name}")
            print(
                f"[{order[name]:3d}] [{tag:8s}] {name:35s} {status}"
                f" ({time.time() - t0:.1f}s)" + ("" if passed else f" :: {str(msg)[:400]}"),
                flush=True,
            )
    total = len(names) * len(sf_dirs)
    print(
        f"RESULT ok={ok}/{total} checked={checked} rows_only={rows_only} "
        f"failures={failures} errors={errors} "
        f"confs={ {k: spark.conf.get(k) for k in ns.conf} } bad={bad} "
        f"total={time.time() - t_all:.0f}s",
        flush=True,
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
