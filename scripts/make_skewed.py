#!/usr/bin/env python
"""Materialize an ADVERSARIALLY SKEWED variant of a fixture dir
(r11, VERDICT r10 item 7).

Every fixture the skew machinery has ever been tested on is
benign-distribution: the driver generator deals user_id/order keys
near-uniformly, so `join_skew_salted`'s two-stage salt, AQE's runtime
skew-join splits, and the triangle wedge-pre-agg rejection argument have
all been exercised under the distribution they were NOT built for. This
script rewrites ONE table — events — with a power-law user_id marginal
and leaves every other table byte-identical (hardlinked when the
filesystem allows, copied otherwise), yielding a full fixture dir that
every registry key and every DuckDB oracle can run on unchanged.

Skew construction (engine-side, deterministic, no RNG):

    u    = pmod(xxhash64(event_id), 2^32) / 2^32            ∈ [0, 1)
    rank = floor(K * u^alpha)                                ∈ [0, K)
    user_id = rank

With u uniform, P(rank = x) ∝ x^(1/alpha - 1): a Zipf-like pmf with
exponent 1 - 1/alpha. The default alpha=8 over the sf1 fixture's
K≈150k users puts K^(-1/8) ≈ 22% of ALL events on user_id 0 (~3.4M
rows at sf1), ~2% on user 1, a power-law tail after — the hot-key shape
that breaks an unsalted shuffle: one reduce task receives a quarter of
the table while 31 idle. Because the map u→rank is a pure projection of
event_id, the result is identical however the build is partitioned, and
DuckDB sees the same parquet bytes, so the skewed dir supports the full
hash-match oracle protocol (scripts/parity.py /
tests/oracle.compare with sf_dir pointed here).

What it deliberately does NOT preserve: per-user event counts and the
user_id↔customer correspondence (user_id's domain shrinks to the ranks
actually hit). Keys whose ORACLE groups by user_id stay comparable —
both engines see the same rewritten table; only cross-table semantics
that assume the original user_id domain (none in the registry — events
is self-contained) would notice.

Usage: python scripts/make_skewed.py [src_dir] [dst_dir] [alpha]
  src_dir: fixture to derive from        (default /tmp/engine_sf1)
  dst_dir: output dir                    (default /tmp/engine_skew1)
  alpha:   skew exponent, higher=hotter  (default 8.0)
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from engine.io import TABLES, get_spark, load_tables


def _mirror(src: str, dst: str) -> None:
    """Hardlink-or-copy a parquet dir; content is unchanged so sharing
    the data files with the source fixture is safe and ~free."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            _mirror(s, d)
            continue
        if os.path.exists(d):
            os.remove(d)
        try:
            os.link(s, d)
        except OSError:
            shutil.copy2(s, d)


def build(spark, src: str, dst: str, alpha: float = 8.0) -> None:
    t = load_tables(spark, src)
    n_users = t["events"].agg(F.max("user_id")).collect()[0][0] + 1
    os.makedirs(dst, exist_ok=True)
    for name in TABLES:
        if name != "events":
            _mirror(os.path.join(src, f"{name}.parquet"), os.path.join(dst, f"{name}.parquet"))
            print(f"mirrored {name}", file=sys.stderr)
            continue
        ev = t["events"].drop("ts_ns")  # derived; re-derived on load
        # u in [0,1): xxhash64 is int64; fold to uint32 then normalize
        u = (F.pmod(F.xxhash64(F.col("event_id")), F.lit(2**32)).cast("double")) / F.lit(
            float(2**32)
        )
        rank = F.floor(F.lit(float(n_users)) * F.pow(u, F.lit(float(alpha)))).cast("long")
        out = ev.withColumn("user_id", rank).repartition(32)
        out.write.option("parquet.block.size", 16 * 1024 * 1024).mode(
            "overwrite"
        ).parquet(os.path.join(dst, "events.parquet"))
        top = (
            spark.read.parquet(os.path.join(dst, "events.parquet"))
            .groupBy("user_id")
            .count()
            .orderBy(F.desc("count"))
            .limit(3)
            .collect()
        )
        total = t["events"].count()
        print(
            f"wrote events: {total} rows, hot keys: "
            + ", ".join(f"user {r.user_id}={r['count']} ({r['count']/total:.1%})" for r in top),
            file=sys.stderr,
        )


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/tmp/engine_sf1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/engine_skew1"
    alpha = float(sys.argv[3]) if len(sys.argv) > 3 else 8.0
    spark = get_spark(app="make_skewed")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, src, dst, alpha)


if __name__ == "__main__":
    main()
