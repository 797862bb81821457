"""Seeded input generator of the ``cdc_batch`` day chain. Pure numpy +
pyarrow, so it runs before the Spark session starts and its time never
lands in a measurement.

The same seed gives byte-identical inputs. The generator also returns the
truth the benchmark verifies the engine's output against.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


#: run_cdc source config; ``input_path`` is filled in by ``cdc_days``
ORDERS_SOURCE = {
    "name": "orders",
    "format": "parquet",
    "key_cols": ["o_orderkey"],
    "tracked_cols": ["o_custkey", "o_orderstatus", "o_totalprice", "o_version"],
    "extract_type": "full",
    "dedup": {"order_col": "o_version", "tiebreak": "o_totalprice"},
}


def run_date(day: int) -> str:
    return (dt.date(2024, 1, 1) + dt.timedelta(days=day)).isoformat()


def cdc_days(out_dir: str, seed: int, n_days: int, n_keys: int,
             churn: tuple[float, float, float] = (0.05, 0.01, 0.01),
             dup_frac: float = 0.02) -> tuple[dict, list[dict]]:
    """Write ``n_days`` full daily extracts of an orders-shaped table.

    Day 0 holds ``n_keys`` keys. Each later day updates, deletes and
    inserts the given fractions of the live keys, and every day repeats
    ``dup_frac`` of its keys with a stale older version, which the
    source's ``dedup`` step must collapse. Returns the run_cdc source
    config and, per day, the truth ``{"I": n, "U": n, "D": n}`` that
    ``run_source`` must report (zero counts omitted, as it omits them).
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    p_upd, p_del, p_ins = churn
    keys = np.arange(n_keys, dtype="int64")
    cust = rng.integers(0, 15_000, n_keys)
    status = rng.integers(0, 3, n_keys)
    price = _money(rng, 1000.0, 500_000.0, n_keys)
    version = np.zeros(n_keys, dtype="int64")
    next_key = n_keys
    truth: list[dict] = []
    for day in range(n_days):
        if day == 0:
            counts = {"I": n_keys}
        else:
            n = len(keys)
            pick = rng.permutation(n)
            n_u, n_d = int(n * p_upd), int(n * p_del)
            upd, dele = pick[:n_u], pick[n_u:n_u + n_d]
            price[upd] = np.round(price[upd] + rng.uniform(1.0, 100.0, n_u), 2)
            status[upd] = (status[upd] + 1) % 3
            version[upd] = day
            keep = np.ones(n, bool)
            keep[dele] = False
            n_i = int(n * p_ins)
            keys = np.concatenate([keys[keep], np.arange(next_key, next_key + n_i)])
            cust = np.concatenate([cust[keep], rng.integers(0, 15_000, n_i)])
            status = np.concatenate([status[keep], rng.integers(0, 3, n_i)])
            price = np.concatenate([price[keep], _money(rng, 1000.0, 500_000.0, n_i)])
            version = np.concatenate([version[keep], np.full(n_i, day, dtype="int64")])
            next_key += n_i
            counts = {"I": n_i, "U": n_u, "D": n_d}
        dup = rng.choice(len(keys), int(len(keys) * dup_frac), replace=False)
        order = rng.permutation(len(keys) + len(dup))
        all_keys = np.concatenate([keys, keys[dup]])[order]
        table = pa.table({
            "o_orderkey": all_keys,
            "o_custkey": np.concatenate([cust, cust[dup]])[order],
            "o_orderstatus": np.array(["F", "O", "P"])[
                np.concatenate([status, (status[dup] + 1) % 3])[order]],
            "o_totalprice": np.concatenate([price, price[dup] - 0.5])[order],
            "o_version": np.concatenate([version, version[dup] - 1])[order],
        })
        day_dir = os.path.join(out_dir, run_date(day))
        os.makedirs(day_dir, exist_ok=True)
        _write(table, os.path.join(day_dir, "part-0.parquet"))
        truth.append({k: v for k, v in counts.items() if v})
    src = dict(ORDERS_SOURCE, input_path=os.path.join(out_dir, "{run_date}"))
    return src, truth


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
