import os

import duckdb
import pytest

from perfbench import gen


def _files(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_cdc_days_are_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    src, truth = gen.cdc_days(a, 3, 4, 2000)
    assert gen.cdc_days(b, 3, 4, 2000)[1] == truth
    assert _files(a) == _files(b)
    gen.cdc_days(c, 4, 4, 2000)
    assert _files(a) != _files(c)
    assert src["input_path"].format(run_date=gen.run_date(0)).startswith(a)


@pytest.mark.parametrize("seed", [1, 2])
def test_cdc_truth_matches_an_independent_diff(tmp_path, seed):
    """Recompute each day's I/U/D counts from the extracts with DuckDB:
    latest version per key, then a full outer join with the day before."""
    d = str(tmp_path)
    src, truth = gen.cdc_days(d, seed, 5, 3000)
    assert truth[0] == {"I": 3000}
    con = duckdb.connect()

    def latest(day):
        p = os.path.join(src["input_path"].format(run_date=gen.run_date(day)), "*.parquet")
        return f"""(SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                   ORDER BY o_version DESC, o_totalprice DESC) rn FROM read_parquet('{p}'))
                   WHERE rn = 1)"""

    for day in range(1, 5):
        i, u, dl = con.execute(f"""
            SELECT count(*) FILTER (WHERE p.o_orderkey IS NULL),
                   count(*) FILTER (WHERE p.o_orderkey IS NOT NULL AND c.o_orderkey IS NOT NULL
                       AND (p.o_totalprice <> c.o_totalprice OR p.o_orderstatus <> c.o_orderstatus
                            OR p.o_custkey <> c.o_custkey OR p.o_version <> c.o_version)),
                   count(*) FILTER (WHERE c.o_orderkey IS NULL)
            FROM {latest(day - 1)} p FULL OUTER JOIN {latest(day)} c USING (o_orderkey)
        """).fetchone()
        want = {k: v for k, v in {"I": i, "U": u, "D": dl}.items() if v}
        assert truth[day] == want
        assert truth[day] == {"I": 30, "U": 150, "D": 30}


def test_cdc_days_carry_stale_duplicates(tmp_path):
    src, _ = gen.cdc_days(str(tmp_path), 1, 2, 1000, dup_frac=0.05)
    p = os.path.join(src["input_path"].format(run_date=gen.run_date(1)), "*.parquet")
    n, keys = duckdb.connect().execute(
        f"SELECT count(*), count(DISTINCT o_orderkey) FROM read_parquet('{p}')").fetchone()
    assert n - keys == 50
