import os

import pytest

from perfbench import workloads


def _mix(seed):
    w = workloads.QueryMix(None, seed, "unused")
    if not all(map(os.path.isdir, workloads.fixture_dirs())):
        pytest.skip("query_mix input tables are not on this machine")
    w.generate()
    return w


def test_seed_sets_the_key_order_and_nothing_else():
    a, b, c = _mix(5), _mix(5), _mix(6)
    assert a.keys == b.keys and sorted(a.keys) == sorted(workloads.QUERY_MIX)
    assert a.keys != c.keys
    assert (a.fx, a.pass_rows, a.pass_bytes) == (c.fx, c.pass_rows, c.pass_bytes)


def test_pass_time_votes_out_one_slow_key_in_one_pass():
    w = workloads.QueryMix(None, 1, "unused")
    w.key_s = {"a": [1.0, 1.0, 5.0], "b": [2.0, 9.0, 2.0]}
    w.op_s = [3.0, 10.0, 7.0]
    assert w.op_p50() == 3.0
