"""Tests of the benchmark's seeded envelope generator and its model.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _stream(seed=7, skew="recent", n_keys=500):
    s = gen.EnvelopeStream(seed, "t", n_keys, skew)
    files = [s.snapshot()] + [s.changes(400)[0] for _ in range(6)]
    return s, files


def _replay(files):
    """Independent reference: dedupe on lsn, then apply in lsn order."""
    envs = {}
    for data in files:
        for line in data.splitlines():
            e = json.loads(line)
            envs[e["source"]["lsn"]] = e
    state = {}
    for lsn in sorted(envs):
        e = envs[lsn]
        if e["op"] == "d":
            state.pop(e["before"]["id"], None)
        else:
            a = e["after"]
            state[a["id"]] = (lsn, a["first_name"], a["last_name"], a["email"])
    return state


def test_same_seed_gives_identical_bytes():
    a, fa = _stream()
    b, fb = _stream()
    assert fa == fb and a.sha == b.sha and a.state == b.state


def test_other_seed_differs():
    a, fa = _stream(seed=7)
    b, fb = _stream(seed=8)
    assert fa[1:] != fb[1:] and a.sha != b.sha


def test_model_matches_reference_replay():
    for skew in ("recent", "uniform"):
        s, files = _stream(skew=skew)
        assert _replay(files) == s.state


def test_op_mix_duplicates_and_lsn_order():
    s = gen.EnvelopeStream(3, "mix", 2_000, "uniform")
    s.snapshot()
    data, touched = s.changes(20_000)
    envs = [json.loads(line) for line in data.splitlines()]
    lsns = [e["source"]["lsn"] for e in envs]
    distinct = {e["source"]["lsn"]: e for e in envs}
    assert len(distinct) == 20_000
    ops = Counter(e["op"] for e in distinct.values())
    assert abs(ops["c"] / 20_000 - 0.10) < 0.02
    assert abs(ops["u"] / 20_000 - 0.85) < 0.02
    assert abs(ops["d"] / 20_000 - 0.05) < 0.01
    assert 0.005 < (len(envs) - 20_000) / 20_000 < 0.02
    # the lsn rises across the file apart from re-sent duplicates
    assert sorted(distinct) == list(range(2_001, 22_001))
    assert min(lsns) > 2_000
    assert touched == {(e["after"] or e["before"])["id"] for e in envs}


def test_snapshot_shape():
    s = gen.EnvelopeStream(1, "snap", 50)
    envs = [json.loads(line) for line in s.snapshot().splitlines()]
    assert [e["op"] for e in envs] == ["r"] * 50
    assert [e["source"]["snapshot"] for e in envs][-2:] == ["true", "last"]
    assert sorted(s.state) == list(range(50))


def test_recent_skew_favours_new_keys():
    s = gen.EnvelopeStream(5, "skew", 10_000, "recent")
    s.snapshot()
    data, _ = s.changes(5_000)
    ids = [json.loads(line)["before"]["id"] for line in data.splitlines()
           if json.loads(line)["op"] == "u"]
    assert sum(i >= 7_500 for i in ids) > 0.5 * len(ids)


def test_aggregate_and_new_rows():
    s = gen.EnvelopeStream(2, "agg", 100)
    s.snapshot()
    rows = s.new_rows(5)
    assert [r[0] for r in rows] == list(range(100, 105))
    agg = gen.aggregate(s.state)
    assert sum(n for n, _ in agg.values()) == 105
    assert sum(t for _, t in agg.values()) == sum(v[0] for v in s.state.values())
