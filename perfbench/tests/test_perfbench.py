"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bpe_ref  # noqa: E402
import eventlog  # noqa: E402
import querygen  # noqa: E402
import stats  # noqa: E402
import syncgen  # noqa: E402


def _nights(seed, n=2):
    world = syncgen.SyncWorld(seed, 300)
    out = []
    for _ in range(n):
        world.next_night()
        out.append((world.erp_tables(), world.raw_tables(), world.expected))
        world.finish_night()
    return out


def test_sync_generator_same_seed_same_inputs():
    assert _nights(3) == _nights(3)


_DIGEST = """
import hashlib, sys, tempfile, pathlib
sys.path.insert(0, sys.argv[1])
import syncgen
w = syncgen.SyncWorld(3, 300)
w.next_night()
d = tempfile.mkdtemp()
w.write_inputs(d + "/erp", d + "/raw")
h = hashlib.sha256()
for f in sorted(pathlib.Path(d).rglob("*.parquet")):
    h.update(f.read_bytes())
print(h.hexdigest())
"""


def test_sync_generator_bytes_independent_of_hash_seed(tmp_path):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    digests = {
        subprocess.run(
            [sys.executable, "-c", _DIGEST, here], check=True, text=True,
            stdout=subprocess.PIPE,
            env={**os.environ, "PYTHONHASHSEED": seed, "TMPDIR": str(tmp_path)},
        ).stdout
        for seed in ("1", "2")
    }
    assert len(digests) == 1


def test_sync_generator_other_seed_other_inputs():
    a, b = _nights(3), _nights(4)
    assert a[0][0]["enrollments"] != b[0][0]["enrollments"]
    assert a[1][1]["enrollments"] != b[1][1]["enrollments"]


def test_sync_generator_covers_fixture_cases():
    world = syncgen.SyncWorld(5, 300)
    expected = world.next_night()
    erp, raw = world.erp_tables(), world.raw_tables()
    terms = set(zip(*(erp["enrollments"].column(c).to_pylist()
                      for c in ("yr_cde", "trm_cde"))))
    assert len(terms) == 4  # other-term rows
    users = raw["users"].column("user_id").to_pylist()
    assert None in users and any(u and u.startswith("sdemo") for u in users)
    assert False in raw["enrollments"].column("created_by_sis").to_pylist()
    assert False in raw["sections"].column("created_by_sis").to_pylist()
    statuses = {r[-1] for r in expected["enrollments"]}
    assert statuses == {"active", "deleted"}  # adds and drops
    assert all(expected[e] for e in syncgen.UPDATE_COLUMNS)


def test_next_night_report_is_previous_state_after_apply():
    world = syncgen.SyncWorld(6, 300)
    expected = world.next_night()
    world.finish_night()
    sis = {k for k, v in world.c_enr.items() if v[2]}
    for c, u, r, s, status in expected["enrollments"]:
        assert ((c, u, r, s) in sis) == (status == "active")


def _write_updates(out_dir, updates):
    for entity, cols in syncgen.UPDATE_COLUMNS.items():
        d = os.path.join(out_dir, entity)
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(cols)
            w.writerows(updates[entity])


def test_checker_accepts_planted_truth(tmp_path):
    world = syncgen.SyncWorld(7, 300)
    expected = world.next_night()
    _write_updates(str(tmp_path), expected)
    assert syncgen.check_updates(str(tmp_path), expected) == []


def test_checker_rejects_tampered_update_file(tmp_path):
    world = syncgen.SyncWorld(7, 300)
    expected = world.next_night()
    tampered = dict(expected)
    rows = list(expected["enrollments"])
    rows.pop(0)  # one row dropped
    flip = {"active": "deleted", "deleted": "active"}
    rows[0] = rows[0][:-1] + (flip[rows[0][-1]],)  # one status flipped
    tampered["enrollments"] = rows
    _write_updates(str(tmp_path), tampered)
    problems = syncgen.check_updates(str(tmp_path), expected)
    assert len(problems) == 1
    assert problems[0].startswith("enrollments: 2 rows missing")
    assert "1 unexpected" in problems[0]


def test_percentile_refuses_thin_tail():
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([float(i) for i in range(50)], 90)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([1.0], 50)


def test_percentile_reports_with_enough_tail():
    values = [float(i) for i in range(1, 121)]
    p90 = stats.percentile(values, 90)
    assert 107 < p90 < 109
    assert sum(v > p90 for v in values) >= 10


def test_query_tables_are_seeded():
    a, b = querygen.tables(1, 0.001), querygen.tables(1, 0.001)
    c = querygen.tables(2, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["region"].equals(c["region"])


def test_bpe_reference_merges():
    merges = bpe_ref.train(["low low lower", "newest widest"], n_merges=3)
    assert merges[0] == (1, "l", "o", 3)
    assert merges[1] == (2, "lo", "w", 3)
    assert [m[0] for m in merges] == [1, 2, 3]


def test_union_seconds_merges_overlaps():
    assert eventlog.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_seconds([]) == 0


def test_jobs_attributed_by_description_then_interval():
    jobs = {
        1: eventlog.Job(1, start_ms=1_500, description="p0.0/build"),
        2: eventlog.Job(2, start_ms=2_500),  # stream thread: no description
        3: eventlog.Job(3, start_ms=9_000),  # outside every operation
    }
    ops = [{"label": "p0.0", "t0": 1.0, "t1": 2.0},
           {"label": "p0.1", "t0": 2.0, "t1": 3.0}]
    got = eventlog.attribute(jobs, ops)
    assert [j.job_id for j in got[0]] == [1]
    assert [j.job_id for j in got[1]] == [2]
