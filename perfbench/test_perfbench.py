"""Unit tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

from perfbench import gen, reference, trace
from perfbench.trace import (
    parse_duration_ms,
    percentile,
    summarize_jobs,
    tail_percentile,
    union_length,
)


def test_users_and_frames_are_deterministic_per_seed():
    a = gen.users(7, 500)
    assert a == gen.users(7, 500)
    assert a != gen.users(8, 500)
    fa, va = gen.frames(7, a)
    fb, vb = gen.frames(7, a)
    assert fa == fb and va == vb
    assert a[:9] == gen.GOLDEN
    assert not all(va) and all(va[:9])  # wrong-magic frames, never golden


def test_tables_are_deterministic_per_seed():
    a, b = gen.tables(3, 0.001), gen.tables(3, 0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(gen.tables(4, 0.001)["lineitem"])


def test_wrong_magic_frames_carry_magic_one():
    rows = gen.users(1, 2000)
    frames, valid = gen.frames(1, rows)
    for f, ok in zip(frames, valid):
        assert f["value"][0] == (0 if ok else 1)


def test_reference_transform_on_golden_rows():
    out = {r[0]: r for r in reference.transform(gen.GOLDEN)}
    assert sorted(out) == ["id_0", "id_1", "id_3", "id_6", "id_7", "id_8"]
    assert out["id_0"] == ("id_0", "User0", "Doe0", "redacted@email.com", 20,
                           "User0 Doe0", True)
    assert out["id_6"][6] is False  # 17 < 18
    assert out["id_7"][6] is True  # 18 >= 18
    assert out["id_8"][6] is False  # null age is not adult
    assert gen.filtered_by_construction(gen.GOLDEN, [True] * 9) == 3


def test_reference_blank_is_java_trim_blank():
    assert not reference.name_present("\t \x00")
    assert reference.name_present(" a ")
    assert not reference.name_present(None)


def test_filtered_count_matches_reference_on_random_rows():
    rows = gen.users(5, 3000)
    _, valid = gen.frames(5, rows)
    good = [r for r, ok in zip(rows, valid) if ok]
    kept = reference.transform(good)
    assert len(good) - len(kept) == gen.filtered_by_construction(rows, valid)


def test_digest_ignores_order():
    rows = [("a", 1), ("b", None), ("c", 2.5)]
    assert reference.digest(rows) == reference.digest(rows[::-1])
    assert reference.digest(rows) != reference.digest(rows[:2])


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20)))[0] == 50.0
    assert tail_percentile(list(range(99)))[0] == 50.0
    assert tail_percentile(list(range(100))) == (90.0, 89)
    assert tail_percentile(list(range(200)))[0] == 95.0
    assert tail_percentile(list(range(1000)))[0] == 99.0
    assert tail_percentile(list(range(10_000)))[0] == 99.9


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([(0, 2), (2, 4)]) == 4
    assert union_length([(0, 10)], lo=2, hi=5) == 3
    assert union_length([(0, 1), (8, 9)], lo=2, hi=5) == 0


def test_driver_gap_is_wall_minus_stage_union():
    stages = {
        1: {"submissionTime": 100, "completionTime": 300, "numCompleteTasks": 4,
            "executorCpuTime": 2_000_000, "executorRunTime": 5,
            "shuffleWriteBytes": 10, "memoryBytesSpilled": 1, "diskBytesSpilled": 2},
        2: {"submissionTime": 200, "completionTime": 400, "numCompleteTasks": 1,
            "executorCpuTime": 0, "executorRunTime": 1,
            "shuffleWriteBytes": 0, "memoryBytesSpilled": 0, "diskBytesSpilled": 0},
    }
    jobs = [{"stageIds": [1, 2, 3]}]  # stage 3 was skipped
    s = summarize_jobs(jobs, stages, 0, 1000)
    assert s["driver_gap_ms"] == 1000 - 300
    assert s["jobs"] == 1 and s["tasks"] == 5
    assert s["exec_cpu_ms"] == 2.0 and s["shuffle_bytes"] == 10 and s["spill_bytes"] == 3


def test_parse_duration_ms():
    assert parse_duration_ms("total (min, med, max)\n1.5 s (10 ms, 0.5 s, 1.0 s)") == 1500
    assert parse_duration_ms("total (min, med, max)\n12 ms (1 ms, 2 ms, 3 ms)") == 12
    assert parse_duration_ms("2.0 m") == 120_000
    assert parse_duration_ms("n/a") == 0.0


def test_shm_bytes_added_counts_only_new_entries(tmp_path, monkeypatch):
    monkeypatch.setattr(trace, "SHM", str(tmp_path))
    (tmp_path / "old").write_bytes(b"x" * 100)
    before = trace.shm_entries()
    (tmp_path / "kcm_ckpt_1" / "offsets").mkdir(parents=True)
    (tmp_path / "kcm_ckpt_1" / "offsets" / "0").write_bytes(b"y" * 7)
    (tmp_path / "sem.x").write_bytes(b"z" * 3)
    assert trace.shm_bytes_added(before) == 10
