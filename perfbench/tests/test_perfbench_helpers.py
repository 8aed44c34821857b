"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    LakeState,
    bi_block,
    corpus_block,
    lake_block,
)


# -------------------------------------------------------- percentile rule
def test_tail_percentile_is_p95_with_enough_samples():
    samples = list(range(1, 201))  # 200 samples: 10 lie beyond p95
    value, pct = stats.tail_percentile(samples)
    assert value == 190 and pct == 95.0
    assert sum(1 for s in samples if s > value) == 10


def test_tail_percentile_lowers_to_keep_ten_samples_beyond():
    samples = list(range(1, 101))
    value, pct = stats.tail_percentile(samples)
    assert value == 90 and pct == 90.0
    assert sum(1 for s in samples if s > value) == 10


def test_tail_percentile_never_below_the_median():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0, 6.0]
    value, pct = stats.tail_percentile(samples)
    assert value >= stats.median(samples)
    assert pct >= 50.0
    assert stats.tail_percentile([7.0]) == (7.0, 100.0)


def test_tail_percentile_ignores_input_order():
    a = [3.0, 9.0, 1.0] * 70
    assert stats.tail_percentile(a) == stats.tail_percentile(sorted(a))


# ------------------------------------------------------------- self time
def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 5.0), _span(2, 1, 3.0, 4.0)]
    got = stats.self_times(spans)
    assert got == {0: 7.0, 1: 2.0, 2: 1.0}


def test_self_time_counts_overlapping_children_once():
    # two children overlapping on [4, 5] cover [2, 7]: 5 of the parent's 10
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 5.0), _span(2, 0, 4.0, 7.0)]
    assert stats.self_times(spans)[0] == 5.0


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 3.0, 6.0)]
    assert stats.self_times(spans)[0] == 3.0


# ------------------------------------------------------ job-interval union
def test_union_length_merges_overlaps_and_keeps_gaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(5, 6), (0, 1), (0.5, 0.8)]) == 2
    assert stats.union_length([]) == 0


def test_driver_gap_is_wall_minus_job_union():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]
    assert stats.driver_gap(0.0, 10.0, jobs) == 10.0 - 4.0
    # a job reaching outside the op counts only inside it
    assert stats.driver_gap(2.0, 6.5, jobs) == 4.5 - 2.5
    assert stats.driver_gap(0.0, 1.0, []) == 1.0


# ------------------------------------------------------- stored-bytes walk
def test_stored_bytes_counts_regular_files_once(tmp_path):
    (tmp_path / "d").mkdir()
    (tmp_path / "a.parquet").write_bytes(b"x" * 100)
    (tmp_path / "d" / "b.json").write_bytes(b"y" * 30)
    os.link(tmp_path / "a.parquet", tmp_path / "d" / "hard.parquet")
    os.symlink(tmp_path / "a.parquet", tmp_path / "d" / "soft.parquet")
    outside = tmp_path.parent / f"{tmp_path.name}-outside"
    outside.mkdir()
    (outside / "big").write_bytes(b"z" * 1000)
    os.symlink(outside, tmp_path / "linked_dir")
    assert stats.stored_bytes(str(tmp_path)) == 130


def test_stored_bytes_of_missing_dir_is_zero(tmp_path):
    assert stats.stored_bytes(str(tmp_path / "nope")) == 0


# ------------------------------------------------ deterministic op streams
def _lake_ops(seed, blocks=3):
    st = LakeState(list(range(15000, 0, -1)), 15000)
    return [lake_block(seed, b, st) for b in range(-1, blocks)]


def test_op_sequences_repeat_per_seed():
    assert [bi_block(7, b) for b in range(4)] == [bi_block(7, b) for b in range(4)]
    assert _lake_ops(7) == _lake_ops(7)
    assert [corpus_block(7, b) for b in range(4)] == [corpus_block(7, b) for b in range(4)]


def test_op_sequences_differ_across_seeds():
    assert [bi_block(1, b) for b in range(4)] != [bi_block(2, b) for b in range(4)]
    assert _lake_ops(1) != _lake_ops(2)
    assert [corpus_block(1, b) for b in range(4)] != [corpus_block(2, b) for b in range(4)]


def test_blocks_keep_a_fixed_mix_of_op_kinds():
    def kinds(block):
        return sorted(op["name"] for op in block)

    assert len({tuple(kinds(bi_block(s, 0))) for s in range(10)}) == 1
    assert len({tuple(kinds(corpus_block(s, 0))) for s in range(10)}) == 1
    st = LakeState(list(range(15000, 0, -1)), 15000)
    mixes = {tuple(o["cls"] for o in lake_block(s, 0, st)).count("read") for s in range(10)}
    assert mixes == {8}
