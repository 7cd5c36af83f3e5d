"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import entries  # noqa: E402
import plans  # noqa: E402


def test_same_seed_gives_identical_plans():
    assert plans.editor_plan(7, 60_000, 50) == plans.editor_plan(7, 60_000, 50)
    assert plans.editor_plan(7, 60_000, 50) != plans.editor_plan(8, 60_000, 50)
    assert plans.entry_plan(7, entries.ENTRIES) == plans.entry_plan(7, entries.ENTRIES)
    assert plans.entry_plan(7, entries.ENTRIES) != plans.entry_plan(8, entries.ENTRIES)


def test_editor_plan_never_undoes_or_redoes_past_its_stacks():
    undo = redo = 0
    for op in plans.editor_plan(3, 1_000, 50, n_ops=2_000):
        if op == "undo":
            assert undo > 0
            undo, redo = undo - 1, redo + 1
        elif op == "redo":
            assert redo > 0
            undo, redo = undo + 1, redo - 1
        else:
            assert 0 <= op.rid < 1_000 and 0 <= op.offset < 1_000 - 50
            undo, redo = undo + 1, 0


def test_gated_prefix_ends_at_the_kth_step():
    plan = plans.editor_plan(7, 60_000, 50)
    n = plans.gated_prefix(plan, 5)
    assert isinstance(plan[n - 1], plans.Step)
    assert sum(isinstance(op, plans.Step) for op in plan[:n]) == 5
    assert n == plans.gated_prefix(plans.editor_plan(7, 60_000, 50), 5)
    with pytest.raises(ValueError):
        plans.gated_prefix(plan[:n], 6)


def test_every_pass_runs_every_entry_once():
    for order in plans.entry_plan(5, entries.ENTRIES, n_passes=10):
        assert sorted(order) == sorted(entries.ENTRIES)


@pytest.mark.parametrize(
    "n, percentile",
    [(100, 90), (1000, 99), (25, 60), (20, 50), (57, 82)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, percentile):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    t = plans.tail(samples)
    assert (t.percentile, t.n) == (percentile, n)
    assert sum(1 for s in samples if s > t.value) >= 10
    if percentile < 99:
        # one percentile higher leaves fewer than ten beyond
        rank = -(-(percentile + 1) * n // 100)
        assert n - rank < 10


def test_tail_needs_twenty_samples():
    assert plans.tail([1.0] * 19) is None


@pytest.fixture(scope="module")
def spark():
    from parquet_editor_spark import get_spark

    return get_spark(app_name="perfbench-test", cpus=2, shuffle_partitions=2)


def test_job_group_attribution(spark, tmp_path):
    from editor import _is_compacted
    from parquet_editor_spark import EditorSession, SessionSettings
    from spans import Tracer

    tr = Tracer(spark, True, "test")
    sess = EditorSession(spark, SessionSettings(path=str(tmp_path / "s.json")))
    sess.bind("t", spark.range(100).selectExpr("id", "cast(id as double) as v"))
    sess.with_rid("t")

    with tr.span("session.set_cell", "build") as lazy_edit:
        sess.set_cell("t", 3, "v", 1.5)
    assert lazy_edit["jobs"] == 0 and lazy_edit["tasks"] == 0

    with tr.span("collect", "exec") as one_job:
        spark.range(10).collect()
    assert one_job["jobs"] == 1 and one_job["stages"] == 1

    for i in range(EditorSession.COMPACT_EVERY - 2):
        sess.set_cell("t", i, "v", float(i))
    assert not _is_compacted(sess.get("t"))
    with tr.span("session.set_cell", "build") as compacting:
        sess.set_cell("t", 0, "v", 9.0)
    assert _is_compacted(sess.get("t"))
    assert compacting["jobs"] >= 1
    assert [s["name"] for s in tr.leaves()] == ["session.set_cell", "collect", "session.set_cell"]
