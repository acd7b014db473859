"""The event-log parser against a hand-written fixture log."""

import os

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.parse(FIXTURE)


def test_only_grouped_jobs_are_attributed(groups):
    assert set(groups) == {"g1", "g2"}


def test_group_totals(groups):
    g = groups["g1"]
    assert g.jobs == 2
    # stage 1 is listed by both jobs but ran once; stage 2 failed
    assert g.stages == 2
    assert g.tasks == 3
    assert g.cpu_s == pytest.approx(3.5)
    assert g.gc_s == pytest.approx(0.15)
    assert g.shuffle_write_mb == pytest.approx(2.0)
    assert g.shuffle_read_mb == pytest.approx(2.0)
    assert g.spill_mb == pytest.approx(3.0)
    assert g.output_mb == pytest.approx(4.0)
    assert g.input_mb == pytest.approx(4.0)
    assert g.input_rows == 1000
    assert g.scan_stages == 1


def test_failed_tasks_counted(groups):
    g = groups["g2"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (1, 1, 1, 1)
    assert g.cpu_s == pytest.approx(0.25)


def test_broadcast_joins_read_from_the_final_plan(groups):
    # the initial plan and the node-details section repeat the join
    assert groups["g1"].broadcast_joins == 1
    # a broadcast only in the initial plan did not run
    assert groups["g2"].broadcast_joins == 0


def test_final_plan_tree_drops_details_and_initial_plan():
    desc = "A (1)\n+- == Initial Plan ==\n   B (2)\n\n\n(1) A\n"
    assert eventlog.final_plan_tree(desc) == "A (1)\n+- "
