"""The event-log stage profiler and the layer rules, against a small
recorded log (`data/small_eventlog.jsonl`, made by `record_fixture.py`:
a DAAT batch as `span:0`, an SDM query off the segments as `span:1`,
the DAAT batch over tombstones as `span:3`).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import layers  # noqa: E402

LOG = os.path.join(HERE, "data", "small_eventlog.jsonl")
PYTHON_OPS = ("MapInPandas", "FlatMapGroupsInPandas",
              "FlatMapCoGroupsInPandas", "ArrowEvalPython")


@pytest.fixture(scope="module")
def prof():
    return eventlog.profile(eventlog.read_events(LOG))


def _span(prof, tag):
    return [st for st in prof.stages if st.description == tag]


def test_every_stage_is_tagged_and_timed(prof):
    assert prof.stages and len(prof.jobs) == len(
        {st.job_id for st in prof.stages})
    assert {st.description for st in prof.stages} == {
        "span:0", "span:1", "span:3"}
    for st in prof.stages:
        assert st.tasks >= 1 and st.complete_ms >= st.submit_ms > 0
        assert st.executor_run_ms >= 0 and st.failed_tasks == 0


def test_stage_table_rows(prof):
    rows = [st.row() for st in prof.stages]
    assert len(rows) == len(prof.stages)
    keys = {"stage", "job", "description", "callsite", "operators",
            "tasks", "task_p50_ms", "task_max_ms", "executor_run_ms",
            "executor_cpu_ms", "gc_ms", "python_worker_ms", "python_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "input_files",
            "input_bytes", "spill_bytes", "failed_tasks"}
    assert keys <= set(rows[0])
    for r in rows:
        assert r["task_p50_ms"] <= r["task_max_ms"]


def test_daat_kernel_stage(prof):
    """The batched DAAT kernel runs at the explicit exchange width
    (8 x 4 cores), ships data to Python and is not the round-5 shape."""
    kern = [st for st in _span(prof, "span:0")
            if layers._kernel(st) and st.has_op(layers.KERNEL_OPS)]
    assert len(kern) == 1
    (st,) = kern
    assert st.has_op(("FlatMapGroupsInPandas",))
    assert st.tasks == 32 and st.python_run_ms > 0
    assert st.shuffle_read_bytes > 0 and st.skew() >= 1.0
    assert not layers._collapsed(st)


def test_tombstoned_reads_cogroup(prof):
    kern = [st for st in _span(prof, "span:3")
            if layers._kernel(st) and st.has_op(layers.KERNEL_OPS)]
    assert [st.has_op(("FlatMapCoGroupsInPandas",)) for st in kern] == [True]


def test_segment_scan_is_linked_to_its_filter(prof):
    """Driver-side file counts reach the scanning stage, and the term
    filter above the block scan keeps a small share of the rows."""
    files, nbytes, rows, kept = layers._scan_totals(
        _span(prof, "span:0"), layers._is_segment_scan)
    assert files > 0 and nbytes > 0
    assert 0 < kept < rows


def test_structured_query_splits_decode_from_zipper(prof):
    sdm = [st for st in _span(prof, "span:1") if layers._kernel(st)]
    decode = [st for st in sdm if any(
        layers._is_segment_scan(n) for n in st.nodes.values())]
    zipper = [st for st in sdm if st not in decode]
    assert decode and zipper
    assert all(st.python_run_ms > 0 for st in decode)
    assert sum(st.python_run_ms for st in zipper) > 0


def test_cached_frame_scans_are_not_kernels(prof):
    """A stage reading a cached frame reports the cached plan's Python
    node but ships nothing to Python: not a kernel stage."""
    phantom = [st for st in prof.stages
               if st.has_op(PYTHON_OPS) and not layers._kernel(st)]
    assert phantom
    assert all(st.python_run_ms == 0 for st in phantom)


def test_round5_signature_is_flagged(prof):
    """The same DAAT kernel stage, folded by AQE into one task reading
    several shuffle blocks, is flagged."""
    (st,) = [st for st in _span(prof, "span:0")
             if layers._kernel(st) and st.has_op(layers.KERNEL_OPS)]
    bad = copy.deepcopy(st)
    bad.task_ms = [sum(st.task_ms)]
    bad.scopes = bad.scopes | {"AQEShuffleRead"}
    bad.shuffle_blocks = max(2, st.shuffle_blocks)
    assert layers._collapsed(bad)
    bad.shuffle_blocks = 1     # one block: nothing was folded together
    assert not layers._collapsed(bad)

