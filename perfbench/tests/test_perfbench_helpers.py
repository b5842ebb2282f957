"""Spark-free tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import threading

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import sparkrest  # noqa: E402
from tracing import (  # noqa: E402
    Span,
    Tracer,
    nesting_violations,
    self_times,
    summarize,
    tail_percentile,
)


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_span_nesting_and_self_time():
    clock = Clock()
    groups = []
    tr = Tracer(
        on_enter=lambda s: groups.append(s.span_id),
        on_exit=lambda s, p: groups.append(p.span_id if p else None),
        clock=clock,
    )
    with tr.operation("op-1"), tr.span("op.ingest") as op:
        clock.t = 1.0
        with tr.span("pipeline.run") as run:
            clock.t = 2.0
            with tr.span("tables.batch_write"):
                clock.t = 5.0
            clock.t = 6.0
            with tr.span("tables.commit"):
                clock.t = 6.5
            clock.t = 7.0
        clock.t = 8.0
    selfs = self_times(tr.spans)
    assert run.wall == 6.0 and selfs[run.span_id] == pytest.approx(2.5)
    assert selfs[op.span_id] == pytest.approx(2.0)
    assert all(selfs[s.span_id] <= s.wall for s in tr.spans)
    assert nesting_violations(tr.spans) == []
    assert {s.trace_id for s in tr.spans} == {"op-1"}
    # every close restores the parent's job group, the last one clears it
    assert groups[-1] is None and groups[-2] == op.span_id


def test_worker_thread_spans_parent_under_main_span():
    tr = Tracer(clock=Clock())
    with tr.span("pipeline.finalize") as fin:
        def worker():
            with tr.span("tables.write"):
                pass

        threads = [threading.Thread(target=worker) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in threads)
    writes = [s for s in tr.spans if s.name == "tables.write"]
    assert len(writes) == 2 and {s.parent for s in writes} == {fin.span_id}


def test_overlapping_children_count_once_in_self_time():
    fin = Span("s1", "pipeline.finalize", "t", None, 0.0, 5.0)
    daily = Span("s2", "tables.write", "t", "s1", 1.0, 3.0)
    packed = Span("s3", "tables.write", "t", "s1", 2.0, 4.0)
    selfs = self_times([fin, daily, packed])
    assert selfs["s1"] == pytest.approx(2.0)


def test_close_unwinds_spans_left_open():
    tr = Tracer(clock=Clock())
    outer = tr.open("op.ingest")
    tr.open("pipeline.batch")
    tr.close(outer)
    assert all(s.end is not None for s in tr.spans)
    with pytest.raises(RuntimeError):
        tr.close(outer)


def test_nesting_violation_detected():
    clock = Clock()
    tr = Tracer(clock=clock)
    with tr.span("parent") as p:
        with tr.span("child") as c:
            clock.t = 1.0
    c.end = p.end + 1.0
    assert nesting_violations(tr.spans) == [c.span_id]


def test_percentile_rule():
    assert tail_percentile(50) == 80.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(4) is None
    s50 = summarize([float(i) for i in range(1, 51)])
    assert s50 == {"n": 50, "p50": 25.5, "p80": 40.0}
    assert summarize([4.0, 1.0, 3.0, 2.0]) == {"n": 4, "p50": 2.5}


@pytest.mark.parametrize("offset,n", [(0, 100_000), (104_730, 1_000), (7, 1)])
def test_closed_form_token_count(offset, n):
    want = 0
    for i in range(offset, offset + n):
        want += 64 + i % 193 + (16384 if i % 101 == 0 else 0)
    assert inputs.closed_form_tokens(offset, n) == want


def test_reference_size_token_count():
    # the reference size: 100k docs from id 0 hold 32.2M tokens
    assert inputs.closed_form_tokens(0, 100_000) == 32_234_373


def test_generator_matches_package_closed_form():
    from repurpose_spark.sources.synthetic import synth_sequences_pandas

    ref = synth_sequences_pandas(300)
    got = inputs.sequences_table(np.arange(0, 300, dtype=np.int64)).to_pandas()
    got = got.assign(
        n_tok=np.where(np.arange(300) % 101 == 0, got.n_tok - 16384, got.n_tok)
    )
    assert list(got.doc_id) == list(ref.doc_id)
    assert list(got.source) == list(ref.source)
    assert list(got.n_tok) == list(ref.n_tok)
    for i in range(300):
        if i % 101:
            assert list(got.tokens[i]) == list(ref.tokens[i])


def test_regeneration_is_byte_identical(tmp_path):
    a = inputs.write_sequences(str(tmp_path / "a"), 1234, 500, 4)
    b = inputs.write_sequences(str(tmp_path / "b"), 1234, 500, 4)
    assert inputs.files_digest(a) == inputs.files_digest(b)
    c = inputs.write_sequences(str(tmp_path / "c"), 1235, 500, 4)
    assert inputs.files_digest(a) != inputs.files_digest(c)
    t = pq.read_table(a)
    assert sum(pq.read_table(p).num_rows for p in a) == 500
    assert t.schema.names == ["doc_id", "tokens", "n_tok", "source"]


@pytest.mark.parametrize("s,h", [
    # values of Spark's xxhash64 (seed 42) on the same strings
    ("doc00000000", -386058475172251163),
    ("doc00000001", 1702972705766442256),
    ("", -7444071767201028348),
    ("y" * 32, 5202031258905353636),
    ("é漢字" * 9, -8571377524895005470),
])
def test_xxhash64_matches_spark(s, h):
    assert inputs.xxhash64(s) == h
    assert inputs.cell_of(s, 32) == h % 32 and 0 <= inputs.cell_of(s, 32) < 32


def test_leaf_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(50)]
    assert inputs.leaf_order(names, 3) == inputs.leaf_order(names, 3)
    assert inputs.leaf_order(names, 3) != inputs.leaf_order(names, 4)
    assert sorted(inputs.leaf_order(names, 3)) == sorted(names)


def test_stage_attribution_and_driver_gap():
    def stage(sid, a, b, tasks=1):
        return {
            "stageId": sid, "numTasks": tasks,
            "submissionTime": f"2026-10-17T00:00:{a:06.3f}GMT",
            "completionTime": f"2026-10-17T00:00:{b:06.3f}GMT",
        }

    stages = [stage(1, 1.0, 2.0), stage(2, 1.5, 3.0, 4), stage(3, 6.0, 7.0)]
    jobs = [
        {"jobId": 0, "jobGroup": "s1", "stageIds": [1, 2]},
        {"jobId": 1, "jobGroup": "s2", "stageIds": [2, 3, 9]},
    ]
    by = sparkrest.stages_by_group(jobs, stages)
    assert [s["stageId"] for s in by["s1"]] == [1, 2]
    assert [s["stageId"] for s in by["s2"]] == [3]
    assert sparkrest.jobs_by_group(jobs) == {"s1": 1, "s2": 1}
    t0 = sparkrest.parse_ts("2026-10-17T00:00:00.000GMT")
    assert sparkrest.driver_gap(t0, t0 + 8.0, stages) == pytest.approx(5.0)
