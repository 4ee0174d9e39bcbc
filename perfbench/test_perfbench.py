"""Tests of the benchmark itself, apart from the repo's suite:

    python3 -m pytest perfbench -q -p no:cacheprovider

The last two tests start Spark and take about a minute each.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.trace import Tracer, union_length


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_children():
    tr = Tracer(True)
    parent = tr.add("bench.roundtrip", "g", 0.0, 10.0)
    tr.add("sink.kinesis.write", "g", 1.0, 4.0, parent)
    tr.add("sources.kinesis_source.read", "g", 3.0, 9.0, parent)
    selfs = tr.self_times(0.0, 20.0)
    assert selfs["bench"] == 10.0 - 8.0
    assert selfs["sink.kinesis"] == 3.0
    assert selfs["sources.kinesis_source"] == 6.0
    assert tr.covered(0.0, 20.0) == 10.0


def test_generators_are_seeded(tmp_path):
    a = gen.wire_events(5, 500, 2, str(tmp_path / "a"))
    b = gen.wire_events(5, 500, 2, str(tmp_path / "b"))
    assert a == b
    for name in os.listdir(tmp_path / "a"):
        assert pq.read_table(tmp_path / "a" / name).equals(pq.read_table(tmp_path / "b" / name))
    assert gen.curate_corpus(5, 200, 100, str(tmp_path / "c")) == gen.curate_corpus(5, 200, 100, str(tmp_path / "d"))
    p1 = gen.StreamPlan(5, 1000, 0.5, 4)
    p2 = gen.StreamPlan(5, 1000, 0.5, 4)
    assert p1.props == p2.props
    assert p1.slice_table(3, 0).equals(p2.slice_table(3, 0))
    assert p1.props["resend_share"] > 0


@pytest.mark.parametrize("faulty", ["LossySpoolClient", "LeakySpoolClient"])
def test_faulty_client_drives_failed_ratio_above_zero(faulty):
    from perfbench import spool
    from perfbench.run import run

    line, report = run("wire_roundtrip", seed=3, seconds=1, trace=False, client=getattr(spool, faulty))
    assert report["metrics"]["failed_ratio"]["value"] > 0
    assert line["correct"] is False
    assert 0 < line["failed"] <= line["attempted"]
