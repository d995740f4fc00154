"""Tests of the benchmark's layer tracer and result arithmetic.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import io
import itertools

import pytest

import layers
import run
from sparkstats import parse_metric
from tracer import Tracer, union_length


class FakeClock:
    """A clock the test moves by hand."""

    def __init__(self):
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def _traced(tracer: Tracer) -> int:
    tracer.enabled = True
    return tracer.open("op", op=0)


# ------------------------------------------------------------- wrappers


def _double(x, *, k=1):
    return 2 * x * k


def _boom(x):
    raise KeyError(x)


def _gen(n):
    yield from range(n)


@pytest.mark.parametrize("enabled", [False, True])
def test_span_wrapper_returns_and_raises_like_the_function(enabled):
    t = Tracer()
    t.enabled = enabled
    if enabled:
        t.open("op", op=0)
    w = t.span_wrapper("layer", _double)
    assert w(3, k=2) == _double(3, k=2)
    with pytest.raises(KeyError) as ei:
        t.span_wrapper("layer", _boom)("x")
    assert ei.value.args == ("x",)
    assert w.__name__ == "_double"
    if enabled:
        assert t.counters["layer.calls"] == 2  # the raising call counts too
        assert all(s["end"] is not None for s in t.spans[1:])


@pytest.mark.parametrize("enabled", [False, True])
def test_light_and_iterator_wrappers_are_transparent(enabled):
    t = Tracer()
    t.enabled = enabled
    if enabled:
        t.open("op", op=0)
    assert t.light_wrapper("conv", _double)(4) == 8
    with pytest.raises(KeyError):
        t.light_wrapper("conv", _boom)(1)
    assert list(t.iterator_wrapper("dec", _gen, "dec.records")(5)) == [0, 1, 2, 3, 4]
    if enabled:
        assert t.counters["conv.calls"] == 2
        assert t.counters["dec.records"] == 5


def test_layer_counts_only_its_outermost_call():
    t = Tracer()
    _traced(t)

    def inner(x):
        return x + 1

    w_inner = t.span_wrapper("L", inner)

    def outer(x):
        return w_inner(w_inner(x))

    assert t.span_wrapper("L", outer)(1) == 3
    assert t.counters["L.calls"] == 1
    assert len(t.spans) == 2  # the op and one L span


def test_patch_replaces_the_binding_where_it_is_called_and_unpatch_restores():
    from iceberg_tools_spark.iceberg import commit, snapshots

    orig = snapshots.read_manifest_list
    assert commit.read_manifest_list is orig  # commit.py's from-import
    t = Tracer()
    w = t.span_wrapper("list", orig)
    n = t.patch_function(orig, w)
    try:
        assert n >= 2
        assert commit.read_manifest_list is w
        assert snapshots.read_manifest_list is w
    finally:
        t.unpatch()
    assert commit.read_manifest_list is orig
    assert snapshots.read_manifest_list is orig


def test_installed_layers_see_a_commit_and_restore_cleanly(tmp_path):
    from iceberg_tools_spark.avro import reader
    from iceberg_tools_spark.iceberg import commit, snapshots

    before = (commit.append_snapshot, snapshots.plan_scan, reader.AvroContainerFile.records,
              reader.AvroContainerFile.__init__, commit.write_container)
    t = Tracer()
    layers.install(t)
    try:
        mp = commit.create_table(str(tmp_path / "t"), [("id", "long"), ("p", "long")],
                                 partition_by=[("p", "identity", "p")])
        files = [{"path": f"data/f{i}.parquet", "partition": {"p": i},
                  "record_count": 10, "file_size_in_bytes": 100} for i in range(3)]
        mp = commit.append_snapshot(mp, files[:2])["metadata_path"]
        _traced(t)
        res = commit.append_snapshot(mp, files[2:])
        t.close(0)
        t.enabled = False
    finally:
        t.unpatch()
    after = (commit.append_snapshot, snapshots.plan_scan, reader.AvroContainerFile.records,
             reader.AvroContainerFile.__init__, commit.write_container)
    assert all(a is b for a, b in zip(before, after))
    c = t.counters
    assert c["iceberg.commit.calls"] == 1
    assert c["iceberg.commit.manifests_written"] == 1
    assert c["iceberg.commit.manifest_list_rows"] == 2  # parent's row + the new one
    assert c["avro.encode.calls"] == 2
    assert c["avro.decode.records"] == 1  # the parent manifest list, read back
    assert c["iceberg.metadata.parse.calls"] == 1
    assert c["iceberg.commit.metadata_bytes_written"] > c["avro.encode.bytes"]
    assert res["snapshot_id"] == 2


def test_manifest2json_bytes_out_counts_what_was_written(tmp_path):
    from iceberg_tools_spark.iceberg import commit, manifest2json

    t = Tracer()
    layers.install(t)
    try:
        mp = commit.create_table(str(tmp_path / "t"), [("id", "long")])
        res = commit.append_snapshot(mp, [{"path": "data/a.parquet", "partition": {},
                                           "record_count": 1, "file_size_in_bytes": 9}])
        out = io.StringIO()
        out.write("x")
        _traced(t)
        manifest2json.manifest2json(res["manifest_path"], res["metadata_path"], out)
        t.enabled = False
    finally:
        t.unpatch()
    assert t.counters["iceberg.manifest2json.bytes_out"] == len(out.getvalue()) - 1


# ------------------------------------------------------------ self time


def test_self_times_of_nested_spans_sum_to_the_wall():
    clock = FakeClock()
    t = Tracer(clock)
    root = t.open("op", op=0)  # [0, 10]
    clock.now = 1
    a = t.open("a")  # [1, 6]
    clock.now = 2
    a1 = t.open("a1")  # [2, 4]
    clock.now = 4
    t.close(a1)
    clock.now = 6
    t.close(a)
    clock.now = 7
    b = t.open("b")  # [7, 9]
    clock.now = 9
    t.close(b)
    t.spans[root]["light_s"] = 0.5  # e.g. bound decoding charged to the op
    clock.now = 10
    t.close(root)
    self_s = t.self_times()
    assert self_s == [10 - 5 - 2 - 0.5, 5 - 2, 2, 2]
    wall = t.spans[root]["end"] - t.spans[root]["start"]
    assert sum(self_s) + 0.5 == pytest.approx(wall)


def test_union_of_overlapping_children_is_not_double_counted():
    assert union_length([(1, 4), (3, 6), (8, 9)], 0, 10) == 6
    assert union_length([(1, 4), (2, 3)], 0, 10) == 3
    assert union_length([(-1, 2), (9, 12)], 0, 10) == 3  # clipped to the parent
    assert union_length([], 0, 10) == 0


def test_light_time_inside_light_time_is_charged_once():
    clock = FakeClock()
    t = Tracer(clock)
    _traced(t)
    ticks = itertools.count()

    def leaf():
        clock.now = next(ticks)
        return 1

    w_leaf = t.light_wrapper("inner", leaf)

    def outer():
        clock.now = next(ticks)
        return w_leaf()

    t.light_wrapper("outer", outer)()
    # outer ran from tick 0 to 1; the nested light call adds nothing more
    assert t.spans[0]["light_s"] == t.counters["outer.s"]


# ---------------------------------------------------------- arithmetic


def test_parse_metric_reads_the_store_renderings():
    assert parse_metric("100,000", "sum") == 100000
    assert parse_metric("921.0 B", "size") == 921
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 KiB (1 B, ...)", "size") == 1536
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.2 s (300 ms, ...)", "timing") == 1.2
    assert parse_metric("18 ms", "timing") == pytest.approx(0.018)
    assert parse_metric(None, "sum") == 0


def test_tail_is_the_highest_percentile_with_ten_samples_above():
    assert run.tail(list(range(9))) is None
    assert run.tail([float(i) for i in range(20)]) == (50.0, 9.0)
    assert run.tail([float(i) for i in range(100)]) == (90.0, 89.0)
    assert run.tail([float(i) for i in range(1000)]) == (99.0, 989.0)


def test_kind_summary_skips_failed_operations():
    recs = [{"kind": "a", "latency_s": 0.1, "ok": True},
            {"kind": "a", "latency_s": 9.9, "ok": False},
            {"kind": "a", "latency_s": 0.3, "ok": True}]
    s = run.kind_summary(recs, ("a", "b"))
    assert s == {"a": {"n": 2, "p50_ms": pytest.approx(200.0)}}
    assert run.geomean([1.0, 100.0]) == pytest.approx(10.0)
