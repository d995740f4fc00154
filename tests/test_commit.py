"""Append-snapshot commit round-trips: the write path feeding every
reader/planner this repo already certifies.

Strategy: copy the physical MoR fixture to a tmp table, commit new
data files with `append_snapshot`, and verify through the EXISTING
surfaces — time travel, incremental scan, the MoR reader, the
streamed increment, and manifest2json — rather than through the
writer's own eyes."""

from __future__ import annotations

import os
import pathlib
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_tools_spark.iceberg.commit import append_snapshot
from iceberg_tools_spark.iceberg.deletes import MOR_DIR, read_mor
from iceberg_tools_spark.iceberg.snapshots import files_added_between, files_at


@pytest.fixture()
def table(tmp_path):
    root = tmp_path / "mor"
    shutil.copytree(MOR_DIR, root)
    return str(root)


def _write_g(root: str, n: int = 7, start: int = 400) -> str:
    rel = "data/category=w/id_trunc=400/G.parquet"
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ids = list(range(start, start + n))
    pq.write_table(
        pa.table({
            "id": pa.array(ids, pa.int64()),
            "category": pa.array(["w"] * n, pa.string()),
        }),
        path,
    )
    return rel


def _commit_g(root: str, **kw):
    rel = _write_g(root)
    return append_snapshot(
        os.path.join(root, "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400}}],
        **kw,
    )


def test_commit_then_time_travel_and_increment(spark, table):
    res = _commit_g(table)
    meta_path, sid = res["metadata_path"], res["snapshot_id"]
    assert sid == 2005 and res["sequence_number"] == 5

    # time travel at the new snapshot sees all five old files + G
    files = files_at(spark, meta_path, sid).collect()
    names = sorted(r.file_path.rsplit("/", 1)[-1] for r in files)
    assert names == ["A.parquet", "B.parquet", "C.parquet", "D.parquet",
                     "F.parquet", "G.parquet"]
    # footer-derived stats landed in the manifest
    g = next(r for r in files if r.file_path.endswith("G.parquet"))
    assert g.record_count == 7

    # incremental scan attributes exactly G to (2004, 2005]
    inc = files_added_between(spark, meta_path, 2004, sid).collect()
    assert [r.file_path.rsplit("/", 1)[-1] for r in inc] == ["G.parquet"]


def test_commit_mor_read_applies_old_deletes(spark, table):
    res = _commit_g(table)
    got = sorted(r.id for r in read_mor(spark, res["metadata_path"], res["snapshot_id"]).collect())
    # 323 surviving fixture rows (deletes still applied) + 7 new
    assert len(got) == 330
    assert got[-7:] == list(range(400, 407))


def test_commit_streams_as_increment(spark, table, tmp_path):
    from iceberg_tools_spark.streaming.incremental import incremental_scan_stream
    from iceberg_tools_spark.streaming.jobs import run_to_memory

    res = _commit_g(table)
    stream = incremental_scan_stream(
        spark, res["metadata_path"], 2004, res["snapshot_id"], str(tmp_path / "stage")
    )
    got = run_to_memory(stream, "commit_increment")
    assert sorted(r.id for r in got.collect()) == list(range(400, 407))


def test_commit_manifest2json_readable(table):
    import io
    import json

    from iceberg_tools_spark.iceberg.manifest2json import manifest2json

    res = _commit_g(table)
    buf = io.StringIO()
    assert manifest2json(res["manifest_path"], res["metadata_path"], buf) == 0
    recs = json.loads(buf.getvalue())
    assert len(recs) == 1
    assert recs[0]["data_file"]["file_path"].endswith("G.parquet")
    assert recs[0]["status"] == 1  # ADDED
    # union-labelled like the reference's encoder; null seq inherited
    assert recs[0]["snapshot_id"] == {"long": 2005}
    assert recs[0]["sequence_number"] is None


def test_commit_chains(spark, table):
    res1 = _commit_g(table)
    rel2 = "data/category=v/id_trunc=500/H.parquet"
    path2 = os.path.join(table, rel2)
    os.makedirs(os.path.dirname(path2), exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([500], pa.int64()),
                  "category": pa.array(["v"], pa.string())}),
        path2,
    )
    res2 = append_snapshot(
        res1["metadata_path"],
        [{"path": rel2, "partition": {"category": "v", "id_trunc": 500}}],
    )
    assert res2["snapshot_id"] == 2006 and res2["sequence_number"] == 6
    inc = files_added_between(spark, res2["metadata_path"], 2004, 2006).collect()
    assert sorted(r.file_path.rsplit("/", 1)[-1] for r in inc) == ["G.parquet", "H.parquet"]
    # chain attribution: each file to its own snapshot
    by_snap = {r.file_path.rsplit("/", 1)[-1]: r.snapshot_id for r in inc}
    assert by_snap == {"G.parquet": 2005, "H.parquet": 2006}


def test_commit_is_deterministic(tmp_path):
    outs = []
    for sub in ("a", "b"):
        root = tmp_path / sub
        shutil.copytree(MOR_DIR, root)
        res = _commit_g(str(root))
        outs.append(
            (
                open(res["manifest_path"], "rb").read(),
                open(res["manifest_list_path"], "rb").read(),
                open(res["metadata_path"]).read(),
            )
        )
    assert outs[0] == outs[1]


def test_commit_rejects_bad_partition_and_empty(table):
    with pytest.raises(ValueError, match="does not match spec"):
        rel = _write_g(table)
        append_snapshot(
            os.path.join(table, "v2.metadata.json"),
            [{"path": rel, "partition": {"category": "w"}}],  # missing id_trunc
        )
    with pytest.raises(ValueError, match="no data files"):
        append_snapshot(os.path.join(table, "v2.metadata.json"), [])


def test_delete_commit_round_trip(spark, table):
    """Write path for MoR deletes: commit a positional-delete
    snapshot and watch the ordinary reader drop exactly those rows
    — and NOT from files written after the delete."""
    from iceberg_tools_spark.iceberg.commit import (
        commit_delete_snapshot,
        write_position_deletes,
    )

    res1 = _commit_g(table)  # snapshot 2005 adds G (ids 400..406)
    rel = write_position_deletes(
        table, "data/deletes/pd2.parquet",
        [("data/category=w/id_trunc=400/G.parquet", 0),
         ("data/category=w/id_trunc=400/G.parquet", 1)],
    )
    res2 = commit_delete_snapshot(
        res1["metadata_path"],
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400},
          "content": 1}],
    )
    assert res2["snapshot_id"] == 2006 and res2["sequence_number"] == 6
    got = sorted(r.id for r in read_mor(spark, res2["metadata_path"], 2006).collect())
    # 330 live at 2005 minus ids 400, 401
    assert len(got) == 328 and 400 not in got and 401 not in got and 402 in got

    # a file appended AFTER the delete snapshot is untouched by it
    rel3 = "data/category=w/id_trunc=400/I.parquet"
    path3 = os.path.join(table, rel3)
    pq.write_table(
        pa.table({"id": pa.array([450, 451], pa.int64()),
                  "category": pa.array(["w", "w"], pa.string())}),
        path3,
    )
    res3 = append_snapshot(
        res2["metadata_path"],
        [{"path": rel3, "partition": {"category": "w", "id_trunc": 400}}],
    )
    got3 = sorted(r.id for r in read_mor(spark, res3["metadata_path"], 2007).collect())
    assert 450 in got3 and 451 in got3 and len(got3) == 330


def test_delete_commit_validation(table):
    from iceberg_tools_spark.iceberg.commit import commit_delete_snapshot

    with pytest.raises(ValueError, match="content 1"):
        commit_delete_snapshot(
            os.path.join(table, "v2.metadata.json"),
            [{"path": "x", "partition": {}, "content": 0}],
        )
    with pytest.raises(ValueError, match="equality_ids"):
        commit_delete_snapshot(
            os.path.join(table, "v2.metadata.json"),
            [{"path": "x", "partition": {}, "content": 2}],
        )


def test_expire_snapshots_execution(spark, tmp_path):
    """Executor for the expiry plan: expired snapshots leave the
    metadata, their now-unreferenced manifest lists/manifests are
    reported (and deleted on request), and every surviving read
    surface still works."""
    from iceberg_tools_spark.iceberg.commit import expire_snapshots
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import MS_DIR

    root = tmp_path / "ms"
    shutil.copytree(MS_DIR, root)
    mp = os.path.join(root, "v2.metadata.json")
    before = parse_metadata(mp)
    res = expire_snapshots(mp, keep_last=2, delete_files=True)
    assert res["expired"] and set(res["expired"]).isdisjoint(
        {s["snapshot-id"] for s in parse_metadata(res["metadata_path"]).snapshots}
    )
    after = parse_metadata(res["metadata_path"])
    assert after.current_snapshot_id == before.current_snapshot_id
    assert len(after.snapshots) == len(before.snapshots) - len(res["expired"])
    # snapshot-log trimmed in lockstep
    assert {e["snapshot-id"] for e in after.raw["snapshot-log"]} == {
        s["snapshot-id"] for s in after.snapshots
    }
    # reported files were deleted; current snapshot still reads
    assert res["removable"] and all(not os.path.exists(p) for p in res["removable"])
    live = files_at(spark, res["metadata_path"], after.current_snapshot_id, str(root))
    assert live.count() > 0

    # idempotent second call: nothing left to expire at keep_last=2
    res2 = expire_snapshots(res["metadata_path"], keep_last=2)
    assert res2["expired"] == []


def test_expire_never_drops_current(tmp_path):
    from iceberg_tools_spark.iceberg.commit import expire_snapshots
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import MS_DIR

    root = tmp_path / "ms"
    shutil.copytree(MS_DIR, root)
    mp = os.path.join(root, "v2.metadata.json")
    cur = parse_metadata(mp).current_snapshot_id
    res = expire_snapshots(mp, keep_last=0)
    assert cur not in res["expired"]


def test_commit_null_partition_value(spark, table):
    """A commit mixing null and non-null partition values must not
    TypeError in the summary min/max (bounds computed over non-null
    values only, contains_null set)."""
    rel = "data/category=x/N.parquet"
    path = os.path.join(table, rel)
    pq.write_table(
        pa.table({"id": pa.array([900], pa.int64()),
                  "category": pa.array([None], pa.string())}),
        path,
    )
    res = append_snapshot(
        os.path.join(table, "v2.metadata.json"),
        [
            {"path": rel, "partition": {"category": None, "id_trunc": 900}},
            {"path": "data/category=y/B.parquet",
             "partition": {"category": "y", "id_trunc": 100}},
        ],
    )
    files = files_at(spark, res["metadata_path"], res["snapshot_id"]).collect()
    assert any(r.file_path.endswith("N.parquet") for r in files)


def test_commit_explicit_zero_record_count(table):
    """An explicit record_count of 0 is honored, not silently
    replaced by the parquet footer's count."""
    rel = _write_g(table)  # actually holds 7 rows
    res = append_snapshot(
        os.path.join(table, "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400},
          "record_count": 0, "file_size_in_bytes": 1}],
    )
    import json as _json

    meta = _json.load(open(res["metadata_path"]))
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == res["snapshot_id"])
    assert snap["summary"]["added-records"] == "0"


def test_commit_metadata_log_uri_is_root_relative(table):
    """metadata-log records the file's ACTUAL root-relative URI (the
    fixture keeps metadata.json at the table root, not metadata/)."""
    import json as _json

    res = _commit_g(table)
    meta = _json.load(open(res["metadata_path"]))
    assert meta["metadata-log"][-1]["metadata-file"] == (
        "file:///tmp/mor_table/v2.metadata.json"
    )


def test_schema_evolution_add_column(spark, table):
    """Add-column evolution: new schema id, old schemas retained,
    existing data still readable (schema-on-read: the added columns
    simply don't constrain old parquet)."""
    from iceberg_tools_spark.iceberg.commit import commit_schema_update
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    mp = os.path.join(table, "v2.metadata.json")
    res = commit_schema_update(mp, [("score", "double"), ("note", "string")])
    meta = parse_metadata(res["metadata_path"])
    names = [f["name"] for f in meta.current_schema["fields"]]
    assert names == ["id", "category", "score", "note"]
    assert len(meta.schemas) == 2  # old schema retained
    ids = [f["id"] for f in meta.current_schema["fields"]]
    assert ids == sorted(ids) == [1, 2, 3, 4]  # fresh ids past last-column-id
    # old data still reads via the MoR reader (schema-on-read)
    assert read_mor(spark, res["metadata_path"], 2004).count() == 323

    with pytest.raises(ValueError, match="already exists"):
        commit_schema_update(res["metadata_path"], [("id", "long")])
    with pytest.raises(ValueError, match="no columns"):
        commit_schema_update(res["metadata_path"], [])


def test_refs_tag_and_branch(spark, table):
    """Tags pin, branches move, readers resolve by name."""
    from iceberg_tools_spark.iceberg.commit import resolve_ref, set_ref

    mp = os.path.join(table, "v2.metadata.json")
    r1 = set_ref(mp, "v-before-deletes", snapshot_id=2002, ref_type="tag")
    r2 = set_ref(r1["metadata_path"], "nightly", ref_type="branch")
    mp2 = r2["metadata_path"]
    assert resolve_ref(mp2, "v-before-deletes") == 2002
    assert resolve_ref(mp2, "nightly") == 2004
    assert resolve_ref(mp2, "main") == 2004
    # time travel THROUGH the tag
    files = files_at(spark, mp2, resolve_ref(mp2, "v-before-deletes")).collect()
    assert sorted(r.file_path.rsplit("/", 1)[-1] for r in files) == [
        "A.parquet", "B.parquet", "C.parquet", "D.parquet"
    ]
    # tags are immutable; branches move
    with pytest.raises(ValueError, match="immutable"):
        set_ref(mp2, "v-before-deletes", snapshot_id=2003, ref_type="tag")
    r3 = set_ref(mp2, "nightly", snapshot_id=2003, ref_type="branch")
    assert resolve_ref(r3["metadata_path"], "nightly") == 2003
    with pytest.raises(ValueError, match="unknown ref"):
        resolve_ref(mp2, "nope")
    with pytest.raises(ValueError, match="not in table"):
        set_ref(mp2, "x", snapshot_id=999)


def test_eq_delete_commit_round_trip(spark, table):
    """Equality-delete write path: committed eq delete applies on
    MoR reads (seq-gated) and surfaces as that commit's changelog
    DELETE rows."""
    from iceberg_tools_spark.iceberg.changelog import changelog_between
    from iceberg_tools_spark.iceberg.commit import (
        commit_delete_snapshot,
        write_equality_deletes,
    )

    rel = write_equality_deletes(
        table, "data/deletes/ed_t.parquet", [{"id": 120}, {"id": 130}]
    )
    res = commit_delete_snapshot(
        os.path.join(table, "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "y"}, "content": 2,
          "equality_ids": [1]}],
        spec_id=0,
    )
    y_ids = {
        r.id
        for r in read_mor(spark, res["metadata_path"], res["snapshot_id"])
        .filter("category = 'y'")
        .collect()
    }
    assert y_ids == set(range(101, 151)) - {120, 130}
    ch = changelog_between(
        spark, res["metadata_path"], 2004, res["snapshot_id"]
    ).collect()
    assert {(r.change_type, r.id) for r in ch} == {("DELETE", 120), ("DELETE", 130)}
    # partition gate: an eq delete scoped to partition z cannot kill
    # a category-y row even when the id matches
    rel2 = write_equality_deletes(
        table, "data/deletes/ed_t2.parquet", [{"id": 140}]
    )
    res2 = commit_delete_snapshot(
        res["metadata_path"],
        [{"path": rel2, "partition": {"category": "z"}, "content": 2,
          "equality_ids": [1]}],
        spec_id=0,
    )
    y2 = {
        r.id
        for r in read_mor(spark, res2["metadata_path"], res2["snapshot_id"])
        .filter("category = 'y'")
        .collect()
    }
    assert 140 in y2


# ------------------------------------------------ rollback


def test_rollback_requires_ancestor(spark, tmp_path):
    import shutil

    import pytest

    from iceberg_tools_spark.iceberg.commit import rollback_to
    from iceberg_tools_spark.iceberg.snapshots import MS_DIR

    root = tmp_path / "ms"
    shutil.copytree(MS_DIR, root)
    mp = str(root / "v2.metadata.json")
    # 1004 sits on the abandoned branch: not an ancestor of 1003
    with pytest.raises(ValueError, match="not an ancestor"):
        rollback_to(mp, 1004)
    res = rollback_to(mp, 1004, allow_non_ancestor=True)
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    assert parse_metadata(res["metadata_path"]).current_snapshot_id == 1004


def test_rollback_records_log_and_keeps_snapshots(spark, tmp_path):
    import shutil

    from iceberg_tools_spark.iceberg.commit import rollback_to
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import files_at

    root = tmp_path / "mor"
    shutil.copytree(MOR_DIR, root)
    res = rollback_to(str(root / "v2.metadata.json"), 2002)
    raw = parse_metadata(res["metadata_path"]).raw
    assert raw["current-snapshot-id"] == 2002
    assert raw["snapshot-log"][-1]["snapshot-id"] == 2002
    assert len(raw["snapshots"]) == 4  # nothing deleted
    # rolled-past snapshots still time-travel
    assert files_at(spark, res["metadata_path"], 2004).count() == 5


def test_rollback_to_current_or_unknown_raises(tmp_path):
    import shutil

    import pytest

    from iceberg_tools_spark.iceberg.commit import rollback_to
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR

    root = tmp_path / "mor"
    shutil.copytree(MOR_DIR, root)
    mp = str(root / "v2.metadata.json")
    with pytest.raises(ValueError, match="already current"):
        rollback_to(mp, 2004)
    with pytest.raises(ValueError, match="not in table metadata"):
        rollback_to(mp, 9999)


# ------------------------------------------------ write-audit-publish


def test_staged_commit_leaves_main_untouched(spark, tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.commit import append_snapshot, resolve_ref
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    rel = "data/category=w/id_trunc=400/H.parquet"
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([401], pa.int64()),
                  "category": pa.array(["w"])}), p
    )
    res = append_snapshot(
        str(root / "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400}}],
        stage_ref="wap-x",
    )
    raw = parse_metadata(res["metadata_path"]).raw
    assert raw["current-snapshot-id"] == 2004  # main unmoved
    assert resolve_ref(res["metadata_path"], "wap-x") == res["snapshot_id"]
    assert raw["snapshot-log"][-1]["snapshot-id"] != res["snapshot_id"]  # no log entry yet


def test_publish_requires_fast_forward(spark, tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from iceberg_tools_spark.iceberg.commit import (
        append_snapshot,
        publish_snapshot,
        rollback_to,
    )
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR

    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    rel = "data/category=w/id_trunc=400/H.parquet"
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([401], pa.int64()),
                  "category": pa.array(["w"])}), p
    )
    res = append_snapshot(
        str(root / "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400}}],
        stage_ref="wap-x",
    )
    # roll main back: the staged snapshot's parent is no longer
    # current → publish must refuse the non-fast-forward
    res2 = rollback_to(res["metadata_path"], 2002)
    with pytest.raises(ValueError, match="fast-forward impossible"):
        publish_snapshot(res2["metadata_path"], "wap-x")
    with pytest.raises(ValueError, match="no staged ref"):
        publish_snapshot(res2["metadata_path"], "nope")


def test_snapshot_summary_totals(spark, tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.commit import append_snapshot
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.sortorder import commit_sort_order, rewrite_sorted

    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    rel = "data/category=w/id_trunc=400/G.parquet"
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(range(400, 407), pa.int64()),
                  "category": pa.array(["w"] * 7)}), p
    )
    res = append_snapshot(
        str(root / "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400}}],
    )
    snap = parse_metadata(res["metadata_path"]).snapshots[-1]
    # A100+B50+C100+D50+F40+G7 manifest-entry rows; 6 data files;
    # pd1+ed1 delete files
    assert snap["summary"]["total-records"] == "347"
    assert snap["summary"]["total-data-files"] == "6"
    assert snap["summary"]["total-delete-files"] == "2"
    # after a full sorted rewrite the totals equal the LIVE fold
    res2 = commit_sort_order(res["metadata_path"], [("id", "asc")])
    res3 = rewrite_sorted(spark, res2["metadata_path"], target_files=2)
    snap3 = parse_metadata(res3["metadata_path"]).snapshots[-1]
    assert snap3["summary"]["total-records"] == "330"  # 347 − 17 dead
    assert snap3["summary"]["total-delete-files"] == "0"


def test_expire_protects_ref_pinned_snapshots(spark):
    """Round 8: a snapshot pinned by a tag or branch must survive
    expiry (Iceberg's RemoveSnapshots ref protection) — and the
    time-travel read through the tag still works afterwards."""
    from iceberg_tools_spark.iceberg.commit import (
        _scratch_table,
        expire_snapshots,
        resolve_ref,
        set_ref,
    )
    from iceberg_tools_spark.iceberg.maintenance import plan_expire_snapshots
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import MS_DIR, files_at

    root = _scratch_table("expire_ref_", MS_DIR)
    mp = os.path.join(root, "v2.metadata.json")
    tagged = set_ref(mp, "audit-1001", snapshot_id=1001, ref_type="tag")
    plan = plan_expire_snapshots(
        parse_metadata(tagged["metadata_path"]), keep_last=1
    )
    by_id = {p["snapshot_id"]: p for p in plan}
    assert by_id[1001]["action"] == "keep"
    assert by_id[1001]["reason"] == "ref-protected"
    assert by_id[1002]["action"] == "expire"  # unpinned sibling ages out
    res = expire_snapshots(tagged["metadata_path"], keep_last=1)
    assert 1001 not in res["expired"] and 1002 in res["expired"]
    meta = parse_metadata(res["metadata_path"])
    assert any(s["snapshot-id"] == 1001 for s in meta.snapshots)
    sid = resolve_ref(res["metadata_path"], "audit-1001")
    assert files_at(spark, res["metadata_path"], sid, root).count() > 0


def _scratch_mor(tmp_path):
    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    return root


def _write_rows(root, rel, ids, category):
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()),
                  "category": pa.array([category] * len(ids))}), p
    )


def test_cherrypick_reparents_staged_append(spark, tmp_path):
    from iceberg_tools_spark.iceberg.commit import cherrypick_snapshot
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    _write_rows(root, "data/category=w/id_trunc=400/W.parquet", list(range(400, 405)), "w")
    _write_rows(root, "data/category=w/id_trunc=500/X.parquet", list(range(500, 503)), "w")
    staged = append_snapshot(
        mpath,
        [{"path": "data/category=w/id_trunc=400/W.parquet",
          "partition": {"category": "w", "id_trunc": 400}}],
        stage_ref="wap-y",
    )
    moved = append_snapshot(
        staged["metadata_path"],
        [{"path": "data/category=w/id_trunc=500/X.parquet",
          "partition": {"category": "w", "id_trunc": 500}}],
    )
    picked = cherrypick_snapshot(moved["metadata_path"], staged["snapshot_id"])
    live = read_mor(spark, picked["metadata_path"], picked["snapshot_id"], str(root))
    ids = {r["id"] for r in live.collect()}
    assert {400, 401, 402, 403, 404} <= ids and {500, 501, 502} <= ids
    meta = parse_metadata(picked["metadata_path"])
    snap = next(s for s in meta.snapshots if s["snapshot-id"] == picked["snapshot_id"])
    assert snap["parent-snapshot-id"] == moved["snapshot_id"]
    assert snap["summary"]["source-snapshot-id"] == str(staged["snapshot_id"])


def test_cherrypick_refuses_non_append(tmp_path):
    from iceberg_tools_spark.iceberg.commit import cherrypick_snapshot

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    # snapshot 2003 is the fixture's MoR delete commit
    with pytest.raises(ValueError, match="supports append"):
        cherrypick_snapshot(mpath, 2003)


def test_cherrypick_wap_duplicate_publish_guard(tmp_path):
    from iceberg_tools_spark.iceberg.commit import cherrypick_snapshot

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    _write_rows(root, "data/category=w/id_trunc=400/W.parquet", [400], "w")
    staged = append_snapshot(
        mpath,
        [{"path": "data/category=w/id_trunc=400/W.parquet",
          "partition": {"category": "w", "id_trunc": 400}}],
        stage_ref="wap-z",
        extra_summary={"wap.id": "dup-1"},
    )
    picked = cherrypick_snapshot(staged["metadata_path"], staged["snapshot_id"])
    with pytest.raises(ValueError, match="already published"):
        cherrypick_snapshot(picked["metadata_path"], staged["snapshot_id"])


def test_ref_retention_policies(tmp_path):
    # spec ref properties: max-ref-age-ms removes the ref;
    # min-snapshots-to-keep / max-snapshot-age-ms protect branch
    # ancestors beyond the head
    import json

    from iceberg_tools_spark.iceberg.commit import expire_snapshots
    from iceberg_tools_spark.iceberg.maintenance import (
        plan_expire_snapshots,
        plan_ref_retention,
    )
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    raw = json.loads(open(mpath).read())
    # fixture snapshots 2001..2004 at increasing timestamps; head 2004
    ts = {s["snapshot-id"]: s["timestamp-ms"] for s in raw["snapshots"]}
    now = max(ts.values()) + 10_000
    raw["refs"] = {
        "main": {"snapshot-id": 2004, "type": "branch",
                 "min-snapshots-to-keep": 2},
        "old-tag": {"snapshot-id": 2002, "type": "tag",
                    "max-ref-age-ms": 1},          # aged out → removed
        "audit": {"snapshot-id": 2003, "type": "branch",
                  "max-ref-age-ms": 10_000_000,    # young enough
                  "min-snapshots-to-keep": 1,
                  "max-snapshot-age-ms": 1},       # ancestors too old
    }
    open(mpath, "w").write(json.dumps(raw))
    meta = parse_metadata(mpath)

    rr = plan_ref_retention(meta, now)
    assert rr["removed_refs"] == ["old-tag"]
    # main protects 2004+2003 (min 2); audit protects its head 2003
    assert set(rr["protected"]) == {2004, 2003}

    plan = {p["snapshot_id"]: p for p in plan_expire_snapshots(
        meta, keep_last=1, now_ms=now
    )}
    assert plan[2002]["action"] == "expire"     # old-tag no longer pins it
    assert plan[2003]["action"] == "keep"
    assert plan[2003]["reason"] == "ref-protected"

    res = expire_snapshots(mpath, keep_last=1, now_ms=now)
    assert res["removed_refs"] == ["old-tag"]
    assert 2002 in res["expired"] and 2001 in res["expired"]
    raw2 = json.loads(open(res["metadata_path"]).read())
    assert set(raw2["refs"]) == {"main", "audit"}
    assert {s["snapshot-id"] for s in raw2["snapshots"]} == {2003, 2004}


def test_ref_retention_without_now_keeps_legacy_behavior(tmp_path):
    import json

    from iceberg_tools_spark.iceberg.maintenance import plan_expire_snapshots
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    raw = json.loads(open(mpath).read())
    raw["refs"] = {"old-tag": {"snapshot-id": 2002, "type": "tag",
                               "max-ref-age-ms": 1}}
    open(mpath, "w").write(json.dumps(raw))
    plan = {p["snapshot_id"]: p for p in plan_expire_snapshots(
        parse_metadata(mpath), keep_last=1
    )}
    # no now_ms → blanket head-pinning, properties ignored
    assert plan[2002]["action"] == "keep"


def test_metadata_log_retention_properties(tmp_path):
    import json

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    raw = json.loads(open(mpath).read())
    raw["properties"]["write.metadata.previous-versions-max"] = "2"
    raw["properties"]["write.metadata.delete-after-commit.enabled"] = "true"
    open(mpath, "w").write(json.dumps(raw))

    mp = mpath
    paths = []
    for i in range(4):
        _write_rows(root, f"data/category=w/L{i}.parquet", [700 + i], "w")
        res = append_snapshot(
            mp, [{"path": f"data/category=w/L{i}.parquet",
                  "partition": {"category": "w", "id_trunc": 700}}]
        )
        paths.append(res["metadata_path"])
        mp = res["metadata_path"]

    raw = json.loads(open(mp).read())
    assert len(raw["metadata-log"]) == 2  # capped on every commit
    # the newest predecessors survive; the oldest commit-written
    # version files were physically deleted
    import os

    assert os.path.exists(paths[-2])
    assert not os.path.exists(paths[0])


def test_metadata_log_unbounded_without_property(tmp_path):
    import json

    root = _scratch_mor(tmp_path)
    mp = str(root / "v2.metadata.json")
    before = len(json.loads(open(mp).read()).get("metadata-log", []))
    for i in range(3):
        _write_rows(root, f"data/category=w/M{i}.parquet", [800 + i], "w")
        res = append_snapshot(
            mp, [{"path": f"data/category=w/M{i}.parquet",
                  "partition": {"category": "w", "id_trunc": 800}}]
        )
        mp = res["metadata_path"]
    raw = json.loads(open(mp).read())
    assert len(raw["metadata-log"]) == before + 3  # default: unbounded


def test_create_table_api(spark, tmp_path):
    """create_table → append → evolve spec → read: the public
    CREATE TABLE entry point composes with the whole write path."""
    import glob
    import json
    import os

    import pyspark.sql.functions as F

    from iceberg_tools_spark.iceberg.commit import append_snapshot, create_table
    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.iceberg.evolution import evolve_partition_spec

    root = str(tmp_path / "ct")
    mp = create_table(
        root, [("id", "long"), ("cat", "string")],
        partition_by=[("cat", "identity", "cat")],
        properties={"owner": "tests"},
    )
    raw = json.load(open(mp))
    assert raw["partition-specs"][0]["fields"][0]["field-id"] == 1000
    assert raw["last-partition-id"] == 1000
    assert raw["properties"]["owner"] == "tests"

    spark.range(10).select(F.col("id"), F.lit("x").alias("cat")).coalesce(
        1
    ).write.parquet(root + "/stage")
    part = glob.glob(root + "/stage/part-*.parquet")[0]
    os.replace(part, root + "/data/f.parquet")
    res = append_snapshot(mp, [{"path": "data/f.parquet", "partition": {"cat": "x"}}])
    assert read_mor(spark, res["metadata_path"], res["snapshot_id"]).count() == 10
    # spec evolution continues partition field ids from the created spec
    evo = evolve_partition_spec(
        res["metadata_path"], add=[("id_bucket", "bucket[4]", "id")]
    )
    raw2 = json.load(open(evo["metadata_path"]))
    assert raw2["last-partition-id"] == 1001

    import pytest

    with pytest.raises(ValueError, match="not in schema"):
        create_table(str(tmp_path / "bad"),
                     [("id", "long")], partition_by=[("x", "identity", "nope")])


def test_update_table_properties_roundtrip(spark, tmp_path):
    """SET/UNSET TBLPROPERTIES: properties-only metadata commits —
    no snapshot added, metadata-log extended, catalog resolution
    follows the new version."""
    import json
    import os

    from iceberg_tools_spark.iceberg.catalog import current_metadata_path
    from iceberg_tools_spark.iceberg.commit import (
        create_table,
        update_table_properties,
    )

    wh = str(tmp_path / "wh")
    root = os.path.join(wh, "db", "t")
    os.makedirs(root)
    mp = create_table(root, [("id", "long")], properties={"a": "1"})
    r1 = update_table_properties(mp, set_props={"b": "2"})
    assert r1["properties"] == {"a": "1", "b": "2"}
    r2 = update_table_properties(r1["metadata_path"], unset=["a"])
    assert r2["properties"] == {"b": "2"}
    raw = json.load(open(r2["metadata_path"]))
    assert raw["snapshots"] == []  # properties commits add no snapshot
    assert len(raw["metadata-log"]) == 2
    assert current_metadata_path(wh, "db.t") == r2["metadata_path"]

    import pytest

    with pytest.raises(ValueError, match="no changes"):
        update_table_properties(r2["metadata_path"])


# ------------------------------------------- one commit protocol


def test_rewrite_position_deletes_honours_metadata_log_retention(spark, tmp_path):
    """Rewrites commit through the same tail as appends: the
    metadata-log is capped at previous-versions-max and the dropped
    version file is deleted."""
    import json

    from iceberg_tools_spark.iceberg.commit import update_table_properties
    from iceberg_tools_spark.iceberg.rewrite_deletes import rewrite_position_deletes

    root = _scratch_mor(tmp_path)
    first = str(root / "v2.metadata.json")
    mp = update_table_properties(first, set_props={
        "write.metadata.previous-versions-max": "1",
        "write.metadata.delete-after-commit.enabled": "true",
    })["metadata_path"]
    res = rewrite_position_deletes(spark, mp)
    log = json.load(open(res["metadata_path"]))["metadata-log"]
    assert len(log) <= 1
    assert [e["metadata-file"].rsplit("/", 1)[-1] for e in log] == ["v3.metadata.json"]
    assert not os.path.exists(first)
    assert os.path.exists(mp)


def test_failed_metadata_write_leaves_previous_version(tmp_path):
    """A commit whose metadata.json cannot be serialized raises and
    leaves no partial next version: the catalog still resolves the
    previous one."""
    import glob

    from iceberg_tools_spark.iceberg.catalog import current_metadata_path
    from iceberg_tools_spark.iceberg.commit import create_table

    wh = str(tmp_path / "wh")
    root = os.path.join(wh, "db", "t")
    os.makedirs(root)
    mp = create_table(root, [("id", "long")])
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), os.path.join(root, "data", "a.parquet"))
    with pytest.raises(TypeError):
        append_snapshot(mp, [{"path": "data/a.parquet", "partition": {}}], extra_summary={"k": b"x"})
    mdir = os.path.join(root, "metadata")
    assert glob.glob(os.path.join(mdir, "v*.metadata.json")) == [mp]
    assert not glob.glob(os.path.join(mdir, "*.tmp"))
    assert current_metadata_path(wh, "db.t") == mp


def _dv_replace(spark, root):
    from iceberg_tools_spark.iceberg.dml import delete_where_dv

    return delete_where_dv(spark, os.path.join(root, "v3.metadata.json"), "id % 50 = 0")


def _binpack(spark, root):
    from iceberg_tools_spark.iceberg.rewrite_data import binpack_rewrite

    mp = os.path.join(root, "v2.metadata.json")
    for i in range(2):
        _write_rows(pathlib.Path(root), f"data/category=w/S{i}.parquet", [900 + i], "w")
        mp = append_snapshot(mp, [{"path": f"data/category=w/S{i}.parquet",
                                   "partition": {"category": "w", "id_trunc": 900}}])["metadata_path"]
    return binpack_rewrite(spark, mp, target_size_bytes=1 << 20)


def _pos_delete_b(root):
    from iceberg_tools_spark.iceberg.commit import write_position_deletes

    rel = write_position_deletes(root, "data/deletes/pd_b.parquet", [("data/category=y/B.parquet", 0)])
    return {"path": rel, "partition": {"category": "y"}, "content": 1, "spec_id": 0}


def _rewrite_sorted(spark, root):
    from iceberg_tools_spark.iceberg.sortorder import commit_sort_order, rewrite_sorted

    mp = commit_sort_order(os.path.join(root, "v2.metadata.json"), [("id", "asc")])["metadata_path"]
    return rewrite_sorted(spark, mp, target_files=2)


def _rewrite_position_deletes(spark, root):
    from iceberg_tools_spark.iceberg.rewrite_data import rewrite_data_files
    from iceberg_tools_spark.iceberg.rewrite_deletes import rewrite_position_deletes

    mp = os.path.join(root, "v2.metadata.json")
    r1 = rewrite_data_files(spark, mp, target_rels=["data/category=x/A.parquet"])
    return rewrite_position_deletes(spark, r1["metadata_path"])


def _commit_kinds():
    from iceberg_tools_spark.iceberg.commit import commit_delete_snapshot, commit_row_delta
    from iceberg_tools_spark.iceberg.dml import update_where
    from iceberg_tools_spark.iceberg.rewrite_data import rewrite_data_files

    mp = lambda root: os.path.join(root, "v2.metadata.json")  # noqa: E731
    g = lambda root: {"path": _write_g(root), "partition": {"category": "w", "id_trunc": 400}}  # noqa: E731
    return {
        "append": lambda spark, root: append_snapshot(mp(root), [g(root)]),
        "overwrite": lambda spark, root: update_where(spark, mp(root), "id IN (115, 125)", {"id": "id + 1000"}),
        "delete": lambda spark, root: commit_delete_snapshot(mp(root), [_pos_delete_b(root)]),
        "row_delta": lambda spark, root: commit_row_delta(mp(root), [g(root)], [_pos_delete_b(root)]),
        "dv_replace": _dv_replace,
        "binpack": _binpack,
        "rewrite_data_files": lambda spark, root: rewrite_data_files(spark, mp(root)),
        "rewrite_position_deletes": _rewrite_position_deletes,
        "rewrite_sorted": _rewrite_sorted,
    }


@pytest.mark.parametrize("kind", sorted(_commit_kinds()))
def test_manifest_list_rows_match_their_entries(spark, tmp_path, kind):
    """Every commit kind's manifest list states exactly what its
    manifests hold: per-status file and row counts recount from the
    entries, and the snapshot's total-* summary sums the list."""
    from iceberg_tools_spark.avro.reader import AvroContainerFile
    from iceberg_tools_spark.iceberg.deletes import DV_DIR
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import manifest_files_at, snapshot_by_id

    root = str(tmp_path / "t")
    shutil.copytree(DV_DIR if kind == "dv_replace" else MOR_DIR, root)
    res = _commit_kinds()[kind](spark, root)
    meta = parse_metadata(res["metadata_path"])
    rows = manifest_files_at(meta, res["snapshot_id"], root)
    for row in rows:
        with open(row["local_path"], "rb") as f:
            entries = list(AvroContainerFile(f.read()))
        for status, label in ((1, "added"), (0, "existing"), (2, "deleted")):
            hit = [e["data_file"]["record_count"] for e in entries if e["status"] == status]
            assert row[f"{label}_files_count"] == len(hit), (row["manifest_path"], label)
            assert row[f"{label}_rows_count"] == sum(hit), (row["manifest_path"], label)

    def live(content, what):
        return sum(
            r[f"added_{what}_count"] + r[f"existing_{what}_count"] for r in rows if r["content"] == content
        )

    summary = snapshot_by_id(meta, res["snapshot_id"])["summary"]
    assert summary["total-records"] == str(live(0, "rows"))
    assert summary["total-data-files"] == str(live(0, "files"))
    assert summary["total-delete-files"] == str(live(1, "files"))


def test_commit_protocol_has_one_home():
    """The manifest list and the next metadata.json are written only
    by iceberg/commit.py — a new commit kind calls its helpers
    instead of growing another copy of the commit tail."""
    import iceberg_tools_spark

    pkg = os.path.dirname(iceberg_tools_spark.__file__)
    home = os.path.join(pkg, "iceberg", "commit.py")
    offenders = []
    for dirpath, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == home:
                continue
            with open(path) as f:
                text = f.read()
            for needle in ("write_container(MANIFEST_LIST_SCHEMA", "_next_metadata_path("):
                if needle in text:
                    offenders.append((os.path.relpath(path, pkg), needle))
    assert offenders == []
