"""Dump everything each commit kind writes, to compare two checkouts.

Drives every snapshot-producing commit kind (append, staged append,
positional and equality delete, row delta, deletion-vector replace,
binpack, rewrite_data_files, rewrite_position_deletes, the sorted
rewrite) and the metadata-only commits on scratch copies of the repo
fixtures, then prints one JSON document: per scenario, the new
metadata.json, its manifest-list rows and every listed manifest's
entries (bytes as hex, scratch paths as ``<root>``).

Usage, once per checkout, then diff the two outputs:

    python scripts/commit_same_output.py > out.json

The engine is imported from the checkout holding this script.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from iceberg_tools_spark.avro.reader import AvroContainerFile  # noqa: E402
from iceberg_tools_spark.iceberg import commit  # noqa: E402
from iceberg_tools_spark.iceberg.snapshots import _local, read_manifest_list  # noqa: E402

FIXTURES = os.path.join(REPO, "tests", "fixtures")


def _copy(scratch: str, name: str, fixture: str) -> str:
    root = os.path.join(scratch, name)
    shutil.copytree(os.path.join(FIXTURES, fixture), root)
    return root


def _write_rows(root: str, rel: str, ids: list[int], category: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()),
                  "category": pa.array([category] * len(ids), pa.string())}),
        path,
    )
    return rel


def _new_file(root: str, name: str = "G") -> dict:
    rel = _write_rows(root, f"data/category=w/id_trunc=400/{name}.parquet", list(range(400, 407)), "w")
    return {"path": rel, "partition": {"category": "w", "id_trunc": 400}}


def _pos_delete(root: str) -> dict:
    rel = commit.write_position_deletes(
        root, "data/deletes/pd_x.parquet",
        [("data/category=y/B.parquet", 0), ("data/category=y/B.parquet", 1)],
    )
    return {"path": rel, "partition": {"category": "y"}, "content": 1, "spec_id": 0}


def scenarios(spark, scratch: str) -> dict[str, tuple[str, str]]:
    """name → (table root, final metadata path)."""
    from iceberg_tools_spark.iceberg.evolution import evolve_partition_spec
    from iceberg_tools_spark.iceberg.rewrite_data import binpack_rewrite, rewrite_data_files
    from iceberg_tools_spark.iceberg.rewrite_deletes import rewrite_position_deletes
    from iceberg_tools_spark.iceberg.sortorder import commit_sort_order, rewrite_sorted

    out: dict[str, tuple[str, str]] = {}

    def mor(name: str) -> tuple[str, str]:
        root = _copy(scratch, name, "mor")
        return root, os.path.join(root, "v2.metadata.json")

    root, mp = mor("append")
    out["append"] = (root, commit.append_snapshot(mp, [_new_file(root)])["metadata_path"])

    root, mp = mor("staged_publish")
    staged = commit.append_snapshot(mp, [_new_file(root)], stage_ref="wap-1")
    out["staged_append"] = (root, staged["metadata_path"])
    out["publish"] = (root, commit.publish_snapshot(staged["metadata_path"], "wap-1")["metadata_path"])

    root, mp = mor("delete_pos")
    out["delete_pos"] = (root, commit.commit_delete_snapshot(mp, [_pos_delete(root)])["metadata_path"])

    root, mp = mor("delete_eq")
    rel = commit.write_equality_deletes(root, "data/deletes/ed_x.parquet", [{"id": 105}])
    out["delete_eq"] = (root, commit.commit_delete_snapshot(
        mp, [{"path": rel, "partition": {"category": "y"}, "content": 2, "equality_ids": [1]}],
        spec_id=0,
    )["metadata_path"])

    root, mp = mor("row_delta")
    out["row_delta"] = (root, commit.commit_row_delta(
        mp, [_new_file(root)], [_pos_delete(root)]
    )["metadata_path"])

    root = _copy(scratch, "dv_replace", "dv")
    out["dv_replace"] = (root, commit.commit_delete_snapshot(
        os.path.join(root, "v3.metadata.json"),
        [{"path": "data/deletes/dv2.puffin", "partition": {"category": "x"}, "content": 1,
          "file_format": "PUFFIN", "record_count": 12, "file_size_in_bytes": 99,
          "referenced_data_file": "file:///tmp/dv_table/data/category=x/A.parquet",
          "content_offset": 4, "content_size_in_bytes": 40}],
        spec_id=0, replace_dv_refs={"file:///tmp/dv_table/data/category=x/A.parquet"},
    )["metadata_path"])

    root, mp = mor("rewrite_data_files")
    out["rewrite_data_files"] = (root, rewrite_data_files(spark, mp)["metadata_path"])

    root, mp = mor("rewrite_position_deletes")
    r1 = rewrite_data_files(spark, mp, target_rels=["data/category=x/A.parquet"])
    out["rewrite_position_deletes"] = (root, rewrite_position_deletes(spark, r1["metadata_path"])["metadata_path"])

    # metadata-log retention on a rewrite: the one intended difference
    root, mp = mor("rewrite_position_deletes_retention")
    mp = commit.update_table_properties(mp, set_props={
        "write.metadata.previous-versions-max": "1",
        "write.metadata.delete-after-commit.enabled": "true",
    })["metadata_path"]
    out["rewrite_position_deletes_retention"] = (
        root, rewrite_position_deletes(spark, mp)["metadata_path"])

    root, mp = mor("rewrite_sorted")
    mp = commit_sort_order(mp, [("id", "asc")])["metadata_path"]
    out["commit_sort_order"] = (root, mp)
    out["rewrite_sorted"] = (root, rewrite_sorted(
        spark, mp, split_ranges=[(0, 149), (150, 400)]
    )["metadata_path"])

    root = os.path.join(scratch, "binpack")
    mp = commit.create_table(root, [("id", "long"), ("cat", "string")],
                             partition_by=[("cat", "identity", "cat")])
    for i in range(3):
        rel = _write_rows(root, f"data/small-{i}.parquet", list(range(10 * i, 10 * i + 10)), "a")
        mp = commit.append_snapshot(mp, [{"path": rel, "partition": {"cat": "a"}}])["metadata_path"]
    out["binpack"] = (root, binpack_rewrite(spark, mp, target_size_bytes=1 << 20)["metadata_path"])

    root, mp = mor("metadata_only")
    for name, step in (
        ("schema_update", lambda p: commit.commit_schema_update(p, [("note", "string")])),
        ("set_ref", lambda p: commit.set_ref(p, "v1", snapshot_id=2002)),
        ("rollback", lambda p: commit.rollback_to(p, 2002)),
        ("properties", lambda p: commit.update_table_properties(p, set_props={"k": "v"})),
        ("spec_evolution", lambda p: evolve_partition_spec(p, add=[("id_b", "bucket[4]", "id")])),
    ):
        mp = step(mp)["metadata_path"]
        out[name] = (root, mp)

    root = _copy(scratch, "expire", "multi_snapshot")
    out["expire"] = (root, commit.expire_snapshots(
        os.path.join(root, "v2.metadata.json"), keep_last=2)["metadata_path"])
    return out


def _plain(v):
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def dump(root: str, metadata_path: str) -> dict:
    with open(metadata_path) as f:
        raw = json.load(f)
    base_dir = os.path.dirname(metadata_path)
    loc = raw.get("location")
    snap = next((s for s in raw.get("snapshots", [])
                 if s["snapshot-id"] == raw.get("current-snapshot-id")), None)
    staged = [r["snapshot-id"] for r in raw.get("refs", {}).values() if r.get("type") == "branch"]
    newest = max(raw.get("snapshots", []), key=lambda s: s["sequence-number"], default=None)
    snap = newest if newest and newest["snapshot-id"] in staged else snap
    out = {"metadata_file": os.path.basename(metadata_path), "metadata": raw}
    if snap is not None:
        rows = read_manifest_list(_local(snap["manifest-list"], base_dir, loc))
        out["manifest_list"] = rows
        out["manifests"] = {}
        for r in rows:
            with open(_local(r["manifest_path"], base_dir, loc), "rb") as f:
                out["manifests"][r["manifest_path"]] = list(AvroContainerFile(f.read()))
    out["metadata_files"] = sorted(
        n for n in os.listdir(os.path.dirname(metadata_path)) if n.endswith(".json")
    )
    text = json.dumps(_plain(out), sort_keys=True, indent=1)
    return json.loads(text.replace(root, "<root>"))


def main() -> None:
    from iceberg_tools_spark.session import get_spark

    spark = get_spark("commit_same_output", cpus=2)
    scratch = tempfile.mkdtemp(prefix="commit_same_output_")
    try:
        result = {name: dump(root, mp) for name, (root, mp) in scenarios(spark, scratch).items()}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    json.dump(result, sys.stdout, sort_keys=True, indent=1)


if __name__ == "__main__":
    main()
