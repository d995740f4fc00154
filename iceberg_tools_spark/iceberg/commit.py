"""Append-snapshot commits: the metadata WRITE path.

Everything else in `iceberg/` reads, plans over, or maintains a
table's metadata; this module closes the loop by COMMITTING — given
physical data files, it writes a new manifest (v2 ``manifest_entry``
Avro, entry sequence numbers left null so readers exercise real v2
inheritance), a new manifest list (parent's manifests carried
forward verbatim + the new one with partition summaries), and a new
``metadata.json`` (snapshot, snapshot-log, metadata-log, sequence
number and current-snapshot bumps) — the same layered commit an
Iceberg ``AppendFiles`` operation produces
(reference schema lineage: ManifestFileReadTool.java:170-197 reads
exactly the record shapes written here).

Commit protocol. Every snapshot-producing path — append, overwrite,
delete and row delta here, the delete-folding and binpack rewrites
(``rewrite_data``), position-delete compaction (``rewrite_deletes``)
and the sorted rewrite (``sortorder``) — runs the same four steps
through the same helpers:

1. manifests: :func:`_write_manifest` writes one manifest Avro and
   returns its manifest-list row, with counts, minimum sequence
   number, partition summaries and schema flags derived from the
   entries; :func:`_carry_forward` rebuilds the parent manifests a
   rewrite touches (survivors kept as EXISTING) through it;
2. manifest list: :func:`_commit_snapshot` writes
   ``snap-<id>.avro`` over the rows;
3. snapshot + logs: :func:`_commit_snapshot` moves the sequence
   number, timestamp and current snapshot (or staging ref), appends
   the snapshot with its summary totals plus the snapshot-log and
   metadata-log entries, and applies metadata-log retention;
4. metadata.json: :func:`_write_metadata` writes the next version to
   a temp file and renames it into place — metadata-only commits
   (schema, refs, rollback, publish, expiry, properties, sort orders,
   spec evolution, REST) write through it too.

Deterministic by construction: no wall clock (timestamp defaults to
parent's + 1 s), no randomness (Avro sync markers are md5 of the
schema), so identical inputs produce byte-identical metadata —
pinned by a determinism test.

Scale note: a commit is KB-scale metadata work regardless of table
size — the data files were already written by executors; this is
the driver-side transaction tip. Parquet footers supply record
counts when the caller doesn't (one footer read per appended file).
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Callable

from ..avro.reader import AvroContainerFile
from ..avro.writer import write_container
from .conversions import to_bytes
from .metadata import TableMetadata, parse_metadata
from .snapshots import _local, manifest_files_at, read_manifest_list

EXISTING, ADDED, DELETED = 0, 1, 2  # manifest entry status

# Iceberg type → (avro primitive for partition values). Dates and
# timestamps store as their spec physical forms: int days since
# epoch, long micros since epoch (same representation the manifest
# bound codec uses).
_AVRO_OF_TYPE = {
    "long": "long",
    "int": "int",
    "string": "string",
    "date": "int",
    "timestamp": "long",
    "timestamptz": "long",
    # v3 nanosecond precision: raw long nanos since epoch
    "timestamp_ns": "long",
    "timestamptz_ns": "long",
}


def _kv(n: str, vtype: str) -> dict:
    return {
        "type": "record",
        "name": n,
        "fields": [
            {"name": "key", "type": "int", "field-id": 0},
            {"name": "value", "type": vtype, "field-id": 0},
        ],
    }


def manifest_entry_schema(
    partition_fields: list[tuple[str, str]],
    suffix: str,
    *,
    v3: bool = False,
    lineage: bool = False,
) -> dict:
    """v2 ``manifest_entry`` record (the shape `mor_entries_at` and
    the reference's manifest reader consume). ``v3=True`` appends the
    v3 deletion-vector locator fields (``referenced_data_file`` +
    ``content_offset``/``content_size_in_bytes``); ``lineage=True``
    appends the v3 row-lineage ``first_row_id`` — both opt-in so v2
    manifests stay byte-identical."""
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {"name": "sequence_number", "type": ["null", "long"], "default": None},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": f"r2_{suffix}",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": f"r102_{suffix}",
                                "fields": [
                                    {"name": fn, "type": ["null", ft]}
                                    for fn, ft in partition_fields
                                ],
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            "name": "lower_bounds",
                            "type": ["null", {"type": "array", "items": _kv(f"k126_{suffix}", "bytes")}],
                            "default": None,
                        },
                        {
                            "name": "upper_bounds",
                            "type": ["null", {"type": "array", "items": _kv(f"k129_{suffix}", "bytes")}],
                            "default": None,
                        },
                        {
                            "name": "equality_ids",
                            "type": ["null", {"type": "array", "items": "int"}],
                            "default": None,
                        },
                        {"name": "sort_order_id", "type": ["null", "int"], "default": None},
                        *(
                            [
                                {"name": "referenced_data_file", "type": ["null", "string"], "default": None},
                                {"name": "content_offset", "type": ["null", "long"], "default": None},
                                {"name": "content_size_in_bytes", "type": ["null", "long"], "default": None},
                            ]
                            if v3
                            else []
                        ),
                        *(
                            [{"name": "first_row_id", "type": ["null", "long"], "default": None}]
                            if lineage
                            else []
                        ),
                    ],
                },
            },
        ],
    }


MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
        {
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {"name": "contains_null", "type": "boolean"},
                            {"name": "lower_bound", "type": ["null", "bytes"], "default": None},
                            {"name": "upper_bound", "type": ["null", "bytes"], "default": None},
                        ],
                    },
                },
            ],
            "default": None,
        },
    ],
}


def partition_summaries(
    entries: list[dict[str, Any]], part_fields: list[tuple[str, str]]
) -> list[dict[str, Any]] | None:
    """Manifest-list ``partitions`` field summaries over a
    manifest's entries: per spec field, contains_null + single-value
    encoded lower/upper bounds — the level-1 pruning input
    `plan_scan` consults before ever opening the manifest. Shared by
    the commit path and every manifest REBUILD (rewrites must not
    degrade manifest-level pruning to conservative)."""
    if not part_fields:
        return None
    avro_of = dict(part_fields)
    out = []
    for fn, _ in part_fields:
        vals = [
            e["data_file"]["partition"][fn]
            for e in entries
            if e["data_file"]["partition"].get(fn) is not None
        ]
        # bounds over NON-NULL values only; an all-null field keeps
        # null bounds (the summary schema allows it, and min/max
        # over a null mix would otherwise TypeError)
        out.append(
            {
                "contains_null": any(
                    e["data_file"]["partition"].get(fn) is None for e in entries
                ),
                "lower_bound": to_bytes(avro_of[fn], min(vals)) if vals else None,
                "upper_bound": to_bytes(avro_of[fn], max(vals)) if vals else None,
            }
        )
    return out


def _spec_partition_fields(meta: TableMetadata, spec_id: int) -> list[tuple[str, str]]:
    """(partition field name, avro type) for a spec, derived from
    the transform's result type over the source column."""
    raw = meta.raw
    schema = next(
        s for s in raw.get("schemas", [raw.get("schema", {})])
        if s.get("schema-id", 0) == raw.get("current-schema-id", 0)
    )
    col_type = {f["id"]: f["type"] for f in schema.get("fields", [])}
    spec = next(
        s for s in raw.get("partition-specs", []) if s.get("spec-id", 0) == spec_id
    )
    from .transforms import transform_result_type

    out = []
    for f in spec.get("fields", []):
        result = transform_result_type(
            f.get("transform", "identity"), col_type[f["source-id"]]
        )
        if result not in _AVRO_OF_TYPE:
            raise ValueError(f"unsupported partition value type {result!r}")
        out.append((f["name"], _AVRO_OF_TYPE[result]))
    return out


def _summary_totals(rows: list[dict]) -> dict[str, str]:
    """Iceberg snapshot-summary totals derived from the manifest
    list being committed: live (ADDED+EXISTING) rows and file
    counts per content kind. Real commits carry these so readers
    can answer "how big is this table" without opening manifests."""
    data = [r for r in rows if r.get("content", 0) == 0]
    dels = [r for r in rows if r.get("content", 0) == 1]
    return {
        "total-records": str(
            sum(r["added_rows_count"] + r["existing_rows_count"] for r in data)
        ),
        "total-data-files": str(
            sum(r["added_files_count"] + r["existing_files_count"] for r in data)
        ),
        "total-delete-files": str(
            sum(r["added_files_count"] + r["existing_files_count"] for r in dels)
        ),
    }


def _canonical_metadata_uri(metadata_path: str, table_root: str, loc: str | None) -> str:
    """Canonical URI of a metadata file for the metadata-log: the
    table location + the file's ACTUAL root-relative path (the
    previous form hardcoded 'metadata/<basename>', which is wrong
    for layouts keeping metadata.json at the table root)."""
    rel = os.path.relpath(metadata_path, table_root).replace(os.sep, "/")
    return f"{loc}/{rel}" if loc else metadata_path


def _next_metadata_path(metadata_path: str, snapshot_id: int) -> str:
    d, base = os.path.dirname(metadata_path), os.path.basename(metadata_path)
    m = re.fullmatch(r"v(\d+)\.metadata\.json(\.gz)?", base)
    if m:
        return os.path.join(d, f"v{int(m.group(1)) + 1}.metadata.json")
    stem = base.removesuffix(".metadata.json").removesuffix(".json")
    return os.path.join(d, f"{stem}.commit-{snapshot_id}.metadata.json")


def _write_metadata(metadata_path: str, raw: dict[str, Any], snapshot_id: int = 0) -> str:
    """Write ``raw`` as the version after ``metadata_path`` and return
    its path. The JSON goes to ``<next>.tmp`` first and is renamed
    into place, so a failed write leaves no truncated version for
    the catalog to pick as newest."""
    new_path = _next_metadata_path(metadata_path, snapshot_id)
    tmp = new_path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(raw, f, indent=2)
        os.replace(tmp, new_path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return new_path


def _table_dirs(raw: dict[str, Any], base_dir: str) -> tuple[str, str, str]:
    """(location, table root, metadata dir) of a table whose
    metadata.json sits in ``base_dir`` — ``<root>/metadata/`` or
    the root itself."""
    table_root = (
        base_dir
        if os.path.isdir(os.path.join(base_dir, "metadata"))
        else os.path.dirname(base_dir)
    )
    loc = raw.get("location") or f"file://{os.path.dirname(base_dir)}"
    return loc, table_root, os.path.join(table_root, "metadata")


def _next_ids(
    raw: dict[str, Any], snapshot_id: int | None, timestamp_ms: int | None
) -> tuple[int, int, int]:
    """(snapshot id, sequence number, timestamp) of the next
    snapshot. Caller-given values win; the defaults are the highest
    snapshot id + 1 and the last update + 1 s (no wall clock)."""
    if snapshot_id is None:
        snapshot_id = max((s["snapshot-id"] for s in raw.get("snapshots", [])), default=0) + 1
    if timestamp_ms is None:
        timestamp_ms = raw.get("last-updated-ms", 0) + 1000
    return snapshot_id, raw.get("last-sequence-number", 0) + 1, timestamp_ms


def _assign_row_ids(entries: list[dict[str, Any]], next_row_id: int) -> int:
    """v3 row lineage: every data entry without a ``first_row_id``
    gets one from the table's ``next-row-id`` counter (its rows'
    ``_row_id`` derive as first_row_id + position). Caller-assigned
    ids — a lineage-preserving replication carrying a foreign
    table's row ids — only push the counter past them. Returns the
    advanced counter."""
    for e in entries:
        df = e["data_file"]
        n = int(df.get("record_count") or 0)
        if df.get("first_row_id") is None:
            df["first_row_id"] = next_row_id
            next_row_id += n
        else:
            next_row_id = max(next_row_id, int(df["first_row_id"]) + n)
    return next_row_id


def _write_manifest(
    meta: TableMetadata,
    meta_dir: str,
    loc: str,
    name: str,
    entries: list[dict[str, Any]],
    *,
    spec_id: int,
    content: int,
    sequence_number: int,
    added_snapshot_id: int,
    suffix: str,
) -> dict[str, Any]:
    """Write one manifest as ``<meta_dir>/<name>`` and return its
    manifest-list row. What the row says about the entries is
    derived from them: file and row counts per entry status, the
    minimum sequence number of the live entries (a null entry
    sequence inherits ``sequence_number``) and the partition
    summaries under ``spec_id``. The entry schema carries the v3
    deletion-vector fields when an entry references a data file, and
    row-lineage ``first_row_id`` for the data manifests of a v3
    table. ``suffix`` keeps the schema's record names unique."""
    part_fields = _spec_partition_fields(meta, spec_id)
    v3 = any(e["data_file"].get("referenced_data_file") is not None for e in entries)
    lineage = content == 0 and int(meta.raw.get("format-version", 2)) >= 3
    blob = write_container(
        manifest_entry_schema(part_fields, suffix, v3=v3, lineage=lineage), entries
    )
    with open(os.path.join(meta_dir, name), "wb") as f:
        f.write(blob)
    row = {
        "manifest_path": f"{loc}/metadata/{name}",
        "manifest_length": len(blob),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": sequence_number,
        "min_sequence_number": min(
            (
                sequence_number if e["sequence_number"] is None else e["sequence_number"]
                for e in entries
                if e["status"] != DELETED
            ),
            default=sequence_number,
        ),
        "added_snapshot_id": added_snapshot_id,
        "partitions": partition_summaries(entries, part_fields),
    }
    for status, label in ((ADDED, "added"), (EXISTING, "existing"), (DELETED, "deleted")):
        counts = [e["data_file"]["record_count"] for e in entries if e["status"] == status]
        row[f"{label}_files_count"] = len(counts)
        row[f"{label}_rows_count"] = sum(counts)
    return row


def _carry_forward(
    meta: TableMetadata,
    base_dir: str,
    snapshot_id: int,
    *,
    content: int,
    drop: Callable[[dict[str, Any]], bool],
    tag: str,
) -> list[dict[str, Any]]:
    """The current snapshot's manifest-list rows without the
    ``content``-kind entries whose data file ``drop`` selects.
    Manifests of the other kind, and those holding nothing to drop,
    carry forward verbatim (parent row re-used, zero Avro churn). A
    touched manifest is rebuilt as ``<stem>-<tag><snapshot_id>.avro``
    with its live survivors re-statused EXISTING, their inherited
    sequence number and snapshot id made explicit (each against its
    own partition spec); one with no survivors is dropped."""
    parent_id = meta.raw["current-snapshot-id"]
    loc, _, meta_dir = _table_dirs(meta.raw, base_dir)
    rows: list[dict[str, Any]] = []
    for mrow in manifest_files_at(meta, parent_id, base_dir):
        local = mrow.pop("local_path")
        if mrow.get("content", 0) != content:
            rows.append(mrow)
            continue
        with open(local, "rb") as f:
            records = list(AvroContainerFile(f.read()))
        if not any(drop(r["data_file"]) for r in records):
            rows.append(mrow)
            continue
        mseq = mrow.get("sequence_number", 0)
        msid = mrow.get("added_snapshot_id", parent_id)
        kept = [
            {
                "status": EXISTING,
                "snapshot_id": msid if r.get("snapshot_id") is None else r["snapshot_id"],
                "sequence_number": mseq if r.get("sequence_number") is None else r["sequence_number"],
                "data_file": r["data_file"],
            }
            for r in records
            if r["status"] != DELETED and not drop(r["data_file"])
        ]
        if not kept:
            continue
        stem = os.path.basename(local).rsplit(".", 1)[0]
        rows.append(
            _write_manifest(
                meta, meta_dir, loc, f"{stem}-{tag}{snapshot_id}.avro", kept,
                spec_id=mrow.get("partition_spec_id", 0), content=content,
                sequence_number=mseq, added_snapshot_id=msid,
                suffix=f"{tag}{snapshot_id}_{stem}",
            )
        )
    return rows


def _commit_snapshot(
    metadata_path: str,
    raw: dict[str, Any],
    rows: list[dict[str, Any]],
    *,
    base_dir: str,
    snapshot_id: int,
    sequence_number: int,
    timestamp_ms: int,
    summary: dict[str, str],
    extra_summary: dict[str, str] | None = None,
    stage_ref: str | None = None,
    first_row_id: int | None = None,
) -> dict[str, Any]:
    """Commit ``rows`` as the manifest list of a new snapshot whose
    parent is the current one: write ``snap-<id>.avro``, move the
    sequence number, timestamp and current snapshot (or, for
    write-audit-publish staging, only the ``stage_ref`` branch —
    main does NOT move until ``publish_snapshot`` fast-forwards it),
    append the snapshot (summary totals derived from ``rows``) and
    its snapshot-log and metadata-log entries, apply metadata-log
    retention and write the next metadata.json. ``raw`` is the
    caller's deep copy of the current metadata."""
    loc, table_root, meta_dir = _table_dirs(raw, base_dir)
    list_path = os.path.join(meta_dir, f"snap-{snapshot_id}.avro")
    with open(list_path, "wb") as f:
        f.write(write_container(MANIFEST_LIST_SCHEMA, rows))

    parent_id = raw.get("current-snapshot-id")
    raw["last-sequence-number"] = sequence_number
    raw["last-updated-ms"] = timestamp_ms
    if stage_ref is None:
        raw["current-snapshot-id"] = snapshot_id
    else:
        raw.setdefault("refs", {})[stage_ref] = {"snapshot-id": snapshot_id, "type": "branch"}
    raw.setdefault("snapshots", []).append(
        {
            "sequence-number": sequence_number,
            "snapshot-id": snapshot_id,
            **({"parent-snapshot-id": parent_id} if parent_id is not None else {}),
            **({"first-row-id": first_row_id} if first_row_id is not None else {}),
            "timestamp-ms": timestamp_ms,
            "summary": {**summary, **_summary_totals(rows), **(extra_summary or {})},
            "manifest-list": f"{loc}/metadata/snap-{snapshot_id}.avro",
            "schema-id": raw.get("current-schema-id", 0),
        }
    )
    if stage_ref is None:
        raw.setdefault("snapshot-log", []).append(
            {"timestamp-ms": timestamp_ms, "snapshot-id": snapshot_id}
        )
    raw.setdefault("metadata-log", []).append(
        {"timestamp-ms": timestamp_ms,
         "metadata-file": _canonical_metadata_uri(metadata_path, table_root, loc)}
    )
    # spec metadata-log retention: `write.metadata.previous-versions-max`
    # caps the log on every commit; `write.metadata.delete-after-
    # commit.enabled` also deletes the dropped vN.metadata.json files
    props = raw.get("properties", {})
    vmax = int(props.get("write.metadata.previous-versions-max", 0) or 0)
    dropped_meta = raw["metadata-log"][:-vmax] if vmax > 0 else []
    if dropped_meta:
        raw["metadata-log"] = raw["metadata-log"][-vmax:]
    new_path = _write_metadata(metadata_path, raw, snapshot_id)
    if props.get("write.metadata.delete-after-commit.enabled") == "true":
        for e in dropped_meta:
            p = _local(e["metadata-file"], base_dir, loc)
            if os.path.exists(p) and os.path.abspath(p) != os.path.abspath(new_path):
                os.remove(p)
    return {
        "metadata_path": new_path,
        "snapshot_id": snapshot_id,
        "sequence_number": sequence_number,
        "manifest_list_path": list_path,
    }


def append_snapshot(
    metadata_path: str,
    data_files: list[dict[str, Any]],
    *,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    spec_id: int | None = None,
    stage_ref: str | None = None,
    extra_summary: dict[str, str] | None = None,
) -> dict[str, Any]:
    """Commit an append snapshot; returns the new commit's paths/ids.

    ``data_files``: one dict per physical file —
    ``{"path": <local path under base_dir>, "partition": {field:
    value}, "record_count"?: int, "file_size_in_bytes"?: int}``;
    counts/sizes are read from the parquet footer when omitted.

    The new manifest's entries carry ``sequence_number: null`` — the
    v2 inheritance rule (ADDED inherits the manifest's sequence
    number) is exercised by every subsequent read, not worked
    around.
    """
    return _commit_files(
        metadata_path,
        data_files,
        content=0,
        operation="append",
        base_dir=base_dir,
        snapshot_id=snapshot_id,
        timestamp_ms=timestamp_ms,
        spec_id=spec_id,
        stage_ref=stage_ref,
        extra_summary=extra_summary,
    )


def commit_row_delta(
    metadata_path: str,
    new_data_files: list[dict[str, Any]],
    delete_files: list[dict[str, Any]],
    *,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    spec_id: int | None = None,
    replace_dv_refs: set[str] | None = None,
    extra_summary: dict[str, str] | None = None,
) -> dict[str, Any]:
    """Commit a ROW DELTA — new data files and delete files in ONE
    snapshot (Iceberg's ``RowDelta`` operation, the shape UPDATE /
    MERGE writes): the deletes kill old row versions (they gate on
    ``data_seq <= seq`` so the new files, written AT seq, are never
    affected by position deletes targeting old paths), the data
    files carry the new versions. One manifest per (content, spec)
    group, everything at the same sequence number."""
    if not new_data_files or not delete_files:
        raise ValueError(
            "row delta needs both new data files and delete files "
            "(use append_snapshot / commit_delete_snapshot otherwise)"
        )
    for df in new_data_files:
        if df.get("content", 0) != 0:
            raise ValueError("new_data_files entries must have content 0")
    for df in delete_files:
        if df.get("content") not in (1, 2):
            raise ValueError("delete_files entries need content 1 (positional) or 2 (equality)")
    return _commit_files(
        metadata_path,
        [*new_data_files, *delete_files],
        content=None,
        operation="overwrite",
        base_dir=base_dir,
        snapshot_id=snapshot_id,
        timestamp_ms=timestamp_ms,
        spec_id=spec_id,
        replace_dv_refs=replace_dv_refs,
        extra_summary=extra_summary,
    )


def commit_delete_snapshot(
    metadata_path: str,
    delete_files: list[dict[str, Any]],
    *,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    spec_id: int | None = None,
    replace_dv_refs: set[str] | None = None,
    extra_summary: dict[str, str] | None = None,
) -> dict[str, Any]:
    """Commit a DELETE snapshot carrying v2 delete files (the MoR
    write half): a content=1 manifest whose entries reference
    positional (``content: 1``) or equality (``content: 2``, with
    ``equality_ids``) delete parquet files. The new snapshot's
    sequence number is what gates application on read: positional
    deletes hit data files with ``data_seq <= seq``, equality
    deletes with ``data_seq < seq`` — so the committed deletes
    affect everything at or before this commit and nothing after,
    with zero data-file rewrites (that folding is
    ``delete_compaction_plan``'s job, later).

    ``delete_files``: ``{"path": ..., "partition": {...},
    "content": 1|2, "equality_ids"?: [field ids], "record_count"?,
    "file_size_in_bytes"?}`` — plus, for v3 deletion vectors,
    ``file_format: "PUFFIN"`` with ``referenced_data_file`` /
    ``content_offset`` / ``content_size_in_bytes`` (and
    ``record_count`` = the vector's cardinality).

    ``replace_dv_refs``: data-file paths whose PREVIOUS deletion
    vectors this commit supersedes (the v3 "one DV per data file"
    rule: a new DV must carry the union of positions and retire the
    old blob). Carried-forward delete manifests holding a superseded
    DV are rewritten with that entry marked DELETED; the original
    manifest files stay untouched for older snapshots' lists.
    """
    for df in delete_files:
        if df.get("content") not in (1, 2):
            raise ValueError("delete_files entries need content 1 (positional) or 2 (equality)")
        if df["content"] == 2 and not df.get("equality_ids"):
            raise ValueError("equality delete files must carry equality_ids")
    return _commit_files(
        metadata_path,
        delete_files,
        content=1,  # manifest-level: delete manifest
        operation="delete",
        base_dir=base_dir,
        snapshot_id=snapshot_id,
        timestamp_ms=timestamp_ms,
        spec_id=spec_id,
        replace_dv_refs=replace_dv_refs,
        extra_summary=extra_summary,
    )


def _retire_replaced_dvs(
    rows: list[dict[str, Any]],
    refs: set[str],
    meta: TableMetadata,
    base_dir: str,
    snapshot_id: int,
) -> None:
    """v3 deletion-vector replacement: any carried-forward delete
    manifest holding a live DV entry whose ``referenced_data_file``
    is in ``refs`` is rewritten (to a NEW manifest file — the
    original stays for older snapshots' lists) with that entry
    re-statused DELETED, its sequence number made explicit (a
    tombstone no longer inherits), and its list row replaced in
    place. Raises if a claimed-replaced ref has no live DV in any
    carried manifest (the caller's replacement set would silently
    diverge from table state)."""
    loc, _, meta_dir = _table_dirs(meta.raw, base_dir)
    found: set[str] = set()
    for i, row in enumerate(rows):
        if row.get("content", 0) != 1:
            continue
        with open(_local(row["manifest_path"], base_dir, loc), "rb") as f:
            records = list(AvroContainerFile(f.read()))
        hits = [
            r
            for r in records
            if r["status"] != DELETED
            and r["data_file"].get("referenced_data_file") in refs
        ]
        if not hits:
            continue
        for r in hits:
            r["status"] = DELETED  # tombstone
            if r.get("sequence_number") is None:
                r["sequence_number"] = row["sequence_number"]
            found.add(r["data_file"]["referenced_data_file"])
        rows[i] = _write_manifest(
            meta, meta_dir, loc, f"manifest-{snapshot_id}-retire{i}.avro", records,
            spec_id=row.get("partition_spec_id", 0), content=1,
            sequence_number=row["sequence_number"],
            added_snapshot_id=row["added_snapshot_id"],
            suffix=f"ret{snapshot_id}i{i}",
        )
    missing = refs - found
    if missing:
        raise ValueError(
            f"replace_dv_refs claims superseded deletion vectors for "
            f"{sorted(missing)} but no carried delete manifest holds one"
        )


def _commit_files(
    metadata_path: str,
    data_files: list[dict[str, Any]],
    *,
    content: int | None,
    operation: str,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    spec_id: int | None = None,
    stage_ref: str | None = None,
    replace_dv_refs: set[str] | None = None,
    extra_summary: dict[str, str] | None = None,
) -> dict[str, Any]:
    if not data_files:
        raise ValueError(f"{operation} commit with no data files (empty commits carry no manifest)")
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))  # deep copy
    loc, table_root, meta_dir = _table_dirs(raw, base_dir)
    snapshot_id, seq, timestamp_ms = _next_ids(raw, snapshot_id, timestamp_ms)
    if spec_id is None:
        spec_id = raw.get("default-spec-id", 0)

    # group files by (manifest content, partition spec) — a manifest
    # carries exactly ONE spec and ONE content kind, so a commit
    # whose files span specs (DELETE WHERE victims across a spec
    # evolution) or mix data + delete files (UPDATE WHERE row delta)
    # writes one manifest per group inside the SAME snapshot,
    # exactly like a real Iceberg commit. `content` pins the
    # expected file kind (0=append, 1=delete commit); None allows a
    # mixed row-delta commit.
    by_group: dict[tuple[int, int], list[dict[str, Any]]] = {}
    for df in data_files:
        fc = int(df.get("content", 0))
        if content == 0 and fc != 0:
            raise ValueError("append commit cannot carry delete files")
        if content == 1 and fc not in (1, 2):
            raise ValueError("delete commit files need content 1 or 2")
        mc = 0 if fc == 0 else 1
        by_group.setdefault((mc, int(df.get("spec_id", spec_id))), []).append(df)

    def _entry(df: dict[str, Any], want_fields: set[str], gspec: int) -> dict[str, Any]:
        part = dict(df["partition"])
        if set(part) != want_fields:
            raise ValueError(
                f"partition {sorted(part)} does not match spec {gspec} "
                f"fields {sorted(want_fields)}"
            )
        local = df["path"] if os.path.isabs(df["path"]) else os.path.join(table_root, df["path"])
        rel = os.path.relpath(local, table_root).replace(os.sep, "/")
        file_format = df.get("file_format", "PARQUET")
        record_count = df.get("record_count")
        file_size = df.get("file_size_in_bytes")
        if record_count is None:
            if file_format != "PARQUET":
                raise ValueError(
                    f"{rel}: non-parquet files must declare record_count "
                    "(a deletion vector's is its cardinality)"
                )
            import pyarrow.parquet as pq

            record_count = pq.read_metadata(local).num_rows
        if file_size is None:
            file_size = os.path.getsize(local)
        return {
            "status": ADDED,
            "snapshot_id": snapshot_id,
            "sequence_number": None,  # v2 inheritance
            "data_file": {
                "content": int(df.get("content", 0)),
                "first_row_id": df.get("first_row_id"),
                "file_path": f"{loc}/{rel}",
                "file_format": file_format,
                "partition": part,
                "record_count": record_count,
                "file_size_in_bytes": file_size,
                # optional caller-supplied column stats:
                # [{"key": field_id, "value": bytes}] per the
                # v2 kv shape (sorted rewrites attach these
                # so plan_scan can prune by decoded bounds)
                "lower_bounds": df.get("lower_bounds"),
                "upper_bounds": df.get("upper_bounds"),
                "equality_ids": df.get("equality_ids"),
                "sort_order_id": df.get("sort_order_id"),
                # v3 deletion-vector locator (written when the
                # manifest holds a deletion vector)
                "referenced_data_file": df.get("referenced_data_file"),
                "content_offset": df.get("content_offset"),
                "content_size_in_bytes": df.get("content_size_in_bytes"),
            },
        }

    # ---- parent manifest-list rows carried forward + one new
    # manifest per group. A REPLACE (the sorted rewrite's commit)
    # supersedes every parent manifest: its files replace all live
    # data, and every older delete file is left dangling.
    rows: list[dict] = []
    parent_id = raw.get("current-snapshot-id")
    if parent_id is not None and operation != "replace":
        parent = next(s for s in raw["snapshots"] if s["snapshot-id"] == parent_id)
        rows.extend(read_manifest_list(_local(parent["manifest-list"], base_dir, loc)))
    if replace_dv_refs:
        _retire_replaced_dvs(rows, set(replace_dv_refs), meta, base_dir, snapshot_id)
    # v3 row lineage: ADDED data files draw first_row_ids from the
    # table's next-row-id counter; carried-forward EXISTING entries
    # keep their original assignment
    lineage = int(raw.get("format-version", 2)) >= 3
    first_row_id = next_row_id = int(raw.get("next-row-id", 0))
    man_paths: list[str] = []
    added: list[dict[str, Any]] = []
    for (mc, gspec) in sorted(by_group):
        want_fields = {fn for fn, _ in _spec_partition_fields(meta, gspec)}
        entries = [_entry(df, want_fields, gspec) for df in by_group[(mc, gspec)]]
        if lineage and mc == 0:
            next_row_id = _assign_row_ids(entries, next_row_id)
        man_name = (
            f"manifest-{snapshot_id}.avro"
            if len(by_group) == 1
            else f"manifest-{snapshot_id}-c{mc}s{gspec}.avro"
        )
        rows.append(
            _write_manifest(
                meta, meta_dir, loc, man_name, entries,
                spec_id=gspec, content=mc, sequence_number=seq,
                added_snapshot_id=snapshot_id, suffix=f"c{snapshot_id}m{mc}s{gspec}",
            )
        )
        man_paths.append(os.path.join(meta_dir, man_name))
        added.extend(entries)

    if any(e["data_file"]["referenced_data_file"] is not None for e in added):
        # deletion vectors are v3-only: committing one upgrades the
        # table's format version (the spec's supported v2 -> v3
        # upgrade path) so a spec-compliant reader knows to expect
        # DV manifest fields
        raw["format-version"] = max(int(raw.get("format-version", 2)), 3)
    if next_row_id != first_row_id:
        raw["next-row-id"] = next_row_id

    def _counts(kind: int) -> list[int]:
        return [e["data_file"]["record_count"] for e in added if e["data_file"]["content"] == kind]

    # "added-records" counts DATA rows only (Iceberg SnapshotSummary);
    # delete-file rows go under the added-*-deletes keys
    data, pos, eq = _counts(0), _counts(1), _counts(2)
    summary = {
        "operation": operation,
        **({"added-data-files": str(len(data))} if data else {}),
        **({"added-delete-files": str(len(pos) + len(eq))} if pos or eq else {}),
        **({"added-records": str(sum(data))} if data else {}),
        **({"added-position-deletes": str(sum(pos))} if sum(pos) else {}),
        **({"added-equality-deletes": str(sum(eq))} if sum(eq) else {}),
    }
    res = _commit_snapshot(
        metadata_path, raw, rows,
        base_dir=base_dir, snapshot_id=snapshot_id, sequence_number=seq,
        timestamp_ms=timestamp_ms, summary=summary,
        # caller-supplied summary properties (e.g. the streaming
        # sink's exactly-once batch markers)
        extra_summary=extra_summary,
        stage_ref=stage_ref,
        first_row_id=first_row_id if next_row_id != first_row_id else None,
    )
    return {**res, "manifest_path": man_paths[0], "manifest_paths": man_paths}


# ----------------------------------------------- driver-gate queries
#
# Each gate commits against a scratch COPY of a repo fixture and
# returns the result through the ordinary readers. Scratch tables
# live until process exit (atexit) so the returned frames stay fully
# LAZY — no driver-side materialization anywhere in the package; the
# driver/parity harness collects like for any other query.

_SCRATCH_ROOTS: list[str] = []


def _scratch_table(prefix: str, fixture_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    if not _SCRATCH_ROOTS:
        atexit.register(
            lambda: [shutil.rmtree(d, ignore_errors=True) for d in _SCRATCH_ROOTS]
        )
    scratch = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_ROOTS.append(scratch)
    root = os.path.join(scratch, "t")
    shutil.copytree(fixture_dir, root)
    return root


def commit_append_files(spark, sf_dir):
    """Driver-gate round-trip for the WRITE path: copy the physical
    MoR fixture to a scratch table, write a deterministic new data
    file, COMMIT it with :func:`append_snapshot`, and return the
    new snapshot's file listing through the ordinary time-travel
    reader. The oracle is the expected listing as golden VALUES —
    deterministic because file paths are canonical table URIs and
    the appended parquet's stats are fixed. (``sf_dir`` unused:
    metadata queries run on repo fixtures.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .deletes import MOR_DIR
    from .snapshots import files_at

    root = _scratch_table("commit_gate_", MOR_DIR)
    rel = "data/category=w/id_trunc=400/G.parquet"
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ids = list(range(400, 407))
    pq.write_table(
        pa.table({
            "id": pa.array(ids, pa.int64()),
            "category": pa.array(["w"] * len(ids), pa.string()),
        }),
        path,
    )
    res = append_snapshot(
        os.path.join(root, "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400},
          "record_count": 7, "file_size_in_bytes": 1}],
    )
    return (
        files_at(spark, res["metadata_path"], res["snapshot_id"])
        .select("file_path", "file_format", "record_count", "partition_json")
        .orderBy("file_path")
    )


_CLOC = "file:///tmp/mor_table"

COMMIT_APPEND_SQL = f"""
SELECT file_path, file_format, CAST(record_count AS BIGINT) AS record_count,
       partition_json
FROM (VALUES
  ('{_CLOC}/data/category=w/id_trunc=300/F.parquet', 'PARQUET', 40, '{{"category": "w", "id_trunc": 300}}'),
  ('{_CLOC}/data/category=w/id_trunc=400/G.parquet', 'PARQUET', 7, '{{"category": "w", "id_trunc": 400}}'),
  ('{_CLOC}/data/category=x/A.parquet', 'PARQUET', 100, '{{"category": "x"}}'),
  ('{_CLOC}/data/category=x/C.parquet', 'PARQUET', 100, '{{"category": "x"}}'),
  ('{_CLOC}/data/category=y/B.parquet', 'PARQUET', 50, '{{"category": "y"}}'),
  ('{_CLOC}/data/category=z/D.parquet', 'PARQUET', 50, '{{"category": "z"}}')
) t(file_path, file_format, record_count, partition_json)
ORDER BY file_path
"""


def write_position_deletes(
    table_root: str,
    rel_out: str,
    deletes: list[tuple[str, int]],
) -> str:
    """Write a v2 positional-delete parquet: rows of
    ``(file_path, pos)``, file paths given TABLE-RELATIVE and stored
    canonical (resolved against the table's location by readers).
    Returns the relative path for :func:`commit_delete_snapshot`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta_candidates = [
        f for f in os.listdir(table_root) if f.endswith(".metadata.json")
    ]
    loc = None
    for c in sorted(meta_candidates):
        loc = json.load(open(os.path.join(table_root, c))).get("location")
        if loc:
            break
    if loc is None:
        raise ValueError(f"no *.metadata.json with a location under {table_root}")
    path = os.path.join(table_root, rel_out)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    deletes = sorted(deletes)  # spec: position deletes sort by (file_path, pos)
    pq.write_table(
        pa.table({
            "file_path": pa.array([f"{loc}/{rel}" for rel, _ in deletes], pa.string()),
            "pos": pa.array([p for _, p in deletes], pa.int64()),
        }),
        path,
    )
    return rel_out


def expire_snapshots(
    metadata_path: str,
    *,
    keep_last: int = 1,
    older_than_ms: int | None = None,
    now_ms: int | None = None,
    base_dir: str | None = None,
    timestamp_ms: int | None = None,
    delete_files: bool = False,
) -> dict[str, Any]:
    """EXECUTE snapshot expiry (the metadata half of the maintenance
    pair whose planner is ``maintenance.plan_expire_snapshots``):
    write a new metadata.json without the expired snapshots (their
    snapshot-log entries trimmed too), and report the metadata files
    — manifest lists, and manifests referenced by NO surviving
    snapshot — that just became unreferenced.

    Physical deletion is opt-in (``delete_files=True``) and only
    touches the reported unreferenced METADATA files; data files are
    orphan-collection's job (``maintenance.find_orphan_files``) —
    the same split real table maintenance uses, because a data file
    may be shared by surviving snapshots via carried-forward
    manifests.
    """
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    loc = raw.get("location")
    from .maintenance import plan_expire_snapshots, plan_ref_retention

    plan = plan_expire_snapshots(
        meta, keep_last=keep_last, older_than_ms=older_than_ms, now_ms=now_ms
    )
    expired = {p["snapshot_id"] for p in plan if p["action"] == "expire"}
    removed_refs: list[str] = []
    if now_ms is not None:
        removed_refs = plan_ref_retention(meta, now_ms)["removed_refs"]
        for name in removed_refs:
            raw.get("refs", {}).pop(name, None)
    if not expired:
        if removed_refs:
            if timestamp_ms is None:
                timestamp_ms = raw.get("last-updated-ms", 0) + 1000
            raw["last-updated-ms"] = timestamp_ms
            new_path = _write_metadata(metadata_path, raw)
            return {
                "metadata_path": new_path, "expired": [], "removable": [],
                "removed_refs": removed_refs,
            }
        return {
            "metadata_path": metadata_path, "expired": [], "removable": [],
            "removed_refs": [],
        }

    kept_snaps = [s for s in raw.get("snapshots", []) if s["snapshot-id"] not in expired]
    expired_snaps = [s for s in raw.get("snapshots", []) if s["snapshot-id"] in expired]

    def _manifests_of(snap: dict) -> set[str]:
        return {
            m["manifest_path"]
            for m in read_manifest_list(_local(snap["manifest-list"], base_dir, loc))
        }

    kept_manifests: set[str] = set()
    for s in kept_snaps:
        kept_manifests |= _manifests_of(s)
    removable: list[str] = []
    for s in expired_snaps:
        removable.append(_local(s["manifest-list"], base_dir, loc))
        for m in _manifests_of(s) - kept_manifests:
            p = _local(m, base_dir, loc)
            if p not in removable:
                removable.append(p)

    if timestamp_ms is None:
        timestamp_ms = raw.get("last-updated-ms", 0) + 1000
    raw["snapshots"] = kept_snaps
    raw["snapshot-log"] = [
        e for e in raw.get("snapshot-log", []) if e["snapshot-id"] not in expired
    ]
    # statistics registrations of expired snapshots go with them
    # (their files join the removable set — same rule real expiry
    # applies to stats and partition-stats files)
    for key, path_key in (
        ("statistics", "statistics-path"),
        ("partition-statistics", "statistics-path"),
    ):
        kept_stats = []
        for s in raw.get(key, []):
            if s.get("snapshot-id") in expired:
                p = _local(s[path_key], base_dir, loc)
                if p not in removable:
                    removable.append(p)
            else:
                kept_stats.append(s)
        if key in raw:
            raw[key] = kept_stats
    raw["last-updated-ms"] = timestamp_ms
    raw.setdefault("metadata-log", []).append(
        {
            "timestamp-ms": timestamp_ms,
            "metadata-file": _canonical_metadata_uri(
                metadata_path,
                base_dir if os.path.isdir(os.path.join(base_dir, "metadata")) else os.path.dirname(base_dir),
                loc,
            ),
        }
    )
    new_path = _write_metadata(metadata_path, raw)

    if delete_files:
        for p in removable:
            if os.path.exists(p):
                os.remove(p)

    return {
        "metadata_path": new_path,
        "expired": sorted(expired),
        "removable": removable,
        "removed_refs": removed_refs,
    }


def commit_delete_roundtrip(spark, sf_dir):
    """Driver-gate round-trip for the DELETE write path: scratch-copy
    the MoR fixture, commit a positional-delete snapshot killing the
    first two rows of B (ids 101, 102), and return category-y's
    surviving rows through the ordinary MoR reader. Golden oracle:
    ids 103..150."""
    from .deletes import MOR_DIR, read_mor

    root = _scratch_table("delcommit_gate_", MOR_DIR)
    rel = write_position_deletes(
        root, "data/deletes/pd_gate.parquet",
        [("data/category=y/B.parquet", 0), ("data/category=y/B.parquet", 1)],
    )
    res = commit_delete_snapshot(
        os.path.join(root, "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "y"}, "content": 1}],
        spec_id=0,
    )
    return (
        read_mor(spark, res["metadata_path"], res["snapshot_id"])
        .filter("category = 'y'")
        .orderBy("id")
    )


COMMIT_DELETE_SQL = """
SELECT CAST(range AS BIGINT) AS id, 'y' AS category
FROM range(103, 151) ORDER BY id
"""


def write_equality_deletes(
    table_root: str,
    rel_out: str,
    rows: list[dict[str, Any]],
) -> str:
    """Write a v2 equality-delete parquet: one row per deleted
    value-tuple over the equality columns (the caller names the
    matching field ids in ``commit_delete_snapshot``'s
    ``equality_ids``). Returns the relative path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not rows:
        raise ValueError("equality delete needs at least one row")
    cols = list(rows[0])
    path = os.path.join(table_root, rel_out)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({c: pa.array([r[c] for r in rows]) for c in cols}), path
    )
    return rel_out


def commit_eq_delete_roundtrip(spark, sf_dir):
    """Driver-gate round-trip for the EQUALITY-delete write path ×
    CDC changelog: scratch-copy the MoR fixture, commit an equality
    delete killing ids 105 and 110 (partition y, equality field
    ``id``), and return the CHANGELOG of that single commit — the
    new snapshot must report exactly those two rows as DELETEs
    (data seq 1 < the commit's sequence; partition-gated to y).
    Exercises the eq-delete writer, sequence gating on a COMMITTED
    (non-fixture) snapshot, and changelog derivation from a fresh
    delete manifest in one pass. Golden oracle: the two rows."""
    from .changelog import changelog_between
    from .deletes import MOR_DIR

    root = _scratch_table("eqdel_gate_", MOR_DIR)
    rel = write_equality_deletes(
        root, "data/deletes/ed_gate.parquet", [{"id": 105}, {"id": 110}]
    )
    res = commit_delete_snapshot(
        os.path.join(root, "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "y"}, "content": 2,
          "equality_ids": [1]}],
        spec_id=0,
    )
    return (
        changelog_between(spark, res["metadata_path"], 2004, res["snapshot_id"])
        .select("change_type", "id", "category")
        .orderBy("id")
    )


COMMIT_EQ_DELETE_SQL = """
SELECT change_type, CAST(id AS BIGINT) AS id, category
FROM (VALUES ('DELETE', 105, 'y'), ('DELETE', 110, 'y'))
  t(change_type, id, category)
ORDER BY id
"""


# ----------------------------------- schema evolution + named refs

_ALLOWED_ADD_TYPES = {"long", "int", "string", "double", "float", "boolean", "date"}


def commit_schema_update(
    metadata_path: str,
    add_columns: list[tuple[str, str]],
    *,
    base_dir: str | None = None,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Schema evolution: ADD optional columns (the only always-safe
    evolution; drops/renames/promotions need reader-side projection
    rules this engine doesn't claim yet). Writes a new schema with a
    bumped ``schema-id`` and fresh field ids past ``last-column-id``,
    points ``current-schema-id`` at it, and keeps every old schema
    in ``schemas`` — existing data files stay readable because added
    columns are optional (readers fill null), exactly Iceberg's
    add-column contract.
    """
    if not add_columns:
        raise ValueError("commit_schema_update with no columns to add")
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    loc = raw.get("location")
    table_root = base_dir if os.path.isdir(os.path.join(base_dir, "metadata")) else os.path.dirname(base_dir)

    cur = next(
        s for s in raw.get("schemas", [raw.get("schema", {})])
        if s.get("schema-id", 0) == raw.get("current-schema-id", 0)
    )
    existing = {f["name"] for f in cur.get("fields", [])}
    last_col = raw.get("last-column-id", max((f["id"] for f in cur["fields"]), default=0))
    new_fields = list(cur["fields"])
    for name, typ in add_columns:
        if name in existing:
            raise ValueError(f"column {name!r} already exists in the current schema")
        if typ not in _ALLOWED_ADD_TYPES:
            raise ValueError(f"unsupported added-column type {typ!r}")
        last_col += 1
        new_fields.append({"id": last_col, "name": name, "required": False, "type": typ})
    new_schema_id = max(s.get("schema-id", 0) for s in raw.get("schemas", [cur])) + 1
    raw.setdefault("schemas", [cur])
    raw["schemas"].append(
        {"schema-id": new_schema_id, "type": "struct", "fields": new_fields}
    )
    raw["current-schema-id"] = new_schema_id
    raw["last-column-id"] = last_col
    if timestamp_ms is None:
        timestamp_ms = raw.get("last-updated-ms", 0) + 1000
    raw["last-updated-ms"] = timestamp_ms
    raw.setdefault("metadata-log", []).append(
        {"timestamp-ms": timestamp_ms,
         "metadata-file": _canonical_metadata_uri(metadata_path, table_root, loc)}
    )
    new_path = _write_metadata(metadata_path, raw)
    return {
        "metadata_path": new_path,
        "schema_id": new_schema_id,
        "last_column_id": last_col,
    }


def set_ref(
    metadata_path: str,
    name: str,
    *,
    snapshot_id: int | None = None,
    ref_type: str = "tag",
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Create/update a named ref (Iceberg's ``refs`` metadata map):
    ``tag`` pins a snapshot forever; ``branch`` is a movable head.
    Defaults to the current snapshot. Readers resolve refs with
    :func:`resolve_ref`."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref type must be 'tag' or 'branch', got {ref_type!r}")
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    if snapshot_id is None:
        snapshot_id = raw.get("current-snapshot-id")
    if not any(s["snapshot-id"] == snapshot_id for s in raw.get("snapshots", [])):
        raise ValueError(f"snapshot {snapshot_id} not in table metadata")
    existing = raw.setdefault("refs", {}).get(name)
    if existing and existing.get("type") == "tag" and ref_type == "tag" and existing[
        "snapshot-id"
    ] != snapshot_id:
        raise ValueError(f"tag {name!r} already pins snapshot {existing['snapshot-id']}; tags are immutable")
    raw["refs"][name] = {"snapshot-id": snapshot_id, "type": ref_type}
    if timestamp_ms is None:
        timestamp_ms = raw.get("last-updated-ms", 0) + 1000
    raw["last-updated-ms"] = timestamp_ms
    new_path = _write_metadata(metadata_path, raw)
    return {"metadata_path": new_path, "name": name, "snapshot_id": snapshot_id}


def resolve_ref(metadata_path: str, name: str) -> int:
    """Ref name (or 'main') → snapshot id, for ``files_at`` /
    ``read_mor`` style readers."""
    raw = parse_metadata(metadata_path).raw
    if name == "main":
        sid = raw.get("current-snapshot-id")
        if sid is None:
            raise ValueError("table has no current snapshot")
        return sid
    ref = raw.get("refs", {}).get(name)
    if ref is None:
        raise ValueError(f"unknown ref {name!r} (known: {sorted(raw.get('refs', {}))})")
    return ref["snapshot-id"]


def files_at_tag(spark, sf_dir):
    """Driver-gate round-trip for named refs: scratch-copy the MoR
    fixture, tag snapshot 2002 (pre-deletes), and list files through
    ``resolve_ref`` + ordinary time travel. Golden oracle: the four
    pre-delete data files."""
    from .deletes import MOR_DIR
    from .snapshots import files_at

    root = _scratch_table("tag_gate_", MOR_DIR)
    res = set_ref(
        os.path.join(root, "v2.metadata.json"),
        "v-before-deletes",
        snapshot_id=2002,
        ref_type="tag",
    )
    sid = resolve_ref(res["metadata_path"], "v-before-deletes")
    return (
        files_at(spark, res["metadata_path"], sid)
        .select("file_path", "record_count", "partition_json")
        .orderBy("file_path")
    )


FILES_AT_TAG_SQL = """
SELECT file_path, CAST(record_count AS BIGINT) AS record_count, partition_json
FROM (VALUES
  ('file:///tmp/mor_table/data/category=x/A.parquet', 100, '{"category": "x"}'),
  ('file:///tmp/mor_table/data/category=x/C.parquet', 100, '{"category": "x"}'),
  ('file:///tmp/mor_table/data/category=y/B.parquet', 50, '{"category": "y"}'),
  ('file:///tmp/mor_table/data/category=z/D.parquet', 50, '{"category": "z"}')
) t(file_path, record_count, partition_json)
ORDER BY file_path
"""


def expire_execute_roundtrip(spark, sf_dir):
    """Driver-gate round-trip for expiry EXECUTION: scratch-copy the
    multi-snapshot fixture, run ``expire_snapshots(keep_last=2,
    delete_files=True)``, and return the surviving snapshots (read
    back by the ordinary metadata parser) plus how many metadata
    files were physically removed. Golden: the two oldest appends
    (1001, 1002) age out; 1003 (current) and 1004 (newest by
    timestamp) survive."""
    from pyspark.sql import types as T

    from .snapshots import MS_DIR

    root = _scratch_table("expire_gate_", MS_DIR)
    res = expire_snapshots(
        os.path.join(root, "v2.metadata.json"), keep_last=2, delete_files=True
    )
    removed = sum(1 for p in res["removable"] if not os.path.exists(p))
    meta = parse_metadata(res["metadata_path"])
    rows = [
        (
            s["snapshot-id"],
            s["timestamp-ms"],
            s["summary"]["operation"],
            removed,
        )
        for s in sorted(meta.snapshots, key=lambda s: s["snapshot-id"])
    ]
    schema = T.StructType(
        [
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("timestamp_ms", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("n_files_removed", T.LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


EXPIRE_EXECUTE_SQL = """
SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id,
       CAST(timestamp_ms AS BIGINT) AS timestamp_ms,
       operation, CAST(n_files_removed AS BIGINT) AS n_files_removed
FROM (VALUES
  (1003, 1700000004000, 'overwrite', 2),
  (1004, 1700000003000, 'append', 2)
) t(snapshot_id, timestamp_ms, operation, n_files_removed)
ORDER BY snapshot_id
"""


def rollback_to(
    metadata_path: str,
    snapshot_id: int,
    *,
    allow_non_ancestor: bool = False,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Roll the table back: point ``current-snapshot-id`` (and the
    ``main`` branch ref, if present) at an OLDER snapshot. Iceberg's
    ``rollback_to_snapshot`` requires the target to be an ancestor
    of the current snapshot — passing ``allow_non_ancestor=True``
    is the ``set_current_snapshot`` escape hatch that may jump to
    any retained snapshot (e.g. onto an abandoned branch). Either
    way the move is RECORDED: a new snapshot-log entry is appended
    (this is exactly how `meta_history_multi`'s
    ``is_current_ancestor=false`` rows arise), no snapshot is
    deleted, and time travel to the rolled-past snapshots still
    works until expiry."""
    from .snapshots import ancestor_chain

    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    if not any(s["snapshot-id"] == snapshot_id for s in raw.get("snapshots", [])):
        raise ValueError(f"snapshot {snapshot_id} not in table metadata")
    current = raw.get("current-snapshot-id")
    if snapshot_id == current:
        raise ValueError(f"snapshot {snapshot_id} is already current")
    if not allow_non_ancestor and snapshot_id not in ancestor_chain(meta, current):
        raise ValueError(
            f"snapshot {snapshot_id} is not an ancestor of the current "
            f"snapshot {current}; use allow_non_ancestor=True to jump branches"
        )
    raw["current-snapshot-id"] = snapshot_id
    refs = raw.get("refs", {})
    if "main" in refs and refs["main"].get("type") == "branch":
        refs["main"]["snapshot-id"] = snapshot_id
    if timestamp_ms is None:
        timestamp_ms = raw.get("last-updated-ms", 0) + 1000
    raw["last-updated-ms"] = timestamp_ms
    raw.setdefault("snapshot-log", []).append(
        {"timestamp-ms": timestamp_ms, "snapshot-id": snapshot_id}
    )
    new_path = _write_metadata(metadata_path, raw)
    return {"metadata_path": new_path, "snapshot_id": snapshot_id}


def rollback_roundtrip(spark, sf_dir):
    """Driver gate for rollback: scratch-copy the MoR fixture, roll
    back from 2004 to 2002 (pre-deletes, an ancestor), and read the
    table through the NEW current snapshot with the ordinary MoR
    reader — the delete files committed at 2003 must NOT apply.
    Golden oracle: per-category row counts of the pre-delete table
    plus the rolled-back current snapshot id. (``sf_dir``
    unused.)"""
    from pyspark.sql import functions as F

    from .deletes import MOR_DIR, read_mor

    root = _scratch_table("rollback_gate_", MOR_DIR)
    res = rollback_to(os.path.join(root, "v2.metadata.json"), 2002)
    meta = parse_metadata(res["metadata_path"])
    return (
        read_mor(spark, res["metadata_path"], meta.current_snapshot_id, base_dir=root)
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("current_snapshot", F.lit(meta.current_snapshot_id))
        .orderBy("category")
    )


ROLLBACK_SQL = """
SELECT category, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(current_snapshot AS BIGINT) AS current_snapshot
FROM (VALUES
  ('x', 200, 2002),
  ('y', 50, 2002),
  ('z', 50, 2002)
) t(category, n_rows, current_snapshot)
ORDER BY category
"""


def meta_refs(spark, sf_dir):
    """$refs metadata table: one row per named ref plus the implicit
    ``main`` head — scratch-copy the MoR fixture, pin a tag at 2002
    and a movable branch at 2003, and list. Golden oracle.
    (``sf_dir`` unused.)"""
    from pyspark.sql import types as T

    from .deletes import MOR_DIR

    root = _scratch_table("refs_gate_", MOR_DIR)
    res = set_ref(
        os.path.join(root, "v2.metadata.json"), "v1-release",
        snapshot_id=2002, ref_type="tag",
    )
    res = set_ref(
        res["metadata_path"], "audit", snapshot_id=2003, ref_type="branch"
    )
    raw = parse_metadata(res["metadata_path"]).raw
    rows = [("main", "branch", raw["current-snapshot-id"])] + [
        (name, r["type"], r["snapshot-id"])
        for name, r in sorted(raw.get("refs", {}).items())
    ]
    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("snapshot_id", T.LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema).orderBy("name")


META_REFS_SQL = """
SELECT name, type, CAST(snapshot_id AS BIGINT) AS snapshot_id
FROM (VALUES
  ('audit', 'branch', 2003),
  ('main', 'branch', 2004),
  ('v1-release', 'tag', 2002)
) t(name, type, snapshot_id)
ORDER BY name
"""


def publish_snapshot(
    metadata_path: str,
    ref: str,
    *,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Write-audit-publish, the publish half: fast-forward ``main``
    to a STAGED snapshot (one committed with ``stage_ref=...`` —
    present in ``snapshots`` and readable through its branch ref,
    but not yet current). Requires the staged snapshot's parent to
    BE the current snapshot (a true fast-forward; anything else
    needs a cherry-pick that re-parents, which this engine doesn't
    claim). Records the move in the snapshot log and retires the
    staging ref."""
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    staged = raw.get("refs", {}).get(ref)
    if staged is None:
        raise ValueError(f"no staged ref {ref!r}")
    sid = staged["snapshot-id"]
    snap = next(s for s in raw["snapshots"] if s["snapshot-id"] == sid)
    current = raw.get("current-snapshot-id")
    if snap.get("parent-snapshot-id") != current:
        raise ValueError(
            f"staged snapshot {sid} parents {snap.get('parent-snapshot-id')}, "
            f"not the current snapshot {current}; fast-forward impossible"
        )
    raw["current-snapshot-id"] = sid
    if "main" in raw.get("refs", {}):
        raw["refs"]["main"]["snapshot-id"] = sid
    del raw["refs"][ref]
    if timestamp_ms is None:
        timestamp_ms = raw.get("last-updated-ms", 0) + 1000
    raw["last-updated-ms"] = timestamp_ms
    raw.setdefault("snapshot-log", []).append(
        {"timestamp-ms": timestamp_ms, "snapshot-id": sid}
    )
    new_path = _write_metadata(metadata_path, raw)
    return {"metadata_path": new_path, "snapshot_id": sid}


def wap_publish_roundtrip(spark, sf_dir):
    """Driver gate for write-audit-publish: stage an append on the
    MoR fixture (ref ``wap-1``) — main still reads 5 files while
    the ref reads 6 (the audit step) — then publish and read 6
    through main. Golden oracle: the three file counts + the
    staged/published snapshot id. (``sf_dir`` unused.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from .deletes import MOR_DIR
    from .snapshots import files_at

    root = _scratch_table("wap_gate_", MOR_DIR)
    rel = "data/category=w/id_trunc=400/H.parquet"
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ids = list(range(400, 410))
    pq.write_table(
        pa.table({
            "id": pa.array(ids, pa.int64()),
            "category": pa.array(["w"] * len(ids), pa.string()),
        }),
        path,
    )
    staged = append_snapshot(
        os.path.join(root, "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400}}],
        stage_ref="wap-1",
    )
    meta_staged = parse_metadata(staged["metadata_path"])
    pre_main = files_at(
        spark, staged["metadata_path"], meta_staged.current_snapshot_id
    ).count()
    via_ref = files_at(
        spark, staged["metadata_path"], resolve_ref(staged["metadata_path"], "wap-1")
    ).count()
    pub = publish_snapshot(staged["metadata_path"], "wap-1")
    post_main = files_at(
        spark,
        pub["metadata_path"],
        parse_metadata(pub["metadata_path"]).current_snapshot_id,
    ).count()
    schema = T.StructType(
        [
            T.StructField("pre_main_files", T.LongType()),
            T.StructField("staged_ref_files", T.LongType()),
            T.StructField("post_main_files", T.LongType()),
            T.StructField("published_snapshot", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [(pre_main, via_ref, post_main, pub["snapshot_id"])], schema
    )


WAP_PUBLISH_SQL = """
SELECT CAST(pre_main_files AS BIGINT) AS pre_main_files,
       CAST(staged_ref_files AS BIGINT) AS staged_ref_files,
       CAST(post_main_files AS BIGINT) AS post_main_files,
       CAST(published_snapshot AS BIGINT) AS published_snapshot
FROM (VALUES (5, 6, 6, 2005)) t(pre_main_files, staged_ref_files,
                                post_main_files, published_snapshot)
"""


def cherrypick_snapshot(
    metadata_path: str,
    snapshot_id: int,
    *,
    base_dir: str | None = None,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Cherry-pick an APPEND snapshot onto the CURRENT head — the
    re-parenting :func:`publish_snapshot` declines: the staged (or
    orphaned-branch) snapshot's ADDED files are re-applied as a NEW
    append commit whose parent is the current snapshot, mirroring
    Iceberg's ``manageSnapshots().cherrypick(...)`` for the append
    case. Appends conflict with nothing, so no validation beyond:

    * only ``append`` snapshots (an overwrite/delete replay needs
      conflict detection this engine routes through
      ``concurrency.py`` instead);
    * a ``wap.id`` already published on the current ancestor chain
      aborts (Iceberg's duplicate-WAP-publish guard);
    * mixed partition specs in one cherry-pick abort (one append
      commit carries one spec).

    Driver-side cost: the staged snapshot's own manifests (KB).
    """
    from .snapshots import ancestor_chain, snapshot_by_id

    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    snap = snapshot_by_id(meta, snapshot_id)
    summary = snap.get("summary", {})
    if summary.get("operation") != "append":
        raise ValueError(
            f"cherry-pick supports append snapshots; {snapshot_id} is "
            f"{summary.get('operation')!r}"
        )
    wap_id = summary.get("wap.id")
    current = meta.raw.get("current-snapshot-id")
    if wap_id is not None and current is not None:
        chain = set(ancestor_chain(meta, current))
        for s in meta.snapshots:
            if (
                s["snapshot-id"] in chain
                and s.get("summary", {}).get("wap.id") == wap_id
            ):
                raise ValueError(
                    f"wap.id {wap_id!r} already published as snapshot "
                    f"{s['snapshot-id']}; duplicate cherry-pick aborted"
                )
    added: list[dict[str, Any]] = []
    specs: set[int] = set()
    loc = meta.raw.get("location")
    for mrow in manifest_files_at(meta, snapshot_id, base_dir):
        if mrow.get("content", 0) != 0:
            continue
        with open(mrow["local_path"], "rb") as f:
            records = list(AvroContainerFile(f.read()))
        for rec in records:
            if rec["status"] != 1 or rec.get("snapshot_id") not in (None, snapshot_id):
                continue
            df_ = rec["data_file"]
            local = _local(df_["file_path"], base_dir, loc)
            added.append(
                {
                    "path": os.path.relpath(local, base_dir),
                    "partition": df_.get("partition") or {},
                    "record_count": df_["record_count"],
                    "file_size_in_bytes": df_.get("file_size_in_bytes"),
                }
            )
            specs.add(mrow.get("partition_spec_id", 0))
    if not added:
        raise ValueError(f"snapshot {snapshot_id} added no data files")
    if len(specs) > 1:
        raise ValueError(
            f"snapshot {snapshot_id} spans partition specs {sorted(specs)}; "
            "cherry-pick one spec at a time"
        )
    extra = {"source-snapshot-id": str(snapshot_id)}
    if wap_id is not None:
        extra["wap.id"] = wap_id
        extra["published-wap-id"] = wap_id
    return append_snapshot(
        metadata_path,
        added,
        base_dir=base_dir,
        timestamp_ms=timestamp_ms,
        spec_id=specs.pop(),
        extra_summary=extra,
    )


def wap_cherrypick_roundtrip(spark, sf_dir):
    """Driver gate for cherry-pick: stage append W (wap.id 'w42') on
    head 2004; a second writer's append X lands first, so W parents
    2004 while head is 2005 — publish_snapshot correctly REFUSES the
    fast-forward; cherrypick re-applies W's file on top of X's head
    (live rows 323 + 8 + 10 = 341, parent = X's snapshot), and a
    second cherry-pick of the same wap.id aborts. Golden oracle.
    (``sf_dir`` unused.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from .deletes import MOR_DIR, read_mor

    root = _scratch_table("cherry_gate_", MOR_DIR)
    mpath = os.path.join(root, "v2.metadata.json")

    def _write(rel: str, ids: list[int], category: str) -> None:
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int64()),
                "category": pa.array([category] * len(ids), pa.string()),
            }),
            path,
        )

    _write("data/category=w/id_trunc=400/W.parquet", list(range(400, 410)), "w")
    _write("data/category=w/id_trunc=500/X.parquet", list(range(500, 508)), "w")
    staged = append_snapshot(
        mpath,
        [{"path": "data/category=w/id_trunc=400/W.parquet",
          "partition": {"category": "w", "id_trunc": 400}}],
        stage_ref="wap-2",
        extra_summary={"wap.id": "w42"},
    )
    concurrent = append_snapshot(
        staged["metadata_path"],
        [{"path": "data/category=w/id_trunc=500/X.parquet",
          "partition": {"category": "w", "id_trunc": 500}}],
    )
    ff_refused = 0
    try:
        publish_snapshot(concurrent["metadata_path"], "wap-2")
    except ValueError:
        ff_refused = 1
    picked = cherrypick_snapshot(concurrent["metadata_path"], staged["snapshot_id"])
    live = read_mor(
        spark, picked["metadata_path"], picked["snapshot_id"], root
    ).count()
    picked_meta = parse_metadata(picked["metadata_path"])
    parent = next(
        s.get("parent-snapshot-id")
        for s in picked_meta.snapshots
        if s["snapshot-id"] == picked["snapshot_id"]
    )
    dup_refused = 0
    try:
        cherrypick_snapshot(picked["metadata_path"], staged["snapshot_id"])
    except ValueError:
        dup_refused = 1
    schema = T.StructType(
        [
            T.StructField("ff_refused", T.LongType()),
            T.StructField("live_rows", T.LongType()),
            T.StructField("parent_is_concurrent", T.LongType()),
            T.StructField("dup_refused", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [(
            ff_refused,
            live,
            1 if parent == concurrent["snapshot_id"] else 0,
            dup_refused,
        )],
        schema,
    )


WAP_CHERRYPICK_SQL = """
SELECT CAST(ff_refused AS BIGINT) AS ff_refused,
       CAST(live_rows AS BIGINT) AS live_rows,
       CAST(parent_is_concurrent AS BIGINT) AS parent_is_concurrent,
       CAST(dup_refused AS BIGINT) AS dup_refused
FROM (VALUES (1, 341, 1, 1)) t(ff_refused, live_rows,
                               parent_is_concurrent, dup_refused)
"""


def create_table(
    table_root: str,
    fields: list[tuple[str, str] | dict[str, Any]],
    *,
    partition_by: list[tuple[str, str, str]] = (),
    format_version: int = 2,
    properties: dict[str, str] | None = None,
    table_uuid: str = "00000000-0000-0000-0000-0000000000f0",
    location: str | None = None,
) -> str:
    """CREATE TABLE: write version-1 metadata for a fresh table and
    return the metadata path. ``fields`` are (name, iceberg-type)
    pairs (or full field dicts with explicit ids); ``partition_by``
    entries are (field_name, transform, source_column) like
    :func:`..iceberg.evolution.evolve_partition_spec`. Makes the
    ``metadata/`` and ``data/`` directories; every other engine
    operation (append, DML, evolution, maintenance) composes on the
    result — the public entry point the scratch-table gates and a
    real user share.

    The metadata file lands at ``<root>/metadata/v1.metadata.json``
    with ``version-hint.text`` stamped — the HadoopCatalog layout —
    so a table created under a warehouse is immediately visible to
    ``catalog.list_tables`` / ``current_metadata_path`` (ADVICE r8:
    the former root-level ``v1.metadata.json`` was invisible to
    by-name resolution)."""
    ice_fields: list[dict[str, Any]] = []
    for i, f in enumerate(fields, start=1):
        if isinstance(f, dict):
            ice_fields.append(dict(f))
        else:
            name, typ = f
            ice_fields.append(
                {"id": i, "name": name, "required": False, "type": typ}
            )
    by_name = {f["name"]: f for f in ice_fields}
    spec_fields = []
    for j, (fname, transform, source) in enumerate(partition_by):
        src = by_name.get(source)
        if src is None:
            raise ValueError(f"partition source column {source!r} not in schema")
        from .transforms import transform_result_type

        transform_result_type(transform, src["type"])  # validate the pair
        spec_fields.append(
            {"name": fname, "transform": transform, "source-id": src["id"],
             "field-id": 1000 + j}
        )
    os.makedirs(os.path.join(table_root, "metadata"))
    os.makedirs(os.path.join(table_root, "data"), exist_ok=True)
    meta0 = {
        "format-version": int(format_version),
        "table-uuid": table_uuid,
        "location": location or f"file://{os.path.abspath(table_root)}",
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": max(f["id"] for f in ice_fields),
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": ice_fields}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        **({"last-partition-id": 1000 + len(spec_fields) - 1} if spec_fields else {}),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": dict(properties or {}),
        "snapshots": [], "snapshot-log": [], "metadata-log": [],
    }
    if format_version >= 3:
        meta0["next-row-id"] = 0
    path = os.path.join(table_root, "metadata", "v1.metadata.json")
    with open(path, "w") as f:
        json.dump(meta0, f, indent=2)
    from .catalog import write_version_hint

    write_version_hint(path)
    return path


def update_table_properties(
    metadata_path: str,
    *,
    set_props: dict[str, str] | None = None,
    unset: list[str] | None = None,
    base_dir: str | None = None,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """ALTER TABLE SET/UNSET TBLPROPERTIES: a properties-only
    metadata commit — no snapshot, the previous metadata file is
    logged in ``metadata-log`` and a stale ``version-hint.text`` is
    refreshed, exactly like a data commit's metadata tail. Returns
    ``{"metadata_path", "properties"}``."""
    if not set_props and not unset:
        raise ValueError("update_table_properties with no changes")
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    loc = raw.get("location")
    table_root = (
        base_dir
        if os.path.isdir(os.path.join(base_dir, "metadata"))
        else os.path.dirname(base_dir)
    )
    props = dict(raw.get("properties") or {})
    for k in unset or []:
        props.pop(k, None)
    props.update(set_props or {})
    raw["properties"] = props
    if timestamp_ms is None:
        timestamp_ms = raw.get("last-updated-ms", 0) + 1000
    raw["last-updated-ms"] = timestamp_ms
    raw.setdefault("metadata-log", []).append(
        {"timestamp-ms": timestamp_ms,
         "metadata-file": _canonical_metadata_uri(metadata_path, table_root, loc)}
    )
    new_path = _write_metadata(metadata_path, raw)
    hint = os.path.join(os.path.dirname(new_path), "version-hint.text")
    if os.path.exists(hint):
        from .catalog import write_version_hint

        try:
            write_version_hint(new_path)
        except ValueError:
            pass  # non-vN layout: the listing fallback resolves it
    return {"metadata_path": new_path, "properties": props}
