"""Rewrite-position-deletes EXECUTION — the MoR-maintenance twin of
``rewrite_data_files``: instead of folding deletes into data files,
compact the positional-delete files themselves.

Semantics (Iceberg's RewritePositionDeleteFiles contract):

* positional-delete files are merged per ``(spec, partition,
  data-sequence-number)`` group — merging only WITHIN a sequence
  number preserves the ``data_seq <= delete_seq`` gate bit-exactly
  (a delete row never starts or stops applying to any data file);
* **dangling deletes are dropped**: rows referencing a data file no
  longer live at the current snapshot (e.g. one already rewritten
  by ``rewrite_data_files``) are pure dead weight every future read
  would still scan — the rewrite filters them out executor-side;
* output delete files are written sorted by ``(file_path, pos)``
  (the ordering the spec requires of position-delete files);
* the replace snapshot carries every DATA manifest forward VERBATIM
  (zero data churn), keeps equality-delete entries as EXISTING with
  their explicit sequence numbers, and lists the new positional
  files as ADDED entries with EXPLICIT (preserved) sequence
  numbers — inheritance would wrongly re-stamp them at the new
  snapshot's sequence.

Scale shape: the filter + sort + write of delete rows is a Spark
job over the delete parquet (the data-scale part at 100 TB —
position deletes can be billions of rows); the commit is KB-scale
driver metadata. The invariant — ``read_mor`` before == after — is
pinned by pytest, and the driver gate returns the before/after
file/row accounting as golden values.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .commit import (
    ADDED,
    _carry_forward,
    _commit_snapshot,
    _next_ids,
    _table_dirs,
    _write_manifest,
)
from .deletes import EQUALITY_DELETES, POSITION_DELETES, _is_dv, mor_entries_at
from .metadata import parse_metadata
from .rewrite_data import _write_single_parquet


def rewrite_position_deletes(
    spark: SparkSession,
    metadata_path: str,
    *,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Compact all positional-delete files at the current snapshot;
    returns ``{"metadata_path", "snapshot_id", "removed_files",
    "added_files", "rows_before", "rows_after"}``."""
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    loc, table_root, meta_dir = _table_dirs(raw, base_dir)

    parent_id = raw.get("current-snapshot-id")
    data, dels = mor_entries_at(meta, parent_id, base_dir)
    # v3 deletion vectors never need this compaction: there is at
    # most ONE vector per data file by invariant, and a dangling
    # vector (referenced file no longer live) simply never attaches.
    # Only parquet position-delete files accumulate per-file.
    pos_dels = [
        d for d in dels if d["content"] == POSITION_DELETES and not _is_dv(d)
    ]
    if not pos_dels:
        raise ValueError(
            "no positional delete parquet files at the current snapshot "
            "(deletion vectors are one-per-file and need no compaction)"
        )

    live_rels = sorted({e["rel"] for e in data})

    snapshot_id, seq, timestamp_ms = _next_ids(raw, snapshot_id, timestamp_ms)

    # ---- merge groups: (spec, partition, preserved data seq)
    groups: dict[tuple[int, str, int], list[dict]] = {}
    for d in pos_dels:
        key = (
            int(d["spec_id"]),
            json.dumps(d["partition"], sort_keys=True),
            int(d["sequence_number"]),
        )
        groups.setdefault(key, []).append(d)

    rows_before = sum(int(d["record_count"]) for d in pos_dels)
    rows_after = 0
    new_delete_entries: list[dict] = []
    for gi, ((spec_id, pjson, gseq), members) in enumerate(sorted(groups.items())):
        # executor-side: read the group's delete parquet, drop rows
        # whose target data file is no longer live, re-sort to the
        # spec's (file_path, pos) order, write one compacted file
        df = (
            spark.read.parquet(*[m["local_path"] for m in members])
            .withColumn("_rel", F.regexp_extract("file_path", "data/.*$", 0))
            .filter(F.col("_rel").isin(live_rels))
            .drop("_rel")
            .orderBy("file_path", "pos")
        )
        new_rel = f"data/deletes/pd-rw{snapshot_id}-g{gi}.parquet"
        out_path = os.path.join(table_root, new_rel)
        _write_single_parquet(df, out_path)
        import pyarrow.parquet as pq

        n = pq.read_metadata(out_path).num_rows
        rows_after += n
        if n == 0:
            # every delete in the group was dangling: drop the
            # group entirely (no empty delete files in metadata)
            os.remove(out_path)
            continue
        new_delete_entries.append(
            {
                "spec_id": spec_id,
                "entry": {
                    "status": ADDED,
                    "snapshot_id": snapshot_id,
                    # EXPLICIT preserved sequence — inheritance would
                    # re-stamp at the new snapshot's sequence and
                    # change which data files the deletes gate
                    "sequence_number": gseq,
                    "data_file": {
                        "content": POSITION_DELETES,
                        "file_path": f"{loc}/{new_rel}",
                        "file_format": "PARQUET",
                        "partition": json.loads(pjson),
                        "record_count": n,
                        "file_size_in_bytes": os.path.getsize(out_path),
                    },
                },
            }
        )

    # ---- manifest list: data manifests verbatim; delete manifests
    # rebuilt without their parquet positional entries (equality and
    # v3 deletion-vector entries carry forward as EXISTING — vectors
    # were excluded from compaction, dropping them would resurrect
    # their deleted rows); one new delete manifest per spec for the
    # compacted files
    rows = _carry_forward(
        meta, base_dir, snapshot_id, content=1, tag="eq",
        drop=lambda df: df.get("content") != EQUALITY_DELETES
        and (df.get("file_format") or "").upper() != "PUFFIN",
    )
    by_spec: dict[int, list[dict]] = {}
    for ne in new_delete_entries:
        by_spec.setdefault(ne["spec_id"], []).append(ne["entry"])
    for spec_id, entries in sorted(by_spec.items()):
        rows.append(
            _write_manifest(
                meta, meta_dir, loc, f"manifest-pdrw{snapshot_id}-s{spec_id}.avro", entries,
                spec_id=spec_id, content=1, sequence_number=seq,
                added_snapshot_id=snapshot_id, suffix=f"pdrw{snapshot_id}_{spec_id}",
            )
        )
    res = _commit_snapshot(
        metadata_path, raw, rows,
        base_dir=base_dir, snapshot_id=snapshot_id, sequence_number=seq,
        timestamp_ms=timestamp_ms,
        summary={
            "operation": "replace",
            "removed-delete-files": str(len(pos_dels)),
            "added-delete-files": str(len(new_delete_entries)),
            "removed-position-delete-rows": str(rows_before - rows_after),
        },
    )
    return {
        "metadata_path": res["metadata_path"],
        "snapshot_id": snapshot_id,
        "removed_files": len(pos_dels),
        "added_files": len(new_delete_entries),
        "rows_before": rows_before,
        "rows_after": rows_after,
    }


# ------------------------------------------------ driver-gate query


def rewrite_pos_deletes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: scratch-copy the MoR fixture, fold file A's
    deletes with ``rewrite_data_files`` (making A's 10 delete rows
    DANGLING), then compact the positional deletes — the compacted
    file keeps only C's 5 live rows at the preserved sequence
    number, and the table reads identically. Golden oracle: the
    before/after delete-file and row accounting plus the total live
    row count read back through the MoR reader. (``sf_dir``
    unused.)"""
    from .commit import _scratch_table
    from .deletes import MOR_DIR, read_mor
    from .rewrite_data import rewrite_data_files

    root = _scratch_table("pdrw_gate_", MOR_DIR)
    mp = os.path.join(root, "v2.metadata.json")
    r1 = rewrite_data_files(spark, mp, target_rels=["data/category=x/A.parquet"])
    r2 = rewrite_position_deletes(spark, r1["metadata_path"])
    live = read_mor(
        spark, r2["metadata_path"], r2["snapshot_id"], base_dir=root
    ).count()
    return spark.createDataFrame(
        [
            (
                r2["removed_files"],
                r2["added_files"],
                r2["rows_before"],
                r2["rows_after"],
                live,
            )
        ],
        "removed_files int, added_files int, rows_before long, "
        "rows_after long, live_rows long",
    )


REWRITE_POS_DELETES_SQL = """
SELECT CAST(removed_files AS INTEGER) AS removed_files,
       CAST(added_files AS INTEGER) AS added_files,
       CAST(rows_before AS BIGINT) AS rows_before,
       CAST(rows_after AS BIGINT) AS rows_after,
       CAST(live_rows AS BIGINT) AS live_rows
FROM (VALUES (1, 1, 15, 5, 323)) t(removed_files, added_files,
                                   rows_before, rows_after, live_rows)
"""
