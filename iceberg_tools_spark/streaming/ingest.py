"""Streaming ingestion INTO an Iceberg table — the write-side dual
of ``streaming/incremental.py`` (which consumes a table as a
stream): ``writeStream.foreachBatch`` stages each micro-batch as
parquet under the table's data directory and APPEND-commits it
through the engine's own metadata path, with the two guarantees a
production sink needs:

* **exactly-once across restarts** — every commit stamps
  ``streaming-query`` / ``streaming-batch-id`` summary properties
  (the mechanism Iceberg's real Spark sink uses); a replayed batch
  (checkpoint recovery re-delivers the last in-flight batch) finds
  its own marker on the current ancestor chain and SKIPS, so
  at-least-once delivery + idempotent commit = exactly-once table
  state;
* **multi-writer safety** — the commit goes through
  ``concurrency.commit_append_concurrent`` against the table's
  CURRENT head (re-resolved per batch via the ``vN.metadata.json``
  chain), so a maintenance job or second writer committing between
  micro-batches just rebases the append (appends conflict with
  nothing).

Scale shape: the batch write is ordinary executor parquet I/O
(partitionBy → one directory per partition value); the commit is
KB-scale driver metadata, one per micro-batch — identical to every
other commit in ``iceberg/commit.py``.
"""

from __future__ import annotations

import glob
import os
import re
from typing import Any

from pyspark.sql import DataFrame

from ..iceberg.concurrency import commit_append_concurrent
from ..iceberg.metadata import parse_metadata

STREAM_QUERY_PROP = "streaming-query"
STREAM_BATCH_PROP = "streaming-batch-id"


def latest_metadata_path(metadata_path: str) -> str:
    """The table's CURRENT metadata file: the highest ``vN`` sibling
    of ``metadata_path`` (the chain ``commit._write_metadata`` writes).
    Non-versioned layouts return the given path unchanged."""
    d, base = os.path.dirname(metadata_path), os.path.basename(metadata_path)
    if not re.fullmatch(r"v(\d+)\.metadata\.json", base):
        return metadata_path
    versions = []
    for p in glob.glob(os.path.join(d, "v*.metadata.json")):
        m = re.fullmatch(r"v(\d+)\.metadata\.json", os.path.basename(p))
        if m:
            versions.append((int(m.group(1)), p))
    return max(versions)[1] if versions else metadata_path


def committed_batch_ids(metadata_path: str, query_name: str) -> set[int]:
    """Batch ids already committed by ``query_name`` on the CURRENT
    ancestor chain — the replay filter. Reads only metadata.json
    summaries (KB)."""
    from ..iceberg.snapshots import ancestor_chain

    meta = parse_metadata(metadata_path)
    head = meta.raw.get("current-snapshot-id")
    if head is None:
        return set()
    chain = set(ancestor_chain(meta, head))
    out = set()
    for s in meta.snapshots:
        summ = s.get("summary", {})
        if (
            s["snapshot-id"] in chain
            and summ.get(STREAM_QUERY_PROP) == query_name
            and STREAM_BATCH_PROP in summ
        ):
            out.add(int(summ[STREAM_BATCH_PROP]))
    return out


def make_batch_committer(
    metadata_path: str | None = None,
    *,
    query_name: str,
    partition_cols: tuple[str, ...] = (),
    spec_id: int | None = None,
    base_dir: str | None = None,
    table_ops=None,
):
    """The ``foreachBatch`` function: stage the batch as parquet
    under ``data/streaming/<query>/batch-<id>/`` (partitionBy the
    spec's identity columns) and append-commit it against the
    table's current head. Exposed separately from
    :func:`ingest_stream_to_table` so tests (and backfills) can
    drive it with plain DataFrames — including replaying a batch id
    to exercise the exactly-once skip.

    ``table_ops`` (a ``RestTableOps``) switches the COMMIT transport:
    the head resolves through the catalog, the exactly-once batch
    markers read from the catalog's current metadata, and the append
    goes over POST CommitTableRequest with the built-in 409-rebase
    loop — the staging (parquet under the table location) is
    byte-identical either way (r15: streaming ingest against a
    catalog-managed table, the deployment shape where writers never
    touch vN.metadata.json)."""
    if (metadata_path is None) == (table_ops is None):
        raise ValueError("pass exactly one of metadata_path / table_ops")
    if table_ops is not None:
        metadata_path = table_ops.client.metadata_path(table_ops.identifier)
    base_dir = base_dir or os.path.dirname(metadata_path)
    table_root = (
        base_dir
        if os.path.isdir(os.path.join(base_dir, "metadata"))
        else os.path.dirname(base_dir)
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> dict[str, Any] | None:
        head = (
            table_ops.client.metadata_path(table_ops.identifier)
            if table_ops is not None
            else latest_metadata_path(metadata_path)
        )
        if int(batch_id) in committed_batch_ids(head, query_name):
            return None  # checkpoint replay: already committed
        rel_dir = os.path.join("data", "streaming", query_name, f"batch-{batch_id}")
        out_dir = os.path.join(table_root, rel_dir)
        # partitionBy EXCLUDES its columns from the parquet, which
        # would make every later MoR read see NULL partition values
        # on streamed rows (caught round 8) — partition on aliased
        # DUPLICATES so the data files keep the real columns
        from pyspark.sql import functions as F

        staged = batch_df
        aliases = tuple(f"_p_{c}" for c in partition_cols)
        for c, a in zip(partition_cols, aliases):
            staged = staged.withColumn(a, F.col(c))
        writer = staged.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*aliases)
        writer.parquet(out_dir)
        files = []
        for p in sorted(
            glob.glob(
                os.path.join(out_dir, *(["*"] * len(partition_cols)), "part-*.parquet")
            )
        ):
            rel = os.path.relpath(p, table_root).replace(os.sep, "/")
            part = {}
            for seg in rel.split("/"):
                if "=" in seg and not seg.endswith(".parquet"):
                    k, v = seg.split("=", 1)
                    k = k.removeprefix("_p_")
                    if k in partition_cols:
                        part[k] = v
            files.append({"path": rel, "partition": part})
        if not files:
            return None  # empty micro-batch: nothing to commit
        extra = {
            STREAM_QUERY_PROP: query_name,
            STREAM_BATCH_PROP: str(int(batch_id)),
        }
        if table_ops is not None:
            return table_ops.append(
                files, base_dir=base_dir, spec_id=spec_id,
                extra_summary=extra,
            )
        if parse_metadata(head).raw.get("current-snapshot-id") is None:
            # first commit into an EMPTY table: nothing to rebase
            # against — plain append (a fresh replication target)
            from ..iceberg.commit import append_snapshot

            return append_snapshot(
                head, files, base_dir=base_dir, spec_id=spec_id, extra_summary=extra
            )
        return commit_append_concurrent(
            head, head, files, base_dir=base_dir, spec_id=spec_id, extra_summary=extra
        )

    return commit_batch


def ingest_stream_to_table(
    stream_df: DataFrame,
    metadata_path: str | None = None,
    *,
    query_name: str,
    checkpoint_dir: str,
    partition_cols: tuple[str, ...] = (),
    spec_id: int | None = None,
    base_dir: str | None = None,
    table_ops=None,
) -> dict[str, Any]:
    """Run a streaming query that ingests ``stream_df`` into the
    table with ``Trigger.AvailableNow`` (drain everything currently
    available in rate-limited micro-batches, then stop — the batch
    refill pattern). Returns ``{"batches_committed", "head"}``."""
    committer = make_batch_committer(
        metadata_path,
        query_name=query_name,
        partition_cols=partition_cols,
        spec_id=spec_id,
        base_dir=base_dir,
        table_ops=table_ops,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        committer(batch_df, batch_id)

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    head = (
        table_ops.client.metadata_path(table_ops.identifier)
        if table_ops is not None
        else latest_metadata_path(metadata_path)
    )
    return {
        "batches_committed": sorted(committed_batch_ids(head, query_name)),
        "head": head,
    }


# ------------------------------------------------ driver-gate query


def stream_ingest_roundtrip(spark, sf_dir):
    """Driver gate for the streaming Iceberg SINK: scratch-copy the
    MoR fixture, stage two small parquet drops in an inbox
    directory, stream them in with ``maxFilesPerTrigger=1`` (two
    micro-batches → two append commits, each stamped with its batch
    id), then REPLAY batch 0 by hand to prove the exactly-once skip.
    Output: per streaming snapshot (batch id, operation,
    added-records) plus the final MoR row count — golden.
    (``sf_dir`` unused.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from ..iceberg.commit import _scratch_table
    from ..iceberg.deletes import MOR_DIR, read_mor

    root = _scratch_table("ingest_gate_", MOR_DIR)
    mp = os.path.join(root, "v2.metadata.json")
    inbox = os.path.join(root, "_inbox")
    os.makedirs(inbox, exist_ok=True)
    for i, ids in enumerate(([500, 501, 502], [600, 601])):
        pq.write_table(
            pa.table(
                {"id": pa.array(ids, pa.int64()),
                 "category": pa.array(["s"] * len(ids))}
            ),
            os.path.join(inbox, f"drop{i}.parquet"),
        )
        # pin file order → batch order (the golden assumes drop0
        # lands in batch 0)
        os.utime(os.path.join(inbox, f"drop{i}.parquet"), (1700000000 + i, 1700000000 + i))
    stream = (
        spark.readStream.schema("id long, category string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
    )
    res = ingest_stream_to_table(
        stream,
        mp,
        query_name="gate",
        checkpoint_dir=os.path.join(root, "_ckpt"),
        partition_cols=("category",),
        spec_id=0,
    )
    # replay batch 0: the sink must skip (marker already on-chain)
    committer = make_batch_committer(
        mp, query_name="gate", partition_cols=("category",), spec_id=0
    )
    replay = committer(
        spark.createDataFrame([(999, "s")], "id long, category string"), 0
    )
    assert replay is None, "replayed batch must be skipped"

    head = latest_metadata_path(mp)
    meta = parse_metadata(head)
    live = read_mor(
        spark, head, meta.raw["current-snapshot-id"], root
    ).count()
    rows = [
        (
            int(s["summary"][STREAM_BATCH_PROP]),
            s["summary"]["operation"],
            int(s["summary"]["added-records"]),
            int(live),
        )
        for s in meta.snapshots
        if s.get("summary", {}).get(STREAM_QUERY_PROP) == "gate"
    ]
    schema = T.StructType([
        T.StructField("batch_id", T.LongType()),
        T.StructField("operation", T.StringType()),
        T.StructField("added_records", T.LongType()),
        T.StructField("final_live_rows", T.LongType()),
    ])
    return spark.createDataFrame(sorted(rows), schema)


STREAM_INGEST_SQL = """
SELECT CAST(batch_id AS BIGINT) AS batch_id, operation,
       CAST(added_records AS BIGINT) AS added_records,
       CAST(final_live_rows AS BIGINT) AS final_live_rows
FROM (VALUES
  (0, 'append', 3, 328),
  (1, 'append', 2, 328)
) t(batch_id, operation, added_records, final_live_rows)
ORDER BY batch_id
"""
