"""Which public functions of the package the tracer wraps, per layer.

Counters are named ``<layer>.<what>``; :func:`layer_metrics` turns a
tracer's counters plus the harness's Spark and driver totals into the
``per_layer`` metrics of ``BENCHMARK.json``.
"""

from __future__ import annotations

import os
from typing import Any

from tracer import Tracer, public_functions

# modules whose every public function is one layer span
MODULE_LAYERS = ("deletes", "rewrite_data", "ivm", "concurrency")

# commit functions that write a new table version
COMMIT_FUNCTIONS = (
    "append_snapshot", "commit_row_delta", "commit_delete_snapshot",
    "expire_snapshots", "commit_schema_update", "set_ref", "rollback_to",
    "publish_snapshot", "cherrypick_snapshot", "create_table",
    "update_table_properties",
)


def install(tracer: Tracer) -> None:
    """Wrap the layers' public functions (tracing stays off until the
    harness sets ``tracer.enabled``)."""
    import importlib

    from iceberg_tools_spark import registry  # noqa: F401  (loads the package)
    from iceberg_tools_spark.avro import reader, writer
    from iceberg_tools_spark.iceberg import (
        commit, conversions, manifest2json, manifest_io, metadata, snapshots,
    )

    # avro: decode = opening a container (header parse) plus producing
    # its records; encode = write_container
    acf = reader.AvroContainerFile
    tracer.patch_attr(acf, "__init__", tracer.light_wrapper("avro.decode", acf.__init__))
    tracer.patch_attr(acf, "records", tracer.iterator_wrapper(
        "avro.decode", acf.records, "avro.decode.records"))
    tracer.patch_function(writer.write_container, _encode_wrapper(tracer, writer.write_container))

    for fn in (conversions.decode_bound, conversions.from_bytes):
        tracer.patch_function(fn, tracer.light_wrapper("iceberg.conversions", fn))

    def on_parse(t, args, kwargs, result, _state):
        src = args[0] if args else kwargs.get("src")
        if isinstance(src, bytes):
            n = len(src)
        elif isinstance(src, str) and not src.lstrip().startswith("{"):
            n = os.path.getsize(src)
        elif isinstance(src, str):
            n = len(src.encode())
        else:
            n = 0  # an already-parsed dict
        t.add("iceberg.metadata.parse.bytes", n)

    tracer.patch_function(metadata.parse_metadata, tracer.span_wrapper(
        "iceberg.metadata.parse", metadata.parse_metadata, on_return=on_parse))

    tracer.patch_function(snapshots.plan_scan, tracer.span_wrapper(
        "iceberg.snapshots.plan", snapshots.plan_scan))

    def on_list(t, args, kwargs, rows, _state):
        if t.layer_active("iceberg.snapshots.plan"):
            t.add("iceberg.snapshots.manifests_listed",
                  sum(1 for m in rows if m.get("content", 0) == 0))

    tracer.patch_function(snapshots.manifest_files_at, tracer.span_wrapper(
        "iceberg.snapshots.list", snapshots.manifest_files_at, on_return=on_list))

    def on_map(t, args, kwargs, _result, _state):
        spark, tasks = args[0], args[1]
        threshold = kwargs.get("threshold")
        if threshold is None:
            threshold = manifest_io.PARALLEL_THRESHOLD
        t.add("iceberg.manifest_io.manifests", len(tasks))
        if spark is not None and len(tasks) >= threshold:
            t.add("iceberg.manifest_io.parallel_calls")
        if t.layer_active("iceberg.snapshots.plan"):
            t.add("iceberg.snapshots.manifests_opened", len(tasks))

    tracer.patch_function(manifest_io.map_manifests, tracer.span_wrapper(
        "iceberg.manifest_io", manifest_io.map_manifests, on_return=on_map))

    def m2j_before(args, kwargs):
        out = args[2] if len(args) > 2 else kwargs.get("out")
        return out, out.tell()

    def on_m2j(t, args, kwargs, _result, state):
        out, pos = state
        t.add("iceberg.manifest2json.bytes_out", out.tell() - pos)

    tracer.patch_function(manifest2json.manifest2json, tracer.span_wrapper(
        "iceberg.manifest2json", manifest2json.manifest2json,
        on_return=on_m2j, before=m2j_before))

    def on_commit(t, args, kwargs, result, _state):
        path = result.get("metadata_path") if isinstance(result, dict) else result
        if isinstance(path, str) and os.path.exists(path):
            t.add("iceberg.commit.metadata_bytes_written", os.path.getsize(path))
        if isinstance(result, dict):
            t.add("iceberg.commit.expired_snapshots", len(result.get("expired", ())))

    for name in COMMIT_FUNCTIONS:
        fn = getattr(commit, name)
        tracer.patch_function(fn, tracer.span_wrapper("iceberg.commit", fn, on_return=on_commit))

    for mod in MODULE_LAYERS:
        m = importlib.import_module(f"iceberg_tools_spark.iceberg.{mod}")
        for fn in public_functions(m):
            tracer.patch_function(fn, tracer.span_wrapper(f"iceberg.{mod}", fn))


def _encode_wrapper(tracer: Tracer, write_container: Any) -> Any:
    """write_container with records and bytes counted; inside a
    commit, also manifests, manifest-list rows and bytes written."""

    def counted(schema, records, *args, **kwargs):
        n = 0

        def each():
            nonlocal n
            for r in records:
                n += 1
                yield r

        blob = write_container(schema, each(), *args, **kwargs)
        if tracer.enabled:
            tracer.add("avro.encode.records", n)
            tracer.add("avro.encode.bytes", len(blob))
            if tracer.layer_active("iceberg.commit"):
                tracer.add("iceberg.commit.metadata_bytes_written", len(blob))
                if isinstance(schema, dict) and schema.get("name") == "manifest_file":
                    tracer.add("iceberg.commit.manifest_list_rows", n)
                else:
                    tracer.add("iceberg.commit.manifests_written")
        return blob

    counted.__name__ = write_container.__name__
    counted.__qualname__ = write_container.__qualname__
    counted.__module__ = write_container.__module__
    return tracer.span_wrapper("avro.encode", counted)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(
    counters: dict[str, float], spark: dict[str, float], ops: int, extra: dict[str, float]
) -> dict[str, tuple[float, str]]:
    """The per-layer metrics: totals per traced operation, ratios of
    totals, and the peak of ``spark.peak_exec_memory_bytes``."""
    c = counters
    per = (lambda v: v / ops) if ops else (lambda v: 0.0)
    m: dict[str, tuple[float, str]] = {
        "driver.cpu_s": (per(extra["driver_cpu_s"]), "s"),
        "driver.wait_s": (per(extra["driver_wait_s"]), "s"),
        "avro.decode_calls": (per(c["avro.decode.calls"]), "count"),
        "avro.decode_records": (per(c["avro.decode.records"]), "count"),
        "avro.decode_s": (per(c["avro.decode.s"]), "s"),
        "avro.decode_records_per_s": (_ratio(c["avro.decode.records"], c["avro.decode.s"]), "1/s"),
        "avro.encode_calls": (per(c["avro.encode.calls"]), "count"),
        "avro.encode_records": (per(c["avro.encode.records"]), "count"),
        "avro.encode_bytes": (per(c["avro.encode.bytes"]), "B"),
        "avro.encode_s": (per(c["avro.encode.s"]), "s"),
        "avro.encode_records_per_s": (_ratio(c["avro.encode.records"], c["avro.encode.s"]), "1/s"),
        "iceberg.conversions.calls": (per(c["iceberg.conversions.calls"]), "count"),
        "iceberg.conversions.s": (per(c["iceberg.conversions.s"]), "s"),
        "iceberg.metadata.parse_calls": (per(c["iceberg.metadata.parse.calls"]), "count"),
        "iceberg.metadata.parse_bytes": (per(c["iceberg.metadata.parse.bytes"]), "B"),
        "iceberg.metadata.parse_s": (per(c["iceberg.metadata.parse.s"]), "s"),
        "iceberg.snapshots.plan_calls": (per(c["iceberg.snapshots.plan.calls"]), "count"),
        "iceberg.snapshots.plan_s": (per(c["iceberg.snapshots.plan.s"]), "s"),
        "iceberg.snapshots.manifests_listed": (per(c["iceberg.snapshots.manifests_listed"]), "count"),
        "iceberg.snapshots.manifests_opened": (per(c["iceberg.snapshots.manifests_opened"]), "count"),
        "iceberg.snapshots.opened_per_listed": (
            _ratio(c["iceberg.snapshots.manifests_opened"], c["iceberg.snapshots.manifests_listed"]),
            "ratio"),
        "iceberg.snapshots.entries_examined": (per(c["iceberg.snapshots.entries_examined"]), "count"),
        "iceberg.snapshots.files_selected": (per(c["iceberg.snapshots.files_selected"]), "count"),
        "iceberg.manifest_io.calls": (per(c["iceberg.manifest_io.calls"]), "count"),
        "iceberg.manifest_io.parallel_calls": (per(c["iceberg.manifest_io.parallel_calls"]), "count"),
        "iceberg.manifest_io.manifests": (per(c["iceberg.manifest_io.manifests"]), "count"),
        "iceberg.manifest_io.s": (per(c["iceberg.manifest_io.s"]), "s"),
        "iceberg.manifest2json.calls": (per(c["iceberg.manifest2json.calls"]), "count"),
        "iceberg.manifest2json.s": (per(c["iceberg.manifest2json.s"]), "s"),
        "iceberg.manifest2json.bytes_out": (per(c["iceberg.manifest2json.bytes_out"]), "B"),
        "iceberg.commit.commits": (per(c["iceberg.commit.calls"]), "count"),
        "iceberg.commit.s": (per(c["iceberg.commit.s"]), "s"),
        "iceberg.commit.manifest_list_rows": (per(c["iceberg.commit.manifest_list_rows"]), "count"),
        "iceberg.commit.manifests_written": (per(c["iceberg.commit.manifests_written"]), "count"),
        "iceberg.commit.metadata_bytes_written": (per(c["iceberg.commit.metadata_bytes_written"]), "B"),
        "iceberg.commit.expired_snapshots": (per(c["iceberg.commit.expired_snapshots"]), "count"),
    }
    for mod in MODULE_LAYERS:
        m[f"iceberg.{mod}.calls"] = (per(c[f"iceberg.{mod}.calls"]), "count")
        m[f"iceberg.{mod}.s"] = (per(c[f"iceberg.{mod}.s"]), "s")
    m.update({
        "registry.build_s": (per(extra["registry_build_s"]), "s"),
        "registry.eager_jobs": (per(extra["registry_eager_jobs"]), "count"),
        "spark.action_s": (per(extra["action_s"]), "s"),
        "spark.plan_s": (per(extra["plan_s"]), "s"),
        "spark.jobs": (per(spark["jobs"]), "count"),
        "spark.stages": (per(spark["stages"]), "count"),
        "spark.tasks": (per(spark["tasks"]), "count"),
        "spark.task_run_s": (per(spark["task_run_s"]), "s"),
        "spark.task_cpu_s": (per(spark["task_cpu_s"]), "s"),
        "spark.gc_s": (per(spark["gc_s"]), "s"),
        "spark.slot_busy_ratio": (
            _ratio(spark["task_run_s"], extra["op_wall_s"] * extra["cores"]), "ratio"),
        "spark.shuffle_write_bytes": (per(spark["shuffle_write_bytes"]), "B"),
        "spark.shuffle_read_bytes": (per(spark["shuffle_read_bytes"]), "B"),
        "spark.spill_bytes": (per(spark["spill_bytes"]), "B"),
        "spark.peak_exec_memory_bytes": (spark["peak_exec_memory_bytes"], "B"),
        "functions.python_nodes": (per(spark["python_nodes"]), "count"),
        "functions.python_bytes_in": (per(spark["python_bytes_in"]), "B"),
        "functions.python_rows_out": (per(spark["python_rows_out"]), "count"),
        "functions.worker_cpu_s": (per(extra["worker_cpu_s"]), "s"),
        "sources.input_bytes": (per(spark["input_bytes"]), "B"),
        "sources.input_rows": (per(spark["input_rows"]), "count"),
        "sources.files_read": (per(spark["files_read"]), "count"),
        "sources.scan_s": (per(spark["scan_s"]), "s"),
    })
    return m
