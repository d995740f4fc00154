"""The benchmark workloads: ``meta`` and ``queries``.

A workload builds its inputs from the seed (:meth:`Workload.setup`),
then hands the harness one *round* of operations at a time. Each
:class:`Op` has a timed part (``build`` then ``action``) and an
untimed ``check`` that raises :class:`CheckFailed` when the output is
wrong. The harness runs whole rounds until the run's time is used, so
every run covers the same mix of operation kinds.
"""

from __future__ import annotations

import io
import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np


class CheckFailed(Exception):
    """An operation returned a wrong result."""


@dataclass
class Op:
    kind: str
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], None]
    # registry queries: the build is the query function
    registry: bool = False
    # the module a registry query lives in: its layer span encloses
    # the whole build
    owner: str | None = None
    # counters a traced run adds from a checked result
    counts: Callable[[Any], dict[str, float]] | None = None


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()

    def __init__(self, spark: Any, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        # operation draws; inputs draw from their own stream
        self.rng = np.random.default_rng([seed, 1])

    def setup(self, rep: int) -> None:
        """Build the inputs; called several times, the last build is
        the one the run uses."""
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Compute expected results once, after set-up (not timed)."""

    def round(self, r: int) -> list[Op]:
        raise NotImplementedError

    def context(self) -> dict[str, Any]:
        return {}

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        """Workload-specific figures for the context record."""
        return {}


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


# ---------------------------------------------------------------- metadata

# table schema: (name, iceberg type); ``p`` is the identity partition
META_FIELDS = [("id", "long"), ("name", "string"), ("score", "double"),
               ("day", "date"), ("p", "long")]
ID_FIELD = 1


def _bound_str(typ: str, v: Any) -> str:
    """The ``value:<v>;type:<t>`` rendering manifest2json must produce
    for a generated bound (doubles are kept in [1, 1e6) with two
    decimals, where Java's and Python's shortest forms agree)."""
    return f"value:{v!r};type:{typ}" if typ == "double" else f"value:{v};type:{typ}"


class _FileGen:
    """Seeded data-file descriptions with typed bounds."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def file(self, g: int) -> dict[str, Any]:
        r = self.rng
        id_lo = int(r.integers(0, 1_000_000))
        score_lo = round(float(r.integers(100, 90_000_00)) / 100, 2)
        day_lo = int(r.integers(17_000, 20_000))
        lo = {"id": id_lo, "name": f"k{int(r.integers(0, 10**7)):07d}",
              "score": score_lo, "day": day_lo, "p": g}
        hi = {"id": id_lo + int(r.integers(0, 20_000)), "name": lo["name"] + "~",
              "score": round(score_lo + float(r.integers(0, 10_000_00)) / 100, 2),
              "day": day_lo + int(r.integers(0, 60)), "p": g}
        rows = int(r.integers(1_000, 100_000))
        return {"g": g, "path": f"data/f{g:06d}.parquet", "partition": {"p": g},
                "record_count": rows, "file_size_in_bytes": rows * 40 + 4096,
                "lo": lo, "hi": hi}


def _commit_file(f: dict[str, Any]) -> dict[str, Any]:
    from iceberg_tools_spark.iceberg.conversions import to_bytes

    def kv(side: dict[str, Any]) -> list[dict[str, Any]]:
        return [{"key": i, "value": to_bytes(t, side[n])}
                for i, (n, t) in enumerate(META_FIELDS, start=1)]

    return {"path": f["path"], "partition": f["partition"],
            "record_count": f["record_count"],
            "file_size_in_bytes": f["file_size_in_bytes"],
            "lower_bounds": kv(f["lo"]), "upper_bounds": kv(f["hi"])}


def _check_dump(text: str, files: list[dict[str, Any]], location: str) -> None:
    entries = json.loads(text)
    if len(entries) != len(files):
        raise CheckFailed(f"dump: {len(entries)} entries, expected {len(files)}")
    for e, f in zip(entries, files):
        df = e["data_file"]
        if df["file_path"] != f"{location}/{f['path']}":
            raise CheckFailed(f"dump: path {df['file_path']} != {f['path']}")
        if df["record_count"] != f["record_count"]:
            raise CheckFailed(f"dump: record_count of {f['path']}")
        for key, side in (("lower_bounds", "lo"), ("upper_bounds", "hi")):
            got = {kv["key"]: kv["value"] for kv in df[key]["array"]}
            want = {i: _bound_str(t, f[side][n])
                    for i, (n, t) in enumerate(META_FIELDS, start=1)}
            if got != want:
                raise CheckFailed(f"dump: {key} of {f['path']}: {got} != {want}")


class MetaRead(Workload):
    """Scan planning and manifest dumps over a table built through the
    engine's own commit path (part of ``meta``)."""

    name = "meta_read"
    kinds = ("point_plan", "scan_plan", "dump")
    SNAPSHOTS = 24
    FILES_PER_SNAPSHOT = 25
    # one round: (kind, reads an older snapshot). scan_plan always
    # reads the current snapshot, whose 24 manifests take the
    # executor-parallel parse path (16 or more manifests). The cheap
    # dumps repeat so their median rests on enough samples, spread
    # between the planning operations.
    _D, _T = ("dump", False), ("dump", True)
    ROUND = (("point_plan", False), _D, _D, _D, _T, ("scan_plan", False), _D, _D, _D, _T,
             ("point_plan", True), _D, _D, _D, _T, ("scan_plan", False), _D, _D, _D, _T)
    ID_RANGE = 50_000

    def setup(self, rep: int) -> None:
        from iceberg_tools_spark.iceberg import commit

        rng = np.random.default_rng([self.seed, 0])  # same table every rep
        root = os.path.join(self.work_dir, f"meta_read_{rep}")
        if os.path.exists(root):
            shutil.rmtree(root)
        gen = _FileGen(rng)
        mp = commit.create_table(root, META_FIELDS, partition_by=[("p", "identity", "p")])
        self.location = f"file://{os.path.abspath(root)}"
        self.files: list[dict[str, Any]] = []
        self.snaps: list[dict[str, Any]] = []
        for s in range(self.SNAPSHOTS):
            batch = [gen.file(s * self.FILES_PER_SNAPSHOT + j)
                     for j in range(self.FILES_PER_SNAPSHOT)]
            res = commit.append_snapshot(mp, [_commit_file(f) for f in batch])
            mp = res["metadata_path"]
            self.files.extend(batch)
            self.snaps.append({"id": res["snapshot_id"], "manifest": res["manifest_path"]})
        self.metadata_path = mp
        self.root = root
        if rep > 0:
            shutil.rmtree(os.path.join(self.work_dir, f"meta_read_{rep - 1}"))

    def round(self, r: int) -> list[Op]:
        ops = []
        for kind, old in self.ROUND:
            s = int(self.rng.integers(0, self.SNAPSHOTS - 1)) if old else self.SNAPSHOTS - 1
            visible = self.files[: (s + 1) * self.FILES_PER_SNAPSHOT]
            ops.append(getattr(self, f"_{kind}")(s, visible))
        return ops

    def _plan_op(self, kind: str, s: int, expected: set[str], n_examined: int,
                 **pred: Any) -> Op:
        from iceberg_tools_spark.iceberg import snapshots

        sid = self.snaps[s]["id"]

        def check(rows):
            got = {r[0] for r in rows if r[1]}
            if got != expected:
                raise CheckFailed(f"{kind}@{sid}: selected {sorted(got)[:5]}, "
                                  f"expected {sorted(expected)[:5]}")
            if len(rows) != n_examined:
                raise CheckFailed(f"{kind}@{sid}: examined {len(rows)}, expected {n_examined}")

        def build():
            plan = snapshots.plan_scan(self.spark, self.metadata_path, sid, **pred)
            return plan.select("file_path", "selected")

        return Op(kind, build=build, action=lambda df: df.collect(), check=check,
                  counts=lambda rows: {
                      "iceberg.snapshots.entries_examined": len(rows),
                      "iceberg.snapshots.files_selected": sum(1 for r in rows if r[1]),
                  })

    def _point_plan(self, s: int, visible: list[dict[str, Any]]) -> Op:
        f = visible[int(self.rng.integers(0, len(visible)))]
        # the partition summaries prune every manifest but f's
        return self._plan_op("point_plan", s, {f"{self.location}/{f['path']}"},
                             self.FILES_PER_SNAPSHOT, partition_pred={"p": f["g"]})

    def _scan_plan(self, s: int, visible: list[dict[str, Any]]) -> Op:
        lo = int(self.rng.integers(0, 1_000_000))
        hi = lo + self.ID_RANGE
        want = {f"{self.location}/{f['path']}" for f in visible
                if f["hi"]["id"] >= lo and f["lo"]["id"] <= hi}
        return self._plan_op("scan_plan", s, want, len(visible),
                             field_id=ID_FIELD, lo=lo, hi=hi)

    def _dump(self, s: int, visible: list[dict[str, Any]]) -> Op:
        from iceberg_tools_spark.iceberg import manifest2json

        k = int(self.rng.integers(0, s + 1))
        F = self.FILES_PER_SNAPSHOT
        files = self.files[k * F:(k + 1) * F]
        path = self.snaps[k]["manifest"]

        def build():
            out = io.StringIO()
            manifest2json.manifest2json(path, self.metadata_path, out)
            return out

        return Op("dump", build=build, action=lambda out: out.getvalue(),
                  check=lambda text: _check_dump(text, files, self.location))

    def context(self) -> dict[str, Any]:
        meta = os.path.join(self.root, "metadata")
        names = os.listdir(meta)
        return {
            "snapshots": self.SNAPSHOTS,
            "manifests": sum(n.startswith("manifest-") for n in names),
            "entries": len(self.files),
            "avro_bytes": sum(os.path.getsize(os.path.join(meta, n))
                              for n in names if n.endswith(".avro")),
            "metadata_json_bytes": os.path.getsize(self.metadata_path),
        }


class MetaWrite(Workload):
    """Append commits with periodic snapshot expiry (part of
    ``meta``). Each round writes a fresh table: the manifest list
    of an append-only table grows by one row per commit, so only a
    bounded round reaches the same state run after run."""

    name = "meta_write"
    kinds = ("append", "expire")
    FILES_PER_COMMIT = 10
    APPENDS_PER_ROUND = 40
    EXPIRE_EVERY = 5
    KEEP_LAST = 5
    PROPS = {"write.metadata.previous-versions-max": "8",
             "write.metadata.delete-after-commit.enabled": "true"}

    def setup(self, rep: int) -> None:
        # the inputs are the seeded files of one round's appends; every
        # round appends them to its own fresh table
        gen = _FileGen(np.random.default_rng([self.seed, 0]))
        self.commit_files = [[_commit_file(gen.file(a * self.FILES_PER_COMMIT + j))
                              for j in range(self.FILES_PER_COMMIT)]
                             for a in range(self.APPENDS_PER_ROUND)]
        self.meta_bytes = 0
        self.files_committed = 0
        self.root = None

    def round(self, r: int) -> list[Op]:
        from iceberg_tools_spark.iceberg import commit

        if self.root is not None:
            shutil.rmtree(self.root)
        self.root = os.path.join(self.work_dir, f"meta_write_{r}")
        self.state = {
            "metadata_path": commit.create_table(
                self.root, META_FIELDS, partition_by=[("p", "identity", "p")],
                properties=self.PROPS),
            "files": 0, "manifests": 0, "snapshots": 0,
        }
        ops = []
        for a in range(self.APPENDS_PER_ROUND):
            ops.append(self._append(a))
            if (a + 1) % self.EXPIRE_EVERY == 0:
                ops.append(self._expire())
        return ops

    def _append(self, a: int) -> Op:
        from iceberg_tools_spark.iceberg import commit, snapshots
        from iceberg_tools_spark.iceberg.metadata import parse_metadata

        st = self.state
        files = self.commit_files[a]
        # files_at runs a Spark job (~0.5 s against ~5 ms per append),
        # so it checks the cumulative file count at the round's last
        # append; the manifest list and the snapshot summary are
        # checked after every append
        deep = a == self.APPENDS_PER_ROUND - 1

        def check(res):
            st["metadata_path"] = res["metadata_path"]
            st["files"] += len(files)
            st["manifests"] += 1
            st["snapshots"] += 1
            rows = snapshots.read_manifest_list(res["manifest_list_path"])
            if len(rows) != st["manifests"]:
                raise CheckFailed(f"append: {len(rows)} manifest-list rows, "
                                  f"expected {st['manifests']}")
            meta = parse_metadata(res["metadata_path"])
            if meta.raw["current-snapshot-id"] != res["snapshot_id"]:
                raise CheckFailed("append: snapshot is not current")
            summary = meta.raw["snapshots"][-1]["summary"]
            if int(summary.get("total-data-files", -1)) != st["files"]:
                raise CheckFailed(f"append: summary total-data-files "
                                  f"{summary.get('total-data-files')}, expected {st['files']}")
            if deep:
                n = snapshots.files_at(self.spark, res["metadata_path"],
                                       res["snapshot_id"]).count()
                if n != st["files"]:
                    raise CheckFailed(f"append: files_at counts {n}, expected {st['files']}")
            written = res["manifest_paths"] + [res["manifest_list_path"], res["metadata_path"]]
            self.meta_bytes += sum(os.path.getsize(p) for p in written)
            self.files_committed += len(files)

        return Op("append",
                  build=lambda: commit.append_snapshot(st["metadata_path"], files),
                  action=lambda res: res, check=check)

    def _expire(self) -> Op:
        from iceberg_tools_spark.iceberg import commit
        from iceberg_tools_spark.iceberg.metadata import parse_metadata

        st = self.state

        def check(res):
            want = st["snapshots"] - self.KEEP_LAST
            if len(res["expired"]) != want:
                raise CheckFailed(f"expire: {len(res['expired'])} expired, expected {want}")
            st["metadata_path"] = res["metadata_path"]
            st["snapshots"] = self.KEEP_LAST
            if len(parse_metadata(res["metadata_path"]).snapshots) != self.KEEP_LAST:
                raise CheckFailed("expire: wrong number of snapshots kept")
            left = [p for p in res["removable"] if os.path.exists(p)]
            if left:
                raise CheckFailed(f"expire: {len(left)} removable files not deleted")

        return Op("expire",
                  build=lambda: commit.expire_snapshots(
                      st["metadata_path"], keep_last=self.KEEP_LAST, delete_files=True),
                  action=lambda res: res, check=check)

    def context(self) -> dict[str, Any]:
        return {
            "files_per_commit": self.FILES_PER_COMMIT,
            "appends_per_round": self.APPENDS_PER_ROUND,
            "expire_every": self.EXPIRE_EVERY,
            "keep_last": self.KEEP_LAST,
        }

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        if not self.files_committed:
            return {}
        return {"meta_bytes_per_file": (self.meta_bytes / self.files_committed, "B")}


# ---------------------------------------------------------------- queries


class _Collected:
    """An Arrow result in the shape ``parity.compare`` reads."""

    def __init__(self, table):
        self._table = table

    def toArrow(self):
        return self._table


class _Answer:
    """Stands in for the DuckDB connection ``parity.compare`` queries:
    returns the oracle result computed once before the run."""

    def __init__(self, table):
        self._table = table

    def execute(self, _sql):
        return self

    def fetch_arrow_table(self):
        return self._table


class _QueryWorkload(Workload):
    """Registry queries: the build is the query function, the action
    collects its result as Arrow (the check needs the rows; a noop
    write plus a second execution for the check would double the
    Spark work), the check is ``parity.compare`` against the
    registry's oracle SQL."""

    def setup(self, rep: int) -> None:
        self.sf_dir = self.work_dir

    def prepare_checks(self) -> None:
        from iceberg_tools_spark import registry
        from iceberg_tools_spark.parity import duck_connection

        self.queries = registry.queries()
        sql = registry.oracle_sql()
        self.oracle = {}
        with duck_connection(self.sf_dir) as con:
            for name in self.kinds:
                self.oracle[name] = (sql[name], con.execute(sql[name]).fetch_arrow_table())

    def round(self, r: int) -> list[Op]:
        from iceberg_tools_spark.parity import compare

        ops = []
        for i in self.rng.permutation(len(self.kinds)):
            name = self.kinds[i]
            fn = self.queries[name]
            sql, answer = self.oracle[name]

            def check(tbl, name=name, sql=sql, answer=answer):
                res = compare(name, _Collected(tbl), sql, self.sf_dir, con=_Answer(answer))
                if not res.ok:
                    raise CheckFailed(f"{name}: {res.detail[:2]}")

            ops.append(Op(name, build=lambda fn=fn: fn(self.spark, self.sf_dir),
                          action=lambda df: df.toArrow(), check=check,
                          registry=True, owner=_owner_layer(fn)))
        return ops


OWNER_LAYERS = ("deletes", "rewrite_data", "ivm", "concurrency")


def _owner_layer(fn: Callable) -> str | None:
    """``iceberg.<module>`` when a registry query is defined in one of
    the traced table-operation modules."""
    import importlib

    for mod in OWNER_LAYERS:
        m = importlib.import_module(f"iceberg_tools_spark.iceberg.{mod}")
        own = getattr(m, fn.__name__, None)
        if own is not None and getattr(own, "__module__", None) == m.__name__:
            return f"iceberg.{mod}"
    return None


class TableOps(_QueryWorkload):
    """Commit-chain and merge-on-read registry queries (part of
    ``queries``). They work on scratch copies of the repository's
    fixture tables; the seed sets their order."""

    name = "table_ops"
    kinds = ("commit_conflict_roundtrip", "rewrite_datafiles_roundtrip", "view_ivm_roundtrip")


class Pipeline(_QueryWorkload):
    """Registry queries over seeded TPC-H-like tables (part of
    ``queries``)."""

    name = "pipeline"
    kinds = ("q1_pricing_summary", "q3_shipping_priority", "sessionize_events",
             "dedup_minhash_lsh")

    def setup(self, rep: int) -> None:
        from datagen import generate

        self.sf_dir = os.path.join(self.work_dir, f"data_{rep}")
        self.rows = generate(self.sf_dir, self.seed)
        if rep > 0:
            shutil.rmtree(os.path.join(self.work_dir, f"data_{rep - 1}"))

    def context(self) -> dict[str, Any]:
        return {"table_rows": self.rows, "input_bytes": dir_bytes(self.sf_dir)}


class _Composite(Workload):
    """The rounds of several parts, interleaved."""

    PARTS: tuple[type[Workload], ...] = ()

    def __init__(self, spark: Any, work_dir: str, seed: int):
        super().__init__(spark, work_dir, seed)
        self.parts = tuple(cls(spark, work_dir, seed) for cls in self.PARTS)
        self.kinds = tuple(k for p in self.parts for k in p.kinds)

    def setup(self, rep: int) -> None:
        for p in self.parts:
            p.setup(rep)

    def prepare_checks(self) -> None:
        for p in self.parts:
            p.prepare_checks()

    def round(self, r: int) -> list[Op]:
        """The parts' rounds merged by relative position, each part's
        order kept: short operations spread over the whole round, so
        their medians do not rest on one short stretch of it."""
        keyed = [((i + 0.5) / len(ops), j, op)
                 for j, ops in enumerate(p.round(r) for p in self.parts)
                 for i, op in enumerate(ops)]
        return [op for _, _, op in sorted(keyed, key=lambda t: t[:2])]

    def context(self) -> dict[str, Any]:
        return {p.name: p.context() for p in self.parts}

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        return {k: v for p in self.parts for k, v in p.extra_metrics().items()}


class Meta(_Composite):
    """Scan planning, manifest dumps, appends and expiry (README.md,
    "meta")."""

    name = "meta"
    PARTS = (MetaRead, MetaWrite)


class Queries(_Composite):
    """Registry queries: the pipeline operators and the commit chains
    (README.md, "queries")."""

    name = "queries"
    PARTS = (Pipeline, TableOps)


WORKLOADS = {w.name: w for w in (Meta, Queries)}
