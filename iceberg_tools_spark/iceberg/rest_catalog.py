"""Iceberg REST catalog: a spec-derived CLIENT for the read
endpoints plus a LOCAL fixture server backing them with a
Hadoop-style warehouse directory — the same fixture discipline as
the v2-checkpoint writer (VERDICT r13 #6): implement the PUBLIC
protocol, round-trip it against this engine's own artifacts, and
pin behavior in pytest without sandbox networking (the server binds
127.0.0.1 on an ephemeral port; the client is stdlib urllib).

Endpoints implemented (Iceberg REST Catalog OpenAPI, read side):

* ``GET /v1/config``                       → catalog defaults/overrides
* ``GET /v1/{prefix}namespaces``           → namespace list
* ``GET /v1/{prefix}namespaces/{ns}/tables``        → identifiers
* ``GET /v1/{prefix}namespaces/{ns}/tables/{table}`` → LoadTableResult
  (``metadata-location`` + inline ``metadata``)

Multipart namespaces use the spec's ``%1F`` (unit separator)
encoding in paths. The client prefers ``metadata-location`` when it
resolves locally (zero copies) and otherwise materializes the
inline ``metadata`` payload — so it works against real services
returning object-store locations too.

Reference parity anchor: the reference tool takes explicit metadata
paths (`ManifestFileReadTool.java:52-76`); this layer adds the
by-name resolution the now-dominant REST deployments perform.
"""

from __future__ import annotations

import json
import os
import threading
from typing import Any

import re as _re_mod

_SEP = "\x1f"  # the spec's multipart-namespace separator
_V_HINT = _re_mod.compile(r"v(\d+)\.metadata\.json")


# ------------------------------------------------------- client


class RestCatalogClient:
    """Minimal read-side REST catalog client (stdlib urllib; no
    external dependencies). ``uri`` is the service base, e.g.
    ``http://127.0.0.1:8181``; ``prefix`` is the optional catalog
    prefix the /v1/config response may direct clients to."""

    def __init__(
        self,
        uri: str,
        prefix: str | None = None,
        timeout: float = 10.0,
        *,
        token: str | None = None,
        credential: str | None = None,
    ):
        self.uri = uri.rstrip("/")
        self.timeout = timeout
        self.token = token
        if credential is not None:
            # the spec's OAuth2 client-credentials flow: exchange
            # `client_id:client_secret` for a bearer token at the
            # catalog's token endpoint before any catalog call
            self.token = self._oauth_token(credential)
        if prefix is None:
            cfg = self._get("/v1/config")
            prefix = (cfg.get("overrides") or {}).get("prefix", "")
        self.prefix = prefix.strip("/")

    def _oauth_token(self, credential: str) -> str:
        """POST /v1/oauth/tokens (client_credentials grant, form
        body per RFC 6749 / the spec's OAuthTokenRequest) →
        access_token."""
        import urllib.parse
        import urllib.request

        cid, _, secret = credential.partition(":")
        body = urllib.parse.urlencode({
            "grant_type": "client_credentials",
            "client_id": cid,
            "client_secret": secret,
        }).encode("utf-8")
        req = urllib.request.Request(
            self.uri + "/v1/oauth/tokens",
            data=body,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as r:
            return json.loads(r.read().decode("utf-8"))["access_token"]

    def _headers(self, extra: dict[str, str] | None = None) -> dict[str, str]:
        h = dict(extra or {})
        if self.token:
            h["Authorization"] = f"Bearer {self.token}"
        return h

    def config(self) -> dict[str, Any]:
        """GET /v1/config (cached): catalog defaults/overrides,
        including capability flags such as
        ``next-row-id-arbitration``."""
        if not hasattr(self, "_config_cache"):
            self._config_cache = self._get("/v1/config")
        return self._config_cache

    def _get(self, path: str) -> dict[str, Any]:
        import urllib.error
        import urllib.request

        url = self.uri + path
        req = urllib.request.Request(url, headers=self._headers())
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                return json.loads(r.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            body = e.read().decode("utf-8", errors="replace")
            try:
                detail = json.loads(body).get("error", {}).get("message", body)
            except ValueError:
                detail = body
            if e.code == 404:
                raise FileNotFoundError(
                    f"REST catalog {url!r}: HTTP 404 — {detail}"
                ) from None
            # 5xx/auth/4xx faults are SERVICE errors, not missing
            # tables — callers must be able to retry/re-auth rather
            # than treat them as not-found (review r14)
            raise RuntimeError(
                f"REST catalog {url!r}: HTTP {e.code} — {detail}"
            ) from None

    def _p(self, path: str) -> str:
        pre = f"/{self.prefix}" if self.prefix else ""
        return f"/v1{pre}{path}"

    def _get_paged(self, path: str, page_size: int | None) -> list[dict[str, Any]]:
        """Drain a paginated list endpoint: follow ``next-page-token``
        until the server stops returning one (the spec's opaque-token
        contract — an ABSENT token ends pagination; clients never
        interpret its contents)."""
        from urllib.parse import quote

        pages, token = [], None
        while True:
            q = []
            if page_size is not None:
                q.append(f"pageSize={page_size}")
            if token is not None:
                q.append(f"pageToken={quote(token, safe='')}")
            pages.append(self._get(path + ("?" + "&".join(q) if q else "")))
            token = pages[-1].get("next-page-token")
            if not token:
                return pages

    def list_namespaces(self, *, page_size: int | None = None) -> list[str]:
        """Dotted namespace strings (drains pagination when the
        service pages)."""
        pages = self._get_paged(self._p("/namespaces"), page_size)
        return sorted(
            ".".join(ns) for p in pages for ns in p.get("namespaces", [])
        )

    def list_tables(self, namespace: str, *, page_size: int | None = None) -> list[str]:
        """Dotted ``ns.table`` identifiers of one namespace (drains
        pagination when the service pages)."""
        from urllib.parse import quote

        ns = quote(_SEP.join(namespace.split(".")), safe="")
        pages = self._get_paged(self._p(f"/namespaces/{ns}/tables"), page_size)
        return sorted(
            ".".join(ident["namespace"]) + "." + ident["name"]
            for p in pages
            for ident in p.get("identifiers", [])
        )

    def load_namespace(self, namespace: str) -> dict[str, Any]:
        """GetNamespaceResponse for one namespace — existence check
        plus its properties (404 for an unknown namespace)."""
        from urllib.parse import quote

        ns = quote(_SEP.join(namespace.split(".")), safe="")
        return self._get(self._p(f"/namespaces/{ns}"))

    def load_table(self, identifier: str) -> dict[str, Any]:
        """The raw LoadTableResult for ``ns.table`` (arbitrary
        namespace depth; the LAST dotted part is the table name)."""
        from urllib.parse import quote

        parts = [p for p in identifier.split(".") if p]
        if len(parts) < 2:
            raise ValueError(
                f"identifier {identifier!r} needs at least namespace.table"
            )
        ns = quote(_SEP.join(parts[:-1]), safe="")
        return self._get(self._p(f"/namespaces/{ns}/tables/{quote(parts[-1], safe='')}"))

    def commit_table(
        self,
        identifier: str,
        *,
        requirements: list[dict[str, Any]] = (),
        updates: list[dict[str, Any]] = (),
    ) -> dict[str, Any]:
        """POST a CommitTableRequest (the spec's updates/requirements
        shape). A failed requirement surfaces as
        :class:`~..iceberg.concurrency.CommitConflictError` — the
        same exception the local optimistic-concurrency path raises,
        so retry loops are transport-agnostic."""
        return self._send(
            "POST",
            self._table_path(identifier),
            {"requirements": list(requirements), "updates": list(updates)},
        )

    def _table_path(self, identifier: str) -> str:
        from urllib.parse import quote

        parts = [p for p in identifier.split(".") if p]
        if len(parts) < 2:
            raise ValueError(
                f"identifier {identifier!r} needs at least namespace.table"
            )
        ns = quote(_SEP.join(parts[:-1]), safe="")
        return self._p(f"/namespaces/{ns}/tables/{quote(parts[-1], safe='')}")

    def _send(
        self, method: str, path: str, payload: dict[str, Any] | None
    ) -> dict[str, Any]:
        import urllib.error
        import urllib.request

        from .concurrency import CommitConflictError

        url = self.uri + path
        body = json.dumps(payload).encode("utf-8") if payload is not None else None
        req = urllib.request.Request(
            url,
            data=body,
            headers=self._headers(
                {"Content-Type": "application/json"} if body else None
            ),
            method=method,
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                raw = r.read()
                return json.loads(raw.decode("utf-8")) if raw.strip() else {}
        except urllib.error.HTTPError as e:
            detail = e.read().decode("utf-8", errors="replace")
            try:
                detail = json.loads(detail).get("error", {}).get("message", detail)
            except ValueError:
                pass
            if e.code == 409:
                raise CommitConflictError(detail) from None
            if e.code == 404:
                raise FileNotFoundError(
                    f"REST catalog {url!r}: HTTP 404 — {detail}"
                ) from None
            if e.code == 400:
                # a malformed/unsupported REQUEST is the caller's bug
                raise ValueError(
                    f"REST catalog {url!r}: HTTP 400 — {detail}"
                ) from None
            # 5xx/auth faults are SERVICE errors — same contract as
            # _get, so callers can retry/re-auth uniformly (ADVICE
            # r14: commit_table mapped these to ValueError while _get
            # raised RuntimeError for the identical fault class)
            raise RuntimeError(
                f"REST catalog {url!r}: HTTP {e.code} — {detail}"
            ) from None

    def _rename(self, kind: str, source: str, destination: str) -> None:
        def _obj(ident: str) -> dict[str, Any]:
            parts = [p for p in ident.split(".") if p]
            return {"namespace": parts[:-1], "name": parts[-1]}

        self._send(
            "POST",
            self._p(f"/{kind}/rename"),
            {"source": _obj(source), "destination": _obj(destination)},
        )

    def rename_table(self, source: str, destination: str) -> None:
        """POST /tables/rename — the catalog entry moves; the
        table's files stay where its metadata says they are."""
        self._rename("tables", source, destination)

    def rename_view(self, source: str, destination: str) -> None:
        self._rename("views", source, destination)

    def _exists(self, path: str) -> bool:
        """HEAD probe: 2xx → True, 404 → False, other faults raise
        (same contract as the GETs)."""
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self.uri + path, headers=self._headers(), method="HEAD"
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout):
                return True
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return False
            raise RuntimeError(
                f"REST catalog {self.uri + path!r}: HTTP {e.code}"
            ) from None

    def table_exists(self, identifier: str) -> bool:
        return self._exists(self._table_path(identifier))

    def view_exists(self, identifier: str) -> bool:
        from urllib.parse import quote

        parts = [p for p in identifier.split(".") if p]
        ns = quote(_SEP.join(parts[:-1]), safe="")
        return self._exists(
            self._p(f"/namespaces/{ns}/views/{quote(parts[-1], safe='')}")
        )

    def namespace_exists(self, namespace: str) -> bool:
        from urllib.parse import quote

        ns = quote(_SEP.join(namespace.split(".")), safe="")
        return self._exists(self._p(f"/namespaces/{ns}"))

    def create_namespace(
        self, namespace: str, properties: dict[str, str] | None = None
    ) -> dict[str, Any]:
        """POST a CreateNamespaceRequest (explicit namespaces list
        even while empty; 409 when it already exists)."""
        return self._send("POST", self._p("/namespaces"), {
            "namespace": namespace.split("."),
            "properties": dict(properties or {}),
        })

    def drop_namespace(self, namespace: str) -> None:
        """DELETE the namespace (409 while it still holds tables)."""
        from urllib.parse import quote

        ns = quote(_SEP.join(namespace.split(".")), safe="")
        self._send("DELETE", self._p(f"/namespaces/{ns}"), None)

    def update_namespace_properties(
        self,
        namespace: str,
        *,
        updates: dict[str, str] | None = None,
        removals: list[str] = (),
    ) -> dict[str, Any]:
        """POST an UpdateNamespacePropertiesRequest; returns the
        spec's {updated, removed, missing} report."""
        from urllib.parse import quote

        ns = quote(_SEP.join(namespace.split(".")), safe="")
        return self._send("POST", self._p(f"/namespaces/{ns}/properties"), {
            "updates": dict(updates or {}),
            "removals": list(removals),
        })

    def commit_transaction(
        self, table_changes: list[dict[str, Any]]
    ) -> dict[str, Any]:
        """POST a CommitTransactionRequest — N per-table change sets
        applied atomically (ALL commit or NONE). Each entry:
        ``{"identifier": "ns.table", "requirements": [...],
        "updates": [...]}`` (dotted identifiers accepted; converted
        to the spec's {namespace, name} object)."""
        changes = []
        for ch in table_changes:
            ident = ch.get("identifier")
            if isinstance(ident, str):
                parts = [p for p in ident.split(".") if p]
                ident = {"namespace": parts[:-1], "name": parts[-1]}
            changes.append({**ch, "identifier": ident})
        return self._send(
            "POST",
            self._p("/transactions/commit"),
            {"table-changes": changes},
        )

    # ------------------------------------------------------- views

    def list_views(self, namespace: str, *, page_size: int | None = None) -> list[str]:
        """Dotted ``ns.view`` identifiers (drains pagination)."""
        from urllib.parse import quote

        ns = quote(_SEP.join(namespace.split(".")), safe="")
        pages = self._get_paged(self._p(f"/namespaces/{ns}/views"), page_size)
        return sorted(
            ".".join(ident["namespace"]) + "." + ident["name"]
            for p in pages
            for ident in p.get("identifiers", [])
        )

    def load_view(self, identifier: str) -> dict[str, Any]:
        """The raw LoadViewResult for ``ns.view``."""
        from urllib.parse import quote

        parts = [p for p in identifier.split(".") if p]
        if len(parts) < 2:
            raise ValueError(
                f"identifier {identifier!r} needs at least namespace.view"
            )
        ns = quote(_SEP.join(parts[:-1]), safe="")
        return self._get(
            self._p(f"/namespaces/{ns}/views/{quote(parts[-1], safe='')}")
        )

    def create_view(
        self,
        namespace: str,
        name: str,
        sql: str,
        *,
        dialect: str = "spark",
        properties: dict[str, str] | None = None,
    ) -> dict[str, Any]:
        """POST a CreateViewRequest (view spec v1 shape: the initial
        view-version carries one SQL representation)."""
        from urllib.parse import quote

        ns = quote(_SEP.join(namespace.split(".")), safe="")
        body = {
            "name": name,
            "schema": {"schema-id": 0, "type": "struct", "fields": []},
            "view-version": {
                "version-id": 1,
                "schema-id": 0,
                "summary": {"operation": "create"},
                "default-namespace": namespace.split("."),
                "representations": [
                    {"type": "sql", "sql": sql, "dialect": dialect}
                ],
            },
            "properties": dict(properties or {}),
        }
        return self._send("POST", self._p(f"/namespaces/{ns}/views"), body)

    def replace_view(
        self, identifier: str, sql: str, *, dialect: str = "spark"
    ) -> dict[str, Any]:
        """CREATE OR REPLACE over REST: add-view-version +
        set-current-view-version(-1) in one commit."""
        from urllib.parse import quote

        parts = [p for p in identifier.split(".") if p]
        ns = quote(_SEP.join(parts[:-1]), safe="")
        body = {
            "updates": [
                {
                    "action": "add-view-version",
                    "view-version": {
                        "schema-id": 0,
                        "summary": {"operation": "replace"},
                        "default-namespace": parts[:-1],
                        "representations": [
                            {"type": "sql", "sql": sql, "dialect": dialect}
                        ],
                    },
                },
                {"action": "set-current-view-version", "view-version-id": -1},
            ],
        }
        return self._send(
            "POST",
            self._p(f"/namespaces/{ns}/views/{quote(parts[-1], safe='')}"),
            body,
        )

    def drop_view(self, identifier: str) -> None:
        from urllib.parse import quote

        parts = [p for p in identifier.split(".") if p]
        ns = quote(_SEP.join(parts[:-1]), safe="")
        self._send(
            "DELETE",
            self._p(f"/namespaces/{ns}/views/{quote(parts[-1], safe='')}"),
            None,
        )

    def create_table(
        self,
        namespace: str,
        name: str,
        schema: dict[str, Any],
        *,
        partition_spec: dict[str, Any] | None = None,
        properties: dict[str, str] | None = None,
        location: str | None = None,
    ) -> dict[str, Any]:
        """POST a CreateTableRequest; returns the LoadTableResult of
        the new (empty) table. 409 → CommitConflictError (table
        already exists, the spec's AlreadyExistsException slot)."""
        from urllib.parse import quote

        ns = quote(_SEP.join(namespace.split(".")), safe="")
        body: dict[str, Any] = {"name": name, "schema": schema}
        if partition_spec is not None:
            body["partition-spec"] = partition_spec
        if properties:
            body["properties"] = properties
        if location:
            body["location"] = location
        return self._send("POST", self._p(f"/namespaces/{ns}/tables"), body)

    def register_table(
        self, namespace: str, name: str, metadata_location: str
    ) -> dict[str, Any]:
        """POST a RegisterTableRequest — adopt an EXISTING
        metadata.json into the catalog without rewriting it."""
        from urllib.parse import quote

        ns = quote(_SEP.join(namespace.split(".")), safe="")
        return self._send(
            "POST",
            self._p(f"/namespaces/{ns}/register"),
            {"name": name, "metadata-location": metadata_location},
        )

    def drop_table(self, identifier: str, *, purge: bool = False) -> None:
        """DELETE the table from the catalog; ``purge`` also deletes
        its data/metadata files (the spec's purgeRequested flag)."""
        self._send(
            "DELETE",
            self._table_path(identifier) + ("?purgeRequested=true" if purge else ""),
            None,
        )

    def metadata_path(self, identifier: str, scratch_dir: str | None = None) -> str:
        """A LOCAL metadata.json path for the table: the service's
        ``metadata-location`` when it resolves on this filesystem
        (zero copies — the fixture server and any shared-fs catalog),
        else the inline ``metadata`` payload materialized under
        ``scratch_dir``."""
        res = self.load_table(identifier)
        loc = res.get("metadata-location", "")
        local = loc[7:] if loc.startswith("file://") else loc
        if local and os.path.exists(local):
            return local
        meta = res.get("metadata")
        if meta is None:
            raise FileNotFoundError(
                f"REST catalog returned neither a resolvable "
                f"metadata-location ({loc!r}) nor inline metadata for "
                f"{identifier!r}"
            )
        import tempfile

        d = scratch_dir or tempfile.mkdtemp(prefix="rest_meta_")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{identifier.replace('.', '_')}.metadata.json")
        with open(p, "w") as f:
            json.dump(meta, f)
        return p


def load_table_rest(
    spark,
    uri: str,
    identifier: str,
    snapshot_id: int | None = None,
    *,
    as_of_ms: int | None = None,
    client: "RestCatalogClient | None" = None,
):
    """By-name MoR read through a REST catalog — the REST twin of
    ``catalog.load_table`` with the same time-travel surface. Pass
    ``client`` to reuse an authenticated/prefixed client."""
    from .deletes import read_mor
    from .metadata import parse_metadata

    mpath = (client or RestCatalogClient(uri)).metadata_path(identifier)
    meta = parse_metadata(mpath)
    if as_of_ms is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id OR as_of_ms, not both")
        from .snapshots import snapshot_as_of

        snapshot_id = snapshot_as_of(meta, as_of_ms)
    if snapshot_id is None:
        snapshot_id = meta.current_snapshot_id
    if os.path.basename(os.path.dirname(mpath)) == "metadata":
        # metadata-location resolved in place: the table root is the
        # metadata dir's parent (same rule as catalog.load_table —
        # robust to moved warehouses whose `location` is stale)
        base_dir = os.path.dirname(os.path.dirname(mpath))
    else:
        # inline-materialized metadata: only `location` knows the root
        loc = meta.raw.get("location", "")
        base_dir = loc[7:] if loc.startswith("file://") else loc
        if not base_dir:
            raise ValueError(
                f"cannot locate data files for {identifier!r}: inline "
                f"metadata carries no location"
            )
    return read_mor(spark, mpath, snapshot_id, base_dir)


# ------------------------------------------------ driver-gate query


_GATE_SERVER: list[tuple[Any, str]] = []  # process-lifetime memo


def _gate_served_fixture() -> str:
    """Base URI of a process-lifetime fixture server over a
    READ-ONLY scratch warehouse (the same keep-until-exit discipline
    as the commit gates' ``_scratch_table``): the gate measures
    RESOLUTION, so per-call warehouse copies + server spin-up would
    only re-measure machinery. Write-path gates
    (``rest_commit_roundtrip``) build fresh mutable fixtures."""
    if _GATE_SERVER:
        return _GATE_SERVER[0][1]
    import atexit
    import shutil
    import tempfile

    from .deletes import MOR_DIR

    wh = tempfile.mkdtemp(prefix="rest_wh_")
    atexit.register(shutil.rmtree, wh, ignore_errors=True)
    root = os.path.join(wh, "db", "events")
    shutil.copytree(MOR_DIR, root)
    mdir = os.path.join(root, "metadata")
    for n in os.listdir(root):
        if n.endswith(".metadata.json"):
            shutil.move(os.path.join(root, n), os.path.join(mdir, n))
    server, uri = serve_rest_catalog(wh)
    atexit.register(server.shutdown)
    _GATE_SERVER.append((server, uri))
    return uri


def rest_catalog_rows(spark, sf_dir: str):
    """Driver gate for REST-catalog resolution (``sf_dir`` unused):
    the MoR fixture copied into a scratch HadoopCatalog warehouse and
    served through the local spec-derived REST server (process-
    lifetime, read-only); the gate resolves BY NAME over HTTP, reads
    the head (MoR deletes applied) and a time-traveled snapshot
    through the same surface, and lists the catalog. Golden oracle
    (the fixture's pinned row counts: 323 live at head-2004, 300
    before the 2003 delete commit)."""
    import pyspark.sql.functions as F

    uri = _gate_served_fixture()
    c = RestCatalogClient(uri)
    n_tables = sum(len(c.list_tables(ns)) for ns in c.list_namespaces())
    head = load_table_rest(spark, uri, "db.events").count()
    past = load_table_rest(spark, uri, "db.events", snapshot_id=2002).count()
    rows = [
        ("head_mor_rows", int(head)),
        ("rows_at_2002", int(past)),
        ("tables_listed", int(n_tables)),
    ]
    return spark.createDataFrame(rows, "measure string, value long").orderBy(
        F.col("measure")
    )


REST_CATALOG_SQL = """
SELECT measure, CAST(value AS BIGINT) AS value
FROM (VALUES ('head_mor_rows', 323), ('rows_at_2002', 300),
             ('tables_listed', 1)) t(measure, value)
ORDER BY measure
"""


# ------------------------------------------- local fixture server


def _apply_commit(
    warehouse: str,
    identifier: str,
    body: dict[str, Any],
) -> tuple[int, dict[str, Any]]:
    """Validate a CommitTableRequest against the table's CURRENT
    state and apply its updates as a new ``v(N+1).metadata.json``
    (tmp + atomic rename + version-hint, the HadoopCatalog commit
    protocol). Returns ``(http_status, payload)``; requirement
    failures are 409 (the spec's CommitFailedException), unsupported
    requirement/update kinds are 400 — never silently ignored."""
    import gzip

    from .catalog import current_metadata_path, write_version_hint
    from .commit import _canonical_metadata_uri, _write_metadata

    mpath = current_metadata_path(warehouse, identifier)
    opener = gzip.open if mpath.endswith(".gz") else open
    with opener(mpath, "rt") as f:
        raw = json.load(f)
    prev_ts = raw.get("last-updated-ms", 0)  # superseded file's stamp

    refs = raw.setdefault("refs", {})

    def _ref_head(name: str):
        if name in refs:
            return refs[name].get("snapshot-id")
        if name == "main":
            return raw.get("current-snapshot-id")
        return None

    for req in body.get("requirements", []):
        t = req.get("type")
        if t == "assert-table-uuid":
            if raw.get("table-uuid") != req.get("uuid"):
                return 409, {"error": {"message": (
                    f"table uuid changed: {raw.get('table-uuid')} != "
                    f"{req.get('uuid')}"), "type": "CommitFailedException",
                    "code": 409}}
        elif t == "assert-ref-snapshot-id":
            cur = _ref_head(req.get("ref"))
            want = req.get("snapshot-id")
            if cur != want:
                return 409, {"error": {"message": (
                    f"ref {req.get('ref')!r} moved: expected "
                    f"{want}, found {cur}"),
                    "type": "CommitFailedException", "code": 409}}
        elif t == "assert-current-schema-id":
            if raw.get("current-schema-id", 0) != req.get("current-schema-id"):
                return 409, {"error": {"message": (
                    f"current schema changed: expected "
                    f"{req.get('current-schema-id')}, found "
                    f"{raw.get('current-schema-id', 0)}"),
                    "type": "CommitFailedException", "code": 409}}
        elif t == "assert-default-spec-id":
            if raw.get("default-spec-id", 0) != req.get("default-spec-id"):
                return 409, {"error": {"message": (
                    f"default spec changed: expected "
                    f"{req.get('default-spec-id')}, found "
                    f"{raw.get('default-spec-id', 0)}"),
                    "type": "CommitFailedException", "code": 409}}
        elif t == "assert-next-row-id":
            # v3 row-lineage arbitration: a writer's staged file
            # first_row_ids are absolute offsets from the next-row-id
            # it staged against — a moved counter means a rival
            # consumed ids and the staged snapshot would collide
            if raw.get("next-row-id", 0) != req.get("next-row-id"):
                return 409, {"error": {"message": (
                    f"next-row-id moved: expected "
                    f"{req.get('next-row-id')}, found "
                    f"{raw.get('next-row-id', 0)}"),
                    "type": "CommitFailedException", "code": 409}}
        else:
            return 400, {"error": {"message": (
                f"unsupported requirement type {t!r}"), "code": 400}}

    snapshots = raw.setdefault("snapshots", [])
    by_id = {s["snapshot-id"]: s for s in snapshots}
    last_added_schema: int | None = None
    last_added_spec: int | None = None
    last_added_order: int | None = None
    for up in body.get("updates", []):
        a = up.get("action")
        if a == "add-snapshot":
            snap = up["snapshot"]
            snapshots.append(snap)
            by_id[snap["snapshot-id"]] = snap
            seq = snap.get("sequence-number")
            if seq is not None:
                raw["last-sequence-number"] = max(
                    raw.get("last-sequence-number", 0), seq
                )
            raw["last-updated-ms"] = max(
                raw.get("last-updated-ms", 0), snap.get("timestamp-ms", 0)
            )
        elif a == "set-snapshot-ref":
            name = up["ref-name"]
            sid = up["snapshot-id"]
            if sid not in by_id:
                return 400, {"error": {"message": (
                    f"set-snapshot-ref {name!r}: unknown snapshot {sid}"),
                    "code": 400}}
            entry = {"snapshot-id": sid, "type": up.get("type", "branch")}
            refs[name] = entry
            if name == "main":
                raw["current-snapshot-id"] = sid
                raw.setdefault("snapshot-log", []).append({
                    "timestamp-ms": by_id[sid].get(
                        "timestamp-ms", raw.get("last-updated-ms", 0)
                    ),
                    "snapshot-id": sid,
                })
        elif a == "remove-snapshots":
            ids = set(up.get("snapshot-ids") or [])
            pinned = {
                r.get("snapshot-id") for r in refs.values()
            } | {raw.get("current-snapshot-id")}
            stuck = sorted(ids & pinned)
            if stuck:
                return 400, {"error": {"message": (
                    f"remove-snapshots: {stuck} still referenced by a "
                    f"ref or current"), "code": 400}}
            raw["snapshots"] = [
                s for s in snapshots if s["snapshot-id"] not in ids
            ]
            snapshots = raw["snapshots"]
            by_id = {s["snapshot-id"]: s for s in snapshots}
            raw["snapshot-log"] = [
                e for e in raw.get("snapshot-log", [])
                if e["snapshot-id"] not in ids
            ]
        elif a == "remove-snapshot-ref":
            name = up.get("ref-name")
            if name == "main":
                return 400, {"error": {"message": (
                    "remove-snapshot-ref cannot drop main"), "code": 400}}
            refs.pop(name, None)
        elif a == "set-properties":
            raw.setdefault("properties", {}).update(up.get("updates", {}))
        elif a == "remove-properties":
            for k in up.get("removals", []):
                raw.get("properties", {}).pop(k, None)
        elif a == "add-schema":
            schema = up["schema"]
            schemas = raw.setdefault("schemas", [])
            if any(s.get("schema-id") == schema.get("schema-id") for s in schemas):
                return 400, {"error": {"message": (
                    f"add-schema: schema-id {schema.get('schema-id')} "
                    f"already exists"), "code": 400}}
            schemas.append(schema)
            last_added_schema = schema.get("schema-id")
            lci = up.get("last-column-id")
            field_ids = [f.get("id", 0) for f in schema.get("fields", [])]
            raw["last-column-id"] = max(
                raw.get("last-column-id", 0),
                lci if lci is not None else 0,
                max(field_ids, default=0),
            )
        elif a == "set-current-schema":
            sid = up["schema-id"]
            if sid == -1:  # the spec's "last added schema" sentinel
                if last_added_schema is None:
                    return 400, {"error": {"message": (
                        "set-current-schema -1 without a preceding "
                        "add-schema in this commit"), "code": 400}}
                sid = last_added_schema
            if not any(
                s.get("schema-id") == sid for s in raw.get("schemas", [])
            ):
                return 400, {"error": {"message": (
                    f"set-current-schema: unknown schema-id {sid}"),
                    "code": 400}}
            raw["current-schema-id"] = sid
        elif a == "add-spec":
            spec = up["spec"]
            specs = raw.setdefault("partition-specs", [])
            if any(s.get("spec-id") == spec.get("spec-id") for s in specs):
                return 400, {"error": {"message": (
                    f"add-spec: spec-id {spec.get('spec-id')} already "
                    f"exists"), "code": 400}}
            specs.append(spec)
            last_added_spec = spec.get("spec-id")
            pids = [f.get("field-id", 0) for f in spec.get("fields", [])]
            raw["last-partition-id"] = max(
                raw.get("last-partition-id", 999), max(pids, default=0)
            )
        elif a == "set-default-spec":
            sid = up["spec-id"]
            if sid == -1:  # "last added spec" sentinel
                if last_added_spec is None:
                    return 400, {"error": {"message": (
                        "set-default-spec -1 without a preceding "
                        "add-spec in this commit"), "code": 400}}
                sid = last_added_spec
            if not any(
                s.get("spec-id") == sid
                for s in raw.get("partition-specs", [])
            ):
                return 400, {"error": {"message": (
                    f"set-default-spec: unknown spec-id {sid}"), "code": 400}}
            raw["default-spec-id"] = sid
        elif a == "add-sort-order":
            order = up["sort-order"]
            orders = raw.setdefault("sort-orders", [])
            if any(o.get("order-id") == order.get("order-id") for o in orders):
                return 400, {"error": {"message": (
                    f"add-sort-order: order-id {order.get('order-id')} "
                    f"already exists"), "code": 400}}
            orders.append(order)
            last_added_order = order.get("order-id")
        elif a == "set-default-sort-order":
            oid = up["sort-order-id"]
            if oid == -1:
                if last_added_order is None:
                    return 400, {"error": {"message": (
                        "set-default-sort-order -1 without a preceding "
                        "add-sort-order in this commit"), "code": 400}}
                oid = last_added_order
            if not any(
                o.get("order-id") == oid for o in raw.get("sort-orders", [])
            ):
                return 400, {"error": {"message": (
                    f"set-default-sort-order: unknown order-id {oid}"),
                    "code": 400}}
            raw["default-sort-order-id"] = oid
        elif a == "set-statistics":
            stats = up["statistics"]
            kept = [s for s in raw.get("statistics", [])
                    if s.get("snapshot-id") != stats.get("snapshot-id")]
            raw["statistics"] = kept + [stats]
        elif a == "remove-statistics":
            raw["statistics"] = [
                s for s in raw.get("statistics", [])
                if s.get("snapshot-id") != up.get("snapshot-id")
            ]
        elif a == "set-partition-statistics":
            stats = up["partition-statistics"]
            kept = [s for s in raw.get("partition-statistics", [])
                    if s.get("snapshot-id") != stats.get("snapshot-id")]
            raw["partition-statistics"] = kept + [stats]
        elif a == "remove-partition-statistics":
            raw["partition-statistics"] = [
                s for s in raw.get("partition-statistics", [])
                if s.get("snapshot-id") != up.get("snapshot-id")
            ]
        elif a == "set-next-row-id":
            # v3 row-lineage arbitration partner of assert-next-row-id:
            # the counter only moves forward
            nid = int(up["next-row-id"])
            if nid < raw.get("next-row-id", 0):
                return 400, {"error": {"message": (
                    f"set-next-row-id: {nid} would move the counter "
                    f"backwards (current {raw.get('next-row-id', 0)})"),
                    "code": 400}}
            raw["next-row-id"] = nid
        elif a == "assign-uuid":
            raw["table-uuid"] = up["uuid"]
        elif a == "set-location":
            raw["location"] = up["location"]
        elif a == "upgrade-format-version":
            want = int(up["format-version"])
            have = int(raw.get("format-version", 2))
            if want < have:
                return 400, {"error": {"message": (
                    f"cannot downgrade format-version {have} → {want}"),
                    "code": 400}}
            raw["format-version"] = want
            if want >= 3:
                raw.setdefault("next-row-id", 0)
        else:
            return 400, {"error": {"message": (
                f"unsupported update action {a!r}"), "code": 400}}

    # the superseded metadata file joins the table's metadata-log and
    # last-updated-ms always moves forward (even for property-only
    # commits) — foreign tooling's rollback / metadata time-travel
    # depends on the log being complete (ADVICE r14: REST commits
    # were silently dropped from the history the FS commit path
    # records)
    raw["last-updated-ms"] = max(raw.get("last-updated-ms", 0), prev_ts + 1)
    raw.setdefault("metadata-log", []).append({
        "timestamp-ms": prev_ts,
        "metadata-file": _canonical_metadata_uri(
            mpath, os.path.dirname(os.path.dirname(mpath)), raw.get("location")
        ),
    })
    nxt = _write_metadata(mpath, raw)
    write_version_hint(nxt)
    return 200, {
        "metadata-location": f"file://{os.path.abspath(nxt)}",
        "metadata": raw,
        "config": {},
    }


def _resolve_kind(warehouse: str, ident: str) -> str:
    """'view' | 'table' for a warehouse entry (both share the
    HadoopCatalog layout; the metadata JSON's identity key
    discriminates — view-uuid vs table-uuid)."""
    import gzip

    from .catalog import current_metadata_path

    mpath = current_metadata_path(warehouse, ident)
    opener = gzip.open if mpath.endswith(".gz") else open
    with opener(mpath, "rt") as f:
        head = f.read(4096)
    return "view" if '"view-uuid"' in head else "table"


def _apply_view_commit(
    warehouse: str, identifier: str, body: dict[str, Any]
) -> tuple[int, dict[str, Any]]:
    """UpdateViewRequest: add-view-version /
    set-current-view-version(-1) applied as a new metadata version
    (the view spec's replace shape)."""
    from .catalog import current_metadata_path

    mpath = current_metadata_path(warehouse, identifier)
    with open(mpath) as f:
        raw = json.load(f)
    for req in body.get("requirements", []):
        if req.get("type") == "assert-view-uuid":
            if raw.get("view-uuid") != req.get("uuid"):
                return 409, {"error": {"message": "view uuid changed",
                             "type": "CommitFailedException", "code": 409}}
        else:
            return 400, {"error": {"message": (
                f"unsupported view requirement {req.get('type')!r}"),
                "code": 400}}
    last_added = None
    for up in body.get("updates", []):
        a = up.get("action")
        if a == "add-view-version":
            ver = dict(up["view-version"])
            vid = ver.get("version-id")
            existing = {v["version-id"] for v in raw["versions"]}
            if vid is None or vid in existing:
                vid = max(existing) + 1
                ver["version-id"] = vid
            ver.setdefault(
                "timestamp-ms",
                raw["versions"][-1]["timestamp-ms"] + 1000,
            )
            raw["versions"].append(ver)
            last_added = vid
        elif a == "set-current-view-version":
            vid = up["view-version-id"]
            if vid == -1:
                if last_added is None:
                    return 400, {"error": {"message": (
                        "set-current-view-version -1 without a "
                        "preceding add-view-version"), "code": 400}}
                vid = last_added
            if vid not in {v["version-id"] for v in raw["versions"]}:
                return 400, {"error": {"message": (
                    f"unknown view version {vid}"), "code": 400}}
            raw["current-version-id"] = vid
            raw.setdefault("version-log", []).append({
                "timestamp-ms": next(
                    v["timestamp-ms"] for v in raw["versions"]
                    if v["version-id"] == vid
                ),
                "version-id": vid,
            })
        elif a == "set-properties":
            raw.setdefault("properties", {}).update(up.get("updates", {}))
        elif a == "remove-properties":
            for k in up.get("removals", []):
                raw.get("properties", {}).pop(k, None)
        else:
            return 400, {"error": {"message": (
                f"unsupported view update action {a!r}"), "code": 400}}
    from .catalog import write_version_hint
    from .commit import _write_metadata

    nxt = _write_metadata(mpath, raw)
    write_version_hint(nxt)
    return 200, {
        "metadata-location": f"file://{os.path.abspath(nxt)}",
        "metadata": raw,
    }


def _apply_transaction(
    warehouse: str, body: dict[str, Any]
) -> tuple[int, dict[str, Any]]:
    """CommitTransactionRequest: N per-table change sets applied
    ATOMICALLY — all requirements validate against current state
    first; updates apply only if every table's commit succeeds, and
    a failure rolls back the tables already written (tmp files +
    version-hint restore), so a reader never observes a partial
    transaction."""
    changes = body.get("table-changes") or []
    if not changes:
        return 400, {"error": {"message": (
            "transaction with no table-changes"), "code": 400}}
    applied: list[tuple[str, str]] = []  # (new metadata path, identifier)
    try:
        for ch in changes:
            ident_obj = ch.get("identifier") or {}
            ns = ident_obj.get("namespace") or []
            name = ident_obj.get("name")
            if not ns or not name:
                # raise (not return): a malformed entry mid-list must
                # still roll back the tables already applied
                raise _TxnAbort(400, {"error": {"message": (
                    "table-changes entries need identifier "
                    "{namespace, name}"), "code": 400}})
            ident = ".".join(list(ns) + [name])
            code, payload = _apply_commit(warehouse, ident, ch)
            if code != 200:
                raise _TxnAbort(code, payload)
            new_path = payload["metadata-location"].removeprefix("file://")
            applied.append((new_path, ident))
        return 200, {"results": [
            {"identifier": i, "metadata-location": f"file://{p}"}
            for p, i in applied
        ]}
    except _TxnAbort as ab:
        # roll back every table already moved: drop the new version
        # file and restore the hint to the surviving newest version
        from .catalog import write_version_hint

        for p, _ident in applied:
            if os.path.exists(p):
                os.remove(p)
            mdir = os.path.dirname(p)
            versions = sorted(
                (int(_V_HINT.fullmatch(n).group(1)), n)
                for n in os.listdir(mdir)
                if _V_HINT.fullmatch(n)
            )
            if versions:
                write_version_hint(os.path.join(mdir, versions[-1][1]))
        return ab.code, ab.payload


class _TxnAbort(Exception):
    def __init__(self, code: int, payload: dict[str, Any]):
        self.code, self.payload = code, payload


_NS_MARKER = ".namespace.json"


def _ns_marker_path(warehouse: str, ns: list[str]) -> str:
    return os.path.join(warehouse, *ns, _NS_MARKER)


def _explicit_namespaces(warehouse: str) -> set[tuple[str, ...]]:
    """Namespaces created explicitly (marker files) — listed even
    while empty, unlike the implicit ones derived from tables."""
    out: set[tuple[str, ...]] = set()
    for root, _dirs, names in os.walk(warehouse):
        if _NS_MARKER in names:
            rel = os.path.relpath(root, warehouse)
            if rel != ".":
                out.add(tuple(rel.split(os.sep)))
    return out


def _ns_properties(warehouse: str, ns: list[str]) -> dict[str, str]:
    p = _ns_marker_path(warehouse, ns)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f).get("properties", {})
    return {}


def _paged(items: list, qs: dict[str, list[str]]) -> tuple[list, str | None]:
    """Slice a listing per the spec's opaque-token pagination:
    ``pageToken`` is (here) a stringified start offset — opaque to
    clients, who only echo it back — and ``pageSize`` caps the page.
    Returns ``(page, next_token_or_None)``."""
    start = 0
    tok = qs.get("pageToken", [None])[0]
    if tok:
        try:
            start = max(0, int(tok))
        except ValueError:
            start = 0
    size = qs.get("pageSize", [None])[0]
    if size is None:
        return items[start:], None
    n = max(1, int(size))
    page = items[start : start + n]
    nxt = start + n
    return page, (str(nxt) if nxt < len(items) else None)


def serve_rest_catalog(
    warehouse: str,
    *,
    prefix: str = "",
    port: int = 0,
    token: str | None = None,
    credentials: dict[str, str] | None = None,
):
    """Serve the catalog endpoints over a Hadoop-style warehouse
    directory on ``127.0.0.1:<ephemeral>`` in a daemon thread:

    * the READ side (config / namespaces / tables / load-table),
      with ``pageSize``/``pageToken`` pagination on both listings;
    * the COMMIT endpoint (POST CommitTableRequest —
      assert-ref-snapshot-id / assert-table-uuid /
      assert-current-schema-id / assert-default-spec-id
      requirements; add-snapshot / set-snapshot-ref /
      set-/remove-properties / add-schema / set-current-schema /
      add-spec / set-default-spec updates — applied atomically
      under a server-side lock);
    * CREATE TABLE (POST CreateTableRequest), REGISTER TABLE
      (POST RegisterTableRequest) and DROP TABLE (DELETE, with
      ``purgeRequested``);
    * optional auth: ``token`` requires ``Authorization: Bearer
      <token>`` on every catalog call; ``credentials``
      (client_id → secret) additionally serves the spec's OAuth2
      client-credentials flow at ``POST /v1/oauth/tokens``,
      minting that same bearer token.

    Returns ``(server, base_uri)``; call ``server.shutdown()`` when
    done. Resolution reuses the FS catalog (version-hint + listing
    fallback), so the served state is exactly what the FS catalog
    would resolve — the fixture trusts one resolver, not two."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, unquote

    from .catalog import current_metadata_path, list_tables

    pre = prefix.strip("/")
    commit_lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test output
            pass

        def _json(self, code: int, payload: dict[str, Any]) -> None:
            body = json.dumps(payload).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _err(self, code: int, msg: str) -> None:
            self._json(code, {"error": {"message": msg, "code": code}})

        def _authed(self) -> bool:
            if token is None:
                return True
            got = self.headers.get("Authorization", "")
            return got == f"Bearer {token}"

        def _route(self):
            """(parts-after-v1-and-prefix, query dict) or None after
            having replied with an error."""
            path, _, query = self.path.partition("?")
            parts = [unquote(p) for p in path.split("/") if p]
            if not parts or parts[0] != "v1":
                self._err(404, f"unknown path {self.path!r}")
                return None
            parts = parts[1:]
            if parts == ["config"] or parts[:2] == ["oauth", "tokens"]:
                return parts, parse_qs(query)
            if not self._authed():
                self._err(401, "missing or invalid bearer token")
                return None
            if pre:
                pre_parts = pre.split("/")
                if parts[: len(pre_parts)] != pre_parts:
                    self._err(404, f"unknown prefix in {self.path!r}")
                    return None
                parts = parts[len(pre_parts):]
            return parts, parse_qs(query)

        def do_GET(self):  # noqa: N802 (http.server API)
            r = self._route()
            if r is None:
                return None
            parts, qs = r
            if parts == ["config"]:
                return self._json(200, {
                    # next-row-id-arbitration: this server accepts
                    # assert-next-row-id / set-next-row-id in table
                    # commits, letting v3 row-lineage writers route
                    # commits through the catalog (newer REST spec
                    # drafts carry first-row-id on add-snapshot for
                    # the same purpose); clients must keep refusing
                    # v3 against servers not advertising it
                    "defaults": {"next-row-id-arbitration": "true"},
                    "overrides": {"prefix": pre} if pre else {},
                })
            if parts == ["namespaces"]:
                namespaces = sorted(
                    {
                        tuple(t.split(".")[:-1])
                        for t in list_tables(warehouse)
                    }
                    | _explicit_namespaces(warehouse)
                )
                page, nxt = _paged(
                    [list(ns) for ns in namespaces if ns], qs
                )
                return self._json(200, {
                    "namespaces": page,
                    **({"next-page-token": nxt} if nxt else {}),
                })
            if len(parts) == 2 and parts[0] == "namespaces":
                ns = parts[1].split(_SEP)
                known = {
                    tuple(t.split(".")[:-1]) for t in list_tables(warehouse)
                } | _explicit_namespaces(warehouse)
                if not any(k[: len(ns)] == tuple(ns) for k in known):
                    return self._err(
                        404, f"namespace {'.'.join(ns)!r} does not exist"
                    )
                return self._json(200, {
                    "namespace": ns,
                    "properties": _ns_properties(warehouse, ns),
                })
            if (
                len(parts) == 3
                and parts[0] == "namespaces"
                and parts[2] in ("tables", "views")
            ):
                ns = parts[1].split(_SEP)
                want = "view" if parts[2] == "views" else "table"
                idents = [
                    t for t in list_tables(warehouse)
                    if t.split(".")[:-1] == ns
                    and _resolve_kind(warehouse, t) == want
                ]
                page, nxt = _paged(
                    [
                        {"namespace": t.split(".")[:-1], "name": t.split(".")[-1]}
                        for t in idents
                    ],
                    qs,
                )
                return self._json(200, {
                    "identifiers": page,
                    **({"next-page-token": nxt} if nxt else {}),
                })
            if (
                len(parts) == 4
                and parts[0] == "namespaces"
                and parts[2] in ("tables", "views")
            ):
                ident = ".".join(parts[1].split(_SEP) + [parts[3]])
                want = "view" if parts[2] == "views" else "table"
                try:
                    mpath = current_metadata_path(warehouse, ident)
                    if _resolve_kind(warehouse, ident) != want:
                        return self._err(
                            404, f"{ident!r} is not a {want}"
                        )
                except FileNotFoundError as e:
                    return self._err(404, str(e))
                import gzip

                opener = gzip.open if mpath.endswith(".gz") else open
                with opener(mpath, "rt") as f:
                    meta = json.load(f)
                # realpath: a REGISTERED table's catalog entry is a
                # symlink; readers must locate data via the original
                # table layout, not the warehouse pointer
                return self._json(200, {
                    "metadata-location": f"file://{os.path.realpath(mpath)}",
                    "metadata": meta,
                    "config": {},
                })
            return self._err(404, f"unknown path {self.path!r}")

        def do_HEAD(self):  # noqa: N802 (http.server API)
            """Existence probes (the spec's HEAD endpoints): 204 when
            the namespace/table/view exists, 404 otherwise — no
            body, so clients can poll cheaply."""
            r = self._route()
            if r is None:
                return None
            parts, _qs = r
            exists = False
            if len(parts) == 2 and parts[0] == "namespaces":
                ns = tuple(parts[1].split(_SEP))
                known = {
                    tuple(t.split(".")[:-1]) for t in list_tables(warehouse)
                } | _explicit_namespaces(warehouse)
                exists = any(k[: len(ns)] == ns for k in known)
            elif (
                len(parts) == 4
                and parts[0] == "namespaces"
                and parts[2] in ("tables", "views")
            ):
                ident = ".".join(parts[1].split(_SEP) + [parts[3]])
                want = "view" if parts[2] == "views" else "table"
                try:
                    current_metadata_path(warehouse, ident)
                    exists = _resolve_kind(warehouse, ident) == want
                except FileNotFoundError:
                    exists = False
            else:
                return self._err(404, f"unknown path {self.path!r}")
            self.send_response(204 if exists else 404)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def _read_body(self, *, form: bool = False):
            length = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(length) if length else b""
            if form:
                from urllib.parse import parse_qs as _pq

                return {k: v[0] for k, v in _pq(raw.decode("utf-8")).items()}
            return json.loads(raw) if raw.strip() else {}

        def do_POST(self):  # noqa: N802 (http.server API)
            r = self._route()
            if r is None:
                return None
            parts, _qs = r
            if parts[:2] == ["oauth", "tokens"]:
                if not credentials:
                    return self._err(404, "token endpoint not enabled")
                form = self._read_body(form=True)
                if form.get("grant_type") != "client_credentials":
                    return self._err(
                        400, f"unsupported grant_type {form.get('grant_type')!r}"
                    )
                cid = form.get("client_id", "")
                if credentials.get(cid) != form.get("client_secret"):
                    return self._err(401, "invalid client credentials")
                return self._json(200, {
                    "access_token": token or "",
                    "token_type": "bearer",
                })
            try:
                body = self._read_body()
            except ValueError:
                return self._err(400, "request body is not JSON")
            # POST /namespaces → CREATE NAMESPACE
            if parts == ["namespaces"]:
                ns = body.get("namespace") or []
                if not ns:
                    return self._err(400, "CreateNamespaceRequest needs namespace")
                marker = _ns_marker_path(warehouse, ns)
                with commit_lock:
                    if os.path.exists(marker):
                        return self._json(409, {"error": {
                            "message": f"namespace {'.'.join(ns)} already exists",
                            "type": "AlreadyExistsException", "code": 409}})
                    os.makedirs(os.path.dirname(marker), exist_ok=True)
                    with open(marker, "w") as f:
                        json.dump(
                            {"properties": body.get("properties") or {}}, f
                        )
                return self._json(200, {
                    "namespace": list(ns),
                    "properties": body.get("properties") or {},
                })
            # POST /namespaces/{ns}/properties → UPDATE PROPERTIES
            if (
                len(parts) == 3
                and parts[0] == "namespaces"
                and parts[2] == "properties"
            ):
                ns = parts[1].split(_SEP)
                marker = _ns_marker_path(warehouse, ns)
                known = {
                    tuple(t.split(".")[:-1]) for t in list_tables(warehouse)
                } | _explicit_namespaces(warehouse)
                if not any(k[: len(ns)] == tuple(ns) for k in known):
                    return self._err(
                        404, f"namespace {'.'.join(ns)!r} does not exist"
                    )
                removals = body.get("removals") or []
                updates = body.get("updates") or {}
                overlap = sorted(set(removals) & set(updates))
                if overlap:
                    return self._err(
                        400, f"keys in both removals and updates: {overlap}"
                    )
                with commit_lock:
                    props = _ns_properties(warehouse, ns)
                    removed = [k for k in removals if k in props]
                    missing = [k for k in removals if k not in props]
                    for k in removed:
                        props.pop(k, None)
                    props.update(updates)
                    os.makedirs(os.path.dirname(marker), exist_ok=True)
                    with open(marker, "w") as f:
                        json.dump({"properties": props}, f)
                return self._json(200, {
                    "updated": sorted(updates),
                    "removed": removed,
                    "missing": missing,
                })
            # POST /tables/rename | /views/rename
            if len(parts) == 2 and parts[1] == "rename" and parts[0] in (
                "tables", "views"
            ):
                return self._rename(parts[0], body)
            # POST /transactions/commit → atomic multi-table commit
            if parts == ["transactions", "commit"]:
                with commit_lock:
                    try:
                        code, payload = _apply_transaction(warehouse, body)
                    except FileNotFoundError as e:
                        return self._err(404, str(e))
                    except (KeyError, TypeError, ValueError) as e:
                        return self._err(
                            400,
                            f"malformed transaction: {type(e).__name__}: {e}",
                        )
                return self._json(code, payload)
            # POST /namespaces/{ns}/tables → CREATE TABLE
            if len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "tables":
                return self._create(parts[1].split(_SEP), body)
            # POST /namespaces/{ns}/views → CREATE VIEW
            if len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "views":
                return self._create_view(parts[1].split(_SEP), body)
            # POST /namespaces/{ns}/register → REGISTER TABLE
            if len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "register":
                return self._register(parts[1].split(_SEP), body)
            if not (
                len(parts) == 4
                and parts[0] == "namespaces"
                and parts[2] in ("tables", "views")
            ):
                return self._err(404, f"unknown path {self.path!r}")
            ident = ".".join(parts[1].split(_SEP) + [parts[3]])
            apply = _apply_view_commit if parts[2] == "views" else _apply_commit
            with commit_lock:
                try:
                    code, payload = apply(warehouse, ident, body)
                except FileNotFoundError as e:
                    return self._err(404, str(e))
                except (KeyError, TypeError, ValueError) as e:
                    # malformed CommitTableRequest → the spec's 400
                    # payload, never a dropped connection (review r14)
                    return self._err(
                        400, f"malformed commit request: {type(e).__name__}: {e}"
                    )
            return self._json(code, payload)

        def _rename(self, kind: str, body: dict[str, Any]):
            """RenameTableRequest shape: {source: {namespace, name},
            destination: {namespace, name}} — the catalog entry
            moves; data files never do (the table location is
            recorded in its metadata)."""
            want = "view" if kind == "views" else "table"

            def _ident(o):
                o = o or {}
                ns, name = o.get("namespace") or [], o.get("name")
                return (list(ns), name) if ns and name else (None, None)

            src_ns, src_name = _ident(body.get("source"))
            dst_ns, dst_name = _ident(body.get("destination"))
            if not src_name or not dst_name:
                return self._err(
                    400, "rename needs source + destination identifiers"
                )
            src_id = ".".join(src_ns + [src_name])
            with commit_lock:
                try:
                    current_metadata_path(warehouse, src_id)
                    if _resolve_kind(warehouse, src_id) != want:
                        return self._err(404, f"{src_id!r} is not a {want}")
                except FileNotFoundError as e:
                    return self._err(404, str(e))
                src_dir = os.path.join(warehouse, *src_ns, src_name)
                dst_dir = os.path.join(warehouse, *dst_ns, dst_name)
                if os.path.isdir(os.path.join(dst_dir, "metadata")):
                    return self._json(409, {"error": {
                        "message": f"{'.'.join(dst_ns + [dst_name])} "
                                   f"already exists",
                        "type": "AlreadyExistsException", "code": 409}})
                os.makedirs(os.path.dirname(dst_dir), exist_ok=True)
                os.rename(src_dir, dst_dir)
            self.send_response(204)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def _create_view(self, ns: list[str], body: dict[str, Any]):
            from .views import create_view as fs_create_view

            name = body.get("name")
            ver = body.get("view-version") or {}
            reps = [r for r in ver.get("representations", [])
                    if r.get("type") == "sql"]
            if not name or not reps:
                return self._err(
                    400,
                    "CreateViewRequest needs name + a view-version with "
                    "an sql representation",
                )
            root = os.path.join(warehouse, *ns, name)
            with commit_lock:
                if os.path.isdir(os.path.join(root, "metadata")):
                    return self._json(409, {"error": {
                        "message": f"view {'.'.join(ns)}.{name} already exists",
                        "type": "AlreadyExistsException", "code": 409}})
                mpath = fs_create_view(
                    root,
                    reps[0]["sql"],
                    dialect=reps[0].get("dialect", "spark"),
                    default_namespace=ver.get("default-namespace") or ns,
                    properties=body.get("properties") or {},
                )
            with open(mpath) as f:
                meta = json.load(f)
            return self._json(200, {
                "metadata-location": f"file://{os.path.abspath(mpath)}",
                "metadata": meta,
            })

        def _load_result(self, mpath: str) -> dict[str, Any]:
            with open(mpath) as f:
                meta = json.load(f)
            return {
                "metadata-location": f"file://{os.path.abspath(mpath)}",
                "metadata": meta,
                "config": {},
            }

        def _create(self, ns: list[str], body: dict[str, Any]):
            from .commit import create_table

            name = body.get("name")
            schema = body.get("schema") or {}
            if not name or not schema.get("fields"):
                return self._err(400, "CreateTableRequest needs name + schema")
            root = os.path.join(warehouse, *ns, name)
            with commit_lock:
                if os.path.isdir(os.path.join(root, "metadata")):
                    return self._json(409, {"error": {
                        "message": f"table {'.'.join(ns)}.{name} already exists",
                        "type": "AlreadyExistsException", "code": 409}})
                spec = body.get("partition-spec") or {}
                part_by = []
                by_id = {f["id"]: f for f in schema["fields"]}
                for pf in spec.get("fields", []):
                    src = by_id.get(pf.get("source-id"))
                    if src is None:
                        return self._err(
                            400,
                            f"partition-spec source-id {pf.get('source-id')} "
                            f"not in schema",
                        )
                    part_by.append((pf["name"], pf.get("transform", "identity"),
                                    src["name"]))
                try:
                    mpath = create_table(
                        root,
                        list(schema["fields"]),
                        partition_by=part_by,
                        properties=body.get("properties") or {},
                        table_uuid=body.get(
                            "table-uuid",
                            "00000000-0000-0000-0000-0000000000c1",
                        ),
                        location=body.get("location"),
                    )
                except ValueError as e:
                    return self._err(400, str(e))
            return self._json(200, self._load_result(mpath))

        def _register(self, ns: list[str], body: dict[str, Any]):
            name = body.get("name")
            loc = body.get("metadata-location", "")
            local = loc[7:] if loc.startswith("file://") else loc
            if not name or not local:
                return self._err(
                    400, "RegisterTableRequest needs name + metadata-location"
                )
            if not os.path.exists(local):
                return self._err(404, f"metadata-location {loc!r} not found")
            root = os.path.join(warehouse, *ns, name)
            with commit_lock:
                if os.path.isdir(os.path.join(root, "metadata")):
                    return self._json(409, {"error": {
                        "message": f"table {'.'.join(ns)}.{name} already exists",
                        "type": "AlreadyExistsException", "code": 409}})
                # adopt WITHOUT rewriting: the catalog entry is a
                # SYMLINK to the existing metadata file (spec:
                # register never copies the table) — the FS resolver
                # sees a vN.metadata.json, and reads resolve the REAL
                # path so data files locate via the original layout
                mdir = os.path.join(root, "metadata")
                os.makedirs(mdir)
                base = os.path.basename(local)
                link = os.path.join(
                    mdir,
                    base if _V_HINT.fullmatch(base) else "v1.metadata.json",
                )
                os.symlink(os.path.abspath(local), link)
            return self._json(200, self._load_result(local))

        def do_DELETE(self):  # noqa: N802 (http.server API)
            r = self._route()
            if r is None:
                return None
            parts, qs = r
            # DELETE /namespaces/{ns} → DROP NAMESPACE (must be empty)
            if len(parts) == 2 and parts[0] == "namespaces":
                ns = parts[1].split(_SEP)
                marker = _ns_marker_path(warehouse, ns)
                with commit_lock:
                    holds = [
                        t for t in list_tables(warehouse)
                        if t.split(".")[: len(ns)] == ns
                    ]
                    if holds:
                        return self._err(409, (
                            f"namespace {'.'.join(ns)!r} is not empty: "
                            f"{holds[:3]}"
                        ))
                    if not os.path.exists(marker):
                        return self._err(
                            404, f"namespace {'.'.join(ns)!r} does not exist"
                        )
                    os.remove(marker)
                    d = os.path.dirname(marker)
                    if not os.listdir(d):
                        os.rmdir(d)
                self.send_response(204)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return None
            if not (
                len(parts) == 4
                and parts[0] == "namespaces"
                and parts[2] in ("tables", "views")
            ):
                return self._err(404, f"unknown path {self.path!r}")
            ident = ".".join(parts[1].split(_SEP) + [parts[3]])
            purge = qs.get("purgeRequested", ["false"])[0].lower() == "true"
            if parts[2] == "views":
                purge = True  # a view IS its metadata; nothing else to keep
            with commit_lock:
                try:
                    mpath = current_metadata_path(warehouse, ident)
                except FileNotFoundError as e:
                    return self._err(404, str(e))
                import shutil

                root = os.path.join(warehouse, *ident.split("."))
                if purge:
                    shutil.rmtree(root, ignore_errors=True)
                else:
                    # drop the catalog ENTRY only: unlink the
                    # warehouse dir's metadata resolution, keep files
                    # when the table body lives elsewhere (register)
                    shutil.rmtree(
                        os.path.join(root, "metadata"), ignore_errors=True
                    )
                    if not os.path.isdir(os.path.join(root, "data")):
                        shutil.rmtree(root, ignore_errors=True)
                _ = mpath
            self.send_response(204)
            self.send_header("Content-Length", "0")
            self.end_headers()

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, f"http://127.0.0.1:{server.server_address[1]}"
