"""Pluggable catalog seam: internal/hadoop (directory) and REST backends.

Reference parity: the reference validates ``catalog_type ∈ {internal,
rest, hadoop}`` and requires ``catalog_uri`` for non-internal catalogs
(reference operations/table_ops.c:62-72,176-181). Here the seam is the
:class:`Catalog` protocol — ``LakeCatalog`` (directory warehouse,
lakehouse.py) is the ``internal``/``hadoop`` backend, and
:class:`RestCatalog` speaks a minimal HTTP API modeled on the public
Apache Iceberg REST catalog spec (config / namespaces / tables CRUD /
rename), resolving table names to storage locations. Data/metadata IO
still goes through :class:`~pg_lakehouse_spark.lakehouse.LakeTable`
at the resolved location — the catalog only answers "where is table X
and does it exist", exactly the reference's split between PgCatalog
and the Iceberg bridge.

Scale note: the catalog is metadata-plane only (a few KB per call);
nothing here is on the per-row hot path.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request
from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pg_lakehouse_spark.lakehouse import (
    LakeCatalog,
    LakehouseError,
    LakeTable,
    init_table_at,
)

CATALOG_TYPES = ("internal", "hadoop", "rest")


@runtime_checkable
class Catalog(Protocol):
    """What every catalog backend must answer. ``LakeCatalog``
    structurally satisfies this; new backends (rest, jdbc, glue...)
    implement it explicitly."""

    def table_exists(self, namespace: str, name: str) -> bool: ...

    def create_table(
        self,
        namespace: str,
        name: str,
        schema: StructType,
        properties: dict | None = None,
        if_not_exists: bool = False,
        partition_by: list[str] | None = None,
    ) -> LakeTable: ...

    def create_table_as(
        self,
        namespace: str,
        name: str,
        df: DataFrame,
        properties: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> LakeTable: ...

    def load_table(self, namespace: str, name: str) -> LakeTable: ...

    def drop_table(self, namespace: str, name: str, purge: bool = False) -> None: ...

    def rename_table(
        self, namespace: str, name: str, new_namespace: str, new_name: str
    ) -> None: ...

    def list_tables(self, namespace: str | None = None) -> list[tuple[str, str]]: ...


def catalog(
    spark: SparkSession,
    catalog_type: str = "internal",
    warehouse: str | None = None,
    uri: str | None = None,
    token: str | None = None,
) -> Catalog:
    """Catalog factory mirroring the reference's option validation
    (table_ops.c:62-72: type whitelist; :176-181: uri required for
    non-internal)."""
    if catalog_type not in CATALOG_TYPES:
        raise LakehouseError(
            f"unsupported catalog_type {catalog_type!r}; expected one of "
            f"{CATALOG_TYPES}"
        )
    if catalog_type in ("internal", "hadoop"):
        # hadoop ≡ directory layout rooted at a (possibly remote) uri;
        # internal defaults to the local warehouse. Same backend here —
        # the path just may carry an s3a://... scheme.
        root = warehouse if catalog_type == "internal" else (uri or warehouse)
        if not root:
            raise LakehouseError(f"{catalog_type} catalog requires a warehouse path")
        return LakeCatalog(spark, root)
    if not uri:
        raise LakehouseError(
            "rest catalog requires catalog_uri (reference table_ops.c:176-181)"
        )
    return RestCatalog(spark, uri, token=token)


class RestCatalog:
    """REST catalog client (endpoints modeled on the public Iceberg
    REST catalog OpenAPI): the server owns the name→location mapping;
    this client initializes/opens ``LakeTable`` state at the location
    the server returns (shared-storage assumption, as with any REST
    catalog deployment)."""

    def __init__(
        self,
        spark: SparkSession,
        uri: str,
        timeout: float = 10.0,
        token: str | None = None,
    ):
        self.spark = spark
        self.uri = uri.rstrip("/")
        self.timeout = timeout
        # Bearer-token auth per the Iceberg REST spec's `token` client
        # property: every request (including the initial /v1/config
        # handshake) carries `Authorization: Bearer <token>`.
        self.token = token
        self._config = self._request("GET", "/v1/config") or {}

    # -- transport ---------------------------------------------------------

    def _request(self, method: str, path: str, body: dict | None = None):
        headers = {"Content-Type": "application/json"}
        if self.token:
            headers["Authorization"] = f"Bearer {self.token}"
        req = urllib.request.Request(
            self.uri + path,
            method=method,
            data=json.dumps(body).encode() if body is not None else None,
            headers=headers,
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                payload = resp.read()
                return json.loads(payload) if payload else None
        except urllib.error.HTTPError as exc:
            if exc.code == 404:
                return None
            raise LakehouseError(
                f"rest catalog {method} {path} failed: HTTP {exc.code}"
            ) from exc
        except urllib.error.URLError as exc:
            raise LakehouseError(
                f"rest catalog unreachable at {self.uri}: {exc.reason}"
            ) from exc

    def _table_path(self, namespace: str, name: str) -> str:
        ns = urllib.parse.quote(namespace, safe="")
        return f"/v1/namespaces/{ns}/tables/{urllib.parse.quote(name, safe='')}"

    def _location(self, namespace: str, name: str) -> str | None:
        resp = self._request("GET", self._table_path(namespace, name))
        return resp.get("metadata-location") if resp else None

    # -- Catalog protocol --------------------------------------------------

    def table_exists(self, namespace: str, name: str) -> bool:
        return self._location(namespace, name) is not None

    def create_table(
        self,
        namespace: str,
        name: str,
        schema: StructType,
        properties: dict | None = None,
        if_not_exists: bool = False,
        partition_by: list[str] | None = None,
    ) -> LakeTable:
        existing = self._location(namespace, name)
        if existing is not None:
            if if_not_exists:
                return LakeTable(self.spark, existing)
            raise LakehouseError(f"table {namespace}.{name} already exists")
        self._request(
            "POST", "/v1/namespaces", {"namespace": [namespace]}
        )  # idempotent on the server
        ns = urllib.parse.quote(namespace, safe="")
        resp = self._request(
            "POST", f"/v1/namespaces/{ns}/tables", {"name": name}
        )
        loc = resp["metadata-location"]
        # Same creation path as the directory catalog — one snapshot
        # format regardless of backend.
        return init_table_at(
            self.spark, loc, schema, properties, partition_by=partition_by
        )

    def create_table_as(
        self,
        namespace: str,
        name: str,
        df: DataFrame,
        properties: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> LakeTable:
        tbl = self.create_table(
            namespace, name, df.schema, properties, partition_by=partition_by
        )
        tbl.append(df)
        return tbl

    def load_table(self, namespace: str, name: str) -> LakeTable:
        loc = self._location(namespace, name)
        if loc is None:
            raise LakehouseError(f"table {namespace}.{name} does not exist")
        return LakeTable(self.spark, loc)

    def drop_table(self, namespace: str, name: str, purge: bool = False) -> None:
        loc = self._location(namespace, name)
        if loc is None:
            raise LakehouseError(f"table {namespace}.{name} does not exist")
        self._request(
            "DELETE",
            self._table_path(namespace, name) + f"?purgeRequested={str(purge).lower()}",
        )

    def rename_table(
        self, namespace: str, name: str, new_namespace: str, new_name: str
    ) -> None:
        if not self.table_exists(namespace, name):
            raise LakehouseError(f"table {namespace}.{name} does not exist")
        if self.table_exists(new_namespace, new_name):
            raise LakehouseError(
                f"table {new_namespace}.{new_name} already exists"
            )
        self._request(
            "POST",
            "/v1/tables/rename",
            {
                "source": {"namespace": [namespace], "name": name},
                "destination": {"namespace": [new_namespace], "name": new_name},
            },
        )

    def list_tables(self, namespace: str | None = None) -> list[tuple[str, str]]:
        if namespace is not None:
            spaces = [namespace]
        else:
            resp = self._request("GET", "/v1/namespaces") or {"namespaces": []}
            spaces = [ns[0] for ns in resp["namespaces"]]
        out: list[tuple[str, str]] = []
        for ns in spaces:
            nsq = urllib.parse.quote(ns, safe="")
            resp = self._request("GET", f"/v1/namespaces/{nsq}/tables")
            for ident in (resp or {}).get("identifiers", []):
                out.append((ns, ident["name"]))
        return sorted(out)

    # -- ref sync ----------------------------------------------------------
    # Branch/tag refs are local files per table (lakehouse.py _refs.json).
    # In a REST-catalog deployment the catalog owns the refs (Iceberg
    # keeps them in the table metadata the catalog points at), so the
    # client must be able to publish local refs and adopt remote ones.
    # The protocol mirrors the Iceberg REST commit shape: the refs
    # document carries a sequence number and a push states the sequence
    # it based on (≙ `assert-ref-snapshot-id` requirements) — the server
    # answers 409 when someone else pushed first, and sync retries from
    # a fresh pull. Metadata-plane only: the document is a few bytes per
    # ref, never data.

    def _refs_endpoint(self, namespace: str, name: str) -> str:
        return self._table_path(namespace, name) + "/refs"

    def remote_refs(self, namespace: str, name: str) -> tuple[dict, int]:
        """The server's refs document for a table: ({tags, branches},
        seq). A table that never synced has seq 0 and empty refs."""
        resp = self._request("GET", self._refs_endpoint(namespace, name))
        if not resp:
            return {"tags": {}, "branches": {}}, 0
        refs = resp.get("refs") or {}
        return (
            {
                "tags": dict(refs.get("tags", {})),
                "branches": dict(refs.get("branches", {})),
            },
            int(resp.get("seq", 0)),
        )

    def push_refs(self, namespace: str, name: str) -> int:
        """Publish the table's local tags/branches to the server
        (compare-and-swap on the refs sequence; raises on a concurrent
        push — pull first or use :meth:`sync_refs`). Returns the new
        remote sequence."""
        table = self.load_table(namespace, name)
        tags, branches = table._load_refs()
        _, seq = self.remote_refs(namespace, name)
        resp = self._request(
            "POST",
            self._refs_endpoint(namespace, name),
            {
                "refs": {"tags": tags, "branches": branches},
                "expected-seq": seq,
            },
        )
        return int(resp["seq"])

    def pull_refs(self, namespace: str, name: str) -> dict:
        """Adopt the server's refs locally: union with remote-wins on
        name conflicts (the catalog is the publication point, so a ref
        someone else pushed supersedes the local pin of the same name;
        local-only refs survive). Remote refs whose snapshot is missing
        from this warehouse's metadata are skipped — shared-storage
        deployments never hit this, it guards a partial mirror."""
        import os

        table = self.load_table(namespace, name)
        remote, _ = self.remote_refs(namespace, name)
        with table._commit_lock():
            tags, branches = table._load_refs()
            skipped = {}
            for kind, local in (("tags", tags), ("branches", branches)):
                for ref, v in remote[kind].items():
                    if os.path.exists(table._meta_path(int(v))):
                        local[ref] = int(v)
                    else:
                        skipped[ref] = int(v)
            table._write_refs(tags, branches)
        return {"tags": tags, "branches": branches, "skipped": skipped}

    def sync_refs(self, namespace: str, name: str, retries: int = 3) -> int:
        """Converge local and remote refs: pull (remote-wins merge),
        then push the merged set; on a concurrent-push 409 re-pull and
        retry. Returns the remote sequence the merged set landed at."""
        last: Exception | None = None
        for _ in range(retries + 1):
            self.pull_refs(namespace, name)
            try:
                return self.push_refs(namespace, name)
            except LakehouseError as exc:  # 409: somebody pushed first
                if "HTTP 409" not in str(exc):
                    raise
                last = exc
        raise LakehouseError(
            f"refs for {namespace}.{name} kept changing on the server "
            f"({retries + 1} attempts)"
        ) from last
