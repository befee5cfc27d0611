"""Iceberg REST-catalog protocol: client + in-repo fake service.

The reference commits table metadata through a pluggable real Iceberg
``Catalog`` (config surface ``core/.../config/RemoteStorageManagerConfig
.java:261-284`` — ``iceberg.catalog.class`` + namespace; applied in
``iceberg/IcebergTableManager.java:46-95``), which in production is
typically the REST or Hive catalog. This module implements the PUBLIC
Iceberg REST Catalog API (the ``rest-catalog-open-api.yaml`` spec
published with Apache Iceberg) for the subset a single-table writer
needs:

- ``GET  /v1/config``                                → catalog config
- ``POST /v1/namespaces``                            → create namespace
- ``GET  /v1/namespaces/{ns}/tables/{table}``        → LoadTableResponse
- ``POST /v1/namespaces/{ns}/tables``                → create table
- ``POST /v1/namespaces/{ns}/tables/{table}``        → commit
  (CommitTableRequest: ``requirements`` + ``updates``; 409
  CommitFailedException when a requirement fails)

Division of labor follows the real protocol: the WRITER stages data
files, manifests, manifest lists and Puffin stats; the CATALOG SERVICE
owns the metadata.json pointer — it validates the commit requirements,
applies the metadata updates, persists the new ``v{N}.metadata.json``
and answers loads with the current metadata. Optimistic concurrency is
the requirement list (``assert-create`` / ``assert-table-uuid`` /
``assert-ref-snapshot-id``); a losing writer gets 409 and must reload +
rebase. Every verb that takes ``max_commit_retries`` (appends, deletes,
DVs, merge, update, replace and the rewrite/expire maintenance) does so
through the one bounded retry loop, ``iceberg.state.commit_with_retries``;
the metadata-only verbs (spec, schema, refs, NDV stats) make one attempt
and raise the conflict. The service applies the update list with the
same ``iceberg.state.apply_updates`` the file layout's ``publish`` uses.

``FakeRestCatalogServer`` is the in-repo stand-in for a real service
(same pattern as the schema-registry and GCS/Azure fakes): an
``http.server`` speaking the wire protocol verbatim, backed by the same
``v{N}.metadata.json`` + ``version-hint.text`` files the HadoopCatalog
layout uses — so a table committed through REST remains openable by any
external file-layout reader and by ``plan_scan``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import urllib.error
import urllib.request

from tiered_storage_for_apache_kafka_spark.sources.iceberg.state import (
    CommitConflictError,
    _write_metadata_version,
    check_requirements,
    next_metadata,
)


class NoSuchTableError(Exception):
    pass


class CatalogHttpError(RuntimeError):
    """Non-commit catalog error, typed so callers can branch on the
    spec's error type (e.g. AlreadyExistsException)."""

    def __init__(self, code: int, error_type: str, message: str):
        super().__init__(f"{code} {error_type}: {message}")
        self.code = code
        self.error_type = error_type


# ---------------------------------------------------------------------------
# Fake service
# ---------------------------------------------------------------------------


class FakeRestCatalogServer:
    """Minimal Iceberg REST catalog service for tests/dev: in-memory
    namespace + table registry, metadata persisted to each table's
    ``metadata/`` dir in the HadoopCatalog file layout so file-based
    readers interoperate. Start with ``start()`` (returns base URL),
    stop with ``stop()``; usable as a context manager."""

    def __init__(self):
        self._lock = threading.Lock()
        self._namespaces: set[str] = set()
        # (ns, table) -> {"metadata": dict, "version": int, "location": str}
        self._tables: dict[tuple[str, str], dict] = {}
        self._server = None
        self._thread = None
        self.commit_count = 0
        self.conflict_count = 0

    # -- state ops (also callable directly, e.g. to simulate a
    # concurrent writer in tests) -----------------------------------------

    def load(self, ns: str, table: str) -> dict | None:
        with self._lock:
            entry = self._tables.get((ns, table))
            return None if entry is None else json.loads(json.dumps(entry))

    def create_table(self, ns: str, table: str, metadata: dict) -> dict:
        with self._lock:
            if (ns, table) in self._tables:
                raise ValueError("table exists")
            entry = {
                "metadata": metadata,
                "version": 1,
                "location": metadata["location"],
            }
            self._tables[(ns, table)] = entry
            self._persist(entry)
            return json.loads(json.dumps(entry))

    def commit(
        self, ns: str, table: str, requirements: list[dict], updates: list[dict],
        now_ms: int,
    ) -> dict:
        with self._lock:
            self.commit_count += 1
            entry = self._tables.get((ns, table))
            cur_meta = None if entry is None else entry["metadata"]
            err = check_requirements(cur_meta, requirements)
            if err is not None:
                self.conflict_count += 1
                raise CommitConflictError(err)
            if entry is None:
                raise NoSuchTableError(f"{ns}.{table}")
            # the same next-version function the file layout's publish
            # uses: updates applied, superseded version on metadata-log
            new_meta = next_metadata(
                entry["location"], entry["version"], cur_meta, updates,
                now_ms,
            )
            entry = {
                "metadata": new_meta,
                "version": entry["version"] + 1,
                "location": entry["location"],
            }
            self._tables[(ns, table)] = entry
            self._persist(entry)
            return json.loads(json.dumps(entry))

    @staticmethod
    def _persist(entry: dict) -> None:
        meta_dir = os.path.join(entry["location"], "metadata")
        os.makedirs(meta_dir, exist_ok=True)
        _write_metadata_version(meta_dir, entry["version"], entry["metadata"])

    def metadata_location(self, entry: dict) -> str:
        return os.path.join(
            entry["location"], "metadata", f"v{entry['version']}.metadata.json"
        )

    # -- HTTP plumbing -----------------------------------------------------

    def start(self) -> str:
        import http.server

        catalog = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _error(self, code: int, typ: str, msg: str) -> None:
                self._send(
                    code,
                    {"error": {"message": msg, "type": typ, "code": code}},
                )

            def do_GET(self):
                if self.path.startswith("/v1/config"):
                    self._send(200, {"defaults": {}, "overrides": {}})
                    return
                m = re.fullmatch(
                    r"/v1/namespaces/([^/]+)/tables/([^/]+)", self.path
                )
                if m:
                    entry = catalog.load(m.group(1), m.group(2))
                    if entry is None:
                        self._error(
                            404, "NoSuchTableException",
                            f"Table does not exist: {m.group(1)}.{m.group(2)}",
                        )
                        return
                    self._send(
                        200,
                        {
                            "metadata-location": catalog.metadata_location(entry),
                            "metadata": entry["metadata"],
                            "config": {},
                        },
                    )
                    return
                self._error(404, "NoSuchRouteException", self.path)

            def do_POST(self):
                length = int(self.headers.get("Content-Length", 0))
                body = json.loads(self.rfile.read(length) or b"{}")
                if self.path == "/v1/namespaces":
                    ns = "\x1f".join(body.get("namespace", []))
                    with catalog._lock:
                        if ns in catalog._namespaces:
                            exists = True
                        else:
                            exists = False
                            catalog._namespaces.add(ns)
                    if exists:
                        # spec: duplicate create-namespace is a 409
                        self._error(
                            409, "AlreadyExistsException",
                            f"Namespace already exists: {ns}",
                        )
                        return
                    self._send(200, {"namespace": body.get("namespace", [])})
                    return
                m = re.fullmatch(r"/v1/namespaces/([^/]+)/tables", self.path)
                if m:
                    try:
                        entry = catalog.create_table(
                            m.group(1), body["name"], body["metadata"]
                        )
                    except ValueError:
                        self._error(
                            409, "AlreadyExistsException",
                            f"Table already exists: {body.get('name')}",
                        )
                        return
                    self._send(
                        200,
                        {
                            "metadata-location": catalog.metadata_location(entry),
                            "metadata": entry["metadata"],
                            "config": {},
                        },
                    )
                    return
                m = re.fullmatch(
                    r"/v1/namespaces/([^/]+)/tables/([^/]+)", self.path
                )
                if m:
                    try:
                        entry = catalog.commit(
                            m.group(1),
                            m.group(2),
                            body.get("requirements", []),
                            body.get("updates", []),
                            int(body.get("now-ms", 0)),
                        )
                    except CommitConflictError as e:
                        self._error(409, "CommitFailedException", str(e))
                        return
                    except NoSuchTableError as e:
                        self._error(404, "NoSuchTableException", str(e))
                        return
                    self._send(
                        200,
                        {
                            "metadata-location": catalog.metadata_location(entry),
                            "metadata": entry["metadata"],
                        },
                    )
                    return
                self._error(404, "NoSuchRouteException", self.path)

        self._server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

    def __enter__(self):
        self.base_url = self.start()
        return self

    def __exit__(self, *exc):
        self.stop()


# ---------------------------------------------------------------------------
# Client
# ---------------------------------------------------------------------------


class CachingCatalog:
    """Expire-after-write cache over a catalog client's table
    operations — parity with the reference's
    ``iceberg/NamespaceAwareCachingCatalog.java`` (Iceberg's
    ``CachingCatalog.wrap(catalog, expirationMs)`` when
    ``iceberg.catalog.cache.enabled``; default expiration 600 000 ms —
    ``RemoteStorageManagerConfig.java:121-131``). Namespace operations
    delegate uncached, as the reference's wrapper does.

    Correctness under writers: a successful commit CACHES its response
    (the commit result IS the fresh table), and a conflict INVALIDATES
    the entry before re-raising — so the reload-and-rebase loop,
    ``commit_with_retries``, always rebases from live state instead of
    spinning on its own cached staleness until TTL. Cross-reader
    staleness is bounded by the TTL, exactly the trade the reference's
    doc describes. ``expiration_seconds == 0`` disables caching;
    ``-1`` (or ``float('inf')``) = never expire — matching the
    '-1 = infinite' convention of every other TTL in this config
    surface."""

    def __init__(self, inner, expiration_seconds: float = 600.0, clock=None):
        import time

        self.inner = inner
        self.namespace = inner.namespace
        self.expiration = (
            float("inf") if expiration_seconds == -1 else expiration_seconds
        )
        self._clock = clock or time.monotonic
        self._cache: dict[str, tuple[dict, float]] = {}
        self.hits = 0
        self.misses = 0

    # namespace ops: uncached delegation
    def config(self) -> dict:
        return self.inner.config()

    def ensure_namespace(self) -> None:
        self.inner.ensure_namespace()

    def invalidate(self, table: str) -> None:
        self._cache.pop(table, None)

    def load_table(self, table: str) -> dict | None:
        if self.expiration > 0:
            entry = self._cache.get(table)
            if entry is not None:
                resp, ts = entry
                if self._clock() - ts <= self.expiration:
                    self.hits += 1
                    return json.loads(json.dumps(resp))
                del self._cache[table]
        self.misses += 1
        resp = self.inner.load_table(table)
        if resp is not None and self.expiration > 0:
            # store a PRISTINE copy: the returned object may be mutated
            # by the caller; hits copy back out of the pristine entry
            self._cache[table] = (json.loads(json.dumps(resp)), self._clock())
        return resp

    def create_table(self, table: str, metadata: dict) -> dict:
        resp = self.inner.create_table(table, metadata)
        if self.expiration > 0:
            self._cache[table] = (json.loads(json.dumps(resp)), self._clock())
        return resp

    def commit_table(
        self, table: str, requirements: list[dict], updates: list[dict],
        now_ms: int,
    ) -> dict:
        try:
            resp = self.inner.commit_table(table, requirements, updates, now_ms)
        except CommitConflictError:
            # a rival moved the head: the cached entry is definitionally
            # stale — drop it so the caller's rebase reloads live state
            self.invalidate(table)
            raise
        if self.expiration > 0:
            self._cache[table] = (json.loads(json.dumps(resp)), self._clock())
        return resp


class RestCatalogClient:
    """urllib client for the REST catalog subset above. All methods
    speak the spec's request/response bodies; conflicts surface as
    ``CommitConflictError`` so callers can reload-and-rebase."""

    def __init__(self, base_url: str, namespace: str = "default", timeout: float = 10.0):
        self.base_url = base_url.rstrip("/")
        self.namespace = namespace
        self.timeout = timeout

    def _request(self, method: str, path: str, payload: dict | None = None) -> dict:
        req = urllib.request.Request(
            self.base_url + path,
            method=method,
            data=None if payload is None else json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return json.loads(resp.read() or b"{}")
        except urllib.error.HTTPError as e:
            body = e.read()
            try:
                err = json.loads(body)["error"]
            except Exception:
                err = {"message": body.decode("utf-8", "replace"), "type": "?"}
            if err.get("type") == "CommitFailedException" or (
                e.code == 409 and "Commit" in str(err.get("type"))
            ):
                raise CommitConflictError(err.get("message", "")) from None
            if e.code == 404 and err.get("type") == "NoSuchTableException":
                raise NoSuchTableError(err.get("message", "")) from None
            raise CatalogHttpError(
                e.code, err.get("type", "?"), err.get("message", "")
            ) from None

    def config(self) -> dict:
        return self._request("GET", "/v1/config")

    def ensure_namespace(self) -> None:
        try:
            self._request(
                "POST", "/v1/namespaces", {"namespace": [self.namespace]}
            )
        except CatalogHttpError as e:
            # a spec-compliant service 409s when the namespace exists —
            # which is exactly the state we want
            if e.error_type != "AlreadyExistsException":
                raise

    def load_table(self, table: str) -> dict | None:
        try:
            return self._request(
                "GET", f"/v1/namespaces/{self.namespace}/tables/{table}"
            )
        except NoSuchTableError:
            return None

    def create_table(self, table: str, metadata: dict) -> dict:
        try:
            return self._request(
                "POST",
                f"/v1/namespaces/{self.namespace}/tables",
                {"name": table, "metadata": metadata},
            )
        except CatalogHttpError as e:
            if e.error_type == "AlreadyExistsException":
                # a concurrent writer created the table first — same
                # recovery as a commit conflict: reload and rebase
                raise CommitConflictError(str(e)) from None
            raise

    def commit_table(
        self,
        table: str,
        requirements: list[dict],
        updates: list[dict],
        now_ms: int,
    ) -> dict:
        return self._request(
            "POST",
            f"/v1/namespaces/{self.namespace}/tables/{table}",
            {
                "identifier": {
                    "namespace": [self.namespace], "name": table,
                },
                "requirements": requirements,
                "updates": updates,
                "now-ms": now_ms,
            },
        )
