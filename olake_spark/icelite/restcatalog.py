"""REST-shaped catalog service + client — the Iceberg REST catalog's role
(`destination/iceberg/iceberg_utils.go:197-260` wires the reference's four
catalog backends behind one interface; the REST one is a service holding the
table registry AND the commit linearization point) re-expressed as a
localhost HTTP process over icelite tables.

Why this exists when `icelite.Catalog` (HadoopCatalog shape) already works:
a filesystem catalog's atomicity is secretly filesystem-shaped — O_EXCL
creates, POSIX renames. The REST catalog proves the `Catalog` interface is
not: the SERVER owns the identifier→location registry (so `rename_table` is
a pure metadata move that works on object-store FileIO, where HadoopCatalog
must refuse), and every table COMMIT routes through the server's
conditional-PUT endpoint — version `n` commits only if `n == current + 1`,
checked and written under the server's lock, so two racing writers get
exactly one 201 and one 409 regardless of what filesystem (if any) backs
the clients.

Protocol (Iceberg-REST-ish, trimmed to what icelite needs):

    GET  /v1/config                               → health / server info
    GET  /v1/namespaces                           → {"namespaces": [...]}
    GET  /v1/namespaces/{ns}/tables               → {"identifiers": [...]}
    POST /v1/namespaces/{ns}/tables {"name","location"?}  → 201 register
    GET  /v1/namespaces/{ns}/tables/{name}        → {"location","version"}
    DELETE /v1/namespaces/{ns}/tables/{name}[?purgeRequested=true]
    POST /v1/tables/rename {"source","destination"} → registry-only move
    POST /v1/namespaces/{ns}/tables/{name}/commit
         {"version": n, "metadata": {...}}        → 201 | 409 (CAS)

Storage split mirrors the real service: data/manifest bytes go straight
from executors to storage (the client's base FileIO); only the tiny
metadata-pointer swing goes through the catalog. The server persists its
registry to ``<warehouse>/_catalog.json`` after every mutation and rebuilds
from it on restart; the commit endpoint writes the versioned metadata file
with O_EXCL semantics, so even a rogue direct-path writer racing the server
is linearized by the same primitive.

Run standalone:  python -m olake_spark.icelite.restcatalog \
                     --warehouse /path/wh --port 8181
"""

from __future__ import annotations

import json
import os
import threading
import urllib.error
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.types import StructType

from .catalog import (NoSuchTableError, TableAlreadyExistsError,
                      check_not_reserved, split_identifier)
from .clone import snapshot_table as _snapshot_table
from .fileio import FileIO, LocalFileIO, default_io
from .table import Table, metadata_version

# ------------------------------------------------------------------ server


class _CatalogState:
    """Registry + commit authority. One instance per server process; every
    mutation runs under `lock` and is flushed to _catalog.json."""

    def __init__(self, warehouse: str):
        self.warehouse = os.path.abspath(warehouse)
        self.lock = threading.Lock()
        self.io = LocalFileIO()  # the server sits next to the storage
        self.io.makedirs(self.warehouse)
        self._reg_path = os.path.join(self.warehouse, "_catalog.json")
        self.registry: dict[str, str] = {}  # "ns.name" -> table root
        if os.path.exists(self._reg_path):
            self.registry = json.loads(self.io.read_text(self._reg_path))

    def _flush(self) -> None:
        self.io.write_text_atomic(
            self._reg_path, json.dumps(self.registry, sort_keys=True)
        )

    # every method below runs under self.lock (handler acquires it)

    def create(self, ident: str, location: str | None) -> dict:
        # validate server-side: raw HTTP clients must not be able to mint
        # reserved names (_x.y) or dotted names that split_identifier-based
        # clients can never address or drop (handler maps ValueError → 400)
        check_not_reserved(ident)
        if ident in self.registry:
            raise KeyError("exists")
        ns, name = ident.split(".", 1)
        root = os.path.abspath(
            location or os.path.join(self.warehouse, ns, name)
        )
        if location is not None and self.current_version(root) == 0:
            # an explicit location only arrives via register_table (plain
            # creates let the server mint a warehouse path), so the root
            # must hold an EXISTING table readable through the server's own
            # io: the server is the commit authority — a table it cannot
            # see (invisible root or unparseable metadata dir) would CAS
            # against version 0 forever and purge nothing on drop
            raise ValueError(
                "location has no table metadata the catalog server can "
                "read; the REST catalog requires server-local storage"
            )
        self.registry[ident] = root
        self._flush()
        return {"location": root}

    def drop(self, ident: str, purge: bool) -> None:
        root = self.registry.pop(ident, None)
        if root is None:
            raise KeyError("missing")
        self._flush()
        if purge:
            self.io.rmtree(root)

    def rename(self, src: str, dst: str) -> dict:
        if src not in self.registry:
            raise KeyError("missing")
        if dst in self.registry:
            raise KeyError("exists")
        self.registry[dst] = self.registry.pop(src)
        self._flush()
        return {"location": self.registry[dst]}

    def current_version(self, root: str) -> int:
        meta_dir = os.path.join(root, "metadata")
        try:
            names = self.io.list_dir(meta_dir)
        except FileNotFoundError:
            return 0  # versions start at v00001
        vs = [v for n in names if (v := metadata_version(n)) is not None]
        return max(vs) if vs else 0

    def commit(self, ident: str, version: int, meta: dict) -> bool:
        """The CAS: version must be exactly current+1; the O_EXCL metadata
        create makes the check safe even against direct-path writers."""
        root = self.registry.get(ident)
        if root is None:
            raise KeyError("missing")
        meta_dir = os.path.join(root, "metadata")
        if version != self.current_version(root) + 1:
            return False
        target = os.path.join(meta_dir, f"v{version:05d}.metadata.json")
        self.io.makedirs(meta_dir)
        if not self.io.atomic_create_json(target, meta):
            return False
        self.io.write_text_atomic(
            os.path.join(meta_dir, "version-hint.text"), str(version)
        )
        return True


def _make_handler(state: _CatalogState):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        # ---------------------------------------------------- plumbing

        def _send(self, code: int, body: dict | None = None) -> None:
            data = json.dumps(body or {}).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n) or b"{}")

        def _route(self):
            parsed = urllib.parse.urlparse(self.path)
            parts = [p for p in parsed.path.split("/") if p]
            query = urllib.parse.parse_qs(parsed.query)
            return parts, query

        # ------------------------------------------------------- verbs

        def do_GET(self):
            parts, _ = self._route()
            with state.lock:
                if parts == ["v1", "config"]:
                    return self._send(200, {"warehouse": state.warehouse})
                if parts == ["v1", "namespaces"]:
                    ns = sorted({i.split(".", 1)[0] for i in state.registry})
                    return self._send(200, {"namespaces": [[n] for n in ns]})
                if (
                    len(parts) == 4
                    and parts[:2] == ["v1", "namespaces"]
                    and parts[3] == "tables"
                ):
                    ns = parts[2]
                    idents = sorted(
                        i for i in state.registry
                        if i.split(".", 1)[0] == ns
                    )
                    return self._send(200, {
                        "identifiers": [
                            {"namespace": [ns], "name": i.split(".", 1)[1]}
                            for i in idents
                        ]
                    })
                if (
                    len(parts) == 5
                    and parts[:2] == ["v1", "namespaces"]
                    and parts[3] == "tables"
                ):
                    ident = f"{parts[2]}.{parts[4]}"
                    root = state.registry.get(ident)
                    if root is None:
                        return self._send(404, {"error": "no such table"})
                    return self._send(200, {
                        "location": root,
                        "version": state.current_version(root),
                    })
            self._send(404, {"error": "no route"})

        def do_POST(self):
            parts, _ = self._route()
            body = self._body()
            with state.lock:
                if (
                    len(parts) == 4
                    and parts[:2] == ["v1", "namespaces"]
                    and parts[3] == "tables"
                ):
                    ident = f"{parts[2]}.{body['name']}"
                    try:
                        out = state.create(ident, body.get("location"))
                    except KeyError:
                        return self._send(409, {"error": "already exists"})
                    except ValueError as e:
                        return self._send(400, {"error": str(e)})
                    return self._send(201, out)
                if parts == ["v1", "tables", "rename"]:
                    try:
                        check_not_reserved(body["destination"])
                        out = state.rename(body["source"], body["destination"])
                    except ValueError as e:
                        return self._send(400, {"error": str(e)})
                    except KeyError as e:
                        code = 409 if "exists" in str(e) else 404
                        return self._send(code, {"error": str(e)})
                    return self._send(200, out)
                if (
                    len(parts) == 6
                    and parts[:2] == ["v1", "namespaces"]
                    and parts[3] == "tables"
                    and parts[5] == "commit"
                ):
                    ident = f"{parts[2]}.{parts[4]}"
                    try:
                        ok = state.commit(
                            ident, int(body["version"]), body["metadata"]
                        )
                    except KeyError:
                        return self._send(404, {"error": "no such table"})
                    return self._send(
                        201 if ok else 409,
                        {"committed": ok},
                    )
            self._send(404, {"error": "no route"})

        def do_DELETE(self):
            parts, query = self._route()
            with state.lock:
                if (
                    len(parts) == 5
                    and parts[:2] == ["v1", "namespaces"]
                    and parts[3] == "tables"
                ):
                    ident = f"{parts[2]}.{parts[4]}"
                    purge = query.get("purgeRequested", ["false"])[0] == "true"
                    try:
                        state.drop(ident, purge)
                    except KeyError:
                        return self._send(404, {"error": "no such table"})
                    return self._send(204)
            self._send(404, {"error": "no route"})

    return Handler


def serve(warehouse: str, port: int = 0) -> ThreadingHTTPServer:
    """Build (not start) the server; .server_address[1] is the bound port."""
    state = _CatalogState(warehouse)
    return ThreadingHTTPServer(("127.0.0.1", port), _make_handler(state))


def main(argv: list[str] | None = None) -> None:
    import argparse

    ap = argparse.ArgumentParser(description="icelite REST catalog service")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--port", type=int, default=8181)
    args = ap.parse_args(argv)
    srv = serve(args.warehouse, args.port)
    print(f"icelite-rest-catalog on 127.0.0.1:{srv.server_address[1]} "
          f"warehouse={args.warehouse}", flush=True)
    srv.serve_forever()


# ------------------------------------------------------------------ client


class _Http:
    def __init__(self, uri: str):
        self.uri = uri.rstrip("/")

    def call(self, method: str, path: str, body: dict | None = None):
        req = urllib.request.Request(
            f"{self.uri}{path}",
            data=None if body is None else json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
            method=method,
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as r:
                return r.status, json.loads(r.read() or b"{}")
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read() or b"{}")


class RestCommitIO(FileIO):
    """FileIO whose commit linearization point is the catalog service:
    `atomic_create_json` of a table's versioned metadata file becomes the
    conditional-PUT commit endpoint (the server checks version == current+1
    and writes the file itself); every other operation — data files,
    manifests, listings — goes straight to the wrapped base FileIO, exactly
    the real REST catalog's storage split."""

    def __init__(self, base: FileIO, http: _Http, ident: str, root: str):
        self._base = base
        self._http = http
        self._ident = ident
        self._meta_dir = os.path.join(os.path.abspath(root), "metadata")

    def atomic_create_json(self, target: str, meta: dict) -> bool:
        version = metadata_version(os.path.basename(target))
        if (
            os.path.dirname(os.path.abspath(target)) == self._meta_dir
            and version is not None
        ):
            ns, tbl = self._ident.split(".", 1)
            code, _ = self._http.call(
                "POST",
                f"/v1/namespaces/{ns}/tables/{tbl}/commit",
                {"version": version, "metadata": meta},
            )
            if code == 404:
                raise NoSuchTableError(self._ident)
            return code == 201
        return self._base.atomic_create_json(target, meta)

    # everything else: straight delegation to storage
    def write_text_atomic(self, path, data):
        return self._base.write_text_atomic(path, data)

    def read_text(self, path):
        return self._base.read_text(path)

    def list_dir(self, path):
        return self._base.list_dir(path)

    def walk_files(self, root):
        return self._base.walk_files(root)

    def list_files(self, path):
        return self._base.list_files(path)

    def makedirs(self, path):
        return self._base.makedirs(path)

    def remove(self, path):
        return self._base.remove(path)

    def remove_many(self, paths):
        return self._base.remove_many(paths)

    def rmtree(self, path):
        return self._base.rmtree(path)


class RestCatalog:
    """Client with the same surface as `icelite.Catalog`, backed by the
    service. Tables it hands out commit THROUGH the service (RestCommitIO),
    and `rename_table` works on any FileIO — the registry move is pure
    server-side metadata, no storage rename at all."""

    def __init__(self, spark, uri: str, io: FileIO | None = None):
        self.spark = spark
        self._http = _Http(uri)
        self.io = io or default_io()
        code, cfg = self._http.call("GET", "/v1/config")
        if code != 200:
            raise ConnectionError(f"catalog service unreachable at {uri}")
        self.warehouse = cfg["warehouse"]

    _split = staticmethod(split_identifier)

    def _ident(self, identifier: str) -> str:
        ns, name = check_not_reserved(identifier)
        return f"{ns}.{name}"

    # ----------------------------------------------------------------- DDL

    def create_table(
        self, identifier: str, schema: StructType, **create_kwargs
    ) -> Table:
        ident = self._ident(identifier)
        ns, name = ident.split(".", 1)
        code, out = self._http.call(
            "POST", f"/v1/namespaces/{ns}/tables", {"name": name}
        )
        if code == 409:
            raise TableAlreadyExistsError(identifier)
        root = out["location"]
        try:
            return Table.create(
                self.spark, root, schema,
                io=RestCommitIO(self.io, self._http, ident, root),
                **create_kwargs,
            )
        except Exception:
            # roll the registration back so a failed create doesn't squat
            self._http.call(
                "DELETE", f"/v1/namespaces/{ns}/tables/{name}"
            )
            raise

    def register_table(self, identifier: str, root: str) -> Table:
        """Iceberg's `register_table` procedure: catalog an EXISTING table
        root under an identifier — pure registry metadata, no bytes move.
        The commit CAS stays correct automatically because the server
        derives a table's current version from its metadata directory, not
        from the registry. The root is validated FIRST (its newest
        metadata must load) so a bogus path can never squat a name.
        The filesystem catalog refuses this by design — HadoopCatalog
        parity: there the path IS the identifier.

        Constraint: the catalog SERVER reads versions (for the commit CAS)
        and purges through its own local-filesystem io, so the registered
        root must live on storage the server can see. The server enforces
        this at create time: an existing metadata dir it cannot read → 400."""
        ident = self._ident(identifier)
        root = os.path.abspath(root)
        # validate through the catalog's own FileIO — the same storage the
        # registered table will be read/committed through
        Table(None, root, io=self.io).refresh()
        ns, name = ident.split(".", 1)
        code, out = self._http.call(
            "POST", f"/v1/namespaces/{ns}/tables",
            {"name": name, "location": root},
        )
        if code == 409:
            raise TableAlreadyExistsError(identifier)
        if code not in (200, 201):
            raise ConnectionError(
                f"register_table({identifier}) failed: HTTP {code} {out!r}"
            )
        return self.load_table(identifier)

    def load_table(self, identifier: str) -> Table:
        ident = self._ident(identifier)
        ns, name = ident.split(".", 1)
        code, out = self._http.call(
            "GET", f"/v1/namespaces/{ns}/tables/{name}"
        )
        if code != 200:
            raise NoSuchTableError(identifier)
        root = out["location"]
        return Table.load(
            self.spark, root,
            io=RestCommitIO(self.io, self._http, ident, root),
        )

    def table_exists(self, identifier: str) -> bool:
        try:
            ns, name = check_not_reserved(identifier)
        except ValueError:
            return False
        code, _ = self._http.call(
            "GET", f"/v1/namespaces/{ns}/tables/{name}"
        )
        return code == 200

    def list_namespaces(self) -> list[str]:
        _, out = self._http.call("GET", "/v1/namespaces")
        return sorted(n[0] for n in out.get("namespaces", []))

    def list_tables(self, namespace: str = "default") -> list[str]:
        _, out = self._http.call(
            "GET", f"/v1/namespaces/{namespace}/tables"
        )
        return sorted(
            f"{namespace}.{i['name']}" for i in out.get("identifiers", [])
        )

    def drop_table(self, identifier: str, purge: bool = False) -> None:
        ns, name = check_not_reserved(identifier)
        q = "?purgeRequested=true" if purge else ""
        code, _ = self._http.call(
            "DELETE", f"/v1/namespaces/{ns}/tables/{name}{q}"
        )
        if code != 204:
            raise NoSuchTableError(identifier)

    def rename_table(self, src: str, dst: str) -> Table:
        code, _ = self._http.call(
            "POST", "/v1/tables/rename",
            {"source": self._ident(src), "destination": self._ident(dst)},
        )
        if code == 404:
            raise NoSuchTableError(src)
        if code == 409:
            raise TableAlreadyExistsError(dst)
        return self.load_table(dst)

    def snapshot_table(self, src: str, dst: str) -> Table:
        ident = self._ident(dst)
        ns, name = ident.split(".", 1)
        code, out = self._http.call(
            "POST", f"/v1/namespaces/{ns}/tables", {"name": name}
        )
        if code == 409:
            raise TableAlreadyExistsError(dst)
        try:
            return _snapshot_table(
                self.load_table(src), out["location"],
                io=RestCommitIO(self.io, self._http, ident, out["location"]),
            )
        except Exception:
            self._http.call("DELETE", f"/v1/namespaces/{ns}/tables/{name}")
            raise


if __name__ == "__main__":
    main()
