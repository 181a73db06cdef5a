"""REST catalog service tests: the same DDL surface as the filesystem
catalog, exercised over a real HTTP server running in a SEPARATE PROCESS —
plus the behaviors only a service can offer (object-store rename, routed
commit CAS) and commit races through the HTTP backend."""

import os
import re
import subprocess
import sys
import threading
import time

import pytest

from olake_spark import datagen
from olake_spark.icelite import Table
from olake_spark.icelite.catalog import (NoSuchTableError,
                                         TableAlreadyExistsError)
from olake_spark.icelite.fileio import FakeObjectStoreFileIO
from olake_spark.icelite.restcatalog import RestCatalog
from olake_spark.operators.compact import run_compaction


@pytest.fixture(scope="module")
def service(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    proc = subprocess.Popen(
        [sys.executable, "-m", "olake_spark.icelite.restcatalog",
         "--warehouse", wh, "--port", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        cwd="/root/repo", env={**os.environ, "PYTHONPATH": "/root/repo"},
    )
    line = proc.stdout.readline()
    m = re.search(r"127\.0\.0\.1:(\d+)", line)
    assert m, f"server failed to start: {line!r}"
    uri = f"http://127.0.0.1:{m.group(1)}"
    yield uri, wh
    proc.terminate()
    proc.wait(timeout=10)


@pytest.fixture()
def cat(spark, service):
    return RestCatalog(spark, service[0])


def _fresh(name):
    # module-scoped server: give each test its own identifiers
    return f"{name}_{time.time_ns() % 10**9}"


def test_create_load_list_roundtrip(spark, cat):
    ns = _fresh("raw")
    t = cat.create_table(f"{ns}.images", datagen.IMAGES_SCHEMA,
                         identifier_fields=("image_id",))
    t.append(datagen.gen_images_df(spark, 30))
    assert cat.table_exists(f"{ns}.images")
    assert cat.list_tables(ns) == [f"{ns}.images"]
    assert ns in cat.list_namespaces()
    assert cat.load_table(f"{ns}.images").scan().count() == 30


def test_create_conflicts_and_missing(spark, cat):
    ns = _fresh("a")
    cat.create_table(f"{ns}.t", datagen.IMAGES_SCHEMA)
    with pytest.raises(TableAlreadyExistsError):
        cat.create_table(f"{ns}.t", datagen.IMAGES_SCHEMA)
    with pytest.raises(NoSuchTableError):
        cat.load_table(f"{ns}.nope")
    with pytest.raises(ValueError):
        cat.load_table("_reserved.x")


def test_drop_without_purge_preserves_bytes(spark, cat):
    ns = _fresh("d")
    t = cat.create_table(f"{ns}.t", datagen.IMAGES_SCHEMA)
    t.append(datagen.gen_images_df(spark, 10))
    root = t.root
    cat.drop_table(f"{ns}.t")
    assert not cat.table_exists(f"{ns}.t")
    assert cat.list_tables(ns) == []
    # bytes preserved: direct-path access still works
    assert Table.load(spark, root).scan().count() == 10
    with pytest.raises(NoSuchTableError):
        cat.drop_table(f"{ns}.t")


def test_drop_purge_removes_tree_and_frees_name(spark, cat):
    ns = _fresh("p")
    t = cat.create_table(f"{ns}.t", datagen.IMAGES_SCHEMA)
    t.append(datagen.gen_images_df(spark, 5))
    cat.drop_table(f"{ns}.t", purge=True)
    assert not os.path.exists(t.root)
    cat.create_table(f"{ns}.t", datagen.IMAGES_SCHEMA)  # name reusable


def test_rename_works_even_on_object_store(spark, service):
    """THE service-only behavior: the registry move is pure server-side
    metadata, so rename succeeds where HadoopCatalog must refuse
    (object-store FileIO has no atomic directory rename)."""
    cat = RestCatalog(spark, service[0], io=FakeObjectStoreFileIO())
    ns = _fresh("r")
    t = cat.create_table(f"{ns}.old", datagen.IMAGES_SCHEMA)
    t.append(datagen.gen_images_df(spark, 12))
    renamed = cat.rename_table(f"{ns}.old", f"{ns}.new")
    assert renamed.scan().count() == 12
    assert not cat.table_exists(f"{ns}.old")
    assert cat.table_exists(f"{ns}.new")
    assert renamed.root == t.root  # no bytes moved — registry-only
    with pytest.raises(NoSuchTableError):
        cat.rename_table(f"{ns}.old", f"{ns}.other")
    cat.create_table(f"{ns}.taken", datagen.IMAGES_SCHEMA)
    with pytest.raises(TableAlreadyExistsError):
        cat.rename_table(f"{ns}.new", f"{ns}.taken")


def test_catalog_snapshot_table(spark, cat):
    ns = _fresh("s")
    src = cat.create_table(f"{ns}.src", datagen.IMAGES_SCHEMA,
                           identifier_fields=("image_id",))
    src.append(datagen.gen_images_df(spark, 20))
    clone = cat.snapshot_table(f"{ns}.src", f"{ns}.dst")
    assert clone.scan().count() == 20
    assert cat.load_table(f"{ns}.dst").scan().count() == 20


def test_registry_survives_server_restart(spark, service, tmp_path):
    """The registry is durable (_catalog.json): a second server process over
    the same warehouse sees every table the first one registered."""
    uri, wh = service
    cat = RestCatalog(spark, uri)
    ns = _fresh("dur")
    t = cat.create_table(f"{ns}.t", datagen.IMAGES_SCHEMA)
    t.append(datagen.gen_images_df(spark, 7))
    proc = subprocess.Popen(
        [sys.executable, "-m", "olake_spark.icelite.restcatalog",
         "--warehouse", wh, "--port", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        cwd="/root/repo", env={**os.environ, "PYTHONPATH": "/root/repo"},
    )
    try:
        m = re.search(r"127\.0\.0\.1:(\d+)", proc.stdout.readline())
        cat2 = RestCatalog(spark, f"http://127.0.0.1:{m.group(1)}")
        assert cat2.table_exists(f"{ns}.t")
        assert cat2.load_table(f"{ns}.t").scan().count() == 7
    finally:
        proc.terminate()
        proc.wait(timeout=10)


class TestCommitRacesOverHttp:
    def test_concurrent_appends_exactly_once_each(self, spark, cat):
        """Two writers, separate HTTP-backed Table handles, racing commits:
        the service's conditional-PUT CAS serializes them — every append
        lands exactly once and versions advance without gaps."""
        ns = _fresh("race")
        t1 = cat.create_table(f"{ns}.t", datagen.IMAGES_SCHEMA,
                              identifier_fields=("image_id",))
        t2 = cat.load_table(f"{ns}.t")
        errors = []

        def writer(handle, tag, k):
            try:
                from pyspark.sql import functions as F
                for i in range(k):
                    handle.append(
                        datagen.gen_images_df(spark, 10).withColumn(
                            "image_id",
                            F.concat(F.lit(f"{tag}{i}-"), F.col("image_id")),
                        )
                    )
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        a = threading.Thread(target=writer, args=(t1, "a", 3))
        b = threading.Thread(target=writer, args=(t2, "b", 3))
        a.start(); b.start(); a.join(); b.join()
        assert not errors
        t1.refresh()
        assert t1.scan().count() == 60
        assert (
            t1.scan().select("image_id").distinct().count() == 60
        )
        # versions are dense: v1 (create) + 6 commits, no gaps
        metas = sorted(
            n for n in os.listdir(os.path.join(t1.root, "metadata"))
            if n.endswith(".metadata.json")
        )
        assert [int(n[1:6]) for n in metas] == list(range(1, 8))

    def test_append_races_compaction_through_service(self, spark, cat):
        ns = _fresh("mix")
        t = cat.create_table(f"{ns}.t", datagen.IMAGES_SCHEMA,
                             identifier_fields=("image_id",))
        datagen.fragmented_append(t, datagen.gen_images_df(spark, 200), 200,
                                  n_files=20)
        t2 = cat.load_table(f"{ns}.t")
        errors = []

        def appender():
            try:
                from pyspark.sql import functions as F
                t2.append(
                    datagen.gen_images_df(spark, 20).withColumn(
                        "image_id", F.concat(F.lit("x-"), F.col("image_id"))
                    )
                )
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        th = threading.Thread(target=appender)
        th.start()
        res = run_compaction(t, "rest-conc", fill_ratio=1.0,
                             target_bytes=1 << 21)
        th.join()
        assert not errors
        assert res["bins_executed"] > 0
        t.refresh()
        assert t.scan().count() == 220

    def test_stale_version_commit_rejected(self, spark, cat, service):
        """Direct protocol check: PUT of a non-current+1 version is a 409."""
        import json
        import urllib.request

        ns = _fresh("cas")
        t = cat.create_table(f"{ns}.t", datagen.IMAGES_SCHEMA)
        uri = service[0]

        def commit(version):
            req = urllib.request.Request(
                f"{uri}/v1/namespaces/{ns}/tables/t/commit",
                data=json.dumps(
                    {"version": version, "metadata": t.meta}
                ).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            try:
                with urllib.request.urlopen(req) as r:
                    return r.status
            except urllib.error.HTTPError as e:
                return e.code

        import urllib.error
        assert commit(5) == 409       # skips ahead
        assert commit(1) == 409       # already taken (create wrote v1)
        assert commit(2) == 201       # exactly current+1
        assert commit(2) == 409       # replay of a won version loses


def test_commit_through_catalog_after_metadata_reap(spark, cat):
    """Expiry reaps the superseded metadata versions; the service's CAS
    (version == current + 1, current read from the listing) still takes
    the next commit, also from a handle loaded before the reap."""
    from olake_spark.operators.expire import run_expire

    ns = _fresh("reap")
    t = cat.create_table(f"{ns}.t", datagen.IMAGES_SCHEMA,
                         identifier_fields=("image_id",))
    stale = cat.load_table(f"{ns}.t")
    df = datagen.gen_images_df(spark, 30)
    n = "cast(substring(image_id, 5, 12) as bigint)"
    t.append(df.filter(f"{n} < 10"))
    t.append(df.filter(f"{n} >= 10 and {n} < 20"))
    res = run_expire(t, keep_last=1, grace_seconds=0.0)
    assert res["metadata_versions_removed"] == 2

    def versions():
        return sorted(
            n for n in os.listdir(os.path.join(t.root, "metadata"))
            if n.endswith(".metadata.json")
        )

    assert versions() == ["v00001.metadata.json", "v00004.metadata.json"]
    stale.append(df.filter(f"{n} >= 20"))
    assert versions() == ["v00001.metadata.json", "v00004.metadata.json",
                          "v00005.metadata.json"]
    assert cat.load_table(f"{ns}.t").scan().count() == 30


def test_register_existing_root(spark, cat, tmp_path):
    # Iceberg register_table: catalog an out-of-warehouse root by
    # reference; commits keep CASing against the PRE-EXISTING version
    ns = _fresh("reg")
    root = str(tmp_path / "standalone")
    t0 = Table.create(spark, root, datagen.IMAGES_SCHEMA,
                      identifier_fields=("image_id",))
    t0.append(datagen.gen_images_df(spark, 20))
    v0 = t0.current_snapshot_id

    t = cat.register_table(f"{ns}.imported", root)
    assert os.path.abspath(t.root) == os.path.abspath(root)
    assert t.scan().count() == 20
    # a commit THROUGH the catalog advances the same lineage
    t.append(datagen.gen_images_df(spark, 40).filter(
        "cast(substring(image_id, 5, 12) as bigint) >= 20"))
    assert cat.load_table(f"{ns}.imported").scan().count() == 40
    assert t.snapshot()["parent_id"] == v0
    # name squatting refused: same identifier again, and a bogus root
    with pytest.raises(TableAlreadyExistsError):
        cat.register_table(f"{ns}.imported", root)
    with pytest.raises(Exception):
        cat.register_table(f"{ns}.bogus", str(tmp_path / "nope"))
    assert not cat.table_exists(f"{ns}.bogus")


def test_filesystem_catalog_refuses_register(spark, tmp_path):
    from olake_spark.icelite import Catalog

    c = Catalog(spark, str(tmp_path / "wh"))
    with pytest.raises(NotImplementedError, match="HadoopCatalog|path IS"):
        c.register_table("a.b", str(tmp_path / "x"))


def test_server_rejects_raw_http_bad_identifiers(service):
    """Identifier hygiene is enforced SERVER-side: a raw HTTP client (no
    RestCatalog wrapper) minting reserved (_x.y) or dotted names gets 400,
    never a registry entry split_identifier-based clients can't address."""
    import json as _json
    import urllib.request

    uri, _ = service

    def post(path, body):
        req = urllib.request.Request(
            uri + path, data=_json.dumps(body).encode(),
            headers={"Content-Type": "application/json"}, method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=10) as r:
                return r.status
        except urllib.error.HTTPError as e:
            return e.code

    assert post("/v1/namespaces/_sys/tables", {"name": "t"}) == 400
    assert post("/v1/namespaces/ok/tables", {"name": "_hidden"}) == 400
    assert post("/v1/namespaces/ok/tables", {"name": "a.b"}) == 400
    # rename destination is validated too
    ns = _fresh("rn")
    assert post(f"/v1/namespaces/{ns}/tables", {"name": "src"}) == 201
    assert post("/v1/tables/rename",
                {"source": f"{ns}.src", "destination": "_x.y"}) == 400
    assert post("/v1/tables/rename",
                {"source": f"{ns}.src", "destination": f"{ns}.dst"}) == 200


def test_version_parse_survives_five_digit_rollover(tmp_path):
    """v100000.metadata.json must parse as 100000, not 10000 — the full
    digit run is authoritative, not a fixed-width slice."""
    from olake_spark.icelite.restcatalog import _CatalogState

    st = _CatalogState(str(tmp_path / "wh"))
    root = str(tmp_path / "wh" / "t")
    os.makedirs(os.path.join(root, "metadata"))
    for v in (99999, 100000):
        open(os.path.join(root, "metadata",
                          f"v{v:05d}.metadata.json"), "w").write("{}")
    assert st.current_version(root) == 100000


def test_server_rejects_invisible_register_location(service, tmp_path):
    """The create-time location guard must fire for the motivating case: a
    root the server cannot see AT ALL (no readable table metadata) — not
    only a visible-but-unparseable metadata dir. Accepting it would leave
    commits CASing against version 0 forever."""
    import json as _json
    import urllib.error
    import urllib.request

    uri, _ = service

    def post(path, body):
        req = urllib.request.Request(
            uri + path, data=_json.dumps(body).encode(),
            headers={"Content-Type": "application/json"}, method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=10) as r:
                return r.status
        except urllib.error.HTTPError as e:
            return e.code

    # nonexistent root
    assert post("/v1/namespaces/reg/tables",
                {"name": "ghost",
                 "location": str(tmp_path / "nowhere")}) == 400
    # existing dir with no table metadata
    empty = tmp_path / "emptydir"
    empty.mkdir()
    assert post("/v1/namespaces/reg/tables",
                {"name": "hollow", "location": str(empty)}) == 400


def test_fleet_sweep_over_rest_catalog(spark, cat):
    """The catalog-wide autopilot sweep works identically over the REST
    catalog (the duck-typed listing surface the fleet walks): a fragmented
    table in one namespace gets compacted through catalog-addressed
    commits (server-side CAS), a healthy one plans nothing."""
    from olake_spark.operators.autopilot import run_fleet

    ns = _fresh("fleet")
    messy = cat.create_table(
        f"{ns}.messy", datagen.IMAGES_SCHEMA,
        identifier_fields=("image_id",),
        properties={"write.target-file-size-bytes": str(4 * 1024 * 1024)},
    )
    messy.append(datagen.gen_images_df(spark, 60), max_records_per_file=10)
    healthy = cat.create_table(
        f"{ns}.healthy", datagen.IMAGES_SCHEMA,
        identifier_fields=("image_id",),
        properties={"write.target-file-size-bytes": "1024"},
    )
    healthy.append(datagen.gen_images_df(spark, 10))

    report = run_fleet(cat, "fleet-rest", namespaces=[ns])
    assert report["n_errors"] == 0
    assert report["n_tables"] == 2
    ops = [a["op"] for a in report["tables"][f"{ns}.messy"]["actions"]]
    assert "compact" in ops
    assert report["tables"][f"{ns}.healthy"]["actions"] == []
    # the compaction committed THROUGH the catalog: fresh load sees it
    after = cat.load_table(f"{ns}.messy")
    assert after.scan().count() == 60
    from olake_spark.icelite.table import DATA
    assert sum(1 for e in after.entries() if e.content == DATA) < 6
