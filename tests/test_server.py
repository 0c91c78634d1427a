"""Read-only monitoring HTTP server (reference bin/Server/restServer.py
GET surface; dbimport_spark/server.py). The server is metadata-only, so
the tests spin it on port 0 in a thread and poke it with urllib."""

import json
import threading
import urllib.error
import urllib.request

import pytest

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.registry import TableEntry, TableRegistry, replay_all
from dbimport_spark.server import make_server
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes, write_changes


@pytest.fixture()
def fleet(spark, tmp_path):
    """A replayed table with a synced mirror, registered; plus a server."""
    log = generate_changes(spark, 500, n_keys=40, seed=3)
    write_changes(log, str(tmp_path / "log"), 2)
    CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=2)
    reg = TableRegistry(str(tmp_path / "reg.json"))
    reg.add(TableEntry(
        name="t", table_root=str(tmp_path / "t"),
        log_path=str(tmp_path / "log"), checkpoint=str(tmp_path / "ck"),
        mirror_root=str(tmp_path / "mir"),
    ))
    res = replay_all(spark, reg, sync_point="freeze1")
    assert res["t"]["ok"] and res["_sync_point"]["ok"]

    srv = make_server(str(tmp_path / "reg.json"))
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        yield base
    finally:
        srv.shutdown()
        srv.server_close()
        thread.join(timeout=5)


def _get(url):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return resp.status, json.loads(resp.read())


def test_server_status_tables_lineage(fleet):
    code, body = _get(f"{fleet}/status")
    assert code == 200
    assert body["status"] == "ok"
    assert body["tables"] == 1 and body["enabled"] == 1

    code, body = _get(f"{fleet}/tables")
    assert code == 200 and set(body) == {"t"}
    assert body["t"]["mirror_root"].endswith("mir")

    code, body = _get(f"{fleet}/tables/t")
    assert code == 200
    assert body["entry"]["name"] == "t"
    # live metadata: committed watermark + file totals from the snapshot
    assert body["table"]["last_lsn"] == 500
    assert body["table"]["files"] >= 1 and body["table"]["rows"] > 0

    code, body = _get(f"{fleet}/tables/t/lineage")
    assert code == 200 and isinstance(body, list) and body
    assert any("rows" in str(rec) for rec in body)


def test_server_lag_and_sync_points(fleet):
    code, body = _get(f"{fleet}/lag")
    assert code == 200 and "t" in body
    followers = {f["kind"] for f in body["t"]["followers"]}
    assert "mirror" in followers
    code, one = _get(f"{fleet}/lag/t")
    assert code == 200 and one == body["t"]
    # the synced mirror is caught up
    mir = [f for f in one["followers"] if f["kind"] == "mirror"][0]
    assert mir["versions_behind"] == 0

    code, body = _get(f"{fleet}/sync-points")
    assert code == 200 and "freeze1" in body


def test_server_redacts_secrets(spark, tmp_path):
    """The registry holds secrets (anonymization salt; JDBC url/props
    where passwords live) — the auth-free server must never serve
    them (reference restServer sits behind OAuth2 instead)."""
    CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    reg = TableRegistry(str(tmp_path / "reg.json"))
    reg.add(TableEntry(
        name="t", table_root=str(tmp_path / "t"),
        log_path=str(tmp_path / "log"),
        anonymize={"source": "hash"}, anonymize_salt="s3cret",
        cdc_exports=[{"url": "jdbc:derby:x;user=u;password=pw",
                      "target_table": "T", "state_dir": str(tmp_path),
                      "properties": {"password": "pw"}}],
    ))
    srv = make_server(str(tmp_path / "reg.json"))
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        for path in ("/tables", "/tables/t"):
            code, body = _get(f"{base}{path}")
            text = json.dumps(body)
            assert code == 200
            assert "s3cret" not in text and "password" not in text
            assert "pw" not in text.replace("password", "")
        # non-secret export fields still visible for monitoring
        _, body = _get(f"{base}/tables/t")
        assert body["entry"]["cdc_exports"][0]["target_table"] == "T"
        assert body["entry"]["anonymize"] == {"source": "hash"}
    finally:
        srv.shutdown()
        srv.server_close()
        thread.join(timeout=5)


def test_server_errors_are_json_not_crashes(fleet):
    for path, want in [
        ("/tables/nope", 404),
        ("/lag/nope", 404),
        ("/tables/t/bogus", 404),
        ("/not-an-endpoint", 404),
    ]:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{fleet}{path}")
        assert ei.value.code == want
        body = json.loads(ei.value.read())
        assert "error" in body
    # server still alive after the errors
    code, _ = _get(f"{fleet}/status")
    assert code == 200


def test_server_quarantine_inventory(spark, tmp_path):
    """/tables/<n>/quarantine: Spark-free dead-letter inventory — parked
    windows with footer row counts, drained-archive count, and an honest
    'not configured' shape for entries without a quarantine dir."""
    import datetime as dt
    import os

    from pyspark.sql import types as T

    from dbimport_spark.schema import CHANGE_SCHEMA

    LAX = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields]
    )
    TS = dt.datetime(2024, 1, 1)
    rows = [
        (1, "I", "k1", [1], 1, "web", TS),
        (2, "I", None, [2], 1, "web", TS),  # null merge key -> parked
    ]
    local_frame(spark, rows, LAX).coalesce(1).write.parquet(
        str(tmp_path / "log")
    )
    CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    reg = TableRegistry(str(tmp_path / "reg.json"))
    reg.add(TableEntry(
        name="t", table_root=str(tmp_path / "t"),
        log_path=str(tmp_path / "log"),
        quarantine_dir=str(tmp_path / "q"),
    ))
    res = replay_all(spark, reg)
    assert res["t"]["ok"], res  # the malformed row did NOT stall the sweep

    srv = make_server(str(tmp_path / "reg.json"))
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, body = _get(f"{base}/tables/t/quarantine")
        assert code == 200 and body["configured"]
        assert len(body["parked"]) == 1
        assert body["parked"][0]["rows"] == 1
        assert body["drained_windows"] == 0

        # archive the window: parked empties, drained count appears
        d = body["parked"][0]["dir"]
        os.rename(
            os.path.join(str(tmp_path / "q"), d),
            os.path.join(str(tmp_path / "q"), "drained-" + d),
        )
        code, body = _get(f"{base}/tables/t/quarantine")
        assert code == 200 and body["parked"] == []
        assert body["drained_windows"] == 1

        # a table without a quarantine dir answers honestly
        reg.add(TableEntry(
            name="bare", table_root=str(tmp_path / "t"),
            log_path=str(tmp_path / "log"),
        ))
        code, body = _get(f"{base}/tables/bare/quarantine")
        assert code == 200 and not body["configured"]
    finally:
        srv.shutdown()
        srv.server_close()
        thread.join(timeout=5)


def test_server_prometheus_metrics(fleet):
    """GET /metrics serves the fleet's health as Prometheus text
    exposition: table gauges, log + follower lag, content type for
    scrapers — and no credential ever appears in a label."""
    with urllib.request.urlopen(f"{fleet}/metrics", timeout=10) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/plain")
        text = resp.read().decode()
    assert '# TYPE dbimport_table_version gauge' in text
    assert 'dbimport_table_watermark_lsn{table="t"} 500' in text
    assert 'dbimport_table_enabled{table="t"} 1' in text
    assert 'dbimport_log_lsn_behind{table="t"} 0' in text
    # the synced mirror reports zero versions behind
    assert 'kind="mirror"' in text
    for line in text.splitlines():
        if "versions_behind" in line and 'kind="mirror"' in line:
            assert line.endswith(" 0")
            break
    else:
        raise AssertionError("no mirror versions_behind series")
    assert "jdbc:" not in text  # credential-bearing URLs never leak


def test_server_metrics_isolates_broken_table(fleet, tmp_path):
    """One unloadable table must not blank the scrape: it emits
    dbimport_table_scrape_error and the healthy series survive."""
    import re as _re
    import urllib.parse as _up

    # register a second entry whose table root does not exist
    reg_path = None
    with urllib.request.urlopen(f"{fleet}/status", timeout=10) as resp:
        reg_path = json.loads(resp.read())["registry"]
    reg = TableRegistry(reg_path)
    reg.add(TableEntry(
        name="broken", table_root=str(tmp_path / "missing"),
        log_path=str(tmp_path / "nolog"),
    ))
    with urllib.request.urlopen(f"{fleet}/metrics", timeout=10) as resp:
        text = resp.read().decode()
    assert 'dbimport_table_scrape_error{table="broken"} 1' in text
    assert 'dbimport_table_watermark_lsn{table="t"} 500' in text


def test_server_metrics_quarantine_series(spark, tmp_path):
    """/metrics with a configured quarantine dir and one parked window:
    parked rows/windows are emitted as NUMBERS (a list interpolated into
    the exposition text would abort the whole Prometheus scrape), and
    every sample line in the scrape parses as `name{labels} float`."""
    import datetime as dt
    import re

    from pyspark.sql import types as T

    from dbimport_spark.schema import CHANGE_SCHEMA

    LAX = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields]
    )
    TS = dt.datetime(2024, 1, 1)
    rows = [
        (1, "I", "k1", [1], 1, "web", TS),
        (2, "I", None, [2], 1, "web", TS),  # null merge key -> parked
    ]
    local_frame(spark, rows, LAX).coalesce(1).write.parquet(
        str(tmp_path / "log")
    )
    CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    reg = TableRegistry(str(tmp_path / "reg.json"))
    reg.add(TableEntry(
        name="t", table_root=str(tmp_path / "t"),
        log_path=str(tmp_path / "log"),
        quarantine_dir=str(tmp_path / "q"),
    ))
    assert replay_all(spark, reg)["t"]["ok"]

    srv = make_server(str(tmp_path / "reg.json"))
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        with urllib.request.urlopen(f"{base}/metrics", timeout=10) as resp:
            text = resp.read().decode()
    finally:
        srv.shutdown()
        srv.server_close()
        thread.join(timeout=5)
    assert 'dbimport_quarantine_parked_rows{table="t"} 1' in text
    assert 'dbimport_quarantine_parked_windows{table="t"} 1' in text
    assert 'dbimport_quarantine_drained_windows{table="t"} 0' in text
    sample = re.compile(
        r'^[a-zA-Z_:][a-zA-Z0-9_:]*(\{[^}]*\})? -?\d+(\.\d+)?([eE][+-]?\d+)?$'
    )
    for line in text.strip().splitlines():
        if line.startswith("#") or not line:
            continue
        assert sample.match(line), f"unparseable exposition line: {line!r}"
