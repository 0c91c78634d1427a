"""Change data feed (lake/cdf.py): snapshot-diff changelog emission.

The engine as a CDC *source*: net row-level changes between two committed
versions, verified against a brute-force materialized-state diff, with
the file-level pruning (shared files never read) pinned via inputFiles().
"""

import datetime as dt

from pyspark.sql import functions as F

from dbimport_spark.lake.cdf import (
    snapshot_diff_files,
    table_changes,
    table_changes_per_commit,
)
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import CHANGE_SCHEMA, PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes


def _log(spark, rows):
    return local_frame(spark, rows, CHANGE_SCHEMA)


def _state(spark, table, version):
    rows = table.read(spark, version=version).select(*PAYLOAD_COLUMNS).collect()
    return {
        r["doc_id"]: (tuple(r["tokens"] or ()), r["n_tok"], r["source"])
        for r in rows
    }


def _expected_diff(a, b):
    exp = {}
    for k in set(a) | set(b):
        if k not in a:
            exp[k] = "insert"
        elif k not in b:
            exp[k] = "delete"
        elif a[k] != b[k]:
            exp[k] = "update"
    return exp


def test_net_changes_match_state_diff(spark, tmp_path):
    log = generate_changes(spark, 6000, n_keys=400, seed=11)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=8)
    eng = CDCEngine(spark, table, checkpoint_dir=str(tmp_path / "ckpt"))
    eng.replay(log, num_batches=4, stop_after=2)
    v_a = table.current().version
    eng.replay(log, num_batches=4)
    v_b = table.current().version

    got = {
        r["doc_id"]: r["_change_type"]
        for r in table_changes(spark, table, v_a, v_b).collect()
    }
    exp = _expected_diff(_state(spark, table, v_a), _state(spark, table, v_b))
    assert got == exp
    assert exp  # non-degenerate: the window actually changed rows


def test_delete_rows_carry_last_known_payload(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    ts = dt.datetime(2024, 1, 1)
    eng.apply_batch(
        _log(spark, [(1, "I", "k1", [7, 8], 2, "web", ts),
                     (2, "I", "k2", [9], 1, "web", ts)]), 0, 2,
    )
    v_a = table.current().version
    eng.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, ts)]), 2, 3)

    rows = {r["doc_id"]: r for r in table_changes(spark, table, v_a).collect()}
    assert set(rows) == {"k1"}
    assert rows["k1"]["_change_type"] == "delete"
    assert rows["k1"]["tokens"] == [7, 8]  # from-side pre-image
    assert rows["k1"]["source"] == "web"


def test_soft_delete_and_revival(spark, tmp_path):
    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True
    )
    eng = CDCEngine(spark, table, delete_mode="soft")
    ts = dt.datetime(2024, 1, 1)
    eng.apply_batch(
        _log(spark, [(1, "I", "k1", [1], 1, "web", ts),
                     (2, "I", "k2", [2], 1, "web", ts)]), 0, 2,
    )
    v0 = table.current().version
    # tombstone k1: row physically kept, must emit 'delete'
    eng.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, ts)]), 2, 3)
    v1 = table.current().version
    got = {
        r["doc_id"]: r["_change_type"]
        for r in table_changes(spark, table, v0, v1).collect()
    }
    assert got == {"k1": "delete"}

    # revive k1: dead -> live must emit 'insert'
    eng.apply_batch(_log(spark, [(4, "I", "k1", [5], 1, "web", ts)]), 3, 4)
    v2 = table.current().version
    got = {
        r["doc_id"]: r["_change_type"]
        for r in table_changes(spark, table, v1, v2).collect()
    }
    assert got == {"k1": "insert"}

    # dead in both versions: nothing, even though the tombstone row exists
    eng.apply_batch(_log(spark, [(5, "D", "k1", None, None, None, ts)]), 4, 5)
    v3 = table.current().version
    eng.apply_batch(_log(spark, [(6, "U", "k2", [2, 2], 2, "web", ts)]), 5, 6)
    v4 = table.current().version
    got = {
        r["doc_id"]: r["_change_type"]
        for r in table_changes(spark, table, v3, v4).collect()
    }
    assert got == {"k2": "update"}


def test_shared_files_never_read(spark, tmp_path):
    """Untouched buckets' files are shared between snapshots and must not
    appear in the diff scan — the metadata-level pruning that makes CDF
    ~O(bytes written in the window), not O(table)."""
    log = generate_changes(spark, 4000, n_keys=300, seed=3)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=16)
    eng = CDCEngine(spark, table)
    eng.replay(log, num_batches=1)
    v_a = table.current().version
    # narrow second window: one key -> at most one touched bucket
    ts = dt.datetime(2024, 5, 1)
    eng.apply_batch(
        _log(spark, [(4001, "U", "doc-00000007", [1, 2, 3], 3, "web", ts)]),
        4000, 4001,
    )
    v_b = table.current().version

    snap_a, snap_b = table.snapshot(v_a), table.snapshot(v_b)
    shared = {f.path for f in snap_a.files} & {f.path for f in snap_b.files}
    only_a, only_b = snapshot_diff_files(snap_a, snap_b)
    assert shared  # most buckets untouched
    assert {f.bucket for f in only_a} == {f.bucket for f in only_b}
    assert len({f.bucket for f in only_b}) == 1

    cdf = table_changes(spark, table, v_a, v_b)
    scanned = cdf.inputFiles()
    assert scanned  # something is read
    for p in scanned:
        assert not any(p.endswith(s) for s in shared)

    got = cdf.collect()
    assert {r["doc_id"] for r in got} <= {
        r["doc_id"]
        for r in table.read(spark, version=v_b).collect()
    }
    assert {r["doc_id"]: r["_change_type"] for r in got} == _expected_diff(
        _state(spark, table, v_a), _state(spark, table, v_b)
    )


def test_changes_across_declared_rename_and_evolution(spark, tmp_path):
    """A window straddling a declared rename + an additive column emits
    changes under the NEW names, old-side missing column read as null."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    ts = dt.datetime(2024, 1, 1)
    eng.apply_batch(
        _log(spark, [(1, "I", "k1", [1], 1, "web", ts)]), 0, 1
    )
    v_a = table.current().version

    # rename source -> origin (declared), plus additive quality column
    evolved = local_frame(
        spark,
        [(2, "U", "k1", [1, 2], 2, "web2", ts, 0.5)],
        "lsn long, op string, doc_id string, tokens array<int>, "
        "n_tok int, origin string, commit_ts timestamp, quality float",
    )
    eng2 = CDCEngine(spark, table, renames={"source": "origin"})
    eng2.apply_batch(evolved, 1, 2)
    v_b = table.current().version

    rows = table_changes(spark, table, v_a, v_b).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["_change_type"] == "update"
    assert "origin" in r.asDict() and "source" not in r.asDict()
    assert r["origin"] == "web2"
    assert abs(r["quality"] - 0.5) < 1e-6

    # an unchanged key across the rename window must NOT be emitted:
    # verified by construction (only k1 exists) plus the update filter
    assert {x["_change_type"] for x in rows} == {"update"}


def test_preimage_columns(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    ts = dt.datetime(2024, 1, 1)
    eng.apply_batch(_log(spark, [(1, "I", "k1", [1], 1, "a", ts)]), 0, 1)
    v_a = table.current().version
    eng.apply_batch(_log(spark, [(2, "U", "k1", [9, 9], 2, "b", ts)]), 1, 2)

    r = table_changes(spark, table, v_a, include_preimage=True).collect()[0]
    assert r["_change_type"] == "update"
    assert r["tokens"] == [9, 9] and r["_pre_tokens"] == [1]
    assert r["source"] == "b" and r["_pre_source"] == "a"


def test_per_commit_changelog(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    ts = dt.datetime(2024, 1, 1)
    eng.apply_batch(_log(spark, [(1, "I", "k1", [1], 1, "a", ts)]), 0, 1)
    v0 = table.current().version
    eng.apply_batch(_log(spark, [(2, "U", "k1", [2], 1, "a", ts)]), 1, 2)
    v1 = table.current().version
    eng.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, ts)]), 2, 3)
    v2 = table.current().version

    rows = (
        table_changes_per_commit(spark, table, v0, v2)
        .orderBy("_commit_version")
        .collect()
    )
    assert [(r["_commit_version"], r["_change_type"]) for r in rows] == [
        (v1, "update"),
        (v2, "delete"),
    ]
    # net diff collapses the same window to one delete
    net = table_changes(spark, table, v0, v2).collect()
    assert [(r["doc_id"], r["_change_type"]) for r in net] == [("k1", "delete")]


def test_cdf_plan_is_hash_join_shaped(spark, tmp_path):
    """The snapshot-diff join must never plan as a nested loop — at 100 TB
    the two sides are the window's touched buckets, joined once by key."""
    import io
    from contextlib import redirect_stdout

    log = generate_changes(spark, 2000, n_keys=150, seed=5)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table, checkpoint_dir=str(tmp_path / "ckpt"))
    eng.replay(log, num_batches=2, stop_after=1)
    v_a = table.current().version
    eng.replay(log, num_batches=2)

    buf = io.StringIO()
    with redirect_stdout(buf):
        table_changes(spark, table, v_a).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_compaction_window_diffs_empty(spark, tmp_path):
    """Compaction rewrites bucket files without changing content: the CDF
    across a compaction-only window must emit zero rows (rows moved
    between files are not changes)."""
    from dbimport_spark.lake.maintenance import compact

    log = generate_changes(spark, 2000, n_keys=150, seed=8)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    # no output repartition -> buckets fragment across commits
    eng = CDCEngine(
        spark,
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        broadcast_threshold_rows=10**9,
        repartition_output_bytes=0,
    )
    eng.replay(log, num_batches=4)
    v_a = table.current().version
    out = compact(spark, table, max_files_per_bucket=1, expire_keep_last=10)
    assert out["compacted_buckets"] > 0
    v_b = table.current().version
    assert v_b > v_a
    assert table_changes(spark, table, v_a, v_b).count() == 0


def test_empty_window_and_bad_bounds(spark, tmp_path):
    import pytest

    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    ts = dt.datetime(2024, 1, 1)
    eng.apply_batch(_log(spark, [(1, "I", "k1", [1], 1, "a", ts)]), 0, 1)
    v = table.current().version
    assert table_changes(spark, table, v, v).count() == 0
    assert table_changes_per_commit(spark, table, v, v).count() == 0
    with pytest.raises(ValueError):
        table_changes(spark, table, v, v - 1)


def test_follow_changes_yields_new_windows(spark, tmp_path):
    """follow_changes tails the commit log lazily: each yielded window
    reflects commits that landed since the previous yield."""
    from dbimport_spark.lake.cdf import follow_changes

    TS = dt.datetime(2024, 1, 1)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        _log(spark, [(1, "I", "k1", [1], 1, "a", TS)]), 0, 1
    )
    gen = follow_changes(
        spark, table, from_version=0, poll_s=0.01, max_windows=2
    )
    lo, hi, feed = next(gen)
    assert (lo, hi) == (0, table.current().version)
    assert [r["_change_type"] for r in feed.collect()] == ["insert"]

    v1 = table.current().version
    eng.apply_batch(
        _log(spark, [(2, "U", "k1", [1, 2], 2, "b", TS)]), 1, 2
    )
    lo, hi, feed = next(gen)
    assert (lo, hi) == (v1, table.current().version)
    rows = feed.collect()
    assert [r["_change_type"] for r in rows] == ["update"]
    assert rows[0]["source"] == "b"
    # max_windows=2 reached -> generator is exhausted
    import pytest as _pytest

    with _pytest.raises(StopIteration):
        next(gen)


def test_follow_changes_stop_rule_finishes_then_stops(tmp_path, monkeypatch):
    """The stop rule, without Spark: a ``--stop-file`` seen while the
    table keeps committing yields one final window covering every commit
    up to that moment, then the generator ends (it used to return at
    once, dropping windows the help promised to drain)."""
    import types

    from dbimport_spark.lake import cdf

    monkeypatch.setattr(
        cdf, "table_changes", lambda spark, table, lo, hi: ("feed", lo, hi)
    )
    versions = iter(range(3, 1000))  # one new commit per metadata poll
    table = types.SimpleNamespace(
        current=lambda: types.SimpleNamespace(version=next(versions))
    )
    stop = tmp_path / "stop"
    stop.touch()
    got = list(
        cdf.follow_changes(
            None, table, from_version=0, poll_s=3600.0, max_windows=50,
            stop_file=str(stop),
        )
    )
    assert got == [(0, 3, ("feed", 0, 3))]


def test_per_commit_changelog_retention_gap_before_rewrite_only(spark, tmp_path):
    """A version pair spanning a retention gap that ENDS at a
    rewrite-only commit must be scanned, not skipped: the expired
    intermediates' changes live in that pair's diff (previously the
    endpoint's own marker skipped the pair and silently dropped them)."""
    from dbimport_spark.lake.maintenance import rebucket

    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, table)
    ts = dt.datetime(2024, 1, 1)
    eng.apply_batch(_log(spark, [(1, "I", "k1", [1], 1, "a", ts)]), 0, 1)
    v_tag = table.current().version
    table.set_tag("audit", v_tag)
    # real changes that will expire
    eng.apply_batch(_log(spark, [(2, "I", "k2", [2], 1, "a", ts)]), 1, 2)
    eng.apply_batch(_log(spark, [(3, "U", "k1", [9], 1, "a", ts)]), 2, 3)
    # layout-only commit on top (rebucket always commits rewrite_only)
    rebucket(spark, table, 4)
    table = type(table).load(str(tmp_path / "t"))
    v_cur = table.current().version
    assert table.snapshot(v_cur).properties.get("rewrite_only") == "true"
    table.expire_snapshots(keep_last=1)
    retained = table.snapshots()
    assert v_tag in retained and v_cur in retained
    assert v_tag + 1 not in retained  # the gap is real

    rows = table_changes_per_commit(spark, table, v_tag, v_cur).collect()
    got = {(r["doc_id"], r["_change_type"]) for r in rows}
    assert ("k2", "insert") in got, got  # expired v2's change survives
    assert ("k1", "update") in got, got  # expired v3's change survives


def test_table_changes_refuses_grown_back_rename_history(spark, tmp_path):
    """An expired reload whose cleared rename history GREW BACK to the
    old length must still be refused: length alone cannot see the
    boundary, and a bare-name alignment across it emits wrong deltas."""
    import pytest
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("a", T.IntegerType(), True),
    ])
    table = CDCEngine.create_table(
        str(tmp_path / "t"), payload_schema=payload, num_buckets=2
    )
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        local_frame(
            spark,
            [(1, "I", "k1", 1)], "lsn long, op string, doc_id string, a int"
        ), 0, 1,
    )
    table.rename_column("a", "b")  # renames len 1
    table = type(table).load(str(tmp_path / "t"))
    v_a = table.current().version
    table.set_tag("pre-reload", v_a)

    table.reset_for_reload(payload)  # clears renames
    table = type(table).load(str(tmp_path / "t"))
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        local_frame(
            spark,
            [(1, "I", "k1", 5)], "lsn long, op string, doc_id string, a int"
        ), 0, 1,
    )
    table.rename_column("a", "c")  # grew back to len 1
    table = type(table).load(str(tmp_path / "t"))
    table.expire_snapshots(keep_last=1)
    assert v_a in table.snapshots()
    from dbimport_spark.lake.cdf import window_has_reload

    if window_has_reload(table, v_a, table.current().version) is None:
        # the reload snapshot really expired: only the weaker rename
        # evidence remains, and it must still refuse
        with pytest.raises(ValueError, match="does not extend"):
            table_changes(spark, table, v_a, table.current().version)
    else:
        with pytest.raises(ValueError, match="reload"):
            table_changes(spark, table, v_a, table.current().version)


def test_compare_cols_scopes_update_detection(spark, tmp_path):
    """compare_cols: updates confined to out-of-scope columns vanish from
    the feed; in-scope updates and all inserts/deletes stay; unknown names
    refuse loudly; and the scan side no longer reads the wide column —
    the matview-sync pruning contract (r6 optimization)."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        _log(
            spark,
            [
                (1, "I", "k-tok", [1, 2], 2, "web", dt.datetime(2030, 1, 1)),
                (2, "I", "k-src", [3], 1, "web", dt.datetime(2030, 1, 1)),
                (3, "I", "k-del", [4], 1, "web", dt.datetime(2030, 1, 1)),
            ],
        ),
        0,
        3,
    )
    v_a = table.current().version
    eng.apply_batch(
        _log(
            spark,
            [
                # token-only change: n_tok and source unchanged
                (4, "U", "k-tok", [9, 9], 2, "web", dt.datetime(2030, 1, 2)),
                # in-scope change (source moves)
                (5, "U", "k-src", [3], 1, "books", dt.datetime(2030, 1, 2)),
                (6, "D", "k-del", None, None, None, dt.datetime(2030, 1, 2)),
                (7, "I", "k-new", [5], 1, "code", dt.datetime(2030, 1, 2)),
            ],
        ),
        3,
        7,
    )
    v_b = table.current().version

    full = {
        r["doc_id"]: r["_change_type"]
        for r in table_changes(spark, table, v_a, v_b).collect()
    }
    assert full == {
        "k-tok": "update",
        "k-src": "update",
        "k-del": "delete",
        "k-new": "insert",
    }

    scoped_df = table_changes(
        spark, table, v_a, v_b, compare_cols=["n_tok", "source"]
    )
    scoped = {r["doc_id"]: r["_change_type"] for r in scoped_df.collect()}
    # the token-only update is invisible; everything else is unchanged
    assert scoped == {
        "k-src": "update",
        "k-del": "delete",
        "k-new": "insert",
    }

    # pruning reaches the scan: a consumer that projects only the scoped
    # columns must not read `tokens` on either diff side
    plan = spark._jvm.PythonSQLUtils.explainString(
        scoped_df.select("doc_id", "n_tok", "source", "_change_type")
        ._jdf.queryExecution(),
        "formatted",
    )
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "tokens" not in line, line

    import pytest as _pytest

    with _pytest.raises(ValueError, match="compare_cols"):
        table_changes(spark, table, v_a, v_b, compare_cols=["nope"])


def test_compare_cols_refuses_empty_and_key_only(spark, tmp_path):
    """An empty or merge-key-only compare_cols leaves nothing to compare,
    so every update would vanish from the feed: both refuse loudly, like
    an unknown name does, instead of emitting a silently update-free
    feed."""
    import pytest

    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, table)
    ts = dt.datetime(2030, 1, 1)
    eng.apply_batch(_log(spark, [(1, "I", "k1", [1], 1, "web", ts)]), 0, 1)
    v_a = table.current().version
    eng.apply_batch(_log(spark, [(2, "U", "k1", [1, 2], 2, "web", ts)]), 1, 2)
    v_b = table.current().version
    for cols in ([], ["doc_id"]):
        with pytest.raises(ValueError, match="no non-key payload column"):
            table_changes(spark, table, v_a, v_b, compare_cols=cols)
    # the same window with the full comparison does carry the update
    assert [
        r["_change_type"] for r in table_changes(spark, table, v_a, v_b).collect()
    ] == ["update"]
