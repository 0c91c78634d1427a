"""Property-based convergence: arbitrary op sequences (including pathological
delete/re-insert interleavings and duplicate-content updates) must fold to
the pandas oracle under any batching."""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import CHANGE_SCHEMA, PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from tests.oracle import as_tuple_set, lww_fold

KEYS = ["a", "b", "c"]

event = st.tuples(
    st.sampled_from(["I", "U", "D"]),
    st.sampled_from(KEYS),
    st.lists(st.integers(0, 5), min_size=0, max_size=3),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(event, min_size=1, max_size=12), st.integers(1, 3))
def test_random_sequences_converge(spark, tmp_path_factory, ops, num_batches):
    rows = []
    for i, (op, key, toks) in enumerate(ops, start=1):
        if op == "D":
            rows.append((i, op, key, None, None, None, dt.datetime(2024, 1, 1)))
        else:
            rows.append(
                (i, op, key, toks, len(toks), "web", dt.datetime(2024, 1, 1))
            )
    log = local_frame(spark, rows, CHANGE_SCHEMA)
    root = str(tmp_path_factory.mktemp("prop"))
    table = CDCEngine.create_table(root + "/t", num_buckets=4)
    CDCEngine(spark, table, broadcast_threshold_rows=2).replay(
        log, num_batches=num_batches
    )
    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    expected = lww_fold([r.asDict() for r in log.collect()])
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)


evo_step = st.sampled_from(["plain", "widen", "add"])


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(evo_step, min_size=2, max_size=5))
def test_random_evolution_sequences_converge(spark, tmp_path_factory, steps):
    """Random interleavings of plain / type-widening / column-adding batches
    must evolve the schema monotonically and keep every row readable with
    the right values."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dbimport_spark.plans.engine import CDCEngine

    payload = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    root = str(tmp_path_factory.mktemp("evoseq"))
    table = CDCEngine.create_table(root + "/t", payload_schema=payload, num_buckets=4)
    eng = CDCEngine(spark, table)

    q_seen = False
    lsn = 0
    for si, step in enumerate(steps):
        rows = []
        for k in range(3):
            lsn += 1
            key = f"k{(si + k) % 5}"
            rows.append((lsn, "I", key, lsn * 10))
        df = local_frame(spark, rows, "lsn long, op string, doc_id string, v long")
        if step == "widen":
            pass  # v already long: widening against the int table schema
        elif step == "plain":
            df = df.withColumn("v", F.col("v").cast("int"))
        if step == "add" or q_seen:
            q_seen = True
            df = df.withColumn("q", F.col("lsn"))
        eng.apply_batch(df, lsn - 3, lsn)

    # recompute expectation precisely: LWW per key with q = lsn when the
    # winning batch carried q, else null
    winners: dict = {}
    lsn = 0
    q_from = None
    for si, step in enumerate(steps):
        if step == "add" and q_from is None:
            q_from = lsn + 1
        for k in range(3):
            lsn += 1
            key = f"k{(si + k) % 5}"
            winners[key] = (lsn * 10, lsn if q_from is not None and lsn >= q_from else None)
    got = {
        (r["doc_id"], r["v"], r.asDict().get("q"))
        for r in table.read(spark).collect()
    }
    want = {(k, v, q) for k, (v, q) in winners.items()}
    assert got == want
    # widened runs end with a bigint column
    if "widen" in steps:
        assert dict(table.read(spark).dtypes)["v"] == "bigint"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(event, min_size=2, max_size=14),
    st.lists(st.booleans(), min_size=2, max_size=14),
)
def test_random_late_splits_converge_via_apply_late(
    spark, tmp_path_factory, ops, late_mask
):
    """track_lsn invariant: for ANY split of a log into an applied window
    and a late remainder (arbitrary interleaving of which LSNs are late —
    deletes, re-inserts, duplicate content included), replay(applied) then
    apply_late(late) equals the full-log fold on live rows, and late keys'
    tombstones gate correctly."""
    from pyspark.sql import functions as F

    rows = []
    for i, (op, key, toks) in enumerate(ops, start=1):
        if op == "D":
            rows.append((i, op, key, None, None, None, dt.datetime(2024, 1, 1)))
        else:
            rows.append(
                (i, op, key, toks, len(toks), "web", dt.datetime(2024, 1, 1))
            )
    mask = (late_mask * len(rows))[: len(rows)]
    applied_rows = [r for r, m in zip(rows, mask) if not m]
    late_rows = [r for r, m in zip(rows, mask) if m]
    if not applied_rows or not late_rows:
        return
    log = local_frame(spark, rows, CHANGE_SCHEMA)
    root = str(tmp_path_factory.mktemp("latep"))
    table = CDCEngine.create_table(
        root + "/t", num_buckets=4, soft_delete=True, track_lsn=True
    )
    eng = CDCEngine(spark, table, broadcast_threshold_rows=2)
    eng.replay(
        local_frame(spark, applied_rows, CHANGE_SCHEMA), num_batches=1
    )
    eng.apply_late(local_frame(spark, late_rows, CHANGE_SCHEMA))

    live = table.read(spark).filter(F.col("dl_iud") != "D")
    got = as_tuple_set(
        [r.asDict() for r in live.collect()], PAYLOAD_COLUMNS
    )
    expected = lww_fold([r.asDict() for r in log.collect()])
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)
    # idempotent: re-delivering the late window commits nothing
    v = table.current().version
    eng.apply_late(local_frame(spark, late_rows, CHANGE_SCHEMA))
    assert table.current().version == v


mv_event = st.tuples(
    st.sampled_from(["I", "U", "D"]),
    st.sampled_from(KEYS),
    st.lists(st.integers(0, 5), min_size=0, max_size=3),
    st.sampled_from(["g0", "g1"]),  # group migrations included
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(mv_event, min_size=1, max_size=12), st.integers(1, 3))
def test_matview_random_sequences_equal_groupby(
    spark, tmp_path_factory, ops, n_windows
):
    """Any op interleaving — first-event deletes, delete/re-insert,
    cross-group migrations, no-op updates — synced in any windowing must
    leave the view equal to a direct groupBy of the live rows. The spec
    carries min/max too, so extremum-removal rescans (non-invertible
    aggregates) are exercised under the same random interleavings. A zero
    driver-fold limit keeps the syncs on the incremental core, which
    ``sync_view`` bypasses when it recomputes a small view (only a window
    leaving source and view both empty may still recompute); the
    recompute fold is pinned equal to that core in tests/test_matview.py."""
    from pyspark.sql import functions as F

    from dbimport_spark.plans.matview import (
        AggSpec,
        create_view,
        sync_view,
        verify_view,
    )

    rows = []
    for i, (op, key, toks, grp) in enumerate(ops, start=1):
        if op == "D":
            rows.append((i, op, key, None, None, None, dt.datetime(2024, 1, 1)))
        else:
            rows.append(
                (i, op, key, toks, len(toks), grp, dt.datetime(2024, 1, 1))
            )
    log = local_frame(spark, rows, CHANGE_SCHEMA)
    root = str(tmp_path_factory.mktemp("mvprop"))
    table = CDCEngine.create_table(root + "/t", num_buckets=2)
    eng = CDCEngine(spark, table)
    spec = AggSpec(
        group_cols=["source"], sum_cols=["n_tok"],
        min_cols=["n_tok"], max_cols=["n_tok"],
    )
    view = CDCEngine(
        spark, create_view(root + "/v", table, spec, num_buckets=2),
        broadcast_threshold_rows=0,
    )
    n = len(rows)
    edges = [(n * k) // n_windows for k in range(n_windows + 1)]
    for lo, hi in zip(edges, edges[1:]):
        if hi <= lo:
            continue
        eng.apply_batch(
            log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi)), lo, hi
        )
        sync_view(spark, table, view, spec)
        assert verify_view(spark, table, view.table, spec)["converged"]


# dead-letter fuzz: segments of valid events with malformed (null-lsn)
# rows interleaved at arbitrary positions; True = this slot is a dead
# letter. Each segment is an immutable parquet file, replayed as the log
# grows — the park/dedup machinery must park every dead letter EXACTLY
# once across re-planned replays, and a drain must fold the corrections
# into the LWW state the full corrected log would have produced.
dl_event = st.tuples(
    st.booleans(),
    st.sampled_from(["I", "U", "D"]),
    st.sampled_from(KEYS),
    st.lists(st.integers(0, 5), min_size=0, max_size=3),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(dl_event, min_size=1, max_size=4), min_size=1, max_size=3
    ),
    st.integers(1, 2),
)
def test_random_dead_letter_interleavings(
    spark, tmp_path_factory, segments, num_batches
):
    import os as _os

    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("dlp"))
    log = root + "/log"
    table = CDCEngine.create_table(root + "/t", num_buckets=4)
    eng = CDCEngine(spark, table, quarantine_dir=root + "/q")

    lsn = 0
    bad_ctr = 0
    valid_rows = []       # every well-formed event, for the oracle
    corrected_rows = []   # what each dead letter becomes after the fix
    n_bad_total = 0
    for si, seg in enumerate(segments):
        seg_rows = []
        for is_bad, op, key, toks in seg:
            if si == 0 and not valid_rows and is_bad:
                is_bad = False  # an all-null HEAD log is a loud refusal
                # by design; the fuzz targets the park/dedup machinery
            if is_bad:
                bad_ctr += 1
                # unique n_tok doubles as the deterministic repair key:
                # fix() assigns lsn = 1000 + n_tok
                seg_rows.append(
                    (None, "I", key, [bad_ctr], bad_ctr, "web",
                     dt.datetime(2024, 1, 1))
                )
                corrected_rows.append(
                    {"lsn": 1000 + bad_ctr, "op": "I", "doc_id": key,
                     "tokens": [bad_ctr], "n_tok": bad_ctr,
                     "source": "web"}
                )
                n_bad_total += 1
            else:
                lsn += 1
                if op == "D":
                    seg_rows.append(
                        (lsn, op, key, None, None, None,
                         dt.datetime(2024, 1, 1))
                    )
                else:
                    seg_rows.append(
                        (lsn, op, key, toks, len(toks), "web",
                         dt.datetime(2024, 1, 1))
                    )
                valid_rows.append(seg_rows[-1])
        if not seg_rows:
            continue
        import pyspark.sql.types as T

        lax = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA]
        )
        local_frame(spark, seg_rows, lax).coalesce(1).write.mode(
            "append"
        ).parquet(log)
        if not valid_rows:
            continue
        eng.replay(spark.read.parquet(log), num_batches=num_batches)

        def _parked_rows():
            return sum(
                spark.read.parquet(
                    _os.path.join(root + "/q", w["dir"])
                ).count()
                for w in eng.list_quarantine()
            )

        # exactly-once parking under re-planned replays over the grown log
        assert _parked_rows() == n_bad_total

    if not valid_rows:
        return
    # one final sweep over the full log: nothing re-parks, nothing lost
    eng.replay(spark.read.parquet(log), num_batches=num_batches)
    assert _parked_rows() == n_bad_total

    if n_bad_total:
        def fix(df):
            return df.withColumn(
                "lsn", (F.lit(1000) + F.col("n_tok")).cast("long")
            )

        out = eng.drain_quarantine(
            changes=spark.read.parquet(log), fix=fix
        )
        assert out["events"] == n_bad_total
        assert eng.list_quarantine() == []
        # drained archives still block any re-park
        assert eng.park_dead_letters(spark.read.parquet(log)) == 0

    full = [
        dict(zip(
            ["lsn", "op", "doc_id", "tokens", "n_tok", "source"], r[:6]
        ))
        for r in valid_rows
    ] + corrected_rows
    expected = lww_fold(full)
    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)
