"""Debezium-envelope change source: connector-agnostic binlog/WAL tail.

The reference tails RDBMS change feeds directly (MSSQL Change Tracking /
Oracle Flashback, SURVEY.md S4/S5 — reference import_operations.py change
scans); the industry-standard wire format for the same stream is a
Debezium change event:

    {"before": {...}|null, "after": {...}|null,
     "source": {"lsn": 123, ...connector metadata...},
     "op": "c"|"r"|"u"|"d", "ts_ms": 1700000000000}

optionally wrapped in a Kafka-Connect ``{"schema":…, "payload":…}``
envelope (JsonConverter with ``schemas.enable=true``). This source turns a
directory/glob of JSON-lines Debezium events (a topic dump, a Kafka
Connect file sink, a CDC archive on object storage) into the engine's
change shape ``(lsn, op I/U/D, doc_id, <payload columns>, commit_ts)``
with pure column expressions — schema inference by Spark's JSON reader,
no per-row Python.

Semantics:

- op map: ``c`` (insert) and ``r`` (snapshot read) -> I, ``u`` -> U,
  ``d`` -> D. Snapshot reads are inserts to an empty target — the same
  initial-load-then-tail plan the reference runs (J7).
- row image: ``after`` for c/r/u; ``before`` for d (Debezium's delete
  event carries the final row image in ``before``; ``after`` is null).
- ordering key: an explicit ``lsn_expr`` always wins; otherwise
  ``source.lsn`` (Postgres/SQL Server commit LSN) when present, else
  ``source.pos`` (MySQL binlog offset — valid within a single binlog
  file; multi-file logs must pass ``lsn_expr`` combining file+pos), else
  ``(source.ts_ms << 12) + source.ord`` when both exist (MongoDB: the
  in-second event counter breaks same-timestamp ties), else the envelope
  ``ts_ms`` — a lossy last resort (same-millisecond events to one key tie
  on lsn; LWW keeps the one whose op and payload hash higher, which need
  not be the later write; a warning says so).
- Kafka tombstones (null value emitted after a delete for log compaction)
  and schema-only lines carry no ``op`` AND no row image — dropped.
- ``m`` (logical message) is a documented non-row event — dropped.
- ``t`` (truncate) is data-bearing (delete-all): the engine cannot apply
  a table truncation incrementally, so by default the projection embeds
  ``raise_error`` and the read fails LOUDLY at action time when a
  truncate event is present (re-snapshot the source, or pass
  ``on_truncate='ignore'`` to accept the divergence explicitly) — same
  loud-on-truncation stance as the native changelog's LogTruncatedError.
- anything else unknown (an op value outside c/r/u/d/t/m, a row with an
  image but no op, a corrupt line under PERMISSIVE parsing) flows
  through as a null-op / null-key row, which the engine's
  malformed-event check quarantines (plans/engine.py op_bad) — unknown
  wire content is never silently lost.

The result feeds ``CDCEngine.apply_batch`` / ``replay`` unchanged: LWW
dedup, keyed MERGE, watermark commits and schema evolution all operate on
this source exactly as on the native change log.
"""

from __future__ import annotations

import json
import warnings

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.functions.schema_normalize import (
    flatten_image_columns,
    normalize_dataframe,
)

ENVELOPE_COLS = ("lsn", "op", "doc_id", "commit_ts")


def read_debezium_changes(
    spark: SparkSession,
    path: str | list[str],
    key_field: str = "doc_id",
    lsn_expr: Column | None = None,
    flatten: bool = True,
    dates_to_string: bool = False,
    on_truncate: str = "error",
) -> DataFrame:
    """Read JSON-lines Debezium change events into the engine change shape.

    ``key_field`` names the merge key inside the row image (hoisted to
    ``doc_id``). Raises on events with no row images, no resolvable
    ordering key, or image fields that collide with envelope columns.
    ``path`` may be a glob/directory or an explicit list of files (the
    streaming late-segment recovery re-reads specific segments).
    """
    raw = spark.read.json(path)
    return _to_change_shape(
        raw, path, key_field, lsn_expr, flatten, dates_to_string, on_truncate
    )


def stream_debezium_changes(
    spark: SparkSession,
    path: str,
    key_field: str = "doc_id",
    lsn_expr: Column | None = None,
    flatten: bool = True,
    dates_to_string: bool = False,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    on_truncate: str = "error",
    schema_cache: str | None = None,
    state_store=None,
) -> DataFrame:
    """``readStream`` over a growing directory of Debezium JSON-lines
    segments — the continuous tail to ``read_debezium_changes``'s batch
    read. The projection is identical (pure column expressions, so it is
    streaming-legal); feed the result to ``streaming.stream.run_stream``
    and the per-segment ledger / watermark machinery applies unchanged
    (the micro-batch classifier keys on ``input_file_name``, which
    survives projections).

    The streaming JSON source needs a fixed schema. Resolution order:
    ``schema`` if passed; else ``schema_cache`` (a state-store path — the
    inferred schema is persisted there on first run and reloaded on
    restart, so a stream restart over a multi-GB archive costs one small
    read instead of a full re-inference scan); else inferred ONCE from
    the files already present (a topic dump always starts non-empty — the
    connector snapshot). Events arriving later with NEW image columns
    read as null until the caller re-infers (delete the cache file) and
    restarts — Spark's own streaming JSON contract.
    """
    if schema is None and schema_cache is not None:
        from dbimport_spark.lake.statestore import DEFAULT_STORE

        store = state_store or DEFAULT_STORE
        cached = store.read_text(schema_cache)
        if cached is not None:
            schema = T.StructType.fromJson(json.loads(cached))
        else:
            schema = spark.read.json(path).schema
            store.write_text(schema_cache, json.dumps(schema.jsonValue()))
    elif schema is None:
        schema = spark.read.json(path).schema
    # PERMISSIVE parsing only captures corrupt lines when the fixed
    # schema carries the corrupt-record column. A schema inferred from
    # initially-clean files (or passed explicitly) lacks it, and a later
    # corrupt line would then parse to all-nulls — indistinguishable from
    # a Kafka tombstone and silently dropped by _to_change_shape's
    # non-event filter. With the column present the line flows through as
    # a null-op row into the engine's malformed-event quarantine, same as
    # the batch read (whose per-read inference adds the column itself).
    if "_corrupt_record" not in schema.fieldNames():
        # COPY before add: StructType.add mutates in place, and the
        # caller's schema object must not grow a phantom column
        schema = T.StructType(list(schema.fields)).add(
            "_corrupt_record", T.StringType()
        )
    reader = spark.readStream.schema(schema).option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(path)
    return _to_change_shape(
        raw, path, key_field, lsn_expr, flatten, dates_to_string, on_truncate
    )


def _to_change_shape(
    raw: DataFrame,
    path: str | list[str],
    key_field: str,
    lsn_expr: Column | None,
    flatten: bool,
    dates_to_string: bool,
    on_truncate: str = "error",
) -> DataFrame:
    if on_truncate not in ("error", "ignore"):
        raise ValueError("on_truncate must be 'error' or 'ignore'")
    # Kafka-Connect envelope: {"schema": …, "payload": {actual event}}
    if "payload" in raw.columns and isinstance(
        raw.schema["payload"].dataType, T.StructType
    ):
        inner = {f.name for f in raw.schema["payload"].dataType.fields}
        if "op" in inner:
            # keep the top-level corrupt-record column through the
            # unwrap — a corrupt line has payload NULL and only this
            # column distinguishes it from a Kafka tombstone
            extra = (
                [F.col("_corrupt_record")]
                if "_corrupt_record" in raw.columns and "_corrupt_record" not in inner
                else []
            )
            raw = raw.select(F.col("payload.*"), *extra)

    if "op" not in raw.columns:
        raise ValueError(
            f"debezium log at {path} has no 'op' field (neither top-level "
            "nor under 'payload')"
        )

    def _struct_fields(name: str) -> list[T.StructField]:
        if name in raw.columns and isinstance(raw.schema[name].dataType, T.StructType):
            return list(raw.schema[name].dataType.fields)
        return []

    after_fields = _struct_fields("after")
    before_fields = _struct_fields("before")
    if not after_fields and not before_fields:
        raise ValueError(
            f"debezium log at {path} has no 'before'/'after' row images"
        )

    # Drop only TRUE non-events: tombstones / schema-only lines (no op AND
    # no row image) and 'm' logical messages. A row that carries an image
    # but no op — or a corrupt line parsed to nulls + _corrupt_record — is
    # unknown wire content and must NOT vanish: it flows through as a
    # null-op row for the engine's malformed-event quarantine.
    no_image = F.lit(True)
    for img in ("before", "after"):
        if img in raw.columns:
            no_image = no_image & F.col(img).isNull()
    if "_corrupt_record" in raw.columns:
        no_image = no_image & F.col("_corrupt_record").isNull()
    raw_op_pre = F.upper(F.col("op"))
    drop = (F.col("op").isNull() & no_image) | (raw_op_pre == "M")
    if on_truncate == "ignore":
        drop = drop | (raw_op_pre == "T")
    raw = raw.filter(~F.coalesce(drop, F.lit(False)))

    source_fields = {f.name for f in _struct_fields("source")}
    if lsn_expr is not None:
        lsn = lsn_expr.cast("long")
    elif "lsn" in source_fields:
        lsn = F.col("source.lsn").cast("long")
    elif "pos" in source_fields:
        lsn = F.col("source.pos").cast("long")
    elif "ts_ms" in source_fields and "ord" in source_fields:
        # MongoDB connector: source.ts_ms + source.ord (the event counter
        # within one cluster-time second) — the shift keeps ordering by
        # time and breaks same-timestamp ties deterministically
        lsn = (
            F.shiftleft(F.col("source.ts_ms").cast("long"), 12)
            + F.col("source.ord").cast("long")
        )
    elif "ts_ms" in raw.columns:
        warnings.warn(
            "debezium source: ordering falls back to the envelope ts_ms "
            "(source.lsn/pos/ord all absent) — events to the same key in "
            "the same millisecond tie on lsn and last-writer-wins keeps "
            "the one whose op and payload hash higher, not necessarily "
            "the later write; pass lsn_expr for a lossless ordering key",
            stacklevel=2,
        )
        lsn = F.col("ts_ms").cast("long")
    else:
        raise ValueError(
            "no ordering key: pass lsn_expr (source.lsn / source.pos / "
            "source.ts_ms+ord / ts_ms all absent)"
        )

    raw_op = F.upper(F.col("op"))
    is_delete = raw_op == "D"
    op = (
        F.when(raw_op.isin("C", "R"), F.lit("I"))
        .when(raw_op == "U", F.lit("U"))
        .when(is_delete, F.lit("D"))
    )
    if on_truncate == "error":
        # truncate is a delete-all the engine cannot apply incrementally —
        # fail loudly at action time (same stance as LogTruncatedError on
        # the native changelog) rather than silently diverging
        op = op.when(
            raw_op == "T",
            F.raise_error(
                # concat null-propagates: a NULL resolved lsn would blank
                # the whole operator-facing message — coalesce it
                F.concat(
                    F.lit(
                        "debezium truncate event (op='t') at lsn "
                    ),
                    F.coalesce(lsn.cast("string"), F.lit("<null>")),
                    F.lit(
                        " — the CDC engine cannot apply a table truncation"
                        "; re-snapshot the source table, or pass "
                        "on_truncate='ignore' to accept the divergence"
                    ),
                )
            ).cast("string"),
        )

    # union of image fields, after's type winning on overlap; per field the
    # side is picked by op (before for deletes) — null-side access is safe,
    # a null struct yields null fields
    merged: dict[str, tuple[T.DataType, bool, bool]] = {}
    for f in before_fields:
        merged[f.name] = (f.dataType, False, True)
    for f in after_fields:
        _, _, in_before = merged.get(f.name, (None, False, False))
        merged[f.name] = (f.dataType, True, in_before)

    def _image(name: str) -> Column:
        _, in_after, in_before = merged[name]
        if in_after and in_before:
            return F.when(is_delete, F.col(f"before.{name}")).otherwise(
                F.col(f"after.{name}")
            )
        return F.col(f"after.{name}" if in_after else f"before.{name}")

    if key_field not in merged:
        raise ValueError(
            f"key field {key_field!r} not present in the before/after row "
            f"images (have: {sorted(merged)})"
        )

    has_ts = "ts_ms" in raw.columns
    has_corrupt = "_corrupt_record" in raw.columns
    cols = [
        lsn.alias("lsn"),
        op.alias("op"),
        _image(key_field).cast("string").alias("doc_id"),
    ]
    # commit_ts is reserved only when the envelope will actually emit it;
    # dl_raw only when a corrupt-record column exists to carry through
    taken = (
        {"lsn", "op", "doc_id"}
        | ({"commit_ts"} if has_ts else set())
        | ({"dl_raw"} if has_corrupt else set())
    )
    image_fields = [T.StructField(n, merged[n][0], True) for n in merged]
    cols += flatten_image_columns(
        image_fields, _image, key_field, taken, flatten=flatten
    )

    if has_ts:
        cols.append(
            F.timestamp_millis(F.col("ts_ms").cast("long")).alias("commit_ts")
        )
    if has_corrupt:
        # the raw wire line survives as repair evidence: a corrupt line
        # parses to all-null payload columns, so without this the parked
        # quarantine row would hold nothing to reconstruct the event from
        # (drain_quarantine's fix() would be blind). Null on clean rows.
        cols.append(F.col("_corrupt_record").alias("dl_raw"))

    out = raw.select(*cols)
    return normalize_dataframe(out, dates_to_string=dates_to_string)
