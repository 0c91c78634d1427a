"""CDC replay engine: batch planner + apply loop + exactly-once commits.

The run loop is the Spark-native re-expression of the reference's staged
import (SURVEY.md §3.1): plan LSN ranges (the watermark windows,
reference import_config.py:2087-2255), and for each range

  watermark scan → LWW dedup → schema-evolve → bucket-pruned MERGE →
  atomic commit carrying {files, last_lsn, lineage} in ONE snapshot.

Because the watermark rides the data commit, a crash anywhere leaves the
table either fully-before or fully-after a batch; re-running a committed
range is detected via ``last_lsn`` and skipped (the reference needed a
two-phase pending/committed dance across MySQL + Hive for the same
guarantee, import_config.py:1086-1108 — a single metadata swap replaces it).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.lake.evolve import (
    SchemaEvolutionError,
    diff_payload_schema,
    evolve_schema,
)
from dbimport_spark.lake.table import CommitConflict, LakeTable
from dbimport_spark.operators.dedup import dedup_lww
from dbimport_spark.operators.merge import inserts_only, merge_changes
from dbimport_spark.plans.checkpoint import ReplayPlan, load_plan, save_plan
from dbimport_spark.schema import (
    AUDIT_COLUMNS,
    AUDIT_DELETE,
    AUDIT_INSERT,
    AUDIT_IUD,
    AUDIT_UPDATE,
    MERGE_KEY,
    PAYLOAD_SCHEMA,
)

LOG_BOOKKEEPING = {"lsn", "op", "commit_ts"}


def table_schema_with_audit(
    payload: T.StructType = PAYLOAD_SCHEMA,
    soft_delete: bool = False,
    track_lsn: bool = False,
) -> T.StructType:
    from dbimport_spark.schema import AUDIT_LSN

    fields = list(payload.fields) + [
        T.StructField(AUDIT_IUD, T.StringType(), True),
        T.StructField(AUDIT_INSERT, T.TimestampType(), True),
        T.StructField(AUDIT_UPDATE, T.TimestampType(), True),
    ]
    if soft_delete:
        fields.append(T.StructField(AUDIT_DELETE, T.TimestampType(), True))
    if track_lsn:
        fields.append(T.StructField(AUDIT_LSN, T.LongType(), True))
    return T.StructType(fields)


def history_schema(payload: T.StructType = PAYLOAD_SCHEMA) -> T.StructType:
    """Append-only history-audit row images (reference history table,
    etl_operations.py:319-360): payload + op/lsn/history timestamp."""
    return T.StructType(
        list(payload.fields)
        + [
            T.StructField("op", T.StringType(), False),
            T.StructField("lsn", T.LongType(), False),
            T.StructField("dl_hist_ts", T.TimestampType(), True),
        ]
    )


def list_quarantine_dir(path: str | None) -> list[dict]:
    """One record per parked ``batch-<lo>-<hi>`` dead-letter dir
    (drained dirs excluded). Module-level and Spark-free so the
    monitoring server can inventory quarantines without a session;
    ``CDCEngine.list_quarantine`` delegates here."""
    if path is None or not os.path.isdir(path):
        return []
    out = []
    for name in sorted(os.listdir(path)):
        # bounds may be negative (a fresh table's first window is
        # (-1, hi]) — a naive split("-") would mis-parse and hide it
        m = re.match(r"^batch-(-?\d+)-(-?\d+)$", name)
        if m is None:
            continue
        out.append(
            {"dir": name, "lo": int(m.group(1)), "hi": int(m.group(2))}
        )
    return out


@dataclass
class BatchStats:
    lo: int
    hi: int
    events: int = 0
    touched_buckets: int = 0
    mode: str = ""
    out_rows: int = 0
    out_bytes: int = 0
    skipped: bool = False
    quarantined: int = 0
    # matview only: groups recomputed from the source (plans/matview) —
    # the min/max-invalidated groups of an incremental sync, every group
    # of a recompute sync; 0 for plain engine batches
    rescanned_groups: int = 0


@dataclass
class ReplayStats:
    batches_applied: int = 0
    batches_skipped: int = 0
    events_applied: int = 0
    events_quarantined: int = 0
    batch_stats: list[BatchStats] = field(default_factory=list)


class CDCEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        checkpoint_dir: str | None = None,
        dedup_strategy: str = "maxjoin",
        n_salts: int = 16,
        broadcast_threshold_rows: int = 200_000,
        repartition_output_bytes: int = 2 << 30,
        key: str | list[str] | None = None,
        delete_mode: str | None = None,
        history_table: LakeTable | None = None,
        renames: dict[str, str] | None = None,
        rename_check: bool = True,
        state_store=None,
        quarantine_dir: str | None = None,
        anonymize: dict[str, str] | None = None,
        anonymize_salt: str = "",
        stats_sink=None,
        write_mode: str = "cow",
        mor_auto_ratio: float = 0.05,
        validators: list | None = None,
    ):
        self.spark = spark
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        # small-state seam (lake/statestore.py): where the replay plan
        # lives. Local files by default; an HDFS/S3 deployment swaps the
        # store, nothing else.
        from dbimport_spark.lake.statestore import DEFAULT_STORE

        self.state_store = state_store or DEFAULT_STORE
        # dead-letter seam: malformed change events (null merge key,
        # unknown op, null lsn) silently corrupt a merge (null keys never
        # join-match, so every such event inserts a fresh row). With a
        # quarantine_dir they are diverted to parquet under
        # quarantine_dir/batch-<lo>-<hi>/ (overwrite = idempotent on
        # resume) and the batch proceeds without them; without one the
        # batch refuses loudly. One bad row must not kill a 10^10-event
        # replay — the reference parks rows failing validation the same
        # way (import_operations.py validation CUSTOM QUERY error path).
        self.quarantine_dir = quarantine_dir
        # per-column anonymization applied DURING ingest (reference
        # import_operations.py:1383-1395, driven by import_columns.
        # anonymization_function, configSchema.py:938): every batch is
        # masked inside the shared alignment rule (_align_exprs), so
        # replay, repair, late-merge and full reload all persist ONLY
        # masked values — the lake never sees plaintext. The masks are
        # deterministic builtins (functions/masking.py), so unchanged rows
        # stay unchanged under change detection and re-applied batches
        # stay idempotent.
        from dbimport_spark.functions.masking import ANONYMIZATION

        self.anonymize = dict(anonymize or {})
        for col_name, kind in self.anonymize.items():
            if kind not in ANONYMIZATION:
                raise ValueError(
                    f"unknown anonymization function {kind!r} for column "
                    f"{col_name!r} (known: {sorted(ANONYMIZATION)})"
                )
        self.anonymize_salt = anonymize_salt
        # telemetry push surface (plans/stats_sink.py; reference
        # import_stage.py:592-826 Kafka/REST senders): one record per
        # batch, emitted AFTER its commit, best-effort
        self.stats_sink = stats_sink
        # merge-on-read (Iceberg v2 analogue): 'cow' rewrites touched
        # buckets in full per batch (read amplification zero, write
        # amplification ∝ bucket size); 'mor' appends superseding delta
        # files + key-only delete files and defers the fold to read-time
        # reconciliation / compaction (write cost ∝ batch size — the only
        # viable shape for small steady-state batches against 100 TB
        # buckets); 'auto' picks MOR when the batch is small relative to
        # the touched buckets' base rows (metadata-only decision, logged).
        if write_mode not in ("cow", "mor", "auto"):
            raise ValueError("write_mode must be 'cow', 'mor' or 'auto'")
        self.write_mode = write_mode
        self.mor_auto_ratio = mor_auto_ratio
        # pre-commit batch validation (write-audit-publish; plans/validate
        # "pre-commit batch validation" section — the reference's staging-
        # validate-publish stages): each callable(staged_df, info) may
        # raise ValidationFailed; the staged files are then deleted and
        # the table (watermark included) stays byte-untouched for retry.
        self.validators = list(validators or [])
        self.dedup_strategy = dedup_strategy
        self.n_salts = n_salts
        self.broadcast_threshold_rows = broadcast_threshold_rows
        self.repartition_output_bytes = repartition_output_bytes
        # delete_mode is a TABLE property (stamped at create_table): a soft
        # table replayed in hard mode would hard-delete tombstoned keys and
        # drop dl_delete_ts from rewritten buckets. Derive it from the
        # table; an explicit argument must agree.
        tbl_mode = table.properties.get("delete_mode")
        if tbl_mode is None:  # pre-property table: infer from the schema.
            # No dl_delete_ts column ⇒ the table IS hard-mode — inferring
            # None here would let an explicit delete_mode='soft' override
            # slip past the mismatch guard and write tombstone columns a
            # committed schema doesn't carry.
            tbl_mode = (
                "soft"
                if AUDIT_DELETE in table.current().schema.fieldNames()
                else "hard"
            )
        if delete_mode is None:
            delete_mode = tbl_mode or "hard"
        if delete_mode not in ("hard", "soft"):
            raise ValueError("delete_mode must be 'hard' or 'soft'")
        if tbl_mode is not None and delete_mode != tbl_mode:
            raise ValueError(
                f"table at {table.root} was created with delete_mode="
                f"{tbl_mode!r}; running with {delete_mode!r} would corrupt "
                "its tombstones"
            )
        self.delete_mode = delete_mode
        self.track_lsn = table.properties.get("track_lsn") == "true"
        self.history_table = history_table
        self.renames = dict(renames or {})
        self.rename_check = rename_check
        # the merge key IS the table's bucket key (create_table stamps it):
        # derive it, and refuse a conflicting override — replaying a
        # composite-key table with a narrower key would collapse distinct
        # rows in dedup AND compute bucket ids that disagree with the
        # stored file layout (silent corruption, not an error).
        bc = table.current().bucket_column
        tbl_keys = [bc] if isinstance(bc, str) else list(bc)
        if key is None:
            self.keys: list[str] = tbl_keys
        else:
            self.keys = [key] if isinstance(key, str) else list(key)
            if self.keys != tbl_keys:
                raise ValueError(
                    f"table at {table.root} is bucketed by {tbl_keys}; "
                    f"running with merge key {self.keys} would corrupt it"
                )

    # -- table bootstrap -----------------------------------------------------

    @classmethod
    def create_table(
        cls,
        root: str,
        payload_schema: T.StructType = PAYLOAD_SCHEMA,
        num_buckets: int = 32,
        key: str | list[str] = MERGE_KEY,
        soft_delete: bool = False,
        source_label: str | None = None,
        track_lsn: bool = False,
    ) -> LakeTable:
        """``source_label`` enables the provenance column (reference
        datalake_source): every engine-applied live row carries the label;
        the change log itself never provides it.

        ``track_lsn=True`` adds the per-row version column ``dl_lsn`` (the
        LSN of the event that last touched the row): late events then merge
        directly via ``apply_late`` (event.lsn > row.dl_lsn) instead of a
        full-log re-fold — the right mode when out-of-order segment
        delivery is routine. Pairs with ``soft_delete=True`` (a hard delete
        erases the row's version, making late-vs-deleted undecidable)."""
        if track_lsn and not soft_delete:
            raise ValueError(
                "track_lsn=True requires soft_delete=True: a hard delete "
                "erases the row's dl_lsn, so a later late event could not "
                "tell 'never seen' from 'deleted after me' and would "
                "silently resurrect the key"
            )
        fields = list(payload_schema.fields)
        if source_label is not None:
            from dbimport_spark.schema import AUDIT_SOURCE

            fields.append(T.StructField(AUDIT_SOURCE, T.StringType(), True))
        props = {"delete_mode": "soft" if soft_delete else "hard"}
        if source_label is not None:
            props["source_label"] = source_label
        if track_lsn:
            props["track_lsn"] = "true"
        return LakeTable.create(
            root,
            schema=table_schema_with_audit(
                T.StructType(fields),
                soft_delete=soft_delete,
                track_lsn=track_lsn,
            ),
            num_buckets=num_buckets,
            bucket_column=key,
            properties=props,
        )

    @classmethod
    def create_history_table(
        cls,
        root: str,
        payload_schema: T.StructType = PAYLOAD_SCHEMA,
        num_buckets: int = 32,
        key: str | list[str] = MERGE_KEY,
    ) -> LakeTable:
        return LakeTable.create(
            root,
            schema=history_schema(payload_schema),
            num_buckets=num_buckets,
            bucket_column=key,
        )

    # -- rename-aware column sourcing ----------------------------------------

    def _former_names(self, name: str) -> list[str]:
        """Former names of a current column under the DECLARED renames
        (transitive: declaring {a: b, b: c} chains a→b→c). A mixed log —
        segments written before and after a rename, read with mergeSchema —
        carries values under whichever name was current at write time;
        alignment coalesces across them or old segments' values silently
        become null.

        Deliberately DECLARED-only, never the snapshot's historical rename
        chain: a later batch column that merely reuses an ancient former
        name is indistinguishable from a rename echo by type, and silently
        coalescing it would leak the new column's values into the renamed
        one. Undeclared, such a column flows to the evolution diff and the
        epoch-collision commit guard refuses it loudly; the operator then
        either declares the rename (echo case) or picks a new name."""
        formers: list[str] = []
        frontier = [name]
        while frontier:
            cur = frontier.pop()
            for old, new in self.renames.items():
                if new == cur and old not in formers:
                    formers.append(old)
                    frontier.append(old)
        return formers

    def _monotonic_merge_ts(self, snap, candidate=None):
        """Strictly monotonic merge timestamp vs the snapshot's
        ``last_merge_ts`` property — dl_update_ts is the row-level change
        marker incremental exports watermark on with ``>``, so two merge
        windows sharing a coarse clock value would make the second
        invisible to every future export. One definition for every path
        that stamps a merge (apply_batch, repair_keys, apply_late)."""
        from datetime import datetime, timedelta

        val = candidate if candidate is not None else datetime.now()
        prev_iso = snap.properties.get("last_merge_ts")
        if prev_iso is not None:
            prev = datetime.fromisoformat(prev_iso)
            if val <= prev:
                val = prev + timedelta(microseconds=1)
        return val

    def _lww(
        self,
        src: DataFrame,
        payload_cols: list,
        keys: list | None = None,
    ) -> DataFrame:
        """LWW winner per key of a change frame. ``keys`` is the dedup key
        list (the merge keys, optionally prefixed by _bucket; defaults to
        the merge keys).

        Soft mode also attaches the frame's last-live (op != 'D') payload
        as *_lv columns so a delete winner can still materialize its
        pre-image — final state stays invariant under batching (an I then
        D inside ONE window must equal I in one window, D in the next).
        One definition for every write path: the merge step (apply_batch,
        repair_keys, apply_late) and the MOR apply."""
        keys = list(keys if keys is not None else self.keys)
        deduped = dedup_lww(
            src,
            key=keys,
            order_col="lsn",
            strategy=self.dedup_strategy,
            n_salts=self.n_salts,
        )
        if self.delete_mode != "soft":
            return deduped
        non_key = [c for c in payload_cols if c not in self.keys]
        live = dedup_lww(
            src.filter(F.col("op") != "D"),
            key=keys,
            order_col="lsn",
            strategy=self.dedup_strategy,
            n_salts=self.n_salts,
        ).select(
            *keys,
            F.lit(True).alias("_has_lv"),
            *[F.col(c).alias(f"{c}_lv") for c in non_key],
        )
        return deduped.join(live, keys, "left")

    def _source_expr(self, f, bschema: dict):
        """Column expression sourcing schema field ``f`` from a batch:
        coalesce of the current name and any DECLARED former names present,
        cast to the field type; None when the batch carries no candidate.
        A former-name candidate with an incompatible OR WIDER type raises —
        the same loud stop the same-name path gets from the evolution diff.
        Wider must error here too: former columns are excluded from the
        evolution diff (they can never widen the table), so silently
        casting a wider former column DOWN to the narrower table type
        would truncate/overflow instead of losing loudly."""
        from dbimport_spark.lake.evolve import compare_types

        cands = [n for n in [f.name] + self._former_names(f.name) if n in bschema]
        for c in cands:
            if c != f.name and compare_types(f.dataType, bschema[c].dataType) in (
                "incompatible",
                "widen",
            ):
                raise SchemaEvolutionError(
                    f"former-name column {c!r} (rename source of {f.name!r}) "
                    f"has incompatible or wider type "
                    f"{bschema[c].dataType.simpleString()}"
                    f" vs {f.dataType.simpleString()} — a mixed log cannot "
                    "be folded across a type change; declare a full reload"
                )
        if not cands:
            return None
        if len(cands) == 1 and cands[0] == f.name and bschema[f.name].dataType == f.dataType:
            return F.col(f.name)
        return F.coalesce(
            *[F.col(c).cast(f.dataType) for c in cands]
        ).alias(f.name)

    def _align_exprs(
        self, fields, batch_schema: T.StructType, src_label: str | None
    ) -> dict:
        """THE payload-alignment rule, shared by apply_batch, repair_keys
        and apply_late so normal replay and recovery can never fold the
        same log differently: each payload field of ``fields`` sourced from
        a frame of ``batch_schema`` via _source_expr (former-name
        coalesce), engine-stamped provenance label, nulls for absent
        columns. Keyed by payload name, in schema order; the key entries
        are also how the malformed predicate reads the merge keys of the
        RAW frame (``_bad_event_reason(key_exprs=...)``)."""
        from dbimport_spark.schema import AUDIT_SOURCE

        from dbimport_spark.functions.masking import ANONYMIZATION

        bschema = {f.name: f for f in batch_schema.fields}
        out = {}
        for f in fields:
            if f.name in AUDIT_COLUMNS:
                continue
            src = self._source_expr(f, bschema)
            kind = self.anonymize.get(f.name)
            if kind is not None and src is not None:
                # masked output is a string; a non-string table column
                # would silently cast-corrupt, so refuse loudly
                if not isinstance(f.dataType, T.StringType):
                    raise ValueError(
                        f"anonymize[{f.name!r}]={kind!r}: masked values are "
                        f"strings but the table column is "
                        f"{f.dataType.simpleString()} — anonymized columns "
                        "must be declared string in the table schema"
                    )
                fn = ANONYMIZATION[kind]
                src = (
                    fn(src, self.anonymize_salt) if kind == "hash" else fn(src)
                ).alias(f.name)
            if f.name == AUDIT_SOURCE and src_label is not None and src is None:
                # provenance column: stamped by the engine on live rows
                # (reference datalake_source, etl_operations.py:237-239)
                out[f.name] = F.when(
                    F.col("op") != "D", F.lit(src_label)
                ).alias(f.name)
            elif src is None:
                out[f.name] = F.lit(None).cast(f.dataType).alias(f.name)
            else:
                out[f.name] = src
        return out

    def _aligned(self, events: DataFrame, snap) -> DataFrame:
        """``lsn``, ``op`` and the payload of ``events`` aligned to the
        snapshot's schema (missing columns null, narrower cast up, declared
        former names coalesced, provenance label re-stamped)."""
        exprs = self._align_exprs(
            snap.schema.fields, events.schema, snap.properties.get("source_label")
        )
        return events.select(F.col("lsn"), F.col("op"), *exprs.values())

    # -- dry-run evolution planner -------------------------------------------

    def _bad_event_reason(self, key_exprs: dict | None = None):
        """Nullable reason column: non-null iff the event is malformed
        (null merge key / unknown op / null lsn). Evaluated inside the
        stats agg's bucket expression so the clean path pays one per-row
        null check, no extra scan. ``key_exprs`` substitutes the merge-key
        expressions (the alignment rule's, for evaluating the predicate
        against the RAW pre-alignment frame)."""
        key_null = F.lit(False)
        for k in self.keys:
            key_null = key_null | (
                key_exprs[k] if key_exprs else F.col(k)
            ).isNull()
        op_bad = ~F.coalesce(F.col("op").isin("I", "U", "D"), F.lit(False))
        lsn_null = F.col("lsn").isNull()
        reasons = F.concat_ws(
            ",",
            F.when(key_null, F.lit("null_merge_key")),
            F.when(op_bad, F.lit("unknown_op")),
            F.when(lsn_null, F.lit("null_lsn")),
        )
        # concat_ws yields '' (not null) when every part is null — gate it
        return F.when(key_null | op_bad | lsn_null, reasons)

    def plan_evolution(self, batch_schema: "T.StructType") -> dict:
        """DRY RUN of every schema decision ``apply_batch`` would make for
        a batch of this schema — declared-rename simulation, former-name
        type safety, the evolution diff (adds/widenings/comments), the
        merge-key widening refusal, and the commit-time epoch-collision
        guard — in the SAME order, using the same primitives, committing
        nothing. The reference logs its planned ALTERs the same way before
        running them.

        Returns a report dict; ``report["would_apply"]`` is False whenever
        the real replay would refuse, with the refusal message in
        ``report["refusal"]``.
        """
        from dbimport_spark.lake.evolve import (
            RenameSuspected,
            compare_types,
            evolve_schema,
        )
        from dbimport_spark.schema import AUDIT_SOURCE as _AUD_SRC

        snap = self.table.current()
        batch_names = set(batch_schema.fieldNames())
        bschema = {f.name: f for f in batch_schema.fields}

        # 1. declared renames, simulated name-only (apply_batch commits
        # them as metadata renames before anything else)
        schema = snap.schema
        applied_renames = []
        cur_names = set(schema.fieldNames())
        for old, new in self.renames.items():
            if old in cur_names and new not in cur_names and new in batch_names:
                schema = T.StructType(
                    [
                        T.StructField(
                            new if f.name == old else f.name,
                            f.dataType, f.nullable, f.metadata,
                        )
                        for f in schema.fields
                    ]
                )
                cur_names.discard(old)
                cur_names.add(new)
                applied_renames.append({"from": old, "to": new})
        # the simulated renames extend the historical chain the collision
        # guard walks
        sim_snap_renames = snap.renames + applied_renames

        report: dict = {
            "table_version": snap.version,
            "declared_renames": applied_renames,
            "would_apply": True,
            "refusal": None,
        }

        def refuse(msg: str) -> dict:
            report["would_apply"] = False
            report["refusal"] = msg
            return report

        # 2. former-name type safety — the alignment-time check
        # (_source_expr raises for wider/incompatible former columns)
        former_cols: set[str] = set()
        for f in schema.fields:
            # _former_names depends only on self.renames, so it applies
            # unchanged to the simulated schema's field names
            for c in self._former_names(f.name):
                former_cols.add(c)
                if c in bschema and compare_types(
                    f.dataType, bschema[c].dataType
                ) in ("incompatible", "widen"):
                    return refuse(
                        f"SchemaEvolutionError: former-name column {c!r} "
                        f"(rename source of {f.name!r}) has incompatible "
                        f"or wider type "
                        f"{bschema[c].dataType.simpleString()} vs "
                        f"{f.dataType.simpleString()} — declare a full "
                        "reload"
                    )

        # 3. the evolution diff (raises on suspected renames and
        # incompatible type changes, exactly as apply_batch's does)
        try:
            delta = diff_payload_schema(
                schema,
                batch_schema,
                ignore=LOG_BOOKKEEPING | former_cols,
                check_renames=self.rename_check,
                engine_cols=(
                    {_AUD_SRC} if snap.properties.get("source_label") else None
                ),
            )
        except (RenameSuspected, SchemaEvolutionError) as e:
            return refuse(f"{type(e).__name__}: {e}")

        report.update(
            {
                "adds": [
                    {"column": f.name, "type": f.dataType.simpleString()}
                    for f in delta.added
                ],
                "widenings": [
                    {"column": f.name, "to": f.dataType.simpleString()}
                    for f in delta.widened
                ],
                "comment_changes": [c for c, _ in delta.commented],
                "coalesced_former_names": sorted(
                    n for n in former_cols if n in batch_names
                ),
            }
        )

        # 4. merge-key widening refusal
        key_widened = sorted(f.name for f in delta.widened if f.name in self.keys)
        if key_widened:
            return refuse(
                f"SchemaEvolutionError: type widening on merge/bucket key "
                f"column(s) {key_widened} — requires full_reload"
            )

        # 5. commit-time epoch-collision guard on the evolved schema
        if delta.added and sim_snap_renames:
            from dataclasses import replace as _dc_replace

            try:
                self.table.check_epoch_collisions(
                    _dc_replace(snap, renames=sim_snap_renames),
                    evolve_schema(schema, delta),
                )
            except ValueError as e:
                return refuse(f"ValueError: {e}")
        return report

    # -- single batch --------------------------------------------------------

    def apply_batch(
        self,
        batch: DataFrame,
        lo: int,
        hi: int,
        stats_extra: dict | None = None,
    ) -> BatchStats:
        """Apply change events with lo < lsn <= hi. Idempotent.

        ``lo``/``hi`` are the watermark window bounds (strict > low,
        inclusive <= high — mirroring the reference's incremental WHERE,
        import_config.py:2230-2246). The caller guarantees the batch holds
        exactly that LSN range. ``stats_extra`` sets BatchStats fields
        the caller computed about this batch (e.g. the matview's
        ``rescanned_groups``) BEFORE the stats-sink emit — setting them
        on the returned object would be too late for telemetry.
        """
        bs = self._apply_batch(batch, lo, hi)
        for k, v in (stats_extra or {}).items():
            setattr(bs, k, v)
        self._emit_stats("apply_batch", bs)
        return bs

    def _emit_stats(self, op: str, bs: BatchStats) -> None:
        if self.stats_sink is None:
            return
        from dataclasses import asdict
        from datetime import datetime

        from dbimport_spark.plans.stats_sink import emit_batch_stats

        emit_batch_stats(
            self.stats_sink,
            {
                "op": op,
                "table": self.table.root,
                "version": self.table.current().version,
                "ts": datetime.now().isoformat(),
                **asdict(bs),
            },
        )

    def _apply_batch(self, batch: DataFrame, lo: int, hi: int) -> BatchStats:
        # -- declared renames (metadata-only commit per rename) -------------
        if self.renames:
            cur_names = set(self.table.current().schema.fieldNames())
            batch_names = set(batch.schema.fieldNames())
            for old, new in self.renames.items():
                if old in cur_names and new not in cur_names and new in batch_names:
                    self.table.rename_column(old, new)
                    cur_names.discard(old)
                    cur_names.add(new)
                    # the history table mirrors payload columns: rename it
                    # through the same epoch machinery, otherwise its old
                    # files would silently read the column as null
                    ht = self.history_table
                    if ht is not None:
                        h_names = ht.current().schema.fieldNames()
                        if old in h_names and new not in h_names:
                            ht.rename_column(old, new)

        snap = self.table.current()
        if self.table.last_lsn() >= hi:
            return BatchStats(lo=lo, hi=hi, skipped=True)

        # -- schema evolution: adds + type widenings (metadata-only) --------
        from dbimport_spark.schema import AUDIT_SOURCE as _AUD_SRC

        # a mixed log (mergeSchema read spanning a DECLARED rename) also
        # carries the former column names — they are sourced via coalesce
        # in alignment, never evolution adds. Only declared formers are
        # excluded: an undeclared column matching a historical former name
        # still reaches the diff and the epoch-collision commit guard, the
        # designed loud refusal for that ambiguity.
        former_cols = {
            n for f in snap.schema.fields for n in self._former_names(f.name)
        }
        delta = diff_payload_schema(
            snap.schema, batch.schema, ignore=LOG_BOOKKEEPING | former_cols,
            check_renames=self.rename_check,
            engine_cols=(
                {_AUD_SRC} if snap.properties.get("source_label") else None
            ),
        )
        # bucket placement is pmod(xxhash64(key), N) and xxhash64 is
        # type-sensitive (xxhash64(7 as int) != xxhash64(7 as bigint)):
        # a metadata-only widen of a merge/bucket key would compute touched
        # buckets under the new type while existing rows sit in buckets
        # hashed under the old one — merges silently miss existing rows
        # (duplicate inserts, lost deletes). Key-type changes require a
        # rebucketing rewrite, i.e. a declared full reload.
        key_widened = sorted(f.name for f in delta.widened if f.name in self.keys)
        if key_widened:
            raise SchemaEvolutionError(
                f"type widening on merge/bucket key column(s) {key_widened}: "
                "bucket ids are xxhash64 over the key value and the hash is "
                "type-sensitive, so existing rows would no longer be found "
                "by the merge. A key-type change requires rebucketing the "
                "whole table — run CDCEngine.full_reload(changes) (CLI: "
                "replay --full-reload) to re-create the table at the new "
                "schema and replay from LSN 0."
            )
        new_schema = evolve_schema(snap.schema, delta)
        payload_cols = [f.name for f in new_schema.fields if f.name not in AUDIT_COLUMNS]

        # align batch to the (evolved) payload column set; columns the batch
        # doesn't carry (older log segments) come through as nulls; narrower
        # batch columns are cast up to the table type
        src_label = snap.properties.get("source_label")
        aligned_payload = self._align_exprs(
            new_schema.fields, batch.schema, src_label
        )
        aligned_cols = [F.col("lsn"), F.col("op"), *aligned_payload.values()]
        has_commit_ts = "commit_ts" in batch.columns
        if has_commit_ts:
            aligned_cols.append(F.col("commit_ts"))
        batch_raw = batch  # pre-alignment: the quarantine parks THESE rows
        batch = batch.select(*aligned_cols)

        # -- one metadata-sized agg: touched buckets + per-bucket lineage ---
        # malformed events are routed to pseudo-bucket -1 INSIDE the same
        # single-pass agg, so detection costs nothing on the clean path;
        # only a batch that actually carries bad rows pays a second pass
        # (the quarantine write + filter).
        bexpr = self.table.bucket_expr(key_col=self.keys, num_buckets=snap.num_buckets)
        bad_reason = self._bad_event_reason()
        agg_cols = [
            F.count(F.lit(1)).alias("events"),
            F.min("lsn").alias("first_lsn"),
            F.max("lsn").alias("last_lsn"),
            # delete-event presence, same pass: lets the MOR path skip the
            # tombstone-file write job entirely on delete-free batches
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("dels"),
        ]
        if has_commit_ts:
            agg_cols.append(F.max("commit_ts").alias("max_ts"))
        per_bucket = (
            batch.groupBy(
                F.when(bad_reason.isNotNull(), F.lit(-1))
                .otherwise(bexpr)
                .alias("bucket")
            )
            .agg(*agg_cols)
            .collect()
        )

        bad_rows = [r for r in per_bucket if r["bucket"] == -1]
        n_bad = sum(r["events"] for r in bad_rows)
        # the quarantine's lineage record, with the actual lsn span of the
        # quarantined events (F.min/max skip nulls; all-null-lsn batches
        # fall back to the window's inclusive bounds lo+1..hi — never the
        # exclusive lo, which per-bucket records also never stamp)
        quarantined = (
            [
                {
                    "quarantined": n_bad,
                    "first_lsn": min(
                        (r["first_lsn"] for r in bad_rows if r["first_lsn"] is not None),
                        default=lo + 1,
                    ),
                    "last_lsn": max(
                        (r["last_lsn"] for r in bad_rows if r["last_lsn"] is not None),
                        default=hi,
                    ),
                }
            ]
            if n_bad
            else []
        )
        per_bucket = [r for r in per_bucket if r["bucket"] != -1]
        if n_bad:
            if self.quarantine_dir is None:
                raise ValueError(
                    f"batch ({lo}, {hi}] carries {n_bad} malformed event(s) "
                    "(null merge key, unknown op, or null lsn) — these "
                    "would silently corrupt the merge. Pass "
                    "CDCEngine(quarantine_dir=...) to divert them and "
                    "continue, or fix the source."
                )
            # park the ORIGINAL rows, not the aligned projection: alignment
            # drops undeclared columns (e.g. a key riding an undeclared
            # former name — the most common null_merge_key cause), and a
            # dead letter that lost that evidence could never be repaired
            # or drained. The predicate is the SAME rule, evaluated through
            # the alignment exprs (they are expressions over the raw frame).
            raw_reason = self._bad_event_reason(key_exprs=aligned_payload)
            (
                batch_raw.filter(raw_reason.isNotNull())
                .withColumn("dl_reason", raw_reason)
                # the source segment each dead letter came from ('' for
                # non-file frames): null-lsn rows are invisible to the
                # watermark, so a later re-planned replay over the same
                # grown log dedupes its null routing against this record
                # (file-identity — segments are immutable) instead of
                # re-parking every historical dead letter each cycle
                .withColumn("dl_srcfile", F.input_file_name())
                .write.mode("overwrite")
                .parquet(os.path.join(self.quarantine_dir, f"batch-{lo}-{hi}"))
            )
            batch = batch.filter(bad_reason.isNull())

        if not per_bucket:
            # empty window: still advance the watermark (atomic, no files)
            self.table.commit(
                [],
                set(),
                properties={"last_lsn": str(hi)},
                lineage=quarantined or None,
                expected_version=snap.version,
            )
            return BatchStats(
                lo=lo, hi=hi, events=0, mode="empty", quarantined=n_bad
            )

        touched = sorted(r["bucket"] for r in per_bucket)
        n_events = sum(r["events"] for r in per_bucket)
        n_dels = sum(r["dels"] or 0 for r in per_bucket)
        ts_vals = (
            [r["max_ts"] for r in per_bucket if r["max_ts"] is not None]
            if has_commit_ts
            else []
        )
        # merge_ts must be STRICTLY monotonic across commits: it is the
        # row-level change marker (dl_update_ts) the incremental export
        # watermarks on with '>'. Two windows sharing a coarse commit_ts
        # would otherwise make the second invisible to every future export.
        merge_ts_val = self._monotonic_merge_ts(
            snap, max(ts_vals) if ts_vals else None
        )
        batch_nc = batch.drop("commit_ts") if has_commit_ts else batch

        # -- write-mode decision (metadata-only) -----------------------------
        touched_set = set(touched)
        touched_have_files = any(f.bucket in touched_set for f in snap.files)
        touched_rows = sum(f.rows for f in snap.files if f.bucket in touched_set)
        use_mor = touched_have_files and (
            self.write_mode == "mor"
            or (
                self.write_mode == "auto"
                and n_events < self.mor_auto_ratio * touched_rows
            )
        )
        if self.write_mode == "auto":
            import logging

            logging.getLogger(__name__).info(
                "auto write-mode for window (%d, %d]: %s (%d events vs %d "
                "touched base rows, ratio %.4f, threshold %.4f)",
                lo, hi, "mor" if use_mor else "cow", n_events, touched_rows,
                (n_events / touched_rows) if touched_rows else float("inf"),
                self.mor_auto_ratio,
            )

        target = self._read_target(touched, new_schema)
        if use_mor:
            mode = "mor"
            deduped, new_files, staged = self._write_mor(
                batch_nc, snap, target, payload_cols, touched, n_events,
                n_dels, lo, hi, merge_ts_val,
            )
        else:
            mode, deduped, out = self._merge_step(
                batch_nc, target, snap, touched, payload_cols, merge_ts_val,
                n_events,
            )
            staged = [f"s{snap.version + 1}-{uuid.uuid4().hex[:8]}"]
            new_files = self.table.write_data_files(self.spark, out, staged[0])

        self._run_validators(
            [f for f in new_files if f.kind != "delete"], snap, new_schema,
            {
                "lo": lo, "hi": hi, "mode": mode, "events": n_events,
                "deletes": n_dels,
                "touched_buckets": len(touched),
                "out_rows": sum(f.rows for f in new_files),
                "out_bytes": sum(f.bytes for f in new_files),
                "prev_rows": touched_rows,
            },
            staged,
        )

        # -- per-bucket lineage from the written files ----------------------
        out_by_bucket: dict[int, list[int]] = {}
        for fl in new_files:
            rows, nbytes = out_by_bucket.get(fl.bucket, [0, 0])
            out_by_bucket[fl.bucket] = [rows + fl.rows, nbytes + fl.bytes]
        lineage = [
            {
                "bucket": r["bucket"],
                "first_lsn": r["first_lsn"],
                "last_lsn": r["last_lsn"],
                "events": r["events"],
                "rows": out_by_bucket.get(r["bucket"], [0, 0])[0],
                "bytes": out_by_bucket.get(r["bucket"], [0, 0])[1],
            }
            for r in per_bucket
        ]
        return self._commit_tail(
            snap,
            BatchStats(
                lo=lo, hi=hi, events=n_events, touched_buckets=len(touched),
                mode=mode, quarantined=n_bad,
            ),
            new_files,
            staged,
            (deduped, target, payload_cols),
            merge_ts_val,
            replaced=set() if use_mor else touched_set,
            lineage=lineage + quarantined,
            new_schema=new_schema if delta else None,
        )

    def _read_target(self, touched: list[int], schema: T.StructType) -> DataFrame:
        """Bucket-pruned read of the touched buckets' current rows, aligned
        to ``schema``: added columns null, widened columns cast up (old
        files are also readable directly through the widened schema —
        SPARK-40876 — but this read predates the schema commit, so cast
        explicitly). Every write path merges into this frame."""
        target = self.table.read(self.spark, buckets=touched)
        tcols = set(target.columns)
        return target.select(
            *[
                (
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    if f.name in tcols
                    else F.lit(None).cast(f.dataType).alias(f.name)
                )
                for f in schema.fields
            ]
        )

    def _merge_step(
        self,
        events: DataFrame,
        target: DataFrame,
        snap,
        touched: list[int],
        payload_cols: list[str],
        merge_ts_val,
        n: int,
    ) -> tuple[str, DataFrame, DataFrame]:
        """THE merge step of every bucket-rewriting path (apply_batch's
        copy-on-write apply, repair_keys, apply_late): LWW dedup of the
        aligned change events (``_lww``), the merge into the touched
        buckets' ``target`` rows, then ``_bucket`` and the pre-write
        repartition.

        The plan is chosen from metadata and ``n`` (the events, or keys,
        in scope): touched buckets without files take the insert-only
        projection; ``n <= broadcast_threshold_rows`` the broadcast merge
        (zero target exchange); larger sets the bucket-aligned shuffle
        merge. Returns ``(mode, deduped, out)``; ``deduped`` also feeds the
        history append.

        NOTE the deduped events are deliberately NOT persisted on the
        bucket-aligned plans: their consumers fuse into the single write
        job, and recomputing the hash-agg is measurably cheaper than
        materializing token arrays into the JVM block manager
        (deserialized cache showed 3x slowdown at 32 threads from GC /
        memory-store contention).
        """
        merge_ts = F.lit(merge_ts_val)
        bexpr = self.table.bucket_expr(key_col=self.keys, num_buckets=snap.num_buckets)
        ts = set(touched)  # hoisted: the generator runs per FILE
        touched_files = [f for f in snap.files if f.bucket in ts]
        if touched_files and n <= self.broadcast_threshold_rows:
            # steady-state CDC: batch broadcast, target streamed — zero
            # target shuffle; output keeps the target's per-bucket-file
            # partitioning, so the partitionBy write stays shuffle-free.
            # Three consumers inside the broadcast merge (the broadcast
            # build, the matched-keys semi probe, and the insert anti-join)
            # would each re-read the events and re-run the dedup;
            # materialize once — bounded by broadcast_threshold_rows, the
            # same cap that already gates broadcasting this frame's full
            # payload.
            deduped = self._lww(events, payload_cols).localCheckpoint(eager=False)
            out = merge_changes(
                target,
                deduped,
                self.keys,
                payload_cols,
                merge_ts,
                mode="broadcast",
                delete_mode=self.delete_mode,
            ).withColumn("_bucket", bexpr)
            # small touched set: one cheap exchange keeps one file per
            # bucket. Large touched set (the 100 TB steady state): skip it —
            # preserving the zero-target-shuffle property matters more than
            # file count, and compaction reclaims layout asynchronously.
            if sum(f.bytes for f in touched_files) < self.repartition_output_bytes:
                out = out.repartition(max(len(touched), 1), "_bucket")
            return "broadcast", deduped, out
        # bucket-aligned plan: ONE explicit exchange per side, then the
        # dedup (groupBy(_bucket, key)), the full-outer join on
        # (_bucket, key), and the partitionBy(_bucket) write all ride
        # the same HashPartitioning — no further shuffles, no sorts
        # (shuffled-hash join preferred in the session config).
        # partition by the table's bucket layout, NOT by core count:
        # bounded, data-sized tasks (≈ one bucket each) that pipeline
        # across whatever parallelism is available — the same plan at
        # local[4] and on a 1000-executor cluster
        nparts = snap.num_buckets
        events_b = events.withColumn("_bucket", bexpr).repartition(
            nparts, "_bucket"
        )
        deduped = self._lww(events_b, payload_cols, ["_bucket"] + self.keys)
        if not touched_files:
            return "insert-only", deduped, inserts_only(
                deduped,
                self.keys,
                payload_cols,
                merge_ts,
                bucket_col="_bucket",
                soft=self.delete_mode == "soft",
                track_lsn=self.track_lsn,
            )
        target_b = target.withColumn("_bucket", bexpr).repartition(
            nparts, "_bucket"
        )
        return "shuffle", deduped, merge_changes(
            target_b,
            deduped,
            self.keys,
            payload_cols,
            merge_ts,
            mode="shuffle",
            bucket_col="_bucket",
            delete_mode=self.delete_mode,
        )

    def _drop_staged(self, version_dirs) -> None:
        """Remove staged, never-committed version dirs under data/."""
        for d in version_dirs:
            shutil.rmtree(
                os.path.join(self.table.root, "data", d), ignore_errors=True
            )

    def _commit_tail(
        self,
        snap,
        bs: BatchStats,
        new_files: list,
        staged: list[str],
        hist: tuple,
        merge_ts_val,
        replaced: set[int],
        lineage: list[dict] | None = None,
        new_schema: T.StructType | None = None,
    ) -> BatchStats:
        """Publish a write path's staged files (``staged``: their version
        dirs under data/): the history append, then ONE atomic commit at
        ``expected_version=snap.version``, then the returned BatchStats
        (``bs`` plus output rows/bytes). Every write path ends here.

        A window commit (apply_batch; ``lineage`` given) carries the
        watermark ``bs.hi`` with the data in the same snapshot. Without
        ``lineage`` it is a marker commit (repair_keys, apply_late): the
        watermark stays, and the lineage is one ``{bs.mode: True, keys,
        buckets}`` record. ``hist`` is ``(deduped, target, payload_cols)``
        for ``_append_history``; ``new_schema`` an evolved schema the
        commit publishes.
        """
        window = lineage is not None
        # -- optional history-audit append (own idempotent commit, BEFORE the
        # main commit: crash between them re-applies the main batch, crash
        # after history re-skips it via its own last_lsn). A marker commit
        # leaves the watermark where history already is, so it always
        # appends: history is at-least-once under a re-run repair ---------
        ht = self.history_table
        if ht is not None and (not window or ht.last_lsn() < bs.hi):
            self._append_history(
                *hist,
                snap.schema if new_schema is None else new_schema,
                F.lit(merge_ts_val),
                bs.hi,
                broadcast_ok=bs.events <= self.broadcast_threshold_rows,
            )
        if window:
            properties = {
                "last_lsn": str(bs.hi),
                "last_batch_events": str(bs.events),
                "last_batch_mode": bs.mode,
            }
        else:
            properties = {}
            lineage = [
                {bs.mode: True, "keys": bs.events, "buckets": sorted(replaced)}
            ]
        properties["last_merge_ts"] = merge_ts_val.isoformat()
        try:
            self.table.commit(
                new_files,
                replaced_buckets=replaced,
                properties=properties,
                lineage=lineage,
                new_schema=new_schema,
                expected_version=snap.version,
            )
        except CommitConflict:
            # another writer won the version race. If it already applied
            # this window (same LSN ranges from a shared plan), our write
            # is a duplicate: drop the orphaned files and report skipped.
            # Otherwise the table moved under us in a way the caller must
            # resolve — re-raise (the reference's stage machine would
            # rewind and retry, import_stage.py:1018-1039 analogue). A
            # marker commit carries no window, so it always re-raises.
            if window and self.table.last_lsn() >= bs.hi:
                self._drop_staged(staged)
                return BatchStats(lo=bs.lo, hi=bs.hi, skipped=True)
            raise
        bs.out_rows = sum(f.rows for f in new_files)
        bs.out_bytes = sum(f.bytes for f in new_files)
        return bs

    def _run_validators(
        self, staged_files, snap, new_schema, info: dict, version_dirs
    ) -> None:
        """Write-audit-publish gate: run every configured validator against
        the just-written, NOT-YET-COMMITTED files. A rejection deletes the
        staged dirs and re-raises — the table, its watermark, and its
        snapshot chain are byte-untouched, so the window replays after the
        operator fixes the source (the reference's stage-machine halt on
        validation failure, import_operations.py validate stages)."""
        if not self.validators:
            return
        from dataclasses import replace as _dc_replace

        from dbimport_spark.plans.validate import ValidationFailed

        staged = self.table.read_files(
            self.spark, _dc_replace(snap, schema=new_schema), staged_files
        )
        try:
            for v in self.validators:
                v(staged, info)
        except ValidationFailed:
            self._drop_staged(version_dirs)
            raise

    def _write_mor(
        self,
        batch_nc: DataFrame,
        snap,
        current: DataFrame,
        payload_cols: list[str],
        touched: list[int],
        n_events: int,
        n_dels: int,
        lo: int,
        hi: int,
        merge_ts_val,
    ) -> tuple[DataFrame, list, list[str]]:
        """Merge-on-read apply: append superseding delta files + key-only
        delete files instead of rewriting the touched buckets. Returns
        ``(deduped, new_files, staged_dirs)`` for the commit tail.

        Scale shape (the reason this path exists): a CoW batch's write
        cost is the touched buckets' FULL size — at 100 TB with TB-scale
        buckets a 1k-event batch rewrites terabytes. Here the only
        full-width data movement is the batch itself; the touched buckets
        (``current``) are scanned ONCE, COLUMN-PRUNED to (keys,
        dl_insert_ts[, dl_delete_ts]) — a few percent of bucket bytes
        under token-array payloads — to preserve insert-vs-update audit
        parity, and never shuffled (broadcast semi-join, batch side
        built). Read-time reconciliation + compaction
        (``lake.maintenance``) fold the deltas back into base
        asynchronously.
        """
        # resolved at call time, so a wrapper installed on the operators
        # module (perfbench's layer tracer) sees every call
        from dbimport_spark.operators.merge import mor_outputs
        from dbimport_spark.schema import AUDIT_INSERT

        soft = self.delete_mode == "soft"
        bexpr = self.table.bucket_expr(key_col=self.keys, num_buckets=snap.num_buckets)
        deduped = self._lww(batch_nc, payload_cols).withColumn("_bucket", bexpr)
        # hard-mode batches with deletes run TWO write jobs (delta files,
        # then key-only tombstones) over this frame and its probe; without
        # materialization the second job re-reads the log window, re-runs
        # the dedup, and re-scans the touched buckets' narrow probe
        # columns. Both frames are batch-sized (the MOR invariant), so the
        # lazy checkpoint is bounded by batch size at any table scale.
        two_jobs = n_dels and self.delete_mode == "hard"
        if two_jobs:
            deduped = deduped.localCheckpoint(eager=False)

        # narrow audit probe: reconciled current rows of the batch's keys,
        # column-pruned to keys + insert-ts. The semi-join streams the
        # touched buckets (batch keys broadcast); output is batch-sized.
        probe_cols = [*self.keys, AUDIT_INSERT]
        batch_keys = deduped.select(*self.keys)
        probe = current.select(*probe_cols).join(
            F.broadcast(batch_keys), self.keys, "left_semi"
        )
        if two_jobs:
            probe = probe.localCheckpoint(eager=False)

        preimages = None
        if soft and n_dels:
            # 'D' winners whose window carried no live payload need their
            # pre-image from the table — a FULL-WIDTH streamed pass over
            # the touched buckets, paid only when such winners exist
            # (checked with one cheap job over the batch-sized winner set)
            no_lv_dels = deduped.filter(
                (F.col("op") == "D")
                & ~F.coalesce(F.col("_has_lv"), F.lit(False))
            ).select(*self.keys)
            if no_lv_dels.limit(1).count() > 0:
                import logging

                logging.getLogger(__name__).info(
                    "mor window (%d, %d]: fetching soft-delete pre-images "
                    "(full-width scan of %d touched bucket(s))",
                    lo, hi, len(touched),
                )
                preimages = current.join(
                    F.broadcast(no_lv_dels), self.keys, "left_semi"
                )

        upserts, delete_keys = mor_outputs(
            deduped,
            probe,
            self.keys,
            payload_cols,
            F.lit(merge_ts_val),
            bucket_col="_bucket",
            delete_mode=self.delete_mode,
            track_lsn=self.track_lsn,
            preimages=preimages,
        )
        # batch-sized output: a handful of write tasks, each emitting one
        # file per bucket it holds — total delta files per batch stays
        # <= touched buckets regardless of parallelism. Both writes come
        # from ``deduped`` (one winner per key), so this commit holds at
        # most one row per key across its delta and delete files — the
        # invariant ``LakeTable.read_files_reconciled`` relies on.
        import math as _math

        nparts = max(1, min(len(touched), _math.ceil(n_events / 1_000_000) * 8))
        version_dir = f"s{snap.version + 1}-{uuid.uuid4().hex[:8]}"
        staged = [version_dir, version_dir + "-del"]
        new_files = self.table.write_data_files(
            self.spark, upserts.repartition(nparts, "_bucket"), version_dir
        )
        for f in new_files:
            f.kind = "delta"
        if delete_keys is not None and n_dels:
            del_files = self.table.write_data_files(
                self.spark, delete_keys.repartition(nparts, "_bucket"), staged[1]
            )
            for f in del_files:
                f.kind = "delete"
            new_files = new_files + del_files
        return deduped, new_files, staged

    def _append_history(
        self,
        deduped: DataFrame,
        target: DataFrame,
        payload_cols: list[str],
        new_schema: T.StructType,
        merge_ts,
        hi: int,
        broadcast_ok: bool = True,
    ) -> None:
        """Append I/U/D row images to the history table (reference
        etl_operations.py:319-360). Delete events carry null payload in the
        log, so their pre-images are recovered from the target — the
        deleted-row enrichment join (reference J5, etl_operations.py:544-589)
        done as semi+broadcast so the target is streamed, never shuffled.
        ``broadcast_ok=False`` (batches past the broadcast threshold) drops
        the explicit hints and lets AQE pick the join strategy — forcing a
        multi-million-row delete set through a broadcast would OOM exactly
        where the shuffle merge path was chosen for size.
        """
        ht = self.history_table
        hist = deduped.drop("_bucket") if "_bucket" in deduped.columns else deduped
        keys = self.keys
        bc = F.broadcast if broadcast_ok else (lambda df: df)
        dels = hist.filter(F.col("op") == "D").select("lsn", "op", *keys)
        pre = target.select(*payload_cols).join(
            bc(dels.select(*keys)), keys, "left_semi"
        )
        dels_full = dels.join(bc(pre), keys, "left").select(
            *payload_cols, "op", "lsn"
        )
        live = hist.filter(F.col("op") != "D").select(*payload_cols, "op", "lsn")
        rows = live.unionByName(dels_full).withColumn("dl_hist_ts", merge_ts)

        hsnap = ht.current()
        payload_fields = [f for f in new_schema.fields if f.name not in AUDIT_COLUMNS]
        want = history_schema(T.StructType(payload_fields))
        same = [(f.name, f.dataType) for f in want.fields] == [
            (f.name, f.dataType) for f in hsnap.schema.fields
        ]
        hist_new_schema = None if same else want
        hexpr = ht.bucket_expr(key_col=keys, num_buckets=hsnap.num_buckets)
        # one exchange keeps one file per bucket per append (history rows
        # are batch-sized, never table-sized — always cheap)
        out = rows.withColumn("_bucket", hexpr).repartition(
            hsnap.num_buckets, "_bucket"
        )
        hdir = f"h{hsnap.version + 1}-{uuid.uuid4().hex[:8]}"
        files = ht.write_data_files(self.spark, out, hdir)
        try:
            ht.commit(
                files,
                replaced_buckets=set(),  # pure append
                properties={"last_lsn": str(hi)},
                new_schema=hist_new_schema,
                expected_version=hsnap.version,
            )
        except CommitConflict:
            # a racing writer appended this window's history first: drop our
            # duplicate files and move on (same shared-plan race the main
            # commit handles)
            if ht.last_lsn() >= hi:

                shutil.rmtree(os.path.join(ht.root, "data", hdir), ignore_errors=True)
                return
            raise

    # -- targeted key repair -------------------------------------------------

    def repair_keys(
        self,
        changes: DataFrame,
        keys: DataFrame | None = None,
        window: tuple[int, int] | None = None,
    ) -> BatchStats:
        """Authoritative re-fold for a key subset: recompute the LWW fold of
        ``changes`` (the full log as currently known) restricted to the
        given keys and merge the result into their buckets — regardless of
        the committed watermark.

        The scope is either an explicit ``keys`` frame (columns = the merge
        keys, CURRENT names) or an LSN ``window`` (lo, hi] — the keys are
        then derived from the ALIGNED log, so a lost window inside
        pre-rename segments still resolves its keys through the declared
        former names. Null merge keys in scope raise (they signal an
        undeclared rename — repairing 'null' would silently no-op).

        This is the recovery path for out-of-order segment delivery
        (streaming): the watermark can never move backward, so a late
        segment's events can never be applied through ``apply_batch``;
        repair instead recomputes final state for exactly the touched keys
        from the whole log. The watermark is left unchanged (no events past
        it are introduced); the commit carries a repair marker in lineage.
        Schema evolution deliberately does NOT run here — a repair replays
        history, it never advances the schema. The history table, if
        configured, receives the repaired row images (its own commit BEFORE
        the main one, so a crash between them re-runs the repair; history
        rows for a re-run repair can therefore appear twice — history is
        at-least-once under repair crashes, exactly-once under normal
        replay).

        The fold runs apply_batch's own merge step (``_merge_step``): key
        sets up to ``broadcast_threshold_rows`` run the broadcast merge
        (zero target exchange); larger sets fall back to the bucket-aligned
        shuffle plan — same switch apply_batch makes.

        Design trade-off, stated for the record: storing a per-row version
        column (dl_lsn = the winning event's LSN) would make late events
        directly mergeable (apply iff event.lsn > row.dl_lsn) with a single
        bucket-pruned merge — no log re-scan. We chose the log-re-fold
        because (a) the per-segment ledger is needed anyway to classify
        re-delivery vs late arrival, (b) out-of-order delivery is the
        exception path (the reference's sources are all ordered), and
        (c) re-fold needs zero schema/merge-expression surface in the hot
        path. At a deployment where late segments are ROUTINE, the dl_lsn
        column is the better design and this method is where it would slot
        in.
        """
        if (keys is None) == (window is None):
            raise ValueError("pass exactly one of keys= or window=")
        snap = self.table.current()
        # align to the CURRENT table schema FIRST (missing columns null,
        # narrower cast up, declared former names coalesced — a repair fold
        # spans the whole log, which may straddle a rename — provenance
        # label re-stamped), THEN scope by key: the key itself may carry a
        # former name in old segments, so key derivation and scoping must
        # run on the aligned frame.
        payload_cols = [
            f.name for f in snap.schema.fields if f.name not in AUDIT_COLUMNS
        ]
        aligned_df = self._aligned(changes, snap)
        if keys is None:
            lo, hi = window
            key_src = aligned_df.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        else:
            key_src = keys
        scope = self._key_scope(
            key_src,
            snap,
            "repair scope contains null merge key(s) — the log likely "
            "carries the key under an undeclared former name; declare "
            "the rename (CDCEngine(renames={...})) and retry",
        )
        if scope is None:
            return BatchStats(lo=-1, hi=self.table.last_lsn(), skipped=True)
        key_rows, n_keys, touched = scope
        big = n_keys > self.broadcast_threshold_rows
        scoped = aligned_df.join(
            key_rows if big else F.broadcast(key_rows), self.keys, "left_semi"
        )
        merge_ts_val = self._monotonic_merge_ts(snap)
        target = self._read_target(touched, snap.schema)
        _mode, deduped, out = self._merge_step(
            scoped, target, snap, touched, payload_cols, merge_ts_val, n_keys
        )
        version_dir = f"r{snap.version + 1}-{uuid.uuid4().hex[:8]}"
        new_files = self.table.write_data_files(self.spark, out, version_dir)
        return self._commit_tail(
            snap,
            BatchStats(
                lo=-1, hi=self.table.last_lsn(), events=n_keys,
                touched_buckets=len(touched), mode="repair",
            ),
            new_files,
            [version_dir],
            (deduped, target, payload_cols),
            merge_ts_val,
            replaced=set(touched),
        )

    def _key_scope(self, key_src: DataFrame, snap, refusal: str):
        """Key-scope prelude of repair_keys and apply_late: the distinct
        merge-key rows of ``key_src`` (current column names), refused with
        ``refusal`` when any key component is null, and the buckets they
        touch.
        Returns ``(key_rows, n_keys, touched)``, or None for an empty scope
        — committing then would bump the version, advance last_merge_ts,
        and stamp an empty marker lineage for no state change.

        ONE materialized frame feeds the count, the scoping join, and the
        touched-bucket collect — on a CLI repair the source is the whole
        log, so re-deriving it per consumer would multiply the log scans.
        The null check runs BEFORE any dedup/join: a key riding an
        UNDECLARED former name aligns to null, and the maxjoin dedup's
        semi-join would silently DROP those rows while the call reports
        success."""
        key_rows = key_src.select(*self.keys).distinct().localCheckpoint(eager=True)
        null_pred = F.lit(False)
        for k in self.keys:
            null_pred = null_pred | F.col(k).isNull()
        counts = key_rows.agg(  # one pass: total and null-key rows
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(null_pred, F.lit(1))).alias("nulls"),
        ).first()
        if counts["nulls"] > 0:
            raise ValueError(refusal)
        if counts["n"] == 0:
            return None
        bexpr = self.table.bucket_expr(key_col=self.keys, num_buckets=snap.num_buckets)
        touched = sorted(
            r["bucket"]
            for r in key_rows.select(bexpr.alias("bucket")).distinct().collect()
        )
        return key_rows, counts["n"], touched

    # -- dead-letter drain ----------------------------------------------------

    def quarantined_null_srcfiles(self) -> set[str]:
        """Source segments whose null-lsn dead letters are already parked
        or drained — read back from the quarantine's own ``dl_srcfile``
        record (live ``batch-*`` and archived ``drained-batch-*`` dirs).
        Null-lsn rows are invisible to the watermark, so this record is
        the ONLY durable evidence a segment's dead letters were handled.
        Metadata-sized: dead letters are rare by construction. Dirs
        written before the ``dl_srcfile`` column existed contribute
        nothing (their segments re-park once, then carry the record)."""
        if self.quarantine_dir is None or not os.path.isdir(self.quarantine_dir):
            return set()
        out: set[str] = set()
        for name in sorted(os.listdir(self.quarantine_dir)):
            if not re.match(r"^(drained-)?batch-(-?\d+)-(-?\d+)$", name):
                continue
            try:
                df = self.spark.read.parquet(
                    os.path.join(self.quarantine_dir, name)
                )
            except Exception:
                continue
            if "dl_srcfile" not in df.columns or "dl_reason" not in df.columns:
                continue
            rows = (
                df.filter(F.col("dl_reason").contains("null_lsn"))
                .select("dl_srcfile")
                .distinct()
                .collect()
            )
            out.update(r["dl_srcfile"] for r in rows if r["dl_srcfile"])
        return out

    def _null_route_pred(self, changes: DataFrame, committed: int):
        """Predicate selecting the null-lsn (malformed) rows the first
        applied window should route into the quarantine. Null lsn is
        invisible to every window filter AND to the watermark, so routing
        ALL of them would re-park every historical dead letter on each
        re-planned replay over the same grown log (and double-count
        already-drained events). Dedup by source segment — segments are
        immutable, and a segment's null rows are parked all-at-once by
        whichever window first routes them: segments already recorded in
        the quarantine (``dl_srcfile``) are excluded. Non-file frames
        ('' name) have no durable identity and fall back to the watermark
        heuristic: route iff the frame carries rows beyond the committed
        watermark (i.e. it is not a pure re-read of applied history).

        Returns ``(predicate_or_None, route_any)``. Cost ∝ dirty
        segments: the IS NULL probe prunes clean row groups via parquet
        null counts, and the quarantine read-back is dead-letter-sized.
        """
        dirty = [
            r["f"]
            for r in changes.filter(F.col("lsn").isNull())
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        ]
        if not dirty:
            return None, False
        parked = self.quarantined_null_srcfiles()
        candidates = [f for f in dirty if f and f not in parked]
        route_blank = "" in dirty
        if route_blank:
            mx = (
                changes.filter(F.input_file_name() == "")
                .agg(F.max("lsn"))
                .first()[0]
            )
            route_blank = mx is None or mx > committed
        preds = []
        if candidates:
            preds.append(F.input_file_name().isin(candidates))
        if route_blank:
            preds.append(F.input_file_name() == F.lit(""))
        if not preds:
            return None, False
        pred = preds[0]
        for p in preds[1:]:
            pred = pred | p
        return pred, True

    def park_dead_letters(self, changes: DataFrame) -> int:
        """Explicitly park every UNPARKED null-lsn dead letter in
        ``changes`` — the operator remedy when no fresh data anchors a
        replay window (e.g. the bad-only segment a stream refuses):
        ``replay`` routes dead letters only inside a window it applies,
        and a no-op sweep stays metadata-cheap by design, so historical
        dead letters with nothing new to ride along with need this.

        Rows land under ``batch-<w>-<w>`` (zero-span at the committed
        watermark) with the same ``dl_reason``/``dl_srcfile`` record the
        replay path writes, so ``drain_quarantine`` and the re-park dedup
        see them identically. Idempotent: already-parked segments are
        excluded, and a repeat call at the same watermark unions with the
        existing zero-span dir instead of overwriting it away. Returns
        the number of rows parked (0 = nothing unparked). Rows with a
        valid lsn are never taken — fresh ones are the next replay
        window's job, historical ones were parked when theirs applied."""
        if self.quarantine_dir is None:
            raise ValueError("no quarantine_dir configured")
        pred, route_any = self._null_route_pred(
            changes, self.table.last_lsn()
        )
        if not route_any:
            return 0
        reason = self._bad_event_reason(
            key_exprs=self._align_exprs(
                self.table.current().schema.fields, changes.schema, None
            )
        )
        out = (
            changes.filter(F.col("lsn").isNull() & pred)
            .withColumn("dl_reason", reason)
            .withColumn("dl_srcfile", F.input_file_name())
        )
        w = self.table.last_lsn()
        dst = os.path.join(self.quarantine_dir, f"batch-{w}-{w}")
        tmp = dst + ".parking"
        prior_n = 0
        if os.path.isdir(dst):
            prior = self.spark.read.parquet(dst)
            prior_n = prior.count()
            if set(prior.columns) == set(out.columns):
                # rows from a non-file frame (dl_srcfile == "") carry no
                # segment identity, so the srcfile dedup cannot see them —
                # a repeat park of the same frame must still be a no-op.
                # Multiset-subtract the already-parked rows: exact repeats
                # vanish, while genuinely new occurrences (and distinct
                # duplicates within one frame on their FIRST park) survive.
                out = out.select(*prior.columns).exceptAll(prior)
            out = prior.unionByName(out, allowMissingColumns=True)
        out = out.localCheckpoint(eager=True)  # dead-letter-sized; must
        # materialize before the swap below unlinks its own input dir
        n = out.count()
        if n == prior_n:
            return 0
        out.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        os.replace(tmp, dst)
        return n - prior_n

    def list_quarantine(self) -> list[dict]:
        """Metadata-sized inventory of parked dead-letter windows:
        one record per ``batch-<lo>-<hi>`` dir (drained dirs excluded)."""
        return list_quarantine_dir(self.quarantine_dir)

    def drain_quarantine(self, changes: DataFrame | None = None, fix=None) -> dict:
        """Re-ingest repaired dead-letter events — the missing half of the
        quarantine (reference parallel: rows parked by a failed validation
        are re-imported after the source is fixed, the import stage's
        retry loop).

        Reads every parked ``batch-*`` window (the ORIGINAL rows, all
        source columns preserved), applies the optional ``fix(df) -> df``
        correction (the frame carries ``dl_reason``; rows the operator
        drops stay resolved), and refuses the WHOLE drain — nothing
        applied, nothing archived — if any surviving row still fails the
        malformed check after alignment.

        Apply path (the events' LSNs are at or below the committed
        watermark, so ``apply_batch`` can never take them):

        - ``track_lsn`` soft tables: ``apply_late`` — one bounded
          bucket-pruned merge, no log rescan;
        - otherwise: authoritative re-fold via ``repair_keys`` over the
          full log (``changes``, required here) UNION the corrected
          events, scoped to exactly the corrected keys. The log is first
          filtered through the same malformed predicate — it still
          carries the broken originals, and an original sharing its LSN
          with its correction would otherwise tie in the LWW fold.

        On success each drained window dir is renamed ``batch-*`` ->
        ``drained-batch-*`` (kept for audit). Idempotent under crashes:
        a failure before the rename re-drains — ``apply_late`` re-loses
        to the now-equal ``dl_lsn`` and the re-fold recomputes the same
        state.
        """
        if self.quarantine_dir is None:
            raise ValueError("no quarantine_dir configured")
        parked = self.list_quarantine()
        if not parked:
            return {"drained_windows": 0, "events": 0}
        paths = [
            os.path.join(self.quarantine_dir, p["dir"]) for p in parked
        ]
        df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        if fix is not None:
            df = fix(df)
        if "dl_reason" in df.columns:
            df = df.drop("dl_reason")

        snap = self.table.current()
        src_label = snap.properties.get("source_label")

        def _raw_reason(frame: DataFrame):
            return self._bad_event_reason(
                key_exprs=self._align_exprs(
                    snap.schema.fields, frame.schema, src_label
                )
            )

        fixed = df.localCheckpoint(eager=True)  # 3 consumers: check/keys/apply
        still_bad = fixed.filter(_raw_reason(fixed).isNotNull()).count()
        if still_bad:
            raise ValueError(
                f"drain refused: {still_bad} parked event(s) are still "
                "malformed after the fix — nothing was applied or archived. "
                "Correct them (or drop them in fix()) and retry."
            )
        n_events = fixed.count()
        stats = None
        if n_events:
            if self.track_lsn and self.delete_mode == "soft":
                stats = self.apply_late(fixed)
            else:
                if changes is None:
                    raise ValueError(
                        "drain_quarantine on a table without track_lsn needs "
                        "changes= (the full log as currently known) for the "
                        "authoritative re-fold; create the table with "
                        "track_lsn=True for the bounded no-rescan path"
                    )
                clean_log = changes.filter(_raw_reason(changes).isNull())
                combined = clean_log.unionByName(
                    fixed, allowMissingColumns=True
                )
                emap = self._align_exprs(
                    snap.schema.fields, fixed.schema, src_label
                )
                scope = fixed.select(
                    *[emap[k].alias(k) for k in self.keys]
                ).distinct()
                stats = self.repair_keys(combined, keys=scope)

        for p in parked:
            src = os.path.join(self.quarantine_dir, p["dir"])
            dst = os.path.join(self.quarantine_dir, "drained-" + p["dir"])
            if os.path.isdir(dst):  # stale target from a prior crash
                shutil.rmtree(dst)
            os.rename(src, dst)
        self._emit_stats(
            "drain_quarantine",
            stats or BatchStats(lo=-1, hi=self.table.last_lsn(), skipped=True),
        )
        return {
            "drained_windows": len(parked),
            "events": n_events,
            "mode": (
                "late_merge"
                if self.track_lsn and self.delete_mode == "soft"
                else "refold"
            ),
        }

    # -- bounded late-event merge (track_lsn tables) -------------------------

    def apply_late(self, late: DataFrame) -> BatchStats:
        bs = self._apply_late(late)
        self._emit_stats("apply_late", bs)
        return bs

    def _apply_late(self, late: DataFrame) -> BatchStats:
        """Bounded-work merge of LATE events (lsn ≤ the committed
        watermark) for tables created with ``track_lsn=True``: an event
        wins iff ``event.lsn > row.dl_lsn`` — a single bucket-pruned merge
        over exactly the late keys' buckets, reading NOTHING but the late
        events themselves and the touched target buckets. This is the
        alternative the ``repair_keys`` docstring names for deployments
        where out-of-order segments are routine; ``repair_keys`` (full-log
        re-fold) remains the recovery path for tables without the version
        column.

        Requires ``delete_mode='soft'``: under hard deletes an absent row
        is ambiguous (never seen vs deleted by a LATER event), so a late
        insert could silently resurrect a deleted key. Soft tombstones
        keep the deleted row's ``dl_lsn``, making the comparison total.

        Idempotent: a re-delivered late batch finds every key's
        ``dl_lsn`` already ≥ its events and commits nothing. The watermark
        is left unchanged; the commit carries a ``late_merge`` lineage
        marker.

        The gated events run apply_batch's own merge step
        (``_merge_step``): late key sets up to ``broadcast_threshold_rows``
        run the broadcast merge, larger ones the bucket-aligned shuffle
        plan — same switch apply_batch makes.
        """
        if not self.track_lsn:
            raise ValueError(
                "apply_late requires a table created with track_lsn=True; "
                "use repair_keys (full-log re-fold) otherwise"
            )
        if self.delete_mode != "soft":
            raise ValueError(
                "apply_late requires delete_mode='soft': hard deletes erase "
                "the row's dl_lsn, so late-vs-deleted cannot be decided"
            )
        from dbimport_spark.schema import AUDIT_LSN

        snap = self.table.current()
        payload_cols = [
            f.name for f in snap.schema.fields if f.name not in AUDIT_COLUMNS
        ]
        aligned = self._aligned(late, snap)
        # the checkpointed late key set also feeds the gate's broadcast
        scope = self._key_scope(
            aligned,
            snap,
            "apply_late scope contains null merge key(s) — the late "
            "segment likely carries the key under an undeclared former "
            "name; declare the rename (CDCEngine(renames={...})) and "
            "retry",
        )
        if scope is None:
            return BatchStats(lo=-1, hi=self.table.last_lsn(), skipped=True)
        late_keys, n_late, touched = scope
        target = self._read_target(touched, snap.schema)

        # the version gate, applied to EVENTS (not winners): every late
        # event with lsn ≤ the row's dl_lsn is strictly obsolete — gating
        # before dedup also keeps a 'D' winner's *_lv pre-image from
        # regressing to a live event the row version already absorbed.
        # Two BroadcastHashJoins, zero target-side shuffles (verified on
        # the physical plan): the pruned target is first semi-filtered by
        # the (small, broadcast) late key set — build-right is legal for
        # left_semi, so the target STREAMS — leaving at most one row per
        # late key, which is then itself broadcast under the events' left
        # join. The only exchange in the plan is the late-key distinct,
        # which shuffles the SMALL side. (A right_outer with the right
        # side broadcast would be an impossible hint — Spark would ignore
        # it and shuffle both sides.)
        row_versions = target.select(*self.keys, F.col(AUDIT_LSN).alias("_row_lsn"))
        rv_small = row_versions.join(F.broadcast(late_keys), list(self.keys), "left_semi")
        gated_events = (
            aligned.join(F.broadcast(rv_small), list(self.keys), "left")
            .filter(F.col("lsn") > F.coalesce(F.col("_row_lsn"), F.lit(-1)))
            .drop("_row_lsn")
        )
        merge_ts_val = self._monotonic_merge_ts(snap)
        _mode, gated, out = self._merge_step(
            gated_events, target, snap, touched, payload_cols, merge_ts_val,
            n_late,
        )
        # on the broadcast plan this count materializes the winners'
        # checkpoint, which the merge and the history append then reuse
        n_keys = gated.count()
        if n_keys == 0:
            return BatchStats(lo=-1, hi=self.table.last_lsn(), skipped=True)
        version_dir = f"l{snap.version + 1}-{uuid.uuid4().hex[:8]}"
        new_files = self.table.write_data_files(self.spark, out, version_dir)
        return self._commit_tail(
            snap,
            BatchStats(
                lo=-1, hi=self.table.last_lsn(), events=n_keys,
                touched_buckets=len(touched), mode="late_merge",
            ),
            new_files,
            [version_dir],
            (gated, target, payload_cols),
            merge_ts_val,
            replaced=set(touched),
        )

    # -- declared full reload ------------------------------------------------

    def full_reload(self, changes: DataFrame, num_batches: int = 1) -> ReplayStats:
        """Re-create the table at the change log's schema and replay from
        LSN 0 — the declared recovery path for incompatible type changes
        and merge-key type widenings (reference drop+re-add escape hatch,
        import_operations.py:2893-2903; it too only runs on a declared full
        non-merge re-import).

        NEVER runs implicitly: ``apply_batch`` raises
        ``SchemaEvolutionError`` naming this method, and calling it is the
        operator's explicit decision because it abandons the current table
        contents (prior snapshots stay readable via time travel until
        ``expire_snapshots``). The history table, if configured, is reset in
        the same way — its old rows describe the abandoned lineage. The
        replay checkpoint is cleared: the old plan's LSN windows were
        computed against the old watermark.
        """
        snap = self.table.current()
        from dbimport_spark.schema import AUDIT_SOURCE

        # Declared former names must NOT become table columns: over a
        # mergeSchema log that straddles a declared rename, the log carries
        # BOTH the old and new name; keeping both would leave a zombie
        # duplicate column with pre-rename values split across two fields.
        # Former names fold into their successors via _align_exprs — the
        # same former_cols exclusion apply_batch's evolution diff makes.
        # When the log carries ONLY the former name (reload from an
        # entirely pre-rename log), the declared terminal name takes its
        # place so alignment still sources it via the former-name coalesce.
        raw_fields = [
            f
            for f in changes.schema.fields
            if f.name not in LOG_BOOKKEEPING and f.name not in AUDIT_COLUMNS
        ]
        present = {f.name for f in raw_fields}
        former_all = set(self.renames.keys())
        payload_fields: list[T.StructField] = []
        seen_names: set[str] = set()
        for f in raw_fields:
            name, dtype = f.name, f.dataType
            if name in former_all:
                term = name
                hops = 0
                while term in self.renames:
                    term = self.renames[term]
                    hops += 1
                    if hops > len(self.renames):
                        raise ValueError(
                            f"rename chain starting at {name!r} is cyclic"
                        )
                if term in present or term in seen_names:
                    continue
                name = term
            if name in seen_names:
                continue
            seen_names.add(name)
            payload_fields.append(
                T.StructField(name, dtype, name not in self.keys)
            )
        names = {f.name for f in payload_fields}
        missing = [k for k in self.keys if k not in names]
        if missing:
            raise ValueError(
                f"full_reload: change log lacks merge key column(s) {missing}"
            )
        if snap.properties.get("source_label") and AUDIT_SOURCE not in names:
            payload_fields.append(T.StructField(AUDIT_SOURCE, T.StringType(), True))
        full_schema = table_schema_with_audit(
            T.StructType(payload_fields),
            soft_delete=self.delete_mode == "soft",
            track_lsn=self.track_lsn,
        )
        self.table.reset_for_reload(full_schema, expected_version=snap.version)
        ht = self.history_table
        if ht is not None:
            hsnap = ht.current()
            ht.reset_for_reload(
                history_schema(T.StructType(payload_fields)),
                expected_version=hsnap.version,
            )
        if self.checkpoint_dir:
            plan_path = os.path.join(self.checkpoint_dir, "replay_plan.json")
            self.state_store.delete(plan_path)
        return self.replay(changes, num_batches=num_batches)

    # -- replay loop ---------------------------------------------------------

    def replay(
        self,
        changes: DataFrame,
        num_batches: int = 1,
        stop_after: int | None = None,
        allow_log_gap: bool = False,
    ) -> ReplayStats:
        """Apply a change log in ``num_batches`` LSN windows; resumable.

        ``stop_after`` aborts after N applied batches (test hook for
        kill-and-resume). Re-invoking replays the identical plan (loaded
        from the checkpoint) and skips committed windows.

        If the log no longer covers the committed watermark (retention
        truncated past it), raises ``LogTruncatedError`` — the reference's
        forced-full-reload signal (import_config.py:2493-2517). Silently
        skipping the gap would be data loss; ``allow_log_gap=True`` is the
        explicit caller override.
        """
        ckpt_path = (
            f"{self.checkpoint_dir}/replay_plan.json" if self.checkpoint_dir else None
        )
        plan = load_plan(ckpt_path, self.state_store) if ckpt_path else None
        # None = unknown (plan resumed from checkpoint, no bounds agg ran);
        # the fresh-plan and completed-plan paths learn it for free from
        # their single bounds agg so a clean log never pays the
        # _null_route_pred probe job
        log_has_nulls: bool | None = None
        if plan is not None and plan.completed >= len(plan.ranges):
            # prior plan fully applied; if the log has grown since, re-plan
            # the remainder (the steady-state "tail the log again" call)
            probe = changes.agg(
                F.max("lsn").alias("hi"),
                F.count(F.lit(1)).alias("n"),
                F.count("lsn").alias("n_lsn"),
            ).first()
            log_has_nulls = probe["n"] > probe["n_lsn"]
            if probe["hi"] is not None and probe["hi"] > self.table.last_lsn():
                plan = None
        if plan is None:
            bounds = changes.agg(
                F.min("lsn").alias("lo"),
                F.max("lsn").alias("hi"),
                F.count(F.lit(1)).alias("n"),
                F.count("lsn").alias("n_lsn"),
            ).first()
            log_has_nulls = bounds["n"] > bounds["n_lsn"]
            if bounds["lo"] is None:
                if bounds["n"] > 0:
                    # min/max skip nulls: rows exist but NONE carries an
                    # lsn — there is no window to park them under, and
                    # returning "nothing to do" would silently lose them
                    raise ValueError(
                        f"log holds {bounds['n']} row(s), all with null "
                        "lsn — no orderable event to anchor a replay "
                        "window. Fix the source (or the lsn_expr mapping)."
                    )
                return ReplayStats()
            committed = self.table.last_lsn()
            if committed >= 0 and bounds["lo"] > committed + 1 and not allow_log_gap:
                from dbimport_spark.sources.changelog import LogTruncatedError

                raise LogTruncatedError(
                    f"log starts at lsn {bounds['lo']} but table watermark "
                    f"is {committed}; changes in ({committed}, "
                    f"{bounds['lo']}) are gone — full re-snapshot required "
                    "(pass allow_log_gap=True to override)"
                )
            start = max(self.table.last_lsn(), bounds["lo"] - 1)
            hi = bounds["hi"]
            span = hi - start
            edges = [start + (span * i) // num_batches for i in range(num_batches + 1)]
            edges[-1] = hi
            ranges = [
                (edges[i], edges[i + 1])
                for i in range(num_batches)
                if edges[i + 1] > edges[i]
            ]
            plan = ReplayPlan(ranges=ranges)
            if ckpt_path:
                save_plan(ckpt_path, plan, self.state_store)

        stats = ReplayStats()
        # A log whose only NEW content is null-lsn dead letters plans no
        # window at all (bounds come from valid lsns, which are all at or
        # below the watermark) — the loop below would never run and the
        # bad rows would be silently ignored under green stats, while the
        # streaming path stops loudly for this exact state. Park them here
        # (the window-less twin of the in-window routing), or refuse when
        # no quarantine is configured.
        will_apply = any(
            i >= plan.completed and rhi > self.table.last_lsn()
            for i, (_rlo, rhi) in enumerate(plan.ranges)
        )
        if not will_apply and log_has_nulls:
            if self.quarantine_dir is not None:
                stats.events_quarantined += self.park_dead_letters(changes)
            else:
                _pred, route_any = self._null_route_pred(
                    changes, self.table.last_lsn()
                )
                if route_any:
                    raise ValueError(
                        "log holds unparked null-lsn event(s) but no "
                        "fresh orderable rows — no replay window can "
                        "carry them. Configure quarantine_dir (or call "
                        "park_dead_letters) so they are parked instead "
                        "of silently ignored."
                    )
        # Null-lsn (malformed) rows are invisible to every window filter —
        # route them into the FIRST window this run applies, where the
        # engine's quarantine parks them (or refuses loudly). A resumed
        # plan (completed > 0) parked them on the original run: the
        # quarantine write precedes the window's commit. Routing is
        # deduped per source segment against the quarantine's own
        # dl_srcfile record (_null_route_pred) so a re-planned replay
        # over the same grown log never re-parks (or double-drains)
        # historical dead letters.
        nulls_routed = plan.completed > 0
        for i, (rlo, rhi) in enumerate(plan.ranges):
            if i < plan.completed or rhi <= self.table.last_lsn():
                stats.batches_skipped += 1
                continue
            cond = (F.col("lsn") > rlo) & (F.col("lsn") <= rhi)
            if not nulls_routed:
                if log_has_nulls is not False:
                    pred, route_any = self._null_route_pred(
                        changes, self.table.last_lsn()
                    )
                    if route_any:
                        cond = cond | (F.col("lsn").isNull() & pred)
                nulls_routed = True
            window = changes.filter(cond)
            bs = self.apply_batch(window, rlo, rhi)
            stats.batch_stats.append(bs)
            if bs.skipped:
                stats.batches_skipped += 1
            else:
                stats.batches_applied += 1
                stats.events_applied += bs.events
                stats.events_quarantined += bs.quarantined
            plan.completed = i + 1
            if ckpt_path:
                save_plan(ckpt_path, plan, self.state_store)
            if stop_after is not None and stats.batches_applied >= stop_after:
                break
        return stats
