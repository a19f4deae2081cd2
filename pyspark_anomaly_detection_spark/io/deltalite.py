"""deltalite — a minimal Delta Lake protocol writer/reader, no jars.

The sandbox has no Delta jar source (COVERAGE.md S6 probe), but the
Delta TRANSACTION PROTOCOL is public and simple at its core: a table is
a directory of parquet files plus ``_delta_log/<version>.json`` commit
files, each a sequence of JSON-line actions (``protocol``, ``metaData``,
``add``, ``remove``).  The active file set at version V is the replay of
all commits ≤ V: adds minus later removes.  This module implements that
core with Spark + stdlib json:

* :func:`write_delta` — append or overwrite commits: writes parquet
  data files through Spark, then one atomic commit JSON with ``add``
  actions (and ``remove`` actions for overwrite).  Protocol
  (minReaderVersion 1, minWriterVersion 2) and metaData (schema as
  Spark's JSON schema string) are emitted in commit 0, matching what
  delta-standalone writes for plain tables — a real Delta reader can
  load these tables.
* :func:`read_delta` — replays the log (optionally to a ``version``:
  time travel) and reads exactly the active files with the committed
  schema.
* :func:`delta_history` — (version, n_adds, n_removes, operation) per
  commit.

Concurrency: optimistic, with bounded retry (real Delta's model).
Commit N+1 is claimed with O_EXCL; the loser of the race re-reads the
interleaved commits and rebases onto the new tip when the transactions
commute (blind appends always do — fresh UUID file paths), or raises
:class:`DeltaliteConcurrentCommit` when they logically conflict
(overlapping remove sets, any data change under a non-append commit,
metadata/protocol changes) — see :func:`_commit_with_retry`.

Reference parity: the reference configures Delta sinks
(config/spark_config.py:24-26, src/data/silver.py:56); deltalite closes
that surface in-sandbox: transactional append/overwrite + time travel
on plain parquet + JSON, byte-compatible with the public protocol's
plain-table subset, plus DELETION VECTORS (io/deltalite_dv.py —
merge-on-read deletes, reader v3) and COLUMN MAPPING 'name' mode
(io/deltalite_cm.py — reader v2); unknown reader features still fail
loud.

Checkpoints (the protocol's log compaction): without them every
snapshot read replays EVERY JSON commit since version 0 — O(commits)
driver work per read, the real bottleneck of a long-lived table taking
thousands of streaming commits.  :func:`create_checkpoint` writes the
spec's ``<version>.checkpoint.parquet`` (one row per action: protocol /
metaData / add / remove-tombstone / txn, typed nested structs) plus the
``_last_checkpoint`` pointer file; replay then starts from the newest
checkpoint ≤ the requested version and reads only the JSON commits
after it.  :func:`write_delta` auto-checkpoints every
``CHECKPOINT_INTERVAL`` commits (10 — Delta's own default cadence), and
:func:`expire_log` deletes JSON commits the checkpoint has subsumed
(``delta.logRetentionDuration`` analogue), after which time travel
before the checkpoint horizon raises — exactly the real protocol's
behavior.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_anomaly_detection_spark.io.detach import detach_local
from pyspark_anomaly_detection_spark.registry import register

_LOG_DIR = "_delta_log"

# Delta writers checkpoint every 10 commits by default; same cadence here.
CHECKPOINT_INTERVAL = 10


def _log_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _LOG_DIR, f"{version:020d}.json")


def _checkpoint_path(table_path: str, version: int) -> str:
    return os.path.join(
        table_path, _LOG_DIR, f"{version:020d}.checkpoint.parquet"
    )


def _list_versions(table_path: str) -> list[int]:
    """Versions with a JSON commit file present (checkpoint parquet files
    live alongside them and are listed by :func:`_list_checkpoints`)."""
    log = os.path.join(table_path, _LOG_DIR)
    if not os.path.isdir(log):
        return []
    out = []
    for name in os.listdir(log):
        if name.endswith(".json") and not name.startswith("_"):
            stem = name[: -len(".json")]
            if stem.isdigit():
                out.append(int(stem))
    return sorted(out)


def _list_checkpoints(table_path: str) -> list[int]:
    log = os.path.join(table_path, _LOG_DIR)
    if not os.path.isdir(log):
        return []
    suffix = ".checkpoint.parquet"
    out = []
    for name in os.listdir(log):
        if name.endswith(suffix):
            stem = name[: -len(suffix)]
            if stem.isdigit():
                out.append(int(stem))
    return sorted(out)


def _read_commit(table_path: str, version: int) -> list[dict[str, Any]]:
    with open(_log_path(table_path, version)) as f:
        return [json.loads(line) for line in f if line.strip()]


def _column_mapping_of(schema_json: "str | None") -> dict[str, str]:
    """logical → physical name map from the committed schema's field
    metadata; empty when the table is unmapped."""
    if not schema_json:
        return {}
    out = {}
    for f in json.loads(schema_json)["fields"]:
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName"
        )
        if phys:
            out[f["name"]] = phys
    return out


def _guard_no_cm(schema_json: "str | None", what: str) -> None:
    """Operations that address data-file columns by LOGICAL name must
    refuse a column-mapped table (files carry physical names) until
    taught the translation."""
    if _column_mapping_of(schema_json):
        raise NotImplementedError(
            f"deltalite: {what} on a column-mapped table is not "
            "supported — read via read_delta / write via "
            "write_delta_mapped"
        )


#: Legacy writer versions fold into these table-feature names when a
#: table upgrades to the v7 table-features protocol (Delta PROTOCOL.md
#: "Table Features" — the upgrade must list every feature the legacy
#: version implied).  Cumulative by version.
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("generatedColumns", "changeDataFeed"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}


def _folded_writer_features(proto: "dict[str, Any] | None") -> set[str]:
    """The writer-feature set a protocol implies: its explicit
    ``writerFeatures`` plus, for legacy (< 7) writer versions, the
    features those versions imply."""
    wv = (proto or {}).get("minWriterVersion", 2)
    feats = set((proto or {}).get("writerFeatures") or [])
    if wv < 7:
        for v, names in _LEGACY_WRITER_FEATURES.items():
            if wv >= v:
                feats.update(names)
    return feats


#: Table properties whose enablement requires the named writer feature
#: on a v7 table (spec: a feature must be listed before its metadata
#: can turn it on).
_PROPERTY_WRITER_FEATURES = {
    "delta.appendOnly": "appendOnly",
    "delta.enableChangeDataFeed": "changeDataFeed",
    "delta.enableInCommitTimestamps": "inCommitTimestamp",
}


class DeltaliteConcurrentCommit(Exception):
    """A concurrent writer committed a logically conflicting
    transaction — the deltalite analogue of Delta's
    ConcurrentModification exceptions."""


#: Bounded optimistic-concurrency retries before giving up.
MAX_COMMIT_RETRIES = 10


def _commit_timestamp(table_path: str, version: int) -> int:
    """Millisecond timestamp of a commit: the spec's
    ``commitInfo.inCommitTimestamp`` when present (authoritative —
    survives file copies; Delta PROTOCOL.md In-Commit Timestamps), else
    the engine's ``commitInfo.timestamp`` (older deltalite commits),
    else the commit file's mtime (classic Delta's fallback); 0 when the
    commit JSON is gone (expired past a checkpoint)."""
    path = _log_path(table_path, version)
    if not os.path.exists(path):
        return 0
    try:
        for action in _read_commit(table_path, version):
            ci = action.get("commitInfo")
            if ci is None:
                continue
            if "inCommitTimestamp" in ci:
                return int(ci["inCommitTimestamp"])
            if "timestamp" in ci:
                return int(ci["timestamp"])
    except Exception:
        pass
    return int(os.path.getmtime(path) * 1000)


def version_at_timestamp(table_path: str, ts_ms: int) -> int:
    """TIMESTAMP AS OF resolution: the LATEST version whose commit
    timestamp is ≤ ``ts_ms``.  Raises when the timestamp predates the
    first available commit (Delta's before-earliest-version error)."""
    versions = _list_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no deltalite log at {table_path}")
    best = None
    for v in versions:
        if _commit_timestamp(table_path, v) <= ts_ms:
            best = v
    if best is None:
        raise ValueError(
            f"deltalite: timestamp {ts_ms} predates the earliest "
            f"available commit (version {versions[0]} at "
            f"{_commit_timestamp(table_path, versions[0])})"
        )
    return best


def _commit_with_retry(
    table_path: str,
    version: int,
    actions: list[dict[str, Any]],
    max_retries: int = MAX_COMMIT_RETRIES,
) -> int:
    """Write one commit with Delta's optimistic-concurrency protocol:
    publish ``<version>.json`` atomically if absent; on losing the race,
    re-read the interleaved commits and REBASE onto the new tip when the
    transactions commute, else raise :class:`DeltaliteConcurrentCommit`.

    Commutation rules (the protocol's documented conflict matrix,
    file-level): a BLIND APPEND (adds only — no removes, no metadata)
    commutes with any interleaved data change whose file set is
    necessarily disjoint (fresh UUID paths), so it retries at the next
    version.  A commit carrying removes (overwrite, DML rewrite,
    OPTIMIZE) read the table state it is replacing, so ANY interleaved
    data change invalidates it (ConcurrentAppend / ConcurrentDelete);
    interleaved protocol/metaData changes conflict with everything
    (ConcurrentTransaction / ProtocolChanged)."""
    our_removes = {a["remove"]["path"] for a in actions if "remove" in a}
    our_adds = {a["add"]["path"] for a in actions if "add" in a}
    blind_append = not our_removes and not any(
        "protocol" in a or "metaData" in a for a in actions
    )
    # spec conformance (ADVICE r12 medium): when ICT is enabled the
    # commitInfo action must be the FIRST action of the commit and the
    # timestamp lives in the spec's inCommitTimestamp field — reorder
    # once here so every commit path (write, DML, OPTIMIZE, clone)
    # satisfies it without each caller knowing
    actions = [a for a in actions if "commitInfo" in a] + [
        a for a in actions if "commitInfo" not in a
    ]
    # delta.appendOnly enforcement (round 13), central so every writer
    # honors it: a table with the property set refuses any commit that
    # REMOVES data (remove actions with dataChange=true — DELETE,
    # UPDATE/MERGE rewrites, overwrite, RESTORE).  OPTIMIZE/REORG stay
    # legal: their removes carry dataChange=false, per the protocol.
    if version > 0 and any(
        a.get("remove", {}).get("dataChange") for a in actions
    ):
        try:
            conf = (_snapshot_state(table_path).meta or {}).get(
                "configuration"
            ) or {}
        except Exception:
            conf = {}
        if conf.get("delta.appendOnly") == "true":
            raise ValueError(
                "deltalite: table is delta.appendOnly=true — commits "
                "that remove data are forbidden (unset the property to "
                "allow deletes/updates/overwrites)"
            )
    attempt = 0
    while True:
        # in-commit timestamp (Delta's inCommitTimestamps feature):
        # stamped into commitInfo at claim time, forced monotonic vs the
        # previous commit so TIMESTAMP AS OF resolution is well-ordered
        # even when commits land within one clock tick.  Written to the
        # spec's inCommitTimestamp field; commitInfo.timestamp is kept
        # as the engine's free-form duplicate (commitInfo content is
        # unconstrained by the protocol)
        for a in actions:
            if "commitInfo" in a:
                prev_ts = (
                    _commit_timestamp(table_path, version - 1)
                    if version > 0
                    else 0
                )
                ts = max(int(time.time() * 1000), prev_ts + 1)
                a["commitInfo"]["inCommitTimestamp"] = ts
                a["commitInfo"]["timestamp"] = ts
                break
        # the whole commit is written under a temp name first (not
        # ``*.json``, so log listing ignores it) and published with
        # link(2), an atomic put-if-absent: a crash or exception mid-write
        # leaves no torn ``<version>.json``, and a racing loser that
        # re-reads the log never sees a half-written commit
        final = _log_path(table_path, version)
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                for a in actions:
                    f.write(json.dumps(a, separators=(",", ":")) + "\n")
            os.link(tmp, final)
            return version
        except FileExistsError:
            attempt += 1
            if attempt > max_retries:
                raise DeltaliteConcurrentCommit(
                    f"deltalite: lost the commit race {max_retries} times "
                    f"at {table_path} — giving up"
                )
            latest = _list_versions(table_path)[-1]
            for v in range(version, latest + 1):
                for action in _read_commit(table_path, v):
                    if "protocol" in action or "metaData" in action:
                        raise DeltaliteConcurrentCommit(
                            f"deltalite: concurrent metadata/protocol "
                            f"change at version {v} conflicts with this "
                            "commit"
                        )
                    if "remove" in action and (
                        action["remove"]["path"] in our_removes
                    ):
                        raise DeltaliteConcurrentCommit(
                            f"deltalite: version {v} concurrently removed "
                            f"{action['remove']['path']}, which this "
                            "commit also removes (ConcurrentDelete)"
                        )
                    if "remove" in action and (
                        action["remove"]["path"] in our_adds
                    ):
                        # e.g. a stats/OPTIMIZE re-add of a file a DML
                        # rewrite just removed — rebasing would
                        # resurrect a deleted file
                        raise DeltaliteConcurrentCommit(
                            f"deltalite: version {v} concurrently removed "
                            f"{action['remove']['path']}, which this "
                            "commit re-adds (ConcurrentDelete)"
                        )
                    if not blind_append and (
                        "add" in action or "remove" in action
                    ):
                        raise DeltaliteConcurrentCommit(
                            f"deltalite: concurrent data change at version "
                            f"{v} invalidates this non-append commit "
                            "(ConcurrentAppend/ConcurrentDelete)"
                        )
            version = latest + 1
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass


def _schema_evolution(
    committed_json: str | None, df: DataFrame, merge_schema: bool
) -> str | None:
    """Validate ``df``'s schema against the committed one; return the
    NEW schemaString to commit when evolution is needed (None when the
    committed schema already covers the frame).

    Delta's ``mergeSchema`` rules, plain-table subset: new TRAILING
    columns are allowed with ``merge_schema=True`` (old files read the
    added columns as NULL); a type change or a dropped committed column
    is incompatible and raises; without ``merge_schema`` any difference
    raises — never a silently mixed table."""
    if committed_json is None:
        return None
    committed = {
        f["name"]: f["type"]
        for f in json.loads(committed_json)["fields"]
    }
    incoming = {
        f.name: json.loads(f.dataType.json())
        if f.dataType.typeName() in ("struct", "array", "map")
        else f.dataType.typeName()
        for f in df.schema.fields
    }
    changed = [
        n
        for n, t in incoming.items()
        if n in committed and committed[n] != t
    ]
    dropped = [n for n in committed if n not in incoming]
    added = [n for n in incoming if n not in committed]
    if changed or dropped:
        raise ValueError(
            f"deltalite: incompatible schema change (changed types: "
            f"{changed}, missing committed columns: {dropped})"
        )
    if not added:
        return None
    if not merge_schema:
        raise ValueError(
            f"deltalite: new columns {added} need merge_schema=True "
            "(Delta's mergeSchema contract)"
        )
    # committed fields carry verbatim (their metadata — generation
    # expressions, CM physical names — must survive evolution); the new
    # trailing columns append from the frame's schema
    incoming_fields = {
        f["name"]: f for f in json.loads(df.schema.json())["fields"]
    }
    merged = json.loads(committed_json)["fields"] + [
        incoming_fields[n] for n in added
    ]
    return json.dumps({"type": "struct", "fields": merged})


def write_delta(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    operation: str | None = None,
    merge_schema: bool = False,
    partition_by: list[str] | None = None,
    replace_where: dict[str, str] | None = None,
    extra_actions: list[dict[str, Any]] | None = None,
    generated_columns: dict[str, str] | None = None,
    identity_columns: dict[str, dict[str, int]] | None = None,
) -> int:
    """Commit ``df`` to the deltalite table at ``table_path``.

    ``generated_columns`` (commit 0 only, Delta's GENERATED ALWAYS AS):
    column→expression map embedded in the schema metadata; later writes
    that omit a generated column get it materialized, writes that
    provide it are checked row-by-row (see io/deltalite_generated.py).

    ``identity_columns`` (commit 0 only, Delta's GENERATED ALWAYS AS
    IDENTITY): column→{start, step} map; every write allocates values
    above the committed high-water mark distributed and collect-bounded,
    and bumps the mark in the same commit (io/deltalite_identity.py).

    ``mode='append'`` adds files; ``mode='overwrite'`` also emits
    ``remove`` actions for every previously-active file.  Returns the
    committed version.  The data files are written into a per-commit
    staging subdirectory (their names are committed in the log, so
    uncommitted leftovers from a crashed writer are invisible to
    readers — the log IS the source of truth, exactly Delta's
    invariant).  ``merge_schema=True`` permits ADDING columns (the
    commit carries an updated metaData action; old files read the new
    columns as NULL); type changes and dropped columns always raise.

    ``partition_by`` (commit 0 only) lays data out Hive-style; every
    ``add`` carries its ``partitionValues`` so reads prune and
    reconstruct the columns from the log.  ``replace_where`` — Delta's
    ``replaceWhere``: an overwrite scoped to the partitions matching
    the given column→value map; rows of ``df`` OUTSIDE the scope make
    the commit raise (the Delta constraint), so a partition overwrite
    can never leak rows into foreign partitions."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"deltalite mode must be append|overwrite: {mode}")
    spark = df.sparkSession
    versions = _list_versions(table_path)
    version = (versions[-1] + 1) if versions else 0
    evolved_schema: str | None = None
    part_cols: list[str] = list(partition_by or [])
    snap = None
    if versions:
        # ONE snapshot replay serves the CM guard, the layout check,
        # schema evolution, constraint enforcement, and (overwrite mode)
        # the prior active-file set below.
        snap = _snapshot_state(table_path, versions[-1])
        committed_json = snap.schema_json
        # ADVICE r10 (high): a plain append/overwrite on a column-mapped
        # table would write data files with LOGICAL names that the
        # physical-schema reader returns as all-NULL — fail loud instead.
        _guard_no_cm(committed_json, "write_delta")
        committed_parts = snap.part_cols
        if partition_by is not None and list(partition_by) != committed_parts:
            raise ValueError(
                f"deltalite: partition_by {partition_by} conflicts with the "
                f"committed layout {committed_parts}"
            )
        part_cols = committed_parts
        if generated_columns is not None:
            raise ValueError(
                "deltalite: generated_columns can only be declared at "
                "table creation (commit 0), like Delta's GENERATED "
                "ALWAYS AS"
            )
        from pyspark_anomaly_detection_spark.io.deltalite_generated import (
            materialize_generated,
        )

        df = materialize_generated(df, committed_json)
        # identity allocation BEFORE the evolution check (df gains the
        # column) and against the committed metadata (the high-water
        # mark); the bumped schema becomes the base evolution merges onto
        from pyspark_anomaly_detection_spark.io.deltalite_identity import (
            allocate_identity,
        )

        df, identity_schema = allocate_identity(df, committed_json)
        evolved_schema = _schema_evolution(
            identity_schema or committed_json, df, merge_schema
        )
        if evolved_schema is None:
            evolved_schema = identity_schema
    created_schema_json: str | None = None
    if generated_columns:
        from pyspark_anomaly_detection_spark.io.deltalite_generated import (
            embed_generation_exprs,
        )

        df, created_schema_json = embed_generation_exprs(
            df, generated_columns
        )
    if identity_columns:
        if versions:
            raise ValueError(
                "deltalite: identity_columns can only be declared at "
                "table creation (commit 0), like Delta's GENERATED "
                "ALWAYS AS IDENTITY"
            )
        from pyspark_anomaly_detection_spark.io.deltalite_identity import (
            allocate_identity,
            embed_identity_schema,
        )

        base = created_schema_json or df.schema.json()
        df, created_schema_json = allocate_identity(
            df, embed_identity_schema(base, identity_columns)
        )
    if replace_where:
        unknown = set(replace_where) - set(part_cols)
        if unknown:
            raise ValueError(
                f"replace_where on non-partition columns: {sorted(unknown)}"
            )
        scope = None
        for c, v in replace_where.items():
            cond = F.col(c).cast("string") == F.lit(v)
            scope = cond if scope is None else (scope & cond)
        stray = df.filter(~scope).limit(1).count()
        if stray:
            raise ValueError(
                "replace_where: dataframe contains rows outside the "
                f"replaced scope {replace_where} (Delta's replaceWhere "
                "constraint)"
            )
        mode = "overwrite"

    adds = _stage(table_path, _commit_dir(version), df, part_cols=part_cols)

    def _meta(schema_string: str) -> dict[str, Any]:
        # configuration survives schema evolution (constraints, table
        # properties) — resetting it here would silently DROP CHECK
        # constraints on a mergeSchema append
        prior_conf = (
            dict((snap.meta or {}).get("configuration") or {})
            if snap is not None
            else {
                # every deltalite commit carries the spec's
                # commitInfo.inCommitTimestamp as its FIRST action
                # (_commit_with_retry), so the table DECLARES Delta's
                # in-commit-timestamps feature from creation.  Enabled
                # at commit 0 ⇒ the enablementVersion/Timestamp
                # provenance properties are deliberately absent — the
                # spec only requires the PAIR when ICT is switched on
                # later in a table's life (ADVICE r12: a lone
                # enablementVersion without its paired timestamp is
                # non-conformant)
                "delta.enableInCommitTimestamps": "true",
            }
        )
        return {
            "metaData": {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": part_cols,
                "configuration": prior_conf,
                "createdTime": 0,
            }
        }

    actions: list[dict[str, Any]] = []
    if version == 0:
        # v7 TABLE-FEATURES protocol from creation (ADVICE r13: the
        # table declares delta.enableInCommitTimestamps, and per the
        # spec ICT is a writer table feature requiring protocol v7 +
        # 'inCommitTimestamp' in writerFeatures — a legacy-versioned
        # protocol left a foreign spec-following writer free to commit
        # without stamping).  The list carries every feature this
        # engine's writers honor on plain tables: appendOnly/invariants
        # (the legacy-v2 pair; deltalite never embeds invariant
        # metadata, so invariant enforcement is trivially satisfied),
        # plus generated/identity columns when declared — foreign
        # writers that don't understand them must refuse the table
        # rather than silently let the columns drift.
        features = {"appendOnly", "invariants", "inCommitTimestamp"}
        if generated_columns:
            features.add("generatedColumns")
        if identity_columns:
            features.add("identityColumns")
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": sorted(features),
                }
            }
        )
        actions.append(_meta(created_schema_json or df.schema.json()))
    # CHECK constraints (Delta writer-v3) + generated-column equalities
    # (writer-v4) are checked on the staged files, never on df's lineage;
    # a table being created is checked against its own first metaData
    staged_for = snap
    if staged_for is None:
        staged_for = _Snapshot(-1)
        staged_for.apply(actions[-1])
    _enforce_staged(spark, table_path, adds, staged_for, "write_delta")
    if evolved_schema is not None:
        actions.append(_meta(evolved_schema))
    if mode == "overwrite" and version > 0:
        prior_adds = snap.adds
        for path in sorted(prior_adds):
            if replace_where and not all(
                prior_adds[path].get("partitionValues", {}).get(c) == v
                for c, v in replace_where.items()
            ):
                continue  # replaceWhere: out-of-scope partitions survive
            actions.append(
                {"remove": {"path": path, "dataChange": True}}
            )
    actions.extend(adds)
    actions.extend(extra_actions or [])
    actions.append(
        {
            "commitInfo": {
                "operation": operation
                or ("WRITE" if mode == "append" else "OVERWRITE"),
                "engineInfo": "deltalite",
            }
        }
    )

    os.makedirs(os.path.join(table_path, _LOG_DIR), exist_ok=True)
    # Optimistic concurrency with bounded retry: a losing blind append
    # rebases onto the new tip; conflicting transactions raise
    # DeltaliteConcurrentCommit (see _commit_with_retry).
    version = _commit_with_retry(table_path, version, actions)
    # Delta's default cadence: a checkpoint every CHECKPOINT_INTERVAL
    # commits, so replay cost stays bounded as the table takes commits.
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        create_checkpoint(table_path, version)
    return version


class _Snapshot:
    """Replayed table state at one version: latest active ``add`` action
    per path, committed schema, partition columns, per-app txn
    watermarks, and remove tombstones (paths removed and not re-added —
    what a checkpoint must carry so a later VACUUM can still find
    them)."""

    __slots__ = ("version", "adds", "meta", "schema_json", "part_cols",
                 "txns", "tombstones", "protocol")

    def __init__(self, version: int) -> None:
        self.version = version
        self.adds: dict[str, dict[str, Any]] = {}
        self.meta: dict[str, Any] | None = None
        self.schema_json: str | None = None
        self.part_cols: list[str] = []
        self.txns: dict[str, int] = {}
        self.tombstones: dict[str, dict[str, Any]] = {}
        self.protocol: dict[str, Any] | None = None

    def apply(self, action: dict[str, Any]) -> None:
        if "metaData" in action:
            self.meta = action["metaData"]
            self.schema_json = action["metaData"]["schemaString"]
            self.part_cols = action["metaData"].get("partitionColumns", [])
        elif "add" in action:
            add = action["add"]
            dv = add.get("deletionVector")
            if dv and dv.get("storageType") not in ("i", "u", "p"):
                raise NotImplementedError(
                    "deltalite: only inline ('i'), file-based ('u') and "
                    "absolute-path ('p') deletion vectors are supported, "
                    f"got storageType {dv.get('storageType')!r}"
                )
            self.adds[add["path"]] = add
            self.tombstones.pop(add["path"], None)
        elif "remove" in action:
            rm = action["remove"]
            self.adds.pop(rm["path"], None)
            self.tombstones[rm["path"]] = rm
        elif "protocol" in action:
            p = action["protocol"]
            self.protocol = p
            reader_v = p.get("minReaderVersion", 1)
            if reader_v == 2:
                pass  # reader v2 == column mapping, implemented (deltalite_cm)
            elif reader_v > 1:
                # table-features protocol (reader v3): supported iff the
                # feature list is PRESENT and every reader feature is one
                # we implement — v3 without a list stays fail-loud
                features = p.get("readerFeatures")
                unsupported = set(features or []) - {
                    "deletionVectors",
                    "columnMapping",
                }
                if reader_v != 3 or not features or unsupported:
                    raise NotImplementedError(
                        f"deltalite: reader version {reader_v} features "
                        f"{sorted(unsupported) or '(none listed)'} not "
                        "supported"
                    )
        elif "txn" in action:
            t = action["txn"]
            prev = self.txns.get(t["appId"], -1)
            self.txns[t["appId"]] = max(prev, int(t["version"]))


def _snapshot_state(
    table_path: str, version: int | None = None
) -> _Snapshot:
    """Table state at ``version`` (latest when None), replayed from the
    newest checkpoint ≤ ``version`` plus only the JSON commits after it
    — O(commits since checkpoint) instead of O(all commits).  Raises
    when the replay chain is broken (a needed JSON commit was expired
    past the checkpoint horizon)."""
    versions = _list_versions(table_path)
    checkpoints = _list_checkpoints(table_path)
    if not versions and not checkpoints:
        raise FileNotFoundError(f"no deltalite log at {table_path}")
    latest = max(versions + checkpoints)
    if version is None:
        version = latest
    elif version not in versions and version not in checkpoints:
        lo = min(versions + checkpoints)
        raise ValueError(
            f"version {version} not in log (have {lo}..{latest})"
        )
    base = max((c for c in checkpoints if c <= version), default=None)
    snap = _Snapshot(version)
    if base is not None:
        for action in _read_checkpoint(table_path, base):
            snap.apply(action)
        start = base + 1
    else:
        start = 0
    for v in range(start, version + 1):
        if v not in versions:
            if base is None:
                raise ValueError(
                    f"deltalite: commit {v} missing and no checkpoint "
                    f"covers version {version} — expired past the log "
                    "retention horizon"
                )
            raise ValueError(
                f"deltalite: commit {v} missing between checkpoint "
                f"{base} and version {version} (corrupt log)"
            )
        for action in _read_commit(table_path, v):
            snap.apply(action)
    return snap


def _replay_adds(
    table_path: str, version: int | None = None
) -> tuple[dict[str, dict[str, Any]], str | None, list[str]]:
    """(active adds by relative path — LATEST add action per path —
    committed schema JSON, partition columns) at ``version`` (latest
    when None)."""
    snap = _snapshot_state(table_path, version)
    return snap.adds, snap.schema_json, snap.part_cols


def _checkpoint_schema():
    import pyarrow as pa

    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        # table configuration (delta.columnMapping.mode etc.)
                        # must survive checkpoint + expire_log — the real
                        # checkpoint format persists full metaData
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int64()),
                                    ("sizeInBytes", pa.int64()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            (
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("dataChange", pa.bool_()),
                        ("deletionTimestamp", pa.int64()),
                    ]
                ),
            ),
            (
                "txn",
                pa.struct(
                    [
                        ("appId", pa.string()),
                        ("version", pa.int64()),
                        ("lastUpdated", pa.int64()),
                    ]
                ),
            ),
        ]
    )


def _read_checkpoint(table_path: str, version: int) -> list[dict[str, Any]]:
    """Checkpoint parquet → action dicts, in a replay-valid order (the
    writer emits protocol, metaData, txn, add, remove rows in order and
    parquet preserves row order)."""
    import pyarrow.parquet as pq

    actions: list[dict[str, Any]] = []
    for row in pq.read_table(_checkpoint_path(table_path, version)).to_pylist():
        for kind in ("protocol", "metaData", "txn", "add", "remove"):
            payload = row.get(kind)
            if payload is None:
                continue
            clean = {k: v for k, v in payload.items() if v is not None}
            if kind == "add" and "partitionValues" in clean:
                clean["partitionValues"] = dict(clean["partitionValues"])
            if kind == "metaData":
                # map<string,string> round-trips as a list of pairs
                clean["configuration"] = dict(clean.get("configuration") or [])
            if kind == "add" and "deletionVector" in clean:
                clean["deletionVector"] = {
                    k: v
                    for k, v in clean["deletionVector"].items()
                    if v is not None
                }
            actions.append({kind: clean})
    return actions


def create_checkpoint(table_path: str, version: int | None = None) -> int:
    """Write the Delta protocol's ``<version>.checkpoint.parquet`` — the
    full replayed state (protocol, metaData, txn watermarks, active adds
    with their stats, remove tombstones) as ONE typed parquet file —
    plus the ``_last_checkpoint`` pointer.  Replay from then on starts
    here instead of at commit 0: O(commits since checkpoint) driver
    work per snapshot, the log compaction that keeps a table taking
    thousands of streaming commits readable.  Driver-side and bounded
    by active-file count (kilobytes per file entry), not data size.
    Carries the table's real protocol (feature lists included) and any
    deletion-vector descriptors, so DV and column-mapped tables replay
    from checkpoints losslessly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    versions = _list_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no deltalite log at {table_path}")
    if version is None:
        version = versions[-1]
    snap = _snapshot_state(table_path, version)

    # the TABLE's protocol, not a hardcoded v1 — a DV (v3) or mapped
    # (v2) table must replay from the checkpoint with its features
    proto = snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    rows: list[dict[str, Any]] = [
        {
            "protocol": {
                "minReaderVersion": proto.get("minReaderVersion", 1),
                "minWriterVersion": proto.get("minWriterVersion", 2),
                "readerFeatures": proto.get("readerFeatures"),
                "writerFeatures": proto.get("writerFeatures"),
            }
        }
    ]
    if snap.meta is not None:
        m = snap.meta
        rows.append(
            {
                "metaData": {
                    "id": m.get("id"),
                    "format": {"provider": m.get("format", {}).get("provider", "parquet")},
                    "schemaString": m["schemaString"],
                    "partitionColumns": m.get("partitionColumns", []),
                    "configuration": m.get("configuration", {}),
                    "createdTime": m.get("createdTime", 0),
                }
            }
        )
    for app_id in sorted(snap.txns):
        rows.append(
            {
                "txn": {
                    "appId": app_id,
                    "version": snap.txns[app_id],
                    "lastUpdated": 0,
                }
            }
        )
    for path in sorted(snap.adds):
        a = snap.adds[path]
        rows.append(
            {
                "add": {
                    "path": a["path"],
                    "partitionValues": a.get("partitionValues", {}),
                    "size": a.get("size", 0),
                    "modificationTime": a.get("modificationTime", 0),
                    "dataChange": a.get("dataChange", True),
                    "stats": a.get("stats"),
                    "deletionVector": a.get("deletionVector"),
                }
            }
        )
    for path in sorted(snap.tombstones):
        r = snap.tombstones[path]
        rows.append(
            {
                "remove": {
                    "path": r["path"],
                    "dataChange": r.get("dataChange", True),
                    "deletionTimestamp": r.get("deletionTimestamp", 0),
                }
            }
        )

    schema = _checkpoint_schema()
    fields = [f.name for f in schema]
    table = pa.Table.from_pylist(
        [{f: row.get(f) for f in fields} for row in rows], schema=schema
    )
    _replace_atomically(
        _checkpoint_path(table_path, version),
        lambda tmp: pq.write_table(table, tmp),
    )
    pointer = {"version": version, "size": len(rows)}

    def write_pointer(tmp: str) -> None:
        with open(tmp, "w") as f:
            f.write(json.dumps(pointer, separators=(",", ":")))

    _replace_atomically(
        os.path.join(table_path, _LOG_DIR, "_last_checkpoint"), write_pointer
    )
    return version


def _replace_atomically(final: str, write) -> None:
    """``write(tmp)`` then rename ``tmp`` over ``final``.  The temp name
    is unique per call (like the commit path's), so two writers of the
    same file never share, rename or half-read each other's temp."""
    tmp = f"{final}.{uuid.uuid4().hex}.tmp"
    try:
        write(tmp)
        os.replace(tmp, final)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def expire_log(table_path: str) -> dict[str, int]:
    """Delete the JSON commits the newest checkpoint subsumes (all
    versions BELOW it) — the ``delta.logRetentionDuration`` cleanup.
    After this, snapshot reads at or after the checkpoint work exactly
    as before (checkpoint + remaining JSON); time travel and CDF ranges
    before the horizon raise a clear error, just like an expired real
    Delta log."""
    checkpoints = _list_checkpoints(table_path)
    if not checkpoints:
        raise ValueError(
            f"no checkpoint at {table_path} — nothing subsumes the log; "
            "run create_checkpoint first"
        )
    horizon = checkpoints[-1]
    deleted = 0
    for v in _list_versions(table_path):
        if v < horizon:
            os.remove(_log_path(table_path, v))
            deleted += 1
    return {"horizon": horizon, "json_deleted": deleted}


def _replay(
    table_path: str, version: int | None = None
) -> tuple[set[str], str | None]:
    adds, schema_json, _ = _replay_adds(table_path, version)
    return set(adds), schema_json


def _active_files(table_path: str, version: int | None = None) -> set[str]:
    return _replay(table_path, version)[0]


# ---------------------------------------------------------------------------
# The data-file layer.  Every reader and writer of table data files goes
# through these helpers: one schema (:func:`_data_schema`), one reader
# (:func:`_read_files`, with :func:`_read_adds` adding partition values),
# one stager (:func:`_stage`), one partition-group dispatcher
# (:func:`_map_groups`) and one constraint scan (:func:`_enforce_staged`).
#
# Data files hold the table's DATA columns only: partition values live in
# ``add.partitionValues``.  On a column-mapped table the files (and the
# partitionValues keys) carry PHYSICAL names; frames above this layer are
# always in LOGICAL names.
# ---------------------------------------------------------------------------


def _commit_dir(version: int) -> str:
    """Fresh per-commit staging directory name (relative to the table);
    files staged there are invisible until the commit JSON names them."""
    return f"part-{version:05d}-{uuid.uuid4().hex[:12]}"


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def _data_schema(snap: "_Snapshot", physical: bool = True):
    """The table's data columns without its partition columns, under
    physical names when the table is column-mapped (``physical=False``
    keeps the logical names)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType.fromJson(json.loads(snap.schema_json))
    fields = [f for f in schema.fields if f.name not in snap.part_cols]
    mapping = _column_mapping_of(snap.schema_json) if physical else {}
    if mapping:
        # renamed fields drop the logical field's metadata
        fields = [
            StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
            for f in fields
        ]
    return StructType(fields)


def _to_logical(df: DataFrame, snap: "_Snapshot") -> DataFrame:
    """Rename a frame's physical column names to logical ones; columns
    the mapping does not know (file or position columns) keep theirs."""
    mapping = _column_mapping_of(snap.schema_json)
    if not mapping:
        return df
    logical = {p: n for n, p in mapping.items()}
    return df.toDF(*[logical.get(c, c) for c in df.columns])


def _read_files(
    spark: SparkSession,
    table_path: str,
    adds: dict[str, dict[str, Any]],
    snap: "_Snapshot",
    file_col: str | None = None,
    pos_col: str | None = None,
) -> DataFrame:
    """The data columns of the given adds, in logical names, always read
    with :func:`_data_schema` (no schema inference).  DV-carrying adds
    read through ``read_files_minus_dv``, so deleted rows never show.
    ``file_col`` appends each row's file as the plain absolute path that
    ``deltalite_dv._file_uri`` gives its add, plain and DV files alike;
    ``pos_col`` appends its parquet row index."""
    from pyspark_anomaly_detection_spark.io.deltalite_dv import (
        _scan_with_positions,
        read_files_minus_dv,
    )

    schema = _data_schema(snap)
    plain = [rel for rel, a in adds.items() if not a.get("deletionVector")]
    dv_adds = {
        rel: a for rel, a in adds.items() if a.get("deletionVector")
    }
    pieces = []
    if plain:
        pieces.append(
            _scan_with_positions(
                spark, table_path, plain, schema, file_col, pos_col
            )
        )
    if dv_adds:
        pieces.append(
            read_files_minus_dv(
                spark, table_path, dv_adds, schema, file_col, pos_col
            )
        )
    return _to_logical(_union(pieces), snap)


def _partition_groups(
    adds: dict[str, dict[str, Any]],
) -> list[tuple[dict[str, Any], dict[str, dict[str, Any]]]]:
    """``[(partitionValues, adds of that partition)]`` in a stable order
    (one group, ``{}``, on an unpartitioned table); adds keep their
    order within a group."""
    groups: dict[tuple, dict[str, dict[str, Any]]] = {}
    for rel, a in adds.items():
        pv = a.get("partitionValues") or {}
        groups.setdefault(tuple(sorted(pv.items())), {})[rel] = a
    return [
        (dict(key), group)
        for key, group in sorted(
            groups.items(), key=lambda kv: tuple(map(str, kv[0]))
        )
    ]


def _with_partitions(
    df: DataFrame, snap: "_Snapshot", pv: dict[str, Any]
) -> DataFrame:
    """A logical data frame of one partition group with the group's
    partition values added as typed columns, in schema order; trailing
    columns outside the schema (``_change_type``) are kept."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(snap.schema_json))
    mapping = _column_mapping_of(snap.schema_json)
    for col in snap.part_cols:
        # a mapped table's partitionValues are keyed by physical names
        value = pv.get(mapping.get(col, col))
        df = df.withColumn(col, F.lit(value).cast(schema[col].dataType))
    names = schema.fieldNames()
    return df.select(*names, *[c for c in df.columns if c not in names])


def _read_adds(
    spark: SparkSession,
    table_path: str,
    adds: dict[str, dict[str, Any]],
    snap: "_Snapshot",
    file_col: str | None = None,
) -> DataFrame:
    """Full logical rows of the given adds: :func:`_read_files` per
    partition group with the group's values reinjected (the data files
    of a partitioned table do NOT contain the partition columns —
    readers reconstruct them from ``add.partitionValues``, exactly as
    Delta does).  Column mapping, partitions and deletion vectors all
    compose here; ``file_col`` is :func:`_read_files`'."""
    from pyspark.sql.types import StructType

    if not adds:
        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(snap.schema_json))
        )
    return _union(
        [
            _with_partitions(
                _read_files(spark, table_path, group, snap, file_col),
                snap,
                pv,
            )
            for pv, group in _partition_groups(dict(sorted(adds.items())))
        ]
    )


def _stage(
    table_path: str,
    rel_dir: str,
    df: DataFrame,
    *,
    mapping: dict[str, str] | None = None,
    part_cols: list[str] | tuple = (),
    pv: dict[str, Any] | None = None,
    data_change: bool = True,
    kind: str = "add",
    write=None,
    stats_cols: list[str] | None = None,
) -> list[dict[str, Any]]:
    """Write one logical-name frame under ``<table>/<rel_dir>`` and
    return its ``add`` (or ``cdc``) actions, sorted by path.

    ``mapping`` (logical → physical) renames columns just before the
    write.  ``part_cols`` writes hive-partitioned and takes each file's
    partitionValues from its directory; otherwise every file is stamped
    with ``pv`` (a rewritten partition group's values).  ``write(df,
    path)`` replaces the plain parquet write (OPTIMIZE's bin-packing and
    Z-order layouts).  Every ``add`` carries Delta's ``stats.numRecords``
    from its footer; ``stats_cols`` adds per-file min/max to them.

    A 0-row data file (Spark's writer always writes one file, even for
    an empty frame, e.g. a copy-on-write DELETE that empties a file) is
    deleted, not committed: the table's schema lives in its metaData, so
    an empty file carries nothing a reader needs."""
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    out_dir = os.path.join(table_path, rel_dir)
    mapping = mapping or {}
    if mapping:
        df = df.toDF(*[mapping.get(c, c) for c in df.columns])
    if write is not None:
        write(df, out_dir)
    else:
        writer = df.write.mode("error")
        if part_cols:
            writer = writer.partitionBy(*[mapping.get(c, c) for c in part_cols])
        writer.parquet(out_dir)
    actions = []
    for root, _dirs, files in os.walk(out_dir):
        pvals = dict(pv or {})
        for seg in os.path.relpath(root, out_dir).split(os.sep):
            if "=" in seg:
                # hive directory names escape special characters and
                # spell NULL as __HIVE_DEFAULT_PARTITION__
                k, _, v = seg.partition("=")
                pvals[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                )
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(root, name)
            entry: dict[str, Any] = {
                "path": os.path.relpath(full, table_path),
                "partitionValues": pvals,
                "size": os.path.getsize(full),
            }
            if kind == "add":
                stats = (
                    _file_stats(full, stats_cols)
                    if stats_cols
                    else {"numRecords": pq.read_metadata(full).num_rows}
                )
                if stats["numRecords"] == 0:
                    os.remove(full)
                    continue
                entry["modificationTime"] = 0
                entry["stats"] = json.dumps(stats, separators=(",", ":"))
            entry["dataChange"] = data_change
            actions.append({kind: entry})
    return sorted(actions, key=lambda a: a[kind]["path"])


def _map_groups(fn, groups: list) -> list:
    """``[fn(i, group) for i, group in enumerate(groups)]``, in order.
    Partition groups rewrite to disjoint directories with no shared
    state, so with more than one group they run on up to 4 driver
    threads: group k+1's tasks back-fill executors while group k's tail
    finishes.  Any failure propagates before the caller commits."""
    if len(groups) <= 1:
        return [fn(i, g) for i, g in enumerate(groups)]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, len(groups))) as pool:
        return list(pool.map(lambda ig: fn(*ig), enumerate(groups)))


def _enforce_staged(
    spark: SparkSession,
    table_path: str,
    adds: list[dict[str, Any]],
    snap: "_Snapshot",
    what: str,
) -> None:
    """CHECK constraints (Delta writer-v3) and generated-column
    equalities (writer-v4) of ``snap``, checked in one columnar scan of
    the just-staged ``add`` actions before they are committed — never a
    recompute of the written frame's lineage — so a violation leaves
    only invisible staging files (the log is the source of truth; VACUUM
    sweeps them).  Constraints are stored in logical names, which the
    scan reads."""
    from pyspark_anomaly_detection_spark.io.deltalite_constraints import (
        check_constraints_of,
        enforce_check_constraints,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_generated import (
        generation_constraints,
    )

    cons = {
        **check_constraints_of(snap.meta),
        **generation_constraints(snap.schema_json),
    }
    if adds and cons:
        staged = {a["add"]["path"]: a["add"] for a in adds}
        enforce_check_constraints(
            _read_adds(spark, table_path, staged, snap), cons, what
        )


def read_delta(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    partition_filter: dict[str, str] | None = None,
    timestamp_as_of: int | None = None,
) -> DataFrame:
    """Snapshot (optionally time-travel) read: replay the log, read
    exactly the active files with the committed schema, reconstructing
    partition columns from ``add.partitionValues``.  An empty active
    set yields an empty frame with the committed schema.
    ``partition_filter`` prunes at the LOG level: files of non-matching
    partitions are never opened.  ``timestamp_as_of`` (epoch ms) is
    Delta's TIMESTAMP AS OF: resolves to the latest version committed
    at or before that instant (mutually exclusive with ``version``)."""
    if timestamp_as_of is not None:
        if version is not None:
            raise ValueError(
                "read_delta: version and timestamp_as_of are mutually "
                "exclusive (Delta's rule)"
            )
        version = version_at_timestamp(table_path, timestamp_as_of)
    snap = _snapshot_state(table_path, version)
    adds = snap.adds
    if partition_filter:
        unknown = set(partition_filter) - set(snap.part_cols)
        if unknown:
            raise ValueError(
                f"partition_filter on non-partition columns: {sorted(unknown)}"
            )
        # callers filter by LOGICAL names; a mapped table's
        # partitionValues are keyed physically
        mapping = _column_mapping_of(snap.schema_json)
        adds = {
            rel: a
            for rel, a in adds.items()
            if all(
                a.get("partitionValues", {}).get(mapping.get(c, c)) == v
                for c, v in partition_filter.items()
            )
        }
    return _read_adds(spark, table_path, adds, snap)


def delta_history(table_path: str) -> list[dict[str, Any]]:
    """(version, operation, n_adds, n_removes) per commit, oldest first."""
    out = []
    for v in _list_versions(table_path):
        actions = _read_commit(table_path, v)
        op = next(
            (
                a["commitInfo"].get("operation")
                for a in actions
                if "commitInfo" in a
            ),
            None,
        )
        out.append(
            {
                "version": v,
                "operation": op,
                "timestamp": _commit_timestamp(table_path, v),
                "n_adds": sum(1 for a in actions if "add" in a),
                "n_removes": sum(1 for a in actions if "remove" in a),
            }
        )
    return out


@register(
    "q213_deltalite_time_travel",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
               AS total
      FROM orders WHERE o_orderkey % 3 = 0
      GROUP BY o_orderpriority
    ),
    appended AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
               AS total
      FROM orders WHERE o_orderkey % 3 <= 1
      GROUP BY o_orderpriority
    ),
    final AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
               AS total
      FROM orders WHERE o_orderkey % 3 = 2
      GROUP BY o_orderpriority
    )
    SELECT 0 AS version, o_orderpriority, n, total FROM base
    UNION ALL
    SELECT 1, o_orderpriority, n, total FROM appended
    UNION ALL
    SELECT 2, o_orderpriority, n, total FROM final
    ORDER BY version, o_orderpriority
    """,
)
def q213_deltalite_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional table lifecycle through the deltalite protocol:
    commit 0 writes a third of orders, commit 1 appends another third,
    commit 2 OVERWRITES with the final third — then every version is
    read back via time travel and aggregated.  The oracle computes the
    same three snapshots straight from the orders table, so a green
    hash proves log replay (adds, removes, last-writer state) and the
    committed-schema read are exact."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_")
    table = os.path.join(base, "orders_t")
    try:
        write_delta(orders.filter(F.col("o_orderkey") % 3 == 0), table)
        write_delta(
            orders.filter(F.col("o_orderkey") % 3 == 1), table, mode="append"
        )
        write_delta(
            orders.filter(F.col("o_orderkey") % 3 == 2),
            table,
            mode="overwrite",
        )

        def snap(v: int) -> DataFrame:
            return (
                read_delta(spark, table, version=v)
                .groupBy("o_orderpriority")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .cast("double")
                    .alias("total"),
                )
                .withColumn("version", F.lit(v))
            )

        out = snap(0).unionByName(snap(1)).unionByName(snap(2))
        result = out.select(
            F.col("version").cast("int").alias("version"),
            "o_orderpriority",
            "n",
            "total",
        ).orderBy("version", "o_orderpriority")
        # Materialize before the temp table is removed (the result is a
        # small per-priority aggregate: ≤ 3 versions × 5).
        return detach_local(result)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def last_txn_version(table_path: str, app_id: str) -> int:
    """Highest committed ``txn`` version for ``app_id`` (-1 when none) —
    the idempotence watermark Delta's streaming sink checks before
    committing a micro-batch.  Checkpoint-aware: the watermark survives
    log expiry because checkpoints carry every app's txn state."""
    try:
        return _snapshot_state(table_path).txns.get(app_id, -1)
    except FileNotFoundError:
        return -1


def write_delta_txn(
    df: DataFrame,
    table_path: str,
    app_id: str,
    txn_version: int,
    mode: str = "append",
) -> int | None:
    """Idempotent transactional commit: skip (return None) when
    ``txn_version`` was already committed for ``app_id`` — Delta's
    exactly-once streaming-sink contract under at-least-once replay."""
    if last_txn_version(table_path, app_id) >= txn_version:
        return None
    return write_delta(
        df,
        table_path,
        mode=mode,
        operation="STREAMING UPDATE",
        extra_actions=[
            {
                "txn": {
                    "appId": app_id,
                    "version": int(txn_version),
                    "lastUpdated": 0,
                }
            }
        ],
    )


def start_incremental_delta_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    app_id: str = "deltalite-sink",
    available_now: bool = True,
):
    """Exactly-once streaming ingest into a deltalite table: each
    micro-batch is one transactional append carrying a ``txn`` action
    keyed (app_id, batch_id); a replayed batch finds its txn version
    already committed and SKIPS — no duplicate rows under at-least-once
    delivery, the semantics Delta's real streaming sink provides."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_delta_txn(batch_df, table_path, app_id, int(batch_id))

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def optimize_delta(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> dict[str, int]:
    """OPTIMIZE: transactionally rewrite the active file set into
    ``ceil(bytes/target)`` files — remove + add in ONE commit with
    ``dataChange: false``, so concurrent readers swap atomically at the
    log (the reader-transparent compaction ``compact_parquet``'s
    docstring defers to a transactional format for) and time travel to
    pre-optimize versions still works (old data files stay on disk
    until a vacuum).

    ``zorder_by=(col_a, col_b)`` — Delta's ``OPTIMIZE ... ZORDER BY``:
    the rewrite lays rows along the Morton curve of the two columns
    (``io/maintenance.py::write_zordered`` — range shuffle on the
    interleaved key, no single-task sort) and every new ``add`` carries
    per-file min/max ``stats`` for BOTH columns in the SAME commit, so
    :func:`read_delta_pruned` skips files for predicates on either
    dimension immediately — clustering and skipping stats land
    atomically, exactly like the real OPTIMIZE ZORDER.

    PARTITIONED tables compact PER PARTITION: each partition group's
    files rewrite into their own ``ceil(group_bytes/target)`` files
    stamped with the group's partition tuple, exactly real OPTIMIZE's
    partition-local scope (and z-ordering clusters WITHIN partitions).
    DV-carrying files are read through their bitmaps; column-mapped
    files rewrite physical-to-physical with stats keyed by physical
    names."""
    snap = _snapshot_state(table_path)
    if not snap.adds:
        return {"version": snap.version, "files_before": 0, "files_after": 0}
    for c in zorder_by or ():
        if c in snap.part_cols:
            raise ValueError(
                f"deltalite OPTIMIZE: cannot ZORDER BY partition "
                f"column '{c}' — it lives in the log, not the files"
            )
    version, n_added = _compact(
        spark, table_path, snap, snap.adds, "OPTIMIZE", "deltalite",
        target_file_bytes, zorder_by,
    )
    return {
        "version": version,
        "files_before": len(snap.adds),
        "files_after": n_added,
    }


def _compact(
    spark: SparkSession,
    table_path: str,
    snap: _Snapshot,
    adds: dict[str, dict[str, Any]],
    operation: str,
    engine: str,
    target_file_bytes: int | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> tuple[int, int]:
    """Rewrite ``adds`` per partition group into ``ceil(group_bytes /
    target)`` files (Z-ordered on ``zorder_by`` when given) and commit
    remove + add with ``dataChange: false``: the layout changes, the
    rows do not.  OPTIMIZE runs it over every active file, REORG PURGE
    over the DV-carrying ones.  Returns (version, files added)."""
    from pyspark_anomaly_detection_spark.io.maintenance import (
        TARGET_FILE_BYTES,
        plan_file_count,
        write_zordered,
    )

    target = target_file_bytes or TARGET_FILE_BYTES
    mapping = _column_mapping_of(snap.schema_json)
    zcols = [mapping.get(c, c) for c in zorder_by] if zorder_by else None
    version = snap.version + 1
    commit_dir = _commit_dir(version)

    def rewrite(i: int, group) -> list[dict[str, Any]]:
        pv, group_adds = group
        n_files = plan_file_count(
            sum(
                a.get("size")
                or os.path.getsize(os.path.join(table_path, rel))
                for rel, a in group_adds.items()
            ),
            target,
        )

        def write(df: DataFrame, path: str) -> None:
            if zcols:
                write_zordered(df, path, zcols[0], zcols[1], n_files)
            else:
                df.repartition(n_files).write.mode("error").parquet(path)

        return _stage(
            table_path,
            f"{commit_dir}/g{i}" if snap.part_cols else commit_dir,
            _read_files(spark, table_path, group_adds, snap),
            mapping=mapping,
            pv=pv,
            data_change=False,
            write=write,
            stats_cols=zcols,
        )

    actions: list[dict[str, Any]] = [
        {"remove": {"path": rel, "dataChange": False}} for rel in sorted(adds)
    ]
    for staged in _map_groups(rewrite, _partition_groups(adds)):
        actions.extend(staged)
    n_added = len(actions) - len(adds)
    actions.append(
        {"commitInfo": {"operation": operation, "engineInfo": engine}}
    )
    return _commit_with_retry(table_path, version, actions), n_added


def _file_stats(path: str, cols: list[str]) -> dict[str, Any]:
    """Per-file numRecords / minValues / maxValues straight from the
    parquet footer (kilobytes, driver-side, bounded by the commit's
    file count) — the ``add.stats`` payload Delta's data skipping uses."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    for col in cols:
        if col not in names:
            continue
        idx = names.index(col)
        stats = [
            md.row_group(g).column(idx).statistics
            for g in range(md.num_row_groups)
        ]
        if any(s is None for s in stats):
            continue
        mins[col] = min(s.min for s in stats)
        maxs[col] = max(s.max for s in stats)
    return {
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
    }


def annotate_stats(table_path: str, cols: list[str]) -> int:
    """Attach min/max ``stats`` for ``cols`` to every active ``add``
    action lacking them, as one new commit that re-adds the same files
    with stats (dataChange false) — Delta's ``COMPUTE STATISTICS``-style
    backfill.  An add counts as covered when its stats already hold
    min/max for every column (a bare ``numRecords`` does not), or when
    its footer has nothing more to add.  Returns the new version (or -1
    when every active add is covered)."""
    snap = _snapshot_state(table_path)
    # DV tables compose (round 14): the re-add below copies the FULL
    # prior add action — deletionVector descriptor included — so stats
    # attach without dropping the bitmap.  Footer stats count PHYSICAL
    # rows (deleted positions included), which per the protocol keeps
    # min/max envelopes a SUPERSET of the live rows — data skipping in
    # read_delta_pruned stays sound (it can only over-read, never drop).
    # stats of a mapped table key PHYSICAL column names (protocol rule);
    # callers pass logical names and we translate
    mapping = _column_mapping_of(snap.schema_json)
    cols = [mapping.get(c, c) for c in cols] if mapping else cols
    actions: list[dict[str, Any]] = []
    for rel, old_add in sorted(snap.adds.items()):
        old = json.loads(old_add.get("stats") or "{}")
        if all(
            c in old.get(side, {})
            for c in cols
            for side in ("minValues", "maxValues")
        ):
            continue
        found = _file_stats(os.path.join(table_path, rel), cols)
        stats = {
            "numRecords": found["numRecords"],
            "minValues": {**old.get("minValues", {}), **found["minValues"]},
            "maxValues": {**old.get("maxValues", {}), **found["maxValues"]},
        }
        if stats == old:
            continue  # the footer has no min/max for these columns
        add = dict(old_add)
        add["stats"] = json.dumps(stats, separators=(",", ":"))
        add["dataChange"] = False
        actions.append({"add": add})
    if not actions:
        return -1
    actions.append(
        {
            "commitInfo": {
                "operation": "COMPUTE STATS",
                "engineInfo": "deltalite",
            }
        }
    )
    return _commit_with_retry(table_path, snap.version + 1, actions)


def read_delta_pruned(
    spark: SparkSession,
    table_path: str,
    col: str,
    lo: Any,
    hi: Any,
) -> tuple[DataFrame, dict[str, int]]:
    """Stats-based DATA SKIPPING read: files whose committed
    ``add.stats`` [min, max] envelope for ``col`` misses [lo, hi] are
    never opened — the log-level pruning that makes a 100 TB Delta scan
    read only the touched fraction.  Files without stats are read
    (skipping must never drop data).  Returns (frame WITH the predicate
    still applied row-level, {'files_total', 'files_read'}).  The frame
    has :func:`read_delta`'s columns and values: partition columns come
    from each kept file's ``partitionValues`` (the data files hold none),
    mapped tables read physical names, and DV files drop deleted rows."""
    snap = _snapshot_state(table_path)
    latest_add = snap.adds
    # mapped tables: stats (and data files) key PHYSICAL names; the
    # caller's predicate column is LOGICAL — translate for the stats
    # lookup and read through the physical schema (pre-fix this read
    # used the logical schema and returned all-NULL columns silently)
    mapping = _column_mapping_of(snap.schema_json)
    scol = mapping.get(col, col) if mapping else col
    keep = []
    for rel in sorted(latest_add):
        add = latest_add[rel]
        stats = json.loads(add["stats"]) if "stats" in add else None
        if stats and scol in stats.get("minValues", {}):
            if stats["maxValues"][scol] < lo or stats["minValues"][scol] > hi:
                continue  # file's envelope misses the predicate: skip
        keep.append(rel)
    meta = {"files_total": len(latest_add), "files_read": len(keep)}
    # the kept files read through the snapshot reader: column mapping,
    # partition-value reinjection and DV subtraction (stats coexist with
    # DVs, so a pruned read must not resurrect rows) all compose there
    df = _read_adds(
        spark, table_path, {rel: latest_add[rel] for rel in keep}, snap
    )
    return df.filter((F.col(col) >= lo) & (F.col(col) <= hi)), meta


def set_table_properties(
    table_path: str,
    set_props: "dict[str, str] | None" = None,
    unset: "tuple[str, ...] | list[str]" = (),
) -> int:
    """ALTER TABLE SET/UNSET TBLPROPERTIES as a metadata-only commit
    (round 13): the full prior metaData carries forward with only
    ``configuration`` updated.  The practical use here is
    ``delta.appendOnly=true`` — once set, every writer refuses commits
    that remove data (enforced centrally in the commit path); unset it
    to re-enable deletes/updates/overwrites."""
    snap = _snapshot_state(table_path)
    if snap.meta is None:
        raise ValueError(f"no deltalite table at {table_path}")
    conf = dict(snap.meta.get("configuration") or {})
    for k in unset:
        conf.pop(k, None)
    conf.update(set_props or {})
    meta = dict(snap.meta)
    meta["configuration"] = conf
    actions: list[dict[str, Any]] = []
    # spec rule (round 14): on a v7 table, enabling a feature-backed
    # property requires the feature in writerFeatures FIRST — add it in
    # the same commit so the metadata can never outrun the protocol
    proto = snap.protocol or {}
    if proto.get("minWriterVersion") == 7:
        needed = {
            feat
            for prop, feat in _PROPERTY_WRITER_FEATURES.items()
            if (set_props or {}).get(prop) == "true"
        } - set(proto.get("writerFeatures") or [])
        if needed:
            actions.append(
                {
                    "protocol": {
                        **proto,
                        "writerFeatures": sorted(
                            set(proto.get("writerFeatures") or []) | needed
                        ),
                    }
                }
            )
    actions += [
        {"metaData": meta},
        {
            "commitInfo": {
                "operation": "SET TBLPROPERTIES",
                "engineInfo": "deltalite",
            }
        },
    ]
    return _commit_with_retry(table_path, snap.version + 1, actions)


def vacuum_delta(
    table_path: str,
    retain_versions: int = 1,
    min_file_age_seconds: float = 0.0,
) -> dict[str, int]:
    """Delete data files referenced by NO retained version — the
    storage-reclaim step after OPTIMIZE/overwrite rewrites.  Retains the
    active sets of the newest ``retain_versions`` commits; older
    versions' exclusive files are removed, so time travel BEFORE the
    retention horizon stops working (exactly Delta's VACUUM semantics —
    the log stays, the data goes).  Uncommitted orphan files (crashed
    writers) are also swept.  Returns counts.

    ``min_file_age_seconds`` is Delta's ``deletedFileRetentionDuration``
    (real default: 7 days): only files whose mtime is older than the
    horizon are eligible.  This is what makes VACUUM safe to run WHILE
    writers are active — an in-flight writer stages its data file
    BEFORE its commit JSON lands, so a 0-horizon concurrent sweep could
    eat a just-staged file as an \"orphan\"; an age horizon longer than
    any transaction protects it, exactly as in the real protocol.  The
    0.0 default keeps offline/test reclamation immediate."""
    import time as _time

    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    age_cutoff = _time.time() - min_file_age_seconds
    versions = _list_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no deltalite log at {table_path}")
    retained: set[str] = set()
    for v in versions[-retain_versions:]:
        retained |= _active_files(table_path, v)
    n_deleted = 0
    n_kept = 0
    for root, _dirs, files in os.walk(table_path):
        segs = os.path.relpath(root, table_path).split(os.sep)
        if _LOG_DIR in segs:
            continue
        if "_change_data" in segs:
            # cdc files are referenced by cdc actions, not adds — their
            # retention follows the LOG's: readable while their commit
            # JSON exists, garbage once expire_log has deleted it.  The
            # add-based sweep must not touch live ones (round 14);
            # expired ones are reclaimed below by commit version.
            continue
        for name in files:
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, table_path)
            if rel in retained:
                n_kept += 1
            elif os.path.getmtime(full) > age_cutoff:
                n_kept += 1  # younger than the retention horizon
            else:
                os.remove(full)
                n_deleted += 1
    # reclaim cdc files of EXPIRED commits: a _change_data/<commit-dir>
    # is readable only through its commit JSON; once expire_log deleted
    # that (version below the checkpoint horizon), the cdc files are
    # unreachable garbage.  Commit dirs are named part-<version>-<uuid>.
    cdc_root = os.path.join(table_path, "_change_data")
    live_versions = set(_list_versions(table_path))
    if os.path.isdir(cdc_root):
        import re as _re
        import shutil as _shutil

        for name in sorted(os.listdir(cdc_root)):
            m = _re.match(r"part-(\d+)-", name)
            if m and int(m.group(1)) not in live_versions:
                full = os.path.join(cdc_root, name)
                if os.path.getmtime(full) > age_cutoff:
                    continue  # younger than the retention horizon
                n_deleted += sum(
                    len(fs) for _r, _d, fs in os.walk(full)
                )
                _shutil.rmtree(full)

    # sweep now-empty commit directories — age-guarded like the files:
    # an in-flight writer's committer scaffolding (_temporary/...) is a
    # chain of just-created EMPTY dirs, and rmdir'ing one mid-stage
    # crashes the writer's task commit (caught by the r16 concurrent
    # maintenance fuzz on its first run)
    for root, dirs, files in os.walk(table_path, topdown=False):
        if root == table_path or _LOG_DIR in root:
            continue
        if not os.listdir(root) and os.path.getmtime(root) <= age_cutoff:
            os.rmdir(root)
    return {"files_deleted": n_deleted, "files_kept": n_kept}


def _dv_diff_rows(
    spark: SparkSession,
    table_path: str,
    pairs: "list[tuple[str, dict[str, Any], dict[str, Any] | None]]",
    schema,
) -> DataFrame:
    """Rows NEWLY deleted by a DV rewrite commit: for each
    ``(rel_path, new_add, old_dv_descriptor_or_None)`` pair, the data
    file's rows at positions ``decode(new) - decode(old)`` — the
    row-level delta the change feed reports for a merge-on-read DELETE
    (verdict r10 item 3).  The position diff follows the DV read path's
    rule (``deltalite_dv._positions_df``): decoded on the driver and
    broadcast up to ``DV_BROADCAST_MAX_ROWS`` summed cardinality,
    executor-side above it."""
    from pyspark_anomaly_detection_spark.io.deltalite_dv import (
        _file_uri,
        _positions_df,
        _scan_with_positions,
    )

    pos = _positions_df(
        spark,
        table_path,
        [
            (_file_uri(table_path, rel), new_add["deletionVector"], old_dv)
            for rel, new_add, old_dv in pairs
        ],
    )
    df = _scan_with_positions(
        spark, table_path, [rel for rel, _, _ in pairs], schema
    )
    return df.join(pos, ["_dv_f", "_dv_i"], "left_semi").drop(
        "_dv_f", "_dv_i"
    )


def _read_cdc_files(
    spark: SparkSession,
    table_path: str,
    cdc_actions: list[dict[str, Any]],
    snap: _Snapshot,
) -> DataFrame:
    """Read a commit's ``_change_data`` files (``cdc`` actions): the
    data columns plus ``_change_type`` (never mapped), per partition
    group with the group's values reinjected."""
    from pyspark.sql.types import StringType

    schema = _data_schema(snap).add("_change_type", StringType())
    return _union(
        [
            _with_partitions(
                _to_logical(
                    spark.read.schema(schema).parquet(
                        *[os.path.join(table_path, r) for r in sorted(group)]
                    ),
                    snap,
                ),
                snap,
                pv,
            )
            for pv, group in _partition_groups(
                {c["path"]: c for c in cdc_actions}
            )
        ]
    )


def read_delta_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED over ``(from_version, to_version]``, tagged
    with ``_change_type`` and ``_commit_version`` — the incremental-
    consumption surface that lets a downstream pipeline process only
    what changed instead of re-reading snapshots.

    Commits carrying ``cdc`` actions (DML rewrites on a table with
    ``delta.enableChangeDataFeed=true`` — round 14) are read ROW-LEVEL
    from their ``_change_data`` files: 'insert' / 'delete' /
    'update_preimage' / 'update_postimage', exactly the changed rows.
    Other commits reconstruct file-level changes from add/remove
    actions ('insert' | 'delete') as before.

    ``dataChange: false`` actions (OPTIMIZE, COMPUTE STATS, REORG
    PURGE) are excluded: layout maintenance is not a data change.
    Delete rows are read from the removed files themselves (valid until
    a VACUUM past the horizon; that is Delta's CDF retention caveat
    too).  A DELETION-VECTOR rewrite (same-commit remove+re-add of one
    path, the add carrying a ``deletionVector``) surfaces as ROW-LEVEL
    deletes — exactly the rows whose positions are in the new bitmap
    but not the prior one (verdict r10 item 3) — never as a file-level
    delete+insert pair.  Checkpoint-aware: the base state at
    ``from_version`` comes from the snapshot replay (checkpoint +
    tail), and only the JSON commits INSIDE the requested range are
    read — a range before the expiry horizon raises a clear error."""
    versions = _list_versions(table_path)
    checkpoints = _list_checkpoints(table_path)
    if not versions and not checkpoints:
        raise FileNotFoundError(f"no deltalite log at {table_path}")
    latest = max(versions + checkpoints)
    if to_version is None:
        to_version = latest
    tip = _snapshot_state(table_path, latest)
    # the whole range is framed in the TIP's logical names (physical
    # names are stable across renames, so pre-rename commits read
    # correctly on column-mapped tables)
    # last-known add per path (for partition values of removed files):
    # everything active at from_version, then maintained over the range.
    # from_version < 0 means "full history" — an empty base, streaming
    # the range from commit 0 (matching DeltaliteStreamReader's
    # initialOffset=-1 contract; ADVICE r9: the two CDF surfaces had
    # diverged, with the batch path raising on -1)
    if from_version < 0:
        from_version = -1
        known_add: dict[str, dict[str, Any]] = {}
    else:
        base = _snapshot_state(table_path, from_version)
        known_add = dict(base.adds)
    pieces: list[DataFrame] = []
    for v in range(from_version + 1, to_version + 1):
        if v not in versions:
            raise ValueError(
                f"deltalite: commit {v} missing from the change range "
                f"({from_version}, {to_version}] — expired past the log "
                "retention horizon"
            )
        actions = _read_commit(table_path, v)
        # spec rule (round 14): when a commit carries ``cdc`` actions
        # they are the COMPLETE change description — read the
        # ``_change_data`` files (row-level preimage/postimage/delete/
        # insert) and SKIP the add/remove reconstruction for this
        # commit entirely.  known_add still tracks the commit's adds so
        # later commits' removed-file lookups stay correct.
        cdc_actions = [a["cdc"] for a in actions if "cdc" in a]
        if cdc_actions:
            pieces.append(
                _read_cdc_files(spark, table_path, cdc_actions, tip).withColumn("_commit_version", F.lit(v).cast("int"))
            )
            for action in actions:
                if "add" in action:
                    known_add[action["add"]["path"]] = action["add"]
            continue
        removes_v = {
            a["remove"]["path"]
            for a in actions
            if "remove" in a and a["remove"].get("dataChange", True)
        }
        # DV rewrites in this commit: (path, new add, prior descriptor)
        dv_pairs = [
            (
                a["add"]["path"],
                a["add"],
                (known_add.get(a["add"]["path"]) or {}).get("deletionVector"),
            )
            for a in actions
            if "add" in a
            and a["add"].get("dataChange", True)
            and a["add"].get("deletionVector")
            and a["add"]["path"] in removes_v
        ]
        dv_paths = {p for p, _, _ in dv_pairs}
        if dv_pairs:
            # the diff reads data files per partition group in physical
            # space, then renames to the tip's logical names and
            # reinjects the group's partition values
            old_dv = {p: o for p, _, o in dv_pairs}
            for pv, group in _partition_groups({p: a for p, a, _ in dv_pairs}):
                diff = _dv_diff_rows(
                    spark,
                    table_path,
                    [(p, a, old_dv[p]) for p, a in group.items()],
                    _data_schema(tip),
                )
                pieces.append(
                    _with_partitions(_to_logical(diff, tip), tip, pv)
                    .withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_version", F.lit(v).cast("int"))
                )
        for action in actions:
            if "add" in action:
                add = action["add"]
                known_add[add["path"]] = add
                if add["path"] in dv_paths:
                    continue  # row-level delta already emitted above
                if add.get("dataChange", True):
                    df = _read_adds(spark, table_path, {add["path"]: add}, tip)
                    pieces.append(
                        df.withColumn("_change_type", F.lit("insert"))
                        .withColumn("_commit_version", F.lit(v).cast("int"))
                    )
            elif "remove" in action:
                rm = action["remove"]
                if not rm.get("dataChange", True) or rm["path"] in dv_paths:
                    continue
                add = known_add.get(rm["path"], {"path": rm["path"]})
                df = _read_adds(spark, table_path, {rm["path"]: add}, tip)
                pieces.append(
                    df.withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_version", F.lit(v).cast("int"))
                )
    if not pieces:
        empty = _read_adds(spark, table_path, {}, tip)
        return empty.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_version", F.lit(0).cast("int")
        ).limit(0)
    return _union(pieces)


@register(
    "q215_deltalite_change_feed",
    oracle="""
    WITH thirds AS (
      SELECT o_orderkey % 3 AS third,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
               AS total
      FROM orders GROUP BY o_orderkey % 3
    )
    SELECT 1 AS commit_version, 'insert' AS change_type, n, total
    FROM thirds WHERE third = 1
    UNION ALL
    SELECT 2, 'delete', n0.n + n1.n,
           CAST(CAST(n0.total AS DECIMAL(18,2))
                + CAST(n1.total AS DECIMAL(18,2)) AS DOUBLE)
    FROM (SELECT n, total FROM thirds WHERE third = 0) n0,
         (SELECT n, total FROM thirds WHERE third = 1) n1
    UNION ALL
    SELECT 2, 'insert', n, total FROM thirds WHERE third = 2
    ORDER BY commit_version, change_type
    """,
)
def q215_deltalite_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed census over the q213 table lifecycle (write a
    third of orders → append a third → overwrite with the final third):
    the feed after commit 0 must show exactly commit 1's inserts and
    commit 2's deletes (everything prior) + inserts.  The oracle
    derives the same insert/delete row sets straight from orders — a
    green hash proves the CDF attributes every row to the right commit
    and change type, with exact-decimal totals."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_cdf_")
    table = os.path.join(base, "orders_t")
    try:
        for third, mode in ((0, "append"), (1, "append"), (2, "overwrite")):
            write_delta(
                orders.filter(F.col("o_orderkey") % 3 == third), table, mode=mode
            )
        feed = read_delta_changes(spark, table, from_version=0)
        result = (
            feed.groupBy(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("commit_version", "change_type")
        )
        return detach_local(result)  # ≤3 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)
