"""Row-level DML on deltalite tables: DELETE, UPDATE, MERGE.

The three verbs are copy-on-write and share one planner.  A verb
supplies only how it classifies a target row; the rest is common:

1. **Classify.**  ``classify(rows)`` takes full logical target rows
   (data columns plus the partition values of each row's file) and tags
   each with ``_dml_action``: ``keep``, ``delete``, ``update`` or
   ``move`` (an update that changes the row's partition).  A ``post``
   map gives the post-image expression of every column an update
   changes.  DELETE and UPDATE classify by their predicate; MERGE by one
   left join of the target to its source, applying its clause matrix.
2. **Census.**  :func:`_census` is the one driver action over the
   target: the classified rows of every active file, counted per
   (file, action, matched).  It yields the touched files and every
   ``rows_*`` counter, and the driver holds one row per touched file,
   never one per table row.  MERGE runs one action before it, the
   source check, which rejects duplicate keys and decides the
   broadcast.
3. **Materialize.**  :func:`_rewrite_commit` rewrites only the touched
   files, per partition group: ``keep`` rows as they are, ``update``
   rows as their post-image.  ``move`` rows and MERGE inserts are
   written hive-style into their own partitions.  When the table records
   a change feed, :func:`_change_feed` builds its rows from the same
   classified touched rows.  The commit removes the touched files and
   adds the rewrites atomically: untouched files stay byte-identical and
   time travel still sees the pre-DML rows.  A merge-on-read
   materialization would be a second writer for the same classified
   rows (deletion vectors from their positions), not a second planner.

Data files are read, staged and harvested only through deltalite's
data-file layer: ``_read_files`` / ``_read_adds`` read with the
committed schema (logical names, deletion vectors subtracted, each
row's file named as ``deltalite_dv._file_uri`` names its add),
``_stage`` writes each rewrite, insert set or ``_change_data`` set and
harvests its actions, ``_map_groups`` runs the partition groups, and
``_enforce_staged`` checks constraints on the staged files before the
commit.

Predicates and assignments are Spark SQL expression strings over data
columns.  Partition columns live only in the log, so a predicate naming
one raises up front rather than silently matching nothing; a string
literal that merely spells the name does not count.

MERGE implements Delta's clause matrix: ``WHEN MATCHED [AND cond] THEN
UPDATE SET * | DELETE`` (matched target rows update in place, and
duplicate target keys keep their cardinality), ``WHEN NOT MATCHED THEN
INSERT *``, insert-only and no-insert merges, ``WHEN NOT MATCHED BY
SOURCE [AND cond] THEN DELETE | UPDATE SET``, partition-moving matched
updates, identity allocation for inserted rows, and a source broadcast
while the source is small.  A source with duplicate keys is rejected,
as Delta's ``DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW_IN_MERGE``
rejects it.
"""

from __future__ import annotations

import json
import operator
import os
import re
import uuid
from collections import Counter
from functools import reduce
from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyspark_anomaly_detection_spark.io import deltalite
from pyspark_anomaly_detection_spark.io.detach import detach_local
from pyspark_anomaly_detection_spark.io.deltalite import (
    _read_adds,
    _read_files,
    _snapshot_state,
)
from pyspark_anomaly_detection_spark.io.deltalite_dv import _file_uri
from pyspark_anomaly_detection_spark.io.deltalite_generated import (
    generated_columns_of,
)
from pyspark_anomaly_detection_spark.io.deltalite_identity import (
    allocate_identity,
    identity_columns_of,
)

# one single-quoted SQL string literal ('' is the in-literal escape)
_SQL_LITERAL = re.compile(r"('(?:[^']|'')*')")

Classifier = Callable[[DataFrame], DataFrame]


def _adds(snap, rels) -> dict[str, dict[str, Any]]:
    """The snapshot's add actions of ``rels``, in ``rels`` order."""
    return {rel: snap.adds[rel] for rel in rels}


def _mentions(sql: str, pattern: str) -> bool:
    """True when ``pattern`` matches ``sql`` outside its string
    literals."""
    return any(re.search(pattern, seg) for seg in _SQL_LITERAL.split(sql)[::2])


def _translate_matched_condition(
    cond: str, key: str, aliased_cols: set[str]
) -> str:
    """Translate a WHEN MATCHED AND <cond> predicate onto the joined
    frame: ``src.<col>`` → ``_dml_src_<col>`` for every column the join
    aliased, ``src.<key>`` → the bare key (equal on a matched row by the
    ON clause), bare names read the target.

    A token pass, not string replacement: ``src.<name>`` is matched on
    word boundaries so ``src.id`` never corrupts ``src.id_ts``, string
    literals pass through untouched, and a ``src.*`` reference that is
    not an aliased source column raises instead of silently reading the
    target."""

    def repl(m: "re.Match[str]") -> str:
        col = m.group(1)
        if col == key:
            return key
        if col not in aliased_cols:
            raise ValueError(
                f"merge_delta: matched_condition references src.{col}, "
                "which is not a usable source column here (source data "
                "columns only — identity and partition columns cannot "
                "be referenced via src.)"
            )
        return f"_dml_src_{col}"

    return "".join(
        seg if i % 2 else re.sub(r"\bsrc\.(\w+)", repl, seg)
        for i, seg in enumerate(_SQL_LITERAL.split(cond))
    )


def _guard_partition_columns(predicate: str, part_cols: list[str]) -> None:
    for col in part_cols:
        if _mentions(predicate, rf"\b{re.escape(col)}\b"):
            raise ValueError(
                f"deltalite DML predicate references partition column "
                f"'{col}' — partition columns live only in the log; use "
                "replace_where / partition_filter flows for partition-"
                "scoped operations"
            )


def _check_assignments(
    snap, assignments: dict[str, str], verb: str
) -> None:
    """Refuse what Delta refuses to assign: a generated or identity
    column, a partition column, a source of a generated partition
    column (the row would have to change partition), or a column the
    table does not have."""
    gen = generated_columns_of(snap.schema_json)
    idcols = identity_columns_of(snap.schema_json)
    for col in assignments:
        if col in gen:
            raise ValueError(
                f"{verb} cannot assign generated column '{col}' — it is "
                f"GENERATED ALWAYS AS ({gen[col]}) and recomputes from "
                "its sources (Delta's rule)"
            )
        if col in idcols:
            raise ValueError(
                f"{verb} cannot assign identity column '{col}' — it is "
                "GENERATED ALWAYS AS IDENTITY (Delta's rule)"
            )
        if col in snap.part_cols:
            raise ValueError(
                f"{verb} cannot assign partition column '{col}' — the "
                "row would move between partitions"
            )
        for pcol in snap.part_cols:
            expr = gen.get(pcol)
            if expr and _mentions(expr, rf"\b{re.escape(col)}\b"):
                raise ValueError(
                    f"{verb} cannot assign column '{col}': partition "
                    f"column '{pcol}' is GENERATED ALWAYS AS ({expr}) "
                    "from it, so the row would move between partitions "
                    "(a MERGE update can move rows)"
                )
    unknown = set(assignments) - set(
        deltalite._data_schema(snap, physical=False).fieldNames()
    )
    if unknown:
        raise ValueError(
            f"{verb} cannot assign unknown column(s) {sorted(unknown)}"
        )


def _cdf_enabled(snap) -> bool:
    """True when the table records row-level change data (Delta's
    ``delta.enableChangeDataFeed`` property — set via
    ``set_table_properties``).  Only then do DML commits carry
    ``_change_data`` files; without it the batch CDF reconstructs
    file-level changes from add/remove actions."""
    conf = ((snap.meta or {}).get("configuration") or {})
    return conf.get("delta.enableChangeDataFeed") == "true"


def _with_generated(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``df`` with each generated column (re)computed from its
    expression: the expression, not a stated value, wins."""
    for col, expr in exprs.items():
        df = df.withColumn(col, F.expr(expr))
    return df


class _Census(NamedTuple):
    """What the census counted: the files holding a row that changes
    (``touched``) and those holding a row a MERGE source row matched
    (``matched``), live rows per (action, matched), and the distinct
    matched MERGE keys."""

    touched: list[str]
    matched: list[str]
    rows: Counter
    keys: int

    def n(self, *actions: str, matched: "bool | None" = None) -> int:
        """Rows with one of ``actions`` (any, when none is given)."""
        return sum(
            v
            for (a, m), v in self.rows.items()
            if (not actions or a in actions) and matched in (None, m)
        )


def _census(
    spark: SparkSession,
    table_path: str,
    snap,
    adds: dict[str, dict[str, Any]],
    classify: Classifier,
    key: "str | None" = None,
    partition_values: bool = False,
) -> _Census:
    """The one driver action over the target: the classified rows of
    ``adds``, counted per (file, action, matched).  Only changing rows,
    and kept rows a MERGE source row matched, reach the count, so the
    result is bounded by the touched and matched files.  With ``key``
    (MERGE) a row is matched when the join found it a source row, and a
    grand-total grouping set adds the distinct matched keys: a key may
    span files, so per-file counts cannot be summed into it.

    Rows carry their partition values only when ``classify`` reads them
    (MERGE's partition-move test): that read goes per partition group,
    while data columns alone come from one scan of every file."""
    if not adds:
        return _Census([], [], Counter(), 0)
    read = _read_adds if partition_values else _read_files
    is_matched = F.col("_dml_m").isNotNull() if key else F.lit(False)
    rows = (
        classify(read(spark, table_path, adds, snap, file_col="_dml_file"))
        .withColumn("_dml_matched", is_matched)
        .filter((F.col("_dml_action") != "keep") | F.col("_dml_matched"))
    )
    dims = ["_dml_file", "_dml_action", "_dml_matched"]
    n_rows = F.count("*").alias("n")
    if key:
        counted = rows.groupingSets([dims, []], *dims).agg(
            n_rows,
            F.countDistinct(F.when(F.col("_dml_matched"), F.col(key))).alias(
                "nk"
            ),
        )
    else:
        counted = rows.groupBy(*dims).agg(n_rows)
    rel_of = {_file_uri(table_path, rel): rel for rel in adds}
    touched: set[str] = set()
    matched: set[str] = set()
    counts: Counter = Counter()
    keys = 0
    for r in counted.collect():
        if r._dml_file is None:  # the grand total
            keys = int(r.nk)
            continue
        rel = rel_of[r._dml_file]
        counts[r._dml_action, r._dml_matched] += int(r.n)
        if r._dml_action != "keep":
            touched.add(rel)
        if r._dml_matched:
            matched.add(rel)
    return _Census(sorted(touched), sorted(matched), counts, keys)


def _change_feed(
    snap,
    changed: DataFrame,
    post: dict[str, Column],
    census: _Census,
    inserts: "DataFrame | None",
) -> "DataFrame | None":
    """The commit's change rows (logical columns plus ``_change_type``),
    built from ``changed``, the classified rows of the touched files:
    ``update_preimage``/``update_postimage`` pairs for updated and moved
    rows (a mover's postimage carries its new partition values),
    ``delete`` rows, and ``insert`` rows.  Generated columns recompute
    in every postimage and insert, as they do in the rewrite.  Only the
    kinds the census saw are built."""
    gen = generated_columns_of(snap.schema_json)
    cols = [f["name"] for f in json.loads(snap.schema_json)["fields"]]
    action = F.col("_dml_action")

    def tagged(df: DataFrame, kind: str) -> DataFrame:
        return df.select(*cols).withColumn("_change_type", F.lit(kind))

    pieces = []
    if census.n("update", "move"):
        updated = changed.filter(action.isin("update", "move"))
        postimage = updated.select(
            *[post.get(c, F.col(c)).alias(c) for c in cols]
        )
        pieces += [
            tagged(updated, "update_preimage"),
            tagged(_with_generated(postimage, gen), "update_postimage"),
        ]
    if census.n("delete"):
        pieces.append(tagged(changed.filter(action == "delete"), "delete"))
    if inserts is not None:
        pieces.append(tagged(_with_generated(inserts, gen), "insert"))
    return deltalite._union(pieces) if pieces else None


def _rewrite_commit(
    spark: SparkSession,
    table_path: str,
    snap,
    census: _Census,
    classify: Classifier,
    post: dict[str, Column],
    operation: str,
    inserts: "DataFrame | None" = None,
    new_schema_json: "str | None" = None,
) -> dict[str, int]:
    """Materialize a classified change set as one copy-on-write commit.

    Each partition group of ``census.touched`` is reread, classified
    again and staged with its ``keep`` rows and the post-image of its
    ``update`` rows, stamped with the group's partitionValues (data
    files carry no partition columns — Delta's contract).  ``move`` rows
    join ``inserts``, which are written hive-style into their own
    partitions, or folded into the single rewrite of an unpartitioned
    table.  Generated data columns recompute on every staged row;
    generated partition columns are computed for routing only.  When the
    table records a change feed, :func:`_change_feed`'s rows are staged
    as the commit's ``_change_data`` files.  ``new_schema_json`` (MERGE's
    bumped identity marks) commits a metaData action in the same commit
    as the rows, so a reader of any version sees marks consistent with
    the data."""
    version = snap.version + 1
    commit_dir = deltalite._commit_dir(version)
    # post-images and inserted rows are written with each column's
    # committed type, not the assignment's or the source's own (``v + 1.5``
    # on a long column stays long)
    schema = StructType.fromJson(json.loads(snap.schema_json))
    post = {c: e.cast(schema[c].dataType) for c, e in post.items()}
    if inserts is not None:
        inserts = inserts.select(
            *[F.col(c).cast(schema[c].dataType) for c in inserts.columns]
        )
    mapping = deltalite._column_mapping_of(snap.schema_json)
    gen = generated_columns_of(snap.schema_json)
    data_gen = {c: e for c, e in gen.items() if c not in snap.part_cols}
    data_cols = deltalite._data_schema(snap, physical=False).fieldNames()
    touched = _adds(snap, census.touched)
    action = F.col("_dml_action")
    cdf = _cdf_enabled(snap)
    changed = (
        classify(_read_adds(spark, table_path, touched, snap))
        if cdf or census.n("move")
        else None
    )

    new_rows = inserts
    if census.n("move"):
        # a mover's new row: its post-image, with its new partition
        # values (generated ones recompute below)
        routed = [p for p in snap.part_cols if p not in gen]
        movers = changed.filter(action == "move").select(
            *[post.get(c, F.col(c)).alias(c) for c in data_cols + routed]
        )
        new_rows = (
            movers
            if new_rows is None
            else new_rows.unionByName(movers, allowMissingColumns=True)
        )
    if new_rows is not None:
        # generated partition columns route the hive-layout write
        new_rows = _with_generated(new_rows, gen)

    groups = deltalite._partition_groups(touched)
    # an unpartitioned table's new rows fold into its single rewrite
    fold = new_rows is not None and not snap.part_cols and bool(groups)

    def rewrite(i: int, group) -> list[dict[str, Any]]:
        pv, group_adds = group
        rows = classify(
            deltalite._with_partitions(
                _read_files(spark, table_path, group_adds, snap), snap, pv
            )
        )
        kept = rows.filter(action.isin("keep", "update")).select(
            *[
                F.when(action == "update", post[c])
                .otherwise(F.col(c))
                .alias(c)
                if c in post
                else F.col(c)
                for c in data_cols
            ]
        )
        kept = _with_generated(kept, data_gen)
        if fold:
            kept = kept.unionByName(new_rows)
        return deltalite._stage(
            table_path,
            f"{commit_dir}/g{i}" if snap.part_cols else commit_dir,
            kept,
            mapping=mapping,
            pv=pv,
        )

    adds = [
        a for staged in deltalite._map_groups(rewrite, groups) for a in staged
    ]
    if new_rows is not None and not fold:
        adds += deltalite._stage(
            table_path,
            f"{commit_dir}/inserts" if snap.part_cols else commit_dir,
            new_rows,
            mapping=mapping,
            part_cols=snap.part_cols,
        )
    # UPDATE/MERGE can introduce violating or drifted rows: one scan of
    # the staged files (never the table) before the commit
    deltalite._enforce_staged(spark, table_path, adds, snap, operation)

    # row-level change data: when a commit carries cdc actions they are
    # its COMPLETE change description (the protocol's rule), so a 1-row
    # UPDATE in a 1M-row file feeds exactly 1 preimage + 1 postimage
    cdc = []
    feed = _change_feed(snap, changed, post, census, inserts) if cdf else None
    if feed is not None:
        cdc = deltalite._stage(
            table_path,
            f"_change_data/{commit_dir}",
            feed,
            mapping=mapping,
            part_cols=snap.part_cols,
            data_change=False,
            kind="cdc",
        )

    removes = [
        {"remove": {"path": rel, "dataChange": True}} for rel in touched
    ]
    meta_actions: list[dict[str, Any]] = []
    if new_schema_json is not None:
        # start from the FULL prior metaData and override only what this
        # commit changes (rebuilding from a fixed field subset would
        # silently drop unknown fields like name/description)
        meta = dict(snap.meta or {})
        meta["id"] = meta.get("id") or uuid.uuid4().hex
        meta["format"] = meta.get("format") or {
            "provider": "parquet",
            "options": {},
        }
        # the table id is STABLE across commits (Delta's contract);
        # only the schemaString changes here
        meta["schemaString"] = new_schema_json
        meta["partitionColumns"] = snap.part_cols
        meta["configuration"] = dict(meta.get("configuration") or {})
        meta.setdefault("createdTime", 0)
        meta_actions.append({"metaData": meta})
    actions = meta_actions + removes + adds + cdc + [
        {"commitInfo": {"operation": operation, "engineInfo": "deltalite"}}
    ]
    # optimistic concurrency with bounded retry: a DML rewrite carries
    # removes, so any interleaved data change aborts it (Delta's
    # ConcurrentAppend/ConcurrentDelete behavior)
    version = deltalite._commit_with_retry(table_path, version, actions)
    return {
        "version": version,
        "files_rewritten": len(touched),
        "files_added": len(adds),
    }


def _predicate_dml(
    spark: SparkSession,
    table_path: str,
    snap,
    predicate: str,
    action: str,
    post: dict[str, Column],
    operation: str,
) -> tuple[dict[str, int], _Census]:
    """DELETE and UPDATE: rows whose predicate holds take ``action``;
    rows where it is false or NULL are kept.  No commit when no row
    matches."""
    _guard_partition_columns(predicate, snap.part_cols)
    hit = F.coalesce(F.expr(predicate), F.lit(False))

    def classify(rows: DataFrame) -> DataFrame:
        return rows.withColumn(
            "_dml_action", F.when(hit, action).otherwise("keep")
        )

    census = _census(spark, table_path, snap, snap.adds, classify)
    if not census.touched:
        out = {"version": snap.version, "files_rewritten": 0, "files_added": 0}
        return out, census
    out = _rewrite_commit(
        spark, table_path, snap, census, classify, post, operation
    )
    return out, census


def delete_delta(
    spark: SparkSession, table_path: str, predicate: str
) -> dict[str, int]:
    """Row-level DELETE: copy-on-write rewrite of exactly the files
    containing matching rows.  Returns {'version', 'files_rewritten',
    'files_added', 'files_untouched', 'rows_deleted'}."""
    snap = _snapshot_state(table_path)
    out, census = _predicate_dml(
        spark, table_path, snap, predicate, "delete", {}, "DELETE"
    )
    out["files_untouched"] = len(snap.adds) - len(census.touched)
    out["rows_deleted"] = census.n("delete")
    return out


def update_delta(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    assignments: dict[str, str],
) -> dict[str, int]:
    """Row-level UPDATE ... SET: rewrite only the files containing
    matching rows, applying ``assignments`` (column -> Spark SQL
    expression) to the matching rows and passing the rest through
    unchanged.  Every assignment, and the predicate, reads the OLD row
    (SQL's UPDATE semantics): ``SET v = v + 1, w = v`` sets ``w`` to the
    pre-update ``v``."""
    snap = _snapshot_state(table_path)
    _check_assignments(snap, assignments, "UPDATE")
    out, census = _predicate_dml(
        spark,
        table_path,
        snap,
        predicate,
        "update",
        {c: F.expr(e) for c, e in assignments.items()},
        "UPDATE",
    )
    out["rows_updated"] = census.n("update")
    return out


def merge_delta(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    key: str,
    matched: "str | None" = "update",
    matched_condition: "str | None" = None,
    insert: bool = True,
    not_matched_by_source: "str | None" = None,
    not_matched_by_source_condition: "str | None" = None,
    not_matched_by_source_set: "dict[str, str] | None" = None,
) -> dict[str, int]:
    """MERGE INTO target USING source ON target.key = source.key —
    one copy-on-write commit, with Delta's standard clause variants:

    * ``matched="update"`` (default) — WHEN MATCHED THEN UPDATE SET *:
      matched target rows update in place (duplicate-key target rows
      each update, preserving cardinality).
    * ``matched="delete"`` — WHEN MATCHED THEN DELETE: matched rows are
      removed instead (the CDC tombstone-apply shape).
    * ``matched=None`` — no matched clause: matched rows are untouched
      (with ``insert=True`` this is the insert-only / dedup-append
      MERGE, the idempotent-ingest pattern).
    * ``matched_condition`` — SQL predicate gating the matched clause
      (WHEN MATCHED AND <cond>); rows failing it stay untouched.
      Target columns by bare name, source columns as ``src.<col>``
      (e.g. ``"src.updated_at > updated_at"`` — the CDC freshness
      guard).
    * ``insert=False`` — no WHEN NOT MATCHED clause: unmatched source
      rows are ignored.
    * ``not_matched_by_source="delete"|"update"`` — Delta's WHEN NOT
      MATCHED BY SOURCE clause: target rows whose key has NO source row
      are deleted, or updated via ``not_matched_by_source_set``
      ({column: SQL expr} over the OLD row — the SCD soft-delete /
      staleness-flag shape).  With ``matched="update"`` + ``insert=True``
      + delete-by-source this is the full snapshot-sync MERGE:
      afterwards the table EQUALS the source.  The optional condition
      references TARGET columns only (no source row exists to
      reference).  Cost note, same as real Delta's: without a selective
      condition every file holding an unmatched row is rewritten.

    Duplicate source keys raise (Delta's multiple-source-rows-match
    error).  Source must carry the target's full schema (minus identity
    columns, which the insert branch allocates, and generated columns,
    which recompute).

    Partitioned tables are supported as long as the merge key is a DATA
    column; a matched UPDATE row whose source partition values differ
    MOVES partitions (it leaves its old group's rewrite and enters its
    new partition with the inserts); inserts land in their own
    partitions via a hive-layout write."""
    if matched not in ("update", "delete", None):
        raise ValueError(
            f"merge_delta: matched must be 'update', 'delete', or None, "
            f"got {matched!r}"
        )
    if matched is None and matched_condition is not None:
        raise ValueError(
            "merge_delta: matched_condition without a matched clause"
        )
    if not_matched_by_source not in ("update", "delete", None):
        raise ValueError(
            "merge_delta: not_matched_by_source must be 'update', "
            f"'delete', or None, got {not_matched_by_source!r}"
        )
    if not_matched_by_source is None and (
        not_matched_by_source_condition is not None
        or not_matched_by_source_set is not None
    ):
        raise ValueError(
            "merge_delta: not_matched_by_source_condition/_set without "
            "a not_matched_by_source clause"
        )
    if not_matched_by_source == "update" and not not_matched_by_source_set:
        raise ValueError(
            "merge_delta: not_matched_by_source='update' needs "
            "not_matched_by_source_set assignments"
        )
    if not_matched_by_source == "delete" and not_matched_by_source_set:
        raise ValueError(
            "merge_delta: not_matched_by_source_set with a DELETE clause"
        )
    if not_matched_by_source_condition is not None and _mentions(
        not_matched_by_source_condition, r"\bsrc\."
    ):
        raise ValueError(
            "merge_delta: not_matched_by_source_condition cannot "
            "reference src.* — no source row exists for these rows"
        )
    if matched is None and not insert and not_matched_by_source is None:
        raise ValueError("merge_delta: no clauses — nothing to do")
    snap = _snapshot_state(table_path)
    part_cols = snap.part_cols
    # identity columns (GENERATED ALWAYS AS IDENTITY): the source must
    # not provide them, the UPDATE branch keeps the target's values, and
    # the INSERT branch allocates above the committed high-water mark
    # (the bumped mark commits atomically with the rows)
    idcols = identity_columns_of(snap.schema_json)
    for col in idcols:
        if col in source.columns:
            raise ValueError(
                f"merge_delta: identity column '{col}' is GENERATED "
                "ALWAYS — the MERGE source cannot provide it "
                "(allowExplicitInsert is false)"
            )
    if key in idcols:
        raise ValueError(
            "merge_delta: the merge key cannot be an identity column — "
            "the source cannot carry GENERATED ALWAYS values to match on"
        )
    if key in part_cols:
        raise ValueError(
            "merge_delta: the merge key cannot be a partition column — "
            "keys are matched inside data files, and partition columns "
            "live only in the log"
        )
    if not_matched_by_source_set:
        if key in not_matched_by_source_set:
            raise ValueError(
                "merge_delta: not_matched_by_source_set cannot assign "
                f"'{key}' (merge key / identity columns never change)"
            )
        _check_assignments(
            snap,
            not_matched_by_source_set,
            "merge_delta: not_matched_by_source_set",
        )
    if not_matched_by_source_condition is not None:
        _guard_partition_columns(not_matched_by_source_condition, part_cols)
    # GENERATED columns the source omits are never read from it: the
    # rewrite recomputes them anyway, so a source that provides only the
    # key (the NMBS-only shape) or only the generating columns works
    gen = generated_columns_of(snap.schema_json)
    absent_gen = {c for c in gen if c not in source.columns}
    data_cols = deltalite._data_schema(snap, physical=False).fieldNames()
    # the target columns a matched UPDATE SET * takes from the source
    src_cols = [
        c
        for c in data_cols
        if c != key and c not in idcols and c not in absent_gen
    ]
    src = source.cache()
    try:
        # ONE job over the cached source serves both the ambiguity check
        # and the source count: max per-key cardinality > 1 ⇔ duplicate
        # keys, Σ = n_src.  groupBy buckets NULL keys together, so
        # duplicate NULL keys reject too.
        stats = (
            src.groupBy(key)
            .agg(F.count("*").alias("_c"))
            .agg(F.sum("_c").alias("n"), F.max("_c").alias("mx"))
            .first()
        )
        if int(stats.mx or 0) > 1:
            raise ValueError(
                "merge_delta: multiple source rows share a key — "
                "ambiguous MERGE (Delta rejects this too)"
            )
        n_src = int(stats.n or 0)  # == distinct keys (dupes rejected)
        # the source side of the join is broadcast only while it is
        # broadcast-sized (the common CDC-batch case); a big source
        # falls back to a plain join and AQE picks the strategy — a
        # forced broadcast of a huge source would OOM every executor
        bcast = F.broadcast if n_src <= 1_000_000 else (lambda df: df)
        marked = bcast(
            src.select(
                F.col(key),
                F.lit(1).alias("_dml_m"),
                *[F.col(c).alias(f"_dml_src_{c}") for c in src_cols],
                # the source's partition values, to route partition-
                # moving rows; GENERATED partition columns always
                # recompute from their expression over the source
                *[
                    (F.expr(gen[c]) if c in gen else F.col(c)).alias(
                        f"_dml_s_{c}"
                    )
                    for c in part_cols
                ],
            )
        )
        is_matched = F.col("_dml_m").isNotNull()
        cond = (
            F.expr(
                _translate_matched_condition(
                    matched_condition, key, set(src_cols)
                )
            )
            if matched_condition is not None
            else F.lit(True)
        )
        nmbs_cond = (
            F.expr(not_matched_by_source_condition)
            if not_matched_by_source_condition is not None
            else F.lit(True)
        )
        on_match = F.lit(matched or "keep")
        if matched == "update" and part_cols:
            # the source's partition tuple differs from the row's
            differs = reduce(
                operator.or_,
                [
                    ~F.col(f"_dml_s_{c}").eqNullSafe(F.col(c))
                    for c in part_cols
                ],
            )
            on_match = F.when(differs, "move").otherwise("update")
        action = (
            F.when(is_matched & F.coalesce(cond, F.lit(False)), on_match)
            .when(
                ~is_matched & F.coalesce(nmbs_cond, F.lit(False)),
                F.lit(not_matched_by_source or "keep"),
            )
            .otherwise("keep")
        )

        def classify(rows: DataFrame) -> DataFrame:
            return rows.join(marked, key, "left").withColumn(
                "_dml_action", action
            )

        # post-images: UPDATE SET * takes the source's values (key,
        # identity and omitted generated columns keep the target's) and
        # its partition values; NOT MATCHED BY SOURCE UPDATE evaluates
        # its assignments over the old row
        on_match_post: dict[str, Column] = {}
        if matched == "update":
            on_match_post = {c: F.col(f"_dml_src_{c}") for c in src_cols}
            on_match_post.update({c: F.col(f"_dml_s_{c}") for c in part_cols})
        on_miss_post = {
            c: F.expr(e) for c, e in (not_matched_by_source_set or {}).items()
        }
        post = on_match_post or on_miss_post
        if on_match_post and on_miss_post:
            post = {
                c: F.when(
                    is_matched, on_match_post.get(c, F.col(c))
                ).otherwise(on_miss_post.get(c, F.col(c)))
                for c in {**on_match_post, **on_miss_post}
            }

        census = _census(
            spark,
            table_path,
            snap,
            snap.adds if n_src or not_matched_by_source else {},
            classify,
            key,
            partition_values=matched == "update" and bool(part_cols),
        )

        # WHEN NOT MATCHED THEN INSERT *: source rows whose key no live
        # target row holds (only the matched files can hold one)
        n_inserted = n_src - census.keys if insert else 0
        inserts = None
        new_schema_json = None
        if n_inserted:
            inserts = src.select(
                *[
                    c
                    for c in data_cols
                    if c not in idcols and c not in absent_gen
                ],
                # generated partition columns compute in the hive-layout
                # write — never required of the source
                *[c for c in part_cols if c not in gen],
            )
            if census.matched:
                target_keys = _read_files(
                    spark, table_path, _adds(snap, census.matched), snap
                ).select(key)
                inserts = inserts.join(target_keys, key, "left_anti")
            if idcols:
                inserts, new_schema_json = allocate_identity(
                    inserts, snap.schema_json
                )

        out = _rewrite_commit(
            spark,
            table_path,
            snap,
            census,
            classify,
            post,
            "MERGE",
            inserts,
            new_schema_json,
        )
        out["rows_matched"] = census.n(matched=True)
        out["rows_inserted"] = n_inserted
        out["rows_moved"] = census.n("move")
        if matched == "update":
            out["rows_updated"] = census.n("update", "move", matched=True)
        elif matched == "delete":
            out["rows_deleted"] = census.n("delete", matched=True)
        if not_matched_by_source == "delete":
            out["rows_deleted_by_source"] = census.n("delete", matched=False)
        elif not_matched_by_source == "update":
            out["rows_updated_by_source"] = census.n("update", matched=False)
        return out
    finally:
        src.unpersist()


from pyspark_anomaly_detection_spark.registry import register  # noqa: E402


@register(
    "q220_deltalite_dml_census",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice + CASE WHEN o_orderkey % 5 = 0
                                             THEN 1.0 ELSE 0.0 END
                         AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 7 <> 0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q220_deltalite_dml_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DML lifecycle on a deltalite table: orders lands in
    three append commits, a DELETE removes every 7th order key, an
    UPDATE bumps every 5th key's total price by 1.0 — both as
    copy-on-write rewrites of only the touched files — and the final
    snapshot is censused per priority.  The oracle applies the same
    delete predicate and CASE-expressed update straight to orders with
    exact-decimal aggregation, so a green hash proves the rewrites
    removed exactly the right rows, mutated exactly the right rows, and
    disturbed nothing else."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.deltalite import (
        read_delta,
        write_delta,
    )
    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_dml_")
    table = os.path.join(base, "orders_t")
    try:
        for third in (0, 1, 2):
            write_delta(
                orders.filter(F.col("o_orderkey") % 3 == third),
                table,
                mode="append",
            )
        delete_delta(spark, table, "o_orderkey % 7 = 0")
        update_delta(
            spark,
            table,
            "o_orderkey % 5 = 0",
            {"o_totalprice": "o_totalprice + 1.0"},
        )
        result = (
            read_delta(spark, table)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("o_orderpriority")
        )
        return detach_local(result)  # ≤5 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q233_deltalite_merge_clauses",
    # Final price per key is CLOSED-FORM in the key (see the lifecycle in
    # the docstring): %3==0 rows keep base price +50 only when the
    # conditional update's freshness guard passes (%5==0); even non-%3
    # keys arrive via the insert-only merge at base+1000 and are never
    # "fresher" than that afterwards; odd non-%3 keys arrive via the
    # conditional-update merge's insert branch at base±50; the final
    # conditional DELETE removes exactly the odd %7 keys.
    oracle="""
    WITH f AS (
      SELECT o_orderkey AS k, o_orderpriority AS pr,
        CASE WHEN o_orderkey % 3 = 0 THEN
               o_totalprice + CASE WHEN o_orderkey % 5 = 0
                                   THEN 50.0 ELSE 0.0 END
             WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0
             ELSE o_totalprice + CASE WHEN o_orderkey % 5 = 0
                                      THEN 50.0 ELSE -50.0 END
        END AS price
      FROM orders
      WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 2 = 1)
    )
    SELECT pr AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
    FROM f GROUP BY pr ORDER BY pr
    """,
)
def q233_deltalite_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE clause-matrix lifecycle (round 12): orders lands through
    three differently-shaped MERGEs —

    1. table created with the %3==0 keys at base price;
    2. INSERT-ONLY merge (``matched=None``): source = even keys at
       base+1000 — existing %6==0 rows untouched, new even keys append;
    3. CONDITIONAL-UPDATE merge (``src.o_totalprice > o_totalprice``):
       source = ALL keys at base + (50 if %5==0 else −50) — only +50
       sources beat a base-priced row, nothing beats base+1000, and the
       insert branch lands the remaining odd keys;
    4. CONDITIONAL-DELETE merge (``matched='delete'``, ``insert=False``):
       source = %7 keys, condition ``src.o_orderkey % 2 = 1`` — exactly
       the odd %7 keys vanish.

    The census hash-checks the closed-form outcome per priority, proving
    every clause (gated update, gated delete, insert-only, no-insert)
    touched exactly the rows Delta's MERGE semantics dictate."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.deltalite import (
        read_delta,
        write_delta,
    )
    from pyspark_anomaly_detection_spark.io.detach import detach_local
    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_merge_")
    table = os.path.join(base, "orders_t")
    try:
        write_delta(orders.filter(F.col("o_orderkey") % 3 == 0), table)
        merge_delta(
            spark,
            table,
            orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + 1000.0
            ),
            key="o_orderkey",
            matched=None,
        )
        merge_delta(
            spark,
            table,
            orders.withColumn(
                "o_totalprice",
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % 5 == 0, 50.0).otherwise(-50.0),
            ),
            key="o_orderkey",
            matched_condition="src.o_totalprice > o_totalprice",
        )
        merge_delta(
            spark,
            table,
            orders.filter(F.col("o_orderkey") % 7 == 0),
            key="o_orderkey",
            matched="delete",
            matched_condition="src.o_orderkey % 2 = 1",
            insert=False,
        )
        result = (
            read_delta(spark, table)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("o_orderpriority")
        )
        return detach_local(result)  # ≤5 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q234_deltalite_merge_sync",
    # After a full snapshot-sync MERGE (update + insert + delete-by-
    # source) the table EQUALS the source BY CONSTRUCTION, so the oracle
    # is simply the source's census: the divergences planted in the
    # target (missing %5==4 keys, +7.0-stale %3==0 prices, %7==0 rows
    # absent from the source) must all have been repaired — a hash
    # match proves every clause fired on exactly the right rows.
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderkey % 7 <> 0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q234_deltalite_merge_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full snapshot-sync MERGE (round 13 — WHEN NOT MATCHED BY SOURCE):
    the target starts divergent from the current snapshot in all three
    ways a replica drifts — stale values (%3==0 prices +7.0), missing
    rows (%5==4 keys never loaded), and rows deleted upstream (%7==0
    keys, absent from the source).  ONE merge with
    ``not_matched_by_source='delete'`` repairs all three: matched rows
    take source values, unmatched source rows insert, target rows gone
    from the source delete.  The census then hash-checks that the table
    EQUALS the source."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.deltalite import (
        read_delta,
        write_delta,
    )
    from pyspark_anomaly_detection_spark.io.detach import detach_local
    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_sync_")
    table = os.path.join(base, "orders_t")
    try:
        # the drifted replica
        write_delta(
            orders.filter(F.col("o_orderkey") % 5 != 4).withColumn(
                "o_totalprice",
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % 3 == 0, 7.0).otherwise(0.0),
            ),
            table,
        )
        # the current snapshot
        merge_delta(
            spark,
            table,
            orders.filter(F.col("o_orderkey") % 7 != 0),
            key="o_orderkey",
            not_matched_by_source="delete",
        )
        result = (
            read_delta(spark, table)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("o_orderpriority")
        )
        return detach_local(result)  # ≤5 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q239_deltalite_cdf_dml_census",
    # Per-commit, per-change-type census of the ROW-LEVEL feed.  Each
    # leg's row set and prices are closed-form in the key: v2 deletes
    # the %7 keys at base price; v3 updates the live %5 keys (preimage
    # base, postimage base+1); v4's merge matches live %11 keys (their
    # preimage includes v3's +1 when %5 too — proving the feed reflects
    # the table state BETWEEN commits) and re-inserts the %77 keys the
    # delete removed, all at base+100.
    oracle="""
    WITH t AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders)
    SELECT 2 AS commit_version, 'delete' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(p AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
    FROM t WHERE k % 7 = 0
    UNION ALL
    SELECT 3, 'update_preimage', CAST(COUNT(*) AS BIGINT),
           CAST(CAST(SUM(CAST(p AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
    FROM t WHERE k % 5 = 0 AND k % 7 <> 0
    UNION ALL
    SELECT 3, 'update_postimage', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(p + 1.0 AS DECIMAL(18,2))) AS DOUBLE)
    FROM t WHERE k % 5 = 0 AND k % 7 <> 0
    UNION ALL
    SELECT 4, 'insert', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(p + 100.0 AS DECIMAL(18,2))) AS DOUBLE)
    FROM t WHERE k % 11 = 0 AND k % 7 = 0
    UNION ALL
    SELECT 4, 'update_preimage', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(p + CASE WHEN k % 5 = 0 THEN 1.0 ELSE 0.0 END
                          AS DECIMAL(18,2))) AS DOUBLE)
    FROM t WHERE k % 11 = 0 AND k % 7 <> 0
    UNION ALL
    SELECT 4, 'update_postimage', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(p + 100.0 AS DECIMAL(18,2))) AS DOUBLE)
    FROM t WHERE k % 11 = 0 AND k % 7 <> 0
    ORDER BY commit_version, change_type
    """,
)
def q239_deltalite_cdf_dml_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-level change data feed for copy-on-write DML (round 14 —
    verdict r13 item 3): orders lands with
    ``delta.enableChangeDataFeed=true``, a DELETE removes the %7 keys,
    an UPDATE bumps the %5 keys' price by 1.0, and a MERGE upserts the
    %11 keys at base+100 — each rewrite writing spec-shaped
    ``_change_data`` files + ``cdc`` actions.  The feed census proves
    every commit reports EXACTLY its changed rows (preimage/postimage
    pairs for updates, never file-level delete+insert storms) and that
    v4's preimages reflect v3's update — the feed is consistent with
    the table's state between commits."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.deltalite import (
        read_delta_changes,
        set_table_properties,
        write_delta,
    )

    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("p"),
    )
    base = tempfile.mkdtemp(prefix="deltalite_cdf_dml_")
    table = os.path.join(base, "orders_t")
    try:
        write_delta(orders, table)
        set_table_properties(
            table, {"delta.enableChangeDataFeed": "true"}
        )
        delete_delta(spark, table, "k % 7 = 0")
        update_delta(spark, table, "k % 5 = 0", {"p": "p + 1.0"})
        merge_delta(
            spark,
            table,
            orders.filter(F.col("k") % 11 == 0).withColumn(
                "p", F.col("p") + 100.0
            ),
            key="k",
        )
        feed = read_delta_changes(spark, table, from_version=1)
        result = (
            feed.groupBy(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("p").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("commit_version", "change_type")
        )
        return detach_local(result)  # 6 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)
