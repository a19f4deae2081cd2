"""Column mapping ('name' mode) for deltalite — protocol reader v2.

Delta's column mapping decouples LOGICAL column names from the PHYSICAL
names stored in parquet files (PROTOCOL.md "Column Mapping"): each
schema field carries ``delta.columnMapping.physicalName`` (and a stable
``delta.columnMapping.id``) in its metadata, data files use the
physical names, and readers translate back.  This is what makes RENAME
COLUMN a metadata-only operation and shields tables from engines'
name-normalization quirks.

deltalite implements the 'name' mode subset:

* :func:`write_delta_mapped` creates a mapped table (physical names are
  deterministic ``col-<md5(logical)[:8]>`` — content-addressed instead
  of real Delta's uuids so tests and oracles are reproducible; the
  protocol allows any unique physical name) and appends to one by
  translating logical → physical before the write;
* ``read_delta`` (via ``_read_adds``) detects the mapping in the
  committed schema's field metadata and renames physical → logical
  after the scan — time travel included;
* :func:`rename_column_mapped` — the showcase metadata-only rename: a
  new metaData action rebinds a logical name to the SAME physical name;
  zero data files touched, old versions still read under the old name;
* :func:`drop_column_mapped` / :func:`add_column_mapped` (round 13) —
  metadata-only DROP/ADD COLUMN: dropped physical columns stay in old
  files but prune away on read (OPTIMIZE doubles as REORG PURGE);
  re-adding a dropped logical name allocates a FRESH physical name and
  the next column id, so old data can never resurrect;
* copy-on-write DML (DELETE / UPDATE / MERGE), OPTIMIZE (plain and
  ZORDER), stats backfill, and stats-pruned reads are TAUGHT the
  translation (verdict r10 item 2): file reads go physical-schema →
  rename-to-logical, predicates/assignments operate on logical names,
  writes rename logical → physical, and ``add.stats`` key PHYSICAL
  names per the protocol's column-mapping rule;
* the change feed (batch ``read_delta_changes``) and the streaming
  source are ALSO mapping-aware (r11): per-file reads translate
  physical → logical (batch frames the range in the tip's logical
  names; the stream binds its schema at start and FAILS LOUD on a
  mid-stream rename, real Delta's non-additive schema-change
  contract);
* deletion vectors compose with column mapping too (r11): DV deletes
  bind logical predicates through the physical schema, reads subtract
  bitmaps in physical space then rename, and REORG PURGE rewrites
  files physical-to-physical;
* partitioned layouts compose as of round 14 (the last CM edge):
  hive partition directories and ``add.partitionValues`` keys use
  PHYSICAL names — the protocol's 'track partition values with the
  physical name' rule — while ``metaData.partitionColumns`` stays
  logical; write/append, log-level pruning, COW DML, MERGE inserts,
  per-group OPTIMIZE, DV deletes and partition-column RENAME all
  translate (q238's oracle-hashed lifecycle).

Protocol: commit 0 writes ``minReaderVersion 2 / minWriterVersion 5``
(column mapping is exactly the reader-v2 feature set) and the
``delta.columnMapping.mode=name`` table configuration.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (parity with siblings)

from pyspark_anomaly_detection_spark.io import deltalite


def physical_name(logical: str) -> str:
    return "col-" + hashlib.md5(logical.encode()).hexdigest()[:8]


def _mapped_schema_json(df: DataFrame) -> str:
    import json

    fields = []
    for i, f in enumerate(df.schema.fields):
        fd = {
            "name": f.name,
            "type": json.loads(f.dataType.json())
            if f.dataType.typeName() in ("struct", "array", "map")
            else f.dataType.typeName(),
            "nullable": f.nullable,
            "metadata": {
                "delta.columnMapping.id": i + 1,
                "delta.columnMapping.physicalName": physical_name(f.name),
            },
        }
        fields.append(fd)
    return json.dumps({"type": "struct", "fields": fields})


def write_delta_mapped(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: "list[str] | None" = None,
) -> int:
    """Create or append to a column-mapped deltalite table.  The frame
    carries LOGICAL names; data files land with physical names.

    ``partition_by`` (commit 0 only, round 14 — the last CM composition
    edge): hive layout under PHYSICAL partition-directory names, with
    ``add.partitionValues`` keyed physically per the protocol's
    column-mapping rule and ``metaData.partitionColumns`` logical."""
    import json

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite: {mode}")
    versions = deltalite._list_versions(table_path)
    version = (versions[-1] + 1) if versions else 0
    actions: list[dict[str, Any]] = []
    snap = None
    if version == 0:
        part_cols = list(partition_by or [])
        for c in part_cols:
            if c not in [f.name for f in df.schema.fields]:
                raise ValueError(
                    f"write_delta_mapped: partition column '{c}' not in "
                    "the frame"
                )
        schema_json = _mapped_schema_json(df)
        actions.append(
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
        )
        actions.append(
            {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_json,
                    "partitionColumns": part_cols,
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": str(
                            len(df.schema.fields)
                        ),
                    },
                    "createdTime": 0,
                }
            }
        )
        mapping = {f.name: physical_name(f.name) for f in df.schema.fields}
    else:
        snap = deltalite._snapshot_state(table_path)
        committed = json.loads(snap.schema_json)["fields"]
        mapping = {
            f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
            for f in committed
        }
        if partition_by is not None and list(partition_by) != snap.part_cols:
            raise ValueError(
                f"write_delta_mapped: partition_by {partition_by} "
                f"conflicts with the committed layout {snap.part_cols}"
            )
        part_cols = snap.part_cols
        if [f.name for f in df.schema.fields] != [
            f["name"] for f in committed
        ]:
            raise ValueError(
                "write_delta_mapped: frame schema must match the committed "
                "logical schema exactly (mergeSchema on mapped tables is "
                "not supported)"
            )
        if mode == "overwrite":
            for path in sorted(snap.adds):
                actions.append(
                    {"remove": {"path": path, "dataChange": True}}
                )

    adds = deltalite._stage(
        table_path,
        deltalite._commit_dir(version),
        df,
        mapping=mapping,
        part_cols=part_cols,
    )
    # CHECK constraints (stored and evaluated in LOGICAL names) enforce
    # on the STAGED files, like every deltalite writer: checking the
    # input frame would admit nondeterministic inputs (rand()/UDF
    # columns re-evaluate between the check and the write)
    if snap is not None:
        deltalite._enforce_staged(
            df.sparkSession, table_path, adds, snap, "write_delta_mapped"
        )
    actions.extend(adds)
    actions.append(
        {
            "commitInfo": {
                "operation": "WRITE" if mode == "append" else "OVERWRITE",
                "engineInfo": "deltalite-cm",
            }
        }
    )
    os.makedirs(os.path.join(table_path, deltalite._LOG_DIR), exist_ok=True)
    return deltalite._commit_with_retry(table_path, version, actions)


def rename_column_mapped(
    table_path: str, old: str, new: str
) -> int:
    """RENAME COLUMN as metadata-only commit: rebind ``old``'s logical
    name to ``new`` keeping the SAME physical name and column id —
    zero data files touched; time travel before the rename still reads
    the old name."""
    import json

    snap = deltalite._snapshot_state(table_path)
    if snap.meta is None or (
        snap.meta.get("configuration", {}).get("delta.columnMapping.mode")
        != "name"
    ):
        raise ValueError(
            "rename_column_mapped requires a column-mapped table"
        )
    schema = json.loads(snap.schema_json)
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(f"no such column: {old}")
    if new in names:
        raise ValueError(f"column already exists: {new}")
    # a CHECK constraint / generated column stores the predicate in
    # LOGICAL names — renaming a referenced column would silently break
    # it (Delta refuses this too)
    import re

    from pyspark_anomaly_detection_spark.io.deltalite_constraints import (
        check_constraints_of,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_generated import (
        generated_columns_of,
    )

    referencing = {
        **check_constraints_of(snap.meta),
        **generated_columns_of(snap.schema_json),
    }
    for owner, expr in referencing.items():
        if re.search(rf"\b{re.escape(old)}\b", expr):
            raise ValueError(
                f"cannot rename column '{old}': referenced by "
                f"constraint/generated column '{owner}' ({expr}) — "
                "drop the constraint first"
            )
    for f in schema["fields"]:
        if f["name"] == old:
            f["name"] = new
    meta = dict(snap.meta)
    meta["schemaString"] = json.dumps(schema)
    # partitionColumns track LOGICAL names (round 14: renaming a
    # partition column must rebind the layout metadata too — the hive
    # dirs and partitionValues stay put under the physical name)
    if old in (snap.part_cols or []):
        meta["partitionColumns"] = [
            new if c == old else c for c in snap.part_cols
        ]
    actions = [
        {"metaData": meta},
        {
            "commitInfo": {
                "operation": "RENAME COLUMN",
                "engineInfo": "deltalite-cm",
            }
        },
    ]
    return deltalite._commit_with_retry(
        table_path, snap.version + 1, actions
    )


def drop_column_mapped(table_path: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN as a metadata-only commit (round 13):
    remove the field from the committed schema — zero data files
    touched; the physical column stays in existing parquet files and
    every reader ignores it (the mapped read path builds its read
    schema from the COMMITTED fields only, so extra physical columns
    prune away).  Time travel before the drop still reads the column.
    ``optimize_delta`` doubles as REORG PURGE: a compaction rewrites
    files through the committed schema, physically shedding dropped
    columns.

    Guards (Delta's rules): mapped table only; the column must exist,
    must not be the last column, must not be referenced by a CHECK
    constraint or a generated-column expression."""
    import json
    import re

    snap = deltalite._snapshot_state(table_path)
    if snap.meta is None or (
        snap.meta.get("configuration", {}).get("delta.columnMapping.mode")
        != "name"
    ):
        raise ValueError("drop_column_mapped requires a column-mapped table")
    schema = json.loads(snap.schema_json)
    names = [f["name"] for f in schema["fields"]]
    if name not in names:
        raise ValueError(f"no such column: {name}")
    if len(names) == 1:
        raise ValueError("cannot drop the last column")
    if name in (snap.part_cols or []):
        raise ValueError(f"cannot drop partition column: {name}")
    from pyspark_anomaly_detection_spark.io.deltalite_constraints import (
        check_constraints_of,
    )
    from pyspark_anomaly_detection_spark.io.deltalite_generated import (
        generated_columns_of,
    )

    referencing = {
        **check_constraints_of(snap.meta),
        **generated_columns_of(snap.schema_json),
    }
    for owner, expr in referencing.items():
        if re.search(rf"\b{re.escape(name)}\b", expr):
            raise ValueError(
                f"cannot drop column '{name}': referenced by "
                f"constraint/generated column '{owner}' ({expr})"
            )
    schema["fields"] = [f for f in schema["fields"] if f["name"] != name]
    meta = dict(snap.meta)
    meta["schemaString"] = json.dumps(schema)
    actions = [
        {"metaData": meta},
        {
            "commitInfo": {
                "operation": "DROP COLUMNS",
                "engineInfo": "deltalite-cm",
            }
        },
    ]
    return deltalite._commit_with_retry(table_path, snap.version + 1, actions)


def add_column_mapped(table_path: str, name: str, sql_type: str) -> int:
    """ALTER TABLE ADD COLUMN as a metadata-only commit: append a
    nullable field with a FRESH physical name (uuid) and the next
    column id (``maxColumnId`` bumps in the same commit).  Existing
    files lack the new physical column, so old rows read as NULL — and
    because the physical name is fresh, re-adding a previously DROPPED
    logical name can never resurrect the old data (the reason real
    Delta requires column mapping for drop/re-add)."""
    import json

    snap = deltalite._snapshot_state(table_path)
    if snap.meta is None or (
        snap.meta.get("configuration", {}).get("delta.columnMapping.mode")
        != "name"
    ):
        raise ValueError("add_column_mapped requires a column-mapped table")
    schema = json.loads(snap.schema_json)
    if name in [f["name"] for f in schema["fields"]]:
        raise ValueError(f"column already exists: {name}")
    conf = dict(snap.meta.get("configuration") or {})
    next_id = int(conf.get("delta.columnMapping.maxColumnId", "0")) + 1
    schema["fields"].append(
        {
            "name": name,
            "type": sql_type,
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": next_id,
                "delta.columnMapping.physicalName": "col-"
                + uuid.uuid4().hex[:16],
            },
        }
    )
    conf["delta.columnMapping.maxColumnId"] = str(next_id)
    meta = dict(snap.meta)
    meta["schemaString"] = json.dumps(schema)
    meta["configuration"] = conf
    actions = [
        {"metaData": meta},
        {
            "commitInfo": {
                "operation": "ADD COLUMNS",
                "engineInfo": "deltalite-cm",
            }
        },
    ]
    return deltalite._commit_with_retry(table_path, snap.version + 1, actions)


from pyspark_anomaly_detection_spark.registry import register  # noqa: E402


@register(
    "q226_deltalite_cm_dml_census",
    # Same detached-Arrow return shape as q220/q224 (JVM-only plan on the
    # returned frame).  The oracle applies the rename, delete predicate
    # and CASE-expressed update straight to orders: a green hash proves
    # the physical-name translation is lossless through DML rewrites, a
    # metadata-only RENAME, and an OPTIMIZE compaction.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice + CASE WHEN o_orderkey % 5 = 0
                                             THEN 1.0 ELSE 0.0 END
                         AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey % 7 <> 0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q226_deltalite_cm_dml_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Column-mapping lifecycle with row-level DML (verdict r10 item 2):
    orders lands in two MAPPED appends (data files carry physical
    names), a metadata-only RENAME rebinds o_totalprice → price, a
    copy-on-write DELETE removes every 7th key and an UPDATE bumps every
    5th key's price — both with LOGICAL-name predicates translated to
    the physical files — then OPTIMIZE compacts the rewrites and the
    final snapshot is censused per priority."""
    import os
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.deltalite import optimize_delta
    from pyspark_anomaly_detection_spark.io.deltalite_dml import (
        delete_delta,
        update_delta,
    )
    from pyspark_anomaly_detection_spark.io.detach import detach_local
    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_cm_dml_")
    table = os.path.join(base, "orders_t")
    try:
        for half in (0, 1):
            write_delta_mapped(
                orders.filter(F.col("o_orderkey") % 2 == half),
                table,
                mode="append",
            )
        rename_column_mapped(table, "o_totalprice", "price")
        delete_delta(spark, table, "o_orderkey % 7 = 0")
        update_delta(
            spark, table, "o_orderkey % 5 = 0", {"price": "price + 1.0"}
        )
        optimize_delta(spark, table)
        result = (
            deltalite.read_delta(spark, table)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("price").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .orderBy("o_orderpriority")
        )
        return detach_local(result)  # ≤5 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q235_deltalite_cm_schema_evolution",
    # Closed-form no-resurrection oracle: after RENAME → DROP → re-ADD
    # (fresh physical name) → append, every pre-drop row's price is NULL
    # (the old physical column is invisible to the new field) and only
    # the appended %3==0 rows carry values — expressed in SQL as a UNION
    # of the null-priced original corpus and the priced append.
    oracle="""
    WITH t AS (
      SELECT o_orderpriority, CAST(NULL AS DOUBLE) AS price FROM orders
      UNION ALL
      SELECT o_orderpriority, o_totalprice FROM orders
      WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(price) AS BIGINT) AS n_priced,
           CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total
    FROM t GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q235_deltalite_cm_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Column-mapping schema-evolution lifecycle (round 13): orders
    lands mapped, a metadata-only RENAME rebinds o_totalprice → price,
    DROP COLUMN removes it (zero files touched), ADD COLUMN re-creates
    the same logical name with a FRESH physical name, and an append
    supplies prices for the %3==0 keys.  The census hash-checks Delta's
    no-resurrection contract cross-engine: every pre-drop row reads
    price NULL (the old physical column is unreachable under the new
    field id), only appended rows carry values."""
    import os
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.detach import detach_local
    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_cm_evo_")
    table = os.path.join(base, "orders_t")
    try:
        write_delta_mapped(orders, table)
        rename_column_mapped(table, "o_totalprice", "price")
        drop_column_mapped(table, "price")
        add_column_mapped(table, "price", "double")
        write_delta_mapped(
            orders.filter(F.col("o_orderkey") % 3 == 0).select(
                "o_orderkey",
                "o_orderpriority",
                F.col("o_totalprice").alias("price"),
            ),
            table,
            mode="append",
        )
        result = (
            deltalite.read_delta(spark, table)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.count("price").alias("n_priced"),
                F.sum(F.col("price").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
            .orderBy("o_orderpriority")
        )
        return detach_local(result)  # ≤5 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "q238_deltalite_cm_partitioned",
    # Same detached-Arrow shape as q226/q236.  The oracle applies the
    # rename, the delete predicate, the CASE-expressed update and the
    # partition-pruning WHERE straight to orders: a green hash proves
    # the physical partition-dir/partitionValues translation is
    # lossless through appends, DML rewrites, a partition-column
    # RENAME, and log-level pruning — grouping BY the (renamed)
    # partition column itself so a NULL-partition bug cannot hash-match.
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice + CASE WHEN o_orderkey % 5 = 0
                                             THEN 1.0 ELSE 0.0 END
                         AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey % 7 <> 0 AND o_orderpriority >= '3'
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
)
def q238_deltalite_cm_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Column mapping × partitioned tables (round 14 — the last CM
    composition edge, verdict r13 item 2): orders lands in two MAPPED
    hive-partitioned appends (physical partition-dir names, physically
    keyed partitionValues), a copy-on-write DELETE removes every 7th
    key and an UPDATE bumps every 5th key's price — logical predicates
    translated through the physical files per partition group — then a
    metadata-only RENAME rebinds the partition column
    o_orderpriority → priority and the census reads back through a
    log-level PARTITION-PRUNED read (priorities ≥ '3')."""
    import shutil
    import tempfile

    from pyspark_anomaly_detection_spark.io.deltalite_dml import (
        delete_delta,
        update_delta,
    )
    from pyspark_anomaly_detection_spark.io.detach import detach_local
    from pyspark_anomaly_detection_spark.io.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="deltalite_cm_part_")
    table = os.path.join(base, "orders_t")
    try:
        for half in (0, 1):
            write_delta_mapped(
                orders.filter(F.col("o_orderkey") % 2 == half),
                table,
                mode="append",
                partition_by=["o_orderpriority"] if half == 0 else None,
            )
        delete_delta(spark, table, "o_orderkey % 7 = 0")
        update_delta(
            spark,
            table,
            "o_orderkey % 5 = 0",
            {"o_totalprice": "o_totalprice + 1.0"},
        )
        rename_column_mapped(table, "o_orderpriority", "priority")
        pruned = deltalite.read_delta(spark, table).filter(
            F.col("priority") >= "3"
        )
        result = (
            pruned.groupBy("priority")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .orderBy("priority")
        )
        return detach_local(result)  # ≤3 rows; detach before rmtree
    finally:
        shutil.rmtree(base, ignore_errors=True)
