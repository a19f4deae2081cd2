"""Detach a small result DataFrame from its (temporary) source.

Several registry queries materialize a tiny aggregate that was computed
over a throwaway on-disk fixture (a temp Delta table, a gzipped JSONL
dir, a streaming sink) and must survive the fixture's ``shutil.rmtree``.

The round-9 driver run showed the obvious rebuild —
``createDataFrame(result.toPandas(), schema)`` — is environment-dependent:
``toPandas()`` renders NULL BIGINTs as float NaN, and in a session
*without* ``spark.sql.execution.arrow.pyspark.enabled`` the rebuild takes
the row-verifier path and raises ``FIELD_DATA_TYPE_UNACCEPTABLE``
(CORRECTNESS_r09.json, q216).  The other obvious rebuild —
``createDataFrame(result.collect(), schema)`` — handles NULLs but plans
as ``applySchemaToPythonRDD`` (a Python scan), violating the repo's
no-Python-eval contract for oracle queries (tests/test_plans.py).

``detach_local`` threads the needle with Arrow RecordBatches: collect the
result as Arrow (works regardless of the arrow.pyspark conf) and rebuild
via ``createDataFrame(pyarrow.Table, schema)``, which Spark 4 plans as a
JVM ``LocalTableScan`` in BOTH Arrow and non-Arrow sessions and which
preserves NULLs of every type exactly.
"""

from __future__ import annotations

from typing import Any, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame


def detach_local(result: DataFrame) -> DataFrame:
    """Materialize ``result`` (assumed driver-small) as a local relation
    detached from its source files.

    Safe for NULLs of any type and for empty results; plans as a JVM
    ``LocalTableScan`` in Arrow and non-Arrow sessions alike.
    """
    spark = result.sparkSession
    batches = result._collect_as_arrow()  # conf-independent Arrow collect
    if batches:
        table = pa.Table.from_batches(batches)
    else:
        from pyspark.sql.pandas.types import to_arrow_schema

        table = to_arrow_schema(result.schema).empty_table()
    return spark.createDataFrame(table, result.schema)


def local_rows_df(spark, rows: Sequence[tuple], schema) -> DataFrame:
    """Build a small DataFrame from driver-local row tuples as a JVM
    ``LocalTableScan`` — never a Python-RDD scan.

    ``spark.createDataFrame(list_of_tuples, ...)`` plans as
    ``applySchemaToPythonRDD``: EVERY downstream action pays a Python
    worker round trip to re-evaluate the 3-row relation (measured 4-6 s
    per action under load — r17: this dominated the q205/q206 streaming
    replays, whose per-batch fixture write cost ~5 s against a ~1 s
    streaming run).  Routing the same tuples through a pyarrow Table
    (exactly ``detach_local``'s rebuild path) plans a JVM local relation
    in Arrow and non-Arrow sessions alike, NULL-exact, no Python eval.

    ``schema`` is a DDL string or StructType.  Values must already match
    the declared types (the same contract the tuple form enforced).
    """
    return local_arrow_df(spark, list(zip(*rows)) if rows else None, schema)


def local_arrow_df(
    spark, columns: "Sequence[Any] | None", schema
) -> DataFrame:
    """Columnar form of :func:`local_rows_df`: one value sequence per
    schema field — a Python sequence, a numpy array or a pyarrow Array —
    become a pyarrow Table and a JVM ``LocalTableScan``.  ``None``
    builds the empty relation.  Column builds stay vectorized, so a
    driver-side frame of millions of rows never materializes one Python
    tuple per row."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    arrow_schema = to_arrow_schema(st)
    if columns is None:
        table = arrow_schema.empty_table()
    else:
        table = pa.Table.from_arrays(
            [
                col.cast(field.type)
                if isinstance(col, pa.Array)
                else pa.array(col, type=field.type)
                for col, field in zip(columns, arrow_schema)
            ],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, st)
