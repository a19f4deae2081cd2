"""The driver-contract surface itself: __spark_entry__.py must load as a
standalone module (the way the harness imports it), expose the three
functions, and keep queries()/oracle_sql() consistent."""

from __future__ import annotations

import importlib.util
import os


def _load_entry_module():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_module_contract(spark):
    mod = _load_entry_module()
    queries = mod.queries()
    oracles = mod.oracle_sql()

    assert len(queries) >= 136
    # every oracle belongs to a registered query, and none is empty
    assert set(oracles) <= set(queries)
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
    # names follow the qNN_ convention the driver reports on
    assert all(name.startswith("q") for name in queries)

    # entry() runs the flagship on sf0.001 and yields rows with a stable schema
    df = mod.entry(spark)
    assert df.schema.fieldNames() == [
        "split",
        "n_docs",
        "n_packs",
        "total_tokens",
        "first_doc",
    ]
    assert df.count() > 0


def test_workers_import_the_package_from_this_checkout(spark):
    """The session puts the checkout that holds the package first on the
    Python workers' path, so a driver started from any working directory
    runs the package's Python stages."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert path.split(os.pathsep)[0] == root
