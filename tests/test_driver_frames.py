"""Driver-built rows: the package makes every DataFrame of python rows with
``session.local_df``, which ships one Arrow table (a LocalTableScan, never a
PythonRDD that later actions re-run in python workers)."""

from __future__ import annotations

import ast
from pathlib import Path

import pandas as pd

from blazegraph_database_spark.session import local_df

PKG = Path(__file__).resolve().parents[1] / "blazegraph_database_spark"


def test_no_create_dataframe_outside_local_df():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                hits.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not hits, f"build driver rows with session.local_df: {hits}"


def test_local_df_keeps_nulls_and_arrays(spark, arrow_conf):
    rows = [("a", None, 3, ["x", None]), (None, 5, None, None)]
    df = local_df(spark, rows, "s string, n long, i int, tags array<string>")
    assert df.schema.simpleString() == "struct<s:string,n:bigint,i:int,tags:array<string>>"
    assert [tuple(r) for r in df.collect()] == rows


def test_local_df_pandas_nan_is_null(spark, arrow_conf):
    pdf = pd.DataFrame({"a": ["x", "y"], "b": [1.0, float("nan")]})
    df = local_df(spark, pdf, "node string, depth long")  # matched by position
    assert [tuple(r) for r in df.collect()] == [("x", 1), ("y", None)]


def test_local_df_zero_rows_typed(spark, arrow_conf):
    for rows in ([], pd.DataFrame({"a": [], "b": []})):
        df = local_df(spark, rows, "node string, rank double")
        assert df.collect() == []
        assert df.schema.simpleString() == "struct<node:string,rank:double>"


def test_local_df_zero_columns_keep_row_count(spark):
    # a VALUES block of UNDEF rows: solutions that bind nothing
    assert local_df(spark, [(), ()], "").collect() == [(), ()]
