"""``util.local_frame`` — the one builder of DataFrames from driver-side
rows — and the rule that nothing in the package builds one another way."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql.types import DataType, LongType, StructField, StructType

from serverless_etl_bi_on_aws_spark.util import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "serverless_etl_bi_on_aws_spark"


@pytest.mark.parametrize(
    "schema, rows",
    [
        ("rank int, a string, b string", [(0, "t", "h"), (1, "th", "e")]),
        ("doc_id bigint", [(2**40,), (-10,)]),
        ("metric string, value bigint", [("corpus", 500), ("exact_pairs", 59)]),
        ("__blocked_dom string", [("example.com",), (None,)]),
        ("cluster int, centroid array<double>", [(0, [1.0, 2.5]), (1, [])]),
        # gazetteer's empty result and forget's empty id list
        ("doc_id bigint, term string, n_hits bigint", []),
        (StructType([StructField("doc_id", LongType())]), []),
    ],
)
def test_local_frame_schema_rows_and_plan(spark, schema, rows):
    df = local_frame(spark, rows, schema)
    want = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    assert df.schema == want
    assert [tuple(r) for r in df.collect()] == rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan


def test_no_create_dataframe_outside_local_frame():
    """Every ``createDataFrame`` call in the package is the one inside
    ``util.local_frame``: a frame built from a Python list is a Python RDD,
    whose every scan or broadcast starts Python workers."""
    sites = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                rel = path.relative_to(PACKAGE).as_posix()
                sites.append((rel, owner.get(node)))
    assert sites == [("util.py", "local_frame")]
