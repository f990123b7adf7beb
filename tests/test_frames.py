"""Driver-built frames (functions/frames.py): a list of rows becomes a
``LocalTableScan``, never a Python-RDD scan whose every action starts
Python workers; and no operator, function or plan builds a frame from a
Python list any other way."""

import ast
import pathlib

import pytest

from tabbyld_spark.functions.frames import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "tabbyld_spark"
SCANNED = ("operators", "functions", "plans")
HELPER = pathlib.Path("functions") / "frames.py"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([("a", "b"), ("c", None)], "child string, parent string"),
        ([(1, 0.5), (None, None)], "bucket long, w double"),
        ([], "subj string, pred string, obj string"),
    ],
    ids=["strings", "numbers-and-nulls", "empty"],
)
def test_local_frame_plans_as_local_table_scan(spark, rows, ddl):
    df = local_frame(spark, rows, ddl)
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df.schema.simpleString() == spark.createDataFrame([], ddl).schema.simpleString()
    assert [tuple(r) for r in df.collect()] == rows


def test_no_create_data_frame_outside_the_helper():
    found = []
    for sub in SCANNED:
        for path in sorted((PACKAGE / sub).rglob("*.py")):
            if path.relative_to(PACKAGE) == HELPER:
                continue
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                if isinstance(node, ast.Attribute) and node.attr == "createDataFrame":
                    found.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert not found, found
