"""The Arrow row-kernel adapter ``plans.rows.map_rows``: every per-document
Python kernel crosses the JVM/Python boundary through it, and nothing else
in the package writes that boundary by hand."""

import ast
import pathlib

from modern_document_converter_for_ai_library_spark.plans.rows import (
    map_rows,
    struct_dicts,
)
from pyspark.sql import types as T

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "modern_document_converter_for_ai_library_spark"
)
# the adapter, and the k-means partial-sum generator (one output per
# partition, not per document)
BOUNDARY = {"plans/rows.py", "operators/topics.py"}

PAIR = T.StructType(
    [T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())]
)
OUT = T.StructType(
    [T.StructField("id", T.StringType()), T.StructField("n", T.IntegerType())]
)


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text(encoding="utf-8")


def _is_batch_generator(fn: ast.FunctionDef) -> bool:
    """The mapInPandas function shape: one argument, iterated by a ``for``
    loop, in a generator that yields ``pd.DataFrame(...)``. (The three
    arguments of ``applyInPandasWithState``'s state function are another
    contract.)"""
    args = fn.args.posonlyargs + fn.args.args
    if len(args) != 1 or fn.args.vararg:
        return False
    arg = args[0].arg
    body = list(ast.walk(fn))
    loops = any(
        isinstance(n, ast.For) and isinstance(n.iter, ast.Name) and n.iter.id == arg
        for n in body
    )
    yields_frame = any(
        isinstance(n, ast.Yield)
        and isinstance(n.value, ast.Call)
        and isinstance(n.value.func, ast.Attribute)
        and n.value.func.attr == "DataFrame"
        for n in body
    )
    return loops and yields_frame


def test_map_in_pandas_only_in_the_adapter():
    users = {name for name, src in _modules() if "mapInPandas(" in src}
    assert users <= BOUNDARY, sorted(users - BOUNDARY)


def test_no_batch_generators_outside_the_adapter():
    found = []
    for name, src in _modules():
        if name in BOUNDARY:
            continue
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and _is_batch_generator(node):
                found.append(f"{name}:{node.lineno} {node.name}")
    assert not found, found


def test_shape_detector_sees_the_adapter_and_topics():
    for name in BOUNDARY:
        tree = ast.parse((PKG / name).read_text(encoding="utf-8"))
        assert any(
            isinstance(n, ast.FunctionDef) and _is_batch_generator(n)
            for n in ast.walk(tree)
        ), name


def test_struct_dicts():
    assert struct_dicts(None, PAIR) == []
    assert struct_dicts([], PAIR) == []
    assert struct_dicts([{"k": "a", "v": 1}, ("b", 2)], PAIR) == [
        {"k": "a", "v": 1},
        {"k": "b", "v": 2},
    ]


def test_map_rows_one_to_many_and_names_the_kernel(spark):
    # defined here, not at module level: a nested function is pickled by
    # value, so the Python workers need not import this test module
    def _explode(id_, pairs):
        return [{"id": id_, "n": p["v"]} for p in struct_dicts(pairs, PAIR)]

    df = spark.createDataFrame(
        [("a", [("x", 1), ("y", 2)]), ("b", []), ("c", None), ("d", [("z", 3)])],
        T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("pairs", T.ArrayType(PAIR)),
            ]
        ),
    ).repartition(3)
    out = map_rows(df, _explode, OUT)
    assert out.schema == OUT
    assert sorted(map(tuple, out.collect())) == [("a", 1), ("a", 2), ("d", 3)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas _explode(" in plan


def test_map_rows_missing_keys_are_null_and_extra_keys_dropped(spark):
    df = spark.createDataFrame([("a",), ("b",)], "id string")

    def partial(id_):
        return ({"id": id_, "extra": 1} if id_ == "a" else {"id": id_, "n": 7},)

    got = sorted(map(tuple, map_rows(df, partial, OUT).collect()))
    assert got == [("a", None), ("b", 7)]
