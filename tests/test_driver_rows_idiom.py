"""Driver-side rows become frames through ``session.local_frame`` (one
Arrow table, a ``LocalTableScan``), never ``createDataFrame(<list>)``: a
Python list becomes a Python RDD, and every consumer of it runs a stage of
``defaultParallelism`` Python tasks just to carry the rows.

Scope: the engine's ``plans``, ``operators`` and ``streaming`` packages.
The ``queries*.py`` registry modules live outside them on purpose; their
one-row result frames are left alone.
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "marie_icr_spark"
SCOPE = ("plans", "operators", "streaming")


def list_frame_calls(source: str) -> list[int]:
    """Line numbers of ``createDataFrame`` calls whose data (first
    positional or ``data=``) is a list display or list comprehension."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            continue
        data = node.args[:1] + [k.value for k in node.keywords if k.arg == "data"]
        if any(isinstance(d, (ast.List, ast.ListComp)) for d in data):
            lines.append(node.lineno)
    return lines


def test_detector_flags_list_literals_only():
    assert list_frame_calls("spark.createDataFrame([], schema)") == [1]
    assert list_frame_calls("s.createDataFrame([(1,)], 'a int')") == [1]
    assert list_frame_calls("s.createDataFrame(data=[(b,) for b in x])") == [1]
    assert list_frame_calls("s.createDataFrame(table, schema=schema)") == []
    assert list_frame_calls("local_frame(spark, [], schema)") == []


def test_engine_builds_no_frame_from_a_python_list():
    bad = [
        f"{path.relative_to(PKG.parent)}:{line}"
        for sub in SCOPE
        for path in sorted((PKG / sub).rglob("*.py"))
        for line in list_frame_calls(path.read_text())
    ]
    assert bad == [], "use session.local_frame for driver-side rows: " + ", ".join(bad)
