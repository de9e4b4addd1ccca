"""The benchmark (``perfbench/``) imports engine names lazily inside its
workload methods, so a refactor that moves one only shows up as a failed
benchmark run. This test resolves every ``from marie_icr_spark... import``
in ``perfbench/`` against the current tree."""

import ast
import importlib
import pathlib

PERFBENCH = pathlib.Path(__file__).resolve().parent.parent / "perfbench"


def _engine_imports() -> set[tuple[str, str]]:
    found = set()
    for path in PERFBENCH.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.ImportFrom)
                and node.module
                and node.module.split(".")[0] == "marie_icr_spark"
            ):
                found |= {(node.module, a.name) for a in node.names}
    return found


def test_perfbench_engine_imports_resolve():
    found = _engine_imports()
    # the catalog names the commit workload drives must be among them
    assert {
        ("marie_icr_spark.plans.lineage", "SimulatedFailure"),
        ("marie_icr_spark.plans.manifest", "run_extraction_job_atomic"),
        ("marie_icr_spark.plans.manifest", "read_results"),
        ("marie_icr_spark.plans.manifest", "load_manifest"),
        ("marie_icr_spark.plans.manifest", "current_version"),
    } <= found
    missing = sorted(
        f"{mod}.{name}"
        for mod, name in found
        if not hasattr(importlib.import_module(mod), name)
    )
    assert not missing, missing
