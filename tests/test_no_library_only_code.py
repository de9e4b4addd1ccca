"""Every top-level definition in ``marie_icr_spark/`` is run by something
other than a test.

"Run" means reachable from the package's own non-definition statements
(module-level calls, ``if`` blocks, loops) or from any code in ``jobs/``,
``perfbench/``, ``tools/``, ``__spark_entry__.py`` and the root scripts. A
definition that only tests call is library-only code: delete it with its
tests. Reference code that a test checks a live path against stays only
when it is listed in ``REFERENCE`` with its reason.

The walk is by name: a use of ``x`` anywhere in reached code reaches every
top-level definition called ``x``, in any module. Only names and attribute
names are uses. An import is not a use by itself, but ``import x as y`` maps
a use of ``y`` to ``x``. Strings, docstrings included, are never uses.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "marie_icr_spark"
ENTRY_DIRS = ("jobs", "perfbench", "tools")

# module (relative to the package) . name -> why a test-only definition stays
REFERENCE = {
    "extractors.templatematch.meta_candidates": (
        "unpruned meta matcher; test_templatematch checks "
        "meta_candidates_pruned against it"
    ),
    "operators.dedup.embedding_near_dup_pairs_exact": (
        "O(n^2) all-pairs cross-check of embedding_near_dup_pairs "
        "(test_dedup_guards)"
    ),
    "sources.transcripts.synth_transcripts": (
        "seeded transcript synthesizer (and the _VOCAB/_rand_words/_messy_* "
        "helpers it reaches) behind the golden-equality, pin, catalog and "
        "streaming tests"
    ),
    "functions.columns.shingles": (
        "Column form that test_dedup_components checks the Arrow shingle "
        "UDF (dedup.shingle_sets) against"
    ),
    "functions.columns.ngrams": (
        "Column form that test_dedup_components checks the vectorized "
        "repetition counter (textstats._py_repetition_counts) against"
    ),
}


def _uses(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
    return out


def _bound(stmt: ast.stmt) -> list[str] | None:
    """Names a top-level definition binds; None for any other statement."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        if all(isinstance(t, (ast.Name, ast.Tuple)) for t in targets):
            return [n.id for t in targets for n in ast.walk(t)
                    if isinstance(n, ast.Name)]
    return None


def dead_definitions(
    package: dict[str, str], entry_sources: list[str], reference=()
) -> list[str]:
    """``module.name`` of each top-level definition in ``package`` (module
    name -> source) that neither the package's non-definition statements,
    nor ``entry_sources``, nor the ``reference`` names reach."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    aliases: dict[str, set[str]] = {}
    todo = {name.rpartition(".")[2] for name in reference}
    for module, source in package.items():
        for stmt in ast.parse(source).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for a in stmt.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(
                            a.name.rpartition(".")[2])
                continue
            if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
                continue  # docstring
            names = _bound(stmt)
            if names is None:
                todo |= _uses(stmt)
            for name in names or ():
                defs.setdefault(name, []).append((module, stmt))
    for source in entry_sources:
        todo |= _uses(ast.parse(source))
    live: set[str] = set()
    while todo:
        name = todo.pop()
        if name in live:
            continue
        live.add(name)
        todo |= aliases.get(name, set())
        for _, stmt in defs.get(name, ()):
            todo |= _uses(stmt) - live
    return sorted(
        f"{module}.{name}"
        for name, sites in defs.items() if name not in live
        for module, _ in sites
    )


def _repo_sources() -> tuple[dict[str, str], list[str]]:
    package = {
        ".".join(p.relative_to(PKG).with_suffix("").parts): p.read_text()
        for p in sorted(PKG.rglob("*.py"))
    }
    entries = sorted(ROOT.glob("*.py"))
    for d in ENTRY_DIRS:
        entries += sorted((ROOT / d).rglob("*.py"))
    return package, [p.read_text() for p in entries]


def test_detector_self_test():
    package = {
        "a": '''
"""Docstrings name no code: in_docstring."""
import os as o
from .b import helper as h

LIMIT = 3


def live():
    return h() + LIMIT


def reached_by_attr():
    return o.sep


def only_tested():
    return live()


def recursive_only():
    return recursive_only()


def in_docstring():
    pass


if o.sep:
    registered = reached_by_attr
''',
        "b": '''
def helper():
    return 1


def via_ref():
    return ref_helper()


def ref_helper():
    return 2
''',
    }
    entry = "from a import live\nlive()\n"
    assert dead_definitions(package, [entry]) == [
        "a.in_docstring", "a.only_tested", "a.recursive_only",
        "b.ref_helper", "b.via_ref",
    ]
    # the module-level ``if`` is a root: it reaches reached_by_attr
    assert "a.reached_by_attr" not in dead_definitions(package, [])
    assert dead_definitions(package, [entry], reference=["b.via_ref"]) == [
        "a.in_docstring", "a.only_tested", "a.recursive_only",
    ]
    # the alias maps a use of h to helper; without a use, helper is dead
    assert "b.helper" in dead_definitions(package, [])
    # an attribute use from an entry file reaches the definition
    assert "a.only_tested" not in dead_definitions(package, ["a.only_tested()"])


def test_package_has_no_library_only_code():
    package, entries = _repo_sources()
    dead = dead_definitions(package, entries, reference=REFERENCE)
    assert dead == [], (
        "top-level definitions that no query, job or benchmark reaches "
        "(delete them with their tests, or list reference code in "
        "REFERENCE): " + ", ".join(dead)
    )


def test_reference_entries_exist_and_are_test_only():
    package, entries = _repo_sources()
    test_only = set(dead_definitions(package, entries))
    for name, why in REFERENCE.items():
        assert why
        assert name in test_only, f"{name} is live or gone; drop it from REFERENCE"
