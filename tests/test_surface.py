"""Product-surface ratchet over tools/surface.py's reachability closure
(pure AST, no Spark). Each module's count of public defs that no shipped
job reaches must equal the count recorded here: more means dead code
landed, fewer means a cut forgot to lower its count (slack the next
change could fill). Update a count here when a change deletes or wires
in such defs. The imports of tools/ and tests/ are checked against the
same tree, so a cut cannot strand a helper's callers."""

import ast
import importlib.util
from pathlib import Path

import pytest

_PATH = Path(__file__).resolve().parents[1] / "tools" / "surface.py"
_spec = importlib.util.spec_from_file_location("surface", _PATH)
surface = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(surface)

# Unreached public defs per module (without the `easyner_spark.`
# prefix); a module not listed has none.
UNREACHED_PUBLIC = {
    "fixtures": 7,
    "functions.text": 5,
    "operators.analysis": 8,
    "operators.boilerplate": 1,
    "operators.components": 2,
    "operators.evaluate": 6,
    "operators.events": 3,
    "operators.graph": 6,
    "operators.iob": 11,
    "operators.merger": 6,
    "operators.nel": 15,
    "operators.ner_dict": 2,
    "operators.ner_model": 9,
    "operators.sampling": 21,
    "operators.scoring": 11,
    "operators.search": 4,
    "operators.sketches": 23,
    "operators.splitter": 3,
    "operators.textstats": 2,
    "operators.triples": 9,
    "operators.webtext": 3,
    "schemas": 7,
    "sinks.bucketed": 2,
    "sinks.chart": 1,
    "sinks.checkpoint": 5,
    "sinks.export": 5,
    "sinks.graphviz": 1,
    "sinks.iceberg": 3,
    "sinks.layout": 7,
    "sinks.pubtator": 7,
    "sinks.rdf": 6,
    "sources.craft": 5,
    "sources.loaders": 9,
    "sources.warc": 8,
}


@pytest.fixture(scope="module")
def report():
    return surface.report()


def test_kept_defs_are_the_only_unreached(report):
    for mod, keep in surface.KEEP.items():
        dead = set(surface.public(report[mod]["unreached"]))
        assert dead == set(keep), f"{mod}: unreached {sorted(dead)}, kept {sorted(keep)}"


def test_unreached_counts_match_recorded(report):
    now = {}
    for mod, r in report.items():
        n = len(surface.public(r["unreached"]))
        if n:
            now[mod.removeprefix("easyner_spark.")] = n
    off = {m: (UNREACHED_PUBLIC.get(m), now.get(m))
           for m in UNREACHED_PUBLIC.keys() | now.keys()
           if UNREACHED_PUBLIC.get(m) != now.get(m)}
    assert not off, f"unreached public defs (recorded, now): {off}"


def test_every_query_has_an_oracle():
    """`queries()` and `oracle_sql()` hold the same keys: a cut that
    drops an oracle must drop its query too, and the other way round."""
    import __spark_entry__ as e

    assert set(e.queries()) == set(e.oracle_sql())


def test_driver_window_names_are_registry_keys():
    """`_prioritize` skips a window name with no query, so a cut that
    deletes a query must delete its window name too."""
    import __spark_entry__ as e

    missing = [n for n in e._DRIVER_WINDOW_FIRST if n not in e.queries()]
    assert not missing, f"window names with no query: {missing}"


# Third-party modules only the optional model lane imports (the `models`
# extra of pyproject.toml, and nltk): absent from a base install.
_OPTIONAL_DEPS = {"datasets", "nltk", "onnxruntime", "spacy", "torch", "transformers"}


def _top_names(path: Path) -> set[str]:
    """Names a module binds at top level, also inside top-level if/try
    blocks: defs, assignments and imports."""
    out, todo = set(), list(ast.parse(path.read_text(), str(path)).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.If, ast.Try)):
            todo += node.body + node.orelse + getattr(node, "finalbody", [])
            todo += [s for h in getattr(node, "handlers", []) for s in h.body]
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out |= {(a.asname or a.name).split(".")[0] for a in node.names}
        else:
            out |= set(surface._defs(ast.Module(body=[node], type_ignores=[])))
    return out


def _find(dotted: str, bases: list[Path]) -> Path | None:
    """The module file, or package directory, `dotted` names under one
    of `bases`."""
    for base in bases:
        p = base.joinpath(*dotted.split("."))
        if p.with_suffix(".py").is_file():
            return p.with_suffix(".py")
        if p.is_dir():
            return p
    return None


def test_repo_local_imports_resolve():
    """Every `from X import name` in tools/*.py and tests/*.py, also one
    inside a function, names an existing repo module and a name it binds
    at top level (or a submodule). A module that neither the repo nor
    the environment provides fails too: a cut that deletes a helper's
    module must move the helper to its remaining callers."""
    root = _PATH.parents[1]
    bad = []
    for path in sorted([*root.glob("tools/*.py"), *root.glob("tests/*.py")]):
        bases = [root, path.parent]
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            where = f"{path.relative_to(root)}:{node.lineno} from {node.module}"
            top = node.module.split(".")[0]
            if _find(top, bases) is None:
                if importlib.util.find_spec(top) is None and top not in _OPTIONAL_DEPS:
                    bad.append(f"{where}: no such module")
                continue
            mod = _find(node.module, bases)
            if mod is None:
                bad.append(f"{where}: no such module")
                continue
            init = mod / "__init__.py" if mod.is_dir() else mod
            names = _top_names(init) if init.is_file() else set()
            for a in node.names:
                if a.name != "*" and a.name not in names and \
                        _find(f"{node.module}.{a.name}", bases) is None:
                    bad.append(f"{where} import {a.name}: not defined there")
    assert not bad, "\n".join(bad)
