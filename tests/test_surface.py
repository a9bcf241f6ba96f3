"""Product-surface ratchet over tools/surface.py's reachability closure
(pure AST, no Spark). Each module's count of public defs that no shipped
job reaches must equal the count recorded here: more means dead code
landed, fewer means a cut forgot to lower its count (slack the next
change could fill). Update a count here when a change deletes or wires
in such defs."""

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
    "fixtures": 1,
    "functions.text": 5,
    "operators.analysis": 8,
    "operators.boilerplate": 1,
    "operators.components": 2,
    "operators.dedup": 27,
    "operators.evaluate": 6,
    "operators.events": 3,
    "operators.graph": 6,
    "operators.iob": 11,
    "operators.merger": 6,
    "operators.multimodal": 7,
    "operators.nel": 15,
    "operators.ner_dict": 3,
    "operators.ner_model": 9,
    "operators.ranking": 12,
    "operators.sampling": 21,
    "operators.scoring": 17,
    "operators.search": 4,
    "operators.similarity": 17,
    "operators.sketches": 23,
    "operators.splitter": 3,
    "operators.textstats": 24,
    "operators.tokenizer": 8,
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
