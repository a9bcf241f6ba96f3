#!/usr/bin/env python
"""Product-surface report: which top-level defs of `easyner_spark` the
shipped jobs reach.

A name-level AST closure. It starts from every statement of the entry
files in SEEDS (the three CLI modes, the `kg` facade, streaming and
the benchmark). A reached def reaches the package names it mentions:
a bare name resolves in its own module or through that module's
`from X import name` bindings, `alias.name` through a module binding,
and an import statement reaches the names it imports. Reaching a class
reaches its whole body, and reaching any def of a module reaches that
module's top-level statements that are not defs. Dynamic lookups
(`getattr`, string dispatch) are not followed. A "def" is a top-level
function, class or assigned name; public means no leading underscore.
`__spark_entry__.py` is not a seed, so code only its registry reaches
shows as unreached. Usage:

    python tools/surface.py        # per-module table, then totals
    python tools/surface.py -v     # also list the unreached public defs
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "easyner_spark"
SEEDS = ["easyner_spark/cli.py", "easyner_spark/kg.py", "easyner_spark/streaming",
         "perfbench/run.py"]
ENTRY = "__spark_entry__.py"

# Unreached public defs kept on purpose, each with its reason.
KEEP = {
    "easyner_spark.fixtures": {
        "generate": "synthetic pages + gold generator behind tests/conftest.py's "
                    "fixtures and tools/skew_bench.py's corpus",
        "Fixture": "generate's return type (tests/conftest.py)",
        "brute_force_matches": "generate's independent gold matcher",
        "FILLER": "generate's filler vocabulary",
        "N_HOSTS": "generate's host count",
        "ZIPF_S": "generate's host-skew exponent",
        "EPOCH": "generate's first warc_ts",
    },
    "easyner_spark.operators.webtext": {
        "crawl_delta": "batch reference for streaming.stateful_crawl_delta "
                       "(tests/test_streaming.py)",
        "salted_repartition_by_host": "the north rule's host-skew mechanism; "
                                      "wire it in where measured or delete it",
        "host_skew_profile": "sizes salted_repartition_by_host's salt",
    },
    "easyner_spark.operators.graph": {
        "k_core_oracle_sql": "DuckDB twin of k_core, which core_numbers "
                             "(kg.core_numbers) peels with",
        "core_numbers_oracle_sql": "DuckDB twin of core_numbers (kg.core_numbers)",
        "shortest_paths_oracle_sql": "DuckDB twin of shortest_paths "
                                     "(kg.distances)",
        "kg_paths_oracle_sql": "DuckDB twin of kg_paths (kg.paths)",
        "ego_subgraph_oracle_sql": "DuckDB twin of ego_subgraph (kg.ego)",
        "sentence_pairs": "builds the co-occurrence graph of q_kg_kcore and "
                          "tests/test_graph.py's driver-scale k_core check",
    },
    "easyner_spark.operators.triples": {
        "match_patterns_oracle_sql": "DuckDB twin of match_patterns "
                                     "(--mode query, kg.query)",
        "functional_violations_oracle_sql": "DuckDB twin of functional_violations "
                                            "(kg.conflicts)",
        "entity_summaries_oracle_sql": "DuckDB twin of entity_summaries "
                                       "(kg.summaries)",
        "schema_graph_oracle_sql": "DuckDB twin of schema_graph (kg.schema)",
        "metapath_join_oracle_sql": "DuckDB twin of metapath_join (kg.metapath)",
        "metapath_pathsim": "PathSim over metapath_join (q_kg_pathsim); "
                            "tested, left for a later cut",
        "metapath_pathsim_oracle_sql": "DuckDB twin of metapath_pathsim "
                                       "(q_kg_pathsim)",
        "match_patterns_when": "batch reference for streaming.fold_standing_query "
                               "(tests/test_streaming.py)",
        "match_patterns_when_oracle_sql": "DuckDB twin of match_patterns_when "
                                          "(q_kg_standing_query)",
    },
}


def _modname(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _parse(paths):
    return {_modname(p): (p, ast.parse(p.read_text(), str(p))) for p in paths}


def _defs(tree) -> dict[str, ast.stmt]:
    out = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            for tgt in node.targets if isinstance(node, ast.Assign) else [node.target]:
                for n in ast.walk(tgt):
                    if isinstance(n, ast.Name):
                        out[n.id] = node
    return out


def report() -> dict[str, dict]:
    """{module: {defs, lines, unreached (names), unreached_lines}} for
    every package module."""
    pkg = _parse(sorted((ROOT / PKG).rglob("*.py")))
    seeds = _parse(sorted(q for s in SEEDS for q in
                          ([ROOT / s] if s.endswith(".py") else (ROOT / s).rglob("*.py"))))
    files = {**seeds, **pkg}
    mods = {m: tree for m, (_, tree) in files.items()}
    defs = {m: _defs(t) for m, t in mods.items()}
    binds = {}  # module -> {local name: (module, name), or (module, None) for a module}
    for m, tree in mods.items():
        b = binds[m] = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and n.module and n.module.startswith(PKG):
                for a in n.names:
                    sub = f"{n.module}.{a.name}"
                    b[a.asname or a.name] = (sub, None) if sub in mods else (n.module, a.name)

    def resolve(m, name, seen=()):
        if name in defs.get(m, {}) or (m, name) in seen:
            return (m, name)
        tgt = binds.get(m, {}).get(name)  # follow re-exports
        return resolve(*tgt, seen=seen + ((m, name),)) if tgt and tgt[1] else (m, name)

    reached = {(m, n) for m in seeds for n in defs[m]}
    todo, touched = [(m, t) for m, t in mods.items() if m in seeds], set(seeds)
    while todo:
        m, node = todo.pop()
        for n in ast.walk(node):
            refs = []
            if isinstance(n, ast.Name):
                refs.append(resolve(m, n.id) if n.id in defs[m] else binds[m].get(n.id))
            elif isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                mod = binds[m].get(n.value.id)
                refs.append(resolve(mod[0], n.attr) if mod and mod[1] is None else None)
            elif isinstance(n, ast.ImportFrom) and n.module in mods:
                refs += [resolve(n.module, a.name) for a in n.names]
            for ref in refs:
                if ref and ref[1] and ref not in reached and ref[1] in defs.get(ref[0], {}):
                    reached.add(ref)
                    todo.append((ref[0], defs[ref[0]][ref[1]]))
                    if ref[0] not in touched:
                        touched.add(ref[0])
                        todo += [(ref[0], s) for s in mods[ref[0]].body
                                 if s not in defs[ref[0]].values()]
    out = {}
    for m in pkg:
        dead = sorted(n for n in defs[m] if (m, n) not in reached)
        # one statement can bind several names: count its lines once
        stmts = {id(defs[m][n]): defs[m][n] for n in dead}.values()
        out[m] = {"defs": len(defs[m]),
                  "lines": len(files[m][0].read_text().splitlines()),
                  "unreached": dead,
                  "unreached_lines": sum(d.end_lineno - d.lineno + 1 for d in stmts)}
    return out


def public(names) -> list[str]:
    return [n for n in names if not n.startswith("_")]


def main() -> None:
    rep = report()
    print(f"{'module':<42} {'defs':>5} {'lines':>6} {'unreached':>9} {'un.lines':>8}")
    for m, r in sorted(rep.items(), key=lambda kv: -kv[1]["unreached_lines"]):
        print(f"{m:<42} {r['defs']:>5} {r['lines']:>6} {len(r['unreached']):>9} "
              f"{r['unreached_lines']:>8}")
        if "-v" in sys.argv[1:]:
            for n in public(r["unreached"]):
                print(f"    {n}" + (f"  (kept: {KEEP[m][n]})" if n in KEEP.get(m, {}) else ""))
    pkg_lines = sum(r["lines"] for r in rep.values())
    entry_lines = len((ROOT / ENTRY).read_text().splitlines())
    print(f"total: {sum(r['defs'] for r in rep.values())} defs, "
          f"{sum(len(r['unreached']) for r in rep.values())} unreached "
          f"({sum(len(public(r['unreached'])) for r in rep.values())} public), "
          f"{sum(r['unreached_lines'] for r in rep.values())} unreached lines; "
          f"package {pkg_lines} + {ENTRY} {entry_lines} = {pkg_lines + entry_lines} lines")


if __name__ == "__main__":
    main()
