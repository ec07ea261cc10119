"""Reachability gate: every top-level def/class of the product package has a
caller that is not a test.

A name counts as *reached* when an `ast.Name`, `ast.Attribute` or import
alias names it
- in product code outside its own body (an `__init__.py` re-export does
  not count), or
- anywhere in `bench.py`, `__spark_entry__.py`, `perfbench/*.py` or
  `scripts/*.py`.

Product bodies count only once their def is reached or allowlisted, and
the scan repeats until nothing new turns up, so a helper whose only
caller is itself unreached is flagged too. Docstrings, comments and
`tests/` never count. The match is by name, not by binding: a product
def that shares its name with a method the code calls (say `join`)
counts as reached.

Each allowlist entry is kept on purpose with its reason; the gate also
fails on a stale entry (the name is gone, or something now reaches it).
To add a top-level def, give it a product, bench or script caller, or an
allowlist reason here."""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "distributed_mapreduce_spark"
EXTRA = ("bench.py", "__spark_entry__.py", "perfbench/*.py", "scripts/*.py")

# "<module>" keeps a whole module; "<module>:<name>" keeps one def.
ALLOWLIST = {
    "plans.py": "plan assertions are test helpers by design: tests pin "
    "operator shapes with them",
    "operators/mapreduce.py:run_mapreduce_sequential": "the mrsequential.go "
    "oracle the distributed runner is checked against",
    "operators/mapreduce.py:crash_map": "the mrapps crash.go contract "
    "(a map function that kills its task attempt)",
    "operators/mapreduce.py:crash_reduce": "the mrapps crash.go contract "
    "(a reduce function that kills its task attempt)",
    "operators/dedup.py:dedup_corpus_greedy": "the one-shot reference the "
    "streamed dedup and clean sinks are tested against",
    "streaming/sinks.py:compact_store_partitioned": "CDC store maintenance "
    "(small-file compaction of the partitioned snapshot store)",
    "streaming/sinks.py:vacuum_versions_partitioned": "CDC store maintenance "
    "(drops versions past the retention window)",
    "operators/dedup.py:compact_lsh_band_index": "band-index maintenance the "
    "dedup and clean sink docstrings tell operators to run",
    "sources/files.py:compact_partitioned": "small-file maintenance for the "
    "cell-partitioned IVF, ANN and SemDeDup stores",
    "operators/bpe.py": "BPE merge training: iterative and not "
    "SQL-expressible, graded by its tests against the sequential "
    "pure-Python fold; kept until it is registered as an eager query "
    "(ROADMAP direction 4) or deleted with its tests in a change of its own",
    "operators/sketches.py": "mergeable HLL/KLL/theta/count-min sketches: "
    "no cross-engine oracle, gated by error-bound tests; kept until a query "
    "or sink uses them or they are deleted with their tests in a change of "
    "their own",
}


def _refs(node: ast.AST) -> set[str]:
    """Identifiers that `node` names: Name ids, Attribute attrs and every
    dotted part of an import alias."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


def scan(root: pathlib.Path, package: str, extra=EXTRA, allowlist=ALLOWLIST):
    """Return (unreached, stale): the `<module>:<name>` keys of top-level
    defs nothing reaches and that are not allowlisted, and the allowlist
    entries that are stale."""
    pkg = root / package
    defs: dict[str, tuple[str, ast.AST]] = {}  # key -> (name, node)
    modules: dict[str, list[str]] = {}  # module -> its def keys
    live_refs: set[str] = set()  # names from code that always runs
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        modules[rel] = []
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                key = f"{rel}:{stmt.name}"
                defs[key] = (stmt.name, stmt)
                modules[rel].append(key)
            elif path.name == "__init__.py" and isinstance(
                stmt, (ast.Import, ast.ImportFrom)
            ):
                continue  # a re-export is not a caller
            else:
                live_refs |= _refs(stmt)
    for pattern in extra:
        for path in sorted(root.glob(pattern)):
            live_refs |= _refs(ast.parse(path.read_text(), str(path)))

    def listed(key: str) -> bool:
        return key in allowlist or key.split(":")[0] in allowlist

    body_refs = {key: _refs(node) for key, (_, node) in defs.items()}
    live = {key for key in defs if listed(key)}
    while True:
        reached = {
            key
            for key, (name, _) in defs.items()
            if name in live_refs
            or any(name in body_refs[src] for src in live if src != key)
        }
        grown = live | reached
        if grown == live:
            break
        live = grown

    unreached = sorted(k for k in defs if k not in reached and not listed(k))
    stale = []
    for entry in allowlist:
        if ":" in entry:
            if entry not in defs or entry in reached:
                stale.append(entry)
        elif entry not in modules or all(k in reached for k in modules[entry]):
            stale.append(entry)
    return unreached, sorted(stale)


def test_every_product_def_is_reached():
    unreached, stale = scan(ROOT, PACKAGE)
    assert not unreached, (
        "top-level defs that no product code, bench or script reaches — "
        "give each a caller, delete it, or add an allowlist reason: "
        f"{unreached}"
    )
    assert not stale, f"stale allowlist entries (gone, or reached now): {stale}"


# --- the gate on a throwaway package ------------------------------------


def _write(base: pathlib.Path, files: dict[str, str]) -> pathlib.Path:
    for rel, text in files.items():
        path = base / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    return base


@pytest.fixture
def toy(tmp_path):
    return _write(
        tmp_path,
        {
            "pkg/__init__.py": "from pkg.core import exported_only\n",
            "pkg/core.py": (
                "def used():\n    return helper()\n\n"
                "def helper():\n    return 1\n\n"
                "def exported_only():\n    return 2\n\n"
                "def dead():\n    return dead_helper()\n\n"
                "def dead_helper():\n    return 3\n\n"
                "def documented():\n    return 4\n\n"
                "def scripted():\n    return 5\n\n"
                "def kept():\n    return kept_helper()\n\n"
                "def kept_helper():\n    return 6\n\n"
                "TABLE = {'q': used}\n"
            ),
            "pkg/other.py": (
                '"""Run `documented()` for the docs."""\n'
                "# documented() is named in a comment only\n"
            ),
            "scripts/tool.py": "from pkg.core import scripted\nscripted()\n",
            "tests/test_core.py": "from pkg.core import dead, documented\n",
        },
    )


def test_gate_flags_an_unreferenced_def_and_its_callees(toy):
    unreached, stale = scan(toy, "pkg", allowlist={"core.py:kept": "why"})
    assert "core.py:dead" in unreached
    # reached only from a dead body: flagged on the repeat
    assert "core.py:dead_helper" in unreached
    # a live def's callee and an allowlisted def's callee are reached
    assert "core.py:helper" not in unreached
    assert "core.py:kept_helper" not in unreached
    assert "core.py:used" not in unreached
    assert stale == []


def test_gate_ignores_docstrings_reexports_and_tests(toy):
    unreached, _ = scan(toy, "pkg", allowlist={})
    assert "core.py:documented" in unreached
    assert "core.py:exported_only" in unreached


def test_gate_counts_a_script_caller(toy):
    unreached, _ = scan(toy, "pkg", allowlist={})
    assert "core.py:scripted" not in unreached
    unreached, _ = scan(toy, "pkg", extra=(), allowlist={})
    assert "core.py:scripted" in unreached


def test_gate_fails_on_stale_allowlist_entries(toy):
    _, stale = scan(
        toy,
        "pkg",
        allowlist={
            "core.py:used": "reached now",
            "core.py:gone": "no such def",
            "missing.py": "no such module",
            "core.py": "still has unreached defs",
            "core.py:dead": "not reached",
        },
    )
    assert stale == ["core.py:gone", "core.py:used", "missing.py"]
