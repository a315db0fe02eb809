"""Reachability guard: every top-level def in the package must be
reachable from code that runs outside the test suite.

Roots are every non-import module-level statement and every decorator
in ``video_streamer_spark/`` (this covers the ``QUERIES``/``ORACLES``
registrations and ``__all__``), every decorated top-level def, and every
name in the runnable scripts (``bench.py``, ``bench_compare.py``,
``bench_skew.py``, ``__spark_entry__.py``, ``perfbench/*.py``). The
closure follows the names each reached def's body uses. Matching is by
name (``Name`` ids, attribute names, import aliases and identifier-shaped
string constants), so a name collision can only keep a def, never drop
one. A def outside the closure fails this test unless ``KEEP`` names it
with a reason; a ``KEEP`` entry that no longer names an unreached def
fails too, so the map cannot go stale. Pure ``ast``: no Spark, no
imports of the package.
"""

from __future__ import annotations

import ast
import functools
import pathlib

_ROOT = pathlib.Path(__file__).resolve().parent.parent
_PKG = _ROOT / "video_streamer_spark"
_SCRIPTS = ("bench.py", "bench_compare.py", "bench_skew.py", "__spark_entry__.py")

# name of a top-level def, or a package-relative module path (every def
# in it), that only tests reach but that stays on purpose
KEEP = {
    "plans/advisor.py": "the plan advisor; ROADMAP item 1's query profile "
    "reports its findings",
    "mux_mjpeg_fmp4": "builds the fMP4 fixtures the registered demuxer's "
    "tests read",
    "run_acid_merge_sink": "the one streaming sink into the versioned table "
    "(runs under FaultyLogStore)",
    "occ_retry": "the store sink's OCC retry (runs under FaultyLogStore)",
    "compact_changeset": "the store sink's per-epoch compaction",
    "replicate_table": "CDC replication out of the store's change feed "
    "(runs under FaultyLogStore)",
    "ConditionalPutLogStore": "the conditional-put LogStore; outside this "
    "audit's scope",
    "PipelineMetricsListener": "streaming progress listener; ROADMAP item 4 "
    "extends it",
    "rebases_fired": "test hook counting OCC rebases",
    "load_snapshot_round": "test reference for the verified-hash snapshot",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        t = type(n)  # exact-type dispatch keeps the scan well under 1 s
        if t is ast.Name:
            out.add(n.id)
        elif t is ast.Attribute:
            out.add(n.attr)
        elif t is ast.alias:
            out.add((n.asname or n.name).split(".")[0])
            out.add(n.name.split(".")[-1])
        elif t is ast.Constant and type(n.value) is str and n.value.isidentifier():
            out.add(n.value)
    return out


@functools.cache
def _scan():
    """(defs, reached): defs maps a def name to its [(module, node)]."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(_PKG.rglob("*.py")):
        mod = path.relative_to(_PKG).as_posix()
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, _DEFS):
                defs.setdefault(st.name, []).append((mod, st))
                for dec in st.decorator_list:
                    roots |= _names(dec)
                if st.decorator_list:
                    roots.add(st.name)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _names(st)
    scripts = [_ROOT / s for s in _SCRIPTS]
    scripts += sorted((_ROOT / "perfbench").glob("*.py"))
    for path in scripts:
        roots |= _names(ast.parse(path.read_text()))
    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs[name]:
            todo += [n for n in _names(node) if n in defs and n not in reached]
    return defs, reached


def _unreached(defs, reached):
    return [
        (mod, node.lineno, name)
        for name, sites in defs.items()
        if name not in reached
        for mod, node in sites
    ]


def test_every_package_def_is_reachable():
    defs, reached = _scan()
    dead = sorted(
        (mod, line, name)
        for mod, line, name in _unreached(defs, reached)
        if name not in KEEP and mod not in KEEP
    )
    assert not dead, (
        "top-level defs no registered query, benchmark or bench script "
        "reaches — delete them with their tests, or add them to KEEP "
        "with a reason:\n"
        + "\n".join(f"  video_streamer_spark/{m}:{ln} {n}" for m, ln, n in dead)
    )


def test_keep_entries_name_unreached_defs():
    defs, reached = _scan()
    unreached = _unreached(defs, reached)
    stale = [
        key
        for key in KEEP
        if not any(key in (mod, name) for mod, _, name in unreached)
    ]
    assert not stale, (
        f"KEEP entries that name no unreached def (now reached, renamed "
        f"or deleted) — drop them: {stale}"
    )
