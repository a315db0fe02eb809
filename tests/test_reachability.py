"""Reachability guard: every top-level def and module-level constant in
the package must be reachable from code that runs outside the test
suite, and every import must be read.

A constant is a module-level assignment to plain non-dunder names; it
takes part in the closure like a def, with its value as its body. Roots
are every other non-import module-level statement and every decorator
in ``video_streamer_spark/`` (this covers the ``QUERIES``/``ORACLES``
registrations and ``__all__``), every decorated top-level def, and every
name in the runnable scripts (``bench.py``, ``bench_compare.py``,
``bench_skew.py``, ``__spark_entry__.py``, ``perfbench/*.py``). The
closure follows the names each reached def's body uses. Matching is by
name (``Name`` ids, attribute names, import aliases and identifier-shaped
string constants), so a name collision can only keep a def, never drop
one. A def outside the closure fails this test unless ``KEEP`` names it
with a reason (what a kept def uses is kept with it); a ``KEEP`` entry
that no longer names an unreached def fails too, so the map cannot go
stale.

An import, at module level or inside a function, must bind a name its
own scope reads outside import statements. Imports for their side
effect say so with ``# noqa: F401``. Pure ``ast``: no Spark, no imports
of the package.
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

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = (*_FUNCS, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _names(node: ast.AST, skip: tuple = ()) -> set[str]:
    """Names used under ``node``, not looking inside ``skip`` node types."""
    out: set[str] = set()
    todo = [node]
    while todo:
        n = todo.pop()
        if isinstance(n, skip):
            continue
        todo += ast.iter_child_nodes(n)
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


def _constant_names(st: ast.stmt) -> list[str]:
    """Names a module-level assignment binds, when all are plain
    non-dunder names; else []."""
    if isinstance(st, ast.Assign):
        targets = st.targets
    elif isinstance(st, ast.AnnAssign) and st.value is not None:
        targets = [st.target]
    else:
        return []
    if all(type(t) is ast.Name and not t.id.startswith("__") for t in targets):
        return [t.id for t in targets]
    return []


@functools.cache
def _scan():
    """(defs, roots): defs maps a def name to its [(module, node)]."""
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
            elif _constant_names(st):
                for name in _constant_names(st):
                    defs.setdefault(name, []).append((mod, st))
            elif not isinstance(st, _IMPORTS):
                roots |= _names(st)
    scripts = [_ROOT / s for s in _SCRIPTS]
    scripts += sorted((_ROOT / "perfbench").glob("*.py"))
    for path in scripts:
        roots |= _names(ast.parse(path.read_text()))
    return defs, frozenset(roots)


def _closure(defs, roots) -> set[str]:
    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs[name]:
            todo += [n for n in _names(node) if n in defs and n not in reached]
    return reached


def _unreached(defs, reached):
    return [
        (mod, node.lineno, name)
        for name, sites in defs.items()
        if name not in reached
        for mod, node in sites
    ]


def test_every_package_def_is_reachable():
    defs, roots = _scan()
    # a kept def keeps what it uses
    kept = {
        name
        for name, sites in defs.items()
        if name in KEEP or any(mod in KEEP for mod, _ in sites)
    }
    dead = sorted(_unreached(defs, _closure(defs, roots | kept)))
    assert not dead, (
        "top-level defs or constants no registered query, benchmark or "
        "bench script reaches — delete them with their tests, or add them "
        "to KEEP with a reason:\n"
        + "\n".join(f"  video_streamer_spark/{m}:{ln} {n}" for m, ln, n in dead)
    )


def test_keep_entries_name_unreached_defs():
    defs, roots = _scan()
    unreached = _unreached(defs, _closure(defs, roots))
    stale = [
        key
        for key in KEEP
        if not any(key in (mod, name) for mod, _, name in unreached)
    ]
    assert not stale, (
        f"KEEP entries that name no unreached def (now reached, renamed "
        f"or deleted) — drop them: {stale}"
    )


def _own_nodes(scope: ast.AST):
    """Nodes of ``scope`` outside its nested functions, lambdas and classes."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (*_DEFS, ast.Lambda)):
            todo += ast.iter_child_nodes(node)


def test_every_import_is_read():
    unread = []
    for path in sorted(_PKG.rglob("*.py")):
        text = path.read_text()
        lines = text.splitlines()
        tree = ast.parse(text)
        for scope in [tree, *(n for n in ast.walk(tree) if isinstance(n, _FUNCS))]:
            imports = [
                n
                for n in _own_nodes(scope)
                if isinstance(n, _IMPORTS)
                and getattr(n, "module", None) != "__future__"
                and "noqa: F401" not in lines[n.lineno - 1]
            ]
            if not imports:
                continue
            read = _names(scope, skip=_IMPORTS)
            unread += [
                (path.relative_to(_PKG).as_posix(), n.lineno, bound)
                for n in imports
                for a in n.names
                if (bound := a.asname or a.name.split(".")[0]) not in read
            ]
    assert not unread, "imports nothing in their scope reads — delete them:\n" + "\n".join(
        f"  video_streamer_spark/{m}:{ln} {name}" for m, ln, name in sorted(unread)
    )
