"""Static audit of the UDF-shipping invariant (the r13 x44 bug class):
any nested function handed to mapInPandas / applyInPandas / mapInArrow
/ applyInPandasWithState / pandas_udf that references a name imported
from another in-package module must have that module ship_module'd —
cloudpickle serializes such references BY REFERENCE to the owning
module, and the Python worker of an external-cwd consumer (the
driver's contract) cannot import ``video_streamer_spark``. The failure
is ORDER-DEPENDENT (an earlier query shipping the same module masks
it), so runtime tests can't pin it reliably; this AST walk can."""

from __future__ import annotations

import ast
import pathlib

UDF_CALLS = {
    "mapInPandas",
    "applyInPandas",
    "mapInArrow",
    "applyInPandasWithState",
    "pandas_udf",
}
PKG = pathlib.Path(__file__).resolve().parents[1] / "video_streamer_spark"
SHIPPING = "video_streamer_spark.functions.shipping"


def _is_module(dotted: str) -> bool:
    rel = dotted.split(".")[1:]
    base = PKG.joinpath(*rel) if rel else PKG
    return base.with_suffix(".py").is_file() or (
        base / "__init__.py"
    ).is_file()


def _in_pkg_bindings(tree: ast.AST) -> dict[str, str]:
    """local name -> owning in-package module, from any import stmt.
    ``from pkg import sub as Z`` where ``sub`` is itself a module binds
    Z to the SUBMODULE (shipping Z ships that module)."""
    out: dict[str, str] = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.module
            and node.module.startswith("video_streamer_spark")
        ):
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                out[a.asname or a.name] = (
                    sub if _is_module(sub) else node.module
                )
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("video_streamer_spark"):
                    out[(a.asname or a.name).split(".")[0]] = a.name
    return out


def _free_names(fn: ast.AST) -> set[str]:
    """Names free in ``fn``, with PROPER scope nesting: a name STORED
    inside an inner helper must not mask the same name loaded free at
    the closure's own level (review r13 — the flat walk under-reported
    exactly the class this audit exists for). free(scope) =
    (loads(scope) − bound(scope)) ∪ (free(child) − bound(scope))."""

    def scope_free(node: ast.AST) -> set[str]:
        bound: set[str] = set()
        loads: set[str] = set()
        children: list[ast.AST] = []
        if isinstance(node, (ast.FunctionDef, ast.Lambda)):
            a = node.args
            for arg in (
                a.args + a.kwonlyargs + getattr(a, "posonlyargs", [])
            ):
                bound.add(arg.arg)
            if a.vararg:
                bound.add(a.vararg.arg)
            if a.kwarg:
                bound.add(a.kwarg.arg)

        def visit(n: ast.AST) -> None:
            for c in ast.iter_child_nodes(n):
                if isinstance(c, (ast.FunctionDef, ast.Lambda)):
                    children.append(c)
                    if isinstance(c, ast.FunctionDef):
                        bound.add(c.name)
                    continue  # its body is a separate scope
                if isinstance(c, ast.Name):
                    (
                        loads
                        if isinstance(c.ctx, ast.Load)
                        else bound
                    ).add(c.id)
                if isinstance(c, (ast.Import, ast.ImportFrom)):
                    for al in c.names:
                        bound.add((al.asname or al.name).split(".")[0])
                visit(c)

        visit(node)
        free = loads - bound
        for ch in children:
            free |= scope_free(ch) - bound
        return free

    return scope_free(fn)


def _attrs_on(fn: ast.AST, name: str) -> set[str]:
    """Attributes accessed as ``name.<attr>`` anywhere inside ``fn`` —
    the attribute-style spelling of a cross-module reference
    (``multimodal.decode_frame(...)``), which the by-name transitive
    check alone would miss (review r13)."""
    return {
        sub.attr
        for sub in ast.walk(fn)
        if isinstance(sub, ast.Attribute)
        and isinstance(sub.value, ast.Name)
        and sub.value.id == name
    }


def _ship_args(scope: ast.AST) -> set[str]:
    return {
        ast.unparse(a)
        for node in ast.walk(scope)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", "") == "ship_module"
        for a in node.args
    }


def _module_tree(dotted: str) -> ast.AST | None:
    rel = dotted.split(".")[1:]
    base = PKG.joinpath(*rel)
    path = (
        base.with_suffix(".py")
        if base.with_suffix(".py").is_file()
        else base / "__init__.py"
    )
    try:
        return ast.parse(path.read_text())
    except (OSError, SyntaxError):
        return None


def _transitive_refs(owner: str, name: str) -> set[str]:
    """Modules the function ``owner``.``name`` references through ITS
    OWN free names (one precise hop: a shipped module's function that
    calls into a third module breaks the worker unless that module
    ships too — the x44 decode_frame → jpeg case — but deps the
    function never touches are fine)."""
    tree = _module_tree(owner)
    if tree is None:
        return set()
    binds = _in_pkg_bindings(tree)
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return {
                binds[n]
                for n in _free_names(node) & set(binds)
                if binds[n] != SHIPPING
            }
    return set()


def test_udf_closures_ship_their_cross_module_references():
    offenders: list[str] = []
    for f in sorted(PKG.rglob("*.py")):
        src = f.read_text()
        if not any(k in src for k in UDF_CALLS):
            continue
        tree = ast.parse(src)
        binds = _in_pkg_bindings(tree)
        mod_name = (
            "video_streamer_spark."
            + str(f.relative_to(PKG).with_suffix(""))
            .replace("/", ".")
        ).removesuffix(".__init__")
        mod_ships = {
            a
            for node in tree.body
            if isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Call)
            and getattr(node.value.func, "id", "") == "ship_module"
            for a in _ship_args(node)
        }
        top_defs = {
            n.name: n
            for n in tree.body
            if isinstance(n, ast.FunctionDef)
        }
        for outer in ast.walk(tree):
            if not isinstance(outer, ast.FunctionDef):
                continue
            outer_src = ast.unparse(outer)
            if not any(k in outer_src for k in UDF_CALLS):
                continue
            ships = mod_ships | _ship_args(outer)
            # resolve each ship arg to the module it actually ships:
            # a bound alias resolves through the import map; the
            # self-ship idiom resolves to this module
            shipped_modules = {
                mod_name if s == "sys.modules[__name__]" else binds.get(s, s)
                for s in ships
            } | {SHIPPING}  # shipping ships itself at import
            # candidate worker-side closures: every nested def/lambda
            # PLUS any MODULE-LEVEL function handed to a UDF call by
            # name (review r13 — applyInPandas(_module_level_fn, …)
            # was invisible to the nested-only walk)
            candidates: list[tuple[str, ast.AST]] = [
                (n.name, n)
                for n in ast.walk(outer)
                if isinstance(n, ast.FunctionDef) and n is not outer
            ] + [
                ("<lambda>", n)
                for n in ast.walk(outer)
                if isinstance(n, ast.Lambda)
            ]
            for call in ast.walk(outer):
                if (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr in UDF_CALLS
                ):
                    for a in call.args:
                        if isinstance(a, ast.Name) and a.id in top_defs:
                            candidates.append((a.id, top_defs[a.id]))
            for cname, nested in candidates:
                for name in _free_names(nested) & set(binds):
                    owner = binds[name]
                    if owner in shipped_modules:
                        # one precise hop deeper: the referenced
                        # function's OWN free names may pull a third
                        # module (x44: detections shipped multimodal,
                        # whose decode_frame calls the jpeg module) —
                        # checked for BOTH spellings, `from m import
                        # fn` and attribute access `m.fn(...)`
                        hops = _transitive_refs(owner, name)
                        for attr in _attrs_on(nested, name):
                            hops |= _transitive_refs(owner, attr)
                        for dep in hops:
                            if (
                                dep not in shipped_modules
                                and dep != owner
                            ):
                                offenders.append(
                                    f"{f}:{outer.name}/{cname}: "
                                    f"ships {owner} but {name} there "
                                    f"references un-shipped {dep}"
                                )
                        continue
                    offenders.append(
                        f"{f}:{outer.name}/{cname}: closes over "
                        f"{name} from {owner}, which is not "
                        f"ship_module'd in scope "
                        f"(ships={sorted(shipped_modules)})"
                    )
    assert not offenders, (
        "worker-side closures reference un-shipped in-package modules "
        "(external-cwd workers will raise ModuleNotFoundError, "
        "order-dependently):\n" + "\n".join(offenders)
    )


def _is_guard(node: ast.AST) -> bool:
    """``on_worker`` or ``shipping.on_worker``."""
    return ast.unparse(node).split(".")[-1] == "on_worker"


def _defs_named(tree: ast.AST, name: str | None) -> list[ast.FunctionDef]:
    return [
        d
        for d in ast.walk(tree)
        if isinstance(d, ast.FunctionDef) and d.name == name
    ]


def test_udf_functions_go_through_the_worker_guard():
    """Every function handed to a Python worker — the first argument of
    a UDF call, or a def decorated with ``pandas_udf`` — must run
    through ``shipping.on_worker``: without it each task pays the
    worker's eager zip-directory re-read of ``pyspark.zip`` and the
    Spark jar (about 0.2 s, see functions/shipping.py). A def counts as
    guarded when ``on_worker`` decorates it (below any ``pandas_udf``);
    an argument counts when it is an ``on_worker(...)`` call."""
    offenders: list[str] = []
    n_handed = 0
    for f in sorted(PKG.rglob("*.py")):
        src = f.read_text()
        if not any(k in src for k in UDF_CALLS):
            continue
        tree = ast.parse(src)
        for n in ast.walk(tree):
            if isinstance(n, ast.FunctionDef):
                udf_at = [
                    i
                    for i, d in enumerate(n.decorator_list)
                    if "pandas_udf" in ast.unparse(d)
                ]
                if udf_at:
                    n_handed += 1
                    if not any(
                        _is_guard(d)
                        for d in n.decorator_list[udf_at[-1] + 1 :]
                    ):
                        offenders.append(
                            f"{f}:{n.lineno}: pandas_udf {n.name} is not "
                            "decorated with on_worker below pandas_udf"
                        )
            # a Call hands a function when its first argument is a name,
            # a lambda or an on_worker(...) call; pandas_udf as a
            # decorator factory (``pandas_udf("double")``) hands none
            if not (
                isinstance(n, ast.Call)
                and getattr(n.func, "attr", getattr(n.func, "id", None))
                in UDF_CALLS
                and n.args
            ):
                continue
            arg = n.args[0]
            if isinstance(arg, ast.Call) and _is_guard(arg.func):
                n_handed += 1
                continue
            if not isinstance(arg, (ast.Name, ast.Lambda)):
                continue
            n_handed += 1
            # a name defined more than once in a module (each operator's
            # nested ``compute``) must be guarded at every definition
            handed = _defs_named(tree, getattr(arg, "id", None))
            if not handed or not all(
                any(_is_guard(d) for d in h.decorator_list) for h in handed
            ):
                offenders.append(
                    f"{f}:{n.lineno}: {ast.unparse(arg)} is handed to "
                    f"{ast.unparse(n.func)} without on_worker"
                )
    assert n_handed >= 29, n_handed  # the walk still sees every site
    assert not offenders, (
        "functions handed to Python workers skip shipping.on_worker:\n"
        + "\n".join(offenders)
    )


DATASOURCE_BASES = {
    "DataSource",
    "DataSourceReader",
    "DataSourceStreamReader",
    "SimpleDataSourceStreamReader",
}


def _datasource_classes(tree: ast.AST) -> list[ast.ClassDef]:
    return [
        n
        for n in tree.body
        if isinstance(n, ast.ClassDef)
        and any(
            getattr(b, "id", getattr(b, "attr", None)) in DATASOURCE_BASES
            for b in n.bases
        )
    ]


def test_datasource_modules_ship_every_in_package_import():
    """DataSource methods run in Spark's data-source RUNNER process,
    which cannot import this package for an external-cwd consumer
    (tests/test_external_cwd.py drives that for real). So a module
    defining a DataSource / reader class must (a) ship_module every
    in-package module it imports at module level — the runner then
    receives it by value — and (b) never import ``video_streamer_spark``
    inside a method of those classes, where shipping cannot reach."""
    offenders: list[str] = []
    for f in sorted(PKG.rglob("*.py")):
        tree = ast.parse(f.read_text())
        classes = _datasource_classes(tree)
        if not classes:
            continue
        top_imports = ast.Module(
            body=[
                n
                for n in tree.body
                if isinstance(n, (ast.Import, ast.ImportFrom))
            ],
            type_ignores=[],
        )
        binds = _in_pkg_bindings(top_imports)
        shipped = {
            binds.get(a)
            for node in tree.body
            if isinstance(node, ast.Expr)
            for a in _ship_args(node)
        }
        for mod in sorted(set(binds.values())):
            if mod == SHIPPING or mod in shipped:
                continue
            offenders.append(
                f"{f}: imports {mod} at module level without "
                "ship_module'ing it"
            )
        for cls in classes:
            for fn in cls.body:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                for node in ast.walk(fn):
                    mods = (
                        [node.module or ""]
                        if isinstance(node, ast.ImportFrom)
                        else [a.name for a in node.names]
                        if isinstance(node, ast.Import)
                        else []
                    )
                    offenders += [
                        f"{f}:{node.lineno}: {cls.name}.{fn.name} "
                        f"imports {m} (runs in the runner process)"
                        for m in mods
                        if m.startswith("video_streamer_spark")
                    ]
    assert not offenders, "\n".join(offenders)
