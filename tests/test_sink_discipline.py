"""Static guard for the engine's sink and pin discipline.

Every pin goes through ``barrier.stage_barrier`` (named, durable only by
the ``spark.pharmacodi.barrierDir`` conf), every streaming sink
through ``streaming/ops.py::drain_foreach_batch``, every writer-scoped
dynamic overwrite through ``io.py``, no caller forks "write the table
if the path is absent, else ``merge_upsert``" (``merge_upsert`` seeds an
absent target itself), and driver-side sidecar frames are
``functions/scalar.py::local_df`` VALUES relations, not
``createDataFrame``. The scan walks the AST, so it matches calls and
string constants, never docstring or comment text.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "pharmacodi_spark"


def _modules():
    for path in sorted(ENGINE.rglob("*.py")):
        yield path.relative_to(ENGINE).as_posix(), ast.parse(path.read_text())


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(
                body[0].value, ast.Constant
            ):
                out.add(id(body[0].value))
    return out


def _method_calls(tree: ast.AST, name: str):
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
        ):
            yield node


def _path_arg(call: ast.Call) -> str | None:
    """ast dump of the ``path`` argument of ``f(spark, path, ...)``."""
    return ast.dump(call.args[1]) if len(call.args) >= 2 else None


def _called(node: ast.AST, fn: str):
    for sub in ast.walk(node):
        if (
            isinstance(sub, ast.Call)
            and isinstance(sub.func, ast.Name)
            and sub.func.id == fn
        ):
            yield sub


def _seed_or_merge_forks(tree: ast.AST) -> list[int]:
    """Line numbers of ``if path_exists(spark, P)`` statements that write
    P with a plain ``.parquet(P)`` (any writer, not a read) while the same
    function also ``merge_upsert``-s P."""
    lines = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        merged = {_path_arg(c) for c in _called(fn, "merge_upsert")}
        for node in ast.walk(fn):
            if not isinstance(node, ast.If):
                continue
            checked = {_path_arg(c) for c in _called(node.test, "path_exists")}
            for write in _method_calls(node, "parquet"):
                target = ast.dump(write.args[0]) if write.args else None
                is_read = "attr='read'" in ast.dump(write.func.value)
                if target in checked & merged and not is_read:
                    lines.append(node.lineno)
    return sorted(set(lines))


def test_no_raw_local_checkpoint_outside_barrier():
    hits = [
        f"{mod}:{call.lineno}"
        for mod, tree in _modules()
        if mod != "barrier.py"
        for call in _method_calls(tree, "localCheckpoint")
    ]
    assert hits == [], "pin through barrier.stage_barrier(..., name=...)"


def test_barrier_mode_is_one_deployment_setting():
    # no engine function takes a barrier mode or root, and every
    # stage_barrier call names its pin and passes neither
    hits = []
    for mod, tree in _modules():
        for fn in ast.walk(tree):
            if isinstance(
                fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
            ):
                a = fn.args
                hits += [
                    f"{mod}:{fn.lineno} param {p.arg}"
                    for p in a.posonlyargs + a.args + a.kwonlyargs
                    if p.arg in ("barrier", "barrier_dir")
                ]
        for call in _called(tree, "stage_barrier"):
            kws = {k.arg for k in call.keywords}
            hits += [
                f"{mod}:{call.lineno} {k}="
                for k in sorted(kws & {"mode", "barrier_dir"})
            ]
            if "name" not in kws and len(call.args) < 2:
                hits.append(f"{mod}:{call.lineno} unnamed")
    assert hits == [], "durable via spark.pharmacodi.barrierDir; name each pin"


def test_foreach_batch_only_in_drain_helper():
    hits = []
    for mod, tree in _modules():
        helper = {
            id(node)
            for fn in ast.walk(tree)
            if mod == "streaming/ops.py"
            and isinstance(fn, ast.FunctionDef)
            and fn.name == "drain_foreach_batch"
            for node in ast.walk(fn)
        }
        hits += [
            f"{mod}:{node.lineno} .{node.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and node.attr in ("foreachBatch", "writeStream")
            and id(node) not in helper
        ]
    assert hits == [], "start sinks with streaming.ops.drain_foreach_batch"


def test_partition_overwrite_mode_only_in_io():
    hits = []
    for mod, tree in _modules():
        docs = _docstrings(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "partitionOverwriteMode" in node.value
                and id(node) not in docs
                and mod != "io.py"
            ):
                hits.append(f"{mod}:{node.lineno}")
    assert hits == [], "write per-batch state with io.write_batch_partition"


def test_no_seed_or_merge_forks():
    hits = [
        f"{mod}:{line}"
        for mod, tree in _modules()
        for line in _seed_or_merge_forks(tree)
    ]
    assert hits == [], "merge_upsert seeds an absent target itself"


def test_create_dataframe_only_for_arrow_tables():
    # createDataFrame(rows) parallelizes through a Python-serialized RDD;
    # sidecars go through local_df. The one allowed call turns an Arrow
    # table into a frame in text/clusters.py.
    hits = [
        f"{mod}:{call.lineno}"
        for mod, tree in _modules()
        for call in _method_calls(tree, "createDataFrame")
    ]
    others = [h for h in hits if not h.startswith("text/clusters.py:")]
    assert others == [] and len(hits) == 1, "build frames with local_df"


def test_library_never_imports_the_registry():
    # the engine lives in the library; the query registry (plans/) wraps
    # it and nothing outside plans/ reaches back into it
    hits = []
    for mod, tree in _modules():
        if mod.startswith("plans/"):
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                continue
            hits += [
                f"{mod}:{node.lineno} {n}"
                for n in names
                if n == "pharmacodi_spark.plans"
                or n.startswith("pharmacodi_spark.plans.")
            ]
    assert hits == [], "move the operator out of plans/ instead"


def test_curation_gates_tokenize_in_the_library():
    # every curation gate calls the library's tokenizing operator
    # (unigram_surprisal, ngram_hash_rows, passage_hashes); a split or
    # slice here would fork a gate from its batch twin
    tree = ast.parse((ENGINE / "pipelines" / "curation_stream.py").read_text())
    hits = [
        f"{call.lineno} F.{call.func.attr}"
        for call in ast.walk(tree)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr in ("split", "slice")
        and isinstance(call.func.value, ast.Name)
        and call.func.value.id == "F"
    ]
    assert hits == [], "call the library gate operator instead"


def test_pair_expansion_only_in_dedup_library():
    # the in-array ordered pair expansion, F.slice(ms, i + 2, ...), is the
    # cell pair kernel (text/dedup.py::cell_pair_rows); a copy elsewhere
    # forks the LSH decision and drops the kernel's parallelism pin
    hits = []
    for mod, tree in _modules():
        for call in ast.walk(tree):
            if not (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr == "slice"
                and len(call.args) >= 2
            ):
                continue
            start = call.args[1]
            if (
                isinstance(start, ast.BinOp)
                and isinstance(start.op, ast.Add)
                and isinstance(start.left, ast.Name)
                and isinstance(start.right, ast.Constant)
                and start.right.value == 2
                and mod != "text/dedup.py"
            ):
                hits.append(f"{mod}:{call.lineno}")
    assert hits == [], "expand pairs with text.dedup.cell_pair_rows"


def test_registry_modules_import_only_from_queries():
    # a registry module reads shared twins and fixtures from plans.queries
    # alone; a sibling import couples two families and their import order
    hits = []
    for mod, tree in _modules():
        if not mod.startswith("plans/") or mod == "plans/__init__.py":
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                srcs = [node.module or ""]
            elif isinstance(node, ast.Import):
                srcs = [a.name for a in node.names]
            else:
                continue
            hits += [
                f"{mod}:{node.lineno} {src}"
                for src in srcs
                if src.startswith("pharmacodi_spark.plans.")
                and src != "pharmacodi_spark.plans.queries"
            ]
    assert hits == [], "import engine code from the library, twins from queries"


# one module per family; a family past this splits again
_REGISTRY_MODULE_MAX_LINES = 1500


def test_registry_modules_stay_family_sized():
    hits = []
    for path in sorted((ENGINE / "plans").glob("*.py")):
        n = len(path.read_text().splitlines())
        if n > _REGISTRY_MODULE_MAX_LINES:
            hits.append(f"{path.name}: {n} lines")
    assert hits == [], "split the family module"


def test_registry_not_edited_at_import():
    # a row's oracle is fixed where it registers: a QUERIES[...] read or
    # rewrite elsewhere only works in one import order
    allowed = {"plans/queries.py", "plans/__init__.py"}
    hits = []
    for mod, tree in _modules():
        if mod in allowed:
            continue
        aliases = {"QUERIES"}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                aliases |= {
                    a.asname for a in node.names if a.name == "QUERIES" and a.asname
                }
            elif isinstance(node, ast.Assign) and isinstance(node.value, ast.Name):
                if node.value.id in aliases:
                    aliases |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        hits += [
            f"{mod}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Subscript)
            and (
                isinstance(node.value, ast.Name)
                and node.value.id in aliases
                or isinstance(node.value, ast.Attribute)
                and node.value.attr == "QUERIES"
            )
        ]
    assert hits == [], "register the oracle with its @q row"


# ---------------------------------------------------------------------------
# Every library default earns its place: a defaulted parameter of a public
# library function must be given a different value by some caller, or it is
# a constant in disguise (and any branch only it selects is dead code).
# ---------------------------------------------------------------------------

REPO = ENGINE.parent
# every call the guard counts: the library itself, its tests and tools,
# the benchmark, the driver entry points and the checked-in verify recipe
_CALLER_DIRS = ("pharmacodi_spark", "tests", "tools", "perfbench")
_CALLER_FILES = ("bench.py", "__spark_entry__.py")
_VERIFY_RECIPE = "*/skills/verify/*.py"
# column-name parameters name the caller's schema, shared across a family
_COLUMN_PARAM = re.compile(r"(.*_cols?|src|dst|by|keys?|subset)$")
# deployment settings: where the engine runs, not what it computes
_DEPLOYMENT = {
    "session::get_spark(master)",
    "streaming.ops::event_stream_source(path)",
    "streaming.ops::event_stream_source(socket_host)",
}


def _caller_trees() -> dict[Path, ast.Module]:
    paths = [p for d in _CALLER_DIRS for p in sorted((REPO / d).rglob("*.py"))]
    paths += [REPO / f for f in _CALLER_FILES if (REPO / f).exists()]
    paths += sorted(REPO.glob(_VERIFY_RECIPE))
    return {p: ast.parse(p.read_text()) for p in paths}


def _module_of(path: Path) -> str | None:
    parts = path.relative_to(REPO).with_suffix("").parts
    if parts[0] != ENGINE.name:
        return None
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _defaults(fn: ast.FunctionDef) -> tuple[list[str], dict[str, str]]:
    """Positional parameter names, and ``{param: default source}``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {
        p.arg: ast.unparse(d)
        for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)
    }
    out.update(
        {p.arg: ast.unparse(d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d}
    )
    return [p.arg for p in pos], out


def _never_varied() -> list[str]:
    """``module::function(param)`` for every defaulted, non-column
    parameter of a public top-level library function (outside the query
    registry) that no call passes a value other than its default. A
    ``x=x`` forward of a parameter that is itself never varied passes that
    parameter's default, so the scan runs to a fixpoint. Functions reached
    through ``*args``/``**kwargs`` or ``functools.partial`` are skipped:
    their callers cannot be read off the source."""
    trees = _caller_trees()
    paths = {_module_of(p): p for p in trees if _module_of(p)}
    funcs = {
        (mod, node.name): node
        for mod, path in paths.items()
        if not mod.startswith(f"{ENGINE.name}.plans")
        for node in trees[path].body
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_")
    }
    bound: dict[Path, dict] = {}

    def target(mod: str, attr: str):
        if f"{mod}.{attr}" in paths:
            return ("mod", f"{mod}.{attr}")
        if (mod, attr) in funcs:
            return ("fn", (mod, attr))
        return bindings(paths[mod]).get(attr) if mod in paths else None

    def bindings(path: Path) -> dict:
        # names a file binds to library modules and functions (re-exports
        # through a package __init__ resolve to the defining module)
        if path in bound:
            return bound[path]
        out = bound[path] = {}
        mod = _module_of(path)
        out.update({n: ("fn", (m, n)) for m, n in funcs if m == mod})
        for node in ast.walk(trees[path]):
            if isinstance(node, ast.ImportFrom):
                src = node.module or ""
                if node.level:
                    base = mod.split(".")[: -1 if path.name != "__init__.py" else None]
                    base = base[: len(base) - node.level + 1]
                    src = ".".join(base + ([src] if src else []))
                if src.split(".")[0] == ENGINE.name:
                    for a in node.names:
                        hit = target(src, a.name)
                        if hit:
                            out[a.asname or a.name] = hit
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == ENGINE.name:
                        name = a.asname or ENGINE.name
                        out[name] = ("mod", a.name if a.asname else ENGINE.name)
        return out

    def resolve(expr, names: dict):
        if isinstance(expr, ast.Name):
            return names.get(expr.id)
        if isinstance(expr, ast.Attribute):
            base = resolve(expr.value, names)
            if base and base[0] == "mod":
                return target(base[1], expr.attr)
        if (
            isinstance(expr, ast.Call)
            and getattr(expr.func, "id", None) == "__import__"
            and expr.args
            and isinstance(expr.args[0], ast.Constant)
            and expr.args[0].value in paths
        ):
            return ("mod", expr.args[0].value)
        return None

    sites, skipped = [], set()

    def visit(node, chain, names):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            chain = (*chain, node)
        if isinstance(node, ast.Call):
            hit = resolve(node.func, names)
            if hit and hit[0] == "fn":
                sites.append((hit[1], node, chain))
                if any(k.arg is None for k in node.keywords) or any(
                    isinstance(a, ast.Starred) for a in node.args
                ):
                    skipped.add(hit[1])
            fname = getattr(node.func, "attr", getattr(node.func, "id", None))
            if fname == "partial" and node.args:
                hit = resolve(node.args[0], names)
                if hit and hit[0] == "fn":
                    skipped.add(hit[1])
        for child in ast.iter_child_nodes(node):
            visit(child, chain, names)

    for path, tree in trees.items():
        visit(tree, (), bindings(path))

    owner = {id(fn): key for key, fn in funcs.items()}
    candidates = {
        (key, p): d
        for key, fn in funcs.items()
        if key not in skipped
        for p, d in _defaults(fn)[1].items()
        if not _COLUMN_PARAM.match(p)
        and f"{key[0][len(ENGINE.name) + 1:]}::{key[1]}({p})" not in _DEPLOYMENT
    }

    def passed_text(arg, chain, going):
        # a bare name that forwards an enclosing parameter passes that
        # parameter's default if it is going, an unknown value otherwise
        if isinstance(arg, ast.Name):
            for fn in reversed(chain):
                a = fn.args
                names = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
                names += [p.arg for p in (a.vararg, a.kwarg) if p]
                if arg.id in names:
                    return going.get((owner.get(id(fn)), arg.id))
        return ast.unparse(arg)

    going = dict(candidates)
    while True:
        varied = set()
        for key, call, chain in sites:
            pos = _defaults(funcs[key])[0]
            passed = [*zip(pos, call.args), *((k.arg, k.value) for k in call.keywords)]
            varied |= {
                (key, p)
                for p, arg in passed
                if (key, p) in candidates
                and passed_text(arg, chain, going) != candidates[(key, p)]
            }
        if varied.isdisjoint(going):
            break
        going = {k: v for k, v in going.items() if k not in varied}
    return sorted(
        f"{mod[len(ENGINE.name) + 1:]}::{fn}({p})" for (mod, fn), p in going
    )


def test_every_library_default_is_varied():
    # a default no caller varies is a constant: write it in the body and
    # delete the branches only another value would select
    stale = _never_varied()
    assert stale == [], (
        f"{len(stale)} defaults no caller varies — make them constants:\n"
        + "\n".join(stale)
    )
