"""Every option has a caller: a defaulted parameter of a package
function must be set by some call in the package, the tools, the
benchmarks or the driver entry points. The only exceptions are the
test seams below, which tests set to shrink or reshape an input. The
same holds one level up: every top-level function and class of the
package is named by one of those callers."""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "ldtab_clj_spark"

TEST_SEAMS = {
    ("cli.py", "main", "argv"),
    ("operators/dedup.py", "word_jaccard_pairs", "max_rows"),
    ("operators/similarity.py", "cosine_near_dup_pairs", "max_rows"),
    ("operators/similarity.py", "_confirm_bucket_stream", "slab_bytes"),
    ("operators/similarity.py", "srp_plane_tables", "dim"),
    ("synth.py", "synth_docs", "partitions"),
}

# top-level package defs that no caller file names → why each stays
UNCALLED = {
    ("operators/materialize.py", "verify_lineage"):
        "the lineage verifier that resume tooling and tests call",
}


def _caller_files():
    yield from PKG.rglob("*.py")
    yield from (ROOT / "tools").glob("*.py")
    yield from (ROOT / "perfbench").rglob("*.py")
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


def _defaulted(tree):
    """(key, name, positional index or None) per defaulted parameter;
    ``key`` is the name a call uses (``Class`` for ``__init__``)."""
    for cls in [tree, *[n for n in ast.walk(tree)
                        if isinstance(n, ast.ClassDef)]]:
        for fn in cls.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for inner in [fn, *[n for n in ast.walk(fn)
                                if isinstance(n, ast.FunctionDef)
                                and n is not fn]]:
                a = inner.args
                pos = a.posonlyargs + a.args
                if pos and pos[0].arg in ("self", "cls"):
                    pos = pos[1:]
                key = cls.name if inner.name == "__init__" \
                    and isinstance(cls, ast.ClassDef) else inner.name
                for i, p in enumerate(pos):
                    if i >= len(pos) - len(a.defaults):
                        yield key, inner.name, p.arg, i
                for p, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        yield key, inner.name, p.arg, None


def _set_by_calls():
    """callee name → (keywords set, most positional args, any **/*)."""
    seen = {}
    for f in _caller_files():
        tree = ast.parse(f.read_text())
        # `write = write_ntriples if ext == ".nt" else write_turtle`
        alias = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.Assign) and len(n.targets) == 1 \
                    and isinstance(n.targets[0], ast.Name) \
                    and isinstance(n.value, ast.IfExp):
                alias[n.targets[0].id] = [
                    v.id for v in (n.value.body, n.value.orelse)
                    if isinstance(v, ast.Name)]
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            fn = n.func
            name = fn.attr if isinstance(fn, ast.Attribute) else \
                getattr(fn, "id", None)
            for callee in alias.get(name, [name]):
                kws, npos, star = seen.setdefault(callee, (set(), 0, False))
                star |= any(isinstance(x, ast.Starred) for x in n.args) \
                    or any(k.arg is None for k in n.keywords)
                kws |= {k.arg for k in n.keywords}
                seen[callee] = (kws, max(npos, len(n.args)), star)
    return seen


def test_every_defaulted_parameter_has_a_caller():
    calls = _set_by_calls()
    unset = set()
    for f in PKG.rglob("*.py"):
        rel = f.relative_to(PKG).as_posix()
        for key, fn, param, i in _defaulted(ast.parse(f.read_text())):
            kws, npos, star = calls.get(key, (set(), 0, False))
            if not (star or param in kws or (i is not None and i < npos)):
                unset.add((rel, fn, param))
    assert unset == TEST_SEAMS


def _names(node):
    """Identifiers a subtree reads: bare names and attribute names."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr


def test_every_package_def_has_a_caller():
    named = Counter()
    defs = []
    for f in _caller_files():
        tree = ast.parse(f.read_text())
        named.update(_names(tree))
        if PKG not in f.parents:
            continue
        for top in tree.body:
            if isinstance(top, (ast.FunctionDef, ast.ClassDef)):
                # a recursive def naming itself is not a caller
                own = Counter(_names(top))[top.name]
                defs.append((f.relative_to(PKG).as_posix(), top.name, own))
    assert {(rel, name) for rel, name, own in defs
            if named[name] == own} == set(UNCALLED)
