"""Every parameter a ``bootleg_spark`` function takes is read by it,
every defaulted parameter is set by some call, every module-level
definition is reached, and the package reads no environment variable
beyond its contract.

A parameter the body never reads is silently ignored: a caller who sets
it gets no error and no effect. This walks the package's source with
``ast`` (no Spark) and fails on any such parameter; the few that a
fixed call shape forces are allowlisted with their reason. A default
no call overrides is an option nothing exercises, so the same walk
fails on it. A definition no query, workload or script loads is code
only its own tests run, so the same walk fails on it. An environment
variable is an option no signature shows, so the same walk pins the
names the package reads.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "bootleg_spark"


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


# (module path under bootleg_spark/, parsed module), parsed once for every check
MODULES = [(p.relative_to(PKG).as_posix(), _parse(p)) for p in sorted(PKG.rglob("*.py"))]

# code outside the package that may reach it; no test counts
CALLERS = [
    _parse(p)
    for p in [*(ROOT / "scripts").rglob("*.py"), *(ROOT / "perfbench").rglob("*.py"),
              ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    if "tests" not in p.relative_to(ROOT).parts
]
# the tests, which count as callers only for the defaults check
TESTS = [
    _parse(p) for p in [*(ROOT / "tests").rglob("*.py"), *(ROOT / "perfbench" / "tests").rglob("*.py")]
]

# (module path under bootleg_spark/, function, parameter) -> why unread
ALLOWED = {
    ("sources/snaptable.py", "delete_rows_mor", "spark"): "same call shape as its sibling functions",
}

# (module path under bootleg_spark/, definition) -> why it stays with no caller
UNREACHED = {
    ("annotator.py", "SparkAnnotator"): "documented entry point",
    ("streaming/ingest.py", "start_snapshot_triple_stream"): "documented entry point",
    ("functions/npz_encoder.py", "NpzEncoder"): "learned-encoder slot behind KgPipeline(encoder=)",
    ("functions/npz_encoder.py", "export_tiny_encoder"): "learned-encoder slot behind KgPipeline(encoder=)",
    ("functions/embedding.py", "make_mlp_encoder"): "learned-encoder slot behind KgPipeline(encoder=)",
    ("functions/embedding.py", "featurize_tokens"): "reference a test compares the fused kernel against",
    ("functions/textproc.py", "char_span_to_word_span"): "reference a test compares a reached function against",
    ("operators/triples.py", "cooccurrence_pairs"): "reference a test compares a reached function against",
    ("operators/triples.py", "emit_triples"): "reference a test compares a reached function against",
    ("functions/textproc.py", "render_page_html"): "reference a test compares a reached function against",
    ("sources/profile.py", "read_profile_jsonl"): "reader of the reference's profile JSONL (outside input)",
    ("sources/profile.py", "read_profile_jsonl_ordered"): "reader of the reference's profile JSONL (outside input)",
    ("sources/profile.py", "assert_valid_profile"): "validator of the reference's profile JSONL (outside input)",
    ("sources/profile.py", "write_profile_jsonl"): "sink of the reference's profile JSONL format",
    ("sources/sentences.py", "read_sentences_jsonl"): "reader of the reference's sentence JSONL (outside input)",
    ("sources/sentences.py", "assert_valid_sentences"): "validator of the reference's sentence JSONL (outside input)",
    ("sources/snaptable.py", "vacuum"): "table maintenance",
    ("sources/snaptable.py", "compact"): "table maintenance",
    ("sources/snaptable.py", "apply_deletes"): "table maintenance",
    ("sources/snaptable.py", "drop_ref"): "table maintenance",
}


def _params(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[str]:
    a = fn.args
    names = [x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs)]
    names += [x.arg for x in (a.vararg, a.kwarg) if x is not None]
    return [n for n in names if n not in ("self", "cls") and not n.startswith("_")]


def _unread_params() -> set[tuple[str, str, str]]:
    found = set()
    for rel, tree in MODULES:
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            read = {
                n.id
                for stmt in fn.body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            found |= {(rel, fn.name, p) for p in _params(fn) if p not in read}
    return found


def test_every_parameter_is_read():
    unread = _unread_params()
    assert sorted(unread - set(ALLOWED)) == []
    # an allowlist entry whose parameter is now read (or gone) is stale
    assert sorted(set(ALLOWED) - unread) == []


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a module-level statement defines; dunders are read by Python."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [stmt.name]
    elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    else:
        names = []
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _loads(node: ast.AST) -> set[str]:
    """Names ``node`` loads: ``Name``/``Attribute``/import nodes and
    identifier string constants, docstrings excepted."""
    # a string standing alone as a statement is a docstring or a comment
    docs = {id(n.value) for n in ast.walk(node) if isinstance(n, ast.Expr)}
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            names.add(n.id)
        elif isinstance(n, ast.Attribute) and not isinstance(n.ctx, ast.Store):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier() and id(n) not in docs:
            names.add(n.value)
    return names


def _unreached() -> set[tuple[str, str]]:
    """Module-level definitions that no code outside their own
    statement loads, where the code is the package, the scripts,
    ``perfbench``, ``__spark_entry__.py`` and ``bench.py``."""
    outside = set().union(*map(_loads, CALLERS))
    stmts = [(rel, stmt, _loads(stmt)) for rel, tree in MODULES for stmt in tree.body]
    # statements loading each name; a definition's own statement does not count
    times = Counter(n for _, _, loads in stmts for n in loads)
    return {
        (rel, name)
        for rel, stmt, loads in stmts
        for name in _defined(stmt)
        if name not in outside and times[name] == (name in loads)
    }


def test_every_definition_is_reached():
    unreached = _unreached()
    assert sorted(unreached - set(UNREACHED)) == []
    # an allowlist entry that is now reached (or gone) is stale
    assert sorted(set(UNREACHED) - unreached) == []


# (module path under bootleg_spark/, function, parameter) -> why no call
# sets its default; only definitions in UNREACHED may have one
UNSET = {
    ("annotator.py", "SparkAnnotator", "threshold"): "documented entry point",
    ("streaming/ingest.py", "start_snapshot_triple_stream", "trigger_available_now"): "documented entry point",
    ("functions/embedding.py", "make_mlp_encoder", "hidden"): "learned-encoder slot behind KgPipeline(encoder=)",
    ("functions/embedding.py", "make_mlp_encoder", "seed"): "learned-encoder slot behind KgPipeline(encoder=)",
    ("functions/npz_encoder.py", "export_tiny_encoder", "d_model"): "learned-encoder slot behind KgPipeline(encoder=)",
    ("functions/npz_encoder.py", "export_tiny_encoder", "n_layers"): "learned-encoder slot behind KgPipeline(encoder=)",
    ("functions/npz_encoder.py", "export_tiny_encoder", "n_buckets"): "learned-encoder slot behind KgPipeline(encoder=)",
    ("functions/npz_encoder.py", "export_tiny_encoder", "max_len"): "learned-encoder slot behind KgPipeline(encoder=)",
    ("sources/profile.py", "assert_valid_profile", "max_show"): "validator of the reference's profile JSONL (outside input)",
    ("sources/profile.py", "write_profile_jsonl", "order"): "sink of the reference's profile JSONL format",
    ("sources/sentences.py", "assert_valid_sentences", "max_show"): "validator of the reference's sentence JSONL (outside input)",
}


def _functions() -> list[tuple[str, str, ast.FunctionDef, int]]:
    """(module path, the name a call uses, definition, leading
    parameters a call does not pass) for every function the package
    defines, nested ones included; a class is called by its name."""
    out = []
    for rel, tree in MODULES:
        owner = {id(f): c for c in ast.walk(tree) if isinstance(c, ast.ClassDef) for f in c.body}
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            cls = owner.get(id(fn))
            static = any(ast.unparse(d) == "staticmethod" for d in fn.decorator_list)
            name = cls.name if cls is not None and fn.name == "__init__" else fn.name
            out.append((rel, name, fn, int(cls is not None and not static)))
    return out


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position, or None for keyword-only, name) of each parameter
    with a default."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    out = [(i, x.arg) for i, x in enumerate(pos)][len(pos) - len(a.defaults):]
    return out + [(None, x.arg) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _sets(call: ast.Call, name: str, pos: int | None) -> bool:
    """Whether ``call`` passes parameter ``name`` (at call position
    ``pos``) by keyword, by position or through ``*args``/``**kwargs``."""
    if any(k.arg in (None, name) for k in call.keywords):
        return True
    if pos is None:
        return False
    # a starred argument may fill every position from its own on
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred) or i == pos:
            return i <= pos
    return False


def _unset_defaults() -> set[tuple[str, str, str]]:
    """Defaulted parameters that no call in the package, the scripts,
    ``perfbench``, the entry points or the tests sets; calls are
    matched by name."""
    calls: dict[str, list[ast.Call]] = {}
    for tree in [*(t for _, t in MODULES), *CALLERS, *TESTS]:
        for n in ast.walk(tree):
            if isinstance(n, ast.Call) and isinstance(n.func, (ast.Name, ast.Attribute)):
                name = n.func.id if isinstance(n.func, ast.Name) else n.func.attr
                calls.setdefault(name, []).append(n)
    return {
        (rel, name, p)
        for rel, name, fn, skip in _functions()
        for pos, p in _defaulted(fn)
        if not any(_sets(c, p, None if pos is None else pos - skip) for c in calls.get(name, []))
    }


def test_every_default_is_set():
    unset = _unset_defaults()
    assert sorted(unset - set(UNSET)) == []
    # an allowlist entry whose default is now set (or gone) is stale
    assert sorted(set(UNSET) - unset) == []
    assert {(rel, fn) for rel, fn, _ in UNSET} <= set(UNREACHED)


def _env_reads() -> set:
    """Names read via ``os.environ[...]``, ``os.environ.get`` or
    ``os.getenv``; a non-literal name reads as ``None``."""
    found = set()
    for _, tree in MODULES:
        for n in ast.walk(tree):
            if isinstance(n, ast.Subscript) and ast.unparse(n.value) == "os.environ":
                key = n.slice
            elif isinstance(n, ast.Call) and n.args and ast.unparse(n.func) in ("os.environ.get", "os.getenv"):
                key = n.args[0]
            else:
                continue
            found.add(key.value if isinstance(key, ast.Constant) else None)
    return found


def test_env_reads_are_the_driver_contract():
    """``SPARK_GRAFT_CPUS`` is the driver contract's core count and
    ``SPARK_DRIVER_MEM`` the deployment's driver heap; every other
    setting is a parameter or a constant."""
    assert _env_reads() == {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM"}

