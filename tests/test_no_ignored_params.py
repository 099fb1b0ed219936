"""Every parameter a ``bootleg_spark`` function takes is read by it,
and the package reads no environment variable beyond its contract.

A parameter the body never reads is silently ignored: a caller who sets
it gets no error and no effect. This walks the package's source with
``ast`` (no Spark) and fails on any such parameter; the few that a
fixed call shape forces are allowlisted with their reason. An
environment variable is an option no signature shows, so the same walk
pins the names the package reads.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "bootleg_spark"

# (module path under bootleg_spark/, function, parameter) -> why unread
ALLOWED = {
    ("operators/multimodal.py", "decode_image_stub", "payload"): "stub that raises",
    ("sources/snaptable.py", "delete_rows_mor", "spark"): "same call shape as its sibling functions",
}


def _params(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[str]:
    a = fn.args
    names = [x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs)]
    names += [x.arg for x in (a.vararg, a.kwarg) if x is not None]
    return [n for n in names if n not in ("self", "cls") and not n.startswith("_")]


def _unread_params() -> set[tuple[str, str, str]]:
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn in ast.walk(ast.parse(path.read_text(), filename=str(path))):
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


def _env_reads() -> set:
    """Names read via ``os.environ[...]``, ``os.environ.get`` or
    ``os.getenv``; a non-literal name reads as ``None``."""
    found = set()
    for path in PKG.rglob("*.py"):
        for n in ast.walk(ast.parse(path.read_text(), filename=str(path))):
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
