"""Guards on the engine's configuration surface.

Every constructor switch and environment knob is a path that must be
kept alive and tested; settled choices are constants, not knobs. These
tests pin the surface so a new knob is a deliberate change, and check
every ``CrawlEngine(...)`` call in the repo — including scripts no other
test runs — against the constructor's real parameters. None of them
starts Spark."""

from __future__ import annotations

import ast
import inspect
import os

import pytest

from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "volltextextraktion_selenium_md_spark")
MAX_ENGINE_PARAMS = 15
ENV_KNOBS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_JIT_OPTS"}


def _trees(*paths: str):
    """(path, parsed module) of every .py file under ``paths``."""
    for path in paths:
        full = os.path.join(REPO, path)
        files = [full] if os.path.isfile(full) else [
            os.path.join(root, f) for root, _, fs in os.walk(full)
            for f in fs if f.endswith(".py")
        ]
        for name in files:
            with open(name) as f:
                yield name, ast.parse(f.read(), name)


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_names(tree: ast.AST) -> set[str]:
    """String names read via os.environ.get/[]/in and os.getenv."""
    names = set()
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr == "get" and _is_environ(f.value)) or f.attr == "getenv"
            ):
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            key = node.left
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            names.add(key.value)
    return names


def test_engine_parameter_count():
    params = inspect.signature(CrawlEngine).parameters
    assert len(params) <= MAX_ENGINE_PARAMS, list(params)


def test_package_env_knobs():
    knobs = set()
    for _, tree in _trees(PKG):
        knobs |= {n for n in _env_names(tree) if n.startswith("SPARK_GRAFT_")}
    assert knobs == ENV_KNOBS


def test_env_scan_sees_every_read_form():
    tree = ast.parse(
        "import os\n"
        "a = os.environ.get('SPARK_GRAFT_A')\n"
        "b = os.environ['SPARK_GRAFT_B']\n"
        "c = os.getenv('SPARK_GRAFT_C')\n"
        "d = 'SPARK_GRAFT_D' in os.environ\n"
    )
    assert _env_names(tree) == {f"SPARK_GRAFT_{x}" for x in "ABCD"}


def test_every_engine_call_uses_existing_keywords():
    params = inspect.signature(CrawlEngine).parameters
    bad = []
    calls = 0
    for path, tree in _trees(
        "bench.py", "__spark_entry__.py", "perfbench", "scripts", "tests", PKG
    ):
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(
                node.func, ast.Name
            ) and node.func.id == "CrawlEngine"):
                continue
            calls += 1
            where = f"{os.path.relpath(path, REPO)}:{node.lineno}"
            if len(node.args) > len(params):
                bad.append(f"{where}: {len(node.args)} positional arguments")
            bad += [
                f"{where}: unknown keyword {kw.arg!r}"
                for kw in node.keywords
                if kw.arg is not None and kw.arg not in params
            ]
    assert calls > 0
    assert not bad, bad


def test_invalid_fetch_mode_raises_before_spark_work():
    # spark=None: any Spark call before the check would fail differently
    with pytest.raises(ValueError, match="fetch_mode"):
        CrawlEngine(None, "unused", fetch_mode="replay")


def test_service_mode_with_mirrors_raises_before_spark_work():
    with pytest.raises(ValueError, match="mirrors"):
        CrawlEngine(None, "unused", mirrors=2, new_seeds=object())
