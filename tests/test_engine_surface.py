"""Guards on the engine's configuration surface.

Every constructor switch and environment knob is a path that must be
kept alive and tested; settled choices are constants, not knobs. These
tests pin the surface so a new knob is a deliberate change, and check
every ``CrawlEngine(...)`` call in the repo — including scripts no other
test runs — against the constructor's real parameters. None of them
starts Spark."""

from __future__ import annotations

import ast
import dataclasses
import inspect
import os

import pytest

from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "volltextextraktion_selenium_md_spark")
MAX_ENGINE_PARAMS = 11
# CrawlConfig holds only what a caller or a deployment sets; the
# reference's hard-coded cuts and the modeled costs are module constants
MAX_CONFIG_FIELDS = 13
ENV_KNOBS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_JIT_OPTS"}
# the round loop is split into phase methods; none may grow back into
# one body
MAX_METHOD_LINES = 150


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


def test_no_long_function_in_the_round_loop():
    path = os.path.join(PKG, "plans", "frontier.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    long = {
        f"{node.name}:{node.lineno}": node.end_lineno - node.lineno + 1
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.end_lineno - node.lineno + 1 > MAX_METHOD_LINES
    }
    assert not long, long


def test_request_column_contract_has_one_list():
    from volltextextraktion_selenium_md_spark import oracles, replay
    from volltextextraktion_selenium_md_spark.plans import frontier
    from volltextextraktion_selenium_md_spark.schemas import (
        REQUEST_COL_DEFAULTS,
        REQUEST_COLS,
    )

    assert frontier.REQUEST_COLS is REQUEST_COLS
    # replay and oracles keep their own lists: they are the
    # independent references the engine is checked against
    assert tuple(REQUEST_COLS) == replay._REQ_COLS
    assert REQUEST_COLS == [
        c.strip() for c in oracles._REQ_SQL_COLS.split(",")
    ]
    assert list(REQUEST_COL_DEFAULTS) == [c for c in REQUEST_COLS if c != "mode"]
    # no engine module spells the list out again (a literal list, tuple
    # or argument list naming most of the request columns)
    own_lists = {"schemas.py", "replay.py", "oracles.py"}
    copies = [
        f"{os.path.relpath(path, PKG)}:{line}"
        for path, tree in _trees(PKG)
        if os.path.basename(path) not in own_lists
        for line in _request_col_lists(tree, REQUEST_COLS)
    ]
    assert not copies, copies
    assert _request_col_lists(ast.parse(
        "df.select('url', " + ", ".join(map(repr, REQUEST_COLS[:8])) + ")"
    ), REQUEST_COLS) == [1]


def _request_col_lists(tree: ast.AST, cols: list[str]) -> list[int]:
    """Lines of every list, tuple or call whose string-constant items
    name more than half of ``cols`` (a stage's own subset, such as the
    convert stage's inputs, stays below that)."""
    found = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.List, ast.Tuple, ast.Set)):
            items = node.elts
        elif isinstance(node, ast.Call):
            items = node.args
        else:
            continue
        named = {
            i.value for i in items
            if isinstance(i, ast.Constant) and i.value in cols
        }
        if 2 * len(named) > len(cols):
            found.append(node.lineno)
    return found


def test_stages_read_the_request_columns_unconditionally():
    """The fetch, convert and LLM stages take the request-column
    contract as given (absent columns are backfilled at entry by
    ``schemas.with_request_cols``): no ``"<col>" in <df>.columns`` or
    ``not in`` test forks a stage on its input's shape."""
    forks = []
    for name, tree in _trees(*(
        os.path.join("volltextextraktion_selenium_md_spark", "plans", f)
        for f in ("fetch.py", "convert.py", "llm.py")
    )):
        for node in ast.walk(tree):
            if isinstance(node, ast.Compare) and any(
                isinstance(op, (ast.In, ast.NotIn))
                and isinstance(cmp, ast.Attribute) and cmp.attr == "columns"
                for op, cmp in zip(node.ops, node.comparators)
            ) and isinstance(node.left, (ast.Constant, ast.Name)):
                forks.append(f"{os.path.basename(name)}:{node.lineno}")
    assert not forks, forks


def _conf_writes(tree: ast.AST) -> list[str]:
    """Qualified name of the enclosing function of every session-conf
    write (``<x>.conf.set/unset(...)`` or ``conf.set/unset(...)`` on a
    local bound to a conf), one entry per call."""
    found = []

    def visit(node: ast.AST, scope: tuple[str, ...]) -> None:
        if isinstance(node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = (*scope, node.name)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            target = node.func.value
            if node.func.attr in ("set", "unset") and (
                (isinstance(target, ast.Attribute) and target.attr == "conf")
                or (isinstance(target, ast.Name) and target.id == "conf")
            ):
                found.append(".".join(scope))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, ())
    return found


def test_no_session_conf_write():
    """The engine shares the caller's session conf with its bulk-convert
    thread and never writes it. No lock serializes the two threads: the
    futures do."""
    writes = []
    for path, tree in _trees(PKG):
        rel = os.path.relpath(path, PKG)
        writes += [f"{rel}:{w}" for w in _conf_writes(tree)]
    assert writes == [], writes
    path = os.path.join(PKG, "plans", "frontier.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            assert "threading" not in {a.name for a in node.names}
        if isinstance(node, ast.ImportFrom):
            assert node.module != "threading"
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            assert name not in ("Lock", "RLock"), f"lock at line {node.lineno}"


def test_conf_write_scan_sees_every_form():
    tree = ast.parse(
        "class E:\n"
        "    def a(self):\n"
        "        self.spark.conf.set('k', 'v')\n"
        "    def b(self):\n"
        "        conf = self.spark.conf\n"
        "        conf.set('k', 'v')\n"
        "        conf.unset('k')\n"
        "def c(spark):\n"
        "    spark.conf.set('k', 'v')\n"
        "    spark.conf.get('k')\n"
        "    {}.setdefault('k', 'v')\n"
    )
    assert _conf_writes(tree) == ["E.a", "E.b", "E.b", "c"]


def test_engine_parameter_count():
    params = inspect.signature(CrawlEngine).parameters
    assert len(params) <= MAX_ENGINE_PARAMS, list(params)


def test_config_field_count():
    fields = [f.name for f in dataclasses.fields(CrawlConfig)]
    assert len(fields) <= MAX_CONFIG_FIELDS, fields


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


def test_tracer_patch_table_matches_the_engine(monkeypatch):
    """``perfbench/run.py --trace 1`` wraps engine names by ``setattr``:
    installing and removing the tracer proves every name it patches
    still exists, and its ``filter_unseen_parts`` wrapper passes four
    positional arguments, the third the retired Bloom slot. The
    tracer's Column expressions are stubbed: building a real one needs
    an active SparkContext."""
    from unittest import mock

    from perfbench import trace
    from volltextextraktion_selenium_md_spark.operators import seen

    monkeypatch.setattr(trace, "F", mock.MagicMock())
    tracer = trace.Tracer("t")
    try:
        tracer.install()
    finally:
        tracer.uninstall()
    inspect.signature(seen.filter_unseen_parts).bind(object(), [], None, False)
    with pytest.raises(ValueError, match="retired"):
        seen.filter_unseen_parts(object(), [], object())


def test_service_mode_with_mirrors_raises_before_spark_work():
    # spark=None: any Spark call before the check would fail differently
    with pytest.raises(ValueError, match="mirrors"):
        CrawlEngine(None, "unused", mirrors=2, new_seeds=object())


def test_llm_without_convert_raises_before_spark_work():
    with pytest.raises(ValueError, match="with_convert"):
        CrawlEngine(None, "unused", with_llm=True)
