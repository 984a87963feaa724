"""One memo and one drain: ``sources.session_memo`` is the package's only
cache of derived results, and ``streaming.drain`` its only way to run a
bounded stream to completion.

The unit tests run ``session_memo`` on a private memo, so they never
evict the session's real entries; the guard tests scan the package's
source."""

from __future__ import annotations

import ast
import pathlib
import re
from collections import OrderedDict
from types import SimpleNamespace

import pytest

from multi_threaded_mapreduce_framework_spark.sources import fixtures, session_memo

PKG = pathlib.Path(__file__).resolve().parents[1] / "multi_threaded_mapreduce_framework_spark"
# module-level mappings that are not caches of derived results
NOT_CACHES = {("sources/fixtures.py", "_MEMO"), ("queries/registry.py", "_REGISTRY")}


def _fake_spark(app):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def memo(monkeypatch):
    m: OrderedDict = OrderedDict()
    monkeypatch.setattr(fixtures, "_MEMO", m)
    return m


def _counting_build(calls, value):
    def build():
        calls.append(value)
        return value

    return build


def test_builds_once_per_input_version(memo, tmp_path):
    path = tmp_path / "input.txt"
    path.write_text("v1")
    spark, calls = _fake_spark("app-1"), []
    assert session_memo(spark, ("k",), [str(path)], _counting_build(calls, 1)) == 1
    assert session_memo(spark, ("k",), [str(path)], _counting_build(calls, 2)) == 1
    path.write_text("version 2")
    assert session_memo(spark, ("k",), [str(path)], _counting_build(calls, 3)) == 3
    assert calls == [1, 3]


def test_unstamped_input_is_never_memoized(memo, tmp_path):
    spark, calls = _fake_spark("app-1"), []
    missing = str(tmp_path / "missing")
    for v in (1, 2):
        assert session_memo(spark, ("k",), [missing], _counting_build(calls, v)) == v
    assert calls == [1, 2] and not memo


def test_new_application_drops_every_entry(memo):
    calls = []
    session_memo(_fake_spark("app-1"), ("a",), (), _counting_build(calls, 1))
    session_memo(_fake_spark("app-1"), ("b",), (), _counting_build(calls, 2))
    assert session_memo(_fake_spark("app-2"), ("a",), (), _counting_build(calls, 3)) == 3
    assert calls == [1, 2, 3] and len(memo) == 1


def test_bounded_least_recently_used(memo):
    spark, calls = _fake_spark("app-1"), []
    for i in range(fixtures._MEMO_SIZE):
        session_memo(spark, ("k", i), (), _counting_build(calls, i))
    session_memo(spark, ("k", 0), (), _counting_build(calls, "again"))  # hit: now newest
    session_memo(spark, ("k", "new"), (), _counting_build(calls, "new"))
    assert len(memo) == fixtures._MEMO_SIZE
    assert session_memo(spark, ("k", 0), (), _counting_build(calls, "x")) == 0
    assert session_memo(spark, ("k", 1), (), _counting_build(calls, "rebuilt")) == "rebuilt"


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text())


def _is_mapping(node) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.Call):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
        return name in ("dict", "OrderedDict", "defaultdict")
    return False


def test_no_module_level_cache_besides_the_one_memo():
    found = set()
    for rel, tree in _modules():
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name) and (
                    _is_mapping(value) or re.fullmatch(r"_\w+_(CACHE|MEMO)", t.id)
                ):
                    found.add((rel, t.id))
        for node in ast.walk(tree):
            for d in getattr(node, "decorator_list", ()):
                d = d.func if isinstance(d, ast.Call) else d
                name = d.id if isinstance(d, ast.Name) else getattr(d, "attr", "")
                assert name not in ("cache", "lru_cache"), (rel, node.name)
    assert found == NOT_CACHES


def _calls(tree, name):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if (f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")) == name:
                yield node


def test_every_session_memo_call_site_has_its_own_key_name():
    names = []
    for rel, tree in _modules():
        for call in _calls(tree, "session_memo"):
            key = call.args[1]
            assert isinstance(key, ast.Tuple), (rel, call.lineno)
            first = key.elts[0]
            assert isinstance(first, ast.Constant) and isinstance(first.value, str), (
                rel,
                call.lineno,
            )
            names.append(first.value)
    assert len(names) >= 30  # the scan really sees the builders
    assert len(names) == len(set(names)), sorted(n for n in names if names.count(n) > 1)


def test_process_all_available_only_inside_drain():
    sites = []
    for rel, tree in _modules():
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                sites += [(rel, fn.name) for _ in _calls(fn, "processAllAvailable")]
    assert sites == [("streaming/windowed.py", "drain")]
