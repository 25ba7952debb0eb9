"""The conftest collection hook that skips ``@pytest.mark.slow`` tests
in the default suite: an explicit ``-m`` selection of the slow marker
and SPARK_GRAFT_SLOW_TESTS both run them; everything else skips them."""

from __future__ import annotations

from tests.conftest import pytest_collection_modifyitems


class _Item:
    def __init__(self, slow: bool):
        self.keywords = {"slow": True} if slow else {}
        self.markers = []

    def add_marker(self, marker):
        self.markers.append(marker)


class _Config:
    def __init__(self, markexpr: str):
        self.markexpr = markexpr

    def getoption(self, name, default=None):
        assert name == "markexpr"
        return self.markexpr


def _skipped(markexpr: str) -> list[bool]:
    """[slow item skipped, plain item skipped] under ``-m markexpr``."""
    items = [_Item(slow=True), _Item(slow=False)]
    pytest_collection_modifyitems(_Config(markexpr), items)
    return [bool(item.markers) for item in items]


def test_slow_skipped_by_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SLOW_TESTS", raising=False)
    assert _skipped("") == [True, False]
    assert _skipped("not slow") == [True, False]
    assert _skipped("not  slow and not gpu") == [True, False]


def test_explicit_slow_selection_runs_slow_tests(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SLOW_TESTS", raising=False)
    assert _skipped("slow") == [False, False]
    assert _skipped("slow and not gpu") == [False, False]
    assert _skipped("gpu or slow") == [False, False]


def test_env_var_runs_slow_tests(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SLOW_TESTS", "1")
    assert _skipped("") == [False, False]
