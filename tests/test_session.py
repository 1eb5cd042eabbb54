"""Session-factory env validation (no Spark session needed)."""

import pytest

from lance_spark.session import _console_progress


@pytest.mark.parametrize(
    "raw, want",
    [("1", "true"), ("TRUE", "true"), ("Yes", "true"), ("on", "true"),
     ("0", "false"), ("False", "false"), ("NO", "false"), ("off", "false")],
)
def test_console_progress_accepts_bool_words(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_CONSOLE_PROGRESS", raw)
    assert _console_progress() == want


def test_console_progress_default_on(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CONSOLE_PROGRESS", raising=False)
    assert _console_progress() == "true"


@pytest.mark.parametrize("raw", ["", "2", "enable", "tru"])
def test_console_progress_rejects_other_values(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CONSOLE_PROGRESS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CONSOLE_PROGRESS"):
        _console_progress()
