"""Session knobs parse fail-safe: a bad environment value keeps the
default instead of failing session start."""

import pytest

from declarative_dataflow_spark.session import _positive_int_env


@pytest.mark.parametrize(
    "raw, want",
    [
        (None, 32),
        ("", 32),
        ("abc", 32),
        ("4.5", 32),
        ("0", 32),
        ("-2", 32),
        ("8", 8),
        (" 6 ", 6),
    ],
)
def test_positive_int_env(monkeypatch, raw, want):
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_TEST_KNOB", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", raw)
    assert _positive_int_env("SPARK_GRAFT_TEST_KNOB", 32) == want
