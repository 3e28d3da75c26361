"""Session factory tests: the warm-up is best-effort but never silent."""

import pytest

from rify_spark.session import _warm_session


def test_warmup_failure_warns_and_session_still_answers(spark, monkeypatch):
    """A failing warm-up step emits a warning instead of being swallowed,
    and the session keeps answering queries."""
    import rify_spark.api as api

    def _boom(*args, **kwargs):
        raise RuntimeError("injected warm-up failure")

    monkeypatch.setattr(api, "infer_df", _boom)
    monkeypatch.setattr(spark, "_rify_warmed", False)
    monkeypatch.delenv("RIFY_SESSION_WARMUP", raising=False)
    with pytest.warns(UserWarning, match="rify_spark session warm-up failed.*injected"):
        _warm_session(spark)
    assert spark.range(5).count() == 5
