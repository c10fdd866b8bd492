"""``get_spark``: the session factory runs no warm-up."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from changesetmd_spark.session import get_spark


def test_warmup_true_raises_before_any_session_is_built(monkeypatch):
    built = []
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: built.append(self))
    with pytest.raises(ValueError, match="warm-up was removed"):
        get_spark(warmup=True)
    assert built == []
