"""The engine's one size probe and one session cache (session.py)."""

from __future__ import annotations

from types import SimpleNamespace

from ner4cti_spark import session
from ner4cti_spark.session import collect_if_small, session_cached


def test_collect_if_small_boundary(spark):
    df = spark.range(10)
    pdf = collect_if_small(df, 10)
    assert pdf is not None and sorted(pdf["id"]) == list(range(10))
    assert collect_if_small(df, 9) is None
    assert collect_if_small(spark.range(0), 0) is not None


def test_session_cached_hit_replace_and_new_app(spark):
    first = session_cached(spark, "t", "a", lambda: spark.range(3).persist())
    # hit: same app, same key → no rebuild
    assert session_cached(spark, "t", "a", lambda: 1 / 0) is first
    # different key, same app → old value unpersisted, then rebuilt
    second = session_cached(spark, "t", "b", lambda: {"f": spark.range(4).persist()})
    assert not first.is_cached and second["f"].is_cached
    # new app → old value dropped without unpersisting (its frames
    # belong to the old context)
    other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="other-app"))
    assert session_cached(other, "t", "b", lambda: "fresh") == "fresh"
    assert second["f"].is_cached
    second["f"].unpersist()
    session._SESSION_CACHE.pop("t")
