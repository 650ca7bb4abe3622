"""The one memo policy (``functions.SessionMemo``): a hit returns the same
object, LRU order picks the victim at the cap, and the persisted form
unpersists what it evicts and re-persists after ``clearCache``. Frames are
``spark.range`` handles; no test runs a job."""

from __future__ import annotations

from kafkastreamingetl_spark.functions import SessionMemo


def _cached(df) -> bool:
    sl = df.storageLevel
    return sl.useMemory or sl.useDisk


def test_hit_returns_the_same_object_and_builds_once(spark):
    memo = SessionMemo(4)
    builds = []

    def build():
        builds.append(1)
        return ["model"]

    first = memo.get(spark, ("k", 1), build)
    assert memo.get(spark, ("k", 1), build) is first
    assert len(builds) == 1 and len(memo) == 1


def test_lru_order_decides_the_eviction_at_the_cap(spark):
    memo = SessionMemo(2)
    a = memo.get(spark, ("a",), lambda: ["a"])
    memo.get(spark, ("b",), lambda: ["b"])
    assert memo.get(spark, ("a",), lambda: ["a2"]) is a  # a is now newest
    memo.get(spark, ("c",), lambda: ["c"])  # evicts b, the LRU entry
    assert len(memo) == 2
    assert memo.get(spark, ("a",), lambda: ["a3"]) is a
    assert memo.get(spark, ("b",), lambda: ["b2"]) == ["b2"]  # rebuilt


def test_persisted_form_unpersists_on_evict_and_repersists_after_clear_cache(
    spark,
):
    memo = SessionMemo(1, persisted=True)
    a = memo.get(spark, ("a",), lambda: spark.range(3))
    assert _cached(a)
    spark.catalog.clearCache()
    assert not _cached(a)
    assert memo.get(spark, ("a",), lambda: spark.range(4)) is a
    assert _cached(a)  # re-persisted on the hit
    b = memo.get(spark, ("b",), lambda: spark.range(5))
    assert _cached(b) and not _cached(a)  # a evicted and unpersisted
    memo.clear()
    assert not _cached(b) and len(memo) == 0
