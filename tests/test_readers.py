"""io.readers plan memo: eviction of entries whose session was stopped."""

from __future__ import annotations

from types import SimpleNamespace

from sparkgraft.io import readers


def _frame(jsc):
    return SimpleNamespace(sparkSession=SimpleNamespace(_sc=SimpleNamespace(_jsc=jsc)))


def test_evict_tolerates_key_evicted_by_another_thread(monkeypatch):
    """Two driver threads can evict the same dead entry: by the time one
    deletes it, the other may already have.  Eviction must neither raise
    nor drop a live session's entry."""
    cache = {}
    monkeypatch.setattr(readers, "_PLAN_CACHE", cache)
    stopped = _frame(None).sparkSession

    class EvictedMeanwhile:
        @property
        def sparkSession(self):
            cache.pop("dead", None)  # the other thread's eviction
            return stopped

    cache["dead"] = EvictedMeanwhile()
    cache["live"] = _frame(object())
    readers._evict_stopped_sessions()
    assert list(cache) == ["live"]
