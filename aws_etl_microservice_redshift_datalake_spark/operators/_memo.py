"""Keyed cache for the eager builds that never rebuild to an equal plan
(the CC labels, the IVF model and index), so Spark's CacheManager cannot
serve them; deterministic relations use ``sources.io.persisted``."""

from __future__ import annotations

import threading
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# one lock: callers of a key wait for a single build, and clearing never
# races a build in flight; reentrant, so a nested memo call cannot deadlock
_LOCK = threading.RLock()
_MEMOS: dict[int, dict] = {}  # every memo table seen, for clear_session_memos


def _dead(s: SparkSession | None) -> bool:
    return s is None or s.sparkContext._jsc is None


def session_memo(memo: dict, spark: SparkSession, sf_dir: str, sig: object,
                 build: Callable[[], DataFrame]) -> DataFrame:
    """The persisted ``build()`` for (``spark``, ``sf_dir``), served while the
    table-state signature ``sig`` equals the one it was built under. A
    callable ``sig`` is re-evaluated after the build: if a rewrite landed
    meanwhile, the relation is returned unpersisted and not installed."""
    skey = (id(spark), sf_dir)
    with _LOCK:
        _MEMOS[id(memo)] = memo
        sig_fn = sig if callable(sig) else None
        sig = sig_fn() if sig_fn else sig
        for k in [k for k, v in memo.items() if _dead(v[0]())]:
            del memo[k]
        if (skey, sig) in memo:
            return memo[(skey, sig)][2]
        df = build().persist()
        df.count()
        if sig_fn and sig_fn() != sig:
            return df.unpersist()
        for k in [k for k in memo if k[0] == skey]:
            memo.pop(k)[2].unpersist()
        memo[(skey, sig)] = (weakref.ref(spark), sig, df)
        return df


def clear_session_memos(spark: SparkSession) -> int:
    """Unpersist and drop the memo entries of ``spark`` and of dead sessions;
    returns how many. A cold-cost hook for benches and tests."""
    with _LOCK:
        gone = [(m, k) for m in _MEMOS.values() for k, v in m.items()
                if v[0]() is spark or _dead(v[0]())]
        for m, k in gone:
            ref, _, df = m.pop(k)
            if not _dead(ref()):
                df.unpersist()
    return len(gone)
