"""Focused tests for the cold-bench hook (clear_session_memos) and the
verify-window sweep subset (conftest.sweep_subset) — VERDICT r14 #2/#3."""

from __future__ import annotations

import aws_etl_microservice_redshift_datalake_spark as engine
from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
    _MEMOS,
    clear_session_memos,
)

from tests.conftest import SF_SMALL, sweep_subset


def test_clear_session_memos_drops_and_rebuilds(spark):
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        _cc_labels_persisted,
    )

    def entries() -> int:
        return sum(
            1
            for memo in _MEMOS.values()
            for (skey, _sig) in memo
            if skey[0] == id(spark)
        )

    df1 = _cc_labels_persisted(spark, SF_SMALL)
    n1 = df1.count()
    assert _cc_labels_persisted(spark, SF_SMALL) is df1  # a memo hit
    before = entries()
    assert before >= 1
    dropped = clear_session_memos(spark)
    assert dropped >= before
    assert entries() == 0
    assert not df1.storageLevel.useMemory, "dropped labels still cached"
    # cold rebuild must produce the identical relation
    df2 = _cc_labels_persisted(spark, SF_SMALL)
    assert df2 is not df1 and df2.count() == n1
    assert df1.exceptAll(df2).isEmpty() and df2.exceptAll(df1).isEmpty()


def test_sweep_subset_full_flag_returns_all(monkeypatch):
    qs = engine.all_queries()
    monkeypatch.setenv("SPARK_GRAFT_FULL_SWEEPS", "1")
    # the flag is read at call time inside sweep_subset
    assert sweep_subset(qs, qs) == list(qs)


def test_sweep_subset_covers_every_module(monkeypatch):
    qs = engine.all_queries()
    monkeypatch.delenv("SPARK_GRAFT_FULL_SWEEPS", raising=False)
    sub = sweep_subset(qs, qs)
    assert set(sub) <= set(qs)
    mods_all = {fn.__module__ for fn in qs.values()}
    mods_sub = {qs[n].__module__ for n in sub}
    assert mods_sub == mods_all  # every operator module keeps representatives
    assert sub == sweep_subset(qs, qs)  # deterministic
    assert len(sub) < len(qs) / 3  # it is actually a subset that shrinks
