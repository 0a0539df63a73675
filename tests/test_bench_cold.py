"""Focused tests for the r15 cold-bench hook (clear_session_memos) and the
verify-window sweep subset (conftest.sweep_subset) — VERDICT r14 #2/#3."""

from __future__ import annotations

import aws_etl_microservice_redshift_datalake_spark as engine
from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
    _ALL_MEMOS,
    clear_session_memos,
)

from tests.conftest import SF_SMALL, sweep_subset


def test_clear_session_memos_drops_and_rebuilds(spark):
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        _minhash_pairs_persisted,
    )

    df1 = _minhash_pairs_persisted(spark, SF_SMALL)
    n1 = df1.count()
    before = sum(
        1
        for memo in _ALL_MEMOS.values()
        for (skey, _sig) in memo
        if skey[0] == id(spark)
    )
    assert before >= 1
    dropped = clear_session_memos(spark)
    assert dropped >= before
    after = sum(
        1
        for memo in _ALL_MEMOS.values()
        for (skey, _sig) in memo
        if skey[0] == id(spark)
    )
    assert after == 0
    # cold rebuild must produce the identical relation
    df2 = _minhash_pairs_persisted(spark, SF_SMALL)
    assert df2.count() == n1
    assert df1.exceptAll(df2).isEmpty() and df2.exceptAll(df1).isEmpty()


def test_cc_loop_restores_shuffle_partitions(spark):
    # r15: the CC loop lowers spark.sql.shuffle.partitions for its own
    # round jobs (data-sized reduce tasks) — the session value must be
    # restored before the labels are handed back
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        connected_components,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["a", "b"]
    )
    labels = {r.node: r.comp for r in connected_components(pairs, "a", "b").collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_cc_loop_skips_sizing_on_non_integer_shuffle_partitions(spark, monkeypatch):
    # a non-integer spark.sql.shuffle.partitions has no ceiling to size the
    # round shuffles below: the loop must leave the conf alone, not crash
    from pyspark.sql.conf import RuntimeConfig

    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        connected_components,
    )

    key = "spark.sql.shuffle.partitions"
    orig_get, orig_set = RuntimeConfig.get, RuntimeConfig.set
    sets = []
    monkeypatch.setattr(
        RuntimeConfig,
        "get",
        lambda self, k, *a, **kw: "auto" if k == key else orig_get(self, k, *a, **kw),
    )
    monkeypatch.setattr(
        RuntimeConfig,
        "set",
        lambda self, k, v: (sets.append(k), orig_set(self, k, v))[1],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["a", "b"])
    labels = {r.node: r.comp for r in connected_components(pairs, "a", "b").collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert key not in sets


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
