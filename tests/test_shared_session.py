"""Queries share one session: no query path may set the caller's session
conf, and a lake table rewritten in place is never served from Spark's
cache (the CacheManager matches plans by table path, not file state)."""

from __future__ import annotations

import re
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql.conf import RuntimeConfig

import aws_etl_microservice_redshift_datalake_spark as engine
from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
    _shingle_arrays_persisted,
    connected_components,
)

from tests.conftest import SF_SMALL

QS = engine.all_queries()


def test_query_paths_never_set_session_conf(spark, monkeypatch):
    """A conf set and restored around a query races every other thread on
    the session: two interleaved CC loops could leave it at ~1 reduce
    partition for good. Streams set their conf on a session of their own."""
    caller, other = [], []
    orig_set = RuntimeConfig.set

    def spy(self, key, value):
        (caller if self is spark.conf else other).append(key)
        return orig_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    for name in ("q_dedup_clusters", "q_stream_watermark", "q_stream_stateful"):
        assert QS[name](spark, SF_SMALL).collect(), name
    assert caller == []
    assert "spark.sql.session.timeZone" in other  # the spy saw the stream sessions


def _join_partitions(spark) -> int:
    a = spark.range(1000).withColumnRenamed("id", "k")
    b = spark.range(1000).withColumnRenamed("id", "k").hint("shuffle_merge")
    plan = a.join(b, "k")._jdf.queryExecution().executedPlan().toString()
    return int(re.search(r"hashpartitioning\(k#\d+L?, (\d+)\)", plan).group(1))


def test_cc_beside_a_join_planned_on_another_thread(spark):
    """A join planned while connected components runs on another thread
    gets the session's own shuffle-partition count."""
    want = int(spark.conf.get("spark.sql.shuffle.partitions"))
    path = spark.createDataFrame([(i, i + 1) for i in range(60)], "a long, b long")
    done = threading.Event()
    seen: list[int] = []

    def plan_joins():
        while not done.is_set():
            seen.append(_join_partitions(spark))

    planner = threading.Thread(target=plan_joins)
    planner.start()
    try:
        labels = connected_components(path, "a", "b").collect()
    finally:
        done.set()
        planner.join(60)
    assert not planner.is_alive()
    assert {r.comp for r in labels} == {0} and len(labels) == 61
    assert seen and set(seen) == {want}


def _rewrite_with_fewer_docs(lake) -> None:
    docs = lake / "documents.parquet"
    t = pq.read_table(docs)
    docs.chmod(0o644)  # the fixture lake ships read-only
    pq.write_table(t.slice(0, t.num_rows // 2), docs)


def test_rewritten_corpus_is_not_served_stale(spark, tmp_path):
    """A shingle consumer run after an in-place rewrite of documents.parquet
    answers as a run that starts from an empty cache does."""
    lake = tmp_path / "lake"
    shutil.copytree(SF_SMALL, lake)
    sf = str(lake)

    def run() -> tuple[int, set]:
        n = _shingle_arrays_persisted(spark, sf).count()
        return n, {tuple(r) for r in QS["q_ngram_jaccard"](spark, sf).collect()}

    before = run()
    _rewrite_with_fewer_docs(lake)
    after = run()
    spark.catalog.clearCache()
    cold = run()
    assert after == cold
    assert after[0] < before[0]
    texts = pq.read_table(lake / "documents.parquet").column("text").drop_null()
    assert after[0] == len(texts)


def test_threads_materializing_shingles_cache_one_copy(spark, tmp_path):
    """N threads building the same deterministic relation share one cached
    copy: the CacheManager registers a plan once, however the race lands."""
    lake = tmp_path / "lake"
    shutil.copytree(SF_SMALL, lake)
    sc = spark.sparkContext

    def rdds() -> set[int]:
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    before = rdds()
    gate = threading.Barrier(8, timeout=60)

    def build(_):
        gate.wait()
        return _shingle_arrays_persisted(spark, str(lake)).count()

    with ThreadPoolExecutor(max_workers=8) as ex:
        counts = set(ex.map(build, range(8), timeout=300))
    assert len(counts) == 1
    new = rdds() - before
    assert len(new) == 1, new
