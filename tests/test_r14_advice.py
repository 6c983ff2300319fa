"""Regression tests for the round-14 advisor findings (ADVICE.md):

1. bench.py's warm-rep/memoized-hub semantics must be recorded in the
   artifact itself (metric suffix + memoized query list) so totals are
   never compared 1:1 against pre-warm rounds.
2. The Python DataSource's partitions() must never re-emit rows this
   instance already saw committed — but must NOT clamp the restore
   replay of an uncommitted batch (covered in test_r13_advice.py,
   amended: the advisor-suggested high-water clamp dropped the replay
   on a real engine probe).
3. The session memo must evict entries of stopped sessions on a miss
   instead of pinning dead DataFrame objects forever.
"""

from __future__ import annotations


class _FakeCtx:
    _jsc = object()  # a live JVM handle; SparkContext.stop() sets it to None


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeCtx()

    def stop(self):
        self.sparkContext._jsc = None


def test_memo_evicts_stopped_sessions():
    from scala_data_pipeline_spark.session import HITS, MISSES, memo

    hits, misses = HITS["pairs"], MISSES["pairs"]
    s1 = _FakeSession()
    a = memo(s1, ("pairs", "sf"), object)
    memo(s1, ("core", "sf"), object)
    assert memo(s1, ("pairs", "sf"), object) is a
    assert (HITS["pairs"] - hits, MISSES["pairs"] - misses) == (1, 1)

    # A miss in a new session after the old one STOPPED drops every
    # entry of the stopped session: nothing of it stays pinned.
    s1.stop()
    s2 = _FakeSession()
    c = memo(s2, ("pairs", "sf"), object)
    assert c is not a
    assert "_memo" not in vars(s1)
    assert memo(s2, ("pairs", "sf"), object) is c


def test_memo_keeps_concurrent_live_sessions():
    """Two concurrently LIVE sessions must not evict each other's
    entries on a miss (that silently rebuilt hubs each time)."""
    from scala_data_pipeline_spark.session import memo

    s1 = _FakeSession()
    s2 = _FakeSession()
    a = memo(s1, ("pairs", "sf"), object)
    c = memo(s2, ("pairs", "sf"), object)
    assert c is not a
    # s1's entry survives s2's miss and is served on the next s1 call.
    assert memo(s1, ("pairs", "sf"), object) is a
    assert memo(s2, ("pairs", "sf"), object) is c
    # A session whose JVM handle is already torn down counts as stopped.
    s2.sparkContext._jsc = None
    memo(_FakeSession(), ("pairs", "sf"), object)
    assert "_memo" not in vars(s2)
    assert memo(s1, ("pairs", "sf"), object) is a


def test_bench_records_warm_semantics(spark, sf_dir):
    """The bench artifact must self-describe the r14 semantics change
    (warm rep + memoized hubs) so round-over-round totals are
    attributable (round-14 advisor, medium). The hub consumers it
    records are the queries whose construction looks up a hub."""
    import bench

    from scala_data_pipeline_spark.queries import all_queries, extra_queries

    assert bench.METRIC.endswith("_warm")

    queries = dict(all_queries(), dedup_exact=extra_queries()["dedup_exact"])
    consumers = set()
    for name, fn in queries.items():
        lookups = bench.hub_lookups()
        fn(spark, sf_dir)
        if bench.hub_lookups() > lookups:
            consumers.add(name)
    assert {
        "dedup_components_star",
        "dedup_lsh_quality",
        "dedup_source_overlap",
    } <= consumers
    assert "dedup_exact" not in consumers
