"""Cache lifecycle: managed_query unpersists the intermediates a
registry query persisted, and leaves other cached relations alone.

Round-6 verdict item 7: the session-lived persists in
q_text_dup_5gram_corpus / q_docs_training_pipeline /
q_minhash_lsh_pairs_capped are fine under the one-shot oracle harness
but leak in a long-lived production session; `lifecycle.managed_query`
is the wrapper that owns materialize -> yield -> unpersist.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

PERSISTING = [
    "q_text_dup_5gram_corpus",
    "q_docs_training_pipeline",
    "q_minhash_lsh_pairs_capped",
]


def _rdd_ids(spark) -> set:
    """IDs of currently persisted RDDs. Tests assert on SET DIFFERENCES
    of these, never on raw counts: the shared suite session can hold
    localCheckpoint RDDs from earlier tests (connected_components pins
    its edge lineage that way) which the ContextCleaner removes
    asynchronously — a raw count can legitimately DROP mid-test."""
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next())
    return out


@pytest.mark.parametrize("name", PERSISTING)
def test_managed_query_frees_storage(spark, name):
    from aind_exaspim_data_transformation_spark.queries.lifecycle import (
        managed_query,
    )

    spark.catalog.clearCache()
    before = _rdd_ids(spark)
    with managed_query(spark, SF_SMALL, name) as df:
        # collect(), not count(): count() over q_text_dup_5gram's
        # left-outer join lets Catalyst prove the distinct-keyed right
        # side cardinality-neutral and eliminate it — the cached branch
        # would never execute at all.
        rows = len(df.collect())
        assert rows > 0
        # the intermediate is materialized and registered while the
        # scope is open
        new_ids = _rdd_ids(spark) - before
        assert new_ids
    # everything the query registered has been freed on scope exit
    assert not (_rdd_ids(spark) & new_ids)


def test_managed_query_leaves_caller_cache_alone(spark):
    from aind_exaspim_data_transformation_spark.queries.lifecycle import (
        managed_query,
    )

    spark.catalog.clearCache()
    mine = spark.range(100).persist()
    mine.count()
    base = _rdd_ids(spark)
    assert base
    with managed_query(
        spark, SF_SMALL, "q_text_dup_5gram_corpus"
    ) as df:
        df.collect()
        opened = _rdd_ids(spark) - base
    # the query's intermediate is gone, the caller's cache is not
    assert not (_rdd_ids(spark) & opened)
    assert mine.storageLevel.useMemory
    mine.unpersist(blocking=True)


def test_unmanaged_path_unchanged(spark):
    """Outside a managed scope the persist still happens (the plan
    depends on it for the single-expansion guarantee) and stays —
    identical to the pre-wrapper behavior the oracle harness relies
    on."""
    from aind_exaspim_data_transformation_spark.queries import QUERIES

    spark.catalog.clearCache()
    before = _rdd_ids(spark)
    QUERIES["q_text_dup_5gram_corpus"](spark, SF_SMALL).collect()
    assert _rdd_ids(spark) - before
    spark.catalog.clearCache()


def test_run_query_public_entry_point(spark):
    """The package-level run_query routes through managed_query: the
    result arrives AND the persisted intermediates are freed."""
    import aind_exaspim_data_transformation_spark as pkg

    spark.catalog.clearCache()
    before = _rdd_ids(spark)
    rows = pkg.run_query(spark, SF_SMALL, "q_text_dup_5gram_corpus")
    assert len(rows) > 0
    assert not (_rdd_ids(spark) - before)
    n = pkg.run_query(
        spark, SF_SMALL, "q_dedup_exact", action=lambda df: df.count()
    )
    assert n > 0
    assert not (_rdd_ids(spark) - before)


def test_python_worker_pool_recycle(spark):
    """Round-15 (guide §5): the reused Python worker pool must be
    boundable — recycle_python_workers stops every daemon (workers exit
    with it via the daemon's process-group SIGHUP) and the next Python
    task transparently respawns a fresh pool."""
    import time

    from pyspark.sql import functions as F

    from aind_exaspim_data_transformation_spark.queries.lifecycle import (
        POOL_CEILING_MB,
        python_worker_pool_stats,
        recycle_python_workers,
    )

    @F.udf("long")
    def bump(x):
        return x + 1

    df = spark.range(1000).select(F.sum(bump(F.col("id")))).collect()
    assert df[0][0] == 500500
    before = python_worker_pool_stats(spark)
    assert before["n_processes"] >= 1  # daemon (+ workers) alive
    recycle_python_workers(spark)
    # Daemons get SIGTERM; give the group a moment to exit.
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        after = python_worker_pool_stats(spark)
        if after["n_processes"] == 0:
            break
        time.sleep(0.2)
    assert after["n_processes"] == 0, after
    # The pool respawns transparently on the next Python task.
    df2 = spark.range(10).select(F.sum(bump(F.col("id")))).collect()
    assert df2[0][0] == 55
    assert python_worker_pool_stats(spark)["n_processes"] >= 1
    assert POOL_CEILING_MB > 0


def test_failing_pool_recycle_never_masks_query_error(spark, monkeypatch):
    """managed_query's cleanup runs in a ``finally``: a pool recycle
    that raises (e.g. a Spark release without the private
    SparkEnv.pythonWorkers) must neither replace the query's own
    exception nor fail a query that succeeded."""
    from aind_exaspim_data_transformation_spark.queries import (
        QUERIES,
        lifecycle,
    )

    def broken_recycle(spark):
        raise RuntimeError("pythonWorkers is gone")

    monkeypatch.setattr(
        lifecycle,
        "python_worker_pool_stats",
        lambda spark: {"n_processes": 1, "rss_bytes": 1 << 60},
    )
    monkeypatch.setattr(lifecycle, "recycle_python_workers", broken_recycle)
    monkeypatch.setitem(QUERIES, "q_test_fails", lambda spark, sf: spark)

    class QueryError(Exception):
        pass

    with pytest.raises(QueryError):
        with lifecycle.managed_query(spark, SF_SMALL, "q_test_fails"):
            raise QueryError
    with lifecycle.managed_query(spark, SF_SMALL, "q_test_fails") as got:
        assert got is spark
    assert lifecycle.maybe_recycle_python_workers(spark) is False
