"""Failure and lifecycle contracts of ``polars_sim_spark.cache``.

* ``materialize_count`` falls back to ``Dataset.count()`` only when the
  internal RDD handle is unavailable; a job that fails raises its own
  error after ONE attempt instead of re-running the scan.
* The IVF candidate generator's lazy ``localCheckpoint`` is registered
  under a slot, so a second call releases the first call's blocks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_sim_spark import cache
from polars_sim_spark.operators import dedup


def test_materialize_count_surfaces_job_failure_once(spark):
    @F.udf(T.LongType())
    def explode_on_seven(x):
        if x == 7:
            raise ValueError("udf-failure-marker")
        return x

    df = spark.range(20).select(explode_on_seven("id").alias("v"))
    sc = spark.sparkContext
    sc.setJobGroup("materialize-count-failure", "materialize-count-failure")
    try:
        with pytest.raises(Exception, match="udf-failure-marker"):
            cache.materialize_count(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # one failed scan, not a second full scan through df.count()
    assert len(sc.statusTracker().getJobIdsForGroup("materialize-count-failure")) == 1


def test_materialize_count_and_partitions_without_handle(spark):
    class NoHandle:
        """A frame-like object without the JVM accessor."""

        def count(self):
            return 3

        @property
        def rdd(self):
            return spark.sparkContext.parallelize([1, 2, 3], 2)

    assert cache.materialize_count(NoHandle()) == 3
    assert cache.num_partitions(NoHandle()) == 2


def test_ivf_checkpoint_released_by_next_call(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    kw = dict(min_cosine=0.35, num_centroids=8, nprobe=2, assignment="expr")
    n1 = dedup.embedding_ivf_near_dup_pairs(emb, "vec_id", "embedding", **kw).count()
    h1 = cache._CKPT_SLOTS["dedup.ivf_assigned"]
    lvl = h1.getStorageLevel()
    assert lvl.useMemory() or lvl.useDisk()  # blocks live after call 1

    n2 = dedup.embedding_ivf_near_dup_pairs(emb, "vec_id", "embedding", **kw).count()
    h2 = cache._CKPT_SLOTS["dedup.ivf_assigned"]
    assert h2.id() != h1.id()
    lvl = h1.getStorageLevel()
    assert not (lvl.useMemory() or lvl.useDisk())  # call 1 released
    assert n1 == n2
    assert cache.release_checkpoint("dedup.ivf_assigned") is True

