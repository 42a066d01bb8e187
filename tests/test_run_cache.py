"""Contract tests for operators/run_cache.py — the bounded-persist
tracker that 15+ operators now route their shared intermediates
through (text r7; funnel/ANN/analytics/sampling r8).

The contract: persist_tracked() caches and records a DataFrame;
release_prior() unpersists EVERYTHING recorded (global across operator
modules — by design, so repeated bench/oracle runs never accumulate
cached copies); a tracked operator calls release_prior() once at
entry, so invoking operator B drops operator A's caches.  Release must
never raise into the next operator's entry, even for an
already-unpersisted frame.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from splitserve_spark.operators.run_cache import (
    _PERSISTED,
    persist_tracked,
    release_prior,
)
from splitserve_spark.registry import REGISTRY, load_all
from tests.oracle_utils import SF_DIR


def test_persist_and_release_roundtrip(spark):
    release_prior()  # clean slate regardless of test order
    df = persist_tracked(spark.range(100).select((F.col("id") * 2).alias("x")))
    df.count()  # materialize
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    assert len(_PERSISTED) == 1
    release_prior()
    assert not _PERSISTED
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)


def test_release_survives_already_unpersisted_frame(spark):
    release_prior()
    df = persist_tracked(spark.range(10))
    df.count()
    df.unpersist()  # caller races the tracker — release must not raise
    release_prior()
    assert not _PERSISTED


def test_second_tracked_operator_releases_the_first(spark):
    """The cross-operator contract: each tracked operator's entry
    releases the PREVIOUS one's intermediates, so back-to-back
    invocations (bench loops, tools/sweep.py runs) hold at most one
    operator's caches at a time."""
    load_all()
    release_prior()
    REGISTRY["stat_freq_items"].fn(spark, SF_DIR).collect()
    first = list(_PERSISTED)
    assert first, "stat_freq_items should track persisted intermediates"
    REGISTRY["agg_mad_outliers"].fn(spark, SF_DIR).collect()
    # The first operator's frames are gone from the tracker and
    # actually unpersisted; only the second's remain.
    assert all(f not in _PERSISTED for f in first)
    for f in first:
        assert not (f.storageLevel.useMemory or f.storageLevel.useDisk)
    assert _PERSISTED, "agg_mad_outliers should track persisted intermediates"
    release_prior()
