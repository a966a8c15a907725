"""``session.scoped_conf`` and the two operators that scope session
confs through it: every key returns to its prior state (its old
value, or unset) on normal exit and when the body raises, and neither
``hierarchical_cells`` (AQE off for its checkpoints) nor a
``_replay_shuffle`` stream entry (measured shuffle partitions) leaves
the session changed after it returns. Every ``stream_*`` registry
entry leaves the whole session conf as it found it, apart from the
TZ/nanos pins ``read_table`` sets on the first read."""

from __future__ import annotations

import os

import numpy as np
import pytest

from nsp_bolt_pipeline_spark import registry
from nsp_bolt_pipeline_spark.session import scoped_conf

SF_DIR = "/root/testdata/sf0.001"
SET_KEY = "spark.nsp.test.scoped.set"
UNSET_KEY = "spark.nsp.test.scoped.unset"
#: a registered SQL conf the session never sets explicitly: unset, it
#: reads as Spark's default, so restoring must unset, not pin the default
DEFAULTED_KEY = "spark.sql.caseSensitive"


@pytest.fixture()
def keys(spark):
    spark.conf.set(SET_KEY, "before")
    yield
    spark.conf.unset(SET_KEY)


def _assert_prior_state(spark):
    assert spark.conf.get(SET_KEY) == "before"
    assert spark.conf.get(UNSET_KEY, None) is None
    assert spark.conf.get(DEFAULTED_KEY, None) is None


def test_scoped_conf_restores_on_exit(spark, keys):
    assert spark.conf.get(DEFAULTED_KEY, None) is None
    scoped = {SET_KEY: "inside", UNSET_KEY: "inside", DEFAULTED_KEY: "true"}
    with scoped_conf(spark, scoped):
        for k, v in scoped.items():
            assert spark.conf.get(k) == v
    _assert_prior_state(spark)
    assert spark.conf.get(DEFAULTED_KEY) == "false"


def test_scoped_conf_restores_when_body_raises(spark, keys):
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {SET_KEY: "inside", UNSET_KEY: "inside"}):
            raise RuntimeError("boom")
    _assert_prior_state(spark)


def test_hierarchical_cells_leaves_aqe_as_it_was(spark):
    from nsp_bolt_pipeline_spark.operators.clustering import hierarchical_cells

    before = spark.conf.get("spark.sql.adaptive.enabled")
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=4).tolist()) for i in range(48)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cells = hierarchical_cells(df, target_cell_size=8, branching=4, dim=4)
    assert cells.count() == 48
    assert spark.conf.get("spark.sql.adaptive.enabled") == before


def test_replay_shuffle_entry_leaves_shuffle_partitions_as_it_was(spark):
    from nsp_bolt_pipeline_spark.registry_streaming import (
        _REPLAY_MIN_PARTITIONS,
        cleanup_workdirs,
    )

    if not os.path.isdir(SF_DIR):
        pytest.skip("sf0.001 testdata not present")
    registry.load_all()
    fn, _ = registry.REGISTRY["stream_d1_ingest_dedup"]
    # a session value the replay's measured count (the floor, for this
    # tiny wire) cannot coincide with, so a leaked override shows
    session_value = str(_REPLAY_MIN_PARTITIONS + 3)
    try:
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": session_value}):
            assert fn(spark, SF_DIR).count() > 0
            assert spark.conf.get("spark.sql.shuffle.partitions") == session_value
    finally:
        cleanup_workdirs()


registry.load_all()
STREAM_ENTRIES = sorted(n for n in registry.REGISTRY if n.startswith("stream_"))


@pytest.fixture(scope="module")
def pinned_spark(spark):
    """The session after one ``read_table``, so its TZ/nanos pins are
    already in place before any entry's snapshot; its shuffle
    partition count is one no ``_replay_shuffle`` floor coincides
    with, so a leaked override shows."""
    from nsp_bolt_pipeline_spark.registry_streaming import (
        _REPLAY_MIN_PARTITIONS,
    )
    from nsp_bolt_pipeline_spark.sources.readers import read_table

    if not os.path.isdir(SF_DIR):
        pytest.skip("sf0.001 testdata not present")
    session_value = str(_REPLAY_MIN_PARTITIONS + 3)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": session_value}):
        read_table(spark, SF_DIR, "events").limit(1).collect()
        yield spark


@pytest.mark.parametrize("name", STREAM_ENTRIES)
def test_stream_entry_leaves_session_conf_unchanged(pinned_spark, name):
    from nsp_bolt_pipeline_spark.registry_streaming import cleanup_workdirs

    spark = pinned_spark
    before = dict(spark.conf.getAll)
    fn, _ = registry.REGISTRY[name]
    try:
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    finally:
        cleanup_workdirs()
    assert dict(spark.conf.getAll) == before
