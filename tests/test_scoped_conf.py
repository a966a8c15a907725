"""``session.scoped_conf`` and the two operators that scope session
confs through it: every key returns to its prior state (its old
value, or unset) on normal exit and when the body raises, and neither
``hierarchical_cells`` (AQE off for its checkpoints) nor a
``_replay_shuffle`` stream entry (measured shuffle partitions) leaves
the session changed after it returns."""

from __future__ import annotations

import os

import numpy as np
import pytest

from nsp_bolt_pipeline_spark.session import scoped_conf

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
    from nsp_bolt_pipeline_spark import registry
    from nsp_bolt_pipeline_spark.registry_streaming import (
        _REPLAY_MIN_PARTITIONS,
        cleanup_workdirs,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("sf0.001 testdata not present")
    registry.load_all()
    fn, _ = registry.REGISTRY["stream_d1_ingest_dedup"]
    # a session value the replay's measured count (the floor, for this
    # tiny wire) cannot coincide with, so a leaked override shows
    session_value = str(_REPLAY_MIN_PARTITIONS + 3)
    try:
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": session_value}):
            assert fn(spark, sf).count() > 0
            assert spark.conf.get("spark.sql.shuffle.partitions") == session_value
    finally:
        cleanup_workdirs()
