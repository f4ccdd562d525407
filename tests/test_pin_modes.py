"""Materialization posture (materialize.py): the session-level
SPARK_GRAFT_PIN_MODE switch over both entry points (pin, barrier), the
explicit block release and its sole-handle rule, the laziness the
docstrings claim, and a source guard that keeps every materialization
in the one module."""

from __future__ import annotations

import pathlib
import re
import uuid

import pytest
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark import materialize
from financial_data_lakehouse_pipeline__spark.materialize import (
    PIN_MODE_ENV,
    barrier,
    pin,
    release,
)

MODES = ("local", "replicated", "reliable", "off")


@pytest.fixture()
def small_df(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )


@pytest.fixture()
def set_mode(spark, monkeypatch, tmp_path):
    def _set(mode: str) -> None:
        if mode == "reliable":
            spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        monkeypatch.setenv(PIN_MODE_ENV, mode)

    return _set


def _plan_name(df) -> str:
    return df._jdf.queryExecution().logical().getClass().getSimpleName()


def _rdd_level(df):
    return df._jdf.queryExecution().logical().rdd().getStorageLevel()


def test_pin_default_is_local_checkpoint(small_df, monkeypatch):
    monkeypatch.delenv(PIN_MODE_ENV, raising=False)
    pinned = pin(small_df)
    # a (lazy) localCheckpoint rewrites the plan to a LogicalRDD leaf
    assert _plan_name(pinned) == "LogicalRDD"
    assert pinned.count() == 100


def test_pin_mode_off_keeps_full_lineage(small_df, set_mode):
    set_mode("off")
    assert pin(small_df) is small_df  # the global kill switch: no-op


def test_pin_mode_replicated_persists_with_two_replicas(small_df, set_mode):
    set_mode("replicated")
    pinned = pin(small_df)
    lvl = pinned.storageLevel
    # MEMORY_AND_DISK_2: lineage kept (recompute possible), 2 replicas —
    # the executor-loss-tolerant variant for corpus-sized pins
    assert lvl.replication == 2
    assert lvl.useMemory and lvl.useDisk
    assert pinned.count() == 100
    pinned.unpersist()


def test_pin_mode_reliable_checkpoints(small_df, set_mode):
    set_mode("reliable")
    pinned = pin(small_df)
    assert _plan_name(pinned) == "LogicalRDD"
    assert pinned.count() == 100


@pytest.mark.parametrize("mode", MODES)
def test_barrier_materializes_in_every_mode(small_df, set_mode, mode):
    """A barrier is never skipped — ``off`` included — and only
    ``replicated`` changes its replication."""
    set_mode(mode)
    b = barrier(small_df)
    assert _plan_name(b) == "LogicalRDD"
    assert _rdd_level(b).replication() == (2 if mode == "replicated" else 1)
    assert b.count() == 100


def test_pin_modes_produce_identical_results(small_df, set_mode):
    expected = sorted(r["k"] for r in small_df.collect())
    for mode in MODES:
        set_mode(mode)
        for entry in (pin, barrier):
            got = sorted(r["k"] for r in entry(small_df).collect())
            assert got == expected, (mode, entry.__name__)


@pytest.mark.parametrize("mode", ["off", "replicated"])
def test_loop_operators_match_local_mode(spark, set_mode, monkeypatch, mode):
    """Loop operators keep their barriers under every mode, so skipping
    (``off``) or replicating their reuse pins leaves results unchanged."""
    from financial_data_lakehouse_pipeline__spark.operators import dedup, graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 7), (8, 8), (9, 10), (10, 11), (11, 9)],
        "src long, dst long",
    )
    docs = spark.range(1, 13).withColumnRenamed("id", "doc_id")
    pairs = edges.filter("src < dst").select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )

    def run():
        return (
            sorted(tuple(r) for r in graph.connected_components(edges).collect()),
            sorted(tuple(r) for r in dedup.duplicate_clusters(docs, pairs).collect()),
        )

    monkeypatch.delenv(PIN_MODE_ENV, raising=False)
    expected = run()
    set_mode(mode)
    assert run() == expected


def test_release_pin_frees_materialized_blocks(small_df, monkeypatch):
    monkeypatch.delenv(PIN_MODE_ENV, raising=False)
    pinned = pin(small_df)
    assert pinned.count() == 100  # materialize the lazy checkpoint
    rdd = pinned._jdf.queryExecution().logical().rdd()
    assert rdd.getStorageLevel().useMemory() or rdd.getStorageLevel().useDisk()
    release(pinned)
    lvl = rdd.getStorageLevel()
    assert not (lvl.useMemory() or lvl.useDisk())


def test_release_pin_is_safe_on_unpinned_frames(small_df):
    # best-effort contract: arbitrary plans (no LogicalRDD) are a no-op
    release(small_df)
    assert small_df.count() == 100


def test_reusing_a_released_pin_fails(small_df, monkeypatch):
    """The failure release()'s sole-handle rule guards against: a local
    checkpoint has no lineage to fall back on once its blocks are gone."""
    monkeypatch.delenv(PIN_MODE_ENV, raising=False)
    pinned = pin(small_df)
    assert pinned.count() == 100
    release(pinned)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        pinned.count()


def _jobs_during(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"materialize-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lazy_pin_runs_upstream_shuffle_under_aqe(spark, small_df, monkeypatch):
    """``eager=False`` is not "no jobs at build time": under AQE (the
    session default) a lazy checkpoint over a shuffle runs the shuffle's
    upstream job as soon as the pin is created."""
    monkeypatch.delenv(PIN_MODE_ENV, raising=False)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert _jobs_during(spark, lambda: pin(small_df)) == 0
    assert _jobs_during(spark, lambda: pin(small_df.groupBy("k").count())) == 1


def test_no_materialization_outside_the_module():
    """Every pin, checkpoint and persist in the package goes through
    materialize.py, so SPARK_GRAFT_PIN_MODE reaches every site."""
    pkg = pathlib.Path(materialize.__file__).parent
    direct = re.compile(
        r"\.localCheckpoint\(|\.persist\(|\.checkpoint\(eager|\.unpersist\("
    )
    offenders = [
        f"{path.relative_to(pkg)}:{no}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "materialize.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if direct.search(line)
    ]
    assert not offenders, offenders
