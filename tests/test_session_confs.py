"""prepare_session conf discipline.

Required confs are always (re)applied; SIZING confs are defaults-only
— prepare_session runs inside every load_table call, so if it stomped
a non-default value it would break sized_shuffle's temporary cap
mid-operator and override deliberate site configs.  Temporary conf
changes all go through scoped_conf, which restores on every exit path.
"""

from __future__ import annotations

import pytest

from pg_telemetry_spark.session import (
    SIZING_CONFS,
    prepare_session,
    scoped_conf,
    sized_shuffle,
)

_SHUF = "spark.sql.shuffle.partitions"


def test_required_confs_always_reapplied(spark):
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    prepare_session(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_sizing_conf_applied_over_spark_default(spark):
    old = spark.conf.get(_SHUF)
    try:
        spark.conf.set(_SHUF, SIZING_CONFS[_SHUF][0])  # the Spark default
        prepare_session(spark)
        assert spark.conf.get(_SHUF) == SIZING_CONFS[_SHUF][1]
    finally:
        spark.conf.set(_SHUF, old)


def test_sizing_conf_respects_non_default_value(spark):
    old = spark.conf.get(_SHUF)
    try:
        spark.conf.set(_SHUF, "17")  # deliberate site/operator value
        prepare_session(spark)
        assert spark.conf.get(_SHUF) == "17"
    finally:
        spark.conf.set(_SHUF, old)


def test_sized_shuffle_cap_survives_prepare_session(spark):
    with sized_shuffle(spark, 4):
        prepare_session(spark)  # load_table inside an operator loop
        assert spark.conf.get(_SHUF) == "4"
    assert spark.conf.get(_SHUF) != "4"


def test_scoped_conf_restores_after_exception(spark):
    old = spark.conf.get(_SHUF)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {_SHUF: "3"}):
            assert spark.conf.get(_SHUF) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(_SHUF) == old


def test_scoped_conf_nested_scopes_restore_in_order(spark):
    old = spark.conf.get(_SHUF)
    with scoped_conf(spark, {_SHUF: "5"}):
        with scoped_conf(spark, {_SHUF: "3"}):
            assert spark.conf.get(_SHUF) == "3"
        assert spark.conf.get(_SHUF) == "5"
    assert spark.conf.get(_SHUF) == old


def test_scoped_conf_leaves_unset_key_unset(spark):
    """A key with a built-in default that was never set must come back
    unset, not pinned to the default's value."""
    key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.unset(key)
    default = spark.conf.get(key)
    with scoped_conf(spark, {key: "com.example.Provider"}):
        assert spark.conf.get(key) == "com.example.Provider"
    assert spark.conf.get(key, None) is None
    assert spark.conf.get(key) == default


def test_sized_shuffle_only_lowers_the_width(spark):
    old = spark.conf.get(_SHUF)
    with sized_shuffle(spark, int(old) + 10):
        assert spark.conf.get(_SHUF) == old
    with sized_shuffle(spark, 2, adaptive=False):
        assert spark.conf.get(_SHUF) == "2"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get(_SHUF) == old
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_reliable_checkpoint_dir_engages(spark, tmp_path):
    """With PG_TELEMETRY_SPARK_CHECKPOINT_DIR set, iterative operators
    switch from localCheckpoint (executor-local, unreplicated) to
    reliable checkpoint() into the directory — the conf a real
    cluster sets so lineage-truncated rounds survive executor loss.
    Result must be identical on both paths and the directory must
    actually receive checkpoint data."""
    import os

    from pg_telemetry_spark.registry import all_queries

    reg = all_queries()
    sf = "/root/testdata/sf0.001"
    base = {
        (r.part, r.rank) for r in reg["wl_pagerank"].fn(spark, sf).collect()
    }
    ckpt = tmp_path / "ckpt"
    os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"] = str(ckpt)
    try:
        got = {
            (r.part, r.rank) for r in reg["wl_pagerank"].fn(spark, sf).collect()
        }
    finally:
        del os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"]
    assert got == base
    files = [p for p in ckpt.rglob("*") if p.is_file()]
    assert files, "no reliable-checkpoint files written"


def test_changed_checkpoint_dir_reapplied_within_one_app(spark, tmp_path):
    """_CKPT_DIR_LAST tracks the last-APPLIED dir per app: changing
    PG_TELEMETRY_SPARK_CHECKPOINT_DIR mid-app must route new
    checkpoints into the NEW directory instead of being silently
    ignored (ADVICE r13), including on an A->B->A REVISIT — the case
    the former (app_id, dir) set keying got wrong, because (app, A)
    was already a member the second time A came around (ADVICE r14)."""
    import os

    from pg_telemetry_spark.session import iter_checkpoint

    df = spark.range(100).withColumnRenamed("id", "v")
    d1, d2 = tmp_path / "ckpt_a", tmp_path / "ckpt_b"
    counts: dict = {}
    for d in (d1, d2, d1):  # third leg REVISITS d1
        os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"] = str(d)
        try:
            assert iter_checkpoint(df).count() == 100
        finally:
            del os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"]
        files = [p for p in d.rglob("*") if p.is_file()]
        assert files, f"no checkpoint files written under {d}"
        prev = counts.get(str(d))
        if prev is not None:
            assert len(files) > prev, (
                f"revisited dir {d} received no NEW checkpoint data — "
                "the checkpoint was misrouted to the previous dir"
            )
        counts[str(d)] = len(files)


def test_eager_reliable_checkpoint_releases_its_persist(spark, tmp_path):
    """iter_checkpoint persists around the eager reliable checkpoint
    (the write is a second job) and must release that cache before
    returning — the cache contract forbids open-ended pins."""
    import os

    from pg_telemetry_spark.session import iter_checkpoint

    df = spark.range(50).withColumnRenamed("id", "v")
    os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"] = str(tmp_path / "ck")
    try:
        out = iter_checkpoint(df)
        assert out.count() == 50
    finally:
        del os.environ["PG_TELEMETRY_SPARK_CHECKPOINT_DIR"]
    lvl = df._jdf.storageLevel()
    assert not (lvl.useMemory() or lvl.useDisk()), (
        "eager reliable checkpoint leaked its persist on the input frame"
    )
