"""SCD2 snapshot materialization (judge r4 #3).

dbt's fourth standard materialization class; the reference scaffolds
snapshots/ (.gitkeep only), so semantics follow stock dbt: check /
timestamp strategies, interval close on change, hard-delete
invalidation opt-in, and O(open+changed) commits via
TableStore.scd2_commit (closed history hard-linked, never rewritten).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.model import Model
from dbt_omnata_push_spark.engine.store import TableStore
from dbt_omnata_push_spark.materializations.snapshot import snapshot_apply

TS1, TS2, TS3 = "2026-01-01 00:00:00", "2026-02-01 00:00:00", "2026-03-01 00:00:00"


def _src(spark, rows):
    return spark.createDataFrame(rows, "id int, status string, amount double")


@pytest.fixture()
def store(tmp_path):
    return TableStore(str(tmp_path / "warehouse"))


def _hist(spark, store, name="dim"):
    return store.read(spark, name).orderBy("id", "dbt_valid_from")


def test_first_run_opens_all_rows(spark, store):
    snapshot_apply(
        spark, store, "dim",
        _src(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
        "id", snapshot_ts=TS1,
    )
    rows = _hist(spark, store).collect()
    assert len(rows) == 2
    assert all(r.dbt_is_current and r.dbt_valid_to is None for r in rows)
    assert {str(r.dbt_valid_from) for r in rows} == {TS1}
    assert len({r.dbt_scd_id for r in rows}) == 2


def test_changed_row_closes_interval_and_reopens(spark, store):
    snapshot_apply(spark, store, "dim",
                   _src(spark, [(1, "a", 1.0), (2, "b", 2.0)]), "id",
                   snapshot_ts=TS1)
    snapshot_apply(spark, store, "dim",
                   _src(spark, [(1, "a", 9.0), (2, "b", 2.0), (3, "c", 3.0)]),
                   "id", snapshot_ts=TS2)
    rows = {(r.id, str(r.dbt_valid_from)): r for r in _hist(spark, store).collect()}
    assert len(rows) == 4
    closed = rows[(1, TS1)]
    assert not closed.dbt_is_current and str(closed.dbt_valid_to) == TS2
    assert closed.amount == 1.0  # closed row keeps OLD values
    reopened = rows[(1, TS2)]
    assert reopened.dbt_is_current and reopened.amount == 9.0
    unchanged = rows[(2, TS1)]
    assert unchanged.dbt_is_current and unchanged.dbt_valid_to is None
    fresh = rows[(3, TS2)]
    assert fresh.dbt_is_current and str(fresh.dbt_valid_from) == TS2


def test_rerun_same_source_is_noop_on_rows(spark, store):
    src = _src(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    snapshot_apply(spark, store, "dim", src, "id", snapshot_ts=TS1)
    before = sorted(map(tuple, _hist(spark, store).collect()))
    snapshot_apply(spark, store, "dim", src, "id", snapshot_ts=TS2)
    after = sorted(map(tuple, _hist(spark, store).collect()))
    assert before == after


def test_three_runs_chain_intervals(spark, store):
    for ts, amt in ((TS1, 1.0), (TS2, 2.0), (TS3, 3.0)):
        snapshot_apply(spark, store, "dim", _src(spark, [(1, "a", amt)]),
                       "id", snapshot_ts=ts)
    rows = _hist(spark, store).collect()
    assert [(str(r.dbt_valid_from), r.dbt_valid_to and str(r.dbt_valid_to), r.amount)
            for r in rows] == [(TS1, TS2, 1.0), (TS2, TS3, 2.0), (TS3, None, 3.0)]
    assert [r.dbt_is_current for r in rows] == [False, False, True]


def test_check_cols_subset_ignores_other_changes(spark, store):
    snapshot_apply(spark, store, "dim", _src(spark, [(1, "a", 1.0)]), "id",
                   check_cols=["status"], snapshot_ts=TS1)
    snapshot_apply(spark, store, "dim", _src(spark, [(1, "a", 99.0)]), "id",
                   check_cols=["status"], snapshot_ts=TS2)
    assert _hist(spark, store).count() == 1  # amount not tracked
    snapshot_apply(spark, store, "dim", _src(spark, [(1, "z", 99.0)]), "id",
                   check_cols=["status"], snapshot_ts=TS3)
    assert _hist(spark, store).count() == 2


def test_null_transitions_are_null_safe(spark, store):
    snapshot_apply(spark, store, "dim", _src(spark, [(1, None, 1.0)]), "id",
                   snapshot_ts=TS1)
    # NULL -> NULL: no change row
    snapshot_apply(spark, store, "dim", _src(spark, [(1, None, 1.0)]), "id",
                   snapshot_ts=TS2)
    assert _hist(spark, store).count() == 1
    # NULL -> value: change
    snapshot_apply(spark, store, "dim", _src(spark, [(1, "a", 1.0)]), "id",
                   snapshot_ts=TS3)
    assert _hist(spark, store).count() == 2


def test_hard_delete_invalidation_opt_in(spark, store):
    snapshot_apply(spark, store, "dim",
                   _src(spark, [(1, "a", 1.0), (2, "b", 2.0)]), "id",
                   snapshot_ts=TS1)
    # default: missing key keeps its open row
    snapshot_apply(spark, store, "dim", _src(spark, [(1, "a", 1.0)]), "id",
                   snapshot_ts=TS2)
    assert _hist(spark, store).filter("id = 2 AND dbt_is_current").count() == 1
    # opted in: missing key closes
    snapshot_apply(spark, store, "dim", _src(spark, [(1, "a", 1.0)]), "id",
                   snapshot_ts=TS3, invalidate_hard_deletes=True)
    r2 = _hist(spark, store).filter("id = 2").collect()
    assert len(r2) == 1 and not r2[0].dbt_is_current
    assert str(r2[0].dbt_valid_to) == TS3


def test_timestamp_strategy_uses_source_times(spark, store):
    def tsrc(rows):
        return spark.createDataFrame(rows, "id int, v string, updated_at timestamp")

    import datetime

    u1 = datetime.datetime(2026, 1, 15, 12, 0, 0)
    u2 = datetime.datetime(2026, 1, 20, 8, 30, 0)
    snapshot_apply(spark, store, "dim", tsrc([(1, "a", u1)]), "id",
                   strategy="timestamp", updated_at="updated_at")
    # same updated_at, different value -> NOT a change under timestamp strategy
    snapshot_apply(spark, store, "dim", tsrc([(1, "zzz", u1)]), "id",
                   strategy="timestamp", updated_at="updated_at")
    assert _hist(spark, store).count() == 1
    snapshot_apply(spark, store, "dim", tsrc([(1, "b", u2)]), "id",
                   strategy="timestamp", updated_at="updated_at")
    rows = _hist(spark, store).collect()
    assert [(str(r.dbt_valid_from), r.dbt_valid_to and str(r.dbt_valid_to))
            for r in rows] == [
        (str(u1), str(u2)), (str(u2), None)]


def test_closed_history_files_are_hard_linked_not_rewritten(spark, store):
    """The 100 TB property: a snapshot round must not rewrite closed
    history — previous closed part-files reappear in the new version
    via hard links (same inode)."""
    snapshot_apply(spark, store, "dim",
                   _src(spark, [(i, "a", float(i)) for i in range(10)]),
                   "id", snapshot_ts=TS1)
    snapshot_apply(spark, store, "dim",
                   _src(spark, [(i, "b" if i < 3 else "a", float(i)) for i in range(10)]),
                   "id", snapshot_ts=TS2)
    v_prev = store.current_version("dim")
    v2_closed = os.path.join(store._dir("dim"), f"v={v_prev}", "dbt_is_current=false")
    # change one more key -> next version must hard-link prior closed files
    snapshot_apply(spark, store, "dim",
                   _src(spark, [(i, "c" if i == 5 else ("b" if i < 3 else "a"), float(i))
                                for i in range(10)]),
                   "id", snapshot_ts=TS3)
    v3_closed = os.path.join(
        store._dir("dim"), f"v={store.current_version('dim')}", "dbt_is_current=false"
    )
    old = {f: os.stat(os.path.join(v2_closed, f)).st_ino
           for f in os.listdir(v2_closed) if f.endswith(".parquet")}
    new = {f: os.stat(os.path.join(v3_closed, f)).st_ino
           for f in os.listdir(v3_closed) if f.endswith(".parquet")}
    assert old and set(old) <= set(new)
    for f, ino in old.items():
        assert new[f] == ino  # same inode: linked, not copied
    # and the closed partition strictly grew (new files appended)
    assert len(new) > 0 and set(new) - set(old)


def test_dv_deleted_closed_row_stays_deleted_after_next_round(spark, store):
    """A snapshot round hard-links closed history, so it must carry the
    closed partition's deletion-vector rows with it."""
    snapshot_apply(spark, store, "dim",
                   _src(spark, [(1, "a", 1.0), (2, "b", 2.0)]), "id",
                   snapshot_ts=TS1)
    snapshot_apply(spark, store, "dim",
                   _src(spark, [(1, "a", 9.0), (2, "b", 2.0)]), "id",
                   snapshot_ts=TS2)
    assert store.delete_where(
        spark, "dim", (F.col("id") == 1) & ~F.col("dbt_is_current")
    ) == 1
    snapshot_apply(spark, store, "dim",
                   _src(spark, [(1, "a", 9.0), (2, "z", 2.0)]), "id",
                   snapshot_ts=TS3)
    rows = [(r.id, str(r.dbt_valid_from), r.dbt_is_current)
            for r in _hist(spark, store).collect()]
    assert rows == [(1, TS2, True), (2, TS1, False), (2, TS3, True)]


def test_engine_dispatch_snapshot_materialization(spark, tmp_path):
    store = TableStore(str(tmp_path / "wh"))
    eng = Engine(spark, store, vars={"snapshot_ts": TS1})
    eng.seed("dim_src", _src(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    eng.register(Model(
        name="dim_history",
        sql="SELECT * FROM {{ ref('dim_src') }}",
        config={"materialized": "snapshot", "unique_key": "id"},
    ))
    res = eng.run(["dim_history"])
    assert res["dim_history"].status == "success"
    assert res["dim_history"].rows_affected == 2
    eng2 = Engine(spark, store, vars={"snapshot_ts": TS2})
    eng2.seed("dim_src", _src(spark, [(1, "a", 5.0), (2, "b", 2.0)]))
    eng2.register(Model(
        name="dim_history",
        sql="SELECT * FROM {{ ref('dim_src') }}",
        config={"materialized": "snapshot", "unique_key": "id"},
    ))
    res2 = eng2.run(["dim_history"])
    assert res2["dim_history"].rows_affected == 3
    hist = store.read(spark, "dim_history")
    assert hist.filter(F.col("dbt_is_current")).count() == 2
    assert hist.filter("NOT dbt_is_current").count() == 1


# --------------------------------------------- point-in-time (r6b)


def test_snapshot_at_reconstructs_each_round(spark, tmp_path):
    from dbt_omnata_push_spark.materializations.snapshot import (
        snapshot_apply,
        snapshot_at,
    )

    store = TableStore(str(tmp_path / "pit"))
    s1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    s2 = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "k long, v string")
    snapshot_apply(spark, store, "d", s1, "k", snapshot_ts="2026-01-01 00:00:00")
    snapshot_apply(spark, store, "d", s2, "k", snapshot_ts="2026-02-01 00:00:00")
    hist = store.read(spark, "d")

    at_mid = {
        (r["k"], r["v"]) for r in snapshot_at(hist, "2026-01-15 00:00:00").collect()
    }
    assert at_mid == {(1, "a"), (2, "b")}
    at_post = {
        (r["k"], r["v"]) for r in snapshot_at(hist, "2026-02-15 00:00:00").collect()
    }
    assert at_post == {(1, "a"), (2, "B"), (3, "c")}
    # before the first round: nothing existed
    assert snapshot_at(hist, "2025-12-01 00:00:00").count() == 0
    # exactly AT a round boundary: the new interval is already open
    # (half-open [from, to))
    at_ts2 = {
        (r["k"], r["v"]) for r in snapshot_at(hist, "2026-02-01 00:00:00").collect()
    }
    assert at_ts2 == {(1, "a"), (2, "B"), (3, "c")}


def test_scd2_temporal_join_matches_at_most_one_version(spark, tmp_path):
    from dbt_omnata_push_spark.materializations.snapshot import (
        scd2_temporal_join,
        snapshot_apply,
    )

    store = TableStore(str(tmp_path / "tj"))
    s1 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v int")
    s2 = spark.createDataFrame([(1, 10), (2, 99)], "k long, v int")
    snapshot_apply(spark, store, "d", s1, "k", snapshot_ts="2026-01-01 00:00:00")
    snapshot_apply(spark, store, "d", s2, "k", snapshot_ts="2026-02-01 00:00:00")
    hist = store.read(spark, "d")
    facts = spark.createDataFrame(
        [
            (100, 2, "2026-01-15 00:00:00"),  # sees v=20
            (101, 2, "2026-02-15 00:00:00"),  # sees v=99
            (102, 1, "2026-02-15 00:00:00"),  # unchanged key: v=10
            (103, 7, "2026-02-15 00:00:00"),  # unknown key
            (104, 2, "2025-01-01 00:00:00"),  # before history began
        ],
        "fact_id long, k long, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))

    inner = {
        r["fact_id"]: r["v"]
        for r in scd2_temporal_join(facts, hist, "k", "ts").collect()
    }
    assert inner == {100: 20, 101: 99, 102: 10}
    left = scd2_temporal_join(facts, hist, "k", "ts", how="left")
    assert left.count() == 5  # every fact exactly once (disjoint intervals)
    nulls = {
        r["fact_id"] for r in left.filter(F.col("v").isNull()).collect()
    }
    assert nulls == {103, 104}
