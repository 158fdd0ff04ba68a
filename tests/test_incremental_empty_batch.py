"""Empty incremental delta commits NOTHING (r12): a 0-row append or
merge would still cut a new table version, waking every downstream
stream (SYSTEM$STREAM_HAS_DATA compares version pointers) and making
CDC consumers walk a vacuous commit — in Snowflake a 0-row DML leaves
streams silent. The materialization probes isEmpty and skips the
commit; the first (CTAS) run is unaffected. Tracking tables follow the
same rule."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.model import Model
from dbt_omnata_push_spark.engine.store import TableStore
from dbt_omnata_push_spark.materializations import tracking
from dbt_omnata_push_spark.materializations.core import (
    high_watermark_incremental,
)

TRACKING = [
    tracking.SFDC_LOAD_TASKS,
    tracking.SFDC_LOAD_TASK_LOGS,
    tracking.SFMC_LOAD_TASKS,
    tracking.SFMC_LOAD_TASK_LOGS,
]


def _builder(ctx):
    return high_watermark_incremental(ctx, ctx.ref("src"), "d")


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark, TableStore(str(tmp_path / "store")))
    eng.seed(
        "src",
        spark.createDataFrame([(1, 1), (2, 2)], "id int, d int"),
    )
    eng.register(
        Model(
            "inc",
            builder=_builder,
            config={"materialized": "incremental"},
            depends_on=["src"],
        )
    )
    return eng


class TestEmptyIncrementalBatch:
    def test_no_new_version_on_empty_delta(self, spark, engine):
        res = engine.run()
        assert res["inc"].status == "success"
        v0 = engine.store.current_version("inc")
        res = engine.run()  # nothing new: watermark filters everything
        assert res["inc"].status == "success"
        assert "no commit" in res["inc"].message
        assert engine.store.current_version("inc") == v0
        assert engine.store.read(spark, "inc").count() == 2

    def test_stream_stays_silent_on_empty_delta(self, spark, engine):
        engine.run()
        engine.query("alter table inc add primary key (id)")
        engine.query("create stream s on table inc")
        engine.run(select=["inc"])  # empty delta
        st = engine.store.streams()["s"]
        assert st["offset"] == engine.store.current_version("inc")

    def test_nonempty_delta_still_commits(self, spark, engine):
        engine.run()
        v0 = engine.store.current_version("inc")
        engine.seed(
            "src",
            spark.createDataFrame(
                [(1, 1), (2, 2), (3, 9)], "id int, d int"
            ),
        )
        res = engine.run(select=["inc"])
        assert res["inc"].status == "success"
        assert engine.store.current_version("inc") == v0 + 1
        assert engine.store.read(spark, "inc").count() == 3

    def test_reseed_is_visible_to_next_run(self, spark, engine):
        """The r12 ref-staleness fix: a re-seed between runs must reach
        the next build (the view cache previously pinned the old
        frame)."""
        engine.run()
        engine.seed(
            "src",
            spark.createDataFrame(
                [(1, 1), (2, 2), (4, 8), (5, 9)], "id int, d int"
            ),
        )
        engine.run(select=["inc"])
        got = {
            r["id"] for r in engine.store.read(spark, "inc").collect()
        }
        assert got == {1, 2, 4, 5}


class TestEmptyTrackingTableBuild:
    """The same rule for tracking tables: the push models' tracking
    builds are empty on every run, and an existing table must not gain
    a version from them."""

    @pytest.fixture()
    def tracking_engine(self, spark, tmp_path):
        eng = Engine(spark, TableStore(str(tmp_path / "store")))
        for t in TRACKING:
            eng.register(
                Model(
                    t,
                    builder=lambda ctx, n=t: spark.createDataFrame(
                        [], tracking.SCHEMAS[n]
                    ),
                    config={
                        "materialized": "tracking_table",
                        "unique_key": "job_id",
                    },
                )
            )
        return eng

    def test_second_run_commits_nothing(self, spark, tracking_engine):
        eng = tracking_engine
        eng.run()
        eng.query(f"alter table {TRACKING[0]} add primary key (job_id)")
        eng.query(f"create stream s on table {TRACKING[0]}")
        versions = {t: eng.store.current_version(t) for t in TRACKING}
        res = eng.run()
        for t in TRACKING:
            assert res[t].status == "success"
            assert "no commit" in res[t].message
            assert eng.store.current_version(t) == versions[t]
        assert eng._resolve_stream_has_data(
            "SYSTEM$STREAM_HAS_DATA('s')"
        ) == "FALSE"

    def test_empty_build_with_new_column_still_widens(
        self, spark, tracking_engine
    ):
        eng = tracking_engine
        eng.run()
        name = tracking.SFDC_LOAD_TASKS
        v0 = eng.store.current_version(name)
        eng.register(
            Model(
                name,
                builder=lambda ctx: spark.createDataFrame(
                    [], tracking.SCHEMAS[name]
                ).withColumn("extra", F.lit(None).cast("string")),
                config={"materialized": "tracking_table", "unique_key": "job_id"},
            )
        )
        eng.run(select=[name])
        assert eng.store.current_version(name) == v0 + 1
        assert "extra" in eng.store.read(spark, name).columns
