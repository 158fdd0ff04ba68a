"""A push model's records are evaluated once per run.

The empty-load probe, the global row index and the push stage all read
one checkpoint of the records, so an expensive model (an anti-join over
the whole log table) runs once, and the row index numbers exactly the
rows pushed. Evaluations are counted by an accumulator bumped in a UDF
inside the model's builder.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from dbt_omnata_push_spark.connectors import (
    MockMarketingCloudConnector,
    MockSalesforceConnector,
)
from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.model import Model
from dbt_omnata_push_spark.engine.store import TableStore
from dbt_omnata_push_spark.materializations import tracking

N = 40


def _counted_records(spark, acc):
    """Records of ``accounts``; every row read bumps ``acc``. The UDF
    is a filter, so no action can prune it away (a projected column
    would be dropped by the count and emptiness probes)."""

    def bump(_):
        acc.add(1)
        return True

    seen = F.udf(bump, BooleanType()).asNondeterministic()

    def build(ctx):
        return (
            ctx.ref("accounts")
            .filter(seen(F.col("ACCOUNT_ID")))
            .select(
                F.to_json(
                    F.struct(F.col("ACCOUNT_ID").alias("AccountID__c"))
                ).alias("record")
            )
        )

    return build


@pytest.fixture()
def run(spark, tmp_path):
    engine = Engine(spark, TableStore(str(tmp_path / "store")))
    engine.seed(
        "accounts",
        spark.createDataFrame(
            [(f"co-{i}",) for i in range(N)], "ACCOUNT_ID string"
        ),
    )
    sfdc_acc = spark.sparkContext.accumulator(0)
    sfmc_acc = spark.sparkContext.accumulator(0)
    engine.register(
        Model(
            "sfdc_load",
            builder=_counted_records(spark, sfdc_acc),
            config={
                "materialized": "load_task",
                "operation": "upsert",
                "object_name": "Account",
                "external_id_field": "AccountID__c",
                "connector": MockSalesforceConnector(),
            },
            depends_on=["accounts"],
        )
    )
    engine.register(
        Model(
            "sfmc_push",
            builder=_counted_records(spark, sfmc_acc),
            config={
                "materialized": "omnata_push",
                "app": "marketing_cloud",
                "operation": "data_extension_upload",
                "data_extension_name": "Accounts DE",
                "connector": MockMarketingCloudConnector(),
            },
            depends_on=["accounts"],
        )
    )
    res = engine.run()
    return engine, res, sfdc_acc.value, sfmc_acc.value


def test_records_evaluated_once(run):
    _, res, sfdc_evals, sfmc_evals = run
    assert res["sfdc_load"].status == "success", res["sfdc_load"]
    assert res["sfmc_push"].status == "success", res["sfmc_push"]
    assert sfdc_evals == N
    assert sfmc_evals == N


@pytest.mark.parametrize(
    "model, logs",
    [
        ("sfdc_load", tracking.SFDC_LOAD_TASK_LOGS),
        ("sfmc_push", tracking.SFMC_LOAD_TASK_LOGS),
    ],
)
def test_log_ids_distinct_and_one_per_record(spark, run, model, logs):
    engine, res, _, _ = run
    rows = (
        engine.store.read(spark, logs)
        .filter(F.col("load_task_name") == model)
        .select("job_log_entry_id", "record")
        .collect()
    )
    assert res[model].rows_affected == N
    assert len({r["job_log_entry_id"] for r in rows}) == len(rows) == N
    assert {r["record"] for r in rows} == {
        f'{{"AccountID__c":"co-{i}"}}' for i in range(N)
    }
