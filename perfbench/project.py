"""The project the ``push`` workload runs: the reference integration
project (FIXTURES.md §1-3) — five models (four of them push models) over
three seed tables, four tracking tables, both apps — at a chosen size.

The model builders mirror the reference's model SQL (accounts_load.sql,
transactions_daily.sql, transactions_daily_load.sql, contacts_load.sql).
They are the benchmark's own copy so that the workload stays fixed
while the repository's test fixtures evolve.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from dbt_omnata_push_spark.connectors import (
    MockMarketingCloudConnector,
    MockSalesforceConnector,
)
from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.model import Model
from dbt_omnata_push_spark.engine.store import TableStore
from dbt_omnata_push_spark.materializations import tracking
from dbt_omnata_push_spark.materializations.core import high_watermark_incremental

TRACKING = [
    tracking.SFDC_LOAD_TASKS,
    tracking.SFDC_LOAD_TASK_LOGS,
    tracking.SFMC_LOAD_TASKS,
    tracking.SFMC_LOAD_TASK_LOGS,
]
PUSH_MODELS = [
    "accounts_load",
    "accounts_load_legacy",
    "transactions_daily_load",
    "contacts_load",
]
SFMC_FIELDS = [
    {"field_name": "ContactID", "field_type": "Number", "is_primary_key": True},
    {"field_name": "First Name", "field_type": "Text"},
    {"field_name": "Last Name", "field_type": "Text"},
    {"field_name": "EmailAddress", "field_type": "EmailAddress", "is_required": True},
    {"field_name": "Title", "field_type": "Text"},
]


# --- connectors that tally executor-side calls ------------------------------
# The connector is pickled into Python workers, so each worker process
# appends its own file: "kind,records,seconds" per call.


def _tally(tally_dir: str, kind: str, n: int, secs: float) -> None:
    with open(os.path.join(tally_dir, f"{os.getpid()}.csv"), "a") as f:
        f.write(f"{kind},{n},{secs:.6f}\n")


class TallySalesforce(MockSalesforceConnector):
    def __init__(self, tally_dir: str):
        super().__init__()
        self.tally_dir = tally_dir

    def load_batch(self, job_id, records):
        t0 = time.perf_counter()
        out = super().load_batch(job_id, records)
        _tally(self.tally_dir, "load_batch", len(records), time.perf_counter() - t0)
        return out


class TallyMarketingCloud(MockMarketingCloudConnector):
    def __init__(self, tally_dir: str):
        super().__init__()
        self.tally_dir = tally_dir

    def stage_batch(self, rows):
        t0 = time.perf_counter()
        out = super().stage_batch(rows)
        _tally(self.tally_dir, "stage_batch", len(rows), time.perf_counter() - t0)
        return out

    def fetch_results(self, stage_id, row_indices):
        t0 = time.perf_counter()
        out = super().fetch_results(stage_id, row_indices)
        _tally(self.tally_dir, "fetch_results", len(row_indices), time.perf_counter() - t0)
        return out


def read_tally(tally_dir: str) -> dict[str, float]:
    """Sum the per-worker files: calls, records and seconds per kind."""
    out: dict[str, float] = {}
    for fn in os.listdir(tally_dir):
        with open(os.path.join(tally_dir, fn)) as f:
            for line in f:
                kind, n, secs = line.strip().split(",")
                out[f"{kind}.calls"] = out.get(f"{kind}.calls", 0) + 1
                out[f"{kind}.records"] = out.get(f"{kind}.records", 0) + int(n)
                out[f"{kind}.s"] = out.get(f"{kind}.s", 0.0) + float(secs)
    return out


# --- models ------------------------------------------------------------------


def _already_pushed(ctx, load_task_name: str, key_path: str):
    logs = ctx.ref(tracking.SFDC_LOAD_TASK_LOGS)
    return logs.filter(
        (F.get_json_object("result", "$.success") == "true")
        & (F.col("load_task_name") == load_task_name)
    ).select(F.get_json_object("record", key_path).alias("_loaded"))


# Record builders, shared by the models and by ``bootstrap``.


def account_records(accounts):
    return accounts.select(
        F.struct(
            F.col("NAME").alias("Name"), F.col("ACCOUNT_ID").alias("AccountID__c")
        ).alias("record")
    )


def daily(transactions):
    return (
        transactions.groupBy(
            "ACCOUNT_ID",
            F.col("TRANSACTION_DATETIME").cast("date").alias("TRANSACTIONS_DATE"),
        )
        .agg(
            F.sum("TRANSACTION_AMOUNT").alias("GTV_DAILY"),
            F.sum("REVENUE_AMOUNT").alias("NTR_DAILY"),
        )
        .filter(F.col("TRANSACTIONS_DATE") < F.current_date())
    )


def daily_records(daily_df, accounts):
    return daily_df.join(accounts, "ACCOUNT_ID").select(
        F.struct(
            F.col("NAME").alias("Name"),
            F.concat_ws(
                "_", F.col("ACCOUNT_ID"), F.col("TRANSACTIONS_DATE").cast("string")
            ).alias("Duplicate_Key__c"),
            F.col("GTV_DAILY").alias("Total_Transactions_Sum__c"),
            F.col("NTR_DAILY").alias("Total_Revenue_Sum__c"),
            F.col("TRANSACTIONS_DATE").cast("string").alias("Transactions_Date__c"),
            F.struct(F.col("ACCOUNT_ID").alias("AccountID__c")).alias("Account__r"),
        ).alias("record")
    )


def contact_records(contacts):
    return contacts.select(
        F.to_json(
            F.struct(
                F.col("CONTACT_NUMBER").alias("ContactID"),
                F.col("FIRST_NAME").alias("First Name"),
                F.col("LAST_NAME").alias("Last Name"),
                F.col("EMAIL").alias("EmailAddress"),
                F.col("TITLE").alias("Title"),
            )
        ).alias("record")
    )


def _accounts_load(name):
    def build(ctx):
        rec = account_records(ctx.ref("accounts"))
        loaded = _already_pushed(ctx, name, "$.AccountID__c")
        return rec.join(loaded, rec["record.AccountID__c"] == loaded["_loaded"], "left_anti")

    return build


def _transactions_daily(ctx):
    return high_watermark_incremental(ctx, daily(ctx.ref("transactions")), "TRANSACTIONS_DATE")


def _transactions_daily_load(ctx):
    rec = daily_records(ctx.ref("transactions_daily"), ctx.ref("accounts"))
    loaded = _already_pushed(ctx, "transactions_daily_load", "$.Duplicate_Key__c")
    return rec.join(loaded, rec["record.Duplicate_Key__c"] == loaded["_loaded"], "left_anti")


def _contacts_load(ctx):
    rec = contact_records(ctx.ref("contacts"))
    logs = ctx.ref(tracking.SFMC_LOAD_TASK_LOGS)
    loaded = logs.filter(F.col("load_task_name") == "contacts_load").select(
        F.col("record").alias("_loaded")
    )
    return rec.join(loaded, rec["record"] == loaded["_loaded"], "left_anti")


# --- the state a finished backfill leaves ---------------------------------------

_SFDC_LOADS = {
    # task -> (object_name, operation, external_id_field)
    "accounts_load": ("Account", "upsert", "AccountID__c"),
    "accounts_load_legacy": ("Account", "upsert", "AccountID__c"),
    "transactions_daily_load": ("Transaction__c", "upsert", "Duplicate_Key__c"),
}
_OK_SFDC = json.dumps({"created": True, "errors": [], "id": "bootstrap", "success": True})
_OK_SFMC = json.dumps({"success": True})


def _create(engine, name: str, df) -> None:
    """Create tracking table ``name`` as the push materializations do:
    declared schema, declared partitioning."""
    fields = tracking.SCHEMAS[name].fields
    df = df.select(*[F.col(f.name).cast(f.dataType) for f in fields])
    engine.store.create(engine.spark, name, df, partition_by=tracking.PARTITION_BY.get(name))


def bootstrap(engine) -> dict[str, int]:
    """Write, through the store, what a completed backfill of the seeded
    project leaves behind: the daily model's table and the four tracking
    tables holding one successful, closed job per push model, each record
    logged once. Returns the log rows written per push model."""
    spark, store = engine.spark, engine.store
    acc = store.read(spark, "accounts")
    day = daily(store.read(spark, "transactions"))
    store.overwrite(spark, "transactions_daily", day)
    day = store.read(spark, "transactions_daily")
    recs = {
        "accounts_load": account_records(acc),
        "accounts_load_legacy": account_records(acc),
        "transactions_daily_load": daily_records(day, acc),
    }
    logs, tasks = None, None
    for task, rec in recs.items():
        obj, op, ext = _SFDC_LOADS[task]
        job = f"bootstrap-{task}"
        part = rec.select(
            F.lit(job).alias("job_id"),
            F.concat(F.lit(job + ":"), F.monotonically_increasing_id().cast("string"))
            .alias("job_log_entry_id"),
            F.lit(task).alias("load_task_name"),
            F.lit(obj).alias("object_name"),
            F.lit(op).alias("operation"),
            F.lit(ext).alias("external_id_field"),
            F.to_json("record").alias("record"),
            F.lit(_OK_SFDC).alias("result"),
        )
        logs = part if logs is None else logs.unionByName(part)
        row = spark.createDataFrame(
            [(job, task, obj, op, ext, "{}", json.dumps({"state": "Closed"}))],
            "job_id string, load_task_name string, object_name string, operation string, "
            "external_id_field string, creation_metadata string, close_metadata string",
        ).withColumn("creation_time", F.current_timestamp())
        tasks = row if tasks is None else tasks.unionByName(row)
    _create(engine, tracking.SFDC_LOAD_TASK_LOGS, logs)
    _create(engine, tracking.SFDC_LOAD_TASKS, tasks)
    job = "bootstrap-contacts_load"
    _create(
        engine,
        tracking.SFMC_LOAD_TASK_LOGS,
        contact_records(store.read(spark, "contacts")).select(
            F.lit(job).alias("job_id"),
            F.concat(F.lit(job + ":"), F.monotonically_increasing_id().cast("string"))
            .alias("job_log_entry_id"),
            F.lit("contacts_load").alias("load_task_name"),
            F.lit("Contacts DE").alias("object_name"),
            F.lit("data_extension_upload").alias("operation"),
            F.col("record"),
            F.lit(_OK_SFMC).alias("result"),
        ),
    )
    _create(
        engine,
        tracking.SFMC_LOAD_TASKS,
        spark.createDataFrame(
            [(job, "contacts_load", "Contacts DE", "data_extension_upload", "{}")],
            "job_id string, load_task_name string, object_name string, operation string, "
            "creation_metadata string",
        ).withColumn("creation_time", F.current_timestamp()),
    )
    counts = {
        r["load_task_name"]: r["count"]
        for t in (tracking.SFDC_LOAD_TASK_LOGS, tracking.SFMC_LOAD_TASK_LOGS)
        for r in store.read(spark, t).groupBy("load_task_name").count().collect()
    }
    return {m: counts.get(m, 0) for m in PUSH_MODELS}


def build_engine(spark, root: str, tally_dir: str, seeds: dict) -> Engine:
    """Seed ``seeds`` (name -> pandas frame) into a fresh store at
    ``root`` and register the project's models."""
    engine = Engine(spark, TableStore(root))
    for name, pdf in seeds.items():
        engine.seed(name, spark.createDataFrame(pdf))
    sf, mc = TallySalesforce(tally_dir), TallyMarketingCloud(tally_dir)
    for t in TRACKING:
        engine.register(
            Model(
                name=t,
                builder=lambda ctx, n=t: spark.createDataFrame([], tracking.SCHEMAS[n]),
                config={"materialized": "tracking_table", "unique_key": "job_id"},
            )
        )

    def push(name, builder, config, deps):
        engine.register(
            Model(name, builder=builder, config=config, depends_on=[*deps, *TRACKING])
        )

    sfdc = {"operation": "upsert", "object_name": "Account",
            "external_id_field": "AccountID__c", "connector": sf}
    push(
        "accounts_load",
        _accounts_load("accounts_load"),
        {"materialized": "omnata_push", "app": "salesforce", "operation": "bulk_load",
         "load_type": "upsert", "object_name": "Account",
         "external_id_field": "AccountID__c", "connector": sf},
        ["accounts"],
    )
    push(
        "accounts_load_legacy",
        _accounts_load("accounts_load_legacy"),
        {"materialized": "load_task", **sfdc},
        ["accounts"],
    )
    engine.register(
        Model(
            "transactions_daily",
            builder=_transactions_daily,
            config={"materialized": "incremental"},
            depends_on=["transactions"],
        )
    )
    push(
        "transactions_daily_load",
        _transactions_daily_load,
        {**sfdc, "materialized": "load_task", "object_name": "Transaction__c",
         "external_id_field": "Duplicate_Key__c"},
        ["transactions_daily", "accounts"],
    )
    push(
        "contacts_load",
        _contacts_load,
        {"materialized": "omnata_push", "app": "marketing_cloud",
         "operation": "data_extension_upload", "import_type": "AddAndUpdate",
         "data_extension_name": "Contacts DE", "data_extension_fields": SFMC_FIELDS,
         "file_location_external_key": "ENHANCED_FTP", "connector": mc},
        ["contacts"],
    )
    return engine
