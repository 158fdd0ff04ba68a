"""Output checks. Each yields ``(what, ok)`` pairs; the runner counts
every pair as one attempted check and every false one as failed. All of
them run outside the timed window."""

from __future__ import annotations

import re

import duckdb
from pyspark.sql import functions as F

from dbt_omnata_push_spark.materializations import tracking

from .project import PUSH_MODELS

# --- push ----------------------------------------------------------------------

SFDC_TASKS = ("accounts_load", "accounts_load_legacy", "transactions_daily_load")
SFMC_TASKS = ("contacts_load",)


def run_results(results: dict, offered: dict[str, int]):
    """Every model succeeded, and each push model pushed what was offered
    (a push model's rows_affected counts the records it sent, unlike a
    tracking table's, which is the table size)."""
    for name, r in sorted(results.items()):
        yield f"{name} status {r.status} {r.message[:200]}", r.status == "success"
    for m in PUSH_MODELS:
        got = results[m].rows_affected if m in results else None
        yield f"{m} pushed {got} of {offered[m]}", got == offered[m]


def push_store(engine, logged: dict[str, int], pushed: dict[str, int], tally: dict):
    """Tracking tables against the records logged over the store's life
    (``logged``, per push model): each record logged exactly once
    (distinct job_log_entry_id and external id), every result a success,
    every SFDC job closed; and executor-side connector calls covering
    exactly the records pushed (``pushed``)."""
    spark = engine.spark
    key = (
        F.when(
            F.col("load_task_name") == "transactions_daily_load",
            F.get_json_object("record", "$.Duplicate_Key__c"),
        )
        .when(
            F.col("load_task_name") == "contacts_load",
            F.get_json_object("record", "$.ContactID"),
        )
        .otherwise(F.get_json_object("record", "$.AccountID__c"))
    )
    for table, tasks in (
        (tracking.SFDC_LOAD_TASK_LOGS, SFDC_TASKS),
        (tracking.SFMC_LOAD_TASK_LOGS, SFMC_TASKS),
    ):
        logs = engine.store.read(spark, table)
        got = {
            r["load_task_name"]: r
            for r in logs.groupBy("load_task_name")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("job_log_entry_id").alias("ids"),
                F.countDistinct(key).alias("keys"),
                F.sum(
                    (F.get_json_object("result", "$.success") != "true").cast("int")
                ).alias("bad"),
            )
            .collect()
        }
        yield f"{table} tasks {sorted(got)}", set(got) <= set(tasks)
        for t in tasks:
            r = got.get(t)
            n = r["n"] if r else 0
            yield f"{t}: {n} log rows for {logged[t]} records", n == logged[t]
            if r:
                yield f"{t}: log entry ids unique", r["ids"] == n
                yield f"{t}: each external id logged once", r["keys"] == n
                yield f"{t}: {r['bad']} unsuccessful results", r["bad"] == 0
        total = logs.count()
        yield f"{table}: job_log_entry_id unique", (
            logs.select("job_log_entry_id").distinct().count() == total
        )
    open_jobs = (
        engine.store.read(spark, tracking.SFDC_LOAD_TASKS)
        .filter(
            F.coalesce(F.get_json_object("close_metadata", "$.state"), F.lit(""))
            != "Closed"
        )
        .count()
    )
    yield f"{open_jobs} SFDC jobs not closed", open_jobs == 0
    sfdc = sum(pushed[t] for t in SFDC_TASKS)
    sfmc = sum(pushed[t] for t in SFMC_TASKS)
    for kind, want in (
        ("load_batch", sfdc),
        ("stage_batch", sfmc),
        ("fetch_results", sfmc),
    ):
        got = tally.get(f"{kind}.records", 0)
        yield f"connector {kind}: {got} records for {want}", got == want


# --- statements ----------------------------------------------------------------

SLICES = 50
AUDIT_TABLES = ("order_audit_hi", "order_audit_lo")
COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
SUMMARY = (
    "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents "
    "FROM orders GROUP BY o_orderstatus, o_orderpriority"
)


def statement_mix(s: int) -> list[tuple[str, str, list[str] | None]]:
    """The iteration's statements on key slice ``s``:
    (kind, engine statement, equivalent DuckDB statements). By the end of
    the mix the slice is back to its source values, so ``orders`` keeps
    its size; the two audit tables grow by ~1/500 of ``orders`` each time."""
    where = f"o_orderkey % {SLICES} = {s}"
    src = f"SELECT {COLS} FROM orders_src WHERE {where}"
    audit_src = (
        f"SELECT o_orderkey, o_totalprice FROM orders "
        f"WHERE {where} AND o_custkey % 10 = 0 AND o_orderpriority = '1-URGENT'"
    )
    hi = "o_totalprice >= 250000"
    return [
        (
            "update",
            f"UPDATE orders SET o_totalprice = o_totalprice + 1, "
            f"o_orderpriority = '1-URGENT' WHERE {where}",
            None,
        ),
        ("delete", f"DELETE FROM orders WHERE {where} AND o_orderstatus = 'F'", None),
        (
            "insert",
            f"INSERT INTO orders ({COLS}) {src} AND o_orderstatus = 'F'",
            None,
        ),
        (
            "merge",
            f"MERGE INTO orders t USING ({src}) s ON t.o_orderkey = s.o_orderkey "
            f"WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice "
            f"WHEN NOT MATCHED THEN INSERT ({COLS}) VALUES "
            f"(s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice, "
            f"s.o_orderdate, s.o_orderpriority)",
            [
                f"UPDATE orders SET o_totalprice = s.o_totalprice FROM ({src}) s "
                f"WHERE orders.o_orderkey = s.o_orderkey",
                f"INSERT INTO orders ({COLS}) SELECT * FROM ({src}) s "
                f"WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM orders)",
            ],
        ),
        (
            "insert_all",
            f"INSERT ALL WHEN {hi} THEN INTO order_audit_hi (o_orderkey, o_totalprice) "
            f"VALUES (o_orderkey, o_totalprice) ELSE INTO order_audit_lo "
            f"(o_orderkey, o_totalprice) VALUES (o_orderkey, o_totalprice) {audit_src}",
            [
                f"INSERT INTO order_audit_hi {audit_src} AND {hi}",
                f"INSERT INTO order_audit_lo {audit_src} AND NOT ({hi})",
            ],
        ),
        ("select", SUMMARY, None),
        (
            "update_from",
            f"UPDATE orders SET o_orderpriority = s.o_orderpriority FROM orders_src s "
            f"WHERE orders.o_orderkey = s.o_orderkey AND s.{where}",
            None,
        ),
    ]


def _rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def _final_state_sql() -> list[str]:
    return [SUMMARY] + [
        f"SELECT COUNT(*) AS n, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) "
        f"AS BIGINT) AS cents FROM {t}"
        for t in AUDIT_TABLES
    ]


def dml_replay(engine, orders_path: str, stream, outputs):
    """Replay the executed statement stream in DuckDB; every SELECT the
    engine answered and the final table states must match the replay."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE orders AS SELECT * FROM '{orders_path}'")
    con.execute(f"CREATE TABLE orders_src AS SELECT * FROM '{orders_path}'")
    for t in AUDIT_TABLES:
        con.execute(f"CREATE TABLE {t} (o_orderkey BIGINT, o_totalprice DOUBLE)")
    replayed = []
    for kind, stmt, duck in stream:
        for sql in duck or [stmt]:
            con.execute(sql)
            if kind == "select":
                replayed.append(_rows(con.fetchall()))
    yield f"{len(outputs)} SELECT results", len(replayed) == len(outputs)
    bad = [i for i, (a, b) in enumerate(zip(outputs, replayed)) if _rows(a) != b]
    yield f"SELECT results differing from replay: {bad[:5]}", not bad
    for sql in _final_state_sql():
        got = _rows(engine.query(sql).collect())
        want = _rows(con.execute(sql).fetchall())
        yield f"final state {sql[-40:]}: {got[:3]} vs {want[:3]}", got == want


# --- reads -------------------------------------------------------------------

# The floor tests/test_ann_quality.py pins for the refined PQ search.
RECALL_FLOOR = 0.85


class Collected:
    """Rows already collected in the timed pass, shaped like the
    DataFrame ``oracle_utils.compare`` expects (no re-execution)."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def materialized(oracle: str) -> str:
    """The oracle with every CTE marked MATERIALIZED. DuckDB otherwise
    re-evaluates a CTE at each reference, which makes the chained
    PageRank oracle ~40x slower; materializing changes how the query is
    evaluated, not its result."""
    return re.sub(r"(?m)^(\s*(?:WITH\s+|,\s*)?)(\w+)\s+AS\s*\(", r"\1\2 AS MATERIALIZED (", oracle)


def oracles(registry, last: dict, lake: str):
    from tests.oracle_utils import compare

    for name, (columns, rows) in sorted(last.items()):
        oracle = registry[name].oracle
        if oracle is None:
            continue
        got = Collected(columns, rows)
        try:
            ok, detail = compare(got, materialized(oracle), lake)
        except duckdb.Error:
            ok, detail = compare(got, oracle, lake)
        yield f"{name}: {detail}", ok


def recall_at_10(spark, lake: str, rows) -> float:
    """similarity_topk_pq_refined against exact cosine top-10 for the same
    five queries, as bench.py measures it."""
    from dbt_omnata_push_spark.engine.catalog import load_table
    from dbt_omnata_push_spark.llmops import similarity as S

    emb = load_table(spark, lake, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in S.brute_force_topk(emb, q, k=10, allow_full_scan=True).collect()
    }
    got = {(r["q_id"], r["vec_id"]) for r in rows}
    return len(got & exact) / max(len(exact), 1)
