"""The workloads. Each is one client thread in a closed loop: the next
iteration starts when the previous one has returned.

A workload object offers
- ``setup()``: build the starting state, appending set-up samples (s)
  to ``setups``;
- ``iteration()``: one timed unit of work; returns its wall seconds;
- ``check()``: output checks that run once, after the timed window;
- ``cumulative()``: running totals the traced window is measured against;
- ``extra()``: per-layer figures the workload alone can give;
- ``info()``: facts about the run recorded beside the metrics.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
import traceback
from collections import Counter

from . import checks, datagen, project
from .trace import Tracer


def _now() -> float:
    return time.perf_counter()


def store_bytes(root: str) -> tuple[int, int]:
    """(bytes under the store root, counting each hard-linked file once;
    bytes of the files of every table's current version)."""
    seen, total = set(), 0
    for dirpath, _, files in os.walk(root):
        for fn in files:
            st = os.lstat(os.path.join(dirpath, fn))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    live = 0
    for table in os.listdir(root):
        ptr = os.path.join(root, table, "_VERSION")
        if not os.path.isfile(ptr):
            continue
        with open(ptr) as f:
            vdir = os.path.join(root, table, f"v={f.read().strip()}")
        for dirpath, _, files in os.walk(vdir):
            live += sum(os.lstat(os.path.join(dirpath, fn)).st_size for fn in files)
    return total, live


class Base:
    """Shared plumbing: temp dirs, operation timing, check tallies."""

    def __init__(self, spark, tmp: str, seed: int, scale: float, tracer: Tracer):
        self.spark, self.tmp, self.seed, self.scale = spark, tmp, seed, scale
        self.tracer = tracer
        self.setups: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self._dirs = 0

    def fresh_dir(self, kind: str) -> str:
        self._dirs += 1
        path = os.path.join(self.tmp, f"{kind}{self._dirs}")
        os.makedirs(path)
        return path

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


# --- push ---------------------------------------------------------------------


class Push(Base):
    """Scheduled cycles of the reference project. Set-up seeds a fresh
    store and writes the state a finished backfill leaves (tracking
    tables holding every seeded record, see ``project.bootstrap``). Each
    iteration appends a new day of transactions for every account plus
    new accounts and contacts, then runs ``Engine.run()`` once, as a
    scheduled ``dbt run`` does."""

    name = "push"
    N_ACCOUNTS, N_DAYS, CONTACTS_PER_ACCOUNT = 1000, 95, 10
    NEW_ACCOUNTS, NEW_CONTACTS = 10, 100
    SETUPS = 3

    def __init__(self, *a):
        super().__init__(*a)
        n = self.n = max(int(self.N_ACCOUNTS * self.scale), 2)
        self.n_contacts = n * self.CONTACTS_PER_ACCOUNT
        self.seeds = {
            "accounts": datagen.accounts(self.seed, 0, n),
            "contacts": datagen.contacts(self.seed, 0, self.n_contacts),
            "transactions": datagen.transactions(self.seed, n, 0, self.N_DAYS),
        }
        self.pushed: Counter = Counter()  # records offered to the connectors
        self.cycles = 0

    def setup(self) -> None:
        """Seed a fresh store ``SETUPS`` times (the set-up samples), then
        write the backfill state into the last one."""
        for k in range(self.SETUPS):
            root, tally = self.fresh_dir("store"), self.fresh_dir("tally")
            t0 = _now()
            engine = project.build_engine(self.spark, root, tally, self.seeds)
            self.setups.append(_now() - t0)
            if k < self.SETUPS - 1:
                shutil.rmtree(root)
                shutil.rmtree(tally)
        t0 = _now()
        logged = project.bootstrap(engine)
        self.bootstrap_s = _now() - t0
        want = {
            "accounts_load": self.n,
            "accounts_load_legacy": self.n,
            "transactions_daily_load": self.n * self.N_DAYS,
            "contacts_load": self.n_contacts,
        }
        self.record(logged == want, f"bootstrap logged {logged}, want {want}")
        self.logged = Counter(logged)
        self.engine, self.root, self.tally = engine, root, tally
        # per-model span (and Spark job group) when tracing
        engine.pre_hooks.append(
            lambda m: self.tracer.begin(f"materializations.{m.config['materialized']}")
        )
        engine.post_hooks.append(lambda m, r: self.tracer.end())

    def iteration(self) -> float:
        c, n = self.cycles, self.n
        self.cycles += 1
        new = {
            "accounts": datagen.accounts(self.seed, n + c * self.NEW_ACCOUNTS, self.NEW_ACCOUNTS),
            "contacts": datagen.contacts(
                self.seed, self.n_contacts + c * self.NEW_CONTACTS, self.NEW_CONTACTS
            ),
            "transactions": datagen.transactions(self.seed, n, self.N_DAYS + c, 1),
        }
        for name, pdf in new.items():
            self.engine.store.append(self.spark, name, self.spark.createDataFrame(pdf))
        offered = {
            "accounts_load": self.NEW_ACCOUNTS,
            "accounts_load_legacy": self.NEW_ACCOUNTS,
            "transactions_daily_load": n,
            "contacts_load": self.NEW_CONTACTS,
        }
        self.pushed.update(offered)
        self.logged.update(offered)
        with self.tracer.span("dag.run"):
            t0 = _now()
            results = self.engine.run()
            wall = _now() - t0
        self.tracer.count("dag.models_run", len(results))
        for what, ok in checks.run_results(results, offered):
            self.record(ok, f"cycle {c} {what}")
        return wall

    def check(self) -> None:
        for what, ok in checks.push_store(
            self.engine, self.logged, self.pushed, project.read_tally(self.tally)
        ):
            self.record(ok, what)

    def cumulative(self) -> dict:
        return {"store_bytes": store_bytes(self.root)[0], **project.read_tally(self.tally)}

    def extra(self) -> dict:
        stored, live = store_bytes(self.root)
        return {"store.bytes_per_live_byte": (stored / live, "ratio")}

    def info(self) -> dict:
        return {"cycles": self.cycles, "records_pushed": sum(self.pushed.values()),
                "log_rows": sum(self.logged.values()), "bootstrap_s": self.bootstrap_s}


# --- statements and reads ---------------------------------------------------

# A TPC-H aggregate plus the entries behind the open size-gate and
# broadcast work: connected components (entity resolution), PageRank,
# PQ training, BPE and the fuzzy self-join.
READ_QUERIES = [
    "pricing_summary",
    "customers_entity_resolution",
    "dedup_graph_pagerank",
    "similarity_topk_pq_refined",
    "customers_fuzzy_name_pairs",
    "bpe_vocab_merges",
]


class StatementsAndReads(Base):
    """Per iteration: a fixed 7-statement DML mix through ``Engine.query``
    over a store ``orders`` table (one key slice per iteration, restored
    by the end of the mix, so the table keeps its size), then one pass of
    the READ_QUERIES registry entries, read-only, over a generated lake.
    Every statement and query result is collected to the driver."""

    name = "statements_reads"
    ORDERS_SF, READS_SF = 0.05, 0.005
    SETUPS = 3

    def __init__(self, *a):
        super().__init__(*a)
        self.lake = os.path.join(self.tmp, "lake")
        datagen.analytics_lake(self.seed, self.lake, self.READS_SF * self.scale)
        dml_dir = os.path.join(self.tmp, "dml")
        datagen.analytics_lake(
            self.seed, dml_dir, self.ORDERS_SF * self.scale, only=("orders",)
        )
        self.orders = os.path.join(dml_dir, "orders.parquet")
        self.stream: list[tuple] = []  # statement_mix triples, as executed
        self.outputs: list[list] = []  # rows of every SELECT, in order
        self.last: dict = {}  # query -> (columns, rows) of its last run
        self.mixes = 0
        self.recall = 0.0

    def setup(self) -> None:
        """Seed ``orders`` (twice: the working table and its pristine
        source) and the audit tables into a fresh store, ``SETUPS`` times;
        import the query registry."""
        from dbt_omnata_push_spark.engine.dag import Engine
        from dbt_omnata_push_spark.engine.store import TableStore
        from dbt_omnata_push_spark.queries import load_all

        for k in range(self.SETUPS):
            root = self.fresh_dir("store")
            t0 = _now()
            engine = Engine(self.spark, TableStore(root))
            src = self.spark.read.parquet(self.orders)
            engine.seed("orders", src)
            engine.seed("orders_src", src)
            for t in checks.AUDIT_TABLES:
                engine.store.create(
                    self.spark, t,
                    self.spark.createDataFrame([], "o_orderkey long, o_totalprice double"),
                )
            self.setups.append(_now() - t0)
            if k < self.SETUPS - 1:
                shutil.rmtree(root)
        self.engine, self.root = engine, root
        self.registry = load_all()

    def iteration(self) -> float:
        return self._mix() + self._pass()

    def _op(self, span: str, fn):
        """Run one operation in its span; an exception is a failed op."""
        with self.tracer.span(span):
            t0 = _now()
            try:
                out = fn()
            except Exception:  # noqa: BLE001 — a failed operation is a result
                out = None
                self.record(False, f"{span} raised:\n{traceback.format_exc()}")
            wall = _now() - t0
        return out, wall

    def _mix(self) -> float:
        s = (self.seed + self.mixes) % checks.SLICES
        self.mixes += 1
        total = 0.0
        for kind, stmt, duck in checks.statement_mix(s):
            rows, wall = self._op(f"dml.{kind}", lambda: self.engine.query(stmt).collect())
            self.tracer.count(f"dml.{kind}_calls")
            total += wall
            if rows is not None:
                self.stream.append((kind, stmt, duck))
                if kind == "select":
                    self.outputs.append(rows)
        return total

    def _pass(self) -> float:
        sc = self.spark.sparkContext
        total = 0.0
        for name in READ_QUERIES:

            def run(name=name):
                df = self.registry[name].fn(self.spark, self.lake)
                return df.columns, df.collect()

            out, wall = self._op(f"queries.{name}", run)
            total += wall
            if out is None:
                self.last.pop(name, None)
            else:
                self.last[name] = out
            # each entry measured self-contained, as bench.py does
            self.spark.catalog.clearCache()
            gc.collect()
            for rdd in sc._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        return total

    def check(self) -> None:
        for what, ok in checks.dml_replay(self.engine, self.orders, self.stream, self.outputs):
            self.record(ok, what)
        for what, ok in checks.oracles(self.registry, self.last, self.lake):
            self.record(ok, what)
        if "similarity_topk_pq_refined" in self.last:
            self.recall = checks.recall_at_10(
                self.spark, self.lake, self.last["similarity_topk_pq_refined"][1]
            )
        self.record(
            self.recall >= checks.RECALL_FLOOR,
            f"similarity_topk_pq_refined recall@10 {self.recall} < {checks.RECALL_FLOOR}",
        )

    def cumulative(self) -> dict:
        return {"store_bytes": store_bytes(self.root)[0]}

    def extra(self) -> dict:
        stored, live = store_bytes(self.root)
        return {
            "store.bytes_per_live_byte": (stored / live, "ratio"),
            "queries.recall_at_10": (self.recall, "ratio"),
        }

    def info(self) -> dict:
        return {"mixes": self.mixes, "recall_at_10": self.recall}


WORKLOADS = {w.name: w for w in (Push, StatementsAndReads)}
