"""Benchmark entry point.

    python3 perfbench/run.py --workload push --seed 1 --seconds 1 --trace 0

Runs one workload (see perfbench/workloads.py) against the engine in
this checkout on ``local[<cores>]``, checks its outputs and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, the same
set for every workload:

    setup_s       median of the workload's set-up samples
    iter_s        median wall of one iteration (push: one scheduled
                  ``Engine.run()`` cycle; statements_reads: the 7-statement
                  DML mix plus one pass of the read queries)
    peak_rss_mb   peak resident memory of the driver, JVM and workers
    ops_ok_ratio  share of output checks that passed

The window runs whole iterations until ``--seconds`` of timed work is
done, at least one. An iteration takes 20-40 s on 4 cores, so with
BENCHMARK.json's 1 s each run times exactly one: the work one fresh
process does, as each scheduled ``dbt run`` or statement script is.

``--trace 1`` measures the same window with spans on, reports the
per-layer metrics (per iteration) and the tracing overhead, and writes
every span to ``.perfbench_out/`` in the checkout.

Scratch data (stores, generated inputs, Spark local dirs) lives in
``.perfbench_tmp/`` in the checkout and is deleted before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dbt_omnata_push_spark"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="multiplies every input size (the smoke tests use tiny scales)",
    )
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(tmp: str):
    from dbt_omnata_push_spark.engine.session import get_spark

    n = cores()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # a 2 GiB heap leaves most of a shared 15 GiB host free, and the
            # runs fill it, so peak RSS does not swing with heap growth
            "spark.driver.memory": "2g",
            # keep every job and stage of a run in the status store, so
            # the traced window's spans lose none to eviction
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # all scratch inside the checkout; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """Pay the fresh JVM's first-job costs (class loading, the Python
    worker daemon, Arrow) on trivial work before any set-up is timed."""
    import pandas as pd

    df = spark.range(64).selectExpr("id", "id % 4 AS k")
    df.groupBy("k").count().collect()
    df.mapInPandas(lambda it: (pd.DataFrame({"id": b["id"]}) for b in it), "id long").count()


def descendants() -> set[int]:
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def stop_spark(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every process this run
    started (JVM, Python worker daemon and workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 60
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def process_tree_hwm_mb() -> dict[str, float]:
    """Peak resident size (VmHWM, MiB) of this process and of every
    descendant still alive — the driver, the JVM and its Python workers —
    keyed by "name:pid"."""
    out = {}
    for pid in sorted(descendants() | {os.getpid()}):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def window(w, seconds: float) -> list[float]:
    """Closed loop: iterations back to back until ``seconds`` of timed
    work have been done (at least one)."""
    walls: list[float] = []
    while not walls or sum(walls) < seconds:
        with w.tracer.span("bench.iteration"):
            walls.append(w.iteration())
    return walls


def end_to_end(w, walls, rss_mb) -> dict:
    """The metrics every workload reports, untraced."""
    return {
        "setup_s": (statistics.median(w.setups), "s"),
        "iter_s": (statistics.median(walls), "s"),
        "peak_rss_mb": (rss_mb, "MiB"),
        "ops_ok_ratio": ((w.attempted - len(w.failures)) / w.attempted, "ratio"),
    }


def layer_metrics(w, walls, before, after) -> dict:
    """Per-layer figures of the traced window, per iteration."""
    from perfbench.trace import LAYERS
    from perfbench.workloads import READ_QUERIES

    t = w.tracer
    kids = t.children()
    n = len(walls)
    by_name: dict[str, list[dict]] = {}
    for s in t.spans:
        by_name.setdefault(s["name"], []).append(s)

    def outer(name):
        """Spans of ``name`` not nested in another span of the same name."""
        return [
            s for s in by_name.get(name, [])
            if s["parent"] is None or t.spans[s["parent"]]["name"] != name
        ]

    def dur(name):
        return sum(s["end"] - s["start"] for s in outer(name)) / n

    def jobs(name):
        return sum(x["spark"]["jobs"] for s in outer(name) for x in t.subtree(s, kids)) / n

    def delta(suffix):
        return (
            sum(v for k, v in after.items() if k.endswith(suffix))
            - sum(v for k, v in before.items() if k.endswith(suffix))
        ) / n

    out = {}
    out["dag.build_df_s"] = (dur("dag.build_df"), "s")
    out["dag.models_run"] = (t.counts["dag.models_run"] / n, "count")
    # DAG-run wall in which no Spark job was running: driver-side Python
    # (planning, store bookkeeping, hooks) plus JVM work outside jobs
    out["dag.driver_py_s"] = (
        sum(s["end"] - s["start"] - t.busy_s(s, kids) for s in outer("dag.run")) / n, "s"
    )
    for m in ("tracking_table", "incremental", "omnata_push", "load_task"):
        out[f"materializations.{m}_s"] = (dur(f"materializations.{m}"), "s")
        out[f"materializations.{m}_jobs"] = (jobs(f"materializations.{m}"), "count")
    out["connectors.calls"] = (delta(".calls"), "count")
    out["connectors.records"] = (delta("_batch.records"), "count")
    out["connectors.call_s"] = (delta(".s"), "s")
    mutating = ("merge_upsert", "overwrite", "append", "update_from", "delete_where")
    for m in (*mutating, "read"):
        out[f"store.{m}_s"] = (dur(f"store.{m}"), "s")
        out[f"store.{m}_calls"] = (t.counts[f"store.{m}_calls"] / n, "count")
    # one commit per outermost mutating call (nested ones share its commit)
    out["store.commits"] = (
        sum(
            1
            for m in mutating
            for s in by_name.get(f"store.{m}", [])
            if s["parent"] is None or not t.spans[s["parent"]]["name"].startswith("store.")
        ) / n,
        "count",
    )
    out["store.bytes_written"] = ((after["store_bytes"] - before["store_bytes"]) / n, "bytes")
    for k in ("update", "delete", "insert", "merge", "insert_all", "update_from", "select"):
        per_call = n / max(t.counts[f"dml.{k}_calls"], 1)
        out[f"dml.{k}_s"] = (dur(f"dml.{k}") * per_call, "s")
        out[f"dml.{k}_jobs"] = (jobs(f"dml.{k}") * per_call, "count")
    out["sqlfront.transpile_s"] = (dur("sqlfront.transpile"), "s")
    for q in READ_QUERIES:
        out[f"queries.{q}_s"] = (dur(f"queries.{q}"), "s")
        out[f"queries.{q}_jobs"] = (jobs(f"queries.{q}"), "count")
    spark_tot: dict[str, float] = {}
    for s in t.spans:
        for k, v in s.get("spark", {}).items():
            spark_tot[k] = spark_tot.get(k, 0) + v
    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
    ):
        out[f"spark.{k}"] = (spark_tot.get(k, 0) / n, unit)
    out["spark.busy_s"] = (sum(t.busy_s(s, kids) for s in outer("bench.iteration")) / n, "s")
    selfs = t.self_times()
    for layer in LAYERS:
        out[f"self.{layer}_s"] = (selfs.get(layer, 0.0) / n, "s")
    out["trace.iter_s"] = (statistics.median(walls), "s")
    out["trace.overhead_s"] = (t.cost / n, "s")
    out["trace.overhead_ratio"] = (t.cost / sum(walls), "ratio")
    # workload-specific figures; zero where the workload has none
    for k in ("store.bytes_per_live_byte", "queries.recall_at_10"):
        out[k] = (0.0, "ratio")
    out.update(w.extra())
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers must import the package and the benchmark's connectors
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    tempfile.tempdir = tmp
    spark = None
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        spark = start_spark(tmp)
        tracer = Tracer(spark, enabled=False)
        phase("spark_start")
        warm_up(spark)
        phase("warm_up")
        w = WORKLOADS[args.workload](spark, tmp, args.seed, args.scale, tracer)
        phase("inputs")
        w.setup()
        phase("setup")
        before = w.cumulative()
        if args.trace:
            tracer.enabled = True
            tracer.install()
        try:
            walls = window(w, args.seconds)
        finally:
            tracer.unwrap()
            tracer.enabled = False
        phase("window")
        after = w.cumulative()
        rss = process_tree_hwm_mb()
        if args.trace:
            tracer.collect_spark()
        w.check()
        phase("checks")
        config = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "scale": args.scale,
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "loadavg": list(os.getloadavg()),
            "iterations": len(walls),
            "iteration_walls_s": walls,
            "setup_samples_s": w.setups,
            "phases_s": phases,
            "peak_rss_by_process_mb": rss,
            **w.info(),
        }
        if args.trace:
            metrics = layer_metrics(w, walls, before, after)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(
                os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}-{tracer.run_id}.json"),
                {"config": config, "metrics": metrics},
            )
        else:
            metrics = end_to_end(w, walls, sum(rss.values()))
        for f in w.failures:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
        print("# config " + json.dumps(config))
        print(
            json.dumps(
                {
                    "correct": not w.failures,
                    "attempted": w.attempted,
                    "failed": len(w.failures),
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
