"""Span tracer for the benchmark's traced runs (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary:
while a traced window runs the benchmark wraps ``Engine.build_df``, the
public ``TableStore`` read/commit methods and ``sqlfront.transpile``, and
opens spans itself around DAG runs, per-model hooks (``Engine.pre_hooks``
/ ``post_hooks``), DML statements and registry queries.
Every span carries its own Spark job group, so after the window the
Spark status store attributes each job (and its stages' metrics) to
exactly one span. Spans and counts stay in memory and are written out
once, at exit.

Untraced runs use ``Tracer(enabled=False)``: ``span`` is then a no-op
and nothing is wrapped, so the end-to-end metrics carry no tracing cost.
A traced run measures its own cost: the time spent in the tracer's
bookkeeping (``cost``), i.e. traced minus untraced wall of the same work.
"""

from __future__ import annotations

import functools
import json
import time
import uuid
from collections import Counter, defaultdict
from contextlib import contextmanager

# Store entry points timed per call. Nested calls (one public method
# calling another) appear as child spans, so self time stays exact.
STORE_METHODS = (
    "merge_upsert",
    "overwrite",
    "append",
    "update_from",
    "delete_where",
    "read",
)

# Layer of a span, from its name prefix; self time is reported per layer.
LAYERS = ("bench", "engine_dag", "materializations", "store", "dml", "sqlfront", "queries")


def layer_of(name: str) -> str:
    head = name.split(".", 1)[0]
    return {"dag": "engine_dag"}.get(head, head if head in LAYERS else "bench")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []
        # seconds spent in the tracer's own bookkeeping while enabled:
        # what tracing adds to the traced window's wall time
        self.cost = 0.0

    # -- spans ---------------------------------------------------------------
    def begin(self, name: str) -> None:
        if not self.enabled:
            return
        t0 = time.perf_counter()
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "group": f"pb-{self.run_id}-{len(self.spans)}",
            "start": None,
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.spark.sparkContext.setJobGroup(span["group"], name)
        span["start"] = time.perf_counter()
        self.cost += span["start"] - t0

    def end(self) -> None:
        if not self.enabled:
            return
        span = self._stack.pop()
        span["end"] = time.perf_counter()
        sc = self.spark.sparkContext
        if self._stack:
            sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.cost += time.perf_counter() - span["end"]

    @contextmanager
    def span(self, name: str):
        self.begin(name)
        try:
            yield
        finally:
            self.end()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    # -- wrapping the program's entry points --------------------------------
    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``unwrap``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            self.count(span_name + "_calls")
            with self.span(span_name):
                return orig(*args, **kwargs)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        if not self.enabled:
            return
        from dbt_omnata_push_spark.engine import dml, sqlfront
        from dbt_omnata_push_spark.engine.dag import Engine
        from dbt_omnata_push_spark.engine.store import TableStore

        self.wrap(Engine, "build_df", "dag.build_df")
        for m in STORE_METHODS:
            self.wrap(TableStore, m, f"store.{m}")
        # dml binds transpile at import; dag imports it per call
        self.wrap(sqlfront, "transpile", "sqlfront.transpile")
        self.wrap(dml, "transpile", "sqlfront.transpile")

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- Spark status store ---------------------------------------------------
    def collect_spark(self) -> None:
        """Attach each span's own Spark jobs and stage metrics (called
        once, after the measured window)."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for span in self.spans:
            jobs, m = [], Counter()
            for jid in tracker.getJobIdsForGroup(span["group"]):
                jd = store.job(jid)
                t0, t1 = jd.submissionTime(), jd.completionTime()
                if t0.isDefined() and t1.isDefined():
                    jobs.append((t0.get().getTime() / 1e3, t1.get().getTime() / 1e3))
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    m["stages"] += 1
                    m["tasks"] += sd.numCompleteTasks()
                    m["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    m["executor_run_s"] += sd.executorRunTime() / 1e3
                    m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            m["jobs"] = len(jobs)
            span["spark"] = dict(m)
            span["job_intervals"] = jobs

    # -- derived figures -----------------------------------------------------
    def children(self) -> dict:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        return kids

    def subtree(self, span: dict, kids=None) -> list[dict]:
        kids = kids if kids is not None else self.children()
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out

    @staticmethod
    def union_s(intervals: list[tuple[float, float]]) -> float:
        total, cur_end = 0.0, float("-inf")
        for a, b in sorted(intervals):
            if b <= cur_end:
                continue
            total += b - max(a, cur_end)
            cur_end = b
        return total

    def busy_s(self, span: dict, kids=None) -> float:
        """Wall seconds in which at least one Spark job of the span's
        subtree was running."""
        return self.union_s(
            [iv for s in self.subtree(span, kids) for iv in s.get("job_intervals", ())]
        )

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the time their child spans cover."""
        kids = self.children()
        out = Counter()
        for s in self.spans:
            covered = self.union_s([(c["start"], c["end"]) for c in kids[s["id"]]])
            out[layer_of(s["name"])] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans, "counts": self.counts, **extra},
                f,
            )
