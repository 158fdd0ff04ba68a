"""Property test for the versioned store: a random sequence of commits
(append / merge / DV-delete / overwrite / restore) must leave BOTH the
current state and EVERY historical version equal to a pure-Python
replay — the version-immutability contract behind time travel, CDC,
and the transactional-script rollback."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dbt_omnata_push_spark.engine.store import TableStore

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=-20, max_value=20),
    ),
    min_size=1,
    max_size=4,
)

_op = st.one_of(
    st.tuples(st.just("append"), _rows),
    st.tuples(st.just("merge"), _rows),
    st.tuples(
        st.just("delete"),
        st.integers(min_value=2, max_value=3),
        st.integers(min_value=0, max_value=2),
    ),
    st.tuples(st.just("overwrite"), _rows),
    # restore target picked modulo the history length at apply time
    st.tuples(st.just("restore"), st.integers(min_value=0, max_value=10)),
)


def _dedupe_last_wins(rows):
    by = {}
    for k, v in rows:
        by[k] = v
    return sorted(by.items())


@pytest.fixture()
def mk_store(spark, tmp_path_factory):
    def make():
        return TableStore(str(tmp_path_factory.mktemp("storeprop") / "s"))

    return make


@settings(**_SETTINGS)
@given(
    base=_rows,
    ops=st.lists(_op, min_size=1, max_size=4),
    # "p" runs merge/delete/append/restore on the partition-scoped path,
    # with its partial deletion-vector carry
    partition_by=st.sampled_from([None, "p"]),
)
def test_commit_sequence_preserves_every_version(
    spark, mk_store, base, ops, partition_by
):
    store = mk_store()

    def to_df(rows):
        return spark.createDataFrame(
            [(k, v, k % 3) for k, v in rows], "k long, v long, p long"
        )

    base_rows = _dedupe_last_wins(base)
    store.create(spark, "t", to_df(base_rows), partition_by=partition_by)
    history = [sorted(base_rows)]  # model: per-version row multisets

    for op in ops:
        cur = list(history[-1])
        if op[0] == "append":
            rows = [(k, v) for k, v in op[1]]
            store.append(spark, "t", to_df(rows))
            history.append(sorted(cur + rows))
        elif op[0] == "merge":
            src = _dedupe_last_wins(op[1])
            store.merge_upsert(spark, "t", to_df(src), unique_key="k")
            keys = {k for k, _ in src}
            history.append(
                sorted([r for r in cur if r[0] not in keys] + src)
            )
        elif op[0] == "delete":
            _, m, r = op
            store.delete_where(spark, "t", F.col("k") % m == r)
            history.append(sorted(rr for rr in cur if rr[0] % m != r))
        elif op[0] == "overwrite":
            rows = [(k, v) for k, v in op[1]]
            store.overwrite(spark, "t", to_df(rows))
            history.append(sorted(rows))
        elif op[0] == "restore":
            target = op[1] % len(history)
            store.restore("t", target)
            history.append(sorted(history[target]))

    # current state
    got = sorted((r["k"], r["v"]) for r in store.read(spark, "t").collect())
    assert got == history[-1], "current state diverged"
    # EVERY historical version must still read back exactly
    assert store.current_version("t") == len(history) - 1
    for v, want in enumerate(history):
        hv = sorted(
            (r["k"], r["v"])
            for r in store.read_version(spark, "t", v).collect()
        )
        assert hv == want, f"version {v} diverged"
