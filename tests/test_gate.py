"""The driver-local size gate (llmops/gate.py) shared by connected
components, pair-graph PageRank, PQ training and BPE training."""

from __future__ import annotations

import pytest

from dbt_omnata_push_spark.llmops.gate import checkpoint_gate


def test_gate_boundaries(spark):
    def gate(rows, limit):
        df = spark.createDataFrame(rows, "a long, b long, note string")
        return checkpoint_gate(df, limit, ("a", "b"))

    rows = [(i, i + 1, None) for i in range(5)]
    ckpt, pdf = gate(rows, 5)  # rows == limit: local
    assert sorted(zip(pdf["a"], pdf["b"])) == [r[:2] for r in rows]
    ckpt, pdf = gate(rows, 4)  # rows == limit + 1: distributed
    assert pdf is None
    # the distributed side reads the checkpoint, not the input plan
    assert "LogicalRDD" in ckpt._jdf.queryExecution().analyzed().toString()
    assert sorted((r.a, r.b) for r in ckpt.collect()) == [r[:2] for r in rows]
    assert gate([(1, 2, "x"), (3, None, "y")], 100)[1] is None  # NULL key
    assert len(gate([(1, 2, None), (3, 4, "y")], 100)[1]) == 2  # NULL non-key
    ckpt, pdf = gate([], 0)
    assert len(pdf) == 0 and ckpt.count() == 0


@pytest.mark.parametrize("local_limit", [0, 20])
def test_pq_train_distributed_never_collects_vectors(
    spark, monkeypatch, local_limit
):
    """Above the limit the training vectors stay on the executors: no
    toPandas, and the only collect carrying the vector column is the
    k-row orderBy init. A limit between k and the row count must not
    pull a limit-sized probe before deciding."""
    from dbt_omnata_push_spark.llmops import pq as PQ

    k = 8
    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(16)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cls, pulled = type(df), []

    def spy(name):
        real = getattr(cls, name)

        def wrapper(self):
            out = real(self)
            pulled.append((name, tuple(self.columns), len(out)))
            return out

        monkeypatch.setattr(cls, name, wrapper)

    spy("collect")
    spy("toPandas")
    books = PQ.pq_train(df, m=4, k=k, max_iter=2, local_limit=local_limit)
    monkeypatch.undo()
    assert len(books) == 4 and all(len(b) == k for b in books)
    assert [p for p in pulled if p[0] == "toPandas" or "embedding" in p[1]] == [
        ("collect", ("embedding",), k)
    ], pulled
