"""One size gate for the driver-local twins of iterative operators.

Connected components, pair-graph PageRank, PQ codebook training and BPE
merge learning each iterate over an intermediate (an edge list, a
training set, a vocabulary) that is usually far smaller than the data
it was mined from. Each has a distributed loop for the large case and
an exact driver-local twin for the small one; ``checkpoint_gate`` is
the single place that decides between them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint_gate(
    df: DataFrame, local_limit: int, key_cols: tuple[str, ...] = ()
):
    """Materialize ``df`` once and decide whether it fits the driver.

    Returns ``(checkpointed, pdf)``: ``checkpointed`` is ``df`` after an
    eager ``localCheckpoint``, and ``pdf`` is a pandas copy of it when
    it has at most ``local_limit`` rows and no NULL in any of
    ``key_cols``, else None. A negative limit never goes local.

    The row and NULL counts ride the checkpoint job as Observation
    metrics, so deciding costs no extra scan, and the distributed path
    reads the checkpoint instead of re-evaluating ``df`` (the mining
    upstream of an edge list, the word count upstream of a vocabulary).
    Nothing sized by the data reaches the driver before the counts say
    it fits.

    Why a local twin pays: the iterative operators cost one or more
    whole Spark jobs per round (256 BPE merges at ~0.1 s of scheduling
    each, O(diameter) label-propagation rounds), while an intermediate
    that fits the driver runs the same recurrence in a vectorized loop
    ~10x faster. The corpus-sized stage upstream stays distributed
    either way; only the intermediate moves. A 100 TB web corpus has
    ~10^7-10^8 word types, so even vocabularies are often driver-sized.
    Each twin is exactly its distributed loop's semantics, proven equal
    by a test through both paths; NULL keys stay distributed because
    the twins do not special-case them.
    """
    any_null = F.lit(False)
    for c in key_cols:
        any_null = any_null | F.col(c).isNull()
    obs = Observation()
    checkpointed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.count_if(any_null).alias("nulls"),
    ).localCheckpoint(eager=True)
    m = obs.get
    if m["rows"] <= local_limit and not m["nulls"]:
        return checkpointed, checkpointed.toPandas()
    return checkpointed, None
