"""How an iterative kernel materializes a round.

A round is one job.  :func:`checkpoint` materializes the round's state
with an eager ``localCheckpoint`` (lineage truncated, so plan size and
Catalyst time stay flat however many rounds run), and that same job
computes every scalar the loop needs from the round as an observed
metric: a convergence test, a round's winner, a per-round stat.  No
round loop persists anything, so no round state is left in the
session's CacheManager for a later plan to match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """``df`` materialized by an eager ``localCheckpoint``, and the
    value of each aggregate in ``metrics`` over its rows (name → value;
    a struct comes back as a Row), computed by the same job.  Observed
    metrics reject DISTINCT aggregates."""
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    df = df.observe(obs, *[m.alias(name) for name, m in metrics.items()])
    return df.localCheckpoint(eager=True), obs.get
