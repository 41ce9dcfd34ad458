"""One lineage truncation for every iterative graph loop: ``checkpoint``
cuts a round's plan and reads the round's probes from an ``Observation``
fired by that same job, so no probe job follows it.  The loops keep their
own ``for``/``break``; their state differs, only truncate-and-read is shared."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation

from .session import scoped_conf


def checkpoint(df: DataFrame, *probes: Column, pin: bool = False) -> tuple[DataFrame, dict]:
    """``df.localCheckpoint()`` and the aliased aggregates ``probes`` over
    its rows, read from the checkpoint's own job.

    ``pin=True`` builds the checkpoint with AQE off (the session conf is
    restored after), so it keeps its hash layout.  Under AQE the checkpoint
    captures the ``AdaptiveSparkPlan``'s outputPartitioning, unknown before
    the final plan, so the LogicalRDD forgets its hash partitioning and
    every downstream agg or co-located join re-exchanges the full table
    (measured round 4; pinned by tests/test_graph.py).  AQE off also keeps
    the partition count fixed between rounds, which round-to-round
    co-partitioning needs."""
    obs = Observation()
    if probes:
        df = df.observe(obs, *probes)
    with scoped_conf(df.sparkSession, {"spark.sql.adaptive.enabled": "false"} if pin else {}):
        df = df.localCheckpoint()
    return df, obs.get if probes else {}
