"""Per-stage checkpoint/resume manager (north_rule: "checkpoint-resumable
per stage").

Spark analog of the reference's embedding cache memoization
(/root/reference/search/bert_search.py:41-47,149-157: try-load, else compute
and save).  Each stage's output is a table under the run root; ``get_or_run``
reads it if complete, else computes and writes it.  Downstream consumes a
distributed stage's materialized table: the re-read after the write
truncates lineage between stages and makes each stage an independent job,
and it passes the schema the stage just wrote, so it launches no
parquet-footer job.  A stage whose frame was built on the driver (a
``LocalRelation``: the link and canonical finishers, the metrics rows) is
written as one file and, when it holds at most ``session.DRIVER_ROWS``
rows, handed forward as that frame, so the next stage's probe of it plans
over the relation and launches no job.  A larger one is read back from its
one-file table, as a distributed stage's is, instead of planning the next
stage's distributed body over a LocalTableScan that ships its rows inside
the tasks.  Only a resumed table has its schema inferred, which the schema
guard needs.

A parquet write carries an ``Observation`` of the stage's row totals, so
they cost no job of their own; ``totals`` serves them to the metrics
table.  A resumed table, or one written to Iceberg, is counted once
instead, when its totals are asked for.

Completeness is judged by the table's _SUCCESS marker (atomic with the
write), so a killed run resumes correctly.  Stage walls are kept in
``walls`` for the metrics table's ``wall_ms``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import catalog, session


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        os.makedirs(self.root, exist_ok=True) if "://" not in self.root else None
        #: stage -> milliseconds its ``get_or_run`` took in this run
        self.walls: dict[str, int] = {}
        # stage -> its observed totals, or the (not yet run) aggregate
        # that counts them from its table
        self._totals: dict[str, dict[str, int] | DataFrame] = {}

    def location(self, stage: str) -> str:
        if catalog.table_format() == "iceberg":
            return f"{self.root}.{stage}"  # root is a catalog.namespace
        return f"{self.root}/{stage}"

    def exists(self, stage: str) -> bool:
        return catalog.table_exists(self.spark, self.location(stage))

    def get_or_run(
        self,
        stage: str,
        fn,
        partition_by: list[str] | None = None,
        force: bool = False,
        schema=None,
        observe=(),
    ) -> DataFrame:
        """Return the stage table, computing it via ``fn() -> DataFrame`` only
        if absent (or ``force``).

        ``schema`` (a StructType) guards resume across format changes: a
        checkpoint written by an older code version whose columns/types no
        longer match is recomputed instead of silently resumed (ADVICE.md:
        round 1 added the packed 'firsts' array and replaced the triples
        'evidence' string with an int 'line'; resuming an old run_root
        either crashed downstream or silently served the old schema).

        ``observe``: named integer aggregates over the stage table that
        ``totals`` reports next to its row count ``rows``."""
        t0 = time.time()
        loc = self.location(stage)
        aggs = [F.count(F.lit(1)).alias("rows"), *observe]
        if not force and self.exists(stage):
            df = catalog.read_table(self.spark, loc)
            if schema is None or self._schema_ok(df, schema):
                self._totals[stage] = df.agg(*aggs)
                self.walls[stage] = int((time.time() - t0) * 1000)
                return df
        persisted = self.spark.sparkContext._jsc.getPersistentRDDs
        # keySet().toArray(): iterating the JavaSet itself costs ~76 py4j
        # round trips even when empty (py4j reflects on the exception
        # that ends the iteration)
        before = set(persisted().keySet().toArray())
        df = fn()
        local = df.isLocal()
        # Observation.get waits without a bound for metrics that an
        # Iceberg replace-table-as-select is not known to deliver, so an
        # Iceberg table is counted once instead, as a resumed one is
        obs = None if catalog.table_format() == "iceberg" else Observation()
        written = df if obs is None else df.observe(obs, *aggs)
        # a driver-built frame is written as one file, so a read of the
        # table (a resume, or a read back) is one split
        catalog.write_table(written.coalesce(1) if local else written, loc, partition_by=partition_by)
        # the stage's own checkpoints and caches (valve hot keys, canonical
        # edge and round checkpoints) are dead once the table is written:
        # downstream reads the table, not the stage's plan
        now = persisted()
        for rdd_id in set(now.keySet().toArray()) - before:
            now.get(rdd_id).unpersist(False)
        totals = None if obs is None else {k: int(v or 0) for k, v in obs.get.items()}
        self.walls[stage] = int((time.time() - t0) * 1000)
        if local and totals and totals["rows"] <= session.DRIVER_ROWS:
            self._totals[stage] = totals
            return df
        table = catalog.read_table(self.spark, loc, schema=df.schema)
        self._totals[stage] = totals or table.agg(*aggs)
        return table

    def totals(self, stage: str) -> dict[str, int]:
        """Row totals of a stage this run passed through: observed on its
        write, or counted once from its table (resumed, or Iceberg)."""
        got = self._totals[stage]
        if isinstance(got, DataFrame):
            got = self._totals[stage] = {k: int(v or 0) for k, v in got.first().asDict().items()}
        return got

    @staticmethod
    def _schema_ok(df: DataFrame, schema) -> bool:
        """Name->type equality, order- and nullability-insensitive (a
        partitioned write moves partition columns to the end; parquet read
        relaxes nullability)."""
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        want = {f.name: f.dataType.simpleString() for f in schema.fields}
        return got == want
