"""SparkSession builder with the AQE / Arrow / skew configuration the
pipeline assumes (SURVEY.md §4: AQE subsumes all of the reference's manual
chunking tactics, /root/reference/search/bert_search.py:55-66,96-97).

All knobs here are plain public Spark configs; nothing machine-specific.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from . import constants


def build_session(
    app_name: str = "kgforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]) in this
    sandbox; on a real cluster it is supplied by spark-submit and must be
    left None.
    """
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)

    sp = shuffle_partitions if shuffle_partitions is not None else constants.SHUFFLE_PARTITIONS
    conf = {
        # local mode runs everything in one JVM — size it to the machine
        # (ignored on a real cluster where spark-submit sets memory).
        "spark.driver.memory": os.environ.get("KGFORGE_DRIVER_MEM", "32g"),
        "spark.driver.maxResultSize": "4g",
        # shuffle spill dir: on a cluster this is executor-local NVMe; in
        # the sandbox KGFORGE_LOCAL_DIR (bench sets tmpfs) avoids measuring
        # one shared virtual disk instead of the engine.
        **(
            {"spark.local.dir": os.environ["KGFORGE_LOCAL_DIR"]}
            if "KGFORGE_LOCAL_DIR" in os.environ
            else {}
        ),
        # AQE: runtime re-plan, partition coalescing, skew-join splitting —
        # explicit per north_rule ("AQE skew-join splitting on the
        # link-score self-join").
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for every pandas UDF / toPandas boundary; batch size is the
        # analog of the reference's encode batch_size
        # (/root/reference/search/bert_search.py:124).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.shuffle.partitions": str(sp),
        # deterministic timestamp semantics everywhere
        "spark.sql.session.timeZone": "UTC",
        # Split sizing: tasks must outnumber cores by ~3x or one straggler
        # idles the whole wave.  On a cluster the 128 MB default is right
        # (a 100 TB scan yields ~800k splits regardless); in local mode the
        # whole input may be under a GB, so 128 MB splits collapse to
        # n_cores tasks — cap at 16 MB there.  Override via env.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "KGFORGE_MAX_PARTITION_BYTES",
            "16777216" if (master or "").startswith("local") else "134217728",
        ),
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        # collect_list/collect_set style aggs (evidence squash, k-core
        # adjacency build) run via ObjectHashAggregate, which silently
        # degrades to sort-based after this many distinct groups per
        # task — the Spark default of 128 forces an effective full sort
        # of the input (measured: the 44M-edge adjacency build drops
        # from 21 s to 10.7 s at local[8] with a real threshold).  8M
        # groups/task keeps the engine's array aggs in the hash path;
        # memory stays bounded because group VALUES dominate entries
        # and those are identical under either strategy.
        "spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold": "8388608",
        # Dynamic-partition writes (triples partitioned by pred) otherwise
        # get a planned per-task SORT on the partition column — measured
        # 30.1s vs 12.1s for the 24M-row triples write at local[8], with
        # huge variance (sort memory pressure).  pred has cardinality 4,
        # so concurrent writers are strictly better; Spark falls back to
        # the sort-based path automatically if a task ever exceeds this
        # many open writers (i.e. high-cardinality partition columns still
        # behave).
        "spark.sql.maxConcurrentOutputFileWriters": "16",
        # Quieter local runs.
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set session conf ``conf`` for the block, then put each key back: its
    previous explicit value, or ``unset`` if it had none — so a library
    override never leaks into the caller's session."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def local_frame(spark: SparkSession, pdf: pd.DataFrame, schema: StructType | str) -> DataFrame:
    """A driver-built frame over ``pdf``, handed to Spark as a pyarrow
    Table so it plans as a ``LocalRelation`` at any size.  From an empty
    pandas frame or a list of tuples ``createDataFrame`` plans a
    ``LogicalRDD`` of pickled rows, whose first read starts a Python
    worker (BASELINE.md "driver-built frames")."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pandas(pdf, schema=to_arrow_schema(schema), preserve_index=False)
    return spark.createDataFrame(table, schema)
