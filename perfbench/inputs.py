"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its size arguments and ``seed``: the
same seed gives byte-identical inputs.  The program under test only ever
sees the generated tables.
"""

from __future__ import annotations

N_DEFINES = 4
N_CALLS = 6
N_IMPORTS = 2
EXT_MODULE_POOL = 50


def consumer_triples(spark, files: int, seed: int):
    """Engine-side ``triples(subj, pred, obj, line, score)`` in the shape a
    code KG has at scale: the function vocabulary is 2x the file count,
    call popularity is power-law (symbol = floor(V * u^4): the hottest
    symbol draws a fifth of all calls at 300 files), and imports mix
    an external module pool with in-corpus modules.  Pure column
    expressions over ``spark.range``; rows are distinct per
    (subj, pred, obj) like the pipeline's own triples."""
    from pyspark.sql import functions as F

    V = 2 * files
    s = int(seed) * 1_000_003
    base = spark.range(files).select(F.col("id").alias("i"))
    subj = F.format_string(
        "org%d/repo%d:src/f_%d.py",
        (F.col("i") % 4).cast("int"),
        F.pmod(F.xxhash64(F.col("i"), F.lit(s + 7)), F.lit(40)).cast("int"),
        F.col("i").cast("int"),
    )

    def fn(sym):
        return F.format_string("function:f%d", sym.cast("long"))

    def per_file(pred, n, obj_of):
        return base.select(
            subj.alias("subj"),
            F.lit(pred).alias("pred"),
            F.explode(F.transform(F.sequence(F.lit(0), F.lit(n - 1)), obj_of)).alias("obj"),
        )

    def u(j, salt):
        return F.pmod(F.xxhash64(F.col("i"), j, F.lit(s + salt)), F.lit(2**52)) / F.lit(float(2**52))

    # every symbol is defined by exactly N_DEFINES * files / V = 2 files, at
    # seeded positions: the hottest symbols then carry the same fan-in in
    # every seed, so the call graph's size does not swing with the seed
    offset = F.pmod(F.xxhash64(F.lit(s + 1)), F.lit(V))
    defines = per_file("defines", N_DEFINES, lambda j: fn(F.pmod(F.col("i") * N_DEFINES + j + offset, F.lit(V))))
    calls = per_file("calls", N_CALLS, lambda j: fn(F.floor(F.lit(float(V)) * F.pow(u(j, 2), F.lit(4)))))
    imports = per_file(
        "imports",
        N_IMPORTS,
        lambda j: F.when(
            u(j, 3) < 0.5,
            F.format_string("module:m%d", F.floor(u(j, 4) * EXT_MODULE_POOL).cast("long")),
        ).otherwise(F.format_string("module:f_%d", F.floor(u(j, 5) * files).cast("long"))),
    )
    return (
        defines.unionByName(calls)
        .unionByName(imports)
        .dropDuplicates(["subj", "pred", "obj"])
        .select("subj", "pred", "obj", F.lit(1).alias("line"), F.lit(1.0).alias("score"))
    )
