"""Every stage schema, declared once (SURVEY.md §1.4: the engine is
schema-first because pandas/Arrow UDFs require declared result schemas;
the reference's schemas are implicit duck-typed dicts).

Schemas mirror FIXTURES.md §1/§4.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Input table per BASELINE.json input_hint: Iceberg (or parquet-fallback)
# table of source-code repositories.
FILES = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

# files + carried invariant column (input_hint: content sha256 equality).
FILES_HASHED = StructType(FILES.fields + [StructField("content_sha256", StringType(), False)])

# Stage 1 output — one row per lexical mention (FIXTURES.md §4).
MENTIONS = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content_sha256", StringType(), False),
        StructField("kind", StringType(), False),   # module|import|class|function|call
        StructField("name", StringType(), False),
        StructField("line", IntegerType(), False),
        # True on the FIRST occurrence of (kind, name) within the file.
        # Lexical triples are per-file facts, so filtering on this flag
        # replaces a groupBy(subj, pred, obj) shuffle with a map-side
        # filter — dedup that never crosses files shouldn't pay a shuffle.
        StructField("is_first", BooleanType(), False),
    ]
)

# Stage 2 output — one row per distinct linkable entity.
ENTITY_EMBEDDINGS = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("name", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("embedding", ArrayType(FloatType(), False), False),
        # LSH_BANDS band signatures of the embedding (stages/link.py blocks on them)
        StructField("sigs", ArrayType(IntegerType(), False), False),
    ]
)

# Stage 3 output — candidate same-entity edges, canonical a < b ordering
# (reference pair canonicalization,
#  /root/reference/experiments/uaz_documents_comparison.py:237-238).
CANDIDATE_LINKS = StructType(
    [
        StructField("a", StringType(), False),
        StructField("b", StringType(), False),
        StructField("score", DoubleType(), False),
        StructField("bucket", LongType(), False),
    ]
)

# Stage 4 output — connected-components assignment.
ENTITIES = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("canonical_id", StringType(), False),
    ]
)

# Stage 5 output — the canonical triple graph
# (analog of the 8-column edge CSV,
#  /root/reference/experiments/uaz_documents_comparison.py:184).
TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        # Evidence is stored NORMALIZED: the line of the first occurrence
        # in the subj file (NULL for same_as rows, whose evidence is the
        # canonicalization itself).  The display string
        # '<subj>:<line>' duplicates subj byte-for-byte — at 10^12 triples
        # materializing it roughly doubles the string bytes through every
        # shuffle/write (measured ~1.8x on the materialize stage at high
        # parallelism).  Use materialize.with_evidence() for the view.
        StructField("line", IntegerType(), True),
        StructField("score", DoubleType(), False),
    ]
)

# Lineage/metrics rows (north_rule: per-partition lineage + metrics;
# FIXTURES.md §4).  By default one row per stage (partition_key '*', the
# row totals observed on the stage's write); under ``audit`` per-repo rows
# for the mentions and triples stages, with content_sha256 verdicts.
# Valve rows ('valve:<name>') ride along in both.
METRICS = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_key", StringType(), False),
        StructField("rows_in", LongType(), False),
        StructField("rows_out", LongType(), False),
        StructField("content_sha_ok", BooleanType(), False),
        StructField("wall_ms", LongType(), False),
    ]
)
