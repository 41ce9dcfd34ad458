"""Streaming KG ingest (beyond the batch-only reference, SURVEY.md §2.9).

New source files arrive continuously on a real corpus; the lexical part of
the KG pipeline is a pure map (lex -> dedup-per-file -> explode), so it
runs UNCHANGED as a Structured Streaming plan:

    readStream(files dir) -> extract_mentions_packed (mapInPandas)
                          -> triples_from_packed(mapping=None)
                          -> writeStream (append)

Entity linking and canonicalization are corpus-global (they need the full
entity universe), so they stay periodic BATCH jobs over the accumulated
lexical output — the standard lambda split for iterative graph algorithms
on streams: ``compact_canonical_triples`` is that job.  It re-derives the
entity universe from the ACCUMULATED lexical triples themselves (no
re-lex: the obj column IS the typed entity id), links + canonicalizes,
and rewrites the triples through the same canonicalization tail the batch
pipeline uses — so its output is EXACTLY the batch pipeline's canonical
triple set (tests/test_streaming_kg.py parity test over waves).

Tests assert batch/stream parity: the streaming plan drained with
trigger(availableNow=True) over a directory written in waves emits
exactly the batch plan's lexical triples, and compaction over the
accumulated stream output equals the full batch pipeline's triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import constants, schemas
from ..session import driver_rows
from ..stages import canonical, embed, link, materialize, mentions


def read_files_stream(spark: SparkSession, files_dir: str) -> DataFrame:
    """File-source stream over a files parquet directory (new files appear
    as new parquet parts; maxFilesPerTrigger bounds micro-batch size)."""
    return spark.readStream.schema(schemas.FILES).parquet(files_dir)


def lexical_triples_stream(files: DataFrame) -> DataFrame:
    """files (streaming OR batch) -> lexical triples.  Map-only: the
    canonical mapping is None, so no probe/collect/union touches the
    streaming plan; every operator is a mapInPandas or a projection and the
    sink can run in append mode with exactly-once file-source semantics."""
    packed = mentions.extract_mentions_packed(files)
    return materialize.triples_from_packed(packed, mapping=None)


def start_lexical_ingest(
    spark: SparkSession,
    files_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    query_name: str = "kg_lexical_ingest",
):
    """Continuous ingest: append lexical triples as parquet as new file
    batches land; resumable via the streaming checkpoint."""
    stream = lexical_triples_stream(read_files_stream(spark, files_dir))
    return (
        stream.writeStream.format("parquet")
        .queryName(query_name)
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def entities_from_lexical(lexical: DataFrame) -> DataFrame:
    """Accumulated lexical triples -> distinct (entity_id, name, kind).

    The obj column is already the typed entity id ('<etype>:<name>'), so
    the entity universe needs no re-lex of the corpus: one distinct over
    the (much smaller) triple objs.  Matches stages/embed.py's
    entities_from_mentions exactly — triple objs are the etype-mapped
    mention names with module-kind mentions dropped, and the LINK_KINDS
    restriction happens downstream in both paths."""
    return (
        lexical.where(F.col("pred") != constants.PRED_SAME_AS)
        .select(F.col("obj").alias("entity_id"))
        .distinct()
        .withColumn("kind", F.substring_index("entity_id", ":", 1))
        .withColumn(
            "name",
            F.expr("substring(entity_id, length(substring_index(entity_id, ':', 1)) + 2)"),
        )
        .select("entity_id", "name", "kind")
    )


def compact_canonical_triples(spark: SparkSession, lexical_dir: str) -> DataFrame:
    """The periodic batch compaction pass over accumulated streamed lexical
    triples: derive the entity universe, embed + LSH-link + connected
    components (the corpus-global stages that cannot stream), then rewrite
    the lexical triples through the batch pipeline's canonicalization tail
    (materialize.canonicalize_lexical) — producing the same canonical
    (subj, pred, obj, line, score) set a from-scratch batch run emits.

    Scale notes: the entity distinct is over triple objs (bounded by the
    naming-variant namespace, not the corpus); linking is the same 16-band
    LSH bucket join as the batch path; the canonical dictionary join is
    broadcast.  Rerunning after every ingest wave is idempotent — the
    lexical side never changes retroactively (file-source exactly-once),
    so compaction is a pure function of the accumulated directory."""
    lexical = spark.read.parquet(lexical_dir)
    ents = entities_from_lexical(lexical).where(
        F.col("kind").isin(*constants.LINK_KINDS)
    )
    links = link.candidate_links(embed.embed_entities(ents))
    mapping = canonical.connected_components(links)
    return materialize.canonicalize_lexical(lexical, mapping, driver_rows(mapping))
