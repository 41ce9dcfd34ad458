"""Stage 1 — mention detection: files -> mentions.

A vectorized mapInPandas UDTF (one file row -> many mention rows), the
Spark-idiomatic shape for the reference's per-paragraph mention loop
(/root/reference/experiments/uaz_documents_comparison.py:153-160) and the
NER batch archetype (/root/reference/experiments/named_entity_recognition.py:9-16).

Scale notes:
- The lexer is pure CPU per file; the only data movement is the Arrow batch
  across the JVM<->Python boundary. No shuffle in this stage.
- content_sha256 is computed JVM-side with the built-in ``sha2`` BEFORE the
  UDF and carried through (input_hint invariant), so the invariant check
  never depends on Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import lexer, schemas

# Checkpoint-table schema for the packed mention stage (one row per file,
# parallel kinds/names/lines/firsts arrays).  Module-level so
# CheckpointManager can validate a resumed table against it — round 1
# changed this format (added 'firsts') and a pre-change checkpoint would
# fail arrays_zip on resume (ADVICE.md).
MENTIONS_PACKED = StructType(
    [f for f in schemas.MENTIONS.fields if f.name not in ("kind", "name", "line", "is_first")]
    + [
        StructField("kinds", ArrayType(StringType(), False), False),
        StructField("names", ArrayType(StringType(), False), False),
        StructField("lines", ArrayType(IntegerType(), False), False),
        StructField("firsts", ArrayType(BooleanType(), False), False),
        # mention count, materialized at lex time: lineage/metrics reads
        # this 4-byte column instead of decoding the heavy arrays to take
        # size(kinds) — a full array decode per metrics pass otherwise.
        StructField("n_mentions", IntegerType(), False),
    ]
)


def with_content_sha(files: DataFrame) -> DataFrame:
    return files.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def extract_mentions_packed(files: DataFrame) -> DataFrame:
    """files(repo,path,commit,lang,content[,content_sha256]) -> packed
    mentions: ONE row per file with parallel kinds/names/lines arrays.

    This is the form the checkpoint table uses: 60x fewer rows than the
    exploded view, no per-mention duplication of repo/path/commit/sha
    strings through the Arrow sockets or on disk (at 10^12 files the
    exploded checkpoint would be ~6x10^13 rows).  ``explode_mentions``
    restores the logical MENTIONS view JVM-side (inline, codegen).

    No repartition: lexing is an embarrassingly-parallel map, so scan
    splits already balance it and a pre-UDF shuffle would move the ENTIRE
    corpus once more (measured 2x wall on the mention stage; at 100 TB
    it's a full extra pass over the input).  Skew handling belongs on the
    keyed stages (the link self-join uses AQE skew-join), not on the map.
    """
    if "content_sha256" not in files.columns:
        files = with_content_sha(files)

    cols = ["repo", "path", "commit", "lang", "content_sha256", "content"]
    src = files.select(*cols)

    # One output row per FILE with an array<struct> of mentions; the 61x
    # row explosion happens JVM-side via inline().  This keeps the
    # Python->JVM Arrow stream proportional to the input (no per-mention
    # duplication of repo/path/commit/sha strings) — measured ~2x on the
    # whole stage.
    packed = MENTIONS_PACKED

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, names, lines, firsts = [], [], [], []
            for lang, path, content in zip(pdf["lang"], pdf["path"], pdf["content"]):
                rows = lexer.lex(lang, path, content)
                kinds.append([r[0] for r in rows])
                names.append([r[1] for r in rows])
                lines.append([r[2] for r in rows])
                # first occurrence of (kind, name) in this file — the lexer
                # emits in line order, so flagging here is one dict pass and
                # lets the triples stage skip its dedup shuffle entirely.
                seen: set[tuple[str, str]] = set()
                fl = []
                for r in rows:
                    k = (r[0], r[1])
                    fl.append(k not in seen)
                    seen.add(k)
                firsts.append(fl)
            yield pd.DataFrame(
                {
                    "repo": pdf["repo"],
                    "path": pdf["path"],
                    "commit": pdf["commit"],
                    "lang": pdf["lang"],
                    "content_sha256": pdf["content_sha256"],
                    "kinds": kinds,
                    "names": names,
                    "lines": lines,
                    "firsts": firsts,
                    "n_mentions": [len(k) for k in kinds],
                }
            )

    return src.mapInPandas(run, schema=packed)


def explode_mentions(packed: DataFrame) -> DataFrame:
    """Packed per-file mentions -> logical MENTIONS view (JVM-side inline)."""
    return packed.select(
        "repo",
        "path",
        "commit",
        "lang",
        "content_sha256",
        F.inline(F.arrays_zip("kinds", "names", "lines", "firsts")),
    ).withColumnsRenamed(
        {"kinds": "kind", "names": "name", "lines": "line", "firsts": "is_first"}
    )


def extract_mentions(files: DataFrame) -> DataFrame:
    """files -> MENTIONS (exploded view; see extract_mentions_packed)."""
    return explode_mentions(extract_mentions_packed(files))
