"""Stage 5 — graph materialization: mentions + canonical map -> triples,
plus the per-repo lineage rows of an audited run.

Output is the canonical (subj, pred, obj, line, score) edge table — the
analog of the reference's ranked-links CSV
(/root/reference/experiments/uaz_documents_comparison.py:181-192) with the
evidence-set squash of :380-389 normalized to a first-occurrence line
(min instead of collect_set bounds row width at 10^12 scale;
``with_evidence`` rebuilds the display string).

Scale notes:
- The bulk path is SHUFFLE-FREE: per-file first-occurrence dedup rides
  the lexer's is_first flag; only mentions of linked entities (broadcast
  dictionary) pay a hash aggregate.  No string agg buffers anywhere
  (they would downgrade HashAggregate to SortAggregate).
- The canonical-map join is broadcast; the collision dictionary is built
  driver-side from one ``session.driver_rows`` probe of the mapping when
  it fits, and a mapping of at most ``MAP_LITERAL_MAX`` rows rides the
  single-pass packed plan as a closure dictionary.
- Output is partitioned by pred — partition pruning for per-predicate
  consumers (SURVEY.md §4 N5).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants
from ..session import driver_rows, local_frame

_KIND_PRED = {
    "import": constants.PRED_IMPORTS,
    "class": constants.PRED_DEFINES,
    "function": constants.PRED_DEFINES,
    "call": constants.PRED_CALLS,
}
_KIND_ETYPE = {"import": "module", "class": "class", "function": "function", "call": "function"}

# The shuffle-free bulk dedup in triples_from_mentions relies on
# kind -> (pred, etype) being INJECTIVE: two kinds that mapped to the same
# (pred, etype) would emit duplicate (subj, pred, obj) rows with no test
# catching it (ADVICE.md).  Machine-check the invariant at import.
_kind_images = [( _KIND_PRED[k], _KIND_ETYPE[k]) for k in _KIND_PRED]
assert len(set(_kind_images)) == len(_kind_images), (
    "kind->(pred, etype) must be injective for the is_first dedup to be "
    f"correct; collision in {_kind_images}"
)
del _kind_images


# Largest canonical dictionary the single-pass packed plan captures as a
# dict in its mapInPandas closure; a bigger one takes the broadcast-join
# plan.  The closure is pickled into the plan's Python command, which every
# task deserializes (PySpark ships a command over 1 MB as a broadcast
# instead), so the bound keeps that per-task cost small.  Its value is not
# measured: no run has timed the two plans around it.
MAP_LITERAL_MAX = 10_000


def triples_from_packed(packed: DataFrame, mapping: DataFrame | None) -> DataFrame:
    """PACKED mentions + ENTITIES -> TRIPLES in ONE pass, zero joins,
    zero shuffles (plus the tiny same_as union).

    The union-of-two-filters plan in ``triples_from_mentions`` evaluates
    its (un-materialized) scan+explode+join TWICE — Catalyst cannot reuse
    a non-exchange subtree across union legs, and the double decode of the
    packed arrays measured as the worst-scaling stage of the 1M-file
    pipeline (35s at local[2] -> 40-75s at local[8]).  A pure-JVM
    single-pass variant (literal-map lookups + per-element first-occurrence
    filter in array land) was tried first and measured CATASTROPHICALLY
    slow: higher-order-function lambda bodies are interpreted, not
    whole-stage-codegen'd, so the O(n^2)-per-file key dedup plus per-element
    map construction ran minutes where the join plan ran seconds.

    This implementation ships the packed arrays through ONE Arrow-batched
    mapInPandas — the exact shape of the lexer stage, which measures
    0.91+ scaling — with the (probed, broadcast-sized) canonical
    dictionary captured in the UDF closure.  Per file, a plain dict pass
    maps kind -> (pred, etype), applies canonicalization, and keeps the
    first occurrence of each (pred, obj) key (== min line: the lexer
    emits mentions in line order — the invariant is_first already relies
    on; this subsumes is_first including post-canonicalization
    collisions).  Output stays PACKED per file and a JVM inline()
    explodes it:

        scan packed -> mapInPandas (map+dedup, arrays in/arrays out)
                    -> inline -> project -> write

    The twin differential + fixture oracles pin exact equality with the
    join plan.  Dictionaries larger than ``MAP_LITERAL_MAX`` fall back to
    the broadcast-join plan (closure capture of an unbounded dict would
    ship it to every task)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from . import mentions as mentions_stage

    # mapping=None: pure lexical triples with no canonicalization and no
    # same_as leg — a map-only plan that also runs on a STREAMING packed
    # DataFrame (streaming/kg.py ingests lexical triples incrementally;
    # linking/canonicalization stay periodic batch jobs over the union).
    if mapping is None:
        rows = []
    else:
        # ONE probe serves both paths: the join plan takes these rows (or
        # None past the cap) instead of collecting the mapping again.  Over
        # the driver-built mapping the pipeline hands forward the probe
        # runs no job; over a stage table it is one.
        rows = driver_rows(mapping)
        if rows is None or len(rows) > MAP_LITERAL_MAX:
            return triples_from_mentions(mentions_stage.explode_mentions(packed), mapping, rows)

    canon = {r["entity_id"]: r["canonical_id"] for r in rows}
    kind_pred = dict(_KIND_PRED)
    kind_etype = dict(_KIND_ETYPE)

    out_schema = StructType(
        [
            StructField("subj", StringType(), False),
            StructField("preds", ArrayType(StringType(), False), False),
            StructField("objs", ArrayType(StringType(), False), False),
            StructField("lns", ArrayType(IntegerType(), False), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            subjs, preds_out, objs_out, lns_out = [], [], [], []
            for repo, path, kinds, names, lines in zip(
                pdf["repo"], pdf["path"], pdf["kinds"], pdf["names"], pdf["lines"]
            ):
                seen: set[tuple[str, str]] = set()
                ps: list[str] = []
                os_: list[str] = []
                ls: list[int] = []
                for k, n, ln in zip(kinds, names, lines):
                    if k == "module":
                        continue
                    obj = kind_etype[k] + ":" + n
                    obj = canon.get(obj, obj)
                    key = (kind_pred[k], obj)
                    if key in seen:
                        continue
                    seen.add(key)
                    ps.append(key[0])
                    os_.append(obj)
                    ls.append(int(ln))
                subjs.append(repo + ":" + path)
                preds_out.append(ps)
                objs_out.append(os_)
                lns_out.append(ls)
            yield pd.DataFrame(
                {"subj": subjs, "preds": preds_out, "objs": objs_out, "lns": lns_out}
            )

    packed_triples = packed.select("repo", "path", "kinds", "names", "lines").mapInPandas(
        run, schema=out_schema
    )
    lexical = packed_triples.select(
        "subj", F.inline(F.arrays_zip("preds", "objs", "lns"))
    ).select(
        F.col("subj"),
        F.col("preds").alias("pred"),
        F.col("objs").alias("obj"),
        F.col("lns").alias("line"),
        F.lit(1.0).alias("score"),
    )
    if mapping is None:
        return lexical

    return lexical.unionByName(_same_as(mapping))


def triples_from_mentions(mentions: DataFrame, mapping: DataFrame, rows: list | None) -> DataFrame:
    """MENTIONS + ENTITIES -> TRIPLES.

    subj = '<repo>:<path>' (the file node), obj = canonicalized typed
    entity id, line = first-occurrence evidence line (see
    ``with_evidence`` for the display string), score = 1.0 for lexical
    triples.  same_as triples come straight from the mapping.

    ``rows`` are the mapping's rows from ``session.driver_rows``, or None
    when it has more.  Given the rows (the mapping is broadcast-sized by
    contract), the collision dictionary is rebuilt from them as one
    driver-local relation — the distinct-union subquery would otherwise
    be planned (and its shuffle run) once per join leg.
    (A packed-level ``arrays_overlap`` file pre-filter for the dedup leg
    was measured and REJECTED: re-decoding the heavy ``names`` array
    column for every file costs as much as the explode it avoids.)
    """
    pred_map = F.create_map(*[F.lit(x) for kv in _KIND_PRED.items() for x in kv])
    etype_map = F.create_map(*[F.lit(x) for kv in _KIND_ETYPE.items() for x in kv])

    # The triple key (subj, pred, obj) has subj == the file itself, so
    # first-occurrence dedup NEVER crosses files: the is_first flag the
    # lexer computed per file replaces a groupBy(subj, pred, obj) shuffle
    # of every mention (at 10^12 files that shuffle moves the whole mention
    # set once).  Post-filter, duplicates can only REAPPEAR via
    # canonicalization — two raw names collapsing onto one canonical
    # entity, or a raw name colliding with a canonical id — and both cases
    # touch only mentions of LINKED entities, a broadcast-sized set.  So:
    # the bulk of the corpus flows scan -> filter -> project -> write with
    # zero shuffles, and only the linked-mention sliver pays a (numeric,
    # hash-aggregate) dedup.
    m = mentions.where((F.col("kind") != "module") & F.col("is_first"))
    lexical = m.select(
        F.concat_ws(":", "repo", "path").alias("subj"),
        pred_map[F.col("kind")].alias("pred"),
        F.concat_ws(":", etype_map[F.col("kind")], F.col("name")).alias("obj"),
        F.col("line"),
        F.lit(1.0).alias("score"),
    )
    return canonicalize_lexical(lexical, mapping, rows)


def canonicalize_lexical(lexical: DataFrame, mapping: DataFrame, rows: list | None) -> DataFrame:
    """LEXICAL triples (subj, pred, obj, line, score — raw objs, already
    per-file first-occurrence-deduped on RAW keys) + canonical mapping ->
    canonical TRIPLES.  This is the tail of ``triples_from_mentions``,
    factored out so the streaming compaction job (streaming/kg.py) can
    canonicalize ACCUMULATED lexical triples without re-lexing: applying
    the mapping to objs, re-deduping the (broadcast-sized) collision
    sliver with min-line survivorship, and unioning the same_as leg is
    exactly what the batch path does after its lexical projection — which
    is why compaction output equals the batch pipeline's triples
    (tests/test_streaming_kg.py parity test).  ``rows`` as in
    ``triples_from_mentions``."""
    # One dictionary covering every obj that can participate in a
    # post-canonicalization collision: linked names (-> their canonical id)
    # plus the canonical ids themselves (-> identity).  A single broadcast
    # left join then yields both the final obj and the needs-dedup flag,
    # so the plan has exactly two legs over the mention scan: the untouched
    # bulk (no shuffle) and the linked sliver (tiny hash aggregate).
    if rows is not None:
        pairs = sorted(
            {(r["entity_id"], r["canonical_id"]) for r in rows}
            | {(r["canonical_id"], r["canonical_id"]) for r in rows}
        )
        spark = lexical.sparkSession
        if not pairs:
            # empty mapping: nothing links, nothing can collide
            return lexical.select("subj", "pred", "obj", "line", "score")
        pdf = pd.DataFrame(pairs, columns=["obj", "_canon"])
        hot_dict = local_frame(spark, pdf, "obj string, _canon string")
    else:
        hot_dict = (
            mapping.select(F.col("entity_id").alias("obj"), F.col("canonical_id").alias("_canon"))
            .unionByName(
                mapping.select(
                    F.col("canonical_id").alias("obj"), F.col("canonical_id").alias("_canon")
                )
            )
            .distinct()
        )

    j = lexical.join(F.broadcast(hot_dict), "obj", "left")
    safe = j.where(F.col("_canon").isNull()).drop("_canon")
    hot_rows = j.where(F.col("_canon").isNotNull())

    deduped = hot_rows.groupBy("subj", "pred", F.col("_canon").alias("obj")).agg(
        F.min("line").alias("line"), F.max("score").alias("score")
    )
    # evidence stays NORMALIZED (the line int; see schemas.TRIPLES): the
    # '<subj>:<line>' display string doubles the string bytes of every row
    # through the write — measured ~1.8x wall on this stage at high
    # parallelism, where the writer is memory-bandwidth-bound.
    lexical = safe.unionByName(deduped.select(safe.columns)).select(
        "subj", "pred", "obj", "line", "score"
    )

    # Both sides are already unique per (subj, pred, obj): lexical via the
    # per-file is_first filter, same_as via one-mapping-row-per-entity.
    return lexical.unionByName(_same_as(mapping))


def _same_as(mapping: DataFrame) -> DataFrame:
    """The mapping's same_as triples.  A driver-built mapping (the one
    canonical's union-find hands forward) stays one partition, as the
    one-file table it was written to reads, so the triples table keeps
    its file count."""
    same_as = mapping.select(
        F.col("entity_id").alias("subj"),
        F.lit(constants.PRED_SAME_AS).alias("pred"),
        F.col("canonical_id").alias("obj"),
        F.lit(None).cast("int").alias("line"),
        F.lit(1.0).alias("score"),
    )
    return same_as.coalesce(1) if mapping.isLocal() else same_as


def with_evidence(triples: DataFrame) -> DataFrame:
    """Denormalized evidence view: '<subj>:<line>' for lexical triples,
    'canonicalization' for same_as rows (line NULL).  Kept OUT of the
    stored table — it duplicates subj byte-for-byte (schemas.TRIPLES)."""
    return triples.withColumn(
        "evidence",
        F.when(
            F.col("line").isNull(), F.lit("canonicalization")
        ).otherwise(F.concat_ws(":", "subj", F.col("line").cast("string"))),
    )


def sha_audit(rows_in: DataFrame, rows_out: DataFrame) -> DataFrame:
    """Per-repo verification of the input_hint invariant: every
    (repo, path, commit) in the output carries the same content_sha256 as
    the source table.  This re-hashes the source content — a full input
    pass — so it is an explicit audit (tests + ``--audit``), not something
    silently glued onto every metrics row."""
    key = ["repo", "path", "commit", "content_sha256"]
    src = rows_in.select(*key).distinct()
    got = rows_out.select(*key).distinct()
    bad = got.join(src, key, "left_anti").groupBy("repo").agg(F.count(F.lit(1)).alias("_bad"))
    return (
        src.select("repo")
        .distinct()
        .join(bad, "repo", "left")
        .select(
            "repo",
            (F.coalesce(F.col("_bad"), F.lit(0)) == 0).alias("content_sha_ok"),
        )
    )


def lineage_metrics(
    files: DataFrame,
    packed: DataFrame,
    triples: DataFrame,
    mentions_ms: int,
    triples_ms: int,
    sha_ok: DataFrame,
) -> DataFrame:
    """Per-repo lineage rows (north_rule) for the mentions stage (files in,
    mentions out) and the triples stage (mentions in, lexical triples out),
    from ONE groupBy(repo) over a union of the three tables' row weights:
    a file counts 1, a packed mention row its ``n_mentions`` (so the count
    never pays the 60x explode), a lexical triple 1.  same_as triples have
    entity subjects, not files, so no repo owns them.  ``sha_ok`` (from
    ``sha_audit``) folds the invariant verdicts into the mentions rows.
    The pipeline writes these rows only under ``audit``; by default its
    metrics table holds one row per stage."""
    zero, one = F.lit(0).cast("long"), F.lit(1).cast("long")
    cols = ["repo", "f", "m", "t"]  # weight columns: files, mentions, triples
    lexical = triples.where(F.col("pred") != constants.PRED_SAME_AS)
    per_repo = (
        files.select("repo", one, zero, zero).toDF(*cols)
        .union(packed.select("repo", zero, F.col("n_mentions").cast("long"), zero).toDF(*cols))
        .union(lexical.select(F.split_part("subj", F.lit(":"), F.lit(1)), zero, zero, one).toDF(*cols))
        .groupBy("repo")
        .agg(*[F.sum(c).alias(c) for c in "fmt"])
    )
    per_repo = per_repo.join(sha_ok, "repo", "left")
    sha = F.coalesce("content_sha_ok", F.lit(True))

    def row(stage, rows_in, rows_out, sha_col, wall_ms):
        return F.struct(
            F.lit(stage).alias("stage"),
            F.col("repo").cast("string").alias("partition_key"),
            F.col(rows_in).alias("rows_in"),
            F.col(rows_out).alias("rows_out"),
            sha_col.alias("content_sha_ok"),
            F.lit(int(wall_ms)).cast("long").alias("wall_ms"),  # METRICS says long, not int
        )

    mentions_row = row("mentions", "f", "m", sha, mentions_ms)
    triples_row = row("triples", "m", "t", F.lit(True), triples_ms)
    return per_repo.select(F.inline(F.array(mentions_row, triples_row)))
