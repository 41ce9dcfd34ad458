"""Stage 3 — entity linking: entity_embeddings -> candidate_links.

Replaces the reference's all-pairs cosine scan
(/root/reference/search/bert_search.py:176-181, O(N·M) tensor broadcast)
with sign-LSH blocking (SURVEY.md §4 N1): each entity carries LSH_BANDS band
signatures, computed once by the embed stage's UDF and stored in
entity_embeddings; only pairs sharing a (kind, band, signature) bucket are
scored.
The bucket join is a plain equi-join, so Catalyst/AQE give us shuffled-hash
or sort-merge execution plus skew splitting for free; cosine is computed
JVM-side (zip_with + aggregate over pre-normalized vectors, so cosine ==
dot) — no Python in the join path, and none in the stage at all.

Scale notes:
- Cosine is evaluated inside the bucket join and deduped AFTER with a
  groupBy(a, b) max — 64 FLOPs per candidate beats two extra shuffles to
  dedup first.
- Degenerate buckets (hot signatures) are dropped via a broadcast anti-join
  against the (tiny) oversized-bucket list — the safety valve that keeps a
  10^12-entity run from producing a quadratic bucket.

Driver finisher: the stage first probes its entities with
``session.driver_rows`` capped at ``LINK_PROBE_ROWS``, each with its
bucket keys (computed JVM-side by the same ``bucket_key`` the join uses).
When the whole table fits in that probe and its surviving buckets
self-join to at most ``LOCAL_LINK_PAIRS`` rows (sum of n_b^2), the same
plan runs in numpy on the driver: the same valve (recorded through
``valvemetrics.record``), the same a < b self-join, the cosine as float32
products summed in order in float64 (what the JVM's aggregate does), the
same threshold and the same (a, b) -> max score, min bucket dedup.  Its
rows are bit-identical to the distributed plan's (tests/test_link.py runs
both).  A 72-entity build then costs one probe job instead of the valve,
join and dedup jobs.  Both bounds are driver-memory guards, not
crossovers: the local path still won at the largest graph the guard
admits (BASELINE.md "link finisher").

The bucket join is written here, not through ``kgforge.simjoin`` as the
dedup and similarity operators' joins are: it scores inside the join
and keeps min(bucket) per pair, the numpy finisher is pinned bit for bit
to that body, and it is the only similarity join perfbench measures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants, valvemetrics
from ..session import driver_rows, local_frame

# Rows of the bucket self-join (sum of n_b^2 over the buckets that pass the
# valve) the driver finisher may build; past it the distributed plan runs.
# A driver-memory guard: the finisher's peak grows ~47 bytes per row
# (BASELINE.md "link finisher"), ~190 MB here.
LOCAL_LINK_PAIRS = 4_000_000
# Entities the finisher's probe collects; a larger table runs the
# distributed plan.  With LSH_ROWS-bit bands an entity table of n rows
# over k kinds self-joins to at least (LSH_BANDS / 2**LSH_ROWS) * n^2 / k
# rows, n^2 / 2 for the two LINK_KINDS, so past ~2.8k entities the pair
# guard declines anyway and a larger probe would be collected for nothing.
LINK_PROBE_ROWS = 4_000

_VALVE = "link_candidate_bucket"
_LINKS_DDL = "a string, b string, score double, bucket long"


def bucket_key(kind, band, sig):
    """The LSH bucket of one (kind, band, signature) — the one definition
    both the bucket join and the driver finisher's probe use."""
    return F.xxhash64(kind, band, sig)


def with_buckets(embedded: DataFrame) -> DataFrame:
    """entity_embeddings -> one row per (entity, band) with a bucket key,
    from the band signatures the embed stage stored."""
    return (
        embedded.select(
            "entity_id",
            "kind",
            "embedding",
            F.posexplode("sigs").alias("band", "sig"),
        )
        .withColumn("bucket", bucket_key("kind", "band", "sig"))
        .drop("band", "sig")
    )


def cosine_expr(a: str, b: str):
    """JVM-side dot product of two pre-normalized float arrays."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).cast("double")


def candidate_links(embedded: DataFrame) -> DataFrame:
    """ENTITY_EMBEDDINGS -> CANDIDATE_LINKS (a < b canonical ordering,
    /root/reference/experiments/uaz_documents_comparison.py:237-238).

    Scores at least ``constants.LINK_THRESHOLD`` and buckets of at most
    ``constants.LINK_MAX_BUCKET`` rows, the values the pandas twin uses.
    Finishes on the driver when the table and its bucket self-join fit the
    module bounds (see the module docstring); the rows are the same."""
    threshold, max_bucket = constants.LINK_THRESHOLD, constants.LINK_MAX_BUCKET
    probe = driver_rows(
        embedded.select(
            "entity_id",
            "embedding",
            F.transform("sigs", lambda sig, band: bucket_key(F.col("kind"), band, sig)).alias(
                "buckets"
            ),
        ),
        LINK_PROBE_ROWS,
    )
    if probe is not None:
        local = _local_links(embedded.sparkSession, probe, threshold, max_bucket)
        if local is not None:
            return local

    bucketed = with_buckets(embedded)

    # observable valve: oversized buckets are dropped, and the dropped
    # row/key counts are recorded + logged (kgforge/valvemetrics.py) so
    # the recall cost of the cap is never silent.
    bucketed = valvemetrics.drop_hot_keys(bucketed, ["bucket"], max_bucket, _VALVE)

    left = bucketed.select(
        "bucket",
        F.col("entity_id").alias("a"),
        F.col("embedding").alias("_ea"),
    )
    right = bucketed.select(
        "bucket",
        F.col("entity_id").alias("b"),
        F.col("embedding").alias("_eb"),
    )
    pairs = (
        left.join(right, "bucket")
        .where(F.col("a") < F.col("b"))
        .withColumn("score", cosine_expr("_ea", "_eb"))
        .where(F.col("score") >= F.lit(float(threshold)))
    )
    return pairs.groupBy("a", "b").agg(
        F.max("score").alias("score"), F.min("bucket").alias("bucket")
    )


def _local_links(spark, rows, threshold: float, max_bucket: int) -> DataFrame | None:
    """The distributed body of ``candidate_links`` over collected probe
    rows, in numpy.  Returns None, recording nothing, when the surviving
    buckets self-join to more than ``LOCAL_LINK_PAIRS`` rows."""
    ent = np.repeat(np.arange(len(rows)), [len(r["buckets"]) for r in rows])
    keys = np.fromiter((k for r in rows for k in r["buckets"]), np.int64, len(ent))
    # valve: group sizes over every (entity, band) row, drop groups over the cap
    buckets, group, sizes = np.unique(keys, return_inverse=True, return_counts=True)
    hot = sizes > max_bucket
    if int(np.square(sizes[~hot]).sum()) > LOCAL_LINK_PAIRS:
        return None
    valvemetrics.record(_VALVE, max_bucket, len(keys), int(sizes[hot].sum()), int(hot.sum()))

    # bucket self-join: every unordered pair of rows inside a surviving
    # bucket, grouped by bucket size so each size is one triu_indices block
    by_bucket = ent[np.argsort(group, kind="stable")]
    starts = np.cumsum(sizes) - sizes
    blocks = [(np.zeros(0, np.int64),) * 3]
    for size in np.unique(sizes[~hot & (sizes > 1)]):
        g = np.flatnonzero(~hot & (sizes == size))
        i, j = np.triu_indices(size, 1)
        blocks.append(
            (
                by_bucket[(starts[g, None] + i).ravel()],
                by_bucket[(starts[g, None] + j).ravel()],
                np.repeat(buckets[g], len(i)),
            )
        )
    left, right, pair_bucket = (np.concatenate(c) for c in zip(*blocks))

    # cosine as the JVM computes it: float32 products, summed in order in float64
    emb = np.array([r["embedding"] for r in rows], dtype=np.float32, ndmin=2).T.copy()
    score = np.zeros(len(left))
    for col in emb:
        score += col[left] * col[right]
    # a < b on the ids (str order is Spark's UTF-8 binary order); equal ids
    # share a rank and drop out, as the join's a < b drops them
    ids, rank = np.unique(
        np.array([r["entity_id"] for r in rows], dtype=object), return_inverse=True
    )
    ra, rb = rank[left], rank[right]
    hit = (ra != rb) & (score >= float(threshold))
    pairs = pd.DataFrame(
        {
            "a": np.minimum(ra, rb)[hit],
            "b": np.maximum(ra, rb)[hit],
            "score": score[hit],
            "bucket": pair_bucket[hit],
        }
    )
    links = pairs.groupby(["a", "b"], as_index=False, sort=False).agg(
        score=("score", "max"), bucket=("bucket", "min")
    )
    links["a"], links["b"] = ids[links["a"].to_numpy()], ids[links["b"].to_numpy()]
    return local_frame(spark, links, _LINKS_DDL)


def exact_links(embedded: DataFrame, threshold: float = constants.LINK_THRESHOLD) -> DataFrame:
    """Exact all-pairs variant (the reference's own O(N^2) semantics) — used
    by tests to measure LSH candidate recall (SURVEY.md §7.2(e)).  Broadcast
    nested-loop join: only valid at small N."""
    left = embedded.select(
        F.col("kind").alias("_ka"), F.col("entity_id").alias("a"), F.col("embedding").alias("_ea")
    )
    right = embedded.select(
        F.col("kind").alias("_kb"), F.col("entity_id").alias("b"), F.col("embedding").alias("_eb")
    )
    return (
        left.crossJoin(F.broadcast(right))
        .where((F.col("_ka") == F.col("_kb")) & (F.col("a") < F.col("b")))
        .withColumn("score", cosine_expr("_ea", "_eb"))
        .where(F.col("score") >= F.lit(float(threshold)))
        .select("a", "b", "score", F.lit(-1).cast("long").alias("bucket"))
    )
