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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants
from ..valvemetrics import drop_hot_keys


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
        .withColumn("bucket", F.xxhash64("kind", "band", "sig"))
        .drop("band", "sig")
    )


def cosine_expr(a: str, b: str):
    """JVM-side dot product of two pre-normalized float arrays."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).cast("double")


def candidate_links(
    embedded: DataFrame,
    threshold: float = constants.LINK_THRESHOLD,
    max_bucket: int = constants.LINK_MAX_BUCKET,
) -> DataFrame:
    """ENTITY_EMBEDDINGS -> CANDIDATE_LINKS (a < b canonical ordering,
    /root/reference/experiments/uaz_documents_comparison.py:237-238)."""
    bucketed = with_buckets(embedded)

    # observable valve: oversized buckets are dropped, and the dropped
    # row/key counts are recorded + logged (kgforge/valvemetrics.py) so
    # the recall cost of the cap is never silent.
    bucketed = drop_hot_keys(bucketed, ["bucket"], max_bucket, "link_candidate_bucket")

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
