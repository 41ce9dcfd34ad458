"""Stage 2 — entity embeddings: mentions -> entity_embeddings.

Distinct linkable entities are (etype, name) pairs derived from mention
kinds (a ``call`` refers to a ``function`` entity, an ``import`` to a
``module`` entity), embedded with the deterministic hashed char-trigram
mean-pool embedder from constants.py — the no-weights analog of the
reference's batched sentence encoder
(/root/reference/search/bert_search.py:124-143,160-166).  Set
``constants.EMBED_BACKEND='minilm'`` to swap in a real sentence-transformer
(gated import; the same UDF, which also computes each vector's LSH band
signatures for the link stage).

Spark shape: groupBy-distinct (one shuffle, tiny output) then an
iterator-style pandas_udf so any per-executor model init is amortized
across Arrow batches, mirroring the reference's load-model-once-then-batch
structure (/root/reference/search/bert_search.py:126-136 then :162).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants

# mention kind -> linkable entity type
KIND_TO_ETYPE = {
    "module": "module",
    "import": "module",
    "class": "class",
    "function": "function",
    "call": "function",
}


def _etype_col():
    m = F.create_map(*[F.lit(x) for kv in KIND_TO_ETYPE.items() for x in kv])
    return m[F.col("kind")]


def entities_from_mentions(mentions: DataFrame) -> DataFrame:
    """Distinct (etype, name) with stable entity_id = '<etype>:<name>'."""
    if "is_first" in mentions.columns:
        # per-file pre-dedup (computed by the lexer) — shrinks the input to
        # the global distinct by the per-file duplication factor before the
        # shuffle, a free map-side combine.
        mentions = mentions.where(F.col("is_first"))
    return (
        mentions.select(_etype_col().alias("kind"), F.col("name"))
        .distinct()
        .withColumn("entity_id", F.concat_ws(":", "kind", "name"))
        .select("entity_id", "name", "kind")
    )


def _hash_encoder():
    return constants.embed_batch


def _minilm_encoder():  # pragma: no cover - optional heavy backend
    from sentence_transformers import SentenceTransformer  # gated import

    model = SentenceTransformer("all-MiniLM-L6-v2")
    return lambda texts: model.encode(texts, batch_size=256, normalize_embeddings=True).astype(
        "float32"
    )


def _embed_udf(make_encoder):
    @F.pandas_udf("embedding array<float>, sigs array<int>")
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        encode = make_encoder()  # per-executor init (the minilm model load)
        for s in batches:
            mat = encode(s.tolist())
            yield pd.DataFrame(
                {"embedding": list(mat), "sigs": list(constants.lsh_signature(mat))}
            )

    return embed


def embed_entities(entities: DataFrame) -> DataFrame:
    """entities(entity_id, name, kind) -> ENTITY_EMBEDDINGS.  The LSH band
    signatures are computed here, from the vectors already in numpy, so
    the link stage runs no Python."""
    enc = _minilm_encoder if constants.EMBED_BACKEND == "minilm" else _hash_encoder
    return entities.withColumn("_e", _embed_udf(enc)(F.col("name"))).select(
        *entities.columns, "_e.embedding", "_e.sigs"
    )


def embed_mentions(mentions: DataFrame) -> DataFrame:
    """Distinct entities -> embeddings.  Only the linkable kinds
    (constants.LINK_KINDS) are embedded: embeddings exist solely to feed the
    link stage, and restricting them keeps the entity-embedding table
    bounded by the naming-variant namespace rather than the corpus size."""
    ents = entities_from_mentions(mentions).where(F.col("kind").isin(*constants.LINK_KINDS))
    return embed_entities(ents)
