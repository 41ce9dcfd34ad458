"""Block-then-verify: the one candidate join of the similarity operators.

The near-dup and similarity operators propose candidates the way the
pipeline's entity linker does: rows that share a block key (an LSH band
bucket, a label, a k-means cluster, a prefix shingle, a fingerprint, a
SimHash chunk) pair up through one equi-join, and an exact score then
verifies each pair.  This module holds the shared pieces:

- ``block_pairs`` — the equi-join on the block keys, either every
  unordered pair once per shared key (``a < b``) or new rows against old;
- ``sides`` — per-id columns of both ends of a pair set, for a verify;
- ``unit`` + ``cosine`` — the double-cast vector and its norm, built once
  per vector, and the pair score from them;
- ``top_k`` — the first k rows of each group under a total order.

``stages/link.py`` keeps its own bucket join: it scores inside the join,
keeps min(bucket) per pair, and its driver finisher reproduces that body
bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _end(rows: DataFrame, id_col: str, id_as: str, sfx: str, keys, cols) -> DataFrame:
    return rows.select(
        F.col(id_col).alias(id_as), *keys, *[F.col(c).alias(c + sfx) for c in cols]
    )


def block_pairs(rows, id_col, keys, a, b, new=None, cols=()) -> DataFrame:
    """(a, b, <col>_a..., <col>_b...) for the rows of ``rows`` that agree
    on every column of ``keys``: each unordered pair with ``a < b`` once
    per key it shares or, when ``new`` is a predicate, each new row (a)
    against each old row (b), never new x new or old x old.  ``cols`` are
    per-id columns carried through the join.  Callers add ``.distinct()``,
    a filter or a ``groupBy`` themselves."""
    left, right = (rows, rows) if new is None else (rows.where(new), rows.where(~new))
    pairs = _end(left, id_col, a, "_a", keys, cols).join(
        _end(right, id_col, b, "_b", keys, cols), keys
    )
    if new is None:
        pairs = pairs.where(F.col(a) < F.col(b))
    return pairs.select(a, b, *[c + "_a" for c in cols], *[c + "_b" for c in cols])


def sides(pairs, table, id_col, a, b, cols) -> DataFrame:
    """``pairs`` with ``table``'s ``cols`` for both ends, joined on ids
    ``a`` and ``b`` and suffixed ``_a`` and ``_b``."""
    for end, sfx in ((a, "_a"), (b, "_b")):
        pairs = pairs.join(_end(table, id_col, end, sfx, (), cols), end)
    return pairs


def unit(df, suffix="") -> DataFrame:
    """``df`` with its float array ``embedding`` replaced by
    ``vec<suffix>``, its double cast, and ``norm<suffix>``, its L2 norm."""
    vec, norm = "vec" + suffix, "norm" + suffix
    return (
        df.withColumn(vec, F.transform("embedding", lambda v: v.cast("double")))
        .drop("embedding")
        .withColumn(norm, F.sqrt(F.aggregate(vec, F.lit(0.0), lambda s, v: s + v * v)))
    )


def cosine(a="_a", b="_b"):
    """Cosine of the ``unit`` vectors ``vec<a>`` and ``vec<b>``: the dot
    product summed in element order, over the product of the norms."""
    dot = F.aggregate(
        F.zip_with("vec" + a, "vec" + b, lambda p, q: p * q), F.lit(0.0), lambda s, v: s + v
    )
    return dot / (F.col("norm" + a) * F.col("norm" + b))


def top_k(df, by, order, k) -> DataFrame:
    """The first ``k`` rows of each ``by`` group under ``order``, which
    must be total so the cut is the same on every engine and layout."""
    rn = F.row_number().over(Window.partitionBy(by).orderBy(*order))
    return df.withColumn("_rn", rn).where(F.col("_rn") <= k).drop("_rn")
