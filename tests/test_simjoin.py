"""The shared block-then-verify join on small local frames: which pairs
each form emits, and how the pair ends are named."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgforge.simjoin import block_pairs, cosine, sides, top_k, unit


@pytest.fixture(scope="module")
def rows(spark):
    # docs 1 and 2 share both keys (band 0 and band 1); 3 shares band 1
    # with them; 4 shares nothing
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 1, 2, 2, 3, 3, 4],
                "band": [0, 1, 0, 1, 0, 1, 0],
                "sig": ["x", "y", "x", "y", "z", "y", "w"],
                "n": [10, 10, 20, 20, 30, 30, 40],
            }
        )
    )


def _pairs(df, a="a", b="b"):
    return sorted((r[a], r[b]) for r in df.collect())


def test_a_lt_b_pairs_once_after_distinct_and_never_self(rows):
    raw = block_pairs(rows, "doc_id", ["band", "sig"], "a", "b")
    # one row per shared key: (1, 2) twice, no (x, x) and no (b, a)
    assert _pairs(raw) == [(1, 2), (1, 2), (1, 3), (2, 3)]
    assert _pairs(raw.distinct()) == [(1, 2), (1, 3), (2, 3)]


def test_new_form_probes_new_against_old_only(rows):
    is_new = F.col("doc_id") >= 3
    got = _pairs(
        block_pairs(rows, "doc_id", ["band", "sig"], "new_doc", "dup_of", new=is_new).distinct(),
        "new_doc",
        "dup_of",
    )
    # 3 is new, 1 and 2 are old; no new x new and no old x old pair
    assert got == [(3, 1), (3, 2)]


def test_cols_ride_the_join_with_end_suffixes(rows):
    df = block_pairs(rows, "doc_id", ["band", "sig"], "a", "b", cols=("n",)).distinct()
    assert df.columns == ["a", "b", "n_a", "n_b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 2, 10, 20), (1, 3, 10, 30), (2, 3, 20, 30)]


def test_sides_suffixes_both_ends(spark, rows):
    pairs = spark.createDataFrame(pd.DataFrame({"a": [1], "b": [4]}))
    table = rows.select("doc_id", "n").distinct()
    df = sides(pairs, table, "doc_id", "a", "b", ("n",))
    assert sorted(df.columns) == ["a", "b", "n_a", "n_b"]
    assert [(r["n_a"], r["n_b"]) for r in df.collect()] == [(10, 40)]


def test_unit_cosine_and_top_k(spark):
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1, 2], "embedding": [[1.0, 0.0], [3.0, 4.0], [0.0, -2.0]]}),
        "vec_id long, embedding array<float>",
    )
    u = unit(e)
    assert u.columns == ["vec_id", "vec", "norm"]
    q = unit(e.where("vec_id = 0").select(F.col("vec_id").alias("qid"), "embedding"), suffix="_q")
    scored = u.crossJoin(q).select("qid", "vec_id", cosine("_q", "").alias("score"))
    assert {r["vec_id"]: r["score"] for r in scored.collect()} == {0: 1.0, 1: 0.6, 2: 0.0}
    top = top_k(scored, "qid", [F.desc("score"), F.asc("vec_id")], 2)
    assert top.columns == ["qid", "vec_id", "score"]
    assert sorted(r["vec_id"] for r in top.collect()) == [0, 1]
