"""Driver-gate rehearsal: run every registered query on Spark and compare
against its DuckDB oracle exactly the way the driver does — row count,
column names, and order-insensitive values (FIXTURES.md §5).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="module")
def ducks(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_registry_nonempty():
    assert len(QUERIES) >= 10
    assert set(ORACLES) <= set(QUERIES)


def _assert_matches_oracle(spark, sf_dir, ducks, name):
    got = _normalize(QUERIES[name](spark, sf_dir).toPandas())
    want = _normalize(ducks.sql(ORACLES[name]).df())
    assert list(got.columns) == list(want.columns), f"{name}: column mismatch"
    assert len(got) == len(want), f"{name}: rowcount {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, ducks, name):
    _assert_matches_oracle(spark, sf_dir, ducks, name)


@pytest.mark.parametrize("name", ["concept_pagerank", "entity_pagerank", "keyword_textrank"])
def test_pagerank_oracles_on_distributed_path(spark, sf_dir, ducks, monkeypatch, name):
    """At sf size every PageRank query finishes on the driver; with the
    local bound at 0 the same oracles gate the distributed body too."""
    from kgforge import session

    monkeypatch.setattr(session, "DRIVER_EDGES", 0)
    _assert_matches_oracle(spark, sf_dir, ducks, name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_embedding_lsh_neardup_recall(spark, sf_dir, ducks):
    """The cross-label LSH near-dup variant must recover (nearly all of)
    the brute-force global top-20 pairs.  This corpus has NO true
    near-dups (top cosine ~0.48), which is the adversarial case for sign
    bands — at real near-dup cosines (>=0.9) band recall is ~1.0 — so the
    bound here is deliberately the measured floor.  The brute-force
    reference is DuckDB's ``list_cosine_similarity``, as in the oracles,
    so it shares no code with the Spark cosine under test."""
    brute = ducks.sql(
        """
        select x.vec_id as a, y.vec_id as b,
               round(list_cosine_similarity(list_transform(x.embedding, v -> v::DOUBLE),
                                            list_transform(y.embedding, v -> v::DOUBLE)), 4) as score
        from embeddings x join embeddings y on x.vec_id < y.vec_id
        order by score desc, a, b
        limit 20
        """
    ).fetchall()
    want = {(a, b) for a, b, _ in brute}
    got = {(r.a, r.b) for r in QUERIES["embedding_near_dups_lsh"](spark, sf_dir).collect()}
    assert len(want & got) / len(want) >= 0.9


def test_ngram_jaccard_superset_of_minhash(spark, sf_dir):
    """Prefix filtering is exact: every pair MinHash banding surfaces at
    Jaccard >= t must also be found by the prefix-filtered join (recall
    1.0 is a theorem, not a probability), with identical verified scores."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["ngram_jaccard_pairs"](spark, sf_dir).collect()
    }
    mh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["minhash_near_dup_pairs"](spark, sf_dir).collect()
    }
    assert set(mh) <= set(exact)
    for k, v in mh.items():
        assert exact[k] == v
