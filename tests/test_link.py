"""Linking-stage tests: LSH-blocked candidate generation must reproduce the
exact all-pairs linker (the reference's own O(N^2) semantics,
/root/reference/search/bert_search.py:176-181) — SURVEY.md §7.2(e)."""

import contextlib
import io

import numpy as np
import pytest

from kgforge import constants
from kgforge.stages import embed, link, mentions


@pytest.fixture(scope="module")
def embedded(spark, small_files):
    men = mentions.extract_mentions(small_files)
    return embed.embed_mentions(men).cache()


def _pairs(df):
    return {(r["a"], r["b"]) for r in df.select("a", "b").collect()}


def test_lsh_recall_vs_exact(embedded):
    got = _pairs(link.candidate_links(embedded))
    want = _pairs(link.exact_links(embedded))
    assert want, "exact linker found no pairs — fixture too small"
    missed = want - got
    recall = 1 - len(missed) / len(want)
    assert recall >= 0.99, f"LSH recall {recall:.3f}, missed {sorted(missed)[:5]}"
    # precision is exact by construction: candidates are cosine-verified
    spurious = got - want
    assert not spurious, f"spurious pairs (cosine below threshold?): {sorted(spurious)[:5]}"


def test_links_are_canonically_ordered_and_thresholded(embedded):
    rows = link.candidate_links(embedded).collect()
    assert rows
    for r in rows:
        assert r["a"] < r["b"]
        assert r["score"] >= constants.LINK_THRESHOLD - 1e-9


def test_embeddings_are_normalized(embedded):
    import numpy as np

    vecs = [r["embedding"] for r in embedded.limit(20).collect()]
    for v in vecs:
        assert abs(float(np.linalg.norm(np.array(v))) - 1.0) < 1e-3


def test_oversized_bucket_valve(embedded):
    # with max_bucket=1 every bucket is dropped -> no candidates
    got = link.candidate_links(embedded, max_bucket=1)
    assert got.count() == 0


def test_stored_sigs_are_the_embedding_signatures(embedded):
    """The embed UDF stores each entity's LSH band signatures next to its
    vector; they must be exactly ``constants.lsh_signature`` of it."""
    rows = embedded.select("embedding", "sigs").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float32)
    assert [list(r["sigs"]) for r in rows] == constants.lsh_signature(mat).tolist()


def test_link_stage_runs_no_python(embedded):
    """Over stored embeddings the link plan has no Python node: the bucket
    keys come from the stored ``sigs`` column."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        link.candidate_links(embedded.localCheckpoint()).explain("formatted")
    plan = buf.getvalue()
    assert "posexplode" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
