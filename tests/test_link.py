"""Linking-stage tests: LSH-blocked candidate generation must reproduce the
exact all-pairs linker (the reference's own O(N^2) semantics,
/root/reference/search/bert_search.py:176-181) — SURVEY.md §7.2(e)."""

import contextlib
import io

import numpy as np
import pytest

from kgforge import constants, valvemetrics
from kgforge.stages import embed, link, mentions


@pytest.fixture(scope="module")
def embedded(spark, small_files):
    men = mentions.extract_mentions(small_files)
    return embed.embed_mentions(men).cache()


@pytest.fixture(params=["local", "distributed"])
def link_path(request, monkeypatch):
    """Run a test through BOTH the driver finisher and the distributed
    bucket join (a probe bound of 0 sends every non-empty table to the join)."""
    if request.param == "distributed":
        monkeypatch.setattr(link, "LINK_PROBE_ROWS", 0)
    return request.param


def _pairs(df):
    return {(r["a"], r["b"]) for r in df.select("a", "b").collect()}


def _both_paths(embedded, monkeypatch):
    """(rows, valve metrics) of the driver finisher, then of the
    distributed body (the finisher declining), on the same input.  Fails
    if the finisher did not finish the first run."""
    local, finished = link._local_links, []

    def spy(*args):
        out = local(*args)
        finished.append(out is not None)
        return out

    got = []
    for finisher in (spy, lambda *args: None):
        monkeypatch.setattr(link, "_local_links", finisher)
        rows = sorted(tuple(r) for r in link.candidate_links(embedded).collect())
        got.append((rows, valvemetrics.LAST["link_candidate_bucket"]))
    assert finished == [True]
    return got


@pytest.mark.parametrize("max_bucket", [constants.LINK_MAX_BUCKET, 1, 3])
def test_local_finisher_matches_distributed_body(embedded, monkeypatch, max_bucket):
    """Same rows, scores and buckets bit for bit, and the same valve
    metrics; at max_bucket 1 every shared bucket is dropped, at 3 most are."""
    default = constants.LINK_MAX_BUCKET
    monkeypatch.setattr(constants, "LINK_MAX_BUCKET", max_bucket)
    (local_rows, local_valve), (dist_rows, dist_valve) = _both_paths(embedded, monkeypatch)
    assert local_rows == dist_rows
    assert local_valve == dist_valve
    assert local_valve["total_rows"] == embedded.count() * constants.LSH_BANDS
    if max_bucket == default:
        assert local_rows and local_valve["dropped_rows"] == 0
    else:
        assert local_valve["dropped_keys"] > 0


def test_local_finisher_on_empty_table(embedded, monkeypatch):
    (local_rows, local_valve), (dist_rows, dist_valve) = _both_paths(
        embedded.limit(0), monkeypatch
    )
    assert local_rows == dist_rows == []
    assert local_valve == dist_valve
    assert local_valve["total_rows"] == 0


def test_local_finisher_orders_non_ascii_ids(spark, monkeypatch):
    """a < b is Spark's UTF-8 binary order, which Python's code-point str
    order equals — also between a supplementary-plane character and one
    above the surrogates (UTF-16 order would swap those)."""
    names = [
        "résumé_parser", "resume_parser", "Résumé_parser", "naïve_bayes", "naive_bayes",
        "日本語_tokenizer", "日本_tokenizer", "Ωmega_fn", "omega_fn", "zeta_fn", "ßeta_fn",
        "\U0001d523_parse", "\uff46_parse", "f_parse",
    ]
    vecs = constants.embed_batch(names)
    df = spark.createDataFrame(
        [
            (f"function:{n}", n, "function", [float(x) for x in v], [int(x) for x in sig])
            for n, v, sig in zip(names, vecs, constants.lsh_signature(vecs))
        ],
        "entity_id string, name string, kind string, embedding array<float>, sigs array<int>",
    )
    monkeypatch.setattr(constants, "LINK_THRESHOLD", -1.0)
    (local_rows, local_valve), (dist_rows, dist_valve) = _both_paths(df, monkeypatch)
    assert local_rows == dist_rows
    assert local_valve == dist_valve
    assert ("function:\uff46_parse", "function:\U0001d523_parse") in {r[:2] for r in local_rows}


def test_local_finisher_sums_cosine_in_jvm_order(spark, monkeypatch):
    """Scores equal the JVM's bit for bit where the summation order shows:
    components spanning twelve orders of magnitude, every entity in every
    bucket, no threshold.  A pairwise or BLAS sum fails this."""
    rng, sigs = np.random.default_rng(7), [0] * constants.LSH_BANDS
    vecs = rng.standard_normal((40, 64)) * 10.0 ** rng.uniform(-6, 6, (40, 64))
    df = spark.createDataFrame(
        [
            (f"function:f{i:02d}", f"f{i:02d}", "function", v.astype(np.float32).tolist(), sigs)
            for i, v in enumerate(vecs)
        ],
        "entity_id string, name string, kind string, embedding array<float>, sigs array<int>",
    )
    monkeypatch.setattr(constants, "LINK_THRESHOLD", -1e300)
    (local_rows, _), (dist_rows, _) = _both_paths(df, monkeypatch)
    assert len(local_rows) == 40 * 39 // 2
    assert local_rows == dist_rows


def test_lsh_recall_vs_exact(embedded, link_path):
    got = _pairs(link.candidate_links(embedded))
    want = _pairs(link.exact_links(embedded))
    assert want, "exact linker found no pairs — fixture too small"
    missed = want - got
    recall = 1 - len(missed) / len(want)
    assert recall >= 0.99, f"LSH recall {recall:.3f}, missed {sorted(missed)[:5]}"
    # precision is exact by construction: candidates are cosine-verified
    spurious = got - want
    assert not spurious, f"spurious pairs (cosine below threshold?): {sorted(spurious)[:5]}"


def test_links_are_canonically_ordered_and_thresholded(embedded, link_path):
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


def test_oversized_bucket_valve(embedded, monkeypatch):
    # with a bucket cap of 1 every bucket is dropped -> no candidates
    monkeypatch.setattr(constants, "LINK_MAX_BUCKET", 1)
    got = link.candidate_links(embedded)
    assert got.count() == 0


def test_stored_sigs_are_the_embedding_signatures(embedded):
    """The embed UDF stores each entity's LSH band signatures next to its
    vector; they must be exactly ``constants.lsh_signature`` of it."""
    rows = embedded.select("embedding", "sigs").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float32)
    assert [list(r["sigs"]) for r in rows] == constants.lsh_signature(mat).tolist()


def test_link_stage_runs_no_python(embedded, monkeypatch):
    """Over stored embeddings the distributed link plan has no Python
    node: the bucket keys come from the stored ``sigs`` column."""
    monkeypatch.setattr(link, "LINK_PROBE_ROWS", 0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        link.candidate_links(embedded.localCheckpoint()).explain("formatted")
    plan = buf.getvalue()
    assert "posexplode" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
