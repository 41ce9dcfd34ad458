"""Connected-components (large-star/small-star) unit tests."""

from pyspark.sql import functions as F

from kgforge.stages.canonical import connected_components


import pytest


def _links(spark, pairs):
    return spark.createDataFrame(
        [(a, b, 1.0, 0) for a, b in pairs], "a string, b string, score double, bucket long"
    )


@pytest.fixture(params=[0, 1_000_000], ids=["distributed", "local"])
def local_threshold(request):
    """Run every CC test through BOTH the large/small-star loop and the
    driver-side union-find fast path — outputs must be identical."""
    return request.param


def _cc(spark, pairs, local_threshold=0):
    rows = connected_components(_links(spark, pairs), local_threshold=local_threshold).collect()
    return {r["entity_id"]: r["canonical_id"] for r in rows}


def test_single_edge(spark, local_threshold):
    assert _cc(spark, [("a", "b")], local_threshold) == {"b": "a"}


def test_chain_collapses_transitively(spark, local_threshold):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")], local_threshold)
    assert got == {"b": "a", "c": "a", "d": "a"}


def test_two_components(spark, local_threshold):
    got = _cc(spark, [("a", "b"), ("x", "y"), ("y", "z")], local_threshold)
    assert got == {"b": "a", "y": "x", "z": "x"}


def test_star_and_cycle(spark, local_threshold):
    got = _cc(spark, [("m", "n"), ("m", "o"), ("m", "p"), ("n", "p")], local_threshold)
    assert got == {"n": "m", "o": "m", "p": "m"}


def test_duplicate_edges_and_self_loops(spark, local_threshold):
    """The driver path's probe reads the raw links: repeated edges and
    self-loops must not change the mapping."""
    got = _cc(spark, [("a", "b"), ("a", "b"), ("b", "b"), ("q", "q"), ("c", "b")], local_threshold)
    assert got == {"b": "a", "c": "a"}


def test_long_chain_needs_iterations(spark, local_threshold):
    nodes = [f"n{i:02d}" for i in range(12)]
    got = _cc(spark, list(zip(nodes, nodes[1:])), local_threshold)
    assert set(got.values()) == {"n00"} and len(got) == 11


def test_deterministic_across_partitioning(spark):
    pairs = [(f"v{i}", f"v{i+1}") for i in range(0, 40, 2)] + [("v1", "v2"), ("v5", "v6")]
    a = _cc(spark, pairs)
    b_df = _links(spark, pairs).repartition(13)
    rows = connected_components(b_df).collect()
    b = {r["entity_id"]: r["canonical_id"] for r in rows}
    assert a == b


def test_local_path_probes_once(spark, tmp_path):
    """The small path decides and collects with ONE capped
    limit(cap+1).collect() of the raw links: 1 job on this graph, read
    from a one-file table as the link stage writes it, where probing the
    deduped edges ran 2 (the dedup's shuffle map stage and the collect)
    and a limit(T+1).count() followed by a collect of the same rows ran 5."""
    sc = spark.sparkContext
    pairs = [("a", "b"), ("b", "c"), ("x", "y"), ("m", "n"), ("n", "c")]
    _links(spark, pairs).coalesce(1).write.parquet(str(tmp_path / "links"))
    links = spark.read.parquet(str(tmp_path / "links"))
    sc.setJobGroup("cc_local_probe", "cc_local_probe")
    try:
        out = connected_components(links)
        jobs = sc.statusTracker().getJobIdsForGroup("cc_local_probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1, jobs
    assert {r["entity_id"]: r["canonical_id"] for r in out.collect()} == {
        "b": "a", "c": "a", "m": "a", "n": "a", "y": "x"
    }


def test_path_choice_past_probe_cap(spark, monkeypatch):
    """Past the ``session.DRIVER_ROWS`` probe a bounded count decides: a
    graph still under local_threshold is collected and finished locally, a
    larger one runs the distributed rounds — same mapping either way."""
    from kgforge import session
    from kgforge.stages import canonical

    local_inputs = []

    def spy(spark, rows):
        local_inputs.append(len(rows))
        return local(spark, rows)

    local = canonical._local_components
    monkeypatch.setattr(canonical, "_local_components", spy)
    monkeypatch.setattr(session, "DRIVER_ROWS", 2)
    links = _links(spark, [("a", "b"), ("b", "c"), ("x", "y"), ("m", "n"), ("n", "c")])
    want = {"b": "a", "c": "a", "m": "a", "n": "a", "y": "x"}
    for threshold in (10, 4):  # 5 edges: count path local, then distributed
        rows = connected_components(links, local_threshold=threshold).collect()
        assert {r["entity_id"]: r["canonical_id"] for r in rows} == want
    assert local_inputs == [5]  # the whole graph, and only at threshold 10
