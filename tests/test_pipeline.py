"""End-to-end pipeline tests: twin-differential P/R (the north_rule gate),
content-sha invariant, checkpoint resume, and partition invariance
(FIXTURES.md §6)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgforge.oracle import twin
from kgforge.pipeline import run_pipeline


@pytest.fixture(scope="module")
def pipe(spark, small_files, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kgrun"))
    return run_pipeline(spark, small_files, root, audit=True), root


def _triples_pdf(df) -> pd.DataFrame:
    return df.select("subj", "pred", "obj", "line", "score").toPandas()


def test_triples_match_twin_pr(pipe, small_files_pdf):
    out, _ = pipe
    got = _triples_pdf(out["triples"])
    want = twin.twin_triples(small_files_pdf)
    p, r = twin.precision_recall(got, want)
    assert p >= 0.95 and r >= 0.95, f"P={p:.3f} R={r:.3f}"


def test_content_sha_invariant(pipe, spark, small_files):
    """input_hint: per-row content sha256 equality vs the source table."""
    out, _ = pipe
    src = small_files.withColumn("expected_sha", F.sha2("content", 256)).select(
        "repo", "path", "commit", "expected_sha"
    )
    men = out["mentions"].select("repo", "path", "commit", "content_sha256").distinct()
    bad = men.join(src, ["repo", "path", "commit"]).where(
        F.col("content_sha256") != F.col("expected_sha")
    )
    assert bad.count() == 0
    assert men.join(src, ["repo", "path", "commit"], "left_anti").count() == 0


def test_metrics_lineage(pipe):
    out, _ = pipe
    m = out["metrics"].toPandas()
    stages = set(m["stage"])
    # per-partition lineage rows for both pipeline stages, plus any
    # valve-audit rows the run recorded (valvemetrics.rows — stage
    # 'valve:<name>'; their own read-back contract is covered by
    # tests/test_valvemetrics.py)
    assert {"mentions", "triples"} <= stages
    assert all(s.startswith("valve:") for s in stages - {"mentions", "triples"})
    assert bool(m["content_sha_ok"].all())
    men = m[m["stage"] == "mentions"]
    assert int(men["rows_in"].sum()) == 300
    assert (men["rows_out"] >= men["rows_in"]).all()  # >=1 mention (module) per file


def test_checkpoint_resume_identical(pipe, spark, small_files):
    out, root = pipe
    before = _triples_pdf(out["triples"]).sort_values(["subj", "pred", "obj"]).reset_index(drop=True)
    out2 = run_pipeline(spark, small_files, root)  # all stages resume from disk
    after = _triples_pdf(out2["triples"]).sort_values(["subj", "pred", "obj"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


def test_partition_invariance(pipe, spark, small_files, tmp_path_factory):
    """Same triple set regardless of input partitioning (FIXTURES.md §6)."""
    out, _ = pipe
    root2 = str(tmp_path_factory.mktemp("kgrun_repart"))
    out2 = run_pipeline(spark, small_files.repartition(17), root2)
    a = {tuple(r) for r in _triples_pdf(out["triples"])[["subj", "pred", "obj"]].itertuples(index=False)}
    b = {tuple(r) for r in _triples_pdf(out2["triples"])[["subj", "pred", "obj"]].itertuples(index=False)}
    assert a == b


def test_mega_repo_skew_present(small_files_pdf):
    """The fixture must actually exercise skew (FIXTURES.md §1)."""
    share = (small_files_pdf["repo"] == "org0/repo0").mean()
    assert share > 0.2


def test_triples_lineage_keys_are_input_repos(pipe, small_files_pdf):
    """The triples lineage rows count lexical triples per repo: every
    partition_key is a repo of the input (same_as subjects such as
    'function:foo' are entities, not files, and own no repo)."""
    out, _ = pipe
    m = out["metrics"].toPandas()
    tri = m[m["stage"] == "triples"]
    assert set(tri["partition_key"]) <= set(small_files_pdf["repo"])
    lexical = out["triples"].where(F.col("pred") != "same_as").count()
    assert int(tri["rows_out"].sum()) == lexical
    men = m[m["stage"] == "mentions"].set_index("partition_key")["rows_out"]
    assert (tri.set_index("partition_key")["rows_in"] == men.reindex(tri["partition_key"])).all()


def test_resume_recomputes_embeddings_without_sigs(pipe, spark, small_files, tmp_path):
    """Schema guard: a root whose entity_embeddings has the 4 columns it
    had before the stage stored ``sigs`` is not resumed.  The stage is
    recomputed, and the run's triples equal a fresh run's."""
    import shutil

    out, fresh_root = pipe
    root = tmp_path / "kgrun_old_embeddings"
    shutil.copytree(f"{fresh_root}/mentions", root / "mentions")
    old = spark.read.parquet(f"{fresh_root}/entity_embeddings").drop("sigs")
    assert old.columns == ["entity_id", "name", "kind", "embedding"]
    old.write.parquet(str(root / "entity_embeddings"))

    def parts(stage):  # a rewrite names its part files afresh
        return sorted(p.name for p in (root / stage).rglob("*.parquet"))

    before_parts = {stage: parts(stage) for stage in ("mentions", "entity_embeddings")}
    out2 = run_pipeline(spark, small_files, str(root))
    assert "sigs" in spark.read.parquet(str(root / "entity_embeddings")).columns
    assert parts("mentions") == before_parts["mentions"]  # resumed
    assert parts("entity_embeddings") != before_parts["entity_embeddings"]  # recomputed
    key = ["subj", "pred", "obj"]
    before = _triples_pdf(out["triples"]).sort_values(key).reset_index(drop=True)
    after = _triples_pdf(out2["triples"]).sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


# Spark jobs a fresh run of the 300-file fixture launches (local[4], 8
# shuffle partitions): 8.  Before the checkpoint handed driver-built stage
# frames forward (canonical's and materialize's probes then run no job)
# and took the metrics rows from Observations on the stage writes it was
# 11; before the link stage's driver finisher, the raw-links canonical
# probe and the one-file driver-built tables, 17; before the observed
# valve, the stored LSH signatures, the one-shuffle lineage metrics and
# the schema-given read-backs, 27.
FRESH_RUN_JOBS = 8


def test_fresh_run_job_budget(spark, small_files, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("fresh_run_budget", "fresh_run_budget")
    try:
        run_pipeline(spark, small_files, str(tmp_path / "kgrun_budget"))
        jobs = sc.statusTracker().getJobIdsForGroup("fresh_run_budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= FRESH_RUN_JOBS, len(jobs)


def test_run_leaves_no_persisted_blocks(spark, small_files, tmp_path, monkeypatch):
    """The valve's hot-key checkpoint and canonical's edge checkpoint are
    released once their stage table is written: a run ends with the
    persistent-RDD count it started with."""
    from kgforge import session
    from kgforge.stages import link

    monkeypatch.setattr(link, "LINK_PROBE_ROWS", 0)  # distributed link: the valve fires
    monkeypatch.setattr(session, "DRIVER_ROWS", 2)  # past canonical's probe: edge checkpoint
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = rdds().size()
    run_pipeline(spark, small_files, str(tmp_path / "kgrun_blocks"))
    assert rdds().size() == before


@pytest.fixture(scope="module")
def plain(spark, small_files, tmp_path_factory):
    """A run without ``audit``: per-stage metrics rows."""
    root = str(tmp_path_factory.mktemp("kgrun_plain"))
    return run_pipeline(spark, small_files, root), root


def _files(path) -> list:
    import glob

    return glob.glob(f"{path}/*.parquet")


def test_driver_built_stages_are_handed_forward(plain, spark):
    """Link and canonical finish on the driver here: the run returns their
    driver-built frames, which hold the written tables' rows, and those
    tables, the metrics table and the same_as triples are one file each
    (as when the next stage read the one-file table back)."""
    out, root = plain
    for stage in ("candidate_links", "entities"):
        assert out[stage].isLocal(), stage
        got = sorted(out[stage].collect())
        assert got and got == sorted(spark.read.parquet(f"{root}/{stage}").collect()), stage
        assert len(_files(f"{root}/{stage}")) == 1, stage
    assert out["metrics"].isLocal() and len(_files(f"{root}/metrics")) == 1
    assert len(_files(f"{root}/triples/pred=same_as")) == 1


def _stage_rows(m: pd.DataFrame) -> pd.DataFrame:
    """Non-valve metrics rows without their timings, in a fixed order."""
    m = m[~m["stage"].str.startswith("valve:")].drop(columns="wall_ms")
    return m.sort_values(["stage", "partition_key"]).reset_index(drop=True)


def test_metrics_rows_per_stage(plain, pipe, spark):
    """Without ``audit`` the metrics table holds one row per stage whose
    totals are counts of the stage tables, and its mentions and triples
    rows are the sums of the per-repo rows an ``audit`` run writes."""
    out, root = plain
    m = out["metrics"].toPandas()
    assert sorted(m.loc[~m["stage"].str.startswith("valve:"), "stage"]) == sorted(
        ["mentions", "entity_embeddings", "candidate_links", "entities", "triples"]
    )
    assert (m["partition_key"][~m["stage"].str.startswith("valve:")] == "*").all()
    assert m["content_sha_ok"].all() and (m["wall_ms"] >= 0).all()
    row = m.set_index("stage")
    read = lambda stage: spark.read.parquet(f"{root}/{stage}")  # noqa: E731
    packed = read("mentions").agg(F.count(F.lit(1)), F.sum("n_mentions")).first()
    lexical = read("triples").where(F.col("pred") != "same_as").count()
    want = {
        "mentions": (packed[0], packed[1]),
        "entity_embeddings": (packed[1], read("entity_embeddings").count()),
        "candidate_links": (read("entity_embeddings").count(), read("candidate_links").count()),
        "entities": (read("candidate_links").count(), read("entities").count()),
        "triples": (packed[1], lexical),
    }
    for stage, (rows_in, rows_out) in want.items():
        assert (row.loc[stage, "rows_in"], row.loc[stage, "rows_out"]) == (rows_in, rows_out), stage

    audited = pipe[0]["metrics"].toPandas()
    for stage in ("mentions", "triples"):
        per_repo = audited[audited["stage"] == stage][["rows_in", "rows_out"]].sum()
        assert (row.loc[stage, "rows_in"], row.loc[stage, "rows_out"]) == tuple(per_repo), stage


def test_metrics_rows_after_resume(plain, spark, small_files, tmp_path):
    """A run killed before its triples stage resumes the stages before it,
    counts their tables once, and writes the fresh run's per-stage rows."""
    import shutil

    out, fresh_root = plain
    root = tmp_path / "kgrun_killed"
    shutil.copytree(fresh_root, root)
    for stage in ("triples", "metrics"):
        shutil.rmtree(root / stage)
    run_pipeline(spark, small_files, str(root))
    written = spark.read.parquet(str(root / "metrics")).toPandas()
    pd.testing.assert_frame_equal(_stage_rows(written), _stage_rows(out["metrics"].toPandas()))


def test_large_driver_built_stage_is_read_back(spark, tmp_path, monkeypatch):
    """A driver-built frame over ``session.DRIVER_ROWS`` is written as one
    file and read back, as a distributed stage's table is; one at the
    bound is handed forward.  Both report the rows they wrote."""
    from kgforge import checkpoint, session
    from kgforge.session import local_frame

    monkeypatch.setattr(session, "DRIVER_ROWS", 2)
    ck = checkpoint.CheckpointManager(spark, str(tmp_path / "kgrun_forward"))
    for n in (2, 3):
        frame = local_frame(spark, pd.DataFrame({"x": range(n)}), "x long")
        got = ck.get_or_run(f"t{n}", lambda: frame)
        assert got.isLocal() == (n == 2), n
        assert sorted(r.x for r in got.collect()) == list(range(n))
        assert len(_files(tmp_path / "kgrun_forward" / f"t{n}")) == 1
        assert ck.totals(f"t{n}") == {"rows": n}


def test_tiny_driver_cap_writes_the_same_tables(plain, spark, small_files, tmp_path, monkeypatch):
    """With ``session.DRIVER_ROWS`` at 2 every driver probe of the build
    is past its cap: the link and canonical frames are read back instead
    of handed forward, canonical finishes through its count path and
    materialize through its join plan.  A probe cut short must never pass
    as the whole table, so the run writes the default run's rows."""
    from kgforge import session
    from kgforge.stages import canonical, materialize

    out, _ = plain
    calls = {"components": [], "mentions": []}

    def components(spark, rows):
        calls["components"].append(len(rows))
        return real_components(spark, rows)

    def from_mentions(mentions, mapping, rows):
        calls["mentions"].append(rows)
        return real_mentions(mentions, mapping, rows)

    real_components, real_mentions = canonical._local_components, materialize.triples_from_mentions
    monkeypatch.setattr(canonical, "_local_components", components)
    monkeypatch.setattr(materialize, "triples_from_mentions", from_mentions)
    monkeypatch.setattr(session, "DRIVER_ROWS", 2)
    capped = run_pipeline(spark, small_files, str(tmp_path / "kgrun_cap2"))

    assert len(calls["components"]) == 1 and calls["components"][0] > 2  # the count path
    assert calls["mentions"] == [None]  # the join plan, its dictionary a distinct union
    for stage in ("candidate_links", "entities"):
        assert not capped[stage].isLocal(), stage
        assert sorted(capped[stage].collect()) == sorted(out[stage].collect()), stage
    key = ["subj", "pred", "obj"]
    want = _triples_pdf(out["triples"]).sort_values(key).reset_index(drop=True)
    got = _triples_pdf(capped["triples"]).sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
