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
    # valve-audit rows the run recorded (valvemetrics.metrics_rows —
    # stage 'valve:<name>'; their own read-back contract is covered by
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

    from kgforge.checkpoint import CheckpointManager

    out, fresh_root = pipe
    root = tmp_path / "kgrun_old_embeddings"
    shutil.copytree(f"{fresh_root}/mentions", root / "mentions")
    old = spark.read.parquet(f"{fresh_root}/entity_embeddings").drop("sigs")
    assert old.columns == ["entity_id", "name", "kind", "embedding"]
    old.write.parquet(str(root / "entity_embeddings"))

    out2 = run_pipeline(spark, small_files, str(root))
    assert "sigs" in spark.read.parquet(str(root / "entity_embeddings")).columns
    done = CheckpointManager(spark, str(root)).manifest()
    assert "mentions" not in done and "entity_embeddings" in done  # resumed vs recomputed
    key = ["subj", "pred", "obj"]
    before = _triples_pdf(out["triples"]).sort_values(key).reset_index(drop=True)
    after = _triples_pdf(out2["triples"]).sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


# Spark jobs a fresh run of the 300-file fixture launches (local[4], 8
# shuffle partitions): 11.  Before the link stage's driver finisher, the
# raw-links canonical probe and the one-file driver-built tables it was
# 17; before the observed valve, the stored LSH signatures, the
# one-shuffle lineage metrics and the schema-given read-backs, 27.
FRESH_RUN_JOBS = 11


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
    from kgforge.stages import canonical, link

    monkeypatch.setattr(link, "LINK_PROBE_ROWS", 0)  # distributed link: the valve fires
    monkeypatch.setattr(canonical, "LOCAL_PROBE_ROWS", 2)  # past the probe: edge checkpoint
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = rdds().size()
    run_pipeline(spark, small_files, str(tmp_path / "kgrun_blocks"))
    assert rdds().size() == before
