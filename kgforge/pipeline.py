"""End-to-end KG-construction pipeline driver (spark-submit entry).

Stages (each checkpoint-resumable, north_rule):
    files -> mentions -> entity_embeddings -> candidate_links -> entities
          -> triples (+ metrics)

Usage (cluster; ``python -m kgforge.package kgforge.zip`` builds the artifact):
    spark-submit --py-files kgforge.zip -m kgforge.pipeline \
        --input <iceberg-table-or-parquet-path> --run-root <checkpoint root>

Sandbox usage is via ``run_pipeline(spark, files_df, run_root)``.
"""

from __future__ import annotations

import argparse
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog, constants, schemas, synth, valvemetrics
from .checkpoint import CheckpointManager
from .session import local_frame
from .stages import canonical, embed, link, materialize, mentions


# stage -> ((stage, total) read as its metrics row's rows_in, its own total
# read as rows_out); totals as ``CheckpointManager.totals`` names them.  A
# packed mentions row is one file, so the mentions table carries both ends
# of its stage; lexical triples exclude same_as, which no file owns.
LINEAGE = {
    "mentions": (("mentions", "rows"), "mentions"),
    "entity_embeddings": (("mentions", "mentions"), "rows"),
    "candidate_links": (("entity_embeddings", "rows"), "rows"),
    "entities": (("candidate_links", "rows"), "rows"),
    "triples": (("mentions", "mentions"), "lexical"),
}


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    run_root: str,
    force: bool = False,
    audit: bool = False,
) -> dict[str, DataFrame]:
    """Run (or resume) all stages; returns the stage tables.

    The metrics table holds one row per stage (``partition_key`` '*'),
    from the totals each stage's write observed, plus the valve rows.
    ``audit=True`` writes per-repo lineage rows for the mentions and
    triples stages instead, re-hashing the source content to fold the
    per-partition content_sha256 invariant verdicts into them (an extra
    full input pass — on by default in tests, opt-in in prod).
    """
    ck = CheckpointManager(spark, run_root)
    out: dict[str, DataFrame] = {}
    # valves fired before this run keep their LAST entry objects; only the
    # entries replaced while this run builds belong in its metrics table
    valves_before = dict(valvemetrics.LAST)

    # NB: the input corpus is never re-materialized — content_sha256 is
    # computed inline in the mention stage (at 100 TB, a files_hashed
    # checkpoint would rewrite the whole input).
    t0 = time.time()
    files_hashed = mentions.with_content_sha(files)
    out["files"] = files_hashed

    men_packed = ck.get_or_run(
        "mentions",
        lambda: mentions.extract_mentions_packed(files_hashed),
        force=force,
        schema=mentions.MENTIONS_PACKED,
        observe=[F.sum("n_mentions").alias("mentions")],
    )
    men = mentions.explode_mentions(men_packed)
    out["mentions"] = men

    emb = ck.get_or_run(
        "entity_embeddings",
        lambda: embed.embed_mentions(men),
        force=force,
        schema=schemas.ENTITY_EMBEDDINGS,
    )
    out["entity_embeddings"] = emb

    links = ck.get_or_run(
        "candidate_links",
        lambda: link.candidate_links(emb),
        force=force,
        schema=schemas.CANDIDATE_LINKS,
    )
    out["candidate_links"] = links

    ents = ck.get_or_run(
        "entities",
        lambda: canonical.connected_components(links),
        force=force,
        schema=schemas.ENTITIES,
    )
    out["entities"] = ents

    tri = ck.get_or_run(
        "triples",
        lambda: materialize.triples_from_packed(men_packed, ents),
        partition_by=["pred"],
        force=force,
        schema=schemas.TRIPLES,
        observe=[F.count_if(F.col("pred") != constants.PRED_SAME_AS).alias("lexical")],
    )
    out["triples"] = tri

    def _metrics():
        # fold in the valve drops observed while this run's stages built
        # (e.g. link's oversized-bucket cap) — the cluster audit trail
        # for "no silent caps" lives in the written table, not in logs
        fired = {k: v for k, v in valvemetrics.LAST.items() if valves_before.get(k) is not v}
        valves = valvemetrics.rows(fired)

        def frame(rows):
            return local_frame(spark, pd.DataFrame(rows, columns=schemas.METRICS.fieldNames()), schemas.METRICS)

        if audit:
            df = materialize.lineage_metrics(
                files,
                men_packed,
                tri,
                ck.walls["mentions"],
                ck.walls["triples"],
                sha_ok=materialize.sha_audit(files_hashed, men),
            )
            return df.unionByName(frame(valves)) if valves else df
        rows = [
            (stage, "*", ck.totals(src)[rows_in], ck.totals(stage)[rows_out], True, ck.walls[stage])
            for stage, ((src, rows_in), rows_out) in LINEAGE.items()
        ]
        return frame(rows + valves)

    out["metrics"] = ck.get_or_run("metrics", _metrics, force=force, schema=schemas.METRICS)
    out["wall_secs"] = time.time() - t0  # type: ignore[assignment]
    return out


def main() -> None:  # pragma: no cover - cluster entry
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="files table (iceberg name or parquet path)")
    ap.add_argument("--synth", type=int, default=0, help="generate N synthetic files instead")
    ap.add_argument("--run-root", required=True)
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--audit", action="store_true", help="verify content_sha256 invariant (extra input pass)")
    args = ap.parse_args()

    from .session import build_session

    spark = build_session("kgforge-pipeline")
    if args.synth:
        files = synth.synth_files_df(spark, args.synth)
    else:
        files = catalog.read_table(spark, args.input)
        # schema contract per input_hint
        missing = set(schemas.FILES.fieldNames()) - set(files.columns)
        if missing:
            raise SystemExit(f"input missing columns: {sorted(missing)}")
    out = run_pipeline(spark, files, args.run_root, force=args.force, audit=args.audit)
    n = out["triples"].count()
    print(f"triples={n} wall_secs={out['wall_secs']:.2f}")


if __name__ == "__main__":  # pragma: no cover
    main()
