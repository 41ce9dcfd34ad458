"""Canonical over a large driver-built links frame: handed forward as its
``LocalRelation`` vs read back from the one-file table the checkpoint
wrote (``session.DRIVER_ROWS`` chooses between them in ``get_or_run``,
which reads back this frame; the "forwarded" variant hands canonical the
link finisher's frame instead).

Link's driver finisher runs over ENTITIES identical entities (one
embedding, the same 16 bucket keys), which gives ENTITIES * (ENTITIES-1)/2
links, past ``session.DRIVER_ROWS`` (100k) at the default 500.  Each rep builds
both stages into a fresh run root with ``get_or_run``; the two variants
alternate which runs first.  One JSON line per run.

Usage:
    python bench/hand_forward.py --reps 6
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import Row

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from kgforge import checkpoint, constants  # noqa: E402
from kgforge.session import build_session  # noqa: E402
from kgforge.stages import canonical, link  # noqa: E402

VARIANTS = ("forwarded", "read_back")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=6)
    ap.add_argument("--entities", type=int, default=500)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    spark = build_session("kgforge-hand-forward", master=f"local[{args.cores}]")
    emb = [1.0] + [0.0] * (constants.EMBED_DIM - 1)
    rows = [Row(entity_id=f"e{i:05d}", embedding=emb, buckets=list(range(16))) for i in range(args.entities)]
    tmp = tempfile.mkdtemp(prefix="kghandfwd_")
    for rep in range(args.reps):
        order = VARIANTS if rep % 2 == 0 else VARIANTS[::-1]
        for variant in order:
            ck = checkpoint.CheckpointManager(spark, tempfile.mkdtemp(dir=tmp))
            t0 = time.time()
            local = link._local_links(spark, rows, constants.LINK_THRESHOLD, constants.LINK_MAX_BUCKET)
            links = ck.get_or_run("candidate_links", lambda: local)
            if variant == "forwarded":
                links = local
            t1 = time.time()
            ck.get_or_run("entities", lambda: canonical.connected_components(links))
            t2 = time.time()
            print(json.dumps({
                "rep": rep,
                "variant": variant,
                "forwarded": links.isLocal(),
                "links": ck.totals("candidate_links")["rows"],
                "entities": ck.totals("entities")["rows"],
                "link_s": round(t1 - t0, 3),
                "entities_s": round(t2 - t1, 3),
            }), flush=True)
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
