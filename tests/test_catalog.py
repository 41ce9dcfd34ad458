"""Export sinks round-trip: what ``catalog.write_csv`` and
``catalog.write_json`` write reads back, outside Spark, as the rows given,
and a second write replaces the first (mode ``overwrite``)."""

from __future__ import annotations

import glob
import gzip
import json

import pandas as pd

from kgforge import catalog

ROWS = [("org/r:a.py", "calls", "function:load", 3), ("org/r:b.py", "imports", "module:os", 1)]
DDL = "subj string, pred string, obj string, line int"


def _written(spark, write, location):
    """Write ROWS twice over, then once to the same location; return the
    part files left."""
    write(spark.createDataFrame(ROWS * 2, DDL), location)
    write(spark.createDataFrame(ROWS, DDL).coalesce(1), location)
    return sorted(glob.glob(f"{location}/part-*"))


def test_write_csv_round_trip(spark, tmp_path):
    parts = _written(spark, catalog.write_csv, str(tmp_path / "csv"))
    got = pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)
    assert list(got.columns) == ["subj", "pred", "obj", "line"]
    assert sorted(got.itertuples(index=False, name=None)) == sorted(ROWS)


def test_write_json_round_trip(spark, tmp_path):
    parts = _written(spark, catalog.write_json, str(tmp_path / "jsonl"))
    assert parts and all(p.endswith(".json.gz") for p in parts)
    got = []
    for p in parts:
        with gzip.open(p, "rt", encoding="utf-8") as f:
            got += [json.loads(line) for line in f]
    cols = ["subj", "pred", "obj", "line"]
    assert sorted(tuple(r[c] for c in cols) for r in got) == sorted(ROWS)
