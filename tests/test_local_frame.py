"""Frames the stages build on the driver must plan as a ``LocalRelation``:
a ``LogicalRDD`` of pickled rows starts a Python worker on its first read,
which is what an empty pandas frame or a list of tuples gives
``createDataFrame``."""

from __future__ import annotations

import pandas as pd
import pytest

from kgforge import valvemetrics
from kgforge.operators import graph
from kgforge.schemas import METRICS
from kgforge.session import local_frame
from kgforge.stages import canonical, link, materialize


def _link(spark):
    return link._local_links(spark, [], 0.5, 10)


def _components(spark):
    return canonical._local_components(spark, [])


def _pagerank(spark):
    sym = spark.range(0).selectExpr("cast(id as string) as src", "cast(id as string) as dst")
    return graph._local_pagerank(sym, pd.DataFrame({"src": [], "dst": []}), 3, 0.85)


def _hot_dict(spark):
    lexical = spark.createDataFrame(
        pd.DataFrame({"subj": ["f"], "pred": ["calls"], "obj": ["a"], "line": [1], "score": [1.0]})
    )
    mapping = spark.createDataFrame(pd.DataFrame({"entity_id": ["a"], "canonical_id": ["b"]}))
    return materialize.canonicalize_lexical(lexical, mapping, mapping.collect())


def _valves(spark):
    valves = {"v": {"cap": 1, "total_rows": 3, "dropped_rows": 1, "dropped_keys": 1,
                    "dropped_fraction": 1 / 3}}
    return local_frame(
        spark, pd.DataFrame(valvemetrics.rows(valves), columns=METRICS.fieldNames()), METRICS
    )


@pytest.mark.parametrize("build", [_link, _components, _pagerank, _hot_dict, _valves])
def test_driver_built_frame_is_local_relation(spark, build):
    plan = build(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
