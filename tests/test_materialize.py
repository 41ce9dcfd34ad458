"""Unit tests for the triples materialization paths: the Arrow single-pass
packed plan, its big-dictionary join fallback, and the
post-canonicalization collision dedup the plan must subsume."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgforge.session import driver_rows
from kgforge.stages import materialize, mentions


def _packed(spark, files_rows):
    pdf = pd.DataFrame(
        files_rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    return mentions.extract_mentions_packed(spark.createDataFrame(pdf))


def _mapping(spark, pairs):
    return spark.createDataFrame(
        list(pairs) or [], "entity_id string, canonical_id string"
    )


def _rows(df):
    return sorted(
        (r["subj"], r["pred"], r["obj"], r["line"], r["score"]) for r in df.collect()
    )


@pytest.fixture()
def collision_packed(spark):
    # two call sites whose raw entities collapse onto ONE canonical id,
    # plus an untouched function def
    content = "def alpha(x):\n    y = load_v1(x)\n    z = load_v2(y)\n    return z\n"
    return _packed(spark, [("org/r", "src/m.py", "c" * 40, "python", content)])


def test_collision_dedup_in_packed_path(spark, collision_packed):
    mapping = _mapping(
        spark,
        [("function:load_v1", "function:load"), ("function:load_v2", "function:load")],
    )
    got = _rows(materialize.triples_from_packed(collision_packed, mapping))
    calls = [r for r in got if r[1] == "calls"]
    # both call mentions map to function:load -> ONE triple, line = first
    # occurrence (line 2)
    assert calls == [("org/r:src/m.py", "calls", "function:load", 2, 1.0)]
    sames = [r for r in got if r[1] == "same_as"]
    assert len(sames) == 2 and all(r[3] is None for r in sames)


def test_fallback_join_plan_is_equivalent(spark, collision_packed, monkeypatch):
    mapping = _mapping(
        spark,
        [("function:load_v1", "function:load"), ("function:load_v2", "function:load")],
    )
    fast = _rows(materialize.triples_from_packed(collision_packed, mapping))
    # MAP_LITERAL_MAX = 0 forces the broadcast-join fallback
    monkeypatch.setattr(materialize, "MAP_LITERAL_MAX", 0)
    slow = _rows(materialize.triples_from_packed(collision_packed, mapping))
    assert fast == slow


def test_empty_mapping(spark, collision_packed):
    got = _rows(materialize.triples_from_packed(collision_packed, _mapping(spark, [])))
    objs = {r[2] for r in got if r[1] == "calls"}
    assert objs == {"function:load_v1", "function:load_v2"}
    assert not [r for r in got if r[1] == "same_as"]


def test_packed_path_matches_exploded_join_path(spark, small_files):
    """Property on the real synthetic corpus: the Arrow packed plan and the
    original exploded join plan emit identical triple sets for the same
    mapping."""
    from kgforge.stages import canonical, embed, link

    packed = mentions.extract_mentions_packed(small_files)
    men = mentions.explode_mentions(packed)
    links = link.candidate_links(embed.embed_mentions(men))
    ents = canonical.connected_components(links)
    ents = spark.createDataFrame(
        ents.collect() or [], "entity_id string, canonical_id string"
    )
    fast = _rows(materialize.triples_from_packed(packed, ents))
    slow = _rows(materialize.triples_from_mentions(men, ents, driver_rows(ents)))
    assert fast == slow
