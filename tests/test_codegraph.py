"""Unit tests for the KG-consumer derivations (operators/codegraph.py) on
hand-built triple graphs, plus the pred-partition-pruning plan assertion on
the real materialized table.  (The full pipeline+oracle parity for the five
registered kg_* queries runs in tests/test_oracles.py like every query.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgforge.operators import codegraph

TRIPLES_SCHEMA = "subj string, pred string, obj string, line int, score double"


def _triples(spark, rows):
    return spark.createDataFrame(rows, TRIPLES_SCHEMA)


@pytest.fixture(scope="module")
def tiny_kg(spark):
    # Two repos.  a.py defines f and calls g; b.py defines g and calls f;
    # c.py (repo2) also defines f (cross-repo collision) and calls h
    # (undefined anywhere).  a imports module 'b' (internal) and 'zlib'
    # (external).
    return _triples(
        spark,
        [
            ("r1/a:src/a.py", "defines", "function:f", 1, 1.0),
            ("r1/a:src/a.py", "calls", "function:g", 5, 1.0),
            ("r1/a:src/a.py", "imports", "module:b", 1, 1.0),
            ("r1/a:src/a.py", "imports", "module:zlib", 2, 1.0),
            ("r1/b:src/b.py", "defines", "function:g", 1, 1.0),
            ("r1/b:src/b.py", "calls", "function:f", 7, 1.0),
            ("r2/c:src/c.py", "defines", "function:f", 3, 1.0),
            ("r2/c:src/c.py", "defines", "function:u", 9, 1.0),  # never called
            ("r2/c:src/c.py", "calls", "function:h", 4, 1.0),
            ("function:f_v2", "same_as", "function:f", None, 1.0),
        ],
    )


def test_call_graph_resolves_to_every_definer(spark, tiny_kg):
    got = {
        (r.caller, r.callee): r.n_fns
        for r in codegraph.call_graph(tiny_kg).collect()
    }
    # b calls f, which is defined in BOTH a.py and c.py -> two edges.
    assert got == {
        ("r1/a:src/a.py", "r1/b:src/b.py"): 1,
        ("r1/b:src/b.py", "r1/a:src/a.py"): 1,
        ("r1/b:src/b.py", "r2/c:src/c.py"): 1,
    }


def test_api_fanin_counts_and_zero_defs(spark, tiny_kg):
    rows = codegraph.api_fanin(tiny_kg, k=10).collect()
    by_obj = {r.obj: (r.n_callers, r.n_defs) for r in rows}
    assert by_obj["function:f"] == (1, 2)  # defined twice (a.py, c.py)
    assert by_obj["function:g"] == (1, 1)
    assert by_obj["function:h"] == (1, 0)  # called, never defined
    # deterministic order: n_callers desc then obj asc
    assert [r.obj for r in rows] == ["function:f", "function:g", "function:h"]


def test_unresolved_imports_anti_join(spark, tiny_kg):
    got = {r.obj: (r.n_files, r.n_repos) for r in codegraph.unresolved_imports(tiny_kg).collect()}
    # module:b is satisfied by r1/b:src/b.py (basename 'b'); zlib is not.
    assert got == {"module:zlib": (1, 1)}


def test_xrepo_dup_defs(spark, tiny_kg):
    got = {r.obj: (r.n_repos, r.n_files) for r in codegraph.xrepo_dup_defs(tiny_kg).collect()}
    assert got == {"function:f": (2, 2)}


def test_resolution_coverage_row(spark, tiny_kg):
    row = codegraph.resolution_coverage(tiny_kg).collect()[0]
    assert (row.calls_total, row.calls_resolved) == (3, 2)  # h unresolved
    assert (row.imports_total, row.imports_resolved) == (2, 1)
    assert row.call_coverage == pytest.approx(2 / 3, abs=1e-4)


def test_module_deps_cross_repo_only(spark, tiny_kg):
    got = {
        (r.src_repo, r.dst_repo): (r.n_imports, r.n_modules)
        for r in codegraph.module_deps(tiny_kg).collect()
    }
    # a.py imports module:b -> owned by r1/b; module:zlib resolves nowhere;
    # same-repo module references would be excluded (none here).
    assert got == {("r1/a", "r1/b"): (1, 1)}


def test_dead_defs_census(spark, tiny_kg):
    got = {
        r.repo: (r.n_defs, r.n_dead, r.dead_frac)
        for r in codegraph.dead_defs(tiny_kg).collect()
    }
    # f and g are called somewhere; u never is.
    assert got == {
        "r1/a": (1, 0, 0.0),
        "r1/b": (1, 0, 0.0),
        "r2/c": (2, 1, 0.5),
    }


def test_impact_radius_min_hops(spark, tiny_kg):
    got = {
        r.file: r.hop
        for r in codegraph.impact_radius(
            tiny_kg, seed_pattern="%/a.py", hops=2
        ).collect()
    }
    # seed a.py (hop 0); b.py calls f which a.py defines (hop 1); a.py also
    # calls b.py's g but is already visited — min-hop wins, no revisit.
    assert got == {"r1/a:src/a.py": 0, "r1/b:src/b.py": 1}


@pytest.mark.parametrize(
    "kernel",
    [
        codegraph.xrepo_dup_defs,
        codegraph.unresolved_imports,
        codegraph.module_deps,
        codegraph.dead_defs,
    ],
)
def test_census_aggs_plan_no_expand(spark, tiny_kg, kernel):
    """The distinct-count censuses use explicit two-level aggs; a mixed
    countDistinct+count(*) agg would plan an Expand (2x the input rows
    through the shuffle — measured eff 0.84 vs 1.01, BASELINE.md round 4)."""
    plan = kernel(tiny_kg)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_call_graph_packed_matches_strings_layout(spark, tiny_kg):
    """call_graph's packed 128-bit-key plan must equal the direct string
    join + string-keyed aggregation it replaces."""
    calls = tiny_kg.where(F.col("pred") == "calls").select(F.col("subj").alias("caller"), "obj")
    defs = tiny_kg.where(F.col("pred") == "defines").select(F.col("subj").alias("callee"), "obj")
    strings = {
        (r.caller, r.callee): r.n_fns
        for r in calls.join(defs, "obj")
        .groupBy("caller", "callee")
        .agg(F.count(F.lit(1)).alias("n_fns"))
        .collect()
    }
    packed = {(r.caller, r.callee): r.n_fns for r in codegraph.call_graph(tiny_kg).collect()}
    assert strings and packed == strings


def test_consumer_scan_prunes_pred_partitions(spark):
    """The consumers read the checkpointed pred-partitioned triple table;
    a pred filter must land in PartitionFilters (partition pruning), not a
    post-scan Filter — the property that makes per-predicate consumers
    cheap at 10^12 scale (SURVEY.md §4 N5)."""
    t = codegraph.triples_table(spark)
    plan = (
        t.where(t.pred == "calls")._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "pred" in pf and "calls" in pf


# ------------------------------------------------------------ SCC / layers


def _deps(spark, pairs):
    return spark.createDataFrame(pairs, "src_repo string, dst_repo string")


def test_scc_labels_mixed_graph(spark):
    # 3-cycle {a,b,c}, 2-cycle {x,y}, acyclic feeders d->a and e->x.
    e = _deps(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "x"),
         ("d", "a"), ("e", "x")],
    )
    got = {r.node: r.scc_id for r in codegraph.scc_labels(e).collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "d": "d", "e": "e",
    }


def test_scc_labels_nested_cycles_through_bridge(spark):
    # two cycles joined by a one-way bridge stay SEPARATE SCCs, and the
    # bridge node (on a cycle-to-cycle path) must not be absorbed into
    # either — the case naive source/sink trimming gets wrong.
    e = _deps(
        spark,
        [("a", "b"), ("b", "a"), ("b", "m"), ("m", "x"), ("x", "y"), ("y", "x")],
    )
    got = {r.node: r.scc_id for r in codegraph.scc_labels(e).collect()}
    assert got == {"a": "a", "b": "a", "m": "m", "x": "x", "y": "x"}


def test_scoped_conf_overrides_do_not_leak(spark):
    """scc_labels and iterate.checkpoint(pin=True) override session conf
    for their own section only: afterwards every key reads back exactly as
    before — an explicit value unchanged, an unset key still unset."""
    from pyspark.sql import functions as F

    from kgforge import iterate

    coal, shuf = "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.shuffle.partitions"
    coal_prev, shuf_prev = spark.conf.get(coal), spark.conf.get(shuf)
    spark.conf.unset(coal)
    spark.conf.set(shuf, "7")
    try:
        e = _deps(spark, [("a", "b"), ("b", "c"), ("c", "a")])
        got = {r.node: r.scc_id for r in codegraph.scc_labels(e).collect()}
        assert got == {"a": "a", "b": "a", "c": "a"}
        assert spark.conf.get(coal, None) is None
        assert spark.conf.get(shuf) == "7"
        iterate.checkpoint(e.repartition("src_repo"), pin=True)[0].count()
        assert spark.conf.get(shuf) == "7"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        iterate.checkpoint(e.repartition("src_repo"), F.count(F.lit(1)).alias("n"), pin=True)
        assert spark.conf.get(shuf) == "7"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set(coal, coal_prev)
        spark.conf.set(shuf, shuf_prev)


def test_import_cycles_filters_singletons(spark):
    e = _deps(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "x"),
         ("d", "a"), ("e", "x")],
    )
    rows = {
        (r.repo, r.scc_id, r.scc_size)
        for r in codegraph.import_cycles(e).collect()
    }
    assert rows == {
        ("a", "a", 3), ("b", "a", 3), ("c", "a", 3),
        ("x", "x", 2), ("y", "x", 2),
    }


def test_dep_layers_longest_chain_with_contraction(spark):
    # d -> {a<->b} -> c plus disjoint p -> q.  The a/b cycle contracts to
    # one unit; layer = LONGEST dependency chain (c:0, {a,b}:1, d:2).
    e = _deps(
        spark,
        [("d", "a"), ("a", "b"), ("b", "a"), ("b", "c"), ("p", "q")],
    )
    got = {r.repo: (r.scc_id, r.layer) for r in codegraph.dep_layers(e).collect()}
    assert got == {
        "c": ("c", 0), "a": ("a", 1), "b": ("a", 1), "d": ("d", 2),
        "q": ("q", 0), "p": ("p", 1),
    }


def test_dep_layers_diamond_takes_max_not_min(spark):
    # diamond: r -> s -> t, r -> t.  Longest chain wins: layer(r) = 2.
    e = _deps(spark, [("r", "s"), ("s", "t"), ("r", "t")])
    got = {r.repo: r.layer for r in codegraph.dep_layers(e).collect()}
    assert got == {"t": 0, "s": 1, "r": 2}
