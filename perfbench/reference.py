"""Independent references the benchmark checks the program's outputs
against.  None of this is timed.

- The build workload: the pandas twin (``kgforge.oracle.twin``).
- Consumer kernels: pandas and DuckDB formulations written here from each
  kernel's documented semantics.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd


def triple_keys(df: pd.DataFrame) -> set:
    return set(zip(df["subj"], df["pred"], df["obj"]))


def precision_recall(got: set, want: set) -> tuple[float, float, int]:
    """(precision, recall, |got & want|); two empty sets agree fully."""
    inter = len(got & want)
    p = inter / len(got) if got else float(not want)
    r = inter / len(want) if want else float(not got)
    return p, r, inter


# ------------------------------------------------------------ consumer kernels
_MODULE_RE = re.compile(r"([^/]+)\.[A-Za-z0-9]+$")


def _repo(subj: pd.Series) -> pd.Series:
    return subj.str.split(":", n=1).str[0]


def call_graph(tri: pd.DataFrame) -> pd.DataFrame:
    calls = tri[tri.pred == "calls"][["subj", "obj"]].rename(columns={"subj": "caller"})
    defs = tri[tri.pred == "defines"][["subj", "obj"]].rename(columns={"subj": "callee"})
    j = calls.merge(defs, on="obj")
    return j.groupby(["caller", "callee"]).size().rename("n_fns").reset_index()


def api_fanin(tri: pd.DataFrame, k: int = 20) -> pd.DataFrame:
    c = tri[tri.pred == "calls"].groupby("obj").size().rename("n_callers")
    d = tri[tri.pred == "defines"].groupby("obj").size().rename("n_defs")
    out = pd.concat([c, d], axis=1).fillna(0).astype("int64").reset_index(names="obj")
    out = out[out.n_callers > 0].sort_values(["n_callers", "obj"], ascending=[False, True])
    return out.head(k)


def module_deps(tri: pd.DataFrame) -> pd.DataFrame:
    imp = tri[tri.pred == "imports"]
    imp = pd.DataFrame({"src_repo": _repo(imp.subj), "obj": imp.obj})
    subj = pd.Series(tri.subj.unique())
    owners = pd.DataFrame(
        {"obj": "module:" + subj.map(lambda s: _MODULE_RE.search(s).group(1)), "dst_repo": _repo(subj)}
    ).drop_duplicates()
    j = imp.merge(owners, on="obj")
    j = j[j.src_repo != j.dst_repo]
    pre = j.groupby(["src_repo", "dst_repo", "obj"]).size().rename("n").reset_index()
    return (
        pre.groupby(["src_repo", "dst_repo"])
        .agg(n_imports=("n", "sum"), n_modules=("n", "size"))
        .reset_index()
    )


def pagerank(tri: pd.DataFrame, iters: int, damping: float) -> pd.DataFrame:
    """``graph.pagerank(graph.triple_edges(...))`` in DuckDB SQL: edges are
    the symmetrized distinct (subj, obj) pairs without self-loops; uniform
    start; each round r = (1 - d) / n + d * sum(r_src / outdeg_src)."""
    t = tri[tri.subj != tri.obj]
    sym = pd.concat(
        [pd.DataFrame({"src": t.subj, "dst": t.obj}), pd.DataFrame({"src": t.obj, "dst": t.subj})]
    ).drop_duplicates()
    chain = ["r0 as (select node, 1.0 / (select n from nn) as r from nodes)"]
    for i in range(iters):
        chain.append(
            f"""r{i + 1} as (select nodes.node, (1 - {damping}) / (select n from nn)
                 + {damping} * coalesce(s.c, 0) as r
               from nodes left join (select w.dst as node, sum(w.w * r{i}.r) as c
                 from w join r{i} on r{i}.node = w.src group by w.dst) s using (node))"""
        )
    sql = f"""with nodes as (select src as node from sym union select dst from sym),
      nn as (select count(*)::DOUBLE as n from nodes),
      deg as (select src, count(*)::DOUBLE as d from sym group by src),
      w as (select sym.src, sym.dst, 1.0 / deg.d as w from sym join deg using (src)),
      {", ".join(chain)}
      select node, r from r{iters}"""
    con = duckdb.connect()
    try:
        con.register("sym", sym)
        return con.execute(sql).df()
    finally:
        con.close()


def row_keys(df: pd.DataFrame, cols: list[str], digits: int) -> set:
    """Result rows as hashable tuples: integer columns as Python ints,
    float columns rounded to ``digits``."""

    def col(c):
        s = df[c]
        if s.dtype.kind == "f":
            return s.round(digits)
        return s.astype("int64") if s.dtype.kind in "iu" else s

    return set(zip(*(col(c) for c in cols)))
