"""S15: rate-limited external-enrichment stage (the HTTP grounding call).

Reference: /root/reference/experiments/uaz_indicators_comparison.py:248-276
— each indicator is PUT to the UAZ linking API (``maxHits=10,
threshold=0.6``) at 1 request/sec (``time.sleep(1)``), and the response
groundings are merged back into the record.

The service itself is external (and absent here), so it is STUBBED with a
deterministic grounding function — the md5-prefix score family the sketch
operators already use in both engines — which keeps the driver gate HARD:
the DuckDB oracle replays the whole enrichment relationally.  Everything
around the stub is the real Spark shape for an external-call stage:

- **enrich distinct keys, never corpus rows** — the query set is the
  deduped ontology query-string projection; at 100 TB the corpus side
  joins the (tiny, persisted) enrichment result, it never calls out.  New
  keys would anti-join the persisted cache first (the minhash_incremental
  probe shape).
- **Arrow-batched mapInPandas with a per-task token bucket** — the
  sandbox analog of the reference's ``sleep(1)`` loop; cluster-wide call
  rate = tasks x ``rate`` (req/s per task, default unlimited), which is
  the argument an operator like this must expose because the bottleneck
  is the remote service, not the cluster.
- **maxHits / threshold applied service-side** so the transferred
  response is bounded regardless of ontology size.

tests/test_enrichment.py pins: limiter actually paces (elapsed >=
(n-1)/rate), limited and unlimited runs emit identical rows, and the
stub's top-k/threshold behavior matches an independent pandas replay.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .ontology import _sql_nodes, parse_ontology
from .registry import query

UAZ_THRESHOLD = 0.6  # reference :258 uaz_threshold
UAZ_MAX_HITS = 10  # reference :259 uaz_hits
_HASH_SPACE = float(1 << 32)

ENRICH_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("rank", IntegerType(), False),
        StructField("grounding", StringType(), False),
        StructField("score", DoubleType(), False),
    ]
)


def _stub_ground(query_string: str, nodes: list[str]) -> list[tuple[str, float]]:
    """Deterministic stand-in for the PUT-to-linking-API response body:
    scores every ontology node against the query with the engine-portable
    md5-prefix hash, applies the reference's threshold, and returns the
    top maxHits by (score desc, node) — the swap-in point for a real
    ``requests.put`` is exactly this function."""
    hits = []
    for n in nodes:
        hv = int(hashlib.md5(f"{query_string}|{n}".encode()).hexdigest()[:8], 16)
        score = hv / _HASH_SPACE
        if score >= UAZ_THRESHOLD:
            hits.append((n, score))
    hits.sort(key=lambda t: (-t[1], t[0]))
    return hits[:UAZ_MAX_HITS]


def enrich_queries(qdf, nodes: list[str], rate: float = float("inf")):
    """(name, query_string) -> one row per grounding hit, via the
    rate-limited external-call stage.  ``rate`` is requests/sec PER TASK
    (cluster-wide rate = tasks x rate), unlimited by default; it is
    captured in the task closure."""
    min_gap = 0.0 if rate == float("inf") else 1.0 / rate

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task session/connection init would happen HERE, once.
        t_next = time.monotonic()
        for pdf in batches:
            out = {"name": [], "rank": [], "grounding": [], "score": []}
            for name, qs in zip(pdf["name"], pdf["query_string"]):
                if min_gap:
                    now = time.monotonic()
                    if now < t_next:
                        time.sleep(t_next - now)
                    t_next = max(t_next, now) + min_gap
                for rank, (node, score) in enumerate(_stub_ground(qs, nodes), 1):
                    out["name"].append(name)
                    out["rank"].append(rank)
                    out["grounding"].append(node)
                    out["score"].append(score)
            yield pd.DataFrame(out)

    return qdf.mapInPandas(run, schema=ENRICH_SCHEMA)


def _sql_enrichment() -> str:
    # the oracle replays the stub relationally: md5-prefix score of every
    # (query_string, node) pair, threshold, rank by (score desc, node),
    # top maxHits per query.  score = hv / 2^32 is exact in both engines
    # (integer over a power of two), so no rounding is needed.
    return f"""
    with qs as (
      select name,
             array_to_string(
               case when list_contains(examples, replace(name, '_', ' '))
                    then examples
                    else list_prepend(replace(name, '_', ' '), examples) end,
               ', ') as query_string
      from {_sql_nodes()}
    ),
    scored as (
      select qs.name, n.name as grounding,
             ('0x' || substr(md5(qs.query_string || '|' || n.name), 1, 8))::BIGINT
               / {_HASH_SPACE} as score
      from qs cross join {_sql_nodes().replace('nodes(', 'n(')}
    ),
    ranked as (
      select name, grounding, score,
             row_number() over (partition by name
                                order by score desc, grounding) as rank
      from scored where score >= {UAZ_THRESHOLD}
    )
    select name, rank::INTEGER as rank, grounding, score
    from ranked where rank <= {UAZ_MAX_HITS}
    """


@query("uaz_enrichment", oracle=_sql_enrichment())
def uaz_enrichment(spark, sf_dir):
    """S15: ground every ontology query string through the (stubbed)
    external linking service — distinct keys only, rate-limited
    mapInPandas, maxHits/threshold per the reference call."""
    from .ontology import ontology_query_strings

    nodes = [n for n, _ in parse_ontology()[0]]
    qdf = ontology_query_strings(spark, sf_dir)
    return enrich_queries(qdf, nodes)
