"""Word-level (token-level) neural search — the reference's second search
mode (/root/reference/search/bert_search.py:49-69 word embeddings and
:91-110 scoring), re-expressed as distributed aggregations:

    scores[d, i, j] = cos(query_token_i, doc_token_j)
    tf[d, i]   = sum_j scores[d, i, j]                       (A6, :100,102)
    idf[i]     = N / sum_d max_j scores[d, i, j]             (A7, :100-101,106)
    score[d]   = sum_i tf[d, i] * log2(idf[i])               (A8, :107)

Instead of a [N_docs, T_q, T_d] tensor, the engine keeps the long-form
tables Spark aggregates natively:

    doc_tokens(doc_id, term, cnt)       -- positions collapse to counts:
                                           sum_j over positions == sum_term cnt*sim,
                                           max_j over positions == max_term sim
    sims(term, q_term, sim)             -- |vocab| x |query| similarities,
                                           NOT |corpus tokens| x |query|
    agg(doc_id, q_term, tf, mx)         -- ONE hash aggregate computes A6's
                                           sum and A7's per-doc max together
    idf(q_term, idf)                    -- second-level agg (A7), broadcast back

Zero-similarity (term, q_term) pairs are filtered before the join on BOTH
engines: they contribute 0 to every sum and max, and dropping them keeps the
fan-out proportional to MATCHING vocab, not vocab x query (the positive-score
filter P9, /root/reference/search/tf_idf_search.py:59, applied early).

Two token-similarity kernels:

- ``word_search`` family (DuckDB-oracle-green): sim = cosine of BINARY
  CHAR-TRIGRAM indicator embeddings, |G(a) n G(b)| / sqrt(|G(a)|*|G(b)|) —
  an embedding cosine that both engines compute exactly, so the whole
  A6->A7->A8 pipeline is hard-gated by the driver.
- ``word_search_vec`` (rows-only + pytest twin): the hashed n-gram DENSE
  embeddings from constants.py flowing through a real
  (token -> array<float>) pandas-UDF table — the V2 plumbing — with cosine
  as a JVM zip_with/aggregate; tests/test_wordsearch.py differentials it
  against a reference-style numpy tensor implementation.

Scale notes: embedding/trigram work is per DISTINCT vocab term (one shuffle
over tokens, tiny output), sims are broadcast-joined to the tf table, and
the top-k is orderBy+limit -> TakeOrderedAndProject.  No UDF touches a
per-row path in the oracle family at all.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import constants
from .registry import ROUND, query, table

QUERY_TERMS = ("spark", "filter", "window", "merge")
TOPK = 20


# ------------------------------------------------------------ trigram kernel
def _pad(term: str) -> str:
    return f"^{term}$"


def py_trigrams(term: str) -> list[str]:
    """Distinct char trigrams of the padded term (shares the ^...$ padding
    with constants.embed_text so both kernels see the same shingles)."""
    p = _pad(term)
    return sorted({p[i : i + 3] for i in range(len(p) - 2)})


def _grams_col(padded):
    """Distinct trigram array of an already-padded string column."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.length(padded) - 3),
            lambda i: F.substring(padded, i + 1, F.lit(3)),
        )
    )


def _doc_tokens(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\W+"), lambda t: t != "")
    return (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sims_trigram(spark, doc_tokens):
    """(term, q_term, sim) for sim > 0 — vocab x query, broadcast-scale."""
    vocab = doc_tokens.select("term").distinct()
    grams = vocab.select("term", _grams_col(F.concat(F.lit("^"), "term", F.lit("$"))).alias("g"))
    q = spark.createDataFrame(
        [(t, py_trigrams(t)) for t in QUERY_TERMS], "q_term string, g_q array<string>"
    )
    inter = F.size(F.array_intersect("g", "g_q"))
    return (
        grams.crossJoin(F.broadcast(q))
        .where(inter > 0)
        .select(
            "term",
            "q_term",
            (inter.cast("double") / F.sqrt(F.size("g") * F.size("g_q"))).alias("sim"),
        )
    )


def _word_agg(doc_tokens, sims):
    """One hash aggregate for A6 (sum) and A7's inner max together."""
    return (
        doc_tokens.join(sims, "term")
        .groupBy("doc_id", "q_term")
        .agg(
            F.sum(F.col("cnt") * F.col("sim")).alias("tf"),
            F.max("sim").alias("mx"),
        )
    )


def _word_idf(agg, n_docs: int):
    """A7 outer level: idf = N / sum_d(max_j sim)."""
    return agg.groupBy("q_term").agg(
        (F.lit(float(n_docs)) / F.sum("mx")).alias("idf")
    )


def _word_scores(agg, idf):
    """A8: score_d = sum_i tf * log2(idf)."""
    return (
        agg.join(F.broadcast(idf), "q_term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.log2(F.col("idf"))).alias("s"))
    )


# ----------------------------------------------------------------- shared SQL
_SQL_QGRAMS = ", ".join(
    "('{}', {})".format(t, "[" + ", ".join(f"'{g}'" for g in py_trigrams(t)) + "]")
    for t in QUERY_TERMS
)

_SQL_WORD_BASE = rf"""
toks as (
  select doc_id, term, count(*)::BIGINT as cnt
  from (select doc_id, unnest(regexp_split_to_array(lower(text), '\W+')) as term
        from documents)
  where term <> '' group by doc_id, term
),
grams as (
  select term,
         list_distinct(list_transform(range(length(p) - 2), i -> p[i+1:i+3])) as g
  from (select distinct term, '^' || term || '$' as p from toks)
),
qgrams(q_term, g_q) as (values {_SQL_QGRAMS}),
sims as (
  select term, q_term,
         len(list_intersect(g, g_q))::DOUBLE / sqrt(len(g) * len(g_q)) as sim
  from grams cross join qgrams
  where len(list_intersect(g, g_q)) > 0
),
agg as (
  select doc_id, q_term, sum(cnt * sim) as tf, max(sim) as mx
  from toks join sims using (term) group by doc_id, q_term
),
idf as (
  select q_term, (select count(*) from documents)::DOUBLE / sum(mx) as idf
  from agg group by q_term
)
"""


@query(
    "word_neural_tf",
    oracle=f"""
    with {_SQL_WORD_BASE}
    select doc_id, q_term, round(tf, {ROUND}) as tf, round(mx, {ROUND}) as mx
    from agg
    """,
)
def word_neural_tf(spark, sf_dir):
    """A6 + A7-inner: per (doc, query-token) similarity sum and max
    (/root/reference/search/bert_search.py:100-102)."""
    dt = _doc_tokens(spark, sf_dir)
    agg = _word_agg(dt, _sims_trigram(spark, dt))
    return agg.select(
        "doc_id", "q_term", F.round("tf", ROUND).alias("tf"), F.round("mx", ROUND).alias("mx")
    )


@query(
    "word_neural_idf",
    oracle=f"""
    with {_SQL_WORD_BASE}
    select q_term, round(idf, {ROUND}) as idf from idf
    """,
)
def word_neural_idf(spark, sf_dir):
    """A7: two-level max-then-sum neural idf
    (/root/reference/search/bert_search.py:100-101,106)."""
    docs = table(spark, sf_dir, "documents")
    dt = _doc_tokens(spark, sf_dir)
    agg = _word_agg(dt, _sims_trigram(spark, dt))
    return _word_idf(agg, docs.count()).select(
        "q_term", F.round("idf", ROUND).alias("idf")
    )


@query(
    "word_search",
    oracle=f"""
    with {_SQL_WORD_BASE}
    select doc_id, round(s, {ROUND}) as score from (
      select doc_id, sum(tf * log2(idf)) as s
      from agg join idf using (q_term) group by doc_id
    )
    order by round(s, {ROUND}) desc, doc_id
    limit {TOPK}
    """,
)
def word_search(spark, sf_dir):
    """A8: the full word-level neural tf-idf ranking, top-{20} by rounded
    score with doc_id tiebreak (the rounded-score total order keeps the
    driver's cross-engine comparison deterministic)."""
    docs = table(spark, sf_dir, "documents")
    dt = _doc_tokens(spark, sf_dir)
    agg = _word_agg(dt, _sims_trigram(spark, dt))
    idf = _word_idf(agg, docs.count())
    scores = _word_scores(agg, idf)
    return (
        scores.select("doc_id", F.round("s", ROUND).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(TOPK)
    )


# ------------------------------------------------- dense-embedding variant
def token_embeddings(docs):
    """V2: the exploded (doc_id, token_pos, term, vec) token-embedding
    table.  Embeddings are computed once per DISTINCT term (iterator
    pandas_udf over the vocab — the shuffle output is vocab-sized) and
    broadcast-joined back to positions; shipping every position through the
    Python worker would move the whole corpus across Arrow instead.
    """
    from ..stages.embed import _embed_udf, _hash_encoder

    toks = F.filter(F.split(F.lower(F.col("text")), r"\W+"), lambda t: t != "")
    pos = docs.select("doc_id", F.posexplode(toks).alias("token_pos", "term"))
    vocab = pos.select("term").distinct()
    vecs = vocab.withColumn("vec", _embed_udf(_hash_encoder)(F.col("term"))["embedding"])
    return pos.join(F.broadcast(vecs), "term").select("doc_id", "token_pos", "term", "vec")


def _sims_dense(spark, doc_tokens):
    """(term, q_term, sim) via the hashed n-gram dense embeddings; vectors
    are L2-normalized so cosine == dot (zip_with + aggregate, JVM-side)."""
    from ..stages.embed import _embed_udf, _hash_encoder

    vocab = doc_tokens.select("term").distinct().withColumn(
        "vec", _embed_udf(_hash_encoder)(F.col("term"))["embedding"]
    )
    qv = spark.createDataFrame(
        [(t, [float(x) for x in constants.embed_text(t)]) for t in QUERY_TERMS],
        "q_term string, q_vec array<float>",
    )
    dot = F.aggregate(
        F.zip_with("vec", "q_vec", lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    return vocab.crossJoin(F.broadcast(qv)).select(
        "term", "q_term", dot.cast("double").alias("sim")
    )


def _sql_word_vec_base() -> str:
    """A6/A7 chain over the PRECOMPUTED dense similarity fixture
    (fixtures/word_sims.parquet — the twin's bit-exact replica of the
    Spark zip_with/aggregate dot, for the union of test-SF vocabularies;
    superset-safe because toks inner-joins it down to the current corpus).
    DuckDB cannot recompute the hashed-projection embeddings itself, so
    the fixture supplies sims and SQL supplies the aggregation chain."""
    from ..oracle.fixtures import word_sims_path

    return rf"""
    toks as (
      select doc_id, term, count(*)::BIGINT as cnt
      from (select doc_id, unnest(regexp_split_to_array(lower(text), '\W+')) as term
            from documents)
      where term <> '' group by doc_id, term
    ),
    sims as (select term, q_term, sim from read_parquet('{word_sims_path()}')),
    agg as (
      select doc_id, q_term, sum(cnt * sim) as tf, max(sim) as mx
      from toks join sims using (term) group by doc_id, q_term
    ),
    idf as (
      select q_term, (select count(*) from documents)::DOUBLE / sum(mx) as idf
      from agg group by q_term
    )
    """


@query(
    "word_search_vec",
    oracle=f"""
    with {_sql_word_vec_base()}
    select doc_id, round(s, {ROUND}) as score from (
      select doc_id, sum(tf * log2(idf)) as s
      from agg join idf using (q_term) group by doc_id
    )
    order by round(s, {ROUND}) desc, doc_id
    limit {TOPK}
    """,
)
def word_search_vec(spark, sf_dir):
    """Word-level search over the DENSE hashed n-gram token embeddings
    (the V2 table) — same A6/A7/A8 aggregation plan as ``word_search``
    with cosine computed from real array<float> vectors.  Dense cosines
    are signed and rarely exactly zero, so no positive-sim filter is
    applied (the zero-measure case the trigram kernel prunes).
    Correctness gates: the driver oracle over the committed sims fixture
    (drift-guarded in tests/test_twin_fixtures.py), plus
    tests/test_wordsearch.py's differential against a reference-style
    [N, T_q, T_d] numpy tensor implementation."""
    docs = table(spark, sf_dir, "documents")
    dt = _doc_tokens(spark, sf_dir)
    agg = _word_agg(dt, _sims_dense(spark, dt))
    idf = _word_idf(agg, docs.count())
    scores = _word_scores(agg, idf)
    return (
        scores.select("doc_id", F.round("s", ROUND).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(TOPK)
    )
