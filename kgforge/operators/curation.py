"""Training-corpus curation signals beyond dedup: repetition filters,
importance-sampling weights, and token-entropy quality scoring.

These are the document-level *selection* operators a 100 TB pretraining
pipeline runs between cleaning and packing:

- ``gopher_repetition`` — the repetition rules of Rae et al. 2021
  (Gopher, Table A1) re-expressed over the word stream: fraction of
  characters in the most frequent 2-gram, and the duplicate-5-gram
  occurrence fraction (occurrence-count variant of Gopher's
  char-coverage — the span-union form needs interval merging per doc;
  the occurrence fraction is the same signal and is exactly
  SQL-expressible, so the oracle stays hard).
- ``dsir_importance`` — Xie et al. 2023 (DSIR): hashed-bigram importance
  weight log(p_target/p_raw) per document, target = the ``lang='en'``
  slice, raw = the whole corpus, Laplace +1 smoothing over B=256
  buckets.
- ``token_entropy`` — Shannon entropy of the per-document unigram
  distribution (low-entropy docs are keyboard-mash / template spam).
- ``ccnet_ppl`` — CCNet-style LM perplexity bucketing (Wenzek et al.
  2020): score every document's mean bigram log-probability under a
  Laplace-smoothed bigram LM trained on a deterministic reference
  slice of the corpus, then cut head/middle/tail quality buckets —
  the filter CCNet runs with a Wikipedia KenLM, here with the
  corpus-internal reference slice so both engines derive the
  identical model from the same table.
- ``curation_verdict`` — the gate itself: one keep/drop row per doc
  with the first failing rule (length floor, repetition, entropy
  floor, perplexity tail) as the reason; its oracle composes the
  family oracles verbatim.

Reference analog: the reference scores documents only by tf-idf/embedding
relevance (/root/reference/search/tf_idf_search.py); corpus curation is
part of this engine's LLM-data surface, not a port.

Scale notes (100 TB): every query here is explode -> two-level hash
aggregate with map-side partial aggregation; the only joins are per-doc
result joins on doc_id (post-aggregation, rows = docs not grams) and a
256-row broadcast in DSIR.  No windows over unbounded partitions, no
HOF in a pair loop — the per-doc gram arrays are built once per row and
exploded, so the quadratic-duplication trap (Catalyst re-evaluating the
array per element_at) does not apply.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import ROUND, query, table

TOP2_THRESH = 0.20  # Gopher: top-2-gram char fraction
DUP5_THRESH = 0.15  # Gopher: duplicate-5-gram fraction (occurrence variant)
DSIR_B = 256  # hashed bigram buckets
PPL_REF_MOD = 3  # LM reference slice: doc_id % 3 == 0 (CCNet's "clean LM corpus")
PPL_HEAD = -4.91  # head/middle cut on rounded avg log2 prob (higher = more fluent)
PPL_TAIL = -4.97  # middle/tail cut (cuts sit at the synth corpus tertiles, stable sf0.001-0.1)

# Shared SQL fragments (DuckDB) — tokens and n-gram arrays per doc.
_SQL_TOKS = r"""
  select doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '\W+'), x -> x <> '') as t
  from documents
"""

_SQL_GRAMS = rf"""
  select doc_id, lang, length(array_to_string(t, '')) as tot_chars,
         case when len(t) >= 2
              then list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i + 1])
              else []::VARCHAR[] end as g2,
         case when len(t) >= 5
              then list_transform(generate_series(1, len(t) - 4),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       || ' ' || t[i+3] || ' ' || t[i+4])
              else []::VARCHAR[] end as g5
  from ({_SQL_TOKS})
"""


def _toks():
    return F.filter(F.split(F.lower(F.col("text")), r"\W+"), lambda x: x != "")


def _tok_base(spark, sf_dir):
    """Per-doc token array projection (one tokenizer evaluation per doc)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", _toks().alias("t"))


def _gram_expr(n: int):
    """Token n-gram array expression over the ``t`` column.

    MUST be exploded INLINE (``explode(_gram_expr(n))`` in the same
    select), never projected to a named array column and exploded in a
    later select: the two-step form measured 8x slower at sf0.1 (6.6 s
    vs 0.8 s for the identical explode+groupBy) — the projected-array
    Generate falls off the fast path, the mirror image of the round-1
    element_at duplication trap where a projection boundary was the FIX.
    The sequence guard yields an empty array for docs shorter than n."""
    return F.when(
        F.size("t") >= n,
        F.expr(
            f"transform(sequence(0, size(t) - {n}),"
            f" i -> concat_ws(' ', slice(t, i + 1, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def _gram2_hash_expr():
    """2-gram stream as fixed-width (xxhash64 key, char length) structs.

    The concat-string gram stream is the curation family's measured
    scaling wall (BENCH_SCALING_CURATION_STAGES.json: the map-only
    concat leg sits at 0.32-0.41 paired efficiency while the tokenizer
    explode and the hash-agg exchange both clear 0.75 — ~45M short-lived
    strings allocated into one shared heap serialize on allocation/GC).
    Hashing INSIDE the transform lambda emits (long, int) rows instead:
    no token copies, no string keys in the exchange — the hash-keyed agg
    measured 1.6x faster at BOTH parallelism levels (47.4/24.9 s vs
    77.3/34.6 s at 300k docs, local[2]/local[8]).

    Correctness: grouping by xxhash64(w1, w2) is exact up to hash
    collisions WITHIN one document's gram set (~150 grams -> collision
    odds ~1e-16 per doc, ~1e-10 over 500k docs); the multi-arg hash
    chains per-value so no concat boundary ambiguity exists.  The DuckDB
    oracle gate re-verifies exact counts every round.  Same guard
    convention as _gram_expr; same INLINE-explode rule applies."""
    return F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(0, size(t) - 2),"
            " i -> struct(xxhash64(t[i], t[i+1]) as h,"
            "             length(t[i]) + length(t[i+1]) as glen))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<h:bigint,glen:int>>"))


def _gram5_hash_expr():
    """5-gram stream as xxhash64 keys only (dup5 needs no lengths)."""
    return F.when(
        F.size("t") >= 5,
        F.expr(
            "transform(sequence(0, size(t) - 5),"
            " i -> xxhash64(t[i], t[i+1], t[i+2], t[i+3], t[i+4]))"
        ),
    ).otherwise(F.expr("array()").cast("array<bigint>"))


def _bigram_hash_expr():
    """Bigram stream as (xxhash64(w1, w2), xxhash64(w1)) structs — the
    ccnet_ppl hash-keyed scoring stream (same rationale and collision
    argument as _gram2_hash_expr, except the hash scope here is the
    GLOBAL bigram vocabulary, not one document: with D distinct bigrams
    the chance of any collision anywhere is ~D^2/2^65 — ~1e-13 at test
    scale, ~3% at D=1e9, where one merged count among 1e9 perturbs a
    smoothed LM score imperceptibly; the DuckDB oracle stays exact and
    string-keyed and re-verifies every round)."""
    return F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(0, size(t) - 2),"
            " i -> struct(xxhash64(t[i], t[i+1]) as h2, xxhash64(t[i]) as h1))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<h2:bigint,h1:bigint>>"))


@query(
    "gopher_repetition",
    oracle=rf"""
    with g as ({_SQL_GRAMS}),
    c2 as (
      select doc_id, gram, count(*)::BIGINT as c
      from (select doc_id, unnest(g2) as gram from g) group by 1, 2
    ),
    top2 as (
      select doc_id, max(c * length(replace(gram, ' ', ''))) as top_chars
      from c2 group by 1
    ),
    c5 as (
      select doc_id, gram, count(*)::BIGINT as c
      from (select doc_id, unnest(g5) as gram from g) group by 1, 2
    ),
    d5 as (
      select doc_id,
             sum(case when c > 1 then c else 0 end)::DOUBLE / sum(c) as dup5
      from c5 group by 1
    ),
    fr as (
      select g.doc_id,
             round(coalesce(top_chars, 0)::DOUBLE / greatest(tot_chars, 1),
                   {ROUND}) as top2gram_frac,
             round(coalesce(dup5, 0), {ROUND}) as dup5gram_frac
      from g left join top2 using (doc_id) left join d5 using (doc_id)
    )
    select doc_id, top2gram_frac, dup5gram_frac,
           case when top2gram_frac > {TOP2_THRESH} then 'rep_2gram'
                when dup5gram_frac > {DUP5_THRESH} then 'rep_5gram'
                else 'ok' end as verdict
    from fr
    """,
)
def gopher_repetition(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021 Table A1) over the word
    stream: ``top2gram_frac`` = chars of the most frequent 2-gram as a
    fraction of total token chars; ``dup5gram_frac`` = fraction of 5-gram
    occurrences whose gram occurs more than once.  Verdict applies the
    published thresholds (0.20 / 0.15) to the ROUNDED fractions on both
    engines so the gate cannot flip on float dust.

    Plan: two inline hash-gram explode->hash-agg legs (both with
    map-side partial agg), then doc_id-level joins over doc-count sized
    sides.  The gram streams are (doc_id, xxhash64, len) fixed-width
    rows, not strings — see _gram2_hash_expr for the measured 1.6x
    both-levels win and the collision bound.  Scale-safe: no per-gram
    shuffle survives past the two-level aggregate."""
    base = _tok_base(spark, sf_dir)
    c2 = (
        base.select("doc_id", F.explode(_gram2_hash_expr()).alias("g"))
        .groupBy("doc_id", F.col("g.h").alias("h"))
        .agg(F.count(F.lit(1)).alias("count"), F.max("g.glen").alias("glen"))
    )
    top2 = c2.groupBy("doc_id").agg(
        F.max(F.col("count") * F.col("glen")).alias("top_chars")
    )
    c5 = (
        base.select("doc_id", F.explode(_gram5_hash_expr()).alias("h"))
        .groupBy("doc_id", "h")
        .count()
    )
    d5 = c5.groupBy("doc_id").agg(
        (
            F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(F.lit(0))).cast("double")
            / F.sum("count")
        ).alias("dup5")
    )
    fr = (
        base.select("doc_id", F.length(F.concat_ws("", F.col("t"))).alias("tot_chars"))
        .join(top2, "doc_id", "left")
        .join(d5, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.col("top_chars"), F.lit(0)).cast("double")
                / F.greatest(F.col("tot_chars"), F.lit(1)),
                ROUND,
            ).alias("top2gram_frac"),
            F.round(F.coalesce(F.col("dup5"), F.lit(0.0)), ROUND).alias("dup5gram_frac"),
        )
    )
    verdict = (
        F.when(F.col("top2gram_frac") > TOP2_THRESH, "rep_2gram")
        .when(F.col("dup5gram_frac") > DUP5_THRESH, "rep_5gram")
        .otherwise("ok")
    )
    return fr.select("doc_id", "top2gram_frac", "dup5gram_frac", verdict.alias("verdict"))


@query(
    "dsir_importance",
    oracle=rf"""
    with g as ({_SQL_GRAMS}),
    occ as (
      select doc_id, lang,
             ('0x' || substr(md5(gram), 1, 8))::BIGINT % {DSIR_B} as b
      from (select doc_id, lang, unnest(g2) as gram from g)
    ),
    dist as (
      select b,
             sum(case when lang = 'en' then 1 else 0 end)::BIGINT as ct,
             count(*)::BIGINT as cr
      from occ group by 1
    ),
    tot as (select sum(ct) as nt, sum(cr) as nr from dist),
    ratio as (
      select b, ln((ct + 1.0) / (nt + {DSIR_B})) - ln((cr + 1.0) / (nr + {DSIR_B})) as lr
      from dist, tot
    ),
    docb as (
      select doc_id, b, count(*)::BIGINT as c from occ group by 1, 2
    )
    select doc_id, round(sum(c * lr), {ROUND}) as weight
    from docb join ratio using (b)
    group by 1
    """,
)
def dsir_importance(spark, sf_dir):
    """DSIR importance weight per document (Xie et al. 2023): hashed-bigram
    bag weight sum_b n_doc(b) * [ln p_target(b) - ln p_raw(b)], target =
    the ``lang='en'`` slice, raw = all docs, Laplace +1 over B=256 hashed
    buckets (md5-prefix bucket id — the engine-agreed hash used across the
    dedup family).

    Plan: one explode feeds BOTH distributions (conditional sum for the
    target slice — no second scan), the ratio table is {DSIR_B} rows and
    broadcasts, and the per-doc weight is a hash aggregate over
    (doc, bucket) partial counts.  At 100 TB the only full-data shuffles
    are the two (doc_id/bucket)-keyed partial aggs; the join is broadcast."""
    base = _tok_base(spark, sf_dir)
    occ = base.select("doc_id", "lang", F.explode(_gram_expr(2)).alias("gram")).select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long") % DSIR_B).alias("b"),
    )
    # one explode feeds everything: reduce to (doc, lang, bucket) counts
    # first, then derive BOTH corpus distributions from the reduced table
    # (docs x <=256 rows) instead of re-scanning the gram stream.
    docb_l = occ.groupBy("doc_id", "lang", "b").agg(F.count("*").alias("c"))
    dist = docb_l.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("ct"),
        F.sum("c").alias("cr"),
    )
    tot = dist.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    ratio = F.broadcast(
        dist.crossJoin(F.broadcast(tot)).select(
            "b",
            (
                F.log((F.col("ct") + 1.0) / (F.col("nt") + F.lit(float(DSIR_B))))
                - F.log((F.col("cr") + 1.0) / (F.col("nr") + F.lit(float(DSIR_B))))
            ).alias("lr"),
        )
    )
    docb = docb_l.select("doc_id", "b", "c")
    return (
        docb.join(ratio, "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("c") * F.col("lr")), ROUND).alias("weight"))
    )


@query(
    "token_entropy",
    oracle=rf"""
    with toks as (
      select doc_id, unnest(t) as tok from ({_SQL_TOKS})
    ),
    tf as (
      select doc_id, tok, count(*)::BIGINT as c from toks group by 1, 2
    ),
    n as (
      select doc_id, sum(c) as n_tok from tf group by 1
    )
    select tf.doc_id,
           round(-sum((c::DOUBLE / n_tok) * ln(c::DOUBLE / n_tok)), {ROUND})
             as entropy
    from tf join n using (doc_id)
    group by 1
    """,
)
def token_entropy(spark, sf_dir):
    """Shannon entropy of each document's unigram distribution — the
    standard low-entropy (template/mash) quality gate.  Two-level hash
    aggregate; the doc-length join is doc-count sized."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_toks()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    n = tf.groupBy("doc_id").agg(F.sum("c").alias("n_tok"))
    p = F.col("c").cast("double") / F.col("n_tok")
    return (
        tf.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log(p)), ROUND).alias("entropy"))
    )


@query(
    "ccnet_ppl",
    oracle=rf"""
    with g as ({_SQL_GRAMS}),
    big as (select doc_id, unnest(g2) as gram from g),
    c12 as (
      select gram, count(*)::BIGINT as c12 from big
      where doc_id % {PPL_REF_MOD} = 0 group by 1
    ),
    c1 as (
      select split_part(gram, ' ', 1) as w1, sum(c12)::BIGINT as c1
      from c12 group by 1
    ),
    vv as (select count(*)::BIGINT as v from c1),
    scored as (
      select b.doc_id, count(*)::BIGINT as n_bigrams,
             round(sum(log2((coalesce(c12, 0) + 1.0)
                            / (coalesce(c1, 0) + v))) / count(*),
                   {ROUND}) as avg_logprob
      from big b
      left join c12 using (gram)
      left join c1 on split_part(b.gram, ' ', 1) = c1.w1
      cross join vv
      group by 1
    )
    select doc_id, n_bigrams, avg_logprob,
           case when avg_logprob >= {PPL_HEAD} then 'head'
                when avg_logprob >= {PPL_TAIL} then 'middle'
                else 'tail' end as ppl_bucket
    from scored
    """,
)
def ccnet_ppl(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per-doc mean
    log2 probability of its bigram transitions under a Laplace-smoothed
    bigram LM trained on the deterministic reference slice
    ``doc_id % PPL_REF_MOD == 0`` (standing in for CCNet's Wikipedia KenLM so
    Spark and DuckDB derive the identical model from the same table), cut
    into head/middle/tail buckets on the ROUNDED score — CCNet keeps
    head+middle for training.  P(w2|w1) = (c12+1)/(c1+V) with c1 summed
    over bigram starts and V = distinct start tokens; docs with <2 tokens
    have no transitions and emit no row.

    Plan shape: ONE inline bigram explode feeds both the model aggregates
    and the scoring pass, and the stream is HASH-KEYED fixed-width rows
    (_bigram_hash_expr — the concat gram-string stream is the family's
    measured shared-JVM scaling wall, see _gram2_hash_expr).  The trained
    model (c12 keyed by bigram hash, c1 by start-token hash —
    model-sized, not corpus-sized, after the hash agg) broadcasts to the
    scoring join, so the corpus-side stream is never shuffled by gram:
    the only full-data exchange is the final doc_id hash agg.  At 100 TB
    with a pruned-KenLM-sized model this is exactly CCNet's layout
    (model to every worker, one pass over the corpus); if the model
    outgrows the broadcast ceiling the same query degrades to a shuffle
    equi-join on the hash — no plan rewrite needed.

    Reference analog: the reference has no corpus-quality LM
    (/root/reference/search/tf_idf_search.py scores relevance only);
    this is LLM-data surface."""
    return ccnet_scores(_tok_base(spark, sf_dir))


def ccnet_scores(base: DataFrame, broadcast_model: bool = True) -> DataFrame:
    """ccnet_ppl's plan, parameterized on the model-distribution valve.

    ``broadcast_model=True`` is the CCNet production layout (model to
    every worker, one corpus pass) — right while the trained LM fits the
    broadcast ceiling, which a SATURATING vocabulary guarantees (the
    registered query's corpora).  ``broadcast_model=False`` is the
    documented OPEN-VOCABULARY degrade path: when distinct bigrams grow
    with the corpus (real web text), the model outgrows any broadcast
    and the same query ships both model tables through shuffle-hash
    equi-joins on the hash keys instead — the corpus bigram stream pays
    one exchange, the plan is otherwise unchanged.  Row-identical to the
    broadcast path (tests/test_plans.py)."""
    big = base.select("doc_id", F.explode(_bigram_hash_expr()).alias("g")).select(
        "doc_id", "g.h2", "g.h1"
    )
    c12 = (
        big.where(F.col("doc_id") % PPL_REF_MOD == 0)
        .groupBy("h2")
        # h1 is functionally dependent on h2 (same bigram -> same start
        # token); max() just picks the one value hash-aggregably.
        .agg(F.count("*").alias("c12"), F.max("h1").alias("mh1"))
    )
    c1 = c12.groupBy(F.col("mh1").alias("h1")).agg(F.sum("c12").alias("c1"))
    vv = c1.agg(F.count("*").alias("v"))
    p = (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0)) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")
    )
    dist = F.broadcast if broadcast_model else (lambda d: d.hint("shuffle_hash"))
    scored = (
        big.join(dist(c12.drop("mh1")), "h2", "left")
        .join(dist(c1), "h1", "left")
        .crossJoin(F.broadcast(vv))  # one row either way
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum(F.log2(p)) / F.count("*"), ROUND).alias("avg_logprob"),
        )
    )
    bucket = (
        F.when(F.col("avg_logprob") >= PPL_HEAD, "head")
        .when(F.col("avg_logprob") >= PPL_TAIL, "middle")
        .otherwise("tail")
    )
    return scored.select("doc_id", "n_bigrams", "avg_logprob", bucket.alias("ppl_bucket"))


# -------------------------------------------------------- final verdict
VERDICT_MIN_CHARS = 80  # ~p5 of the synth corpus; RefinedWeb-style floor
VERDICT_MIN_ENTROPY = 2.45  # ~p5 unigram entropy: template/mash floor


def _verdict_sql() -> str:
    """Composition oracle: each family member's FULL registered oracle
    runs as a subquery (their SQL is the single source of truth — no
    re-derivation drift), joined on doc_id with the policy applied in
    one outer select."""
    from .registry import ORACLES

    return f"""
    with gop as (select * from ({ORACLES["gopher_repetition"]})),
    ent as (select * from ({ORACLES["token_entropy"]})),
    ppl as (select * from ({ORACLES["ccnet_ppl"]}))
    select d.doc_id,
           case
             when d.n_chars < {VERDICT_MIN_CHARS} then 'too_short'
             when gop.verdict <> 'ok' then 'repetition'
             when ent.entropy < {VERDICT_MIN_ENTROPY} then 'low_entropy'
             when coalesce(ppl.ppl_bucket, 'tail') = 'tail' then 'ppl_tail'
             else 'ok'
           end as reason,
           (case
             when d.n_chars < {VERDICT_MIN_CHARS} then 'too_short'
             when gop.verdict <> 'ok' then 'repetition'
             when ent.entropy < {VERDICT_MIN_ENTROPY} then 'low_entropy'
             when coalesce(ppl.ppl_bucket, 'tail') = 'tail' then 'ppl_tail'
             else 'ok'
           end) = 'ok' as keep
    from documents d
    left join gop on gop.doc_id = d.doc_id
    left join ent on ent.doc_id = d.doc_id
    left join ppl on ppl.doc_id = d.doc_id
    """


@query("curation_verdict", oracle=_verdict_sql())
def curation_verdict(spark, sf_dir):
    """The corpus gate itself: one keep/drop verdict per document with the
    FIRST failing rule as the reason, composing the family's signals in
    documented priority order — length floor (RefinedWeb-style), Gopher
    repetition, unigram-entropy floor, CCNet perplexity tail (CCNet
    trains on head+middle).  Unscoreable docs (<2 tokens, no ppl row)
    conservatively read as tail.

    Scale shape: every input signal is already a doc-level table (one
    corpus pass each, computed by the registered family queries whose
    oracles this op's oracle composes verbatim), so the verdict is three
    doc_id equi-joins over doc-count-sized sides plus one case
    expression — AQE handles any doc_id skew, nothing here touches the
    token stream again.  At 100 TB the signals are computed once,
    materialized, and this gate is a metadata-only join."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    gop = gopher_repetition(spark, sf_dir).select("doc_id", "verdict")
    ent = token_entropy(spark, sf_dir).select("doc_id", "entropy")
    ppl = ccnet_ppl(spark, sf_dir).select("doc_id", "ppl_bucket")
    j = (
        docs.join(gop, "doc_id", "left")
        .join(ent, "doc_id", "left")
        .join(ppl, "doc_id", "left")
    )
    reason = (
        F.when(F.col("n_chars") < VERDICT_MIN_CHARS, "too_short")
        .when(F.col("verdict") != "ok", "repetition")
        .when(F.col("entropy") < VERDICT_MIN_ENTROPY, "low_entropy")
        .when(F.coalesce(F.col("ppl_bucket"), F.lit("tail")) == "tail", "ppl_tail")
        .otherwise("ok")
    )
    return j.select(
        "doc_id", reason.alias("reason"), (reason == "ok").alias("keep")
    )
