"""Corpus-composition operators a training-data pipeline needs beyond
per-document cleaning (cleaning.py) and whole-doc dedup (dedup.py):

- ``substring_dup_spans`` — EXACT duplicated-substring detection: the
  fixed-width token-window form of suffix-array substring dedup
  (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  Better" — public method; the suffix array finds variable-length
  repeats, the W-token window form finds every repeat of length >= W,
  which is how the method is usually distributed).
- ``repetition_stats`` — Gopher-style repetition quality signals
  (Rae et al. 2021 §A1.3, public): most-common-token fraction,
  most-common-bigram fraction, type-token ratio.
- ``mixture_sample`` — deterministic source-mixture sampling with
  inverse-rate importance weights (the "data mixing" step that composes
  a training corpus from heterogeneous sources).

Scale shapes: substring windows explode to O(total tokens) rows and
resolve with ONE hash-groupBy + one equi-join (linear, shuffle on the
window hash — the same shape as minhash shingles); repetition stats are
two exploded hash-aggregations (map-side partial, no joins wider than
doc_id); mixture sampling is a pure map (no shuffle at all) because the
keep/drop decision is a deterministic per-row hash — rerunning the job
on a grown corpus keeps the SAME rows, which is what makes the sample
reproducible across ingest waves.  No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..cachectl import tracked_cache
from ..simjoin import block_pairs, sides
from ..valvemetrics import drop_hot_keys
from .registry import ROUND, query, table

SUB_W = 10  # duplicated-substring window width (tokens)

_SQL_TOKS = r"""
    select doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'), t -> t <> '') as ts
    from documents
"""


def _ts(docs):
    """Token array, materialized through a projection boundary (the
    dedup.py:_shingles_df lesson: inlined, Catalyst re-runs the regex per
    consuming expression)."""
    return docs.select(
        "doc_id",
        F.filter(F.split(F.lower(F.col("text")), r"\W+"), lambda t: t != "").alias("ts"),
    )


def sql_wins(w: int) -> str:
    """DuckDB fragment: (doc_id, pos, win) — every w-token window of every
    document, space-joined.  Shared by substring dedup + decontamination."""
    return f"""
      select doc_id,
             unnest(range(greatest(len(ts) - {w} + 1, 0))) as pos,
             unnest(list_transform(range(greatest(len(ts) - {w} + 1, 0)),
                                   j -> array_to_string(ts[j+1:j+{w}], ' '))) as win
      from ({_SQL_TOKS})
    """


def wins_df(docs, w: int):
    """Spark twin of :func:`sql_wins`: (doc_id, pos, win) for every
    w-token window.  Formulated as a sliding frame over the exploded
    token table, NOT array slicing: explode once, then
    ``collect_list over (partition by doc order by pos rows w-1
    following)`` — measured 9x faster than transform+slice and 45x
    faster than w element_ats at sf0.1 (Catalyst duplicates array-kernel
    expressions per element; the frame walk is O(w) per row and the only
    shuffle is the doc-keyed token explode, which scale-partitions
    evenly)."""
    from pyspark.sql import Window

    tok = _ts(docs).select("doc_id", F.posexplode("ts").alias("pos", "t"))
    frame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        tok.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", F.collect_list("t").over(frame)).alias("win"),
            F.count("t").over(frame).alias("n"),
        )
        .where(F.col("n") == w)
        .drop("n")
    )


@query(
    "substring_dup_spans",
    oracle=f"""
    with wins as ({sql_wins(SUB_W)}),
    shared as (
      select win, count(distinct doc_id)::BIGINT as n_docs
      from wins group by win having count(distinct doc_id) >= 2
    )
    select wins.doc_id, wins.pos::BIGINT as pos, shared.n_docs
    from wins join shared using (win)
    """,
)
def substring_dup_spans(spark, sf_dir):
    """Every position where a document repeats a >= SUB_W-token substring
    of ANOTHER document: windows -> one hash-groupBy (distinct-doc count
    per window) -> equi-join back.  Emits (doc_id, pos, n_docs); a
    substring-dedup pass then cuts those spans from all but one holder.
    Exact by construction — any shared substring of length >= SUB_W
    contains a shared W-window, so recall over >= W repeats is 1.

    Shuffle hygiene: windows are keyed by xxhash64 (free inside codegen;
    the md5+conv portable hash measured 9x slower as the map-side
    bottleneck), so both shuffles move an 8-byte key instead of a
    ~60-byte window string; the shared-window table that survives the
    HAVING is small enough that AQE broadcasts the join back.  The
    oracle groups by the raw window STRING — an independent derivation
    the hashed grouping must reproduce (a 64-bit collision would merge
    two windows and fail the gate; P ~ n^2/2^65).  Window table is
    cached: it feeds the agg AND the join."""
    docs = table(spark, sf_dir, "documents")
    wins = tracked_cache(
        wins_df(docs, SUB_W).select("doc_id", "pos", F.xxhash64("win").alias("win_h"))
    )
    shared = (
        wins.groupBy("win_h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    return wins.join(shared, "win_h").select("doc_id", F.col("pos").cast("long"), "n_docs")


@query(
    "repetition_stats",
    oracle=f"""
    with t as ({_SQL_TOKS}),
    tok as (select doc_id, unnest(ts) as term from t),
    tc as (select doc_id, term, count(*) as c from tok group by doc_id, term),
    ta as (select doc_id, round(max(c)::DOUBLE / sum(c), {ROUND}) as top_token_frac,
                  round(count(*)::DOUBLE / sum(c), {ROUND}) as ttr
           from tc group by doc_id),
    bg as (
      select doc_id,
             unnest(list_transform(range(greatest(len(ts) - 1, 0)),
                                   j -> ts[j+1] || ' ' || ts[j+2])) as bigram
      from t
    ),
    bc as (select doc_id, bigram, count(*) as c from bg group by doc_id, bigram),
    ba as (select doc_id, round(max(c)::DOUBLE / sum(c), {ROUND}) as top_bigram_frac
           from bc group by doc_id)
    select ta.doc_id, ta.top_token_frac, coalesce(ba.top_bigram_frac, 0.0) as top_bigram_frac, ta.ttr
    from ta left join ba using (doc_id)
    """,
)
def repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals per document: fraction of tokens
    that are the single most common token, fraction of bigrams that are
    the most common bigram, and type-token ratio — the inputs to the
    'excessive repetition' reject rules.  Two exploded hash-aggregate
    cascades, everything keyed by doc_id (combiner-friendly), no joins
    wider than the per-doc aggregate."""
    docs = table(spark, sf_dir, "documents")
    ts = F.col("ts")
    t = _ts(docs)
    tc = (
        t.select("doc_id", F.explode("ts").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ta = tc.groupBy("doc_id").agg(
        F.round(F.max("c").cast("double") / F.sum("c"), ROUND).alias("top_token_frac"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), ROUND).alias("ttr"),
    )
    bg = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(ts) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(ts) - 2),
                    lambda j: F.concat_ws(" ", F.element_at(ts, j + 1), F.element_at(ts, j + 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    ba = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.max("c").cast("double") / F.sum("c"), ROUND).alias("top_bigram_frac"))
    )
    return ta.join(ba, "doc_id", "left").select(
        "doc_id",
        "top_token_frac",
        F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)).alias("top_bigram_frac"),
        "ttr",
    )


# Mixture design: rate depends only on the source name, the keep/drop
# coin only on (a stable hash of) the doc id — so the sample is a fixed
# deterministic subset, stable under corpus growth and re-runs.  The md5
# prefix is the engine-portable uniform hash (Spark conv() == DuckDB
# '0x'-cast, both unsigned 32-bit), the same trick the exact-dup and
# minhash operators use.
MIX_BUCKETS = 10_000


def _mix_rate_sql(src: str) -> str:
    return f"(substr({src}, 4)::INT % 4 + 1) * 0.25"


@query(
    "mixture_sample",
    oracle=f"""
    select doc_id, source, round(1.0 / ({_mix_rate_sql('source')}), {ROUND}) as weight
    from documents
    where ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {MIX_BUCKETS}
          < {MIX_BUCKETS} * ({_mix_rate_sql('source')})
    """,
)
def mixture_sample(spark, sf_dir):
    """Deterministic source-mixture sample: each source gets a target
    keep-rate (here derived from the source index: 0.25/0.50/0.75/1.00
    cycling), rows are kept by a stable per-doc hash coin, and every kept
    row carries the 1/rate importance weight that makes downstream
    statistics unbiased.  Pure map over the scan — no shuffle, no RNG
    state; at 100 TB this is the one operator that MUST be a map, because
    any shuffle-based sampler would pay a full repartition just to throw
    rows away."""
    docs = table(spark, sf_dir, "documents")
    rate = ((F.substring("source", 4, 10).cast("int") % 4 + 1) * F.lit(0.25)).cast("double")
    coin = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % MIX_BUCKETS
    )
    return (
        docs.where(coin < F.lit(MIX_BUCKETS) * rate)
        .select("doc_id", "source", F.round(F.lit(1.0) / rate, ROUND).alias("weight"))
    )


# ------------------------------------------------------ UniMax allocation
UNIMAX_EMAX = 1.5  # per-source epoch cap
UNIMAX_BFRAC = 1.3  # training budget as a fraction of total corpus chars


@query(
    "unimax_alloc",
    oracle=f"""
    with src as (
      select source, count(*)::BIGINT as n_docs, sum(n_chars)::BIGINT as chars,
             sum(n_chars) * {UNIMAX_EMAX} as cap
      from documents group by source
    ),
    tot as (select sum(chars) * {UNIMAX_BFRAC} as budget, count(*)::BIGINT as s from src),
    ranked as (
      select src.*, budget, s,
             row_number() over (order by cap, source) as i,
             coalesce(sum(cap) over (order by cap, source
                                     rows between unbounded preceding and 1 preceding), 0)
               as prefix
      from src, tot
    ),
    shared as (
      select *, (budget - prefix) / (s - i + 1) as share from ranked
    ),
    jstar as (select min(i) as j from shared where cap > share)
    select source, n_docs, chars,
           round(case when j is not null and i >= j
                      then (select share from shared where i = j)
                      else cap end, {ROUND}) as alloc_chars,
           round(case when j is not null and i >= j
                      then (select share from shared where i = j)
                      else cap end / chars, {ROUND}) as epochs
    from shared, jstar
    """,
)
def unimax_alloc(spark, sf_dir):
    """UniMax mixture allocation (Chung et al. 2023): split a training
    character budget across sources so no source exceeds UNIMAX_EMAX
    epochs — the closed-form waterfilling: sources sorted ascending by
    cap take their full cap while cap <= (remaining budget)/(remaining
    sources); from the first source j* where that fails, every remaining
    source gets the equal share computed AT j* (caps ascend, so they all
    exceed it).  Output per source: docs, chars, allocated chars, epochs.

    Scale shape: one hash aggregate reduces the corpus to SOURCE-level
    rows (domain-count sized at web scale — millions, not billions), and
    the waterfilling is two window passes + a broadcast scalar over that
    reduced table; the corpus stream is touched exactly once.  The
    single-partition sort window over domain aggregates is the standard
    allocation-planning shape (same class as dataset_split's manifest,
    not a per-doc window)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
        (F.sum("n_chars") * UNIMAX_EMAX).alias("cap"),
    )
    tot = src.agg(
        (F.sum("chars") * UNIMAX_BFRAC).alias("budget"), F.count("*").alias("s")
    )
    w = Window.orderBy("cap", "source")
    ranked = src.crossJoin(F.broadcast(tot)).select(
        "*",
        F.row_number().over(w).alias("i"),
        F.coalesce(
            F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0.0)
        ).alias("prefix"),
    )
    shared = ranked.withColumn(
        "share", (F.col("budget") - F.col("prefix")) / (F.col("s") - F.col("i") + 1)
    )
    # one-row (j, jshare) scalar side; j/jshare are null when every source
    # fits its cap inside the budget (no waterfilling threshold exists).
    jrow = F.broadcast(
        shared.select(
            "i", "share", F.when(F.col("cap") > F.col("share"), F.col("i")).alias("ji")
        )
        .agg(F.min("ji").alias("j"))
        .join(shared.select(F.col("i").alias("ij"), F.col("share").alias("jshare")),
              F.col("j") == F.col("ij"), "left")
        .select("j", "jshare")
    )
    alloc = F.when(
        F.col("j").isNotNull() & (F.col("i") >= F.col("j")), F.col("jshare")
    ).otherwise(F.col("cap"))
    return shared.crossJoin(jrow).select(
        "source",
        "n_docs",
        "chars",
        F.round(alloc, ROUND).alias("alloc_chars"),
        F.round(alloc / F.col("chars"), ROUND).alias("epochs"),
    )


# ----------------------------------------------------------- winnowing
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
# the MOSS code-plagiarism kernel; public algorithm): hash every K-token
# gram, then slide a window of WNW_W consecutive gram hashes and keep each
# window's MINIMUM — the guarantee is that any shared substring of at
# least K + WNW_W - 1 tokens contributes at least one IDENTICAL selected
# fingerprint in both documents, while only ~2/(WNW_W+1) of the gram
# hashes are kept.  Emitted as the per-doc fingerprint multiset
# (fingerprint value + number of windows selecting it), the join-ready
# form for a fingerprint-index equi-join.
#
# Scale shape: the one shuffle is the doc-keyed token explode the wins
# machinery already pays; both the gram hash and the winnow min are
# doc-partitioned window frames (never a global sort), and the final
# count is a combiner-friendly hash agg on (doc_id, fp).  The gram hash
# is the portable md5-prefix long (Spark conv == DuckDB '0x'-cast) so
# both engines derive fingerprints independently from the raw text.
WNW_K = 5  # tokens per gram
WNW_W = 4  # gram hashes per winnow window


@query(
    "winnow_fingerprints",
    oracle=f"""
    with kg as (
      select doc_id, pos, ('0x' || substr(md5(win), 1, 15))::BIGINT as h
      from ({sql_wins(WNW_K)})
    ),
    wn as (
      select doc_id,
             min(h) over (partition by doc_id order by pos
                          rows between current row and {WNW_W - 1} following) as fp,
             count(*) over (partition by doc_id order by pos
                            rows between current row and {WNW_W - 1} following) as n
      from kg
    )
    select doc_id, fp, count(*)::BIGINT as n_windows
    from wn where n = {WNW_W}
    group by doc_id, fp
    """,
)
def winnow_fingerprints(spark, sf_dir):
    """Per-doc winnowing fingerprints: (doc_id, fp, n_windows)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    kg = wins_df(docs, WNW_K).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("win"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    frame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WNW_W - 1)
    wn = kg.select(
        "doc_id",
        F.min("h").over(frame).alias("fp"),
        F.count("h").over(frame).alias("n"),
    ).where(F.col("n") == WNW_W)
    return wn.groupBy("doc_id", "fp").agg(F.count(F.lit(1)).alias("n_windows"))


# Fingerprint-index near-dup pairs — winnowing's actual use (MOSS): an
# equi-join on the selected fingerprints proposes pairs, the shared count
# scores them.  By the winnowing guarantee, any pair sharing a token run
# of length >= WNW_K + WNW_W - 1 collides on at least one fingerprint, so
# recall over "share >= MIN_SHARED windows of common text" is structural
# — FOR FINGERPRINTS UNDER THE POSTING CAP.  Hot fingerprints
# (boilerplate grams selected by > WNW_MAX_POSTING docs) are dropped from
# BOTH sides before the join, so a pair whose every shared fingerprint is
# boilerplate-hot IS missed; the drop is therefore recorded + logged per
# run (valvemetrics "winnow_hot_posting": rows, keys, fraction) instead
# of being silent.  The cap is the standard posting-list bound on the
# self-join fan-out: at web scale candidate volume is sum(posting^2) and
# the cap makes every term's contribution O(cap^2).  One fp-keyed shuffle
# for the join, one hash agg per pair; the shared CTE text keeps Spark
# and DuckDB in lock-step.
WNW_MAX_POSTING = 50
WNW_MIN_SHARED = 10

_SQL_WNW_FPS = f"""
    kg as (
      select doc_id, pos, ('0x' || substr(md5(win), 1, 15))::BIGINT as h
      from ({{wins}})
    ),
    wn as (
      select doc_id,
             min(h) over (partition by doc_id order by pos
                          rows between current row and {WNW_W - 1} following) as fp,
             count(*) over (partition by doc_id order by pos
                            rows between current row and {WNW_W - 1} following) as n
      from kg
    ),
    fps as (select doc_id, fp from wn where n = {WNW_W} group by doc_id, fp),
    hot as (select fp from fps group by fp having count(*) > {WNW_MAX_POSTING}),
    kept as (select * from fps anti join hot using (fp))
"""


@query(
    "winnow_near_dup_pairs",
    oracle=f"""
    with {_SQL_WNW_FPS.format(wins=sql_wins(WNW_K))},
    sizes as (select doc_id, count(*)::BIGINT as sz from kept group by doc_id),
    pairs as (
      select a.doc_id as doc_a, b.doc_id as doc_b, count(*)::BIGINT as shared
      from kept a join kept b on a.fp = b.fp and a.doc_id < b.doc_id
      group by 1, 2
    )
    select doc_a, doc_b, shared,
           round(shared::DOUBLE / (sa.sz + sb.sz - shared), {ROUND}) as fp_jaccard
    from pairs join sizes sa on sa.doc_id = doc_a join sizes sb on sb.doc_id = doc_b
    where shared >= {WNW_MIN_SHARED}
    """,
)
def winnow_near_dup_pairs(spark, sf_dir):
    """Near-dup pairs from the winnowing fingerprint index."""
    fps = winnow_fingerprints(spark, sf_dir).select("doc_id", "fp")
    # observable hot-posting valve (valvemetrics): dropped fingerprint
    # rows/keys are recorded + logged, since dropping them is exactly
    # where the structural recall guarantee gives way to the cap.
    kept = tracked_cache(drop_hot_keys(fps, ["fp"], WNW_MAX_POSTING, "winnow_hot_posting"))
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        block_pairs(kept, "doc_id", ["fp"], "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= WNW_MIN_SHARED)
    )
    shared = F.col("shared")
    jac = shared.cast("double") / (F.col("sz_a") + F.col("sz_b") - shared)
    return sides(pairs, sizes, "doc_id", "doc_a", "doc_b", ("sz",)).select(
        "doc_a", "doc_b", "shared", F.round(jac, ROUND).alias("fp_jaccard")
    )


# --- segment-level dedup rewrite (CCNet / RefinedWeb line dedup) ---------
#
# Wenzek et al. 2020 (CCNet) dedupe web text at the *line* level before any
# document-level pass; RefinedWeb/FineWeb keep the first occurrence of a
# duplicated line and cut the rest.  The synthetic corpus has no newlines,
# so the segmentation knob here is a fixed SEG_L-token chunking — on a real
# corpus the only change is the splitter (split(text, '\n') instead of the
# token chunker); everything downstream (global frequency, first-holder
# keep, order-preserving reassembly) is segmentation-agnostic.

SEG_L = 8  # tokens per segment (the "line" proxy for the newline-free corpus)


@query(
    "segment_dedup",
    oracle=rf"""
    with t as ({_SQL_TOKS}),
    segs as (
      select doc_id,
             unnest(range(cast(ceil(len(ts) / {SEG_L}.0) as BIGINT))) as seg,
             unnest(list_transform(range(cast(ceil(len(ts) / {SEG_L}.0) as BIGINT)),
                                   i -> array_to_string(ts[i*{SEG_L}+1 : i*{SEG_L}+{SEG_L}], ' '))) as s
      from t
    ),
    dup as (
      select s, min(doc_id) as holder
      from segs group by s having count(distinct doc_id) >= 2
    ),
    flagged as (
      select segs.doc_id, segs.seg, segs.s,
             (dup.s is null or segs.doc_id = dup.holder) as keep
      from segs left join dup on segs.s = dup.s
    ),
    agg as (
      select doc_id, count(*)::BIGINT as n_seg,
             count(case when keep then 1 end)::BIGINT as n_kept,
             coalesce(string_agg(case when keep then s end, ' ' order by seg), '') as text_clean
      from flagged group by doc_id
    )
    select d.doc_id,
           coalesce(a.n_seg, 0)::BIGINT as n_seg,
           coalesce(a.n_kept, 0)::BIGINT as n_kept,
           coalesce(a.text_clean, '') as text_clean,
           round(case when coalesce(a.n_seg, 0) = 0 then 0.0
                      else (a.n_seg - a.n_kept)::DOUBLE / a.n_seg end, {ROUND}) as drop_frac
    from documents d left join agg a using (doc_id)
    """,
)
def segment_dedup(spark, sf_dir):
    """Corpus REWRITE by segment-level dedup: drop every occurrence of a
    globally-duplicated SEG_L-token segment except the one in its
    first-holder document (min doc_id), then reassemble each document's
    surviving segments in order.  This is the line-level dedup step of
    CCNet (Wenzek et al. 2020) / RefinedWeb with the first-occurrence
    keep policy, over the fixed-chunk segmentation documented above.
    Output: one verdict+rewrite row per document
    (doc_id, n_seg, n_kept, text_clean, drop_frac).

    Distinct from ``substring_dup_spans``: that op *detects* shared
    sliding windows between document pairs; this one *rewrites* the
    corpus against the global segment frequency table.

    Plan shape (100 TB): the segment TEXT never leaves its map stage.
    The exploded stream carries only fixed-width (doc_id, seg,
    xxhash64(segment)) rows — the segment string is hashed inside the
    transform lambda and discarded (the curation-family lesson: string
    streams through an exchange are the shared-heap wall; MEASURED at
    300k docs, carrying strings + a segs cache ran 37.8 s / paired eff
    0.23 at local[8] vs 16.5 s / 0.67 for this layout — the residual
    sub-0.8 leg is the rewrite OUTPUT itself, corpus-sized string
    construction in one shared heap, attributed per-stage in
    BENCH_SCALING_SEGDEDUP_STAGES.json).  Then: (1)
    hash-agg min(doc_id)/distinct-count per h with map-side partial agg
    — the dup table that survives the HAVING is the duplicated-segment
    set only, so AQE broadcasts the join back on any realistic dup
    fraction; (2) only the DROPPED occurrences (doc != holder) — the
    duplicated tail, a small fraction of any real corpus — reach the
    doc-keyed collect_set(seg) agg of INTEGER indices; (3) one doc-level
    join of that drop-list back onto documents, where a map-local
    transform re-slices the token array and concat_ws skips the dropped
    chunks (contiguous chunks, so each token lands in exactly ONE
    segment and the HOF pass is O(tokens) total; the quadratic
    re-evaluation trap of per-element slicing does not apply).  Nothing
    corpus-sized is shuffled or rides the driver.  The oracle groups by
    the raw segment STRING while Spark groups by xxhash64 — an
    independent derivation the hashed grouping must reproduce.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = _ts(docs)  # (doc_id, ts) token arrays
    n_seg_expr = F.when(
        F.size("ts") > 0, F.ceil(F.size("ts") / F.lit(float(SEG_L))).cast("int")
    ).otherwise(F.lit(0))
    # fixed-width segment stream: the segment string exists only inside
    # the lambda, as the xxhash64 argument
    segsh = base.where(F.size("ts") > 0).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_seg_expr - 1),
                lambda i: F.struct(
                    i.alias("seg"),
                    F.xxhash64(F.array_join(F.slice("ts", i * SEG_L + 1, SEG_L), " ")).alias("h"),
                ),
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.seg").alias("seg"), F.col("x.h").alias("h"))
    dup = (
        segsh.groupBy("h")
        .agg(F.min("doc_id").alias("holder"), F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("h", "holder")
    )
    dropped = (
        segsh.join(dup, "h")
        .where(F.col("doc_id") != F.col("holder"))
        .groupBy("doc_id")
        .agg(F.collect_set("seg").alias("drop_segs"))
    )
    n_kept = (F.col("n_seg") - F.coalesce(F.size("drop_segs"), F.lit(0))).cast("long")
    rebuilt = F.when(F.col("n_seg") == 0, F.lit("")).otherwise(
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.col("n_seg"), F.lit(1)) - 1),
                lambda i: F.when(
                    F.coalesce(F.array_contains("drop_segs", i), F.lit(False)),
                    F.lit(None).cast("string"),
                ).otherwise(F.array_join(F.slice("ts", i * SEG_L + 1, SEG_L), " ")),
            ),
        )
    )
    return (
        base.withColumn("n_seg", n_seg_expr)
        .join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_seg").cast("long").alias("n_seg"),
            n_kept.alias("n_kept"),
            rebuilt.alias("text_clean"),
            F.round(
                F.when(F.col("n_seg") == 0, F.lit(0.0)).otherwise(
                    (F.col("n_seg") - n_kept).cast("double") / F.col("n_seg")
                ),
                ROUND,
            ).alias("drop_frac"),
        )
    )
