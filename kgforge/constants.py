"""Single source of truth for every tunable the pipeline AND the pandas
oracle twin share (SURVEY.md §7.2 hard-part (c): twin and pipeline must use
the exact same lexer/threshold constants or P/R drifts).

Everything is deterministic: ids derive from content hashes, the embedder is
a seeded hashed-n-gram projection, and the LSH hyperplanes come from a fixed
RandomState.  Reference analogs cited per constant.
"""

from __future__ import annotations

import functools
import os

import numpy as np

# Committed data fixtures (ontology YAML, blacklist, JSONL sources) — one
# definition so every operator module resolves the same directory.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# ---------------------------------------------------------------- embedding
# Deterministic replacement for the reference's sentence embedder
# (/root/reference/search/bert_search.py:124-143 'all-mpnet-base-v2').
# A real MiniLM can be plugged in behind EMBED_BACKEND="minilm"; tests and
# CI always run the hash backend so no model weights are needed.
EMBED_DIM = 64
EMBED_SEED = 42
EMBED_NGRAM = 3          # char-trigram shingles of the entity name / text
EMBED_BACKEND = "hash"   # "hash" | "minilm" (gated import)

# ---------------------------------------------------------------- sign-LSH
# Random-hyperplane signatures for ANN blocking of the link self-join
# (replaces the reference's all-pairs cosine scan,
#  /root/reference/search/bert_search.py:176-181).
LSH_SEED = 1337
LSH_PLANES = 64          # total hyperplanes
LSH_BANDS = 16           # bands of LSH_PLANES // LSH_BANDS bits each
                         # (band-miss prob at cosine .8 ~ (1-.795^4)^16 ~ 3e-4,
                         #  chosen so candidate recall >= 0.99 at the link
                         #  threshold — SURVEY.md §7.2(e))
LSH_ROWS = LSH_PLANES // LSH_BANDS

# ---------------------------------------------------------------- linking
# Only naming-variant-prone entity kinds are linked.  Module entities are
# file-derived exact identifiers — linking them is semantically wrong AND
# quadratic (the module namespace grows with corpus size, so near-identical
# names like mod_1/mod_2 would flood every LSH bucket).
LINK_KINDS = ("class", "function")
LINK_THRESHOLD = 0.80    # cosine >= threshold => candidate same-entity edge
LINK_MAX_BUCKET = 10_000 # safety valve: skip degenerate LSH buckets larger
                         # than this (would blow up the pair join at scale)

# ---------------------------------------------------------------- chunking
# Paragraph chunker semantics (/root/reference/data/dart_papers.py:45-49):
# split on newline, drop whitespace-only chunks.
CHUNK_SPLIT = "\n"

# Doc-quality blacklist (/root/reference/experiments/uaz_documents_comparison.py:33-36):
# blacklisted iff len(text) < 500 or alpha-char count < 500.
QUALITY_MIN_LEN = 500
QUALITY_MIN_ALPHA = 500

# ---------------------------------------------------------------- mentions
# Per-language lexical extraction (north-star "tree-sitter-style" lexers).
# Kinds mirror FIXTURES.md §4.
MENTION_KINDS = ("module", "import", "class", "function", "call")

PY_IMPORT_RE = r"^\s*(?:from\s+([A-Za-z_][\w\.]*)\s+import|import\s+([A-Za-z_][\w\.]*))"
PY_CLASS_RE = r"^\s*class\s+([A-Za-z_]\w*)"
PY_DEF_RE = r"^\s*def\s+([A-Za-z_]\w*)"
PY_CALL_RE = r"\b([A-Za-z_]\w*)\s*\("
PY_KEYWORDS = frozenset(
    "if for while return def class import from print len range str int float "
    "list dict set tuple super self in not and or else elif try except with as "
    "lambda yield pass break continue None True False".split()
)

JS_IMPORT_RE = r"(?:require\(\s*['\"]([\w\./@-]+)['\"]\s*\)|import\s+.*?from\s+['\"]([\w\./@-]+)['\"])"
JS_CLASS_RE = r"\bclass\s+([A-Za-z_$][\w$]*)"
JS_FUNC_RE = r"\bfunction\s+([A-Za-z_$][\w$]*)|(?:const|let|var)\s+([A-Za-z_$][\w$]*)\s*=\s*(?:async\s*)?\("
JS_CALL_RE = r"\b([A-Za-z_$][\w$]*)\s*\("
JS_KEYWORDS = frozenset(
    "if for while return function class import from require const let var new "
    "typeof instanceof in of else try catch finally switch case async await "
    "console module exports export default null undefined true false".split()
)

# ---------------------------------------------------------------- predicates
PRED_IMPORTS = "imports"
PRED_DEFINES = "defines"
PRED_CALLS = "calls"
PRED_SAME_AS = "same_as"

# ---------------------------------------------------------------- documents-KG
# The driver `documents` table variant of the pipeline (SQL-oracle-checkable):
# concept dictionary over the synthetic vocabulary; a mention = token match
# (the retrieval-based mention detection of
#  /root/reference/experiments/uaz_documents_comparison.py:153-160 collapses
#  to exact token match under the deterministic embedder).
DOC_CONCEPTS = (
    "join", "filter", "window", "spark", "stream",
    "hash", "sort", "merge", "scan", "agg",
)
DOC_PAIR_MIN_COUNT = 2   # pair must co-occur in >= this many docs

# ---------------------------------------------------------------- misc
SHUFFLE_PARTITIONS = 32


def round_half_away(value: float, nd: int) -> float:
    """Round half AWAY from zero on the BINARY double value — this matches
    DuckDB's round() (which sees the stored binary double), NOT Spark's
    F.round: Spark goes through BigDecimal.valueOf(double), i.e. the
    shortest-decimal string, then HALF_UP, so e.g. 0.285 (stored as
    0.28499999...) rounds to 0.28 here and in DuckDB but to 0.29 in Spark.
    Use this in Python kernels whose output is compared against a DuckDB
    expression (operators/multimodal.py features); use ``round_like_spark``
    for values compared against Spark F.round output (oracle fixtures)."""
    import math

    return math.floor(value * 10**nd + 0.5) / 10**nd


def round_like_spark(value: float, nd: int) -> float:
    """Round matching Spark's F.round on doubles bit-for-bit: Spark rounds
    BigDecimal.valueOf(double) — the SHORTEST-DECIMAL representation
    (Double.toString) — with HALF_UP (away from zero).  Python's repr()
    produces the same shortest round-trip decimal string, so quantizing
    Decimal(repr(v)) with ROUND_HALF_UP reproduces it exactly, including
    the 0.285 -> 0.29 boundary where binary rounding says 0.28.  Fixture
    values are exact-compared against Spark F.round output by the driver,
    so fixture generation (oracle/fixtures.py) MUST use this path."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(value))).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)
    )


def lsh_hyperplanes(dim: int = EMBED_DIM, planes: int = LSH_PLANES, seed: int = LSH_SEED) -> np.ndarray:
    """Fixed random hyperplanes, identical across driver/executors/twin."""
    rs = np.random.RandomState(seed)
    return rs.standard_normal((planes, dim)).astype(np.float32)


@functools.lru_cache(maxsize=1 << 16)
def hash_token_vector(token: str, dim: int = EMBED_DIM, seed: int = EMBED_SEED) -> np.ndarray:
    """Deterministic unit-ish vector for one token: seeded by a stable string
    hash (NOT Python's salted hash()).  Shared by embedder and twin.

    Memoized (a RandomState per call dominated embedding short names); the
    cached vector is shared by every caller, so it is read-only."""
    import zlib

    h = zlib.crc32(token.encode("utf-8")) ^ seed
    rs = np.random.RandomState(h & 0x7FFFFFFF)
    vec = rs.standard_normal(dim).astype(np.float32)
    vec.flags.writeable = False
    return vec


def embed_text(text: str, dim: int = EMBED_DIM) -> np.ndarray:
    """Mean-pooled char-trigram hash embedding, L2-normalized.

    Deterministic analog of the reference's mean-pooled sentence embedding
    (/root/reference/search/bert_search.py:128-136 mean_pooling) — identical
    in the pipeline pandas UDF and the pandas twin because both call this.
    """
    s = f"^{text.lower()}$"
    grams = [s[i : i + EMBED_NGRAM] for i in range(max(1, len(s) - EMBED_NGRAM + 1))]
    vec = np.zeros(dim, dtype=np.float32)
    for g in grams:
        vec += hash_token_vector(g, dim)
    n = float(np.linalg.norm(vec))
    if n > 0:
        vec /= n
    return vec


def embed_batch(texts, dim: int = EMBED_DIM) -> np.ndarray:
    """Vectorized-ish batch embed (numpy loop over rows, no Spark imports)."""
    out = np.zeros((len(texts), dim), dtype=np.float32)
    for i, t in enumerate(texts):
        out[i] = embed_text(t, dim)
    return out


def lsh_signature(vecs: np.ndarray) -> np.ndarray:
    """[N, LSH_BANDS] int32 band signatures from sign bits."""
    planes = lsh_hyperplanes(vecs.shape[1])
    bits = (vecs @ planes.T) >= 0  # [N, LSH_PLANES]
    sigs = np.zeros((vecs.shape[0], LSH_BANDS), dtype=np.int32)
    for b in range(LSH_BANDS):
        for r in range(LSH_ROWS):
            sigs[:, b] = (sigs[:, b] << 1) | bits[:, b * LSH_ROWS + r].astype(np.int32)
    return sigs
