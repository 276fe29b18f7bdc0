"""Text / hashing column functions for the LLM-data pipeline operators.

Every function here is a pure ``Column -> Column`` built from JVM-side
Spark SQL builtins (no Python UDFs in the hot path).  The hash family is
md5-based so the DuckDB oracle can reproduce it bit-for-bit: both engines
produce identical lowercase md5 hex, and identical hex→int conversion
(verified: ``conv(substr(md5(x),1,7),16,10)`` ≡ DuckDB char-fold).

Shared constants (minhash permutations, LSH banding shape, hyperplanes,
stopword sets) are generated from a fixed LCG so the Spark plan and the
oracle SQL are built from the same numbers.

Scale notes (100 TB): everything is per-row array math — embarrassingly
parallel, no shuffle.  The only shuffles in the dedup pipeline are the
band-bucket groupBy and the pair-join, both keyed on short hash strings
with near-uniform distribution (md5), so no skew salting is needed; a
bucket-size cap guards the degenerate case (e.g. empty/boilerplate docs
all hashing together).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shared constants (fixed seed → identical in Spark plan and oracle SQL)
# ---------------------------------------------------------------------------

MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime modulus for minhash perms
N_PERMS = 16
LSH_BANDS = 4
LSH_ROWS = 4  # N_PERMS = LSH_BANDS * LSH_ROWS
N_HYPERPLANES = 8
EMBED_DIM = 64
SHINGLE_K = 3
BUCKET_CAP = 64  # LSH skew guard: ignore degenerate buckets larger than this
#: SemDeDup skew guard: cells larger than this are excluded from the
#: within-cell pair scoring (members all kept, drop is reported by
#: ``semantic_cell_stats``).  A cell of size m lands on ONE task of the
#: cell equi-join and produces m²/2 pair rows there, so the practical
#: single-task bound — not the LSH BUCKET_CAP of 64, because IVF cells
#: are coarse (n / n_centroids each) where LSH buckets are numerous.
#: At 10k the worst task scores 5·10^7 pairs, minutes not days; a
#: boilerplate mega-cell on a 100 TB corpus (10^9 rows → 10^18 pairs)
#: is the degenerate case this bounds.
SEM_CELL_CAP = 10_000
SIMHASH_BITS = 32


def _lcg_stream(seed: int):
    s = seed
    while True:
        s = (1103515245 * s + 12345) % (1 << 31)
        yield s


_g = _lcg_stream(42)
#: (a, b) pairs for h_i(x) = (a*x + b) mod MERSENNE31, a ∈ [1, P-1]
PERMS: list[tuple[int, int]] = [
    ((next(_g) % (MERSENNE31 - 1)) + 1, next(_g) % MERSENNE31)
    for _ in range(N_PERMS)
]
#: 8 random hyperplanes in [-1, 1)^64 for sign-LSH over embeddings
HYPERPLANES: list[list[float]] = [
    [(next(_g) / (1 << 31)) * 2.0 - 1.0 for _ in range(EMBED_DIM)]
    for _ in range(N_HYPERPLANES)
]

# Wider signature for the banded embedding-LSH path.  Sizing rule: with
# B bands of R planes each, bucket count per band is 2^R and a pair
# whose signs agree with probability p survives banding with
# 1-(1-p^R)^B; R bounds expected bucket size at ~n/2^R, so pick
# R ≈ log2(n / target_bucket_size) and add bands to recover recall.
# Separate LCG seed: extending the seed-42 stream would silently change
# every constant derived after HYPERPLANES above.
N_PLANES_WIDE = 24
EMB_BANDS = 3  # 3 bands × 8 planes = 24-bit total signature
_gw = _lcg_stream(777)
HYPERPLANES_WIDE: list[list[float]] = [
    [(next(_gw) / (1 << 31)) * 2.0 - 1.0 for _ in range(EMBED_DIM)]
    for _ in range(N_PLANES_WIDE)
]

#: tiny per-language stopword sets for the n-gram/stopword lang-id heuristic
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "auf", "zu"],
    "fr": ["le", "les", "et", "est", "une", "dans", "pour", "que", "pas", "sur"],
    "es": ["el", "los", "y", "en", "un", "es", "por", "con", "del", "las"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break priority

#: GPT-2-ish BPE pre-tokenizer approximation (shared regex, RE2-safe)
BPE_REGEX = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"


# ---------------------------------------------------------------------------
# Tokenization / shingling
# ---------------------------------------------------------------------------

def tokens(col: Column | str) -> Column:
    """Lowercase word tokens (split on non-alphanumeric runs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def shingles(toks: Column, k: int = SHINGLE_K) -> Column:
    """k-word shingles joined by single spaces; [] when fewer than k tokens.

    Guarded because Spark's ``sequence(1, 0)`` counts DOWN instead of
    producing an empty array.
    """
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# md5-derived integer hashes (oracle-reproducible)
# ---------------------------------------------------------------------------

def hash32(col: Column) -> Column:
    """~28-bit integer hash: first 7 hex digits of md5, as long."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def md5_long(col: Column, start: int, length: int) -> Column:
    """Integer value of md5 hex digits [start, start+length), 1-based.

    ``length`` <= 15 keeps the value inside the positive signed-long
    range in both Spark and DuckDB (16 digits could reach 2^64-1).
    ``md5_long(c, 1, 7)`` == ``hash32(c)``; the 64-bit SimHash uses the
    (1,8) and (9,8) halves for two independent 32-bit token hashes.
    """
    if not 1 <= length <= 15:
        raise ValueError("md5_long length must be in [1, 15]")
    return F.conv(
        F.substring(F.md5(col), start, length), 16, 10
    ).cast("long")


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(F.regexp_replace(F.lower(c), "\\s+", " ")))


# ---------------------------------------------------------------------------
# MinHash + banding
# ---------------------------------------------------------------------------

def _perm_min(hashes: Column, a: int, b: int) -> Column:
    # separate factory: PySpark introspects lambda arity, so default-arg
    # closures (lambda x, a=a: ...) mis-parse as multi-arg lambdas
    def h(x: Column) -> Column:
        return (F.lit(a) * x + F.lit(b)) % F.lit(MERSENNE31)

    return F.array_min(F.transform(hashes, h))


def minhash_signature(shingle_hashes: Column) -> Column:
    """Array of N_PERMS minhash values over a (possibly empty) hash array."""
    return F.array(*[_perm_min(shingle_hashes, a, b) for a, b in PERMS])


# ---------------------------------------------------------------------------
# SimHash (32-bit, over token hashes)
# ---------------------------------------------------------------------------

def _bit_sum(token_hashes: Column, b: int) -> Column:
    def merge(acc: Column, x: Column) -> Column:
        return acc + F.when(
            F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    return F.aggregate(token_hashes, F.lit(0).cast("long"), merge)


def simhash32(token_hashes: Column) -> Column:
    """32-bit simhash: bit b set iff Σ ±1 over token-hash bit b is ≥ 0.

    Empty inputs yield sum 0 for every bit → all bits set (0xFFFFFFFF);
    callers should pre-filter empty docs (the oracle SQL does the same).
    """
    val = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        val = val + F.when(
            _bit_sum(token_hashes, b) >= 0, F.lit(2**b).cast("long")
        ).otherwise(0)
    return val


# ---------------------------------------------------------------------------
# Stopword / lang-id / quality columns
# ---------------------------------------------------------------------------

def stopword_hits(toks: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def lang_id_from_hits(hits: dict[str, Column]) -> Column:
    """Argmax over PRE-COMPUTED per-lang hit counts with LANG_ORDER
    tie-break; 'und' if no hits.  The cascade references each count up
    to len(LANG_ORDER) times, so callers should pass MATERIALIZED
    columns — interpreted filter-HOF counts composed in here would
    re-evaluate (tokens included) once per reference.

    Cascade: branch i fires iff hits[i] > 0 and hits[i] >= every LATER
    lang — correct because if an earlier lang beat it, that earlier
    branch would have fired first.
    """
    expr = None
    for i, lang in enumerate(LANG_ORDER):
        cond = hits[lang] > 0
        for other in LANG_ORDER[i + 1:]:
            cond = cond & (hits[lang] >= hits[other])
        expr = (
            F.when(cond, F.lit(lang))
            if expr is None
            else expr.when(cond, F.lit(lang))
        )
    return expr.otherwise(F.lit("und"))


def lang_id(toks: Column) -> Column:
    """Convenience one-expression form — see ``lang_id_from_hits`` for
    the staged version hot paths should prefer."""
    return lang_id_from_hits(
        {lang: stopword_hits(toks, lang) for lang in LANG_ORDER}
    )


def bpe_token_estimate(col: Column | str) -> Column:
    """BPE-ish token count: matches of the shared pre-tokenizer regex."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(BPE_REGEX))
