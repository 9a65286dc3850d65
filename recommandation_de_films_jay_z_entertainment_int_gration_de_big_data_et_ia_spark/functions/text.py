"""Text column-expression library — tokenize / shingle / hash / stats.

All functions return Column expressions built from JVM-side built-ins
(whole-stage-codegen friendly; zero Python UDFs) and are specified so the
exact same computation is expressible in ANSI SQL for the DuckDB oracle:

- normalization: lowercase, non-alphanumerics → space, trim
- tokens: split normalized text on whitespace runs
- hashing: md5 hex strings (identical across engines), never engine-native
  ``hash()`` (Spark murmur3 ≠ DuckDB's hash)

These are the building blocks for the search operators (SURVEY §2.8) and
the dedup/fingerprint extensions. Each rule's DuckDB SQL twin
(``NORM_SQL``, ``TOKS_SQL``, ``SHINGLES_SQL``, ``STOP_SQL``,
``MD5_SPLIT_BUCKET_SQL``, ``SPLIT_SQL``) is defined next to it, and the catalog's
oracles use these names instead of spelling the SQL again.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword list used by language-ID and quality scoring.
# Fixed and public-domain; STOP_SQL is its oracle literal.
STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")
STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def normalize_text(col: Column | str) -> Column:
    """lower + collapse non-alphanumerics to single spaces + trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def norm_sql(col: str = "text") -> str:
    """DuckDB twin of ``normalize_text`` (its regexp_replace needs 'g')."""
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"


def toks_sql(col: str = "text") -> str:
    """DuckDB twin of ``tokens``."""
    return f"regexp_split_to_array({norm_sql(col)}, ' +')"


NORM_SQL, TOKS_SQL = norm_sql(), toks_sql()


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>).

    NB: an empty/punctuation-only input normalizes to '' and splits to
    [''] — one empty token, not an empty array (so such rows contribute
    dl=1 and '' to BM25 vocabularies). The DuckDB oracle's
    regexp_split_to_array does the same, so parity holds; do not filter
    one side without the other."""
    return F.split(normalize_text(col), r" +")


def distinct_tokens_sorted(col: Column | str) -> Column:
    return F.array_sort(F.array_distinct(tokens(col)))


def word_shingles(tok: Column, n: int) -> Column:
    """n-gram word shingles: space-joined windows of ``n`` consecutive tokens.

    SQL twin: ``word_shingles_sql(n)``. Documents shorter than ``n``
    tokens yield a single shingle of the whole text.
    """
    idx = F.sequence(F.lit(1), F.greatest(F.size(tok) - F.lit(n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok, i, n)))


def word_shingles_sql(n: int) -> str:
    """DuckDB twin of ``word_shingles(tk, n)`` over a token array ``tk``."""
    return (
        f"list_transform(range(1, greatest(len(tk)-{n - 1}, 1)+1),"
        f" i -> array_to_string(tk[i:i+{n - 1}], ' '))"
    )


# The dedup family's distinct 3-word shingles.
SHINGLES_SQL = f"list_distinct({word_shingles_sql(3)})"


def md5_hex(col: Column) -> Column:
    """Portable content hash (md5 hex string — identical in DuckDB)."""
    return F.md5(col)


def md5_split_bucket() -> Column:
    """``doc_id``'s hash-split bucket in 0..255: the first two hex digits
    of ``md5(doc_id)`` as ``h1 * 16 + h2``. SQL twin:
    ``MD5_SPLIT_BUCKET_SQL``."""
    hexd = "0123456789abcdef"
    h1 = F.instr(F.lit(hexd), F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) - 1
    h2 = F.instr(F.lit(hexd), F.substring(F.md5(F.col("doc_id").cast("string")), 2, 1)) - 1
    return h1.cast("bigint") * 16 + h2.cast("bigint")


MD5_SPLIT_BUCKET_SQL = (
    "CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) * 16"
    " + CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT)"
)


def md5_split(h: Column) -> Column:
    """The 80/10/10 train/val/test split of a 0..255 hash bucket ``h``
    (``md5_split_bucket``): 204, 26 and 26 of the 256 buckets. SQL twin:
    ``SPLIT_SQL``."""
    return F.when(h < 204, "train").when(h < 230, "val").otherwise("test")


SPLIT_SQL = "CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val' ELSE 'test' END"


def md5_hex_int_sql(expr: str, digits: int) -> str:
    """DuckDB SQL: the first ``digits`` hex digits of ``md5(expr)`` read
    as an integer in ``0 .. 16 ** digits - 1``, parenthesized."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1) * {16 ** (digits - 1 - i)}"
        for i in range(digits)) + ")"


def minhash_band_keys(shingles: Column, num_hashes: int, bands: int) -> Column:
    """Array of ``bands`` LSH band keys (concatenated MinHash signature rows).

    The signature is ``num_hashes`` hex-string minima. Permutation *i* is
    simulated by hashing ``'i|shingle'`` with md5 and taking the
    lexicographic minimum — a standard min-wise scheme that is exactly
    reproducible in SQL. Lexicographic min over uniformly distributed hex
    strings is equivalent to numeric min over the hashes.

    Hash family: permutation i = chunk ``i % 4`` (8 hex chars) of
    ``md5(str(i // 4) + '|' + shingle)`` — 4 independent 32-bit hashes per
    md5, so only ``ceil(num_hashes / 4)`` md5 evaluations per shingle,
    folded to elementwise minima in a single traversal (one transform+min
    per hash function would cost ``num_hashes`` md5 per shingle — ~3×
    slower, measured at sf0.1).

    SQL mirror (per i): ``list_sort(list_transform(sh, s ->
    substr(md5('<i//4>|' || s), <(i%4)*8 + 1>, 8)))[1]``.

    Keys are built inside the signature fold's ``finish`` lambda so the
    signature accumulator is bound ONCE — extracting keys from a separate
    signature column would re-inline (and re-evaluate) the whole fold per
    key under projection collapsing.
    """
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    n_md5 = (num_hashes + 3) // 4

    def _chunks(s: Column) -> Column:
        hashes = [F.md5(F.concat(F.lit(f"{k}|"), s)) for k in range(n_md5)]
        return F.array(
            *[F.substring(hashes[i // 4], (i % 4) * 8 + 1, 8) for i in range(num_hashes)]
        )

    def _keys(acc: Column) -> Column:
        return F.array(
            *[
                F.concat(*[F.element_at(acc, b * rows + r + 1) for r in range(rows)])
                for b in range(bands)
            ]
        )

    return F.aggregate(
        F.transform(shingles, _chunks),
        F.array_repeat(F.lit("~"), num_hashes),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
        _keys,
    )


def simhash_hex(tok: Column, bits: int = 16) -> Column:
    """A 16-digit hex-char SimHash variant, portable to SQL.

    Spec (ours, deterministic): for each of the first ``bits`` hex positions
    p (1-based) of md5(token), a token votes +1 if the digit at p is >= '8'
    in byte order (top bit of the nibble set — '8'..'9','a'..'f') else -1,
    weighted by the token's count. Fingerprint bit p = 1 iff the vote sum is
    positive. Returned as a ``bits``-char '0'/'1' string.

    One md5 per token (hashes materialized first, then all ``bits`` vote
    positions folded in a single traversal — versus one aggregate per bit,
    which recomputes md5 ``bits`` times per token).
    """
    hashes = F.transform(tok, lambda t: F.md5(t))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(F.sequence(F.lit(1), F.lit(bits)), lambda p: F.substring(h, p, 1)),
            lambda a, d: a + F.when(d >= F.lit("8"), F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.concat_ws(
        "", F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0")))
    )
