"""Scalar / column expression helpers (SURVEY.md §2.8).

Everything here returns Column expressions built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen friendly; no
Python UDFs in the hot path.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F


def case_map(col: Column | str, mapping: Mapping[object, object]) -> Column:
    """Searched CASE without ELSE: unmatched values map to NULL.

    Reference-parity: the HotelRating word→int map (reference
    main.py:23-29) has no ELSE branch, so unknown words yield NULL and
    are silently dropped by AVG (main.py:38).  Spark's `F.when` chain
    without `.otherwise` reproduces that exactly.
    """
    col = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for key, value in mapping.items():
        cond = col == F.lit(key)
        expr = F.when(cond, F.lit(value)) if expr is None else expr.when(cond, F.lit(value))
    if expr is None:
        raise ValueError("case_map requires a non-empty mapping")
    return expr


def token_count(col: Column | str, sep: str = ",") -> Column:
    """# of sep-separated tokens via the LENGTH/REPLACE idiom.

    Reference-parity: ``LENGTH(x) - LENGTH(REPLACE(x, ',', '')) + 1``
    (reference main.py:116).  Equals ``F.size(F.split(col, sep))`` when
    there are no empty tokens; we keep the arithmetic form so the DuckDB
    oracle is the literal same expression.
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.length(col) - F.length(F.regexp_replace(col, sep, "")) + F.lit(1)


def tokens(col: Column | str, sep: str = " ", lowercase: bool = True) -> Column:
    """Split into a token array (optionally lower-cased first)."""
    col = F.col(col) if isinstance(col, str) else col
    if lowercase:
        col = F.lower(col)
    return F.split(col, sep)


def word_shingles(tokens_col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a token array.

    Used by n-gram Jaccard and MinHash dedup (SURVEY.md §2.11 X2).
    Documents shorter than k tokens collapse to a single whole-text
    shingle (guards against Spark's descending `sequence(1, n)` when
    n < 1).
    """
    shingled = F.transform(
        F.sequence(F.lit(1), F.size(tokens_col) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(tokens_col, i, k)),
    )
    whole = F.array(F.concat_ws(" ", tokens_col))
    return F.array_distinct(F.when(F.size(tokens_col) >= k, shingled).otherwise(whole))


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard similarity of two array columns (as double)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric array columns (JVM-side fold).

    Elements are cast to double BEFORE the multiply: the fold's 0.0
    accumulator only promotes the running sum, not the per-element
    product, so integer element types (e.g. the int8-quantized vectors)
    would otherwise overflow under ANSI arithmetic (-22S * -22S > 127).
    For double arrays the cast is a no-op Catalyst simplifies away.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm of a numeric array column (double math per
    element — see :func:`dot` for why the cast precedes the square)."""
    x2 = lambda acc, x: acc + x.cast("double") * x.cast("double")  # noqa: E731
    return F.sqrt(F.aggregate(a, F.lit(0.0), x2))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity, computed as dot/(|a|*|b|).

    The (sqrt(na)*sqrt(nb)) association matches DuckDB's
    list_cosine_similarity, so oracle comparisons agree to the last ulp
    before rounding.
    """
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def minhash_signature(shingles_col: Column, num_hashes: int = 16) -> Column:
    """Array of `num_hashes` MinHash values over a shingle array.

    Hash family: xxhash64(shingle || '#i') for i in 0..num_hashes-1 —
    deterministic, JVM-side, no UDF.  Empty shingle arrays yield NULL
    mins; callers should filter empty docs first.

    Built as ONE nested higher-order expression (outer transform over
    the hash index, inner over the shingles).  A Python loop of
    num_hashes separate expressions inlines the shingle subtree into
    every one of them after projection collapse — observed to
    recompute shingles hundreds of times per row.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                shingles_col,
                lambda s: F.xxhash64(F.concat(s, F.lit("#"), i.cast("string"))),
            )
        ),
    )


def band_hashes(signature_col: Column, num_bands: int, rows_per_band: int) -> Column:
    """LSH band hashes: array of num_bands hashes of signature slices
    (single nested expression — see minhash_signature)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(signature_col, b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
        ),
    )
