"""Engine-portable native Column expressions.

``portable_hash32`` is the cross-engine deterministic hash used by dedup /
minhash / split operators: first 8 hex chars of md5 as an unsigned 32-bit
int. Identical in Spark (``conv(substr(md5(x),1,8),16,10)``) and DuckDB
(``cast('0x'||substr(md5(x),1,8) as ubigint)``), unlike xxhash64/hash()
whose seeds differ between engines. At 100 TB scale md5 is ~GB/s/core and
only applied to short keys (tokens/shingles), so it never dominates a scan.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def portable_hash32(col: Column | str, salt: str = "") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(c.cast("string"), F.lit(salt))
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint")


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """A 0-row frame with DDL ``schema`` ("name type, ..."), planned on the
    JVM. An empty list- or pandas-built frame is a Python RDD (``Scan
    ExistingRDD``) and wakes Python workers on every action."""
    fields = (f.split(" ") for f in schema.split(", "))
    return spark.range(0).select(*[F.lit(None).cast(t).alias(n) for n, t in fields])


def bind_once(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``v`` a lambda variable holding ``value``, evaluated
    ONCE per row (transform over a one-element array). Higher-order-function
    lambdas run interpreted, with no common-subexpression elimination, so an
    expensive array referenced several times inside a lambda body — or
    pasted into a Filter by predicate pushdown when it is exposed as a named
    column — is recomputed at every reference; a lambda variable is not."""
    return F.element_at(F.transform(F.array(value), body), 1)


def norm_basic_col(c: Column | str) -> Column:
    """F1: lower, trim, ё→е (ref infer.py:40-43) as a native expression."""
    c = F.col(c) if isinstance(c, str) else c
    return F.translate(F.lower(F.trim(c)), "ё", "е")


def lex_norm_col(c: Column | str) -> Column:
    """F3: norm_basic + strip non-alnum (ref infer.py:56-59)."""
    return F.regexp_replace(norm_basic_col(c), "[^0-9a-zA-Zа-я]+", "")


def simple_tokens_col(c: Column | str, sep: str = " ") -> Column:
    """Whitespace tokens with empties removed (portable vs DuckDB
    string_split + list filtering)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(c, sep), lambda t: t != "")


def cosine_similarity_col(a: Column, b: Column) -> Column:
    """Native cosine over two array<float/double> columns via zip_with +
    aggregate — no UDF. HOF lambdas are interpreted (not codegen'd), but
    an A/B against a fully unrolled element_at chain showed the unrolled
    form LOSES end to end (1.2 s of driver plan analysis for the 576-term
    tree + a slower run vs 0.55 s total for this form at sf1.0): the r8
    cost attributed to the lambdas was really the unsplittable-scan
    bottleneck, fixed by functions/scan.scan_parallel in the callers."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v))
    return dot / (na * nb)
