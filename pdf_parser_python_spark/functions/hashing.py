"""Pluggable 64-bit hashing for dedup/ANN operators.

Two families:

- :func:`xx64` — xxhash64, the production default (single JVM
  intrinsic, fastest at 100 TB);
- :func:`md5_64` — md5-derived 60-bit value reproducible in DuckDB 1.0
  (``('0x' || substr(md5(seed || ':' || x), 1, 15))::BIGINT``), used by
  the driver-contract queries so the dedup/ANN family gets hash-checked
  against a SQL oracle instead of rows-only. 15 hex digits = 60 bits,
  safely inside a signed int64 in both engines.

Each has a Column form (:func:`xx64`, :func:`md5_64`) and a Spark-SQL
form over SQL text (:func:`xx64_sql`, :func:`md5_64_sql`), as do their
multi-lane combiners; :func:`sql_forms` maps a hasher to its SQL forms
and refuses any other hasher.

Seeding is uniform: the seed is prefixed as ``"{seed}:"`` text so the
same construction works for seeded minhash permutations and unseeded
fingerprints (seed 0).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def xx64(col: Column, seed: int = 0) -> Column:
    return F.xxhash64(col, F.lit(seed))


def md5_64(col: Column, seed: int = 0) -> Column:
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


# ── Spark-SQL forms ──────────────────────────────────────────────────────
# The same expressions as SQL text over SQL text. An operator whose
# expression depends only on Python constants builds it as one string
# and hands it to ``selectExpr``/``F.expr``: PySpark wraps every Column
# method and ``F.*`` call in a call-site capture that costs about ten
# Python↔JVM round trips, while a whole SQL string costs about three.
# tests/test_hashing.py checks each SQL form equal to its Column form.


def xx64_sql(expr: str, seed: int = 0) -> str:
    """:func:`xx64` of the SQL expression ``expr``."""
    return f"xxhash64({expr}, {seed})"


def md5_64_sql(expr: str, seed: int = 0) -> str:
    """:func:`md5_64` of the SQL expression ``expr``."""
    return (f"CAST(conv(substring(md5(concat('{seed}:', {expr})), 1, 15),"
            f" 16, 10) AS BIGINT)")


def md5_64_duckdb(expr: str, seed: int | str = 0) -> str:
    """The DuckDB twin of :func:`md5_64`. ``seed`` may be an int or a
    SQL expression string (e.g. a lambda variable)."""
    seed_expr = f"'{seed}:'" if isinstance(seed, int) else f"({seed} || ':')"
    return f"('0x' || substr(md5({seed_expr} || ({expr})), 1, 15))::BIGINT"


# ── multi-value combiners ────────────────────────────────────────────────
# Hash a TUPLE of already-hashed 64-bit lanes (token hashes, signature
# rows) into one value. The xx64 combiner stays entirely on fixed-width
# long lanes — Spark's XxHash64 expression takes any number of child
# columns and folds them without materializing a string, which is what
# makes hash-shingling memory-bandwidth-cheap. The md5 combiner joins
# the decimal renderings with ':' (concat_ws SKIPS nulls, matching
# xxhash64's skip-null fold) so the DuckDB oracle can reproduce it with
# ``array_to_string``/'||'. Both agree with their single-value
# counterparts' seeding convention ("{seed}:" prefix / trailing seed
# lane).


def xx64_combine_sql(exprs: list[str], seed: int = 0) -> str:
    return f"xxhash64({', '.join(exprs)}, {seed})"


def md5_64_combine_sql(exprs: list[str], seed: int = 0) -> str:
    lanes = ", ".join(f"CAST({e} AS STRING)" for e in exprs)
    return md5_64_sql(f"concat_ws(':', {lanes})", seed)


def sql_forms(hasher):
    """``(one, combine)``: the SQL forms of a scalar ``hasher`` and of
    its multi-lane combiner."""
    if hasher is xx64:
        return xx64_sql, xx64_combine_sql
    if hasher is md5_64:
        return md5_64_sql, md5_64_combine_sql
    raise ValueError(
        f"hasher must be hashing.xx64 or hashing.md5_64, got {hasher!r}")
