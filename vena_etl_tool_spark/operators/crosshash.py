"""Cross-engine hashes: one contract for Spark and its DuckDB oracle.

Every oracle-backed near-dup, sampling, sketch and sharding query rests on
hashes that Spark and DuckDB must compute bit for bit. This module is the
only place that spells them; callers get Spark Columns, Spark SQL text or
DuckDB SQL text from it.

**md5 bridge.** Spark's ``xxhash64`` has no DuckDB twin, but ``md5`` is the
same lowercase hex string in both engines. ``md5_int(x, digits)`` reads the
first ``digits`` hex characters as an integer:

    Spark   conv(substr(md5(x), 1, d), 16, 10) cast to BIGINT
    DuckDB  ('0x' || substr(md5(x), 1, d))::BIGINT

A prefix of at most 15 hex digits is < 2^60, so it is a non-negative
BIGINT in both engines and needs no overflow handling. 16 digits would
not: half of those prefixes exceed 2^63 - 1, where DuckDB's hex cast
raises, Spark's cast raises under ANSI mode and returns NULL without it.
So ``digits`` must be 1–15, and any other value raises ``ValueError`` when
the query is built.

**md5 split rule.** The content-addressed train/val/test split reads the
first hex digit of ``md5(CAST(doc_id AS string))``: ``0``–``b`` train,
``c``/``d`` val, ``e``/``f`` test (75/12.5/12.5). It compares hex
characters, so it is the same in both engines.

**MinHash and banding.** A shingle hash ``h`` (``md5_int`` on the oracle
path, ``xxhash64`` at scale) is masked to ``h32 = h & 0x7FFFFFFF`` and
permuted ``N_MINHASH`` times as ``(a·h32 + b) mod MERSENNE``. With
``h32 < 2^31`` and ``a, b < MERSENNE = 2^31 - 1``, ``a·h32 + b < 2^62``:
it never wraps int64 in either engine. The signature splits into
``N_MINHASH / BAND_ROWS`` bands; a band's plain key is the string
``b:v0:v1:v2:v3``, rebuilt character for character by the DuckDB oracles.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# MinHash parameters: 32 permutations in 8 bands of 4 rows.
N_MINHASH = 32
BAND_ROWS = 4
N_BANDS = N_MINHASH // BAND_ROWS
MERSENNE = 2147483647  # 2^31 - 1
_H32_MASK = 0x7FFFFFFF
# Deterministic permutation coefficients (a*h32 + b) mod p — seeds fixed so
# signatures are stable across runs/executors.
PERM_A = [(17 + 13 * i) * 2654435761 % MERSENNE for i in range(N_MINHASH)]
PERM_B = [(31 + 7 * i) * 2246822519 % MERSENNE for i in range(N_MINHASH)]

_TRAIN_HEX = "0123456789ab"
_VAL_HEX = "cd"


def _check_digits(digits: int) -> int:
    if not 1 <= digits <= 15:
        raise ValueError(
            f"md5_int digits must be 1-15, got {digits}: 16 hex digits overflow"
            " a signed BIGINT, differently in Spark and DuckDB"
        )
    return digits


# --- md5 prefix -------------------------------------------------------------


def md5_prefix(x: Column, digits: int) -> Column:
    """The first ``digits`` hex characters of ``md5(x)``."""
    return F.substring(F.md5(x), 1, digits)


def sql_md5_prefix(x: str, digits: int) -> str:
    """SQL text for :func:`md5_prefix`, the same in Spark and DuckDB."""
    return f"substr(md5({x}), 1, {digits})"


def md5_int(x: Column, digits: int = 15) -> Column:
    """The md5 prefix of ``x`` as a non-negative BIGINT (60 bits by default)."""
    return F.conv(md5_prefix(x, _check_digits(digits)), 16, 10).cast("long")


def spark_md5_int(x: str, digits: int = 15) -> str:
    """Spark SQL text for :func:`md5_int` of the string expression ``x``."""
    return f"CAST(conv({sql_md5_prefix(x, _check_digits(digits))}, 16, 10) AS BIGINT)"


def duck_md5_int(x: str, digits: int = 15) -> str:
    """DuckDB SQL text for :func:`md5_int` of the string expression ``x``."""
    return f"(('0x' || {sql_md5_prefix(x, _check_digits(digits))})::BIGINT)"


# --- md5 first-hex split ----------------------------------------------------


def split_assign_col() -> Column:
    """The train/val/test split of ``doc_id`` as a Column."""
    first_hex = md5_prefix(F.col("doc_id").cast("string"), 1)
    return (
        F.when(first_hex.isin(*_TRAIN_HEX), "train")
        .when(first_hex.isin(*_VAL_HEX), "val")
        .otherwise("test")
    )


def _sql_in(chars: str) -> str:
    return "(" + ",".join(f"'{c}'" for c in chars) + ")"


_FIRST_HEX_DUCK = sql_md5_prefix("CAST(doc_id AS VARCHAR)", 1)
# DuckDB CASE for the split of ``doc_id``: split_assign_col's twin.
SPLIT_CASE_SQL = (
    f"CASE WHEN {_FIRST_HEX_DUCK} IN {_sql_in(_TRAIN_HEX)} THEN 'train' "
    f"WHEN {_FIRST_HEX_DUCK} IN {_sql_in(_VAL_HEX)} THEN 'val' "
    "ELSE 'test' END"
)


# --- MinHash and banding: Spark ---------------------------------------------


def mask31(h: Column) -> Column:
    """``h & 0x7FFFFFFF``: the 31-bit input of the permutations."""
    return h.bitwiseAND(F.lit(_H32_MASK))


def minhash_mins(h32: Column) -> list[Column]:
    """The N_MINHASH permutation minima ``mh0..mh31`` of a masked hash, as
    aggregate Columns for one groupBy."""
    return [
        F.min((h32 * F.lit(PERM_A[i]) + F.lit(PERM_B[i])) % F.lit(MERSENNE)).alias(
            f"mh{i}"
        )
        for i in range(N_MINHASH)
    ]


def signature_col() -> Column:
    """``mh0..mh31`` gathered into the ``minhash`` array."""
    return F.array(*[F.col(f"mh{i}") for i in range(N_MINHASH)]).alias("minhash")


def minhash_signature(
    df: DataFrame,
    id_col: str,
    shingle_col: str,
    hash_expr: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """(id, minhash array of N_MINHASH) from exploded (id, shingle) rows.

    One shuffle (groupBy id); the N permutation mins are computed as N
    aggregate columns over the same exchange — not N passes.
    ``hash_expr`` defaults to xxhash64 (scale path); pass :func:`md5_int`
    for the oracle-exact variant.
    """
    hfn = hash_expr or F.xxhash64
    with_h = df.select(F.col(id_col), mask31(hfn(F.col(shingle_col))).alias("h32"))
    agg = with_h.groupBy(id_col).agg(*minhash_mins(F.col("h32")))
    return agg.select(F.col(id_col), signature_col())


def band_key_plain(sig_col: str, b: int) -> Column:
    """The canonical plain band key, ``b:v0:v1:v2:v3`` — one definition
    shared by lsh_bands and dedup_minhash_signatures, rebuilt by
    :func:`duck_band_key`."""
    return F.concat_ws(
        ":",
        F.lit(b),
        *[
            F.element_at(F.col(sig_col), b * BAND_ROWS + r + 1)
            for r in range(BAND_ROWS)
        ],
    )


def lsh_bands(
    df: DataFrame, id_col: str, sig_col: str = "minhash", hashed_keys: bool = True
) -> DataFrame:
    """Explode a minhash signature into (id, band_id, band_key) bucket rows.

    ``hashed_keys=True`` (scale default) compresses each band's 4 values to
    one xxhash64 long — an 8-byte shuffle key. ``False`` keeps the plain
    ``b:v0:v1:v2:v3`` string so DuckDB can rebuild identical keys.
    """

    def key(b: int) -> Column:
        plain = band_key_plain(sig_col, b)
        return F.xxhash64(plain) if hashed_keys else plain

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), key(b).alias("band_key"))
            for b in range(N_BANDS)
        ]
    )
    return df.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        id_col, F.col("bk.band_id").alias("band_id"), F.col("bk.band_key").alias("band_key")
    )


# --- MinHash and banding: DuckDB --------------------------------------------


def duck_minhash_mins(h: str) -> str:
    """DuckDB select-list text of the permutation minima ``mh0..mh31`` of
    the (unmasked) hash expression ``h``, for one GROUP BY."""
    return ",\n         ".join(
        f"MIN((({h} & {_H32_MASK}) * {PERM_A[i]} + {PERM_B[i]}) % {MERSENNE}) AS mh{i}"
        for i in range(N_MINHASH)
    )


def duck_band_key(b: int) -> str:
    """DuckDB text of band ``b``'s plain key over columns ``mh0..mh31``."""
    vals = [f"CAST(mh{b * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)]
    return "(" + " || ':' || ".join([f"'{b}'", *vals]) + ")"


def duck_band_ctes(mins: str, name: str, cap: int | None) -> str:
    """DuckDB CTE text defining ``name`` as the (doc_id, band_id, band_key)
    rows of the signature relation ``mins``. With a ``cap``, rows whose
    bucket holds more than ``cap`` docs are dropped (helper CTEs
    ``{name}_all`` and ``{name}_cap``); ``None`` keeps every bucket."""
    rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, {duck_band_key(b)} AS band_key FROM {mins}"
        for b in range(N_BANDS)
    )
    if cap is None:
        return f"{name} AS (\n{rows}\n)"
    return f"""{name}_all AS (
{rows}
),
{name}_cap AS (
  SELECT band_id, band_key FROM {name}_all
  GROUP BY band_id, band_key HAVING COUNT(*) <= {cap}
),
{name} AS (SELECT b.* FROM {name}_all b JOIN {name}_cap USING (band_id, band_key))"""
