"""DuckDB SQL twins for the text/dedup/similarity primitives
(functions/text.py, operators/dedup.py, operators/similarity.py)."""

from __future__ import annotations

from .. import worldspec as W
from ..functions.text import minhash_params
from .oracle import fl


def token_hash_sql(tok: str) -> str:
    terms = " + ".join(
        f"CAST(ascii(substring({tok}, {i}, 1)) AS BIGINT) * {W.TOKEN_HASH_BASE ** (i - 1)}"
        for i in range(1, W.TOKEN_HASH_CHARS + 1))
    return f"(({terms}) % {W.TOKEN_HASH_MOD})"


def minhash_cols_sql() -> str:
    """The MINHASH_N min-hash aggregates over the token-hash column ``h``."""
    cols = []
    for j in range(W.MINHASH_N):
        a, b = minhash_params(j)
        cols.append(f"MIN(({a} * h + {b}) % {W.MINHASH_P}) AS mh{j}")
    return ",\n         ".join(cols)


def band_union_sql() -> str:
    """(doc_id, band, bkey) rows of every LSH band of the ``mh`` CTE."""
    rows = W.MINHASH_N // W.MINHASH_BANDS
    selects = []
    for k in range(W.MINHASH_BANDS):
        key = " || ':' || ".join(
            f"CAST(mh{k * rows + r} AS VARCHAR)" for r in range(rows))
        selects.append(f"SELECT doc_id, {k} AS band, {key} AS bkey FROM mh")
    return " UNION ALL ".join(selects)


def simhash_sum_cols_sql() -> str:
    """The per-bit +-1 vote sums over the 32-bit hash column ``h32``."""
    cols = []
    for b in range(W.SIMHASH_BITS):
        cols.append(f"SUM(((h32 // {1 << b}) % 2) * 2 - 1) AS s{b}")
    return ",\n         ".join(cols)


def simhash_sig_sql() -> str:
    return " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(W.SIMHASH_BITS))


def qdot_sql(a: str, b: str) -> str:
    """Input-quantized dot terms over the dimension index ``i``:
    floor(x*2^20) per input, then integer products — every partial sum
    < 2^53, so the Spark side may evaluate the same sum as a float64 BLAS
    matmul and stay bit-exact."""
    return (f"SUM(CAST(floor(CAST({a}[i] AS DOUBLE) * {fl(2.0 ** 20)}) AS BIGINT) "
            f"* CAST(floor(CAST({b}[i] AS DOUBLE) * {fl(2.0 ** 20)}) AS BIGINT))")


def cos_nano_sql(dt: str, na: str, nb: str) -> str:
    return (f"CAST(floor((CAST({dt} AS DOUBLE) / "
            f"sqrt(CAST({na} AS DOUBLE) * CAST({nb} AS DOUBLE))) * {fl(1.0e9)}) AS BIGINT)")


def plane_weight_sql(j: int, i0: str) -> str:
    """Hyperplane weight for 0-based dim expression i0 (matches
    operators/similarity.plane_weight_expr)."""
    return f"(CAST((({j} * 131) + ({i0} * 737)) % 1001 - 500 AS DOUBLE) / {fl(500.0)})"
