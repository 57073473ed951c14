"""Spark-facing geometry function surface (SURVEY.md §2.3 B4/B22).

Two kinds of functions:

1. **Column expressions** (JVM-side, whole-stage codegen) for all
   exact integer/float arithmetic: the url→(lat,lng) geocoding (A36)
   and the cell-id hierarchy algebra (parent, level, range, order key).
   *Portable* arithmetic (no engine-specific hash, no shift-on-negative
   semantics), so the identical formula runs in DuckDB for the oracle.

2. **Arrow-batched pandas UDFs** wrapping the numpy kernels for the
   parts SQL cannot express (Hilbert cell ids, tokens, neighbors). Trig
   also stays in numpy — NOT ``F.cos`` — because JVM ``Math.cos`` may
   differ from libm by 1 ulp, and bit-exactness vs the Python oracle is
   a gate (BASELINE.md #2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

from .. import kernels as K

# ---------------------------------------------------------------------------
# A36 — deterministic geocoding from a 64-bit hash column (pure SQL)
# ---------------------------------------------------------------------------
# h is any int64 (we use xxhash64(url)).  All steps are exact:
#   h_lo = h & (2**32 - 1)                 ∈ [0, 2**32)
#   h_hi = (h - h_lo) / 2**32              ∈ [-2**31, 2**31), exact division
#   lat  = ((h_hi + 2**31) / 2**32) * 180 - 90
#   lng  = ( h_lo          / 2**32) * 360 - 180
# The same formula is the oracle's SQL (DuckDB, __spark_entry__._LAT_SQL)
# — identical IEEE-754 results because every op is exact or correctly
# rounded with the same operand order.


def lat_from_hash(h: Column) -> Column:
    h_hi = (h - h.bitwiseAND(F.lit(4294967295))) / F.lit(4294967296)
    return (h_hi + F.lit(2147483648)) / F.lit(4294967296) * F.lit(180.0) - F.lit(90.0)


def lng_from_hash(h: Column) -> Column:
    h_lo = h.bitwiseAND(F.lit(4294967295))
    return h_lo / F.lit(4294967296) * F.lit(360.0) - F.lit(180.0)


# ---------------------------------------------------------------------------
# Hierarchy bit algebra as JVM column expressions
# ---------------------------------------------------------------------------
# On the signed int64 bit pattern of the uint64 id, never overflowing:
# no valid id is INT64_MIN and no leaf range crosses the face 3|4 sign
# wrap. Reference: the numpy kernels; sql_api registers the same math.

INT64_MIN = -(1 << 63)


def parent_col(cell: Column, level: int) -> Column:
    lsb = 1 << (2 * (K.MAX_LEVEL - level))
    return cell.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))


def order_key_col(cell: Column) -> Column:
    """Signed-flip key: int64 whose < order equals uint64 id order."""
    return cell.bitwiseXOR(F.lit(INT64_MIN))


# old name, kept because perfbench/workloads.py still calls it
cell_order_key_udf = order_key_col


def _lsb_minus_one(cell: Column) -> Column:
    return cell.bitwiseAND(-cell) - F.lit(1)


def range_min_key_col(cell: Column) -> Column:
    """rangeMin in signed-flip order-key space (for BETWEEN joins)."""
    return order_key_col(cell - _lsb_minus_one(cell))


def range_max_key_col(cell: Column) -> Column:
    return order_key_col(cell + _lsb_minus_one(cell))


def level_col(cell: Column) -> Column:
    """30 − ntz(id)/2, with ntz(id) = bit_count(lsb − 1)."""
    return F.lit(K.MAX_LEVEL) - F.shiftright(F.bit_count(_lsb_minus_one(cell)), 1)


# ---------------------------------------------------------------------------
# Pandas UDFs over the numpy kernels (Arrow batches, no per-row Python)
# ---------------------------------------------------------------------------

@pandas_udf(LongType())
def cell_id_udf(lat_deg: pd.Series, lng_deg: pd.Series) -> pd.Series:
    """Leaf (level-30) S2CellId from degrees — fused A1..A8 chain.
    NULL for a row with no point (K.has_point: null, NaN or ±inf
    lat/lng, or |lat| > 90; a finite lng wraps); the kernel sees only
    valid rows."""
    lat = lat_deg.to_numpy("float64")
    lng = lng_deg.to_numpy("float64")
    valid = K.has_point(lat, lng)
    if valid.all():
        return pd.Series(K.uint64_to_signed(
            K.latlng_degrees_to_cell_id(lat, lng)))
    ids = np.zeros(len(lat), dtype=np.int64)
    ids[valid] = K.uint64_to_signed(
        K.latlng_degrees_to_cell_id(lat[valid], lng[valid]))
    return pd.Series(pd.arrays.IntegerArray(ids, ~valid))


@pandas_udf(StringType())
def cell_token_udf(cell_id: pd.Series) -> pd.Series:
    ids = K.signed_to_uint64(cell_id.to_numpy("int64"))
    return pd.Series(K.token_of(ids))


@pandas_udf(ArrayType(LongType()))
def all_neighbors_udf(cell_id: pd.Series) -> pd.Series:
    """A16 — the 8-ring of same-level neighbors, deduped + sorted per
    row (cube-corner diagonals can coincide with edge neighbors)."""
    ids = K.signed_to_uint64(cell_id.to_numpy("int64"))
    rings = K.all_neighbors(ids)  # 8 arrays of shape (n,)
    mat = K.uint64_to_signed(np.stack(rings, axis=1))  # (n, 8) signed
    return pd.Series([sorted(set(int(v) for v in row)) for row in mat])


@pandas_udf(StructType([StructField("px", DoubleType()),
                        StructField("py", DoubleType()),
                        StructField("pz", DoubleType())]))
def xyz_udf(lat_deg: pd.Series, lng_deg: pd.Series) -> pd.DataFrame:
    """Unit-vector columns (A1) — numpy trig for libm bit-exactness."""
    lat = np.radians(lat_deg.to_numpy("float64"))
    lng = np.radians(lng_deg.to_numpy("float64"))
    x, y, z = K.latlng_to_xyz(lat, lng)
    return pd.DataFrame({"px": x, "py": y, "pz": z})
