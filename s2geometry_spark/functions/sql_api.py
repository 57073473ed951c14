"""SQL-registered function surface: the geometry kernels as named SQL
functions, so the engine is fully usable from ``spark.sql(...)`` /
``CREATE TEMP VIEW`` pipelines without touching the Python DataFrame
API (the form a SQL-first user of the reference library would expect).

    from s2geometry_spark.functions.sql_api import register_sql_functions
    register_sql_functions(spark)
    spark.sql('''
        SELECT url, s2_parent(s2_cell_id(lat, lng), 8) AS tile
        FROM pages
    ''')

The integer hierarchy algebra (parent, level, order key, range keys)
is registered as SQL-bodied temporary functions: the bit math of geo's
Column functions, inlined by the analyzer, no Python hop. Cell id (trig),
token (string formatting) and neighbors (the neighbor kernel) need
numpy, so they are the Arrow-batched pandas UDFs the DataFrame
operators use (functions/geo.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import geo

UDF_FUNCTIONS = {"s2_cell_id": geo.cell_id_udf,
                 "s2_token": geo.cell_token_udf,
                 "s2_neighbors": geo.all_neighbors_udf}

_LSB = "shiftleft(1L, 2 * (30 - level))"
_FLIP = f" ^ {geo.INT64_MIN}L"
_LSB_M1 = "((id & -id) - 1)"

#: name -> (parameters, return type, body)
SQL_BODIED_FUNCTIONS = {
    "s2_parent": ("id BIGINT, level INT", "BIGINT", f"(id & -{_LSB}) | {_LSB}"),
    "s2_level": ("id BIGINT", "INT", f"30 - (bit_count{_LSB_M1} >> 1)"),
    "s2_order_key": ("id BIGINT", "BIGINT", f"id{_FLIP}"),
    "s2_range_min_key": ("id BIGINT", "BIGINT", f"(id - {_LSB_M1}){_FLIP}"),
    "s2_range_max_key": ("id BIGINT", "BIGINT", f"(id + {_LSB_M1}){_FLIP}"),
}


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register every function under its s2_* SQL name; returns the
    registered names (idempotent — re-registration replaces)."""
    for name, udf in UDF_FUNCTIONS.items():
        spark.udf.register(name, udf)
    for name, (params, ret, body) in SQL_BODIED_FUNCTIONS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
                  f"RETURNS {ret} RETURN {body}")
    return sorted([*UDF_FUNCTIONS, *SQL_BODIED_FUNCTIONS])
