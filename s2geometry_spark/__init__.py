"""s2geometry_spark — a PySpark-native spatial-join + tiling engine
with S2 geometry semantics plus training-data pipeline operators.

Top-level convenience surface (each name re-exported from its module;
see README.md for the full layout):

    from s2geometry_spark import (get_spark, load_pages, pip_join,
                                  Cap, Rect, Polygon, Polyline, RegionUnion,
                                  register_sql_functions)

Submodules stay importable directly for the full API
(`s2geometry_spark.operators.dedup`, `.coverer`, `.kernels`, ...).
"""

from __future__ import annotations

from .coverer import covering, covering_rows
from .demo_regions import demo_polyline, demo_regions
from .functions.sql_api import register_sql_functions
from .operators.pip_join import coverings_df, pip_join
from .regions import Cap, Polygon, Polyline, Rect, RegionUnion
from .session import get_spark
from .sources.pages import geocode_pages, load_pages

__all__ = [
    "Cap", "Polygon", "Polyline", "Rect", "RegionUnion",
    "covering", "covering_rows", "coverings_df",
    "demo_polyline", "demo_regions",
    "geocode_pages", "get_spark", "load_pages",
    "pip_join", "register_sql_functions",
]
