"""PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the query/data-processing capabilities of the
reference OSM road-feature pipeline (PostGIS + osm2pgsql, at /root/reference)
as idiomatic Spark: declarative DataFrame plans, a uniform-cell tiling index
as the spatial join currency (the GIST-index replacement), two-phase
cover-join -> exact-refine spatial joins, vectorized Arrow/pandas UDFs for the
few kernels Catalyst can't express, broadcast dimensions and radius-sized
micro-grids that keep dense urban cells from going quadratic, and
per-partition checkpoint manifests for resume.
"""

__version__ = "0.1.0"
