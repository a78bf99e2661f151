"""osm_render_spark — a PySpark-native spatial-join + tiling engine.

Built from scratch (NOT a port) with the query semantics of the reference
``mortehu/osm-render`` (see SURVEY.md for the operator inventory with
file:line citations into /root/reference/). Everything is expressed as
DataFrame/SQL plans plus vectorized pandas-on-Arrow UDFs — no per-row
Python in any hot path.

Layout:
  session     — tuned SparkSession builder (AQE, Arrow, shuffle partitions)
  sources     — table catalog over the driver's parquet testdata
  functions   — columnar expression builders (projection, tiles, predicates)
  operators   — distributed operators (spatial join, PIP, kNN, dedup, ...)
  raster      — numpy raster kernels behind mapInPandas, and the one
                sorted-run group primitive (raster/ops.py)
  fixtures    — deterministic synthetic scene/image generators (FIXTURES.md)
  plans       — checkpoint / lineage / resume layer
"""

__version__ = "0.1.0"
