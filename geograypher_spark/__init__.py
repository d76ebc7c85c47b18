"""geograypher_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the capabilities of ``open-forest-observatory/geograypher``
(drone-image → 3D mesh → geospatial prediction pipelines) as distributed
Spark DataFrame operators:

- grid/H3-style cell encoding and cell-prefix hash joins (skew left to AQE)
- exact point-in-polygon refinement (vectorized winding-number on WKB)
- z-buffer visibility joins (camera ↔ mesh-face assignment)
- cell-ring kNN joins, blocked ray-pair theta self-joins, graph components
- group-by / window aggregations (deterministic mode votes, weighted-area
  argmax, per-class tree geometry unions)
- raster↔vector tile-grid aggregation
- interleaved text+media document parsing with span-sequence equality
- training-data-pipeline ops: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard), ANN similarity search, text quality analysis

Everything is DataFrame + vectorized pandas/Arrow UDFs; no per-row Python.
"""

__version__ = "0.1.0"
