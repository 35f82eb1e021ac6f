"""fujishadergpu_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression (NOT a port) of the capabilities of
geoign/FujiShaderGPU — a tile-parallel, seam-free, overview-accelerated
COG terrain pipeline (reference at /root/reference) — rebuilt for
lakehouse scale on the PySpark DataFrame API:

- geoparse Common-Crawl-style pages (url, warc_ts, html, text, lang)
  into points (functions.geoparse),
- hierarchical cell indexing in the spirit of H3/S2
  (functions.cells: int64 quadtree cells with parent / grid_disk,
  both as JVM column expressions and Arrow pandas UDFs),
- cell-bucketed point-in-polygon joins with skew salting
  (operators.pip_join),
- kNN via ring expansion over cell neighbors (operators.knn),
- XYZ 256x256 tile assignment + halo-correct per-tile window kernels
  in one batched pandas UDF pass (functions.tiles, operators.tile_kernels)
  mirroring the reference's tile/halo model
  (reference core/tile_processor.py:1609-1627, map_overlap stencils),
- LOD pyramid tables replacing COG overviews
  (reference algorithms/_nan_utils.py:836-871),
- dedup / similarity / text-analysis operators for training-data
  pipelines (operators.dedup, operators.ann, functions.textfn),
- per-partition lineage + metrics with idempotent resume
  (plans.lineage; reference --cog-only resume,
  core/tile_processor.py:1748-1819),
- structured-streaming twins for the event path (streaming.events).

Everything is DataFrame/Catalyst/AQE-native: built-in functions where
possible (whole-stage codegen), Arrow-vectorized pandas UDFs where not,
never per-row Python, never driver-side collect loops over data.
"""

__version__ = "0.1.0"
