"""lidartree_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the tile-parallel forestry pipeline of the reference R package
``lidaRtRee`` 4.0.8 (canopy-height-model filtering, variable-window local-maxima
tree-top detection, marker-controlled watershed crown segmentation,
raster<->vector metric extraction, greedy tree matching, gap detection,
coregistration, area-based model calibration/prediction/inference) as
vectorized Arrow/pandas-UDF stages and Catalyst-friendly DataFrame programs
over a parquet/Iceberg table of image+caption tiles.

Design (NOT a port): relational algebra (scans, pruning, joins, group-bys,
windows) stays in Spark SQL / DataFrame where Catalyst optimizes it; dense
per-tile raster math runs inside grouped pandas UDFs as single-batch numpy,
sharing one kernel library (`lidartree_spark.kernels`) with the test oracle.
"""

import os as _os

__version__ = "0.1.0"

# Only PySpark's Python workers carry this variable; the driver stays as is.
if "PYTHON_WORKER_FACTORY_SECRET" in _os.environ:
    from lidartree_spark import pyworker as _pyworker
    _pyworker.install()
