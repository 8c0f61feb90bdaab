"""wotan_spark — a PySpark-native time-series rollup + detrend engine.

From-scratch re-creation of the query semantics of hippke/wotan (robust
sliding-window detrending of irregular time series) as a distributed engine:
Arrow-vectorized pandas UDFs over packed token arrays, cascading rollup
tiers, gap-fill, compressed blocks, and checkpointed, lineage-tracked runs.
"""

from wotan_spark._worker_setup import _stamp_zip_rereads
from wotan_spark.compat import flatten
from wotan_spark.kernels.clipper import slide_clip
from wotan_spark.kernels.detrend import detrend_series
from wotan_spark.kernels.scalars import t14
from wotan_spark.kernels.series import transit_mask

__version__ = "0.2.0"

__all__ = ["flatten", "detrend_series", "slide_clip", "transit_mask", "t14",
           "__version__"]

_stamp_zip_rereads()
