"""repurpose_spark — a from-scratch PySpark-native reorientation + rollup +
retention engine with the capabilities of TUW-GEO/repurpose.

The reference (``/root/reference``, repurpose v0.13.x) converts image stacks
to cell-partitioned time series (Img2Ts) and back (Ts2Img) with spatial
resampling, as-of time collocation, gap-filled dense cubes, and per-cell
parallel IO.  This engine re-expresses those capabilities Spark-first over
relational tables:

* reorientation  = explode + shuffle-on-cell      (img2ts.py:719-731)
* collocation    = tick-centric as-of join        (stack.py:263-309)
* dense cube     = sequence()/explode gap-fill    (stack.py:129-238)
* resampling     = broadcast neighbor-table join  (resample.py:5-149)
* rollups        = groupBy(date_trunc) continuous aggregates (raw→hour→day)
* compression    = Gorilla XOR / delta-of-delta binary codec (Arrow kernel)
* checkpointing  = per-cell ledger + lineage metrics rows

Everything is DataFrame/SQL-declared so Catalyst handles pushdown, pruning,
partial aggregation and AQE; Python appears only in Arrow-vectorized UDFs
and kernels.
"""

__version__ = "0.1.0"

from repurpose_spark.api import Img2Ts, Ts2Img, resample_to_grid  # noqa: E402
from repurpose_spark.config import EngineConfig  # noqa: E402
from repurpose_spark.session import get_spark  # noqa: E402

__all__ = [
    "Img2Ts",
    "Ts2Img",
    "resample_to_grid",
    "EngineConfig",
    "get_spark",
    "__version__",
]
