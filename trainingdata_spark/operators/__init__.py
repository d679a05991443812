"""Graph, layout and skew operators of the training-data suite.

Connected components (dedup clustering), PageRank (host graphs),
checkpoint release, layout writes (compaction, sorted and z-order),
salted joins/aggregates, grouped percentiles and the ``spread``
repartition guard — thin, tested compositions of DataFrame
primitives, like the market engine's own operators.
"""

from trainingdata_spark.operators.components import connected_components
from trainingdata_spark.operators.pagerank import pagerank
from trainingdata_spark.operators._checkpoint import release
from trainingdata_spark.operators.layout import (
    compact_small_files,
    sorted_write,
    zorder_write,
)

__all__ = [
    "pagerank",
    "connected_components",
    "release",
    "compact_small_files",
    "sorted_write",
    "zorder_write",
]
