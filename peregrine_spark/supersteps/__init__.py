from peregrine_spark.supersteps.engine import SuperstepEngine, SuperstepResult
from peregrine_spark.supersteps.pagerank import pagerank
from peregrine_spark.supersteps.components import connected_components
from peregrine_spark.supersteps.labelprop import label_propagation
from peregrine_spark.supersteps.bfs import bfs_hops

__all__ = [
    "SuperstepEngine",
    "SuperstepResult",
    "pagerank",
    "connected_components",
    "label_propagation",
    "bfs_hops",
]
