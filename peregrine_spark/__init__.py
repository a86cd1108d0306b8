"""peregrine_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-expresses the capabilities of the reference pattern-aware graph mining
system (AlexLazcano/peregrine, a fork of pdclab/Peregrine, EuroSys'20) in
idiomatic Spark: the data graph is an edge-table DataFrame, pattern matching
compiles to Catalyst join plans with symmetry-breaking predicates, and the
link-graph tier (PageRank / connected components / label propagation /
triangle counting) runs as superstep DataFrame joins and map-side-combined
aggregations.

Nothing here is a port: the reference's DFS backtracking matcher, thread
barriers and MPI work stealing are replaced by Catalyst joins, Spark stages
and AQE/salting. Reference citations in docstrings are for *semantic parity*
only (what to compute, never how).
"""

from peregrine_spark.session import get_spark
from peregrine_spark.patterns.small_graph import SmallGraph, PatternGenerator

__version__ = "0.1.0"

__all__ = ["get_spark", "SmallGraph", "PatternGenerator", "__version__"]
