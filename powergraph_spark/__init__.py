"""powergraph_spark — a from-scratch PySpark-native link-graph
analytics engine with the capabilities of jegonzal/PowerGraph.

Graph = two DataFrames (edges hash-partitioned by src + vertex state);
GAS supersteps = scatter join + gather aggregation + apply expression;
flagship toolkits: PageRank, connected components, label propagation,
triangle counting. See SURVEY.md for the full design.
"""

from .graph import Graph
from .session import get_spark

__version__ = "0.1.0"
__all__ = ["Graph", "get_spark", "__version__"]
