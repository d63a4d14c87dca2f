"""pgd_spark — a PySpark-native graphlet-decomposition + link-graph analytics engine.

A from-scratch Spark re-expression of the capabilities of the reference
PGD library (nkahmed/PGD, shared-memory C++/OpenMP): exact 3/4-node
graphlet census (macro totals + per-edge micro counts), graph readers
with PGD normalization semantics, degree/assortativity/k-core/GFD
statistics, plus Pregel-style iterative analytics (PageRank, connected
components, label propagation) and large-scale training-data pipeline
operators (dedup, similarity search, text stats) that the reference does
not ship but a 100 TB deployment needs.

Design: DataFrame-first.  Catalyst plans everything relational; the
counting kernels are either pure JVM array expressions (distributed
path) or a compiled C mark-array kernel on driver threads over a
driver-side CSR (small-graph path, PGD's own shared-memory loop),
mirroring PGD's own CSR-vs-dense-adjacency strategy split
(graphlet_core.cpp:602-611).
"""

from pgd_spark.graph import Graph, normalize_edges
from pgd_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["Graph", "normalize_edges", "get_spark", "__version__"]
