"""webdedup — PySpark-native near-duplicate detection + clustering engine.

A from-scratch Spark re-expression of the capabilities of
joachimwolff/minHashNearestNeighbors (reference at /root/reference): MinHash /
LSH approximate nearest neighbors, exact-verify refinement, k-NN graph
construction, and duplicate clustering — plus the web-scale dedup extras from
the north rule (SimHash, salted LSH groupBy, connected components,
suffix-array/winnowing substring pass, checkpoint-resume, lineage counters).
"""

from webdedup.config import DedupConfig

__all__ = ["DedupConfig"]
__version__ = "0.1.0"
