"""rdf_indexes_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the capabilities of jermp/rdf_indexes
(reference at /root/reference) as a distributed DataFrame pipeline:

  transcripts → mention extraction (Arrow/pandas UDFs)
             → entity-link scoring
             → canonicalization (min-label connected components)
             → dictionary encoding (freq-desc dense ids, 3 id spaces)
             → 5 sorted permutation tables + stats
             → 9-pattern triple-selection query router

The reference is a single-node C++14 compressed-trie library plus Python
prep scripts; this package produces the exact triple sets those scripts
emit (semantics of scripts/extract_vocabs.py, map_dataset.py, sort.py,
build_stats.py) and answers the same query surface (include/algorithms.hpp,
include/index_3t.hpp) — but Spark-first: Catalyst plans, broadcast joins,
range-partitioned sorts, Parquet pushdown instead of hand-built tries.
"""

__version__ = "0.1.0"
