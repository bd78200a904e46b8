"""plume_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Recasts the capabilities of plume-oss/plume (reference at /root/reference, a
JVM-bytecode -> Code Property Graph builder over pluggable graph stores) as a
transcript -> (subj, pred, obj) triple pipeline on Spark:

* parallel per-unit extraction passes  -> zero-shuffle ``mapInPandas`` batches
  (reference: astcreator/.../PlumeForkJoinParallelCpgPass.scala:40-71)
* idempotent ID assignment             -> deterministic ``xxhash64(kind, key)``
  (reference: drivers/base/.../IDriver.scala:19-20,91-98)
* batched bulk upsert into typed store -> snapshot-atomic table layer + MERGE
  (reference: drivers/neo4j/.../Neo4jDriver.scala:198-215)
* read/query layer + benchmarks        -> DataFrame queries + bench.py
  (reference: src/.../benchmarking/GraphReadBenchmark.scala:31-116)

Everything is DataFrame-first: Catalyst plans the physical execution, pandas
UDFs appear only where extraction semantics genuinely need Python, and all
hot-path expressions stay JVM-side.
"""

from plume_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
