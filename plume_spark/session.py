"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests (local[4]), bench.py (local[$SPARK_GRAFT_CPUS])
and a real ``spark-submit`` job — only master/shuffle-partitions differ.

Defaults chosen for the 100 TB target:
* AQE on (runtime coalescing + skew-join splitting),
* Arrow on (all pandas UDF traffic is Arrow batches, never per-row pickling),
* shuffle partitions sized to cores locally; on a cluster this is overridden to
  ~2-3x total cores (or left to AQE coalescing from a high initial number),
* on a local master, Python workers fork from the ``plume_spark.pyworker``
  daemon: PySpark's per-task ``importlib.invalidate_caches()`` then no longer
  re-reads the directories of ``pyspark.zip``, the py4j zip and the
  ``spark-core`` jar (~26k entries, 100-250 ms of every Python task on
  Python 3.11 on a 4-core x86-64 host).  A cluster submit keeps Spark's own
  daemon.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _default_driver_mem() -> str:
    """Conservative driver-heap default: a quarter of physical RAM, clamped
    to [2g, 24g] — 24g on the 128 GiB bench box, but safe on small CI
    containers (a fixed 24g can fail JVM startup / trip the OOM killer).
    Override with PLUME_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(24, gib // 4))}g"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "plume-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if master is None:
        master = os.environ.get("PLUME_SPARK_MASTER", f"local[{cpus}]")
    # master="" means: do NOT set spark.master here — inherit it from the
    # submitted conf (spark-submit --master ...), the cluster deployment path.
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps tiny-data latency low
        # while AQE coalesces further; on a cluster pass an explicit value.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("PLUME_DRIVER_MEM", _default_driver_mem()))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # The iterative CC loop + wide extraction plans generate hundreds of
        # codegen classes; the JVM default 240 MB code cache fills, the JIT
        # silently disables itself, and every later per-row-hot expression
        # runs interpreted (measured 30-100x slowdowns).  A 1 GB reserved
        # cache + flushing keeps compilation alive for long sessions.
        # -XX:-DontCompileHugeMethods: unrolled vector arithmetic (similarity
        # dot/norm chains) generates single codegen methods past HotSpot's 8 KB
        # huge-method limit, which the JIT otherwise silently refuses to
        # compile — measured 3.5x on blocked cosine scoring.  Only effective
        # when this builder launches the JVM (normal case: tests, bench.py
        # subprocesses, spark-submit driver).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            "-XX:-DontCompileHugeMethods",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            "-XX:-DontCompileHugeMethods",
        )
        # Spark 4 routes lower()/upper() under UTF8_BINARY through ICU "full"
        # case mappings whose first non-ASCII use triggers a titlecase lookup
        # table built over the whole BMP (CollationAwareUTF8String.<clinit>,
        # ~65k UCharacter.toTitleCase calls).  When the JIT queue is saturated
        # after a codegen-heavy stage, that one-time init runs interpreted for
        # 30-160 s — measured here.  JVM simple case mapping is correct for
        # our normalization semantics (Latin + caseless CJK) and matches the
        # DuckDB oracle, so pin it off.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    conf = dict(extra_conf or {})
    if master:
        b = b.master(master)
    if master.startswith("local"):
        # The daemon's package goes on the workers' path so it starts whatever
        # the driver's cwd is: if it cannot import, every Python task fails.
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(filter(None, (root, conf.get(key))))
        conf.setdefault("spark.python.daemon.module", "plume_spark.pyworker")
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType | str
) -> DataFrame:
    """Frame over rows the driver already holds (tuples in ``schema``'s field
    order; ``schema`` may be a DDL string).

    The rows go to the JVM as one Arrow table, which Spark plans as a
    ``LocalRelation``: scanning it runs no Python worker, projections over it
    are folded at plan time, a ``collect`` of it runs no job, and an empty
    one lets the optimizer drop the joins it feeds.  A list handed to
    ``createDataFrame`` would instead become a pickled Python RDD of
    ``defaultParallelism`` slices, so every scan of it runs one Python task
    per slice (a worker round trip each, even for one row); a frame from
    here runs none.  A naive ``datetime`` is read as UTC.  This is the
    package's one ``createDataFrame`` call."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=schema)
