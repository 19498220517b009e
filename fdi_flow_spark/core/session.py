"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the config below is chosen so the same
code is correct and fast on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting),
- Arrow on (every pandas-UDF operator pays one Arrow hop, not pickle),
- UTC session timezone so timestamp semantics match the DuckDB oracle.

Shuffle partitions play two roles, set by two confs:

- **Batch starting point** —
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
  (``SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS``, else ``shuffle_partitions``,
  else 32). With AQE partition coalescing on, every batch exchange starts
  from this count and AQE shrinks it per stage.
- **Stateful streams** — ``spark.sql.shuffle.partitions``, set to the
  session's task slots (N for ``local[N]``, the host's CPU count for
  ``local[*]``; ``shuffle_partitions``, else 32, on a cluster).
  Structured Streaming turns AQE off inside a stream, so this count is
  used as is: it is the number of state stores of every stateful
  operator (``applyInPandasWithState``, ``dropDuplicates``,
  sessionization), and each store costs a task and a commit per
  micro-batch, empty or not. Spark records the count in the
  checkpoint's offset log at the first batch and a restarted query keeps
  it, so an existing checkpoint keeps its store count.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _task_slots(master: str) -> int | None:
    """Task slots of a ``local``, ``local[N]`` or ``local[*]`` master;
    ``None`` for any other master."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)\])?", master)
    if m is None:
        return None
    slots = m.group(1) or "1"
    return (os.cpu_count() or 1) if slots == "*" else int(slots)


def get_spark(
    app_name: str = "fdi_flow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Scale-out guard (r14, guide §2.2): AQE's partition coalescing only
    # SHRINKS the starting partition count, never grows it, so a local
    # start of 32 would cap reduce-side parallelism on a real cluster.
    # Production sets SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS (rule of
    # thumb: ~2-4x total executor cores, or input_bytes / 256 MB for the
    # big shuffles) and AQE coalesces DOWN from there per stage.
    initial_parts = os.environ.get("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS")
    if initial_parts:
        # validate at read time (r14 ADVICE): a non-integer value would
        # otherwise surface only at the first query as an opaque Spark
        # conf error.
        try:
            batch_parts = int(initial_parts)
            if batch_parts <= 0:
                raise ValueError
        except ValueError:
            raise ValueError(
                "SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS must be a positive "
                f"integer, got {initial_parts!r}"
            ) from None
    else:
        batch_parts = shuffle_partitions or 32
    # One state store per task slot keeps every core busy without paying
    # a task and a commit for stores that idle. A cluster master keeps
    # shuffle_partitions (else 32), so a checkpoint is never pinned to
    # whatever executor count happened to be up at startup.
    stream_parts = _task_slots(master) or shuffle_partitions or 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(stream_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # the batch starting point is read from here only while AQE
        # partition coalescing is on (above); extra_conf that disables it
        # leaves batch plans on spark.sql.shuffle.partitions
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(batch_parts),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS), which Spark 4
        # refuses by default; read it as a long (ns since epoch) — every use
        # is ordering-only, and long ordering == timestamp ordering.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
