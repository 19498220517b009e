#!/usr/bin/env python
"""8 GiB star-contraction memory probe (r7 VERDICT item 7).

The r7 100x rehearsal OOM'd the star-contraction component loop at 28M
edges in an 8 GiB single JVM (48 GiB was fine): every round's eagerly
localCheckpointed edge set was stored DESERIALIZED (a (long,long) edge row
is ~10x its serialized bytes on the JVM heap) and prior rounds' blocks
lingered until ContextCleaner noticed. r8 stores big-graph rounds
serialized (MEMORY_AND_DISK) with edge-count-sized partitions and nudges
both GCs per round.

This probe re-creates the failure shape — a 28M-edge clique graph (1,400
groups x 200 members, all within-group pairs) — in a FRESH 8 GiB-driver
Spark session, runs ``dedup_components`` (the star alternation), verifies the
component count, and merges the result into SCALING.json under
``x100.star_memory_8g``. Run it standalone (it must own the JVM to set
driver memory):

    python scripts/star_memory_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

N_GROUPS = int(os.environ.get("STAR_PROBE_GROUPS", "1400"))
GROUP_SIZE = int(os.environ.get("STAR_PROBE_SIZE", "200"))
DRIVER_MEM = os.environ.get("STAR_PROBE_MEM", "8g")


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("star-memory-probe")
        .config("spark.driver.memory", DRIVER_MEM)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    jconf = spark.sparkContext._jsc.sc().conf()
    actual_mem = jconf.get("spark.driver.memory", "unset")
    if actual_mem != DRIVER_MEM:
        print(
            f"WARNING: driver memory is {actual_mem}, wanted {DRIVER_MEM} "
            "(a JVM was already running?) — probe result not at target heap",
            file=sys.stderr,
        )

    from fdi_flow_spark.pipelines.dedup import dedup_components

    n_edges_expected = N_GROUPS * GROUP_SIZE * (GROUP_SIZE - 1) // 2
    nodes = spark.range(N_GROUPS * GROUP_SIZE).select(
        F.col("id").alias("node"), (F.col("id") / GROUP_SIZE).cast("long").alias("g")
    )
    a, b = nodes.alias("a"), nodes.alias("b")
    pairs = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.node") < F.col("b.node"))
    ).select(F.col("a.node").alias("id_a"), F.col("b.node").alias("id_b"))

    t0 = time.perf_counter()
    comp = dedup_components(pairs, id_col="node")
    n_comp = comp.select("component_id").distinct().count()
    n_nodes = comp.count()
    elapsed = round(time.perf_counter() - t0, 1)
    ok = n_comp == N_GROUPS and n_nodes == N_GROUPS * GROUP_SIZE
    rec = {
        "driver_memory": actual_mem,
        "n_edges": n_edges_expected,
        "n_groups": N_GROUPS,
        "group_size": GROUP_SIZE,
        "components_found": n_comp,
        "sec": elapsed,
        "ok": ok,
    }
    sidecar = os.path.join(_REPO, "SCALING.json")
    try:
        with open(sidecar) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        doc = {}
    doc.setdefault("x100", {})["star_memory_8g"] = rec
    with open(sidecar, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(rec))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
