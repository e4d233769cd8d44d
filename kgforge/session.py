"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench, and
spark-submit jobs share one tuned configuration:

- AQE on (runtime coalescing + skew-join splitting — the north rule's
  "AQE-tuned shuffles");
- Arrow on with a bounded batch size so the batched pandas UDFs
  (chunkers / extractor / embedder) stream Arrow batches instead of
  per-row Python (input_hint: "no per-row Python");
- shuffle partitions sized for the local harness but overridable for
  a real cluster via env/conf;
- a driver JVM young generation fixed at a sixth of the heap
  (``spark.driver.defaultJavaOptions``, so callers' own
  ``extraJavaOptions`` still apply), for a steady memory footprint.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of physical RAM, capped at 48g.

    In local mode the driver JVM hosts all executor threads, so the
    heap must cover per-task execution memory x cores: an 8g heap
    makes 32 concurrent aggregate tasks spill and inverts scaling on
    a 128 GiB box.  A fixed 48g, though, lets the heap outgrow a small
    machine until the kernel kills the JVM (15.4 GB RSS on a 15 GiB
    host).  ``KGFORGE_DRIVER_MEM`` overrides for a deployment."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    half_gib = phys // 2**31
    return f"{max(1, min(48, half_gib))}g"


_UNIT_BYTES = {"": 2**20, "b": 1, "k": 2**10, "m": 2**20, "g": 2**30,
               "t": 2**40}


def young_gen_option(driver_memory: str) -> str:
    """``-Xmn`` fixing the driver JVM's young generation at a sixth of
    its heap (``driver_memory`` in Spark's size syntax, MiB if bare).

    G1 otherwise resizes the young generation after every pause, and
    late in a run it may or may not grow it to ~40% of the heap, so the
    same ingest's peak RSS differs by up to 0.7 GiB from run to run.
    perfbench ``ingest-full`` at a 3g heap on a 4-core VM: 2.09-2.81
    GiB over 14 runs (quartiles 0.49 GiB apart) with adaptive sizing,
    2.14-2.43 GiB over 10 runs (quartiles 0.07 apart) with a fixed
    young generation, which also halves the pause count at the same
    total pause time."""
    m = re.fullmatch(r"(\d+)([bkmgt]?)b?", driver_memory.strip().lower())
    if m is None:
        raise ValueError(f"unparseable spark.driver.memory {driver_memory!r}")
    heap = int(m.group(1)) * _UNIT_BYTES[m.group(2)]
    return f"-Xmn{max(1, heap // 6 // 2**20)}m"


def build_session(
    app_name: str = "kgforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("KGFORGE_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("KGFORGE_SHUFFLE_PARTITIONS", "32")
        )

    conf = {
        "spark.driver.memory": os.environ.get("KGFORGE_DRIVER_MEM")
        or default_driver_memory(),
        **(extra_conf or {}),
    }
    conf.setdefault(
        "spark.driver.defaultJavaOptions",
        young_gen_option(conf["spark.driver.memory"]),
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's default 64 MB advisory size coalesces benchmark-scale
        # shuffles (tens of MB) down to 1-4 partitions, serializing
        # the merge stages regardless of core count.  A smaller
        # advisory keeps post-shuffle parallelism ~= cores at this
        # scale; at 100 TB raise it back via env (partition counts are
        # bounded by spark.sql.shuffle.partitions anyway).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("KGFORGE_ADVISORY_PARTITION_BYTES", "8m"),
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "true",
        )
        # zstd halves parquet bytes vs snappy on text-heavy tables; the
        # compression CPU is parallel while the saved disk bandwidth is
        # the SHARED resource (single-disk sandbox; object-store quota
        # at 100 TB) — a direct win for the non-scaling I/O floor.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("KGFORGE_PARQUET_CODEC", "zstd"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
        .config("spark.memory.fraction", "0.7")
        # Spark renders the physical-plan STRING for the SQL listener
        # on every action (SQLExecution.withNewExecutionId ->
        # explainString), and that cost is paid even with the UI off.
        # Deep pipelines (chunk -> extract -> merge -> query stacks)
        # make the default 2 GiB budget a multi-second driver stall
        # per action; a 64 KiB cap keeps the listener payload useful
        # while bounding the render.  (Iterative loops additionally
        # truncate lineage via localCheckpoint — see textops'
        # connected-components note — since a capped STRING still
        # walks the whole tree.)
        .config(
            "spark.sql.maxPlanStringLength",
            os.environ.get("KGFORGE_MAX_PLAN_STRING", "65536"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
