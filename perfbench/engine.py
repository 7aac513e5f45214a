"""Start Spark and build the program's graph session over generated
inputs. Shared by the HTTP server process and the in-process traced run,
so both measure the same configuration."""

from __future__ import annotations

import os
import tempfile


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def driver_memory_mb() -> int:
    """An eighth of the host's memory, clamped to [1 GiB, 4 GiB]."""
    return max(1024, min(4096, host_memory_mb() // 8))


def start_spark(run_dir: str):
    """``local[nproc]`` Spark with its scratch space inside ``run_dir``."""
    from pyspark.sql import SparkSession

    cpus = os.cpu_count() or 1
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir",
                os.path.join(run_dir, "warehouse"))
        # a fixed heap size keeps peak RSS from run-to-run heap resizing;
        # every JVM scratch file stays inside the run directory
        .config("spark.driver.extraJavaOptions",
                f"-Xms{driver_memory_mb()}m -Dderby.system.home={run_dir} "
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build(spark, data_dir: str, scratch: str, writes: bool):
    """The served session: the TPC-H graph, plus the generated ``LINK``
    graph (``Vertex`` nodes) the procedures run on. ``scratch`` becomes
    the temp directory, so the lineitem id table is materialized anew."""
    from brahmand_spark.catalog import NodeSchema, RelationshipSchema
    from brahmand_spark.graphs.tpch import build_session
    from brahmand_spark.io import read_parquet

    os.makedirs(scratch, exist_ok=True)
    tempfile.tempdir = scratch
    session = build_session(spark, data_dir)
    vertices = read_parquet(spark, os.path.join(data_dir, "link_vertex.parquet"))
    edges = read_parquet(spark, os.path.join(data_dir, "link.parquet"))
    session.schema.add_node(NodeSchema(
        label="Vertex", table_name="Vertex", node_id="v_id",
        column_names=["v_id"], primary_keys=["v_id"]))
    session.schema.add_relationship(RelationshipSchema(
        type_name="LINK", table_name="LINK", from_node="Vertex",
        to_node="Vertex", from_column="src", to_column="dst",
        column_names=["w"]))
    session.register_table("Vertex", vertices)
    session.register_table("LINK", edges)
    session.allow_writes = writes
    return session


def versions(spark) -> dict:
    import platform

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "mem_mb": host_memory_mb(),
        "driver_mem_mb": driver_memory_mb(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
