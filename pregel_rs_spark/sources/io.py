"""SparkSession factory and table IO.

Design point: vertices/edges/checkpoints live as **Iceberg tables** on a real
cluster (atomic snapshots, partition evolution, time-travel for resume); this
sandbox has no Iceberg runtime jar and no network, so every write/read goes
through a small abstraction that uses Iceberg when the catalog is configured
and an atomic parquet-directory fallback otherwise — same call sites, same
semantics (writes are all-or-nothing via rename).

Session defaults are the scale-aware ones (AQE + skew join + partition
coalescing, Arrow enabled for pandas UDFs, UTC timestamps for oracle parity).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "pregel-rs-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build a local session with scale-appropriate defaults.

    On a real cluster, the same configs are passed via spark-submit; only
    ``master`` changes.  Shuffle partitions default to the core count, but
    at least 8 — right-sized for local runs; at 100 TB you set this (or let
    AQE coalesce from a high initial count) to keep post-shuffle partitions
    ≲ 200 MB.

    ``master`` overrides the default ``local[cores]`` — the scaling protocol
    passes ``local-cluster[E, C, memMB]`` to run E real executor JVMs (the
    in-sandbox analogue of an E-executor cluster: separate heaps, separate
    GCs, netty shuffle between processes).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark keeps 100 generated classes by default; one iterative call
        # generates about 250 (connected components, label + star), so every
        # repeated call recompiled 111-132 of them with Janino.  With 10,000
        # entries a warm call compiled 0-4 and took 5.1 s instead of 6.5 s
        # (4 vCPU).  Static conf: it only takes effect on a new session.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
    )
    # Cluster-size emulation (scaling protocol, BASELINE.md §3): when set,
    # the JVM is told it owns exactly this many cores so GC / compiler /
    # shuffle thread pools are sized for the emulated cluster instead of the
    # whole host.  Pair with `taskset -c` on the launching process so the
    # threads are actually confined — otherwise a local[4] "cluster" borrows
    # the host's idle cores for GC and IO and the N-level measurement flatters
    # small clusters (which understates N→4N scaling efficiency).
    jvm_cores = os.environ.get("SPARK_GRAFT_JVM_CORES")
    if jvm_cores:
        b = b.config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={int(jvm_cores)}",
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Table store: Iceberg when available, atomic parquet directory otherwise.
# ---------------------------------------------------------------------------

def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableStore:
    """Write/read named tables; Iceberg `writeTo` when the runtime jar is on
    the classpath, atomic parquet-dir (write-tmp-then-rename) fallback here.
    """

    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        self.use_iceberg = catalog is not None and _iceberg_available(spark)
        if not self.use_iceberg:
            os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, name: str, df: DataFrame, partition_by: list[str] | None = None):
        if self.use_iceberg:
            w = df.writeTo(f"{self.catalog}.{name}")
            if partition_by:
                w = w.partitionedBy(*partition_by)
            w.createOrReplace()
            return
        tmp = self._path(f".{name}.tmp.{uuid.uuid4().hex[:8]}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        final = self._path(name)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    def file_row_counts(self, name: str) -> list[tuple[int, str, int]]:
        """``(partition, file, rows)`` for every data file of table
        ``name``, from file metadata without reading any row: the parquet
        footers (no Spark job), or Iceberg's ``files`` table.
        ``partition`` is the write task's partition id, parsed from the
        file name."""
        if self.use_iceberg:
            files = [
                (r.file_path, r.record_count)
                for r in self.spark.sql(
                    "SELECT file_path, record_count FROM "
                    f"{self.catalog}.{name}.files"
                ).collect()
            ]
        else:
            import pyarrow.parquet as pq

            root = self._path(name)
            files = [
                (os.path.join(d, f), pq.read_metadata(os.path.join(d, f)).num_rows)
                for d, _, fs in os.walk(root)
                for f in fs
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
        out = []
        for path, rows in files:
            base = os.path.basename(path)
            m = re.search(r"\d+", base)
            out.append((int(m.group()) if m else -1, base, rows))
        return sorted(out)

    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(f"{self.catalog}.{name}")
        return self.spark.read.parquet(self._path(name))

    def exists(self, name: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(f"{self.catalog}.{name}")
        return os.path.exists(self._path(name))
