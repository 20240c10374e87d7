"""SparkSession factory tuned for the KG-construction workload.

Defaults favor the production shape (many executors, AQE, Arrow); in
the sandbox they run on local[N]. Every knob here is plain public
Spark configuration.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession

# At cluster scale these are overridden by spark-submit conf; the
# values below are sized for local[8..32] on the synthetic tables.
_DEFAULT_CONFS = {
    # Adaptive execution: runtime coalescing + skew-join splitting is
    # required by the north rule (head-entity skew in sitelink joins).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batching for every Python crossing (no per-row Python).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # batch size bounds the per-worker Arrow working set: 10k pages x
    # ~1-3 KB html = 10-30 MB per batch per worker, which busts the
    # shared LLC when 8+ workers stream concurrently (the measured
    # single-box scaling limiter); smaller batches trade per-batch
    # overhead for cache locality — override for experiments via env
    "spark.sql.execution.arrow.maxRecordsPerBatch":
        os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
    # config-derived dims (template maps, validators, class sets)
    # broadcast; corpus-scale dims (sitelinks at millions of rows) are
    # ABOVE this threshold on purpose — their join must take the
    # parallel shuffle path, exactly as it would at web scale where
    # sitelinks cannot be broadcast (measured: also faster locally)
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # local-scale inputs are ~100s of MB; smaller splits keep every core
    # scanning (at cluster scale with TB inputs, raise back to 128m)
    "spark.sql.files.maxPartitionBytes": "16m",
    # shuffle/persist/broadcast block codec, A/B-able per environment:
    # zstd trades CPU (which scales) for bytes through the contended
    # memory/disk/network path (see BENCH/BASELINE.md codec A/B)
    "spark.io.compression.codec": os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
    # whether serialized persist blocks (the DISK_ONLY template cache)
    # are compressed with the io codec (Spark default: false)
    "spark.rdd.compress": os.environ.get("SPARK_GRAFT_RDD_COMPRESS", "false"),
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "pywdcollections-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` pins local parallelism (used by the two-cluster-size
    scaling bench: local[8] vs local[32]); shuffle partitions scale
    with cores so the plan shape is the same at both sizes.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = SparkSession.builder.appName(app_name).master(f"local[{cores}]")
    confs = dict(_DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs["spark.default.parallelism"] = str(cores)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def local_table(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small driver-side table as a JVM ``LocalRelation``: one inline
    ``VALUES`` query, no Python RDD. ``rows`` are dicts keyed by column
    name or sequences in column order; ``schema`` is a DDL string of
    columns whose types hold no comma
    (``"pred string, constraints array<long>"``).

    Use it instead of ``createDataFrame(list)`` for config-sized tables:
    that builds a pickled Python-RDD scan with no size statistics, so
    every join against it plans as a shuffle, and each query runs a
    Python-worker job to read it. A LocalRelation has exact statistics
    (joins broadcast it) and is read in the JVM."""
    cols = [c.strip().split(None, 1) for c in schema.split(",")]
    names = [n for n, _ in cols]
    values = [r if not isinstance(r, dict) else [r.get(n) for n in names]
              for r in rows]
    tuples = ", ".join("(" + ", ".join(_sql_literal(v) for v in r) + ")"
                       for r in values)
    if not tuples:  # VALUES needs a row: one all-NULL row, filtered out
        tuples = "(" + ", ".join("NULL" for _ in cols) + ")"
    select = ", ".join(f"CAST(c{i} AS {t}) AS `{n}`"
                       for i, (n, t) in enumerate(cols))
    aliases = ", ".join(f"c{i}" for i in range(len(cols)))
    return spark.sql(f"SELECT {select} FROM VALUES {tuples} AS t({aliases})"
                     + ("" if values else " WHERE false"))


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, list):
        return "array(" + ", ".join(_sql_literal(x) for x in v) + ")"
    raise TypeError(f"local_table: unsupported value {v!r}")


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to the Python workers (the local-mode analogue
    of ``spark-submit --py-files``): pandas-UDF closures reference
    pywdcollections_spark.* and must be importable on executors
    regardless of the driver's cwd."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"pywdcollections_spark_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
