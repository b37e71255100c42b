"""SparkSession helpers: engine defaults + --py-files-style self-shipping.

The engine is packaged for ``spark-submit --py-files geojson_spark.zip``
(north rule). When launched any other way (notebook, driver harness, REPL),
``attach_package`` re-creates that contract at runtime: it zips the package
and ships it to executors via ``addPyFile`` so pandas-UDF workers can import
``geojson_spark`` regardless of the driver's cwd.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_ATTACHED: set[str] = set()


def attach_package(spark: SparkSession) -> None:
    """Ship this package to executors (idempotent per SparkContext).

    Also pins ``spark.sql.session.timeZone`` to UTC (runtime-settable,
    per-session, so this covers externally-created sessions too): NTZ→TZ
    casts and ``F.window`` bucketing otherwise follow the HOST timezone,
    which would shear hour windows by the host's UTC offset and break
    engine↔oracle parity on any non-UTC machine."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sc = spark.sparkContext
    # applicationId, NOT id(sc): CPython recycles freed addresses, so a
    # fresh context created after an old one is GC'd can collide with a
    # stale id() entry and silently skip the addPyFile — every pandas-UDF
    # task on the new context would then die with ModuleNotFoundError
    key = sc.applicationId
    if key in _ATTACHED:
        return
    import geojson_spark

    pkg_dir = os.path.dirname(os.path.abspath(geojson_spark.__file__))
    zpath = os.path.join(tempfile.gettempdir(), f"geojson_spark_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("geojson_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    _ATTACHED.add(key)


def get_spark(
    master: str | None = None,
    app_name: str = "geojson-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Engine-default session: AQE + skew join + Arrow on, sane batch size,
    ERROR-level logging, package attached for pandas-UDF workers."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    attach_package(spark)
    return spark
