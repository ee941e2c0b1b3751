"""Storage adapter: Iceberg tables when the runtime is present, parquet
paths otherwise.

The target deployment stores transcripts/edges/clusters as Iceberg
tables (SURVEY.md §1.4 "Storage"): partition evolution, snapshot
isolation for the checkpoint/resume protocol, and `writeTo(...).append()`
for the scored-pair log. The Iceberg Spark runtime jar is not present
in this sandbox, so every call degrades to plain parquet with the SAME
call shape — the pipeline and CLI are storage-agnostic by construction.

A real Iceberg round-trip test was attempted in round 5 and is
IMPOSSIBLE here: the container has no network (repo1.maven.org does not
resolve) and no Iceberg jar anywhere on disk (verified by a full-fs
find), so ``--packages``/ivy cannot fetch the runtime. The refusal path
(tests/test_cli_io.py::test_io_iceberg_requires_runtime) and the
``iceberg_available`` gate remain the tested surface; the round-trip
test is the first thing to add on a cluster with the runtime jar.

Address forms accepted everywhere a ``src`` or ``dst`` appears:

* ``iceberg:catalog.db.table`` — explicit Iceberg table identifier
  (requires the runtime; raises a clear error otherwise);
* ``db.table``-looking identifiers when Iceberg is available;
* anything else — a filesystem path read/written as parquet.

Nothing here registers a catalog table: a conv_id-bucketed copy of the
stream state measured no gain for its only reader (BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_ICEBERG_PREFIX = "iceberg:"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the session classpath."""
    try:
        # py4j hands back a JavaPackage stub for unknown names instead of
        # raising, so force real classloading.
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _want_iceberg(src: str) -> bool:
    return src.startswith(_ICEBERG_PREFIX)


def read_table(spark: SparkSession, src: str) -> DataFrame:
    """Read transcripts/labeled pairs from an Iceberg table or a parquet
    path (see module docstring for address forms)."""
    if _want_iceberg(src):
        name = src[len(_ICEBERG_PREFIX) :]
        if not iceberg_available(spark):
            raise RuntimeError(
                f"{src!r} requests an Iceberg table but the Iceberg Spark "
                "runtime is not on the classpath; submit with "
                "--packages org.apache.iceberg:iceberg-spark-runtime-... "
                "or pass a parquet path"
            )
        return spark.read.format("iceberg").load(name)
    return spark.read.parquet(src)


def write_table(
    df: DataFrame, dst: str, mode: str = "overwrite"
) -> None:
    """Write a result table: ``writeTo(...).append()/createOrReplace()``
    for Iceberg identifiers, parquet ``save`` otherwise. ``mode`` is
    'overwrite' or 'append' (the scored-pair checkpoint log appends)."""
    if _want_iceberg(dst):
        name = dst[len(_ICEBERG_PREFIX) :]
        spark = df.sparkSession
        if not iceberg_available(spark):
            raise RuntimeError(
                f"{dst!r} requests an Iceberg table but the Iceberg Spark "
                "runtime is not on the classpath"
            )
        writer = df.writeTo(name)
        if mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
        return
    df.write.mode(mode).parquet(dst)
