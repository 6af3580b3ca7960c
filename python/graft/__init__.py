"""PySpark binding for the graft engine — the Python-parity surface the
reference ships as its own package (reference: `crates/glaredb_python`,
`connect()` returning a session with `.sql()`/`.execute()`).

graft is a JVM library; this module is pure glue over the py4j gateway:
given any PySpark ``SparkSession`` whose JVM classpath carries the graft
classes (``--jars graft.jar`` or ``--driver-class-path target/scala-2.13/
classes``), it installs the engine's functions (``connect()`` sets the
``graft.GraftExtensions`` session extension, which also reaches every
``newSession()`` child) and exposes the path-as-table / ``read_*`` sugar.

Typical use::

    from pyspark.sql import SparkSession
    import graft

    spark = SparkSession.builder.getOrCreate()
    graft.register(spark)
    graft.sql(spark, "SELECT count(*) FROM 'data/lineitem.parquet'").show()
"""

from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession

__all__ = ["register", "sql", "table", "connect", "FILE_SYSTEM_CONFS"]

# The session confs that give ``file:`` graft's in-process local filesystem
# (``graft.NioLocalFs``: permissions and link targets through java.nio, no
# chmod/readlink/ls process per call); the same pairs as
# ``graft.NioLocalFs.confs``, which ``Engine.configure`` applies.
FILE_SYSTEM_CONFS = [
    ("spark.hadoop.fs.file.impl", "graft.NioLocalFileSystem"),
    ("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.NioLocalFs"),
]


def _jvm(spark: SparkSession):
    jvm = spark._jvm
    if jvm is None:  # pragma: no cover - only under Spark Connect
        raise RuntimeError(
            "graft needs a classic (JVM-gateway) SparkSession; "
            "Spark Connect sessions don't expose the graft classes")
    return jvm


def register(spark: SparkSession) -> SparkSession:
    """Ready this session for graft (``graft.Graft.install``): add the
    extension's functions if the session lacks them, switch it to the
    GlareDB dialect (the reference's trim, regexp_replace, ...) and add the
    optimizer rules. Idempotent; returns the session for chaining.
    """
    _jvm(spark).graft.Graft.install(spark._jsparkSession)
    return spark


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Run SQL with graft's source sugar resolved.

    Supports ``FROM 'path.parquet'`` path-as-table, ``read_parquet/
    read_csv/read_text/read_delta/read_iceberg`` (incl. time travel),
    ``tpch_gen.<table>(sf)``, ``iceberg.*``/``parquet.*`` metadata TVFs —
    the same rewrite the Scala `GraftSession.sql` applies.
    """
    jdf = _jvm(spark).graft.sources.GraftSession.sql(
        spark._jsparkSession, query)
    return DataFrame(jdf, spark)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Register one driver-fixture table (``<sf_dir>/<name>.parquet``) as a
    temp view through the engine's schema-cached reader and return it."""
    jdf = _jvm(spark).graft.Engine.table(spark._jsparkSession, sf_dir, name)
    return DataFrame(jdf, spark)


def connect(app_name: str = "graft", master: str = None) -> SparkSession:
    """Convenience mirror of the reference's ``glaredb.connect()``: build
    (or reuse) a SparkSession carrying ``graft.GraftExtensions`` and
    register the graft surface on it. The extension is appended to the
    ``spark.sql.extensions`` the JVM's defaults already name
    (spark-defaults.conf, ``--conf``), so those still apply. ``file:``
    gets graft's local filesystem (``FILE_SYSTEM_CONFS``)."""
    # start the JVM so SparkConf() reads its defaults
    SparkContext._ensure_initialized()
    exts = [e for e in SparkConf().get("spark.sql.extensions", "").split(",")
            if e.strip()]
    if "graft.GraftExtensions" not in exts:
        exts.append("graft.GraftExtensions")
    builder = (SparkSession.builder.appName(app_name)
               .config("spark.sql.extensions", ",".join(exts)))
    for key, value in FILE_SYSTEM_CONFS:
        builder = builder.config(key, value)
    if master:
        builder = builder.master(master)
    return register(builder.getOrCreate())
