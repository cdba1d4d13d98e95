"""SparkSession factory with the pipeline's required configuration.

Session timezone is pinned to UTC: every timestamp in the engine is
UTC-normalized at parse time (the reference resolves every message
timestamp to a fixed offset — ``DateTimeL = chrono::DateTime<FixedOffset>``,
/root/reference/src/data/datetime.rs:132 — we normalize one step further
to UTC and keep the original offset out-of-band).
"""

from __future__ import annotations

import os
from datetime import timezone

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "s4spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` accepts an int (→ ``local[n]``) or a full master string.
    In local mode the driver holds all executor threads, so
    ``spark.driver.memory`` is the only memory knob that matters.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark://")) else f"local[{cores}]"
    n_shuffle = shuffle_partitions or int(os.environ.get("S4SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # commit output files in the tasks (v2), not one-by-one on the
        # driver (v1): the fan-out write produces tasks × sinks files and
        # the serial driver rename was measured as a non-scaling tail
        # that capped eff(4→16) at 16 cores
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.driver.memory", os.environ.get("S4SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    if master.startswith("local") and _workers_import_package():
        # workers import the installed pyspark, not $SPARK_HOME's source
        # zip (worker_daemon.py)
        builder = builder.config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _workers_import_package() -> bool:
    """Whether a local Python worker can import this package before its
    first task: the package's parent is a directory, and it is the
    driver's working directory (``python -m`` puts the worker's, which is
    the same, first on its path) or on ``PYTHONPATH``, which the workers
    inherit. A package that reaches the workers through ``--py-files``
    (``tools/package_pyfiles.sh``, on any master) arrives only with the
    first task, after the daemon has started."""
    parent = os.path.realpath(os.path.join(os.path.dirname(__file__), os.pardir))
    entries = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return os.path.isdir(parent) and any(e and os.path.realpath(e) == parent for e in entries)


def warm_python_workers(spark: SparkSession, tasks: int | None = None) -> None:
    """Meant to start the executor Python-worker pool and pre-import the
    parse kernel before a timed region; in fact it starts no Python worker.
    ``count()`` needs no column, so Catalyst prunes the pandas UDF from the
    plan and the job only counts ``n`` ids. The first UDF stage after it
    still starts the Python worker daemon. On a local master that is
    ``worker_daemon``, which imports the installed pyspark instead of
    compiling ``$SPARK_HOME``'s source zip, so the start is shorter but
    still in the timed region. A warm-up that evaluates the UDF would move
    it into the benchmark's ``setup_s``, so it belongs with the benchmark
    realignment in ROADMAP direction 1."""
    import pandas

    from pyspark.sql import functions as F

    n = tasks or spark.sparkContext.defaultParallelism * 4

    def _warm(s: pandas.Series) -> pandas.Series:
        from .functions import parse  # noqa: F401  (pre-import kernel deps)

        return s.astype("int32")

    _warm.__annotations__ = {"s": pandas.Series, "return": pandas.Series}
    warm_udf = F.pandas_udf(_warm, "int")
    spark.range(0, n, 1, n).select(warm_udf(F.col("id").cast("int"))).count()


def local_df(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A small driver-side table as a ``LocalRelation`` with exactly the
    ``ddl`` schema. ``spark.createDataFrame(list)`` builds a Python RDD, so
    every job over it (a broadcast build included) starts Python workers;
    an Arrow table is shipped to the JVM once and scans as a
    ``LocalTableScan``. Naive datetimes are read as local wall-clock time,
    as ``createDataFrame(list)`` and ``Row`` timestamps do."""
    from pyspark.sql.types import StructType

    return spark.createDataFrame(arrow_table(rows, ddl), StructType.fromDDL(ddl))


def arrow_table(rows: list[tuple], ddl: str):
    """``rows`` as a ``pyarrow.Table`` with the Arrow form of the ``ddl``
    schema; naive datetimes are local wall-clock time."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, TimestampType

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = [list(c) for c in zip(*rows)] if rows else [[] for _ in schema.fields]
    for field, values in zip(schema.fields, columns):
        if isinstance(field.dataType, TimestampType):
            # pyarrow keeps the wall-clock time of a non-UTC offset, so
            # every value is handed over as a UTC instant
            values[:] = [None if v is None else v.astimezone(timezone.utc) for v in values]
    return pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(columns, arrow_schema.types)], schema=arrow_schema
    )
