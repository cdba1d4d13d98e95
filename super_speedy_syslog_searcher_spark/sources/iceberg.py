"""Iceberg-or-parquet table IO.

The north_rule targets Iceberg tables (10^12-sequence corpus: min/max
stats + partition pruning on (day(ts), source), snapshot isolation for
the checkpoint/resume manifest, compaction for the fan-out sinks). This
sandbox has no Iceberg jars, so every write goes through this adapter:
when an Iceberg catalog is configured on the session the DataFrameV2
``writeTo`` path is used; otherwise plain parquet paths with the SAME
partition layout — the layout is Iceberg-compatible, a catalog import
away from a real deployment.

Production configuration (cluster side, not sandbox):

    --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.lake.type=hive  (or glue/rest/hadoop)
    --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        return None
    for k, v in confs:
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and "iceberg" in v.lower():
            return k.rsplit(".", 1)[-1]
    return None


def write_table(
    df: DataFrame,
    ident: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write to ``catalog.db.table`` (Iceberg) or a path (parquet).

    ``ident`` containing '/' is treated as a path. BOTH branches have
    dynamic-partition-overwrite semantics — ``mode="overwrite"``
    replaces only the partitions present in ``df`` and leaves the rest
    untouched (the property the resumable pipeline's re-do idempotence
    depends on): ``overwritePartitions()`` on Iceberg, the
    ``partitionOverwriteMode=dynamic`` option on parquet. A
    whole-table replace (``createOrReplace``) would destroy previously
    committed sources whose manifest rows say they are done.

    The parquet branch writes ``_SUCCESS`` in the table root after the
    commit: Spark's dynamic partition overwrite leaves none there, and
    readers go by that marker as they do for every other table."""
    spark = df.sparkSession
    cat = iceberg_catalog(spark)
    if cat and "/" not in ident:
        writer = df.writeTo(f"{cat}.{ident}")
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            if spark.catalog.tableExists(f"{cat}.{ident}"):
                writer.overwritePartitions()
            else:
                writer.createOrReplace()  # first write creates the table
        else:
            writer.append()
        return
    w = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(ident)
    fs, jpath, jvm = _hadoop_fs(spark, ident)
    fs.create(jvm.org.apache.hadoop.fs.Path(jpath, "_SUCCESS"), True).close()


def read_table(spark: SparkSession, ident: str) -> DataFrame:
    cat = iceberg_catalog(spark)
    if cat and "/" not in ident:
        return spark.table(f"{cat}.{ident}")
    return spark.read.parquet(ident)


# ---------------------------------------------------------------------------
# Hadoop-FS metadata helpers (compaction's decision + commit plumbing).
# Everything below goes through org.apache.hadoop.fs.FileSystem, so the
# same code runs on file://, hdfs:// and s3a:// — never os.listdir/rename
# (VERDICT r4 #6: the POSIX calls bound compaction to a local FS).
# ---------------------------------------------------------------------------
def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def fs_delete(spark: SparkSession, path: str) -> None:
    fs, jpath, _ = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def partition_file_stats(
    spark: SparkSession, base: str, prefix: str
) -> dict[str, list[tuple[str, int]]]:
    """``{partition_dir_name: [(file_name, bytes), ...]}`` for every
    ``prefix``-named child of ``base`` — ONE ``listStatus`` RPC per
    partition (names AND sizes come back together; never a per-file
    stat loop). Driver cost is O(#partitions + #files-of-metadata),
    bounded by the routing-key cardinality, not corpus size; a table
    whose per-partition file count outgrows driver memory should be
    maintained through its table format's manifests (Iceberg
    ``rewrite_data_files``) instead of FS listings. In-flight
    ``._compact``/``._old`` siblings from a crashed compaction are
    excluded (they are not live partitions)."""
    fs, jbase, _ = _hadoop_fs(spark, base)
    if not fs.exists(jbase):
        return {}
    out: dict[str, list[tuple[str, int]]] = {}
    for st in fs.listStatus(jbase):
        name = st.getPath().getName()
        if not st.isDirectory() or not name.startswith(prefix) or "._" in name:
            continue
        out[name] = [
            (f.getPath().getName(), int(f.getLen()))
            for f in fs.listStatus(st.getPath())
            if f.getPath().getName().endswith(".parquet")
        ]
    return out


def fs_swap_dir(spark: SparkSession, live: str, staged: str) -> None:
    """Promote ``staged`` to ``live`` without ever leaving the data
    deletable-only: rename live → live._old, rename staged → live,
    delete ._old. A crash after step 1 leaves the full partition in
    ``._old`` plus the rewrite in ``staged`` (recoverable by hand or by
    the next run's stale-sibling sweep) — never a deleted partition
    whose only copy sits in a temp dir (ADVICE r4 medium: the previous
    rmtree-then-rename order). The reader-visible gap shrinks to the
    instant between two metadata renames; a table format with atomic
    snapshot commits (Iceberg rewrite_data_files) removes even that,
    and is the production path when a catalog is configured."""
    fs, jlive, jvm = _hadoop_fs(spark, live)
    jold = jvm.org.apache.hadoop.fs.Path(live + "._old")
    jstaged = jvm.org.apache.hadoop.fs.Path(staged)
    if fs.exists(jold):
        fs.delete(jold, True)
    if not fs.rename(jlive, jold):
        raise IOError(f"compaction swap: rename {live} -> {live}._old failed")
    if not fs.rename(jstaged, jlive):
        # roll back so the partition is never missing
        fs.rename(jold, jlive)
        raise IOError(f"compaction swap: rename {staged} -> {live} failed (rolled back)")
    fs.delete(jold, True)


def recover_stale_swaps(spark: SparkSession, base: str) -> list[str]:
    """Crash recovery for the three-step swap (:func:`fs_swap_dir`) and
    its staging dirs — run before any maintenance pass:

    - ``X._old`` present with NO live ``X``: the previous run died
      between the two renames; restore the partition by renaming
      ``._old`` back (the staged rewrite, if any, is re-derivable —
      the old data is not).
    - ``X._old`` present WITH a live ``X``: the crash was after step 2;
      the live dir is already the rewrite — drop the leftover.
    - Orphaned ``X._compact`` / ``X._purge`` staging dirs: incomplete
      rewrites, safe to drop (their source partition is intact).

    Returns a log of actions taken (for the maintenance report).
    Equivalent role to Iceberg's orphan-file cleanup; with a real
    catalog the snapshot commit makes all of this moot.
    """
    fs, jbase, jvm = _hadoop_fs(spark, base)
    if not fs.exists(jbase):
        return []
    actions = []
    for st in fs.listStatus(jbase):
        name = st.getPath().getName()
        if not st.isDirectory():
            continue
        if name.endswith("._old"):
            live = name[: -len("._old")]
            jlive = jvm.org.apache.hadoop.fs.Path(f"{base}/{live}")
            if fs.exists(jlive):
                fs.delete(st.getPath(), True)
                actions.append(f"dropped {name} (live partition present)")
            else:
                if not fs.rename(st.getPath(), jlive):
                    raise IOError(f"recover: rename {name} -> {live} failed")
                actions.append(f"restored {live} from {name}")
        elif name.endswith("._compact") or name.endswith("._purge"):
            fs.delete(st.getPath(), True)
            actions.append(f"dropped staging dir {name}")
    return actions
