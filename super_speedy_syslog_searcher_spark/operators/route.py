"""Routing / fan-out: write messages to per-sink tables.

Reference analogue: each message goes to exactly one printer keyed by
``PathId`` (/root/reference/src/bin/s4.rs:3397-3418); the north_rule
generalizes to fan-out sinks keyed by ``sink_key = facility.severity_class``.

Spark realization: a single ``write.partitionBy("sink_key")`` — one job,
no per-sink re-scan; dynamic partition overwrite keeps re-runs idempotent
per sink. Output stays PARQUET (Iceberg jars are absent in the sandbox —
writes go through ``catalog.py``-style path tables; the layout is
Iceberg-compatible: partition column + snapshot-ish manifest in
plans/pipeline.py).

Per-sink aggregate counts ≙ ``SummaryPrinted``
(/root/reference/src/printer/summary.rs:151-171): messages, lines, bytes
(chars), dt_first, dt_last.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df


def route_write(
    enriched: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
    file_tasks: int | None = None,
) -> None:
    """Fan-out write, partitioned by the routing key.

    By default each task writes its local share of every sink (no extra
    shuffle — tasks × sinks files). Pass ``file_tasks`` to pre-shuffle on
    (sink_key, salt), bounding output to that many files when file-count
    pressure outweighs one more pass over the data; the salt lanes keep a
    hot sink spread over many tasks (explicit skew handling).
    """
    if file_tasks:
        salt = F.pmod(F.xxhash64("doc_id"), F.lit(max(file_tasks // 4, 1)))
        enriched = enriched.repartition(file_tasks, F.col("sink_key"), salt)
    # catalog-or-parquet: Iceberg writeTo when the session has a catalog
    # (the north_rule's sink tables), byte-identical dynamic-partition
    # parquet in this sandbox — sources/iceberg.py
    from ..sources.iceberg import write_table

    write_table(enriched, out_dir, partition_by=["sink_key"], mode=mode)


def sink_counts_from_path(spark, out_dir: str) -> DataFrame:
    """Per-sink aggregates computed from the COMMITTED sink files — the
    counts then describe exactly what readers will see (and the big
    upstream DAG is not re-executed just to count)."""
    from ..sources.iceberg import read_table

    return sink_counts(read_table(spark, out_dir))


def sink_counts(enriched: DataFrame) -> DataFrame:
    """Per-sink aggregates (the driver-checked counts; A6)."""
    return enriched.groupBy("sink_key").agg(
        F.count("*").alias("messages"),
        F.sum("n_lines").alias("lines"),
        F.sum("n_chars").alias("bytes"),
        F.min("ts").alias("dt_first"),
        F.max("ts").alias("dt_last"),
    )


def _sink_base(spark, out_dir: str) -> str:
    """The routed table under ``out_dir`` (or ``out_dir`` itself), with any
    swap a crashed maintenance pass left behind recovered first."""
    from ..sources.iceberg import fs_exists, recover_stale_swaps

    base = f"{out_dir}/routed" if fs_exists(spark, f"{out_dir}/routed") else out_dir
    recover_stale_swaps(spark, base)
    return base


def _rewrite_sinks(spark, out_dir: str, rewrite) -> list[tuple]:
    """The per-sink rewrite loop of :func:`compact_sinks` and
    :func:`optimize_sinks`. ``rewrite(pdir, n_files, bytes)`` returns the
    sink's new contents, or None to leave it as it is. Each rewrite is
    staged beside the live dir and promoted by the crash-safe three-step
    swap (``fs_swap_dir``). Returns ``(sink_key, n_files_before,
    n_files_after, bytes, rewritten)`` per sink."""
    from ..sources.iceberg import fs_delete, fs_swap_dir, partition_file_stats

    base = _sink_base(spark, out_dir)
    stats = partition_file_stats(spark, base, prefix="sink_key=")
    report = []
    for entry in sorted(stats):
        pdir = f"{base}/{entry}"
        files = stats[entry]
        nbytes = sum(sz for _, sz in files)
        sink = entry.split("=", 1)[1]
        new = rewrite(pdir, len(files), nbytes)
        if new is None:
            report.append((sink, len(files), len(files), nbytes, False))
            continue
        # sweep any stale staging dir from a previously crashed run first
        tmp = pdir + "._compact"
        fs_delete(spark, tmp)
        new.write.mode("overwrite").parquet(tmp)
        fs_swap_dir(spark, pdir, tmp)
        after = len(partition_file_stats(spark, base, prefix=entry).get(entry, []))
        report.append((sink, len(files), after, nbytes, True))
    return report


def compact_sinks(
    spark,
    out_dir: str,
    target_bytes: int = 128 << 20,
    min_files: int = 2,
) -> DataFrame:
    """Small-files compaction for the routed sink tables — the
    maintenance job every high-fan-out log sink needs (a day of
    micro-batches leaves thousands of KB-scale files per sink; readers
    then pay per-file open cost and the table's metadata layer swells).
    Equivalent to Iceberg's rewrite_data_files at the parquet layout.

    Per sink partition: if it holds ≥ ``min_files`` files AND more
    than one file per ``target_bytes`` of data, rewrite it to
    ``ceil(bytes / target_bytes)`` files via a repartition write;
    otherwise leave it untouched (no write amplification on already-
    compact sinks). The rewrite is per-partition dynamic overwrite —
    idempotent, and readers of untouched sinks never see churn.
    Row contents are checksum-stable (a pure rewrite).

    Scale shape: the decision pass reads FILE METADATA only — one
    Hadoop-FS ``listStatus`` per sink partition (names + sizes in one
    RPC; works on file://, hdfs://, s3a:// alike — never POSIX
    os.listdir), O(#sinks) driver cost; each selected sink rewrites
    independently. The commit is the crash-safe three-step swap of
    ``fs_swap_dir`` (live → ._old, staged → live, drop ._old): no step
    leaves the partition's only copy in a temp dir. On a real Iceberg
    catalog use ``rewrite_data_files`` instead — its snapshot commit
    removes even the between-renames visibility gap. Returns the
    per-sink compaction report
    ``(sink_key, n_files_before, n_files_after, bytes)``.
    """
    import math

    def rewrite(pdir: str, n_files: int, nbytes: int) -> DataFrame | None:
        want = max(1, math.ceil(nbytes / target_bytes))
        if n_files < min_files or n_files <= want:
            return None
        return spark.read.parquet(pdir).repartition(want)

    return local_df(
        spark,
        [r[:4] for r in _rewrite_sinks(spark, out_dir, rewrite)],
        "sink_key string, n_files_before int, n_files_after int, bytes long",
    )


def propagate_deletes(
    spark,
    out_dir: str,
    predicate,
    partition_col: str = "sink_key",
) -> DataFrame:
    """Targeted row purge across the routed sinks — the
    right-to-be-forgotten / bad-batch-retraction maintenance job
    (Iceberg ``DELETE FROM`` semantics at the parquet layout, the
    sibling of :func:`compact_sinks`).

    Deletion = rows where ``predicate`` is strictly TRUE; a NULL
    predicate keeps the row (never silently widen a purge). Partitions
    with zero matches are NEVER rewritten — their files stay
    byte-identical (the compaction discipline: no write amplification,
    no reader churn outside the blast radius).

    Scale shape: the decision pass is one aggregate over the predicate
    columns producing ≤ |partitions| rows; each dirty partition then
    rewrites independently through the crash-safe three-step swap
    (``fs_swap_dir``). A partition whose every row matches is deleted
    outright. Re-running after any crash point converges (idempotent:
    the second pass finds either the old rows — and purges again — or
    zero matches). On a real Iceberg catalog use ``DELETE FROM`` /
    position deletes instead; the snapshot commit removes even the
    between-renames visibility gap.

    Returns the purge report
    ``(sink_key, rows_before, rows_deleted, rows_after, rewritten)``.
    """
    from ..sources.iceberg import fs_delete, fs_swap_dir

    base = _sink_base(spark, out_dir)
    table = spark.read.option("basePath", base).parquet(f"{base}/{partition_col}=*")
    hit = F.coalesce(predicate.cast("boolean"), F.lit(False))
    counts = {
        r["_p"]: (r["_n"], r["_d"])
        for r in table.groupBy(F.col(partition_col).alias("_p"))
        .agg(F.count("*").alias("_n"), F.sum(hit.cast("long")).alias("_d"))
        .collect()
    }
    report = []
    for part in sorted(counts):
        n, d = counts[part]
        pdir = f"{base}/{partition_col}={part}"
        if not d:
            report.append((part, n, 0, n, False))
            continue
        if d == n:
            # every row matches: drop the partition outright
            fs_delete(spark, pdir)
            report.append((part, n, d, 0, True))
            continue
        # read through basePath so the predicate may reference the
        # partition column too; survivors drop it (partition value lives
        # in the directory name, matching route_write's layout)
        survivors = (
            table.filter(F.col(partition_col) == part).filter(~hit).drop(partition_col)
        )
        tmp = pdir + "._purge"
        fs_delete(spark, tmp)
        survivors.write.mode("overwrite").parquet(tmp)
        fs_swap_dir(spark, pdir, tmp)
        report.append((part, n, d, n - d, True))
    return local_df(
        spark,
        report,
        f"{partition_col} string, rows_before long, rows_deleted long, "
        "rows_after long, rewritten boolean",
    )


def optimize_sinks(
    spark,
    out_dir: str,
    codes,
    bits: int = 8,
    target_bytes: int = 128 << 20,
    min_files: int = 2,
) -> DataFrame:
    """Layout-optimizing rewrite of the routed sinks — Delta/Iceberg
    ``OPTIMIZE ... ZORDER BY`` at the parquet layout, completing the
    maintenance trio (:func:`compact_sinks` merges small files,
    :func:`propagate_deletes` purges rows, this clusters what remains
    so multi-dimension predicates prune files via footer stats).

    ``codes`` is a callable ``df -> list[Column]`` producing the
    dimension codes from each sink's own columns (evaluated per
    partition so it can reference any data column). Per sink: skip if
    fewer than ``min_files`` files (nothing to gain — the z-sort inside
    one file is row-group-level only and the rewrite cost isn't free);
    otherwise rewrite to ``ceil(bytes/target_bytes)`` z-clustered files
    through the crash-safe three-step swap. Rows are checksum-stable (a
    pure rewrite); the report mirrors compaction's.
    """
    import math

    from .zorder import zorder_layout

    def rewrite(pdir: str, n_files: int, nbytes: int) -> DataFrame | None:
        if n_files < min_files:
            return None
        part = spark.read.parquet(pdir)
        want = max(1, math.ceil(nbytes / target_bytes))
        return zorder_layout(part, codes(part), bits=bits, num_files=want).drop("z")

    return local_df(
        spark,
        _rewrite_sinks(spark, out_dir, rewrite),
        "sink_key string, n_files_before int, n_files_after int, bytes long, rewritten boolean",
    )
