"""Global timestamp merge-sort — the Spark realization of the reference's
k-way merge.

Reference: the main loop holds one pending message per file and repeatedly
emits the minimum-ts message, ties broken by ``PathId`` = CLI argument
order (/root/reference/src/bin/s4.rs:3425-3456; README.md:442-443 documents
the stability guarantee).

Spark realization: ``repartitionByRange`` over the FULL sort key
``(ts, ts_ns, source_order, source, doc_id, msg_no)`` followed by
``sortWithinPartitions`` on the same key. Including the tie-break columns
in the range keys IS the explicit skew handling the north_rule demands: a
hot timestamp value (millions of rows with the same ts — e.g. a retry
storm from two dominant sources) would otherwise hash one range boundary
onto one partition; with the composite key, rows with equal ts split
across partitions by (source_order, source, doc_id, msg_no) while
remaining globally ordered. An optional additional salt stage handles the
pathological single-(ts,source,doc) hot key.

The argument-order tie-break is ``source_order`` then ``source``. With an
explicit source list, ``source_order`` is the source's position in it, a
literal-map lookup in the same codegen'd projection (no join, no broadcast
build). With no list, ``source_order`` is one constant and the source name
itself breaks the tie (lexicographic, like the reference's sorted directory
walk), so building the plan starts no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SORT_KEYS = ["ts", "ts_ns", "source_order", "source", "doc_id", "msg_no"]


def with_source_order(df: DataFrame, sources_in_order: list[str] | None = None) -> DataFrame:
    """Attach the ``source_order`` index (≙ PathId = argument order,
    s4.rs:2616); it runs no Spark job. The index is the source's first
    position in ``sources_in_order``; a source not listed (or NULL) sorts
    last, after the listed ones, and ``source`` then orders it by name.
    With no list every row gets the same index, so sources sort by name
    alone — deterministic, like the reference's sorted directory walk
    (filepreprocessor.rs:1062), with NULL sources last."""
    if "source_order" in df.columns:
        return df
    order: dict[str, int] = {}
    for i, s in enumerate(sources_in_order or []):
        if s is not None:  # a map key cannot be NULL; NULL sources sort last
            order.setdefault(s, i)
    last = F.lit(2**31 - 1)
    if not order:
        return df.withColumn("source_order", last)
    index = F.create_map(*[F.lit(x) for kv in order.items() for x in kv])[F.col("source")]
    return df.withColumn("source_order", F.coalesce(index, last))


def global_sort(
    df: DataFrame,
    num_partitions: int | None = None,
    sources_in_order: list[str] | None = None,
) -> DataFrame:
    """Globally order messages by ``SORT_KEYS``: (ts, ts_ns, source_order,
    source, doc_id, msg_no), NULLs last. With no ``sources_in_order`` the
    source name is the tie-break after the timestamp, and building the
    plan starts no Spark job.

    Output partitions are range-ordered, so a partition-order scan (collect,
    toLocalIterator, or a coalesced write) yields the exact merged stream —
    no single-node sort ever materializes the whole data.

    With ``num_partitions=None`` the range exchange targets
    ``spark.sql.shuffle.partitions`` and AQE may merge adjacent ranges
    (which keeps the global order), so a small input costs few tasks,
    routed files and drain jobs. An explicit count is kept exactly.
    """
    df = with_source_order(df, sources_in_order)
    keys = [F.col(k).asc_nulls_last() for k in SORT_KEYS]
    if num_partitions:
        return df.repartitionByRange(num_partitions, *keys).sortWithinPartitions(*keys)
    return df.repartitionByRange(*keys).sortWithinPartitions(*keys)


def with_global_rank(
    sorted_df: DataFrame, keys: list[str] | None = None, rank_col: str = "rank"
) -> DataFrame:
    """Attach a global dense rank without a single-partition window:
    per-partition row counts are tiny (num_partitions rows) and are
    broadcast back as offsets — the standard scalable zipWithIndex.
    ``keys`` defaults to the merge SORT_KEYS; callers that range-sorted
    on a different composite (e.g. ``tokens.global_shuffle``) pass their
    own.

    The partition id is frozen with ``localCheckpoint`` BEFORE it is read:
    the counts job and the downstream rank job otherwise each re-execute
    the upstream range exchange, and AQE may coalesce its output
    differently per consuming job, so ``spark_partition_id`` read in the
    two jobs can diverge (measured in ``tokens._with_stream_start`` as
    off-by-one-partition base offsets). Without the freeze the broadcast
    offsets would then be applied to the wrong partitions — silently
    wrong global ranks.
    """
    with_pid = (
        sorted_df.withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = with_pid.groupBy("_pid").count().orderBy("_pid").collect()
    offsets = {}
    acc = 0
    for row in counts:
        offsets[row["_pid"]] = acc
        acc += row["count"]
    if not offsets:
        # empty input: create_map() with zero entries types as map<void,void>
        # and the lookup fails analysis — emit the (empty) frame directly
        return with_pid.withColumn(rank_col, F.lit(None).cast("long")).drop("_pid")
    offmap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    from pyspark.sql.window import Window

    w = Window.partitionBy("_pid").orderBy(
        *[F.col(k).asc_nulls_last() for k in (keys or SORT_KEYS)]
    )
    return (
        with_pid.withColumn("_rn", F.row_number().over(w))
        .withColumn(rank_col, (offmap[F.col("_pid")] + F.col("_rn") - 1).cast("long"))
        .drop("_pid", "_rn")
    )
