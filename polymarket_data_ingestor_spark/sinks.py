"""Partitioned lake writer: the storage-layout half of the 100 TB story.

The reference's durable outputs are a flat tick parquet and hourly JSONL
logs (``cli/src/main.rs`` replay sink; the collector's hourly rotation).
At cluster scale, the LAYOUT of the lake decides every later query's
cost: partition directories give free partition pruning (a time-range
query opens only its days), and file sizing decides task granularity
(10⁶ tiny files kill the driver; 10 GB files kill parallel retries).
This module packages those two decisions:

* hive-style ``partitionBy`` directories on a derived date (or any
  low-cardinality columns) — Spark's reader turns ``WHERE dt = ...``
  into directory pruning, checked by the ``PartitionFilters`` plan gate
  in ``tests/test_sinks.py``;
* ``maxRecordsPerFile`` caps file size without an extra repartition
  job, and an optional pre-shuffle on the partition columns sends each
  directory's rows to ONE writer task (otherwise EVERY upstream task
  writes a sliver into every directory it touches: tasks x partitions
  small files).

Every partitioned write here, and the tick lake's
(``operators.replay.write_tick_lake``), goes through :func:`_write_lake`.
Its pre-shuffle is a numbered exchange, so AQE keeps one writer task per
shuffle partition instead of merging a small shuffle into one task; the
rule and its cost at cluster scale are in the AQE bullet of
:func:`polymarket_data_ingestor_spark.session.get_spark`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_date_partition(
    df: DataFrame, ts_col: str = "ts", col_name: str = "dt"
) -> DataFrame:
    """Derive the standard daily partition column (DATE, not string —
    the reader prunes on typed comparisons without casts)."""
    return df.withColumn(
        col_name, F.to_date(F.col(ts_col).cast("timestamp"))
    )


def write_partitioned_lake(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("dt",),
    max_records_per_file: int = 5_000_000,
    coalesce_partitions: bool = True,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a hive-partitioned parquet lake.

    ``max_records_per_file`` bounds file size (Spark splits a task's
    output stream when it passes the cap — no extra job). With
    ``coalesce_partitions`` (default) the data is shuffled on the
    partition columns first, so each output directory is written by the
    one task that owns it — files per directory ≈ data volume / cap,
    not (upstream tasks × directories). Disable it when the input
    is already clustered by the partition columns (e.g. a streaming
    micro-batch of one hour) and the shuffle would be pure cost.

    Partition columns must be low-cardinality (days, sources, hours —
    not doc ids): every distinct tuple is a directory, and object
    listings beyond ~10⁵ directories hurt every reader. That guidance
    mirrors the reference's own hourly-file rotation
    (``collector`` hourly logs), which is exactly a time-partitioned
    layout by hand.
    """
    _write_lake(
        df, path, partition_cols, mode, shuffle=coalesce_partitions,
        maxRecordsPerFile=max_records_per_file,
    )


def _write_lake(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...],
    mode: str,
    shuffle: bool = True,
    **options,
) -> None:
    """Write ``df`` as hive-partitioned parquet under ``path``, passing
    ``options`` to the writer. With ``shuffle``, rows are first
    hash-repartitioned on ``partition_cols`` into
    ``spark.sql.shuffle.partitions`` tasks: each directory's rows go to
    exactly one task, so it gets one file (or one per
    ``maxRecordsPerFile`` rows), and the directories are written in
    parallel. The count is explicit because AQE coalesces an unnumbered
    repartition by bytes, and a small shuffle then writes every
    directory on one task (see ``get_spark``'s AQE bullet)."""
    if shuffle:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartition(n, *partition_cols)
    df.write.mode(mode).options(**options).partitionBy(
        *partition_cols
    ).parquet(path)


def overwrite_lake_partitions(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("dt",),
    max_records_per_file: int = 5_000_000,
) -> None:
    """Backfill/correct a lake in place: replace ONLY the partitions
    present in ``df``, leaving every other directory byte-untouched.

    The late-data answer for an append-mostly time-partitioned lake: a
    corrected day (re-replayed hour, revised labels) is rewritten as a
    whole partition — idempotent, no read-modify-write of row groups,
    no touch of the other 10⁵ days. Uses Spark's dynamic partition
    overwrite (``partitionOverwriteMode=dynamic``), set per-write via
    ``DataFrameWriter.option`` so the session default stays untouched
    for concurrent jobs.

    The unit of replacement is the PARTITION: ``df`` must carry every
    row the touched partitions should end with (replay the whole day,
    not the delta) — rows previously in a touched partition but absent
    from ``df`` are gone afterwards. That is the semantics a
    deterministic replay pipeline wants: re-derive the day from the
    immutable logs and swap it in.
    """
    _write_lake(
        df, path, partition_cols, "overwrite",
        partitionOverwriteMode="dynamic",
        maxRecordsPerFile=max_records_per_file,
    )


def delete_from_lake(
    spark,
    path: str,
    ids: DataFrame,
    id_col: str,
    partition_cols: tuple[str, ...] = ("dt",),
    max_records_per_file: int = 5_000_000,
) -> int:
    """Targeted row deletion from a partitioned lake — the
    right-to-be-forgotten / takedown primitive: rewrite ONLY the
    partitions that contain a target id (anti-join keeps the rest of
    their rows), leave every other directory byte-untouched, and
    return how many partitions were rewritten.

    Plain parquet has no row deletes, so the unit of rewrite is the
    partition — the same unit as :func:`overwrite_lake_partitions` —
    and the cost is proportional to the TOUCHED data, never the lake:
    a broadcast semi-join finds the touched partition values, a
    broadcast anti-join drops the target rows, dynamic partition
    overwrite swaps the directories.

    Reading and overwriting the same path in one plan is illegal in
    Spark (and rightly — tasks would delete their own input), so the
    kept rows are materialized with ``localCheckpoint`` BEFORE the
    write. That is safe here even under executor loss: the checkpoint
    blocks exist before any file is touched, and dynamic overwrite
    deletes directories only at COMMIT — a failure anywhere before
    that leaves the lake intact and the job simply re-runs. (The
    general lineage caveat on executor-held checkpoint blocks —
    see ``dedup.dup_components`` — trades against a staging-directory
    double write; for a maintenance job with job-level retry the
    checkpoint is the cheaper correct choice.)

    Fully-emptied partitions (every row matched a target id) need
    explicit handling: dynamic partition overwrite rewrites only
    partitions PRESENT in the written DataFrame, so a partition with
    zero surviving rows would be left byte-untouched on disk — the
    exact rows a takedown was supposed to remove. Those directories
    are deleted through the Hadoop FileSystem API after the rewrite
    commits, and the delete is verified (a failed delete raises rather
    than silently reporting the partition as handled).

    Partition membership is evaluated NULL-SAFELY (``<=>`` against the
    collected touched values): a plain equi-join can never match a
    NULL partition value, which would route the entire
    ``__HIVE_DEFAULT_PARTITION__`` directory into the emptied-delete
    path while its surviving rows still exist — active data loss.
    Collecting the touched partition list once (it is a partition list,
    inherently small) also keeps the lake-scan count at two (touched +
    keep) rather than re-running the touched subplan per consumer.
    """
    lake = spark.read.parquet(path)
    targets = F.broadcast(ids.select(id_col).distinct())
    touched_rows = (
        lake.join(targets, id_col, "semi")
        .select(*partition_cols)
        .distinct()
        .collect()
    )  # partition values only: tiny
    if not touched_rows:
        return 0
    keep = (
        lake.filter(
            _partition_predicate(lake, partition_cols, touched_rows)
        )
        .join(targets, id_col, "anti")
        .localCheckpoint(eager=True)
    )
    # Partitions where NO row survived: dynamic overwrite cannot see
    # them (keep carries no row with their partition value), so their
    # directories must be removed explicitly. Derived in Python from
    # the (cheap, checkpointed) keep side — no third lake scan, and no
    # null-unsafe anti-join.
    keep_parts = {
        tuple(r[c] for c in partition_cols)
        for r in keep.select(*partition_cols).distinct().collect()
    }
    emptied = [
        row for row in touched_rows
        if tuple(row[c] for c in partition_cols) not in keep_parts
    ]
    if keep_parts:
        overwrite_lake_partitions(
            keep, path, partition_cols, max_records_per_file
        )
    if emptied:
        _delete_partition_dirs(spark, path, partition_cols, emptied)
    return len(touched_rows)


def _lake_has_data_files(spark, path: str) -> bool:
    """True iff ``path`` exists AND contains at least one non-hidden
    data file (recursive). Distinguishes the two safe first-load cases
    — no directory, or a pre-created / fully-emptied one holding only
    markers like ``_SUCCESS`` — from a real lake, WITHOUT catching read
    exceptions (a transient read failure must raise, never be mistaken
    for 'first load' and trigger a full overwrite). The remote iterator
    stops at the first data file, so a populated lake answers in one
    listing step."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return False
    it = fs.listFiles(root, True)  # recursive
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            return True
    return False


def _partition_predicate(df, partition_cols, rows):
    """OR-of-AND null-safe membership predicate over collected partition
    value rows: ``(c1 <=> v1 AND c2 <=> v2) OR ...``. Literal NULLs are
    cast to the column's type so ``<=>`` compares typed values. Row
    count is a partition list — small by the lake layout contract — so
    the expression stays well inside plan-size limits."""
    types = {f.name: f.dataType for f in df.schema.fields}
    pred = F.lit(False)
    for row in rows:
        clause = F.lit(True)
        for c in partition_cols:
            clause = clause & F.col(c).eqNullSafe(
                F.lit(row[c]).cast(types[c])
            )
        pred = pred | clause
    return pred


def _delete_partition_dirs(spark, path, partition_cols, rows) -> None:
    """Remove hive-style partition directories for the given partition
    value rows via the Hadoop FileSystem API (works on HDFS/S3A/local
    alike). Loud-failure contract, both directions: raises if a
    directory cannot be deleted, AND raises if it does not exist —
    every row here was just observed in the lake scan, so a missing
    directory means the rendered path diverged from what Spark wrote
    (a silently-skipped takedown target is active data retention).

    Rendering goes through Spark's OWN cast-to-string on a driver-local
    DataFrame (a handful of partition rows, no lake scan) rather than
    Python ``str()``: Python renders ``True``/``datetime`` where
    Spark's partition paths use ``true`` / ``2024-01-01 00:00:00`` —
    exact by construction beats per-type mimicry."""
    jvm = spark._jvm
    jsc = spark._jsc
    conf = jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    part_schema = (
        spark.read.parquet(path).select(*partition_cols).schema
    )
    rendered = spark.createDataFrame(rows, schema=part_schema).select(
        [F.col(c).cast("string").alias(c) for c in partition_cols]
    ).collect()
    for row in rendered:
        parts = []
        for c in partition_cols:
            v = row[c]
            sval = (
                "__HIVE_DEFAULT_PARTITION__"
                if v is None
                else esc.escapePathName(v)
            )
            parts.append(f"{c}={sval}")
        p = jvm.org.apache.hadoop.fs.Path(root, "/".join(parts))
        if not fs.exists(p):
            raise IOError(
                f"emptied partition {p} not found on disk — it was "
                "observed in the lake scan moments ago, so the rendered "
                "path diverged from Spark's partition layout; refusing "
                "to silently skip a takedown target"
            )
        if not fs.delete(p, True):
            raise IOError(f"failed to delete emptied partition {p}")


def upsert_lake_partitions(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_cols: tuple[str, ...] = ("dt",),
    max_records_per_file: int = 5_000_000,
) -> int:
    """MERGE (upsert) a batch of keyed rows into a partitioned lake —
    the CDC companion to :func:`delete_from_lake`: rows in ``updates``
    REPLACE lake rows with the same key, other rows of the touched
    partitions survive, brand-new keys (including whole new partitions)
    are inserted, and every untouched directory stays byte-identical.
    Returns the number of partitions written.

    Plain parquet has no row updates, so — like the delete — the unit
    of rewrite is the partition: the touched partitions' surviving rows
    (anti-join on the key) are unioned with the update batch,
    materialized via ``localCheckpoint`` (same read-then-overwrite
    legality and commit-time safety argument as
    :func:`delete_from_lake`), and swapped in with dynamic partition
    overwrite; partitions only present in ``updates`` are created by
    the same write. Cost is proportional to the TOUCHED partitions +
    the batch, never the lake.

    Contract: ``updates`` must carry the partition columns (derive them
    upstream exactly as the lake writer did) with the SAME partition
    value the key already lives under — a key that "moves" partitions
    would leave its old row alive in an untouched directory (this
    function cannot see it without scanning the whole lake). Callers
    migrating keys across partitions must ``delete_from_lake`` first.
    Keys are expected unique per batch; if a key repeats in ``updates``
    both rows land (this is a row replacement, not a last-writer-wins
    aggregation — dedup the batch upstream, e.g. ``snapshot_diff``'s
    typed-CDC output is already unique per key).

    First load (no lake at ``path`` yet) degrades to a plain
    partitioned write of the batch — detected by an explicit Hadoop
    ``FileSystem.exists`` probe, NEVER by catching the read's
    exception: a transient read failure (S3 hiccup, one corrupt
    footer) misread as "first load" would static-overwrite the entire
    existing lake with just the batch. A genuinely failing read on an
    existing lake raises to the caller, which is the only safe answer.

    Touched-partition membership is evaluated null-safely (``<=>``
    against the collected batch partition values): a plain semi-join
    can never match NULL partition values, so the existing
    ``__HIVE_DEFAULT_PARTITION__`` rows would silently vanish from the
    survivors whenever the batch touches that partition.
    """
    if not _lake_has_data_files(spark, path):
        # first load: no lake, or a pre-created / fully-emptied
        # directory holding no data files — nothing to merge with
        write_partitioned_lake(
            updates, path, partition_cols,
            max_records_per_file=max_records_per_file,
        )
        return updates.select(*partition_cols).distinct().count()
    # persist: updates otherwise feeds THREE separate actions (touched
    # partitions, the key anti-join, the union) — cheap for a parquet
    # re-read, but a library caller passing a derived/expensive plan
    # (or apply_cdc_stream, per micro-batch) would re-run its whole
    # upstream 3x (review finding)
    updates = updates.persist()
    try:
        touched_rows = (
            updates.select(*partition_cols).distinct().collect()
        )
        if not touched_rows:
            return 0
        lake = spark.read.parquet(path)
        up_keys = updates.select(*key_cols).distinct()
        # NULL-SAFE key match: a plain column-list anti-join never
        # matches NULL = NULL, so a NULL-key lake row could never be
        # replaced and its NULL-key update would insert a duplicate,
        # accreting one more copy per CDC micro-batch (review finding;
        # the module was already null-safe for partition VALUES)
        touched = lake.filter(
            _partition_predicate(lake, partition_cols, touched_rows)
        )
        cond = None
        for k in key_cols:
            # reference the JOIN's own left side (touched), not the
            # pre-filter lineage — a cross-lineage column reference
            # breaks resolution
            c = touched[k].eqNullSafe(up_keys[k])
            cond = c if cond is None else cond & c
        survivors = touched.join(up_keys, cond, "anti")
        merged = survivors.unionByName(
            updates.select(*lake.columns)
        ).localCheckpoint(eager=True)
        overwrite_lake_partitions(
            merged, path, partition_cols, max_records_per_file
        )
        return len(touched_rows)
    finally:
        updates.unpersist()


def compact_lake_partitions(
    spark,
    path: str,
    partition_cols: tuple[str, ...] = ("dt",),
    max_records_per_file: int = 5_000_000,
    partition_filter: str | None = None,
) -> int:
    """Small-file compaction: rewrite the named partitions (or, with no
    filter, the whole lake) so each directory holds ~rows/cap files
    instead of the task×directory slivers that accumulate from
    streaming micro-batches and incremental appends — the maintenance
    job that keeps listing and task-scheduling overhead flat as a lake
    ages. Returns the number of partitions rewritten.

    ``partition_filter`` is a SQL predicate over the partition columns
    (e.g. ``"dt < '2024-05-01'"``): it prunes at the DIRECTORY level
    (plan-gated in tests via PartitionFilters), so compacting last
    month never lists — let alone reads — the rest of the lake. Rows
    are byte-identical before and after; only the file layout changes.
    Same localCheckpoint-then-dynamic-overwrite mechanics (and the
    same commit-time safety argument) as :func:`delete_from_lake`.
    """
    lake = spark.read.parquet(path)
    if partition_filter is not None:
        # The filter MUST reference only partition columns: lake.filter
        # prunes ROWS, and the surviving rows are dynamic-overwritten
        # back — a predicate on a data column would silently DELETE
        # every non-matching row in the touched partitions while
        # reporting a successful compaction (review finding; the
        # docstring promises rows byte-identical before/after).
        # Analysis-time check, zero jobs: resolve the predicate against
        # an EMPTY RELATION holding only the partition columns — a
        # filter on a projection would NOT do (ResolveMissingReferences
        # lets a filter see through a Project to pruned columns), but a
        # relation that never had the column genuinely cannot resolve
        # it.
        try:
            from pyspark.sql.types import StructType

            part_schema = StructType(
                [f for f in lake.schema.fields
                 if f.name in partition_cols]
            )
            spark.createDataFrame([], part_schema).filter(
                partition_filter
            ).schema
        except Exception as e:
            raise ValueError(
                f"compact_lake_partitions: partition_filter "
                f"{partition_filter!r} must reference only the partition "
                f"columns {partition_cols} — a data-column predicate "
                f"would silently drop non-matching rows from every "
                f"rewritten partition ({e})"
            ) from None
        lake = lake.filter(partition_filter)
    rewritten = lake.localCheckpoint(eager=True)
    n_touched = (
        rewritten.select(*partition_cols).distinct().count()
    )
    if n_touched == 0:
        return 0
    overwrite_lake_partitions(
        rewritten, path, partition_cols, max_records_per_file
    )
    return n_touched


def expire_lake_partitions(
    spark,
    path: str,
    older_than: str,
    partition_col: str = "dt",
    dry_run: bool = False,
) -> list[str]:
    """Time-based retention: drop every top-level partition of a
    hive-layout lake whose value sorts strictly below ``older_than``.
    Returns the expired partition values (sorted), which makes
    ``dry_run=True`` the audit mode.

    The comparison is LEXICOGRAPHIC on the directory-encoded value —
    exactly right for the lake's own date (``dt=2024-05-01``) and hour
    (``file_hour=2025-09-30-14``) layouts, where ISO ordering and
    string ordering coincide; it is the retention analogue of the
    reference's filename-range pruning (``cli/src/file_reader.rs``
    derives order from the same encoding). Cost is a directory LISTING
    plus one recursive delete per expired partition — zero Spark jobs,
    zero data reads; at 100 TB that is the difference between a
    metadata operation and a compaction-sized scan. Complements
    :func:`delete_from_lake` (row-targeted, scans touched partitions)
    for the whole-partition age-out case.

    Null partitions (``__HIVE_DEFAULT_PARTITION__``) are never expired
    — rows without a date cannot be proven old; handle them with the
    row-level delete if needed.
    """
    if "=" in older_than:
        # a 'dt=2024-01-01'-style cutoff would lexicographically sort
        # above every bare value and silently expire nothing
        raise ValueError(
            f"older_than must be a bare partition VALUE, got {older_than!r}"
        )
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        raise FileNotFoundError(f"lake not found: {path}")
    esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    prefix = f"{partition_col}="
    expired = []
    seen_prefixes = set()
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name:
            seen_prefixes.add(name.split("=", 1)[0])
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        raw = name[len(prefix):]
        if raw == "__HIVE_DEFAULT_PARTITION__":
            continue
        value = esc.unescapePathName(raw)
        if value < older_than:
            expired.append(value)
            if not dry_run and not fs.delete(st.getPath(), True):
                raise IOError(f"failed to delete expired partition {name}")
    if partition_col not in seen_prefixes and seen_prefixes:
        # a typo'd column name against a real hive layout would report
        # "0 expired" forever — retention silently not happening
        raise ValueError(
            f"lake partitions {sorted(seen_prefixes)} do not include "
            f"{partition_col!r}"
        )
    return sorted(expired)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...] = ("asset_id",),
    n_buckets: int = 64,
    sort_cols: tuple[str, ...] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally per-bucket-sorted)
    table: the pay-the-shuffle-once layout for join/groupBy-heavy keys.

    At 100 TB the dominant recurring cost of a tick lake is the
    re-shuffle every equi-join and aggregation on the hot key
    (``asset_id``) performs. Hive-style bucketing moves that exchange
    to WRITE time: rows are hash-partitioned into ``n_buckets`` files
    per partition, and Spark's scan reports the hash distribution to
    the planner, so

    * a join of two tables bucketed on the same key with the same
      bucket count runs with ZERO Exchange on either side;
    * ``groupBy`` on the bucket key aggregates in place (no exchange);
    * a point predicate on the bucket key prunes to 1/``n_buckets`` of
      the files (``SelectedBucketsCount`` in the scan node) — note the
      planner auto-disables bucketed scans for filter-only queries
      (no join/agg wants the distribution, and a bucketed scan forbids
      file splitting); point-lookup-heavy workloads set
      ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false``.

    All three are machine-checked in ``tests/test_sinks.py``. This is
    the batch-lake analogue of the reference's market→connection
    sharding (``collector/src/client/mod.rs``: each asset's stream is
    pinned to one connection — here each asset's rows are pinned to
    one bucket file).

    Mechanics worth knowing at scale:

    * The input is pre-shuffled on ``bucket_cols`` into exactly
      ``n_buckets`` tasks so each bucket is ONE file. Without that,
      every upstream task writes a sliver into every bucket it touches
      (tasks × buckets files), and >1 file per bucket makes Spark
      re-sort below a sort-merge join even when ``sort_cols`` match.
    * ``n_buckets`` is a long-lived contract: both join sides must
      agree (or be a multiple, with
      ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``). Size it
      so one bucket of the LARGEST future partition fits an executor
      core's working set, not to today's data.
    * Bucketing requires the table catalog (``saveAsTable``) — plain
      ``.parquet(path)`` silently drops bucket metadata. Pass ``path``
      to keep the data external to the warehouse.
    """
    if sort_cols is None:
        sort_cols = bucket_cols
    writer = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*sort_cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def register_bucketed_table(
    spark,
    table: str,
    path: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    sort_cols: tuple[str, ...] | None = None,
) -> None:
    """Re-attach an EXISTING bucketed dataset to the session catalog
    without rewriting a byte — the operational other half of
    :func:`write_bucketed_table`.

    Bucket metadata lives in the table catalog, not the parquet files:
    with a persistent metastore (Hive/Glue) it survives on its own,
    but the default in-memory catalog forgets it when the session
    ends, and a plain ``spark.read.parquet(path)`` silently loses the
    layout (every join shuffles again — the exact cost the write
    prepaid). This issues the ``CREATE TABLE … USING parquet CLUSTERED
    BY … INTO n BUCKETS LOCATION path`` DDL with the schema inferred
    from the files, so a fresh session (or a different consumer)
    recovers the exchange-free plans. The declared bucket spec must
    match what was written — same cols, same count — which is the same
    long-lived-contract discipline the bucket count itself demands;
    declaring a wrong spec yields WRONG JOINS, not an error, so keep
    the spec next to the path in whatever config names the table.
    """
    import re as _re

    if sort_cols is None:
        sort_cols = bucket_cols
    # the DDL is assembled by interpolation: validate the two
    # non-backtick-quoted inputs instead of letting a quoted path or an
    # exotic identifier mis-parse the statement (review finding)
    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?",
                         table):
        raise ValueError(
            f"register_bucketed_table: invalid table identifier {table!r}"
        )
    if "'" in path:
        raise ValueError(
            f"register_bucketed_table: path must not contain a quote: "
            f"{path!r}"
        )
    schema = spark.read.parquet(path).schema
    cols_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    bucket_ddl = ", ".join(f"`{c}`" for c in bucket_cols)
    sort_ddl = ", ".join(f"`{c}`" for c in sort_cols)
    spark.sql(
        f"CREATE TABLE {table} ({cols_ddl}) USING parquet "
        f"CLUSTERED BY ({bucket_ddl}) SORTED BY ({sort_ddl}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: tuple[str, str],
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered by the Z-order (Morton) interleave of two
    integer columns, so EVERY output file covers a narrow range of BOTH
    — the data-skipping layout (Delta/Iceberg Z-ORDER) for lakes
    queried on two independent dimensions: parquet readers prune files
    and row groups on min/max stats, and a single-column sort leaves
    the other column's stats useless.

    Mechanics: ``repartitionByRange`` on the Morton code (a sampled
    range partitioner — each output file owns one Z-range) + a
    within-partition sort, so row groups INSIDE a file are clustered
    too. The code is a pure Catalyst expression
    (:func:`~polymarket_data_ingestor_spark.functions.zorder.morton_code`)
    — no extra column survives into the files. The test gate measures
    the real thing: per-file min/max spans of both columns from
    parquet metadata collapse vs an unclustered write.

    Cost: one range shuffle + per-partition sort — the same price as
    any global sort; pay it on cold, query-heavy data. Inputs must be
    non-negative and ≤31 bits (rank/bucket upstream otherwise; see the
    zorder module docstring).
    """
    from polymarket_data_ingestor_spark.functions.zorder import morton_code

    z = morton_code(*zorder_cols)
    (
        df.repartitionByRange(n_files, z)
        .sortWithinPartitions(z)
        .write.mode(mode)
        .parquet(path)
    )
