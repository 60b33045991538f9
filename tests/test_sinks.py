"""Partitioned-lake writer: layout, pruning, and file-count behavior."""

from __future__ import annotations

from datetime import date as dt_date
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from polymarket_data_ingestor_spark.sinks import (
    with_date_partition,
    write_partitioned_lake,
)

SF = "/root/testdata/sf0.001"


def test_partitioned_lake_prunes_and_coalesces(spark, tmp_path):
    events = with_date_partition(
        spark.read.parquet(f"{SF}/events.parquet")
    )
    out = str(tmp_path / "lake")
    write_partitioned_lake(events, out, ("dt",))

    # hive layout: one directory per day
    days = sorted(
        p.name for p in Path(out).iterdir() if p.name.startswith("dt=")
    )
    n_days = events.select("dt").distinct().count()
    assert len(days) == n_days and n_days > 1

    # the data round-trips (partition column included)
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    assert "dt" in back.columns

    # a day-filter reaches the scan as a PARTITION filter (directory
    # pruning), not a data filter
    one_day = days[0].split("=", 1)[1]
    q = back.filter(F.col("dt") == one_day)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert f"isnotnull(dt" in plan or "dt#" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    # and it actually reads only that day's rows
    want = events.filter(F.col("dt") == one_day).count()
    assert q.count() == want > 0

    # coalesced write: each directory holds a bounded file count (the
    # repartition collapses task-x-directory slivers), far below the
    # shuffle partition count
    for d in days:
        n_files = len(list((Path(out) / d).glob("*.parquet")))
        assert 1 <= n_files <= 4, (d, n_files)


def test_partitioned_lake_respects_file_record_cap(spark, tmp_path):
    df = with_date_partition(
        spark.read.parquet(f"{SF}/events.parquet")
    )
    out = str(tmp_path / "capped")
    write_partitioned_lake(df, out, ("dt",), max_records_per_file=100)
    import duckdb

    con = duckdb.connect()
    per_file = con.execute(
        "SELECT filename, count(*) FROM read_parquet('%s/*/*.parquet', "
        "filename=true) GROUP BY 1" % out
    ).fetchall()
    assert per_file and all(n <= 100 for _, n in per_file)


def test_overwrite_lake_partitions_touches_only_named_days(spark, tmp_path):
    """Dynamic partition overwrite: the corrected day is replaced
    wholesale, every other day's files are byte-identical (same names,
    same content), and appended-then-corrected rows don't duplicate."""
    import os

    from polymarket_data_ingestor_spark.sinks import (
        overwrite_lake_partitions,
    )

    events = with_date_partition(
        spark.read.parquet(f"{SF}/events.parquet")
    )
    out = str(tmp_path / "lake")
    write_partitioned_lake(events, out, ("dt",))
    days = sorted(
        p.name for p in Path(out).iterdir() if p.name.startswith("dt=")
    )
    target, others = days[0], days[1:]
    before = {
        d: sorted(
            (f.name, os.path.getsize(Path(out) / d / f.name))
            for f in (Path(out) / d).glob("*.parquet")
        )
        for d in days
    }

    # corrected day: same rows, values doubled
    day_val = target.split("=", 1)[1]
    corrected = events.filter(F.col("dt") == day_val).withColumn(
        "value", F.col("value") * 2
    )
    overwrite_lake_partitions(corrected, out, ("dt",))

    # untouched days: identical file lists and sizes
    for d in others:
        after = sorted(
            (f.name, os.path.getsize(Path(out) / d / f.name))
            for f in (Path(out) / d).glob("*.parquet")
        )
        assert after == before[d], d
    # corrected day: fully replaced, no duplication, new values
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    got = back.filter(F.col("dt") == day_val).agg(
        F.sum("value")
    ).first()[0]
    want = corrected.agg(F.sum("value")).first()[0]
    assert got == pytest.approx(want)


def _write_stage_tasks(spark, group: str, write) -> int:
    """Run ``write()`` under job group ``group`` and return the task
    count of its last stage, the one that writes the files."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "lake write")
    try:
        write()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    stages = [tracker.getStageInfo(sid)
              for jid in tracker.getJobIdsForGroup(group)
              for sid in tracker.getJobInfo(jid).stageIds]
    return max((s for s in stages if s is not None),
               key=lambda s: s.stageId).numTasks


def test_lake_writes_run_one_task_per_shuffle_partition(spark, tmp_path):
    """The tick lake and the sinks write through a numbered exchange:
    AQE does not merge a small shuffle into one reducer, so the write
    stage runs spark.sql.shuffle.partitions tasks, and each hour still
    goes to one of them, as one data file."""
    from polymarket_data_ingestor_spark.operators.replay import (
        write_tick_lake,
    )
    from polymarket_data_ingestor_spark.sinks import (
        overwrite_lake_partitions,
    )

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n > 1 and spark.conf.get("spark.sql.adaptive.enabled") == "true"
    ticks = spark.range(0, 3000, 1, 3).selectExpr(
        "CAST(1704067200000 + id * 3600 AS STRING) AS timestamp",
        "IF(id % 5 = 0, 'TRADE', 'BBO') AS kind",
        "'m' AS market",
        "CAST(id % 7 AS STRING) AS asset",
        "IF(id % 2 = 0, 'BID', 'ASK') AS side",
        "0.5D AS price",
        "CAST(id AS DOUBLE) AS size",
        "concat('2024-01-01-0', CAST(id % 3 AS STRING)) AS file_hour",
    )
    lake = tmp_path / "lake"

    def data_files():
        return {d.name: len(list(d.glob("*.parquet")))
                for d in lake.iterdir() if d.name.startswith("file_hour=")}

    assert _write_stage_tasks(
        spark, "sinks-tick-lake", lambda: write_tick_lake(ticks, str(lake))
    ) == n
    assert data_files() == {f"file_hour=2024-01-01-0{h}": 1 for h in range(3)}
    fix = ticks.where("file_hour <> '2024-01-01-00'")
    assert _write_stage_tasks(
        spark, "sinks-overwrite",
        lambda: overwrite_lake_partitions(fix, str(lake), ("file_hour",)),
    ) == n
    assert data_files() == {f"file_hour=2024-01-01-0{h}": 1 for h in range(3)}
    assert spark.read.parquet(str(lake)).count() == 3000



def _file_state(root: Path) -> dict[str, tuple[str, ...]]:
    """Per-partition tuple of (name, size, mtime_ns) — byte-identity proxy."""
    out = {}
    for d in root.iterdir():
        if d.name.startswith("dt="):
            out[d.name] = tuple(
                (p.name, p.stat().st_size, p.stat().st_mtime_ns)
                for p in sorted(d.glob("*.parquet"))
            )
    return out


def test_delete_from_lake_touches_only_target_partitions(spark, tmp_path):
    from polymarket_data_ingestor_spark.sinks import delete_from_lake

    events = with_date_partition(
        spark.read.parquet(f"{SF}/events.parquet")
    )
    out = str(tmp_path / "lake")
    write_partitioned_lake(events, out, ("dt",))
    before = _file_state(Path(out))
    total = events.count()

    # pick 5 target ids from the FIRST day only
    day0 = events.select("dt").distinct().orderBy("dt").first()["dt"]
    victims = [
        r["event_id"]
        for r in events.filter(F.col("dt") == day0).limit(5).collect()
    ]
    ids = spark.createDataFrame([(v,) for v in victims], ["event_id"])
    n = delete_from_lake(spark, out, ids, "event_id", ("dt",))
    assert n == 1  # only day0 contains victims

    back = spark.read.parquet(out)
    assert back.count() == total - 5
    assert back.filter(F.col("event_id").isin(victims)).count() == 0
    # the other rows of day0 survived
    want_day0 = events.filter(
        (F.col("dt") == day0) & ~F.col("event_id").isin(victims)
    ).count()
    assert back.filter(F.col("dt") == day0).count() == want_day0
    # every OTHER day's files are byte-untouched
    after = _file_state(Path(out))
    for d, state in before.items():
        if d != f"dt={day0}":
            assert after[d] == state, d
    # deleting ids that exist nowhere is a no-op
    ghost = spark.createDataFrame([(10**12,)], ["event_id"])
    assert delete_from_lake(spark, out, ghost, "event_id", ("dt",)) == 0
    assert _file_state(Path(out)) == after


def test_delete_from_lake_removes_fully_emptied_partition(spark, tmp_path):
    """Every row of a partition matches a target id → dynamic overwrite
    never sees that partition (keep has no row carrying its value), so
    the directory must be removed explicitly — otherwise the takedown
    reports success while the data survives on disk."""
    from polymarket_data_ingestor_spark.sinks import delete_from_lake

    events = with_date_partition(
        spark.read.parquet(f"{SF}/events.parquet")
    )
    out = str(tmp_path / "lake")
    write_partitioned_lake(events, out, ("dt",))
    days = [r["dt"] for r in events.select("dt").distinct().orderBy("dt").collect()]
    assert len(days) >= 2
    day0, day1 = days[0], days[1]
    # victims: EVERY row of day0 plus 3 rows of day1
    all_day0 = events.filter(F.col("dt") == day0).select("event_id")
    some_day1 = events.filter(F.col("dt") == day1).select("event_id").limit(3)
    ids = all_day0.union(some_day1)
    n_day0 = all_day0.count()
    total = events.count()

    n = delete_from_lake(spark, out, ids, "event_id", ("dt",))
    assert n == 2  # both partitions contained victims

    # the emptied directory is GONE, not byte-untouched
    assert not (Path(out) / f"dt={day0}").exists()
    back = spark.read.parquet(out)
    assert back.count() == total - n_day0 - 3
    assert back.filter(F.col("dt") == day0).count() == 0
    # the partially-hit partition was rewritten, not dropped
    assert back.filter(F.col("dt") == day1).count() == (
        events.filter(F.col("dt") == day1).count() - 3
    )

    # emptying the WHOLE lake: every partition dropped, no write issued
    rest = spark.read.parquet(out).select("event_id")
    n_parts = spark.read.parquet(out).select("dt").distinct().count()
    assert delete_from_lake(spark, out, rest, "event_id", ("dt",)) == n_parts
    assert not any(p.name.startswith("dt=") for p in Path(out).iterdir())


def test_compact_lake_partitions_collapses_files(spark, tmp_path):
    from polymarket_data_ingestor_spark.sinks import (
        compact_lake_partitions,
    )

    events = with_date_partition(
        spark.read.parquet(f"{SF}/events.parquet")
    )
    out = str(tmp_path / "lake")
    # deliberately fragmented: tiny record cap -> many files per day
    write_partitioned_lake(
        events, out, ("dt",), max_records_per_file=5
    )
    frag = _file_state(Path(out))
    days = sorted(frag, key=lambda d: -len(frag[d]))
    assert len(frag[days[0]]) > 3  # the biggest day is fragmented
    total = events.count()
    rows_before = {
        r["dt"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("dt").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    day0 = days[0].split("=", 1)[1]  # compact the most fragmented day
    n = compact_lake_partitions(
        spark, out, ("dt",), partition_filter=f"dt = '{day0}'"
    )
    assert n == 1
    after = _file_state(Path(out))
    # the compacted day collapsed to a handful of files
    assert len(after[days[0]]) < len(frag[days[0]])
    assert len(after[days[0]]) <= 4
    # every other day untouched; no rows lost anywhere
    for d in days[1:]:
        assert after[d] == frag[d], d
    back = spark.read.parquet(out)
    assert back.count() == total
    rows_after = {
        r["dt"]: r["n"]
        for r in back.groupBy("dt").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert rows_after == rows_before
    # directory-level pruning: the filter must reach PartitionFilters
    plan = (
        spark.read.parquet(out).filter(f"dt = '{day0}'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan


def _py_morton(a: int, b: int) -> int:
    """Independent bit-by-bit reference (no shift-mask pipeline)."""
    out = 0
    for i in range(31):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_morton_code_matches_reference(spark):
    from polymarket_data_ingestor_spark.functions.zorder import morton_code

    pairs = [
        (0, 0), (1, 0), (0, 1), (3, 5), (2**31 - 1, 0),
        (0, 2**31 - 1), (2**31 - 1, 2**31 - 1), (123456789, 987654321),
    ]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", morton_code("a", "b").alias("z"))
        .collect()
    }
    for a, b in pairs:
        assert got[(a, b)] == _py_morton(a, b), (a, b)
    # hand values: interleaving puts a at even bits, b at odd
    assert got[(1, 0)] == 1 and got[(0, 1)] == 2 and got[(3, 5)] == 39
    # always a positive int64 (31-bit clamp)
    assert all(0 <= z < 2**62 for z in got.values())


def test_write_zordered_narrows_file_stats(spark, tmp_path):
    import duckdb

    from polymarket_data_ingestor_spark.sinks import write_zordered

    # comparable-range dimensions, per the zorder-module contract
    # (bucket/rank upstream): raw l_suppkey spans ~10 values while
    # l_partkey spans thousands, and interleaving wildly unbalanced
    # bit-widths degenerates to a single-column sort
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        (F.col("l_partkey") % 64).alias("pk_bucket"),
        (F.col("l_orderkey") % 64).alias("ok_bucket"),
        "l_quantity",
    )
    plain, zord = str(tmp_path / "plain"), str(tmp_path / "zord")
    # baseline: same file count, hash-scattered layout
    li.repartition(16).write.parquet(plain)
    write_zordered(li, zord, ("pk_bucket", "ok_bucket"), n_files=16)

    def spans(path, col):
        rows = duckdb.sql(
            f"SELECT file_name, min(CAST(stats_min_value AS BIGINT)),"
            f" max(CAST(stats_max_value AS BIGINT))"
            f" FROM parquet_metadata('{path}/*.parquet')"
            f" WHERE path_in_schema = '{col}' GROUP BY 1"
        ).fetchall()
        return sum(hi - lo for _, lo, hi in rows)

    back = spark.read.parquet(zord)
    assert back.count() == li.count()
    for col in ("pk_bucket", "ok_bucket"):
        s_plain, s_z = spans(plain, col), spans(zord, col)
        # the point of the layout: per-file min/max spans collapse on
        # BOTH dimensions at once, so stats-based skipping works
        assert s_z < 0.6 * s_plain, (col, s_z, s_plain)


def test_upsert_lake_partitions_merge_semantics(spark, tmp_path):
    """MERGE contract: same-key rows replaced, other rows of touched
    partitions survive, new keys and whole new partitions inserted,
    untouched directories byte-identical, idempotent re-run."""
    import datetime as dt_mod

    from polymarket_data_ingestor_spark.sinks import upsert_lake_partitions

    events = with_date_partition(
        spark.read.parquet(f"{SF}/events.parquet")
    )
    out = str(tmp_path / "lake")

    # first load: no lake yet → plain partitioned write
    n0 = upsert_lake_partitions(
        spark, out, events, ("event_id",), ("dt",)
    )
    assert n0 == events.select("dt").distinct().count()
    total = events.count()
    before = _file_state(Path(out))

    days = sorted(r["dt"] for r in events.select("dt").distinct().collect())
    day0, day1 = days[0], days[1]
    # batch: update 3 existing day0 rows (value bumped), insert 2 new
    # keys into day0, and 2 rows into a brand-new partition
    upd_rows = [
        r.asDict() for r in
        events.filter(F.col("dt") == day0).limit(3).collect()
    ]
    for r in upd_rows:
        r["value"] = float(r["value"]) + 1000.0
    new_day = day0 + dt_mod.timedelta(days=400)
    fresh = []
    for i, d in [(1, day0), (2, day0), (3, new_day), (4, new_day)]:
        r = dict(upd_rows[0])
        r["event_id"] = 10**12 + i
        r["dt"] = d
        fresh.append(r)
    updates = spark.createDataFrame(upd_rows + fresh, schema=events.schema)

    n = upsert_lake_partitions(spark, out, updates, ("event_id",), ("dt",))
    assert n == 2  # day0 + the new day

    back = spark.read.parquet(out)
    assert back.count() == total + 4  # 3 replaced in place, 4 inserted
    # replaced rows carry the new value
    got_vals = {
        r["event_id"]: r["value"] for r in back.filter(
            F.col("event_id").isin([r["event_id"] for r in upd_rows])
        ).collect()
    }
    for r in upd_rows:
        assert got_vals[r["event_id"]] == r["value"]
    # new partition exists with exactly its rows
    assert back.filter(F.col("dt") == new_day).count() == 2
    # day1 (and every other untouched day) byte-identical
    after = _file_state(Path(out))
    for d, state in before.items():
        if d != f"dt={day0}":
            assert after[d] == state, d
    # idempotent: re-applying the same batch changes no row (materialize
    # the before-state — the rewrite replaces the files a live plan
    # would read)
    before_rows = sorted(map(tuple, back.collect()))
    upsert_lake_partitions(spark, out, updates, ("event_id",), ("dt",))
    again = spark.read.parquet(out)
    assert sorted(map(tuple, again.collect())) == before_rows


def test_delete_and_upsert_null_partition_safety(spark, tmp_path):
    """NULL partition values (__HIVE_DEFAULT_PARTITION__) must behave
    like any other partition: a takedown touching it rewrites it
    (keeping non-target rows) rather than deleting the whole directory,
    and an upsert touching it keeps its surviving rows. Both require
    null-safe partition membership — a plain equi-join never matches
    NULL and silently routes the directory to data loss."""
    from polymarket_data_ingestor_spark.sinks import (
        delete_from_lake,
        upsert_lake_partitions,
    )

    rows = [
        (1, dt_date(2024, 5, 1), 10.0),
        (2, dt_date(2024, 5, 1), 20.0),
        (3, None, 30.0),   # NULL-partition rows
        (4, None, 40.0),
        (5, None, 50.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, dt date, v double")
    out = str(tmp_path / "lake")
    write_partitioned_lake(df, out, ("dt",))
    null_dir = Path(out) / "dt=__HIVE_DEFAULT_PARTITION__"
    assert null_dir.exists()

    # delete ONE null-partition row: the other two must survive
    ids = spark.createDataFrame([(3,)], ["event_id"])
    assert delete_from_lake(spark, out, ids, "event_id", ("dt",)) == 1
    back = spark.read.parquet(out)
    assert back.count() == 4
    assert back.filter(F.col("dt").isNull()).count() == 2
    assert null_dir.exists()

    # upsert into the null partition: update k=4, insert k=6; k=5 survives
    batch = spark.createDataFrame(
        [(4, None, 44.0), (6, None, 60.0)],
        "event_id long, dt date, v double",
    )
    assert upsert_lake_partitions(
        spark, out, batch, ("event_id",), ("dt",)
    ) == 1
    back = {r["event_id"]: r["v"] for r in
            spark.read.parquet(out).filter(F.col("dt").isNull()).collect()}
    assert back == {4: 44.0, 5: 50.0, 6: 60.0}

    # delete EVERY remaining null-partition row: directory removed
    ids = spark.createDataFrame([(4,), (5,), (6,)], ["event_id"])
    assert delete_from_lake(spark, out, ids, "event_id", ("dt",)) == 1
    assert not null_dir.exists()
    assert spark.read.parquet(out).count() == 2  # the dated rows


def test_upsert_lake_partitions_raises_on_unreadable_lake(spark, tmp_path):
    """A lake that EXISTS but cannot be read must raise — never be
    mistaken for a first load and static-overwritten away."""
    import pytest as _pytest

    from polymarket_data_ingestor_spark.sinks import upsert_lake_partitions

    out = tmp_path / "lake"
    (out / "dt=2024-05-01").mkdir(parents=True)
    (out / "dt=2024-05-01" / "part-0.parquet").write_bytes(b"not parquet")
    batch = spark.createDataFrame(
        [(1, dt_date(2024, 5, 1), 1.0)], "event_id long, dt date, v double"
    )
    with _pytest.raises(Exception):
        upsert_lake_partitions(spark, str(out), batch, ("event_id",), ("dt",))
    # the corrupt-but-existing lake was NOT overwritten
    assert (out / "dt=2024-05-01" / "part-0.parquet").read_bytes() == b"not parquet"


def test_upsert_into_empty_but_existing_lake_dir(spark, tmp_path):
    """A pre-created (or fully-emptied) lake directory with no data
    files is a FIRST LOAD, not an error — but only genuinely-empty
    directories qualify (marker files like _SUCCESS don't count as
    data)."""
    from polymarket_data_ingestor_spark.sinks import (
        delete_from_lake,
        upsert_lake_partitions,
    )

    out = tmp_path / "lake"
    out.mkdir()
    (out / "_SUCCESS").write_text("")  # marker only — still first load
    batch = spark.createDataFrame(
        [(1, dt_date(2024, 5, 1), 1.0), (2, dt_date(2024, 5, 2), 2.0)],
        "event_id long, dt date, v double",
    )
    assert upsert_lake_partitions(
        spark, str(out), batch, ("event_id",), ("dt",)
    ) == 2
    assert spark.read.parquet(str(out)).count() == 2

    # empty the WHOLE lake, then upsert again: the emptied directory
    # must behave as a first load, not raise on the schema-less read
    everything = spark.createDataFrame([(1,), (2,)], ["event_id"])
    delete_from_lake(spark, str(out), everything, "event_id", ("dt",))
    assert upsert_lake_partitions(
        spark, str(out), batch, ("event_id",), ("dt",)
    ) == 2
    assert spark.read.parquet(str(out)).count() == 2


def test_delete_emptied_partition_bool_rendering_and_loud_miss(
    spark, tmp_path
):
    """Two halves of the loud-failure contract for emptied-partition
    removal: (a) partition values render via SPARK's cast-to-string
    (boolean True → dir 'flag=true'; Python str() would look for
    'flag=True' and miss), (b) a directory that is genuinely absent
    raises instead of silently skipping a takedown target."""
    import pytest as _pytest

    from polymarket_data_ingestor_spark.sinks import (
        _delete_partition_dirs,
        delete_from_lake,
    )

    df = spark.createDataFrame(
        [(1, True, "a"), (2, True, "b"), (3, False, "c")],
        "event_id long, flag boolean, payload string",
    )
    out = str(tmp_path / "lake")
    df.write.partitionBy("flag").parquet(out)
    assert (Path(out) / "flag=true").exists()  # Spark's rendering

    ids = spark.createDataFrame([(1,), (2,)], "event_id long")
    n = delete_from_lake(spark, out, ids, "event_id", ("flag",))
    assert n == 1
    assert not (Path(out) / "flag=true").exists()
    back = spark.read.parquet(out)
    assert [r["event_id"] for r in back.collect()] == [3]

    # a missing directory is loud, never a silent no-op
    ghost = spark.createDataFrame([(True,)], "flag boolean").collect()
    with _pytest.raises(IOError, match="not found on disk"):
        _delete_partition_dirs(spark, out, ("flag",), ghost)


def test_write_bucketed_table_joins_and_prunes_without_exchange(
    spark, tmp_path
):
    """Bucketing's three scale claims, machine-checked on real plans:
    same-key/same-count join with zero Exchange, groupBy on the bucket
    key with zero Exchange, and bucket pruning on a point predicate."""
    from polymarket_data_ingestor_spark.sinks import write_bucketed_table

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    write_bucketed_table(
        orders, "b_orders", ("o_custkey",), 8,
        sort_cols=("o_custkey",), path=str(tmp_path / "b_orders"),
    )
    write_bucketed_table(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "b_cust", ("o_custkey",), 8,
        sort_cols=("o_custkey",), path=str(tmp_path / "b_cust"),
    )
    try:
        # one file per bucket: the pre-shuffle collapsed task slivers,
        # which is also the precondition for scan-reported sort order
        files = [
            p for p in (tmp_path / "b_orders").iterdir()
            if p.name.endswith(".parquet")
        ]
        assert len(files) == 8, len(files)

        bo = spark.table("b_orders")
        bc = spark.table("b_cust")

        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bo.join(bc, "o_custkey")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan, plan
            assert "SortMergeJoin" in plan
            # correctness of the exchange-free join
            want = orders.join(
                cust, orders.o_custkey == cust.c_custkey
            ).count()
            assert j.count() == want > 0

            g = bo.groupBy("o_custkey").agg(
                F.sum("o_totalprice").alias("rev")
            )
            gplan = g._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in gplan, gplan
            assert g.count() == orders.select("o_custkey").distinct().count()
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", old_thresh
            )

        # bucket pruning: a point predicate on the bucket key selects
        # 1 of 8 buckets at the scan. Non-obvious: a filter-only query
        # has no join/agg that wants the hash distribution, so the
        # planner auto-disables the bucketed scan (which would forbid
        # file splitting) and with it the pruning — the knob below is
        # the documented trade-off for point-lookup-heavy workloads.
        auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        key = orders.limit(1).collect()[0]["o_custkey"]
        spark.conf.set(auto, "false")
        try:
            p = bo.filter(F.col("o_custkey") == key)
            pplan = p._jdf.queryExecution().executedPlan().toString()
            assert "SelectedBucketsCount: 1 out of 8" in pplan, pplan
        finally:
            spark.conf.set(auto, "true")
        assert p.count() == orders.filter(
            F.col("o_custkey") == key
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_expire_lake_partitions_age_out(spark, tmp_path):
    """Retention: partitions strictly below the cutoff are removed via
    directory listing alone; dry_run audits without deleting; NULL
    partitions survive; survivors stay byte-identical."""
    from polymarket_data_ingestor_spark.sinks import expire_lake_partitions

    out = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(1, "2024-04-30"), (2, "2024-05-01"), (3, "2024-05-02"),
         (4, None)],
        "k long, dt string",
    )
    df.write.partitionBy("dt").parquet(out)

    keep_state = sorted(
        (p.name, p.stat().st_size)
        for p in (Path(out) / "dt=2024-05-02").glob("*.parquet")
    )

    # audit first: reports, deletes nothing
    would = expire_lake_partitions(
        spark, out, older_than="2024-05-01", dry_run=True
    )
    assert would == ["2024-04-30"]
    assert (Path(out) / "dt=2024-04-30").exists()

    gone = expire_lake_partitions(spark, out, older_than="2024-05-01")
    assert gone == ["2024-04-30"]
    assert not (Path(out) / "dt=2024-04-30").exists()
    # boundary is strict: the cutoff day itself survives
    assert (Path(out) / "dt=2024-05-01").exists()
    # NULL partition never ages out
    assert (Path(out) / "dt=__HIVE_DEFAULT_PARTITION__").exists()
    # survivors byte-identical
    assert keep_state == sorted(
        (p.name, p.stat().st_size)
        for p in (Path(out) / "dt=2024-05-02").glob("*.parquet")
    )
    back = {r["k"] for r in spark.read.parquet(out).collect()}
    assert back == {2, 3, 4}

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        expire_lake_partitions(spark, str(tmp_path / "ghost"), "2024-01-01")
    # loud on the two silent-no-op footguns: a col=-prefixed cutoff and
    # a typo'd partition column against a real hive layout
    with _pytest.raises(ValueError, match="bare partition VALUE"):
        expire_lake_partitions(spark, out, "dt=2024-05-01")
    with _pytest.raises(ValueError, match="do not include"):
        expire_lake_partitions(spark, out, "2024-05-01",
                               partition_col="date")


def test_register_bucketed_table_recovers_layout_without_rewrite(
    spark, tmp_path
):
    """Dropping the (in-memory) catalog entry loses the bucket layout;
    re-registering over the same files recovers the exchange-free join
    with zero data movement."""
    import os

    from polymarket_data_ingestor_spark.sinks import (
        register_bucketed_table,
        write_bucketed_table,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    p1, p2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    write_bucketed_table(orders, "rb_a", ("o_custkey",), 8, path=p1)
    write_bucketed_table(orders, "rb_b", ("o_custkey",), 8, path=p2)
    try:
        spark.sql("DROP TABLE rb_a")  # external: files survive
        before = sorted(
            (f, os.path.getsize(Path(p1) / f)) for f in os.listdir(p1)
        )
        register_bucketed_table(spark, "rb_a", p1, ("o_custkey",), 8)
        # zero rewrite
        assert before == sorted(
            (f, os.path.getsize(Path(p1) / f)) for f in os.listdir(p1)
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("rb_a").join(spark.table("rb_b"), "o_custkey")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan, plan
            want = orders.count()
            assert j.count() >= want > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS rb_a")
        spark.sql("DROP TABLE IF EXISTS rb_b")
