"""Scale-posture proofs: salting preserves join semantics; bucketed
tables co-locate joins (no shuffle Exchange in the plan)."""

from __future__ import annotations

from pyspark.sql import functions as F

from team_aragon_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    """Salted join must be semantically identical to the plain join on
    a skewed input (one key owns 90% of the big side)."""
    big = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, 1000 + k) for k in range(2, 12)],
        ["k", "payload"],
    )
    small = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (99, "unmatched")], ["k", "label"]
    )
    plain = {(r.k, r.payload, r.label) for r in big.join(small, on="k").collect()}
    salted = {
        (r.k, r.payload, r.label)
        for r in salted_join(big, small, on=["k"], n_salts=4).collect()
    }
    assert salted == plain
    assert len(plain) == 902  # 900 hot + k=2 + k=3


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "x"), (7, "y")], ["k", "v"])
    small = spark.createDataFrame([(1, "m")], ["k", "label"])
    rows = {
        (r.k, r.v, r.label)
        for r in salted_join(big, small, on=["k"], n_salts=3, how="left").collect()
    }
    assert rows == {(1, "x", "m"), (7, "y", None)}


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must join without any
    shuffle Exchange — the co-located join that replaces the fact-fact
    shuffle at 100 TB (PLANS.md)."""
    n_buckets = 4
    facts = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    dims = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    spark.sql("DROP TABLE IF EXISTS bj_facts")
    spark.sql("DROP TABLE IF EXISTS bj_dims")
    facts.write.bucketBy(n_buckets, "k").sortBy("k").mode("overwrite").saveAsTable("bj_facts")
    dims.write.bucketBy(n_buckets, "k").sortBy("k").mode("overwrite").saveAsTable("bj_dims")
    try:
        # Disable broadcast so the planner must choose a non-broadcast
        # join — with matching bucketing it needs no Exchange at all.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bj_facts").join(spark.table("bj_dims"), on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 100
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bj_facts")
        spark.sql("DROP TABLE IF EXISTS bj_dims")


def test_store_date_partition_pruning(spark, tmp_path):
    """A date-partitioned ParquetStore read with a week filter must
    prune partitions at planning time (PartitionFilters in the scan,
    only matching files read) — the F2-F4 filters become metadata
    skips at 100 TB."""
    from datetime import date

    from team_aragon_spark.pipeline.sinks import ParquetStore

    store = ParquetStore(str(tmp_path))
    df = spark.createDataFrame(
        [("h1", date(2022, 9, 23), 10.0), ("h2", date(2022, 9, 30), 20.0),
         ("h3", date(2022, 10, 7), 30.0)],
        ["hospital_fk", "collection_week", "beds"],
    )
    store.append(df, "hospital_beds")
    got = store.read(spark, "hospital_beds").filter(
        F.col("collection_week") == date(2022, 9, 30)
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the partition filter must actually appear (not an empty list)
    import re
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "collection_week" in m.group(1), plan
    assert [r.hospital_fk for r in got.collect()] == ["h2"]


def test_quality_probe_scans_only_its_data_date(spark, tmp_path, monkeypatch):
    """The CMS load's stored-key probe reads only the load's own
    ``data_date`` partition (the reference probes ``WHERE data_date =
    %s``, load_quality.py:27-29): the batch's constant date reaches the
    stored-key scan as a partition filter."""
    import re

    from team_aragon_spark.pipeline.quality_load import load_quality_batch
    from team_aragon_spark.pipeline.sinks import ParquetStore

    cms = tmp_path / "cms.csv"
    cms.write_text(
        "Facility ID,Hospital Type,Hospital Ownership,Emergency Services,Hospital overall rating\n"
        "010001,Acute Care Hospitals,Proprietary,Yes,3\n"
        "010005,Childrens,Government - State,No,Not Available\n"
    )
    store = ParquetStore(str(tmp_path / "store"))
    load_quality_batch(spark, "2021-07-01", str(cms), store)

    plans = []
    real_append = ParquetStore.append

    def capture(self, df, table):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        real_append(self, df, table)

    monkeypatch.setattr(ParquetStore, "append", capture)
    r = load_quality_batch(spark, "2021-10-01", str(cms), store)
    assert (r.inserted, r.duplicates) == (2, 0)
    [plan] = plans
    scans = [line for line in plan.splitlines() if "FileScan parquet" in line]
    assert len(scans) == 1, plan
    m = re.search(r"PartitionFilters: \[(.*?)\]", scans[0])
    assert m and re.search(r"2021-10-01 = data_date#\d+|data_date#\d+ = 2021-10-01", m.group(1)), plan


def test_compaction_shrinks_files_preserves_data(spark, tmp_path):
    """compact_table must reduce the file count and leave content and
    partition layout (pruning) intact."""
    from datetime import date

    from team_aragon_spark.pipeline.sinks import ParquetStore, compact_table

    store = ParquetStore(str(tmp_path))
    rows = [(f"h{i}", date(2022, 9, 23 + 7 * (i % 2)), float(i)) for i in range(200)]
    # a declared bed-metric column, so the store's schema-on-read keeps it
    df = spark.createDataFrame(rows, ["hospital_fk", "collection_week", "total_icu_beds_7_day_avg"])
    # simulate many tiny appends -> fragmented tree
    for chunk in range(10):
        store.append(df.filter(F.col("total_icu_beds_7_day_avg") % 10 == chunk).repartition(4), "hospital_beds")
    import pathlib

    n_before = len(list(pathlib.Path(store.path("hospital_beds")).rglob("*.parquet")))
    before = {tuple(r) for r in store.read(spark, "hospital_beds").collect()}
    compact_table(spark, store, "hospital_beds")
    n_after = len(list(pathlib.Path(store.path("hospital_beds")).rglob("*.parquet")))
    after = {tuple(r) for r in store.read(spark, "hospital_beds").collect()}
    assert after == before
    assert n_after < n_before
    # partition layout survives -> pruning still works
    plan = (
        store.read(spark, "hospital_beds")
        .filter(F.col("collection_week") == date(2022, 9, 23))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan


def test_asof_join_single_shuffle_plan(spark):
    """The as-of join plan must contain exactly ONE hash-partition
    Exchange (on the join key) and no nested-loop/cartesian node."""
    from datetime import datetime

    from team_aragon_spark.operators.asof import asof_join

    t = datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t, "p")], ["k", "ts", "pid"])
    right = spark.createDataFrame([(1, t, 1.0)], ["k", "rts", "rv"])
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts", value_cols=["rv"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_interval_join_no_nested_loop_plan(spark):
    """The bucketed range join must plan as an equi-join — never
    BroadcastNestedLoopJoin/CartesianProduct (the naive theta-join
    physical fallback)."""
    from datetime import datetime

    from team_aragon_spark.operators.range_join import interval_join

    t = datetime(2024, 1, 1)
    points = spark.createDataFrame([(1, t, "p")], ["k", "pts", "pid"])
    intervals = spark.createDataFrame([(1, t, t, "i")], ["k", "istart", "iend", "iid"])
    out = interval_join(points, intervals, "pts", "istart", "iend", equi_keys=["k"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_partitioned_orders_month_pruning(spark):
    """q65's staged star fact must prune months at planning time: the
    o_mon equality appears in PartitionFilters (metadata skip, zero
    non-matching files opened) and never in the data filters."""
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY
    from team_aragon_spark.sources.partitioned import staged_orders_by_month

    sf = "/root/testdata/sf0.001"
    got = staged_orders_by_month(spark, sf).filter(F.col("o_mon") == "1995-03")
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "o_mon" in m.group(1), plan

    # and the full q65 star aggregation still returns real rows
    df = QUERY_REGISTRY["q65_partitioned_month_revenue"].fn(spark, sf)
    rows = df.collect()
    assert rows and all(r.o_mon == "1995-03" for r in rows)


def test_append_batch_replay_idempotent(spark, tmp_path):
    """O5: re-running a batch (crash retry / orchestrator replay)
    overwrites exactly its own partition — never duplicates, never
    touches other batches; the lineage column stays internal."""
    from team_aragon_spark.pipeline.sinks import ParquetStore

    store = ParquetStore(str(tmp_path))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    b2 = spark.createDataFrame([(3, "c")], ["id", "v"])

    store.append_batch(b1, "t", "2022-09-23")
    store.append_batch(b2, "t", "2022-09-30")
    assert store.read(spark, "t").count() == 3

    # replay batch 1 (e.g. retry after a partial failure) → no dupes
    store.append_batch(b1, "t", "2022-09-23")
    got = store.read(spark, "t")
    assert got.count() == 3
    assert set(got.columns) == {"id", "v"}  # __batch never leaks

    # a corrected re-run of a batch REPLACES that batch only
    b1_fixed = spark.createDataFrame([(1, "a2")], ["id", "v"])
    store.append_batch(b1_fixed, "t", "2022-09-23")
    rows = {(r.id, r.v) for r in store.read(spark, "t").collect()}
    assert rows == {(1, "a2"), (3, "c")}


def test_compact_then_replay_keeps_all_batches(spark, tmp_path):
    """ADVICE (high): compaction must preserve the __batch partition so
    a replayed epoch (crash retry / checkpoint recovery) after
    compaction overwrites only its own partition — the pre-fix repro
    was: append e0+e1 (3 rows), compact, replay e0 -> e1's data
    silently deleted by the dynamic overwrite."""
    from team_aragon_spark.pipeline.sinks import ParquetStore, compact_table

    store = ParquetStore(str(tmp_path))
    e0 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    e1 = spark.createDataFrame([(3, "c")], ["id", "v"])
    store.append_batch(e0, "t", "e0")
    store.append_batch(e1, "t", "e1")

    compact_table(spark, store, "t")
    assert store.read(spark, "t").count() == 3

    # replay e0 after compaction: e1's rows must survive
    store.append_batch(e0, "t", "e0")
    rows = {(r.id, r.v) for r in store.read(spark, "t").collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}

    # corrected replay still replaces exactly its own epoch
    e0_fixed = spark.createDataFrame([(1, "a2")], ["id", "v"])
    store.append_batch(e0_fixed, "t", "e0")
    rows = {(r.id, r.v) for r in store.read(spark, "t").collect()}
    assert rows == {(1, "a2"), (3, "c")}


def test_compact_crash_windows_leave_table_readable(spark, tmp_path, monkeypatch):
    """Crash-safety of the versioned-pointer swap: a crash BEFORE the
    pointer replace leaves readers on the complete old tree; a crash
    AFTER the swap (before GC) leaves them on the complete new tree.
    The pre-fix double-shutil.move had a window where the table was
    simply absent."""
    import os

    from team_aragon_spark.pipeline import sinks
    from team_aragon_spark.pipeline.sinks import ParquetStore, compact_table

    store = ParquetStore(str(tmp_path))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], ["id", "v"])
    for i in range(4):
        store.append(df.filter(F.col("id") % 4 == i), "t")
    before = {(r.id, r.v) for r in store.read(spark, "t").collect()}

    # crash window 1: new tree written, pointer swap never happens
    real_replace = os.replace

    def boom(src, dst):
        raise OSError("injected crash before pointer swap")

    monkeypatch.setattr(sinks.os, "replace", boom)
    try:
        compact_table(spark, store, "t")
    except OSError:
        pass
    assert {(r.id, r.v) for r in store.read(spark, "t").collect()} == before

    # crash window 2: pointer swapped, GC never runs
    monkeypatch.setattr(sinks.os, "replace", real_replace)
    import shutil as _shutil

    real_rmtree = _shutil.rmtree

    def boom_rmtree(path, **kw):
        raise OSError("injected crash before GC")

    monkeypatch.setattr("shutil.rmtree", boom_rmtree)
    try:
        compact_table(spark, store, "t")
    except OSError:
        pass
    monkeypatch.setattr("shutil.rmtree", real_rmtree)
    assert {(r.id, r.v) for r in store.read(spark, "t").collect()} == before

    # recovery: the next successful compact GCs every stray tree
    compact_table(spark, store, "t")
    assert {(r.id, r.v) for r in store.read(spark, "t").collect()} == before
    strays = [
        n
        for n in os.listdir(tmp_path)
        if n.startswith("t") and os.path.isdir(os.path.join(tmp_path, n))
    ]
    assert len(strays) == 1, strays  # exactly the current version dir


def test_runtime_bloom_filter_injection(spark):
    """100 TB posture: with broadcast off (both sides too big), a
    selective filter on one join side injects a runtime BLOOM FILTER
    into the other side's scan, pre-filtering the shuffle.  Size
    thresholds are production-tuned (10 GB app side) so the test
    lowers them to fire at test scale — asserting the MECHANISM, which
    session.py leaves enabled for the real deployment."""
    from team_aragon_spark.sources.catalog import read_table

    sf = "/root/testdata/sf0.01"
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        li = read_table(spark, "lineitem", sf)
        orders = read_table(spark, "orders", sf).filter(F.col("o_orderpriority") == "1-URGENT")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "BloomFilter" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_skew_join_splits_hot_partition(spark, tmp_path):
    """100 TB posture: AQE's skew-join handling must split a hot key's
    oversized shuffle partition at runtime (the join's shuffle read is
    marked skew=true) — the no-code-change complement to the explicit
    salted_join operator.  Thresholds are lowered so a test-scale hot
    key trips the production mechanism; the hot side carries an
    incompressible md5 payload because skew detection sees COMPRESSED
    shuffle bytes (an all-constant column compresses to nothing and
    never looks skewed)."""
    import re

    big_path = str(tmp_path / "skew_big")
    small_path = str(tmp_path / "skew_small")
    (
        spark.range(300_000)
        .select(F.lit(1).alias("k"), F.md5(F.col("id").cast("string")).alias("pad"))
        .union(
            spark.range(32).select(
                (F.col("id") + 2).alias("k"), F.md5(F.col("id").cast("string"))
            )
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(big_path)
    )
    spark.range(40).selectExpr("id + 1 AS k", "concat('d', id) AS label").write.mode(
        "overwrite"
    ).parquet(small_path)

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        big = spark.read.parquet(big_path)
        small = spark.read.parquet(small_path)
        res = big.join(small, on="k").select("pad", "label")
        assert len(res.collect()) == 300_032  # AQE finalizes at execution
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"skew=true", plan), plan[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_int8_quant_plan_is_narrow(spark):
    """int8 quantization must plan as a pure projection: no Exchange,
    no Python boundary — per-row array expressions only."""
    from team_aragon_spark.operators.similarity import int8_quant_stats

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0])], "vec_id long, embedding array<float>"
    )
    plan = int8_quant_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan


def test_gram_docfreq_no_pairwise_join(spark):
    """Boilerplate detection must route doc-to-doc comparison through
    the aggregated (gram, docfreq) relation — never a nested-loop or
    cartesian pairwise plan."""
    from team_aragon_spark.operators.corpus import gram_docfreq_stats

    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    plan = gram_docfreq_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_label_centroids_reads_corpus_once(spark):
    """Centroid computation reads the corpus exactly once: ONE
    posexplode feeds the (label, position) partial agg, and the
    pairwise stage self-joins the |labels| x dim aggregate (a reused
    exchange), never re-scanning or cross-joining corpus rows."""
    from team_aragon_spark.operators.similarity import label_centroid_cosines

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = label_centroid_cosines(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the pairwise join must read the persisted |labels| x dim centroid
    # table on BOTH branches (InMemoryTableScan), not re-derive
    # posexplode + avg from a second corpus scan; a single-Generate or
    # ReusedExchange plan would prove the same contract without cache
    assert (
        plan.count("InMemoryTableScan") >= 2
        or plan.count("Generate posexplode") == 1
        or "ReusedExchange" in plan
    ), plan
    # and the cache actually materializes (runtime single corpus read)
    assert out.count() == 1
    df.sparkSession.catalog.clearCache()


def test_packing_window_is_sharded(spark):
    """q93's data-volume window (the one ordered by doc_id) must be
    partitioned by (source, __shard), never by source alone — a
    source-only window would serialize a dominant source onto one task
    at 100 TB and AQE cannot split a window partition.  The only
    source-only window allowed is the exclusive-offset pass over the
    |sources| x n_shards totals."""
    import re

    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q93_token_budget_packing"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    doc_windows = [
        ln for ln in plan.splitlines()
        if re.search(r"\bWindow\b", ln) and "doc_id" in ln
    ]
    assert doc_windows, plan
    for ln in doc_windows:
        assert "__shard" in ln, ln
    spark.catalog.clearCache()


def test_packing_prefix_sum_matches_naive_on_skew(spark):
    """Adversarial skew fixture: one source owns 90% of the docs.  The
    two-level prefix sum must (a) return exactly the naive per-source
    window cumsum answer, and (b) bound every window partition to
    ~|source|/n_shards rows so the dominant source cannot land on one
    task."""
    from pyspark.sql import Window

    from team_aragon_spark.operators.windows import distributed_prefix_sum

    n_hot, n_shards = 1800, 16
    rows = [(i, "commoncrawl", (i * 7) % 13 + 1) for i in range(n_hot)]
    rows += [(10_000 + i, "wiki", (i % 5) + 1) for i in range(150)]
    rows += [(20_000 + i, "books", 3) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")

    got = distributed_prefix_sum(
        df, "n_tokens", "doc_id", partition_cols=("source",), n_shards=n_shards
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = df.withColumn("cum", F.sum("n_tokens").over(w))
    key = lambda r: (r.source, r.doc_id)  # noqa: E731
    assert sorted(
        ((r.source, r.doc_id, r.cum) for r in got.collect())
    ) == sorted((r.source, r.doc_id, r.cum) for r in want.collect())

    # balance: dense per-source ids -> range shards split near-evenly;
    # the hot source's largest shard must be ~n_hot/n_shards, far below
    # the whole-source partition the naive window would create.
    bounds = df.groupBy("source").agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    shard = F.least(
        F.lit(n_shards - 1),
        F.floor(
            (F.col("doc_id") - F.col("mn")).cast("double")
            * n_shards
            / (F.col("mx") - F.col("mn") + 1).cast("double")
        ),
    )
    sizes = (
        df.join(F.broadcast(bounds), "source")
        .withColumn("sh", shard)
        .groupBy("source", "sh")
        .count()
    )
    hot_max = max(r["count"] for r in sizes.filter("source = 'commoncrawl'").collect())
    assert hot_max <= 2 * (n_hot // n_shards), hot_max
    spark.catalog.clearCache()


def test_first_wins_dedup_aggregates_map_side(spark):
    """q12 first-wins dedup is a min_by AGGREGATE, not a row_number
    window.  The load-bearing property at 100 TB: a partial_min_by
    below the exchange means the shuffle carries ONE row per key per
    mapper, so a hot order key cannot land its raw rows on one task —
    the window shape ships and sorts every row of the hot key on a
    single partition.  (Struct-typed buffers make Spark pick
    SortAggregate over hash agg; its sorts are map-partition-sized and
    skew-immune, so Sort itself is fine — Window is the regression.)"""
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q12_first_line_per_order"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "partial_min_by" in plan, plan


def test_first_wins_dedup_agg_matches_window(spark):
    """The agg variant must return exactly the window variant's rows
    on non-null tiebreaks, including multi-row keys and ties beyond
    the first tiebreak column."""
    from team_aragon_spark.operators.dedup import (
        first_wins_dedup,
        first_wins_dedup_agg,
    )

    df = spark.createDataFrame(
        [(1, 2, 9, "b"), (1, 1, 5, "a"), (1, 1, 3, "c"), (2, 7, 1, "d")],
        "k long, t1 long, t2 long, v string",
    )
    a = {tuple(r) for r in first_wins_dedup(df, ["k"], ["t1", "t2"]).collect()}
    b = {
        tuple(r)
        for r in first_wins_dedup_agg(df, ["k"], ["t1", "t2"]).select(
            "k", "t1", "t2", "v"
        ).collect()
    }
    assert a == b == {(1, 1, 3, "c"), (2, 7, 1, "d")}


def test_latest_wins_no_window_no_join(spark):
    """q95 changelog compaction is ONE max_by hash aggregate — any
    Window or Join in the plan means the shape regressed to the
    row_number-and-filter anti-pattern."""
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q95_user_last_event_state"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan, plan
    # max_by is a TypedImperativeAggregate -> ObjectHashAggregate node
    assert "Aggregate" in plan


def test_funnel_no_join(spark):
    """q96 funnel: two chained aggregates, never an event self-join."""
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q96_funnel_conversion"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_audio_roundtrip_no_shuffle(spark):
    """q92: synth → decode is a pure mapInPandas chain — no exchange
    (media payloads must never shuffle for a metadata pass)."""
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q92_audio_wav_meta"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_mp4_roundtrip_no_shuffle(spark):
    """q103: MP4 synth → box-parse is a pure mapInPandas chain — no
    exchange (same contract as the audio path: media payloads never
    shuffle for a metadata pass)."""
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q103_video_mp4_meta"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_incremental_candidates_skip_index_pairs(spark):
    """q97's blocking operator: two identical docs INSIDE the index
    never form a candidate (that comparison was paid when they were
    ingested); an index/batch near-dup does."""
    from team_aragon_spark.operators.text_dedup import (
        incremental_candidate_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    index = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally unrelated content about spark plans")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame([(100, base + " tail")], "doc_id long, text string")
    pairs = {
        (r["a"], r["b"])
        for r in incremental_candidate_pairs(
            minhash_signatures(index), minhash_signatures(batch)
        ).collect()
    }
    assert (1, 100) in pairs and (2, 100) in pairs
    assert all(b == 100 for _, b in pairs), pairs  # no index-side pairs


def test_passage_dedup_winner_is_aggregate_not_window(spark):
    """q110's corpus-wide passage winner selection must be a
    partial-combinable min(struct) hash aggregate: a passage repeated
    a million times across the corpus then sends ONE candidate row
    per mapper through the shuffle.  A row_number window keyed by
    passage would ship and sort every occurrence of a hot passage
    (license boilerplate!) on one task."""
    from team_aragon_spark.operators.text_dedup import passage_dedup_reassemble
    from team_aragon_spark.sources.catalog import read_table

    docs = read_table(spark, "documents", "/root/testdata/sf0.001")
    plan = (
        passage_dedup_reassemble(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan


def test_token_hof_stats_is_narrow(spark):
    """q108's per-doc token statistics are higher-order-function
    lambdas inside the scan projection — no Exchange, no Python
    runner in the plan."""
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q108_token_hof_stats"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    body = plan.split("TakeOrderedAndProject")[-1] if "TakeOrderedAndProject" in plan else plan
    # the only exchange allowed is the final presentation orderBy
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_epoch_shard_plan_properties(spark):
    """Epoch-shard layout invariants: deterministic across runs,
    every doc appears exactly once, shard ids live in [0, 256), ord
    is dense 1..n per shard, and different epochs give genuinely
    different permutations (the per-epoch reshuffle property)."""
    from team_aragon_spark.operators.corpus import epoch_shard_plan
    from team_aragon_spark.sources.catalog import read_table

    docs = read_table(spark, "documents", "/root/testdata/sf0.001")
    a = epoch_shard_plan(docs, epoch=0).collect()
    b = epoch_shard_plan(docs, epoch=0).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    n_docs = docs.count()
    assert len(a) == n_docs
    assert len({r.doc_id for r in a}) == n_docs
    assert all(0 <= r.shard < 256 for r in a)
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.ord)
    for ords in by_shard.values():
        assert sorted(ords) == list(range(1, len(ords) + 1))
    e1 = {r.doc_id: (r.shard, r.ord) for r in epoch_shard_plan(docs, epoch=1).collect()}
    moved = sum(1 for r in a if e1[r.doc_id] != (r.shard, r.ord))
    assert moved > n_docs * 0.9, f"epoch 1 moved only {moved}/{n_docs}"


def test_pq_assign_is_narrow_jvm_map(spark):
    """q113's encode stage must stay a narrow JVM projection: the
    codebooks ride in the plan as literals and the per-row argmin runs
    in whole-stage codegen — no Exchange, no Python runner, so encode
    throughput scales with mappers and nothing ships to Python."""
    from team_aragon_spark.operators.similarity import pq_assign, pq_train
    from team_aragon_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", "/root/testdata/sf0.001")
    books = pq_train(emb, m=8, ks=16)
    plan = pq_assign(emb, books)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_split_is_narrow(spark):
    """q112's split assignment is a pure narrow projection — no
    shuffle at any volume."""
    from team_aragon_spark.operators.corpus import deterministic_split
    from team_aragon_spark.sources.catalog import read_table

    docs = read_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "source"
    )
    plan = deterministic_split(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_png_roundtrip_no_shuffle(spark):
    """q115: PNG synth → decode is a pure mapInPandas chain — media
    payloads never shuffle for a metadata pass (the q92/q103
    contract)."""
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q115_image_png_meta"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_pq_arrow_kernel_is_narrow_and_matches_jvm(spark):
    """q113's production encode (pq_assign_arrow): (a) plan stays a
    narrow map — no Exchange, the Python stage is the Arrow runner by
    design (interpreted HOF evaluation measured 35x slower, PLANS.md);
    (b) kernel equivalence with the JVM-expression twin — identical
    codes everywhere, sq_err within float-summation-order ulps."""
    from team_aragon_spark.operators.similarity import (
        pq_assign,
        pq_assign_arrow,
        pq_train,
    )
    from team_aragon_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", "/root/testdata/sf0.001")
    books = pq_train(emb, m=8, ks=16)
    df = pq_assign_arrow(emb, books)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    a = {r[0]: (tuple(r[1]), r[2]) for r in pq_assign(emb, books).collect()}
    b = {r[0]: (tuple(r[1]), r[2]) for r in df.collect()}
    assert set(a) == set(b)
    assert all(a[k][0] == b[k][0] for k in a), "codes must match exactly"
    assert all(abs(a[k][1] - b[k][1]) <= 1e-9 * max(abs(a[k][1]), 1.0) for k in a)


def test_round5_new_query_plan_shapes(spark):
    """Lock the scale-critical plan shapes of the round-5 additions:

    - q122 (trend stats): ONE hash aggregate — no window, no join;
      skew-free because groups are |event_types|.
    - q118 (SCD2): a single user_id-keyed Exchange feeding the lead()
      window — no join, no global (range-partitioned) sort.
    - q119 (retention): aggregate + equi-join — no window over the
      event stream and no cartesian product.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    p122 = (
        QUERY_REGISTRY["q122_value_trend_stats"].fn(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in p122 and "Join" not in p122, p122

    p118 = (
        QUERY_REGISTRY["q118_user_value_scd2"].fn(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in p118, p118
    assert p118.count("Exchange hashpartitioning") >= 1
    assert "rangepartitioning" not in p118, "no global sort in the history build"

    p119 = (
        QUERY_REGISTRY["q119_cohort_retention"].fn(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in p119 and "CartesianProduct" not in p119, p119


def test_round5_late_query_plan_shapes(spark):
    """Scale-critical plan shapes of the late round-5 additions:

    - q123 (bigram counts): top-100 compiles to TakeOrderedAndProject
      (per-partition heaps, no global sort) and the bigram build is
      JVM-side (no Python eval in the plan).
    - q124 (anomaly z-score): the per-type stats join is a broadcast,
      never a shuffled sort-merge join, and there is no window.
    - q125 (profiling): ONE parquet scan feeds the multi-distinct
      aggregate (Expand), no join.
    - q126 (weighted sample): TakeOrderedAndProject again — a global
      ORDER BY would range-partition the whole corpus for 200 rows.
    - q127 (set-similarity): no cartesian product anywhere — blocking
      is the prefix-item equi-join.
    - q128 (snapshot diff): latest-wins snapshots are max_by
      aggregates, not windows.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        return (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )

    p123 = plan("q123_token_bigram_counts")
    assert "TakeOrderedAndProject" in p123, p123
    assert "EvalPython" not in p123, "bigram build must stay JVM-side"

    p124 = plan("q124_value_anomaly_zscore")
    assert "BroadcastHashJoin" in p124 and "SortMergeJoin" not in p124, p124
    assert "Window" not in p124, p124

    p125 = plan("q125_orders_profile")
    # "FileScan parquet" contains "Scan parquet", so this counts each
    # scan exactly once regardless of which spelling the plan uses.
    assert p125.count("Scan parquet") == 1, p125
    assert "Join" not in p125, p125

    p126 = plan("q126_weighted_doc_sample")
    assert "TakeOrderedAndProject" in p126, p126
    assert "rangepartitioning" not in p126, "no global sort for a top-k sample"

    p127 = plan("q127_basket_set_similarity")
    assert "CartesianProduct" not in p127 and "BroadcastNestedLoopJoin" not in p127, p127

    p128 = plan("q128_state_snapshot_diff")
    assert "Window" not in p128, p128


def test_iterative_and_divergence_query_plan_shapes(spark):
    """q129-q132 scale shapes:

    - q129 (chi2): everything after the first corpus aggregate runs
      on the |langs| x |sources| grid — the only non-broadcast join
      input is the aggregated contingency table, and there is no
      window.
    - q130 (KL): the per-token join is an equi-join on the token key;
      cross joins appear only against broadcast single-row totals.
    - q132 (PageRank): the aggregated edge relation is persisted, so
      the 3 unrolled iterations read InMemoryTableScan instead of
      re-scanning orders/lineitem once per iteration.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        return (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )

    p129 = plan("q129_lang_source_chi2")
    assert "Window" not in p129 and "CartesianProduct" not in p129, p129

    p130 = plan("q130_source_token_kl")
    assert "CartesianProduct" not in p130, p130

    p132 = plan("q132_trade_pagerank")
    # Iterations are eagerly localCheckpoint-ed (lineage truncated per
    # round, the graph.py convention), so the FINAL plan reads the
    # checkpointed |V|-row relation — it must not contain the fact
    # scans or the iteration join tower at all.
    assert "Scan ExistingRDD" in p132, p132
    assert "lineitem" not in p132 and "orders" not in p132, p132
    spark.catalog.clearCache()


def test_salted_topk_per_group_matches_naive_on_skew(spark):
    """The two-pass salted top-k must equal the naive per-group window
    on a skewed input (one group owns 90% of rows), for several salt
    counts — rank order (order_col, tiebreak) is total, so the salt
    partitioning cannot change the answer."""
    from team_aragon_spark.operators.windows import salted_topk_per_group, topk_per_group

    rows = [("hot", i, float(i % 97)) for i in range(900)]
    rows += [("cold", 1000 + i, float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "grp string, rid long, score double")
    naive = {
        (r.grp, r.rid)
        for r in topk_per_group(df, ["grp"], "score", 7, tiebreak="rid").collect()
    }
    for buckets in (2, 16, 64):
        salted = {
            (r.grp, r.rid)
            for r in salted_topk_per_group(
                df, ["grp"], "score", 7, tiebreak="rid", salt_buckets=buckets
            ).collect()
        }
        assert salted == naive, buckets


def test_grouped_sample_and_corr_plan_shapes(spark):
    """q134: the per-source sample must rank via TWO window passes
    (salted local + constant-size final), never a single whole-source
    window; q135: one scan feeds all 6 correlation pairs."""
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"
    p134 = (
        QUERY_REGISTRY["q134_per_source_weighted_sample"].fn(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p134.count("RunningWindowFunction") + p134.count("Window") >= 2, p134
    # the local pass partitions by (source, salt), visible as pmod(hash
    assert "pmod" in p134, p134

    p135 = (
        QUERY_REGISTRY["q135_lineitem_corr_matrix"].fn(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p135.count("Scan parquet") == 1 and "Join" not in p135, p135


def test_analytics_batch_plan_shapes(spark):
    """Scale shapes of the q139-q148 analytics batch:

    - q139 (TWAP): the lead() window partitions on the HIGH-
      cardinality user key, never a global order.
    - q145 (DAU/WAU): the distinct (day,user) relation is persisted —
      its three consumers must read InMemoryTableScan, not re-derive
      the 10M-row distinct.
    - q146/q148 (contribution / zone-map audit): aggregates only —
      no window, no cartesian; broadcast-joined totals at most.
    - q147 (Markov): no cartesian; normalization joins a broadcast
      |types|-row total.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        return (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )

    p139 = plan("q139_user_value_twap")
    assert "user_id" in p139.split("Window")[1][:400], p139
    assert "rangepartitioning(ts" not in p139, "no global time-ordered window"

    p145 = plan("q145_dau_wau_stickiness")
    assert "InMemoryTableScan" in p145, "day-user relation must be cached"
    spark.catalog.clearCache()

    for name in ("q146_period_contribution", "q148_zonemap_skipping_audit"):
        pl = plan(name)
        assert "Window" not in pl and "CartesianProduct" not in pl, (name, pl)

    p147 = plan("q147_event_markov_transitions")
    assert "CartesianProduct" not in p147 and "BroadcastNestedLoopJoin" not in p147, p147


def test_round6_new_query_plan_shapes(spark):
    """Scale-critical plan shapes of the round-6 additions:

    - q154/q157 (exact percentiles / MAD): NO sort-based percentile
      buffer — the plan's windows run over the (group, value)-count
      aggregate, and the raw-event relation feeds only hash
      aggregates; the stats joins broadcast.
    - q155 (triangles): no cartesian and no nested-loop — the wedge
      join is an equi-join on the oriented edge relation; the two
      dimension joins broadcast.
    - q156 (bigram LM): the vocab-size join broadcasts; the bigram
      build is JVM zip_with, no Python eval.
    - q152 (fast winnowing): identical plan skeleton to q133 — one
      doc-partitioned window, no join — with NO md5 call left in the
      fast path.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p154 = plan("q154_event_value_percentiles")
    assert "percentile" not in p154.lower(), "must not use the buffer aggregate"
    assert "SortMergeJoin" not in p154 and "CartesianProduct" not in p154
    p157 = plan("q157_mad_robust_outliers")
    assert "percentile" not in p157.lower()
    assert "BroadcastHashJoin" in p157 and "SortMergeJoin" not in p157

    p155 = plan("q155_trade_triangle_enum")
    assert "CartesianProduct" not in p155 and "BroadcastNestedLoopJoin" not in p155

    p156 = plan("q156_bigram_lm_scores")
    assert "BatchEvalPython" not in p156, "bigram build must stay JVM-side"
    assert "CartesianProduct" not in p156

    p152 = plan("q152_winnowing_fast")
    assert "md5" not in p152, "fast twin must not pay the md5 path"
    assert "xxhash64" in p152 and "Join" not in p152
    assert p152.count("Window") == 1

    p158 = plan("q158_doc_containment_pairs")
    assert "CartesianProduct" not in p158 and "BroadcastNestedLoopJoin" not in p158
    assert "InMemoryTableScan" in p158, "sorted-set relation must be shared via cache"


def test_round7_new_query_plan_shapes(spark):
    """Scale-critical plan shapes of the round-7 additions:

    - q165 (curation DAG): no cartesian / nested-loop anywhere in the
      5-stage lineage; the multi-consumer clean/gated relations are
      served from cache (InMemoryTableScan), not recomputed; the
      source-gate join broadcasts; no Python in the hot path.
    - q166 (portable PQ): the corpus-side assignment is a narrow
      JVM-expression map — no join, no Python eval; the only
      aggregation-side shuffle is the final presentation sort.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p165 = plan("q165_curation_pipeline")
    assert "CartesianProduct" not in p165
    # the only nested-loop joins allowed are broadcast CROSS joins of
    # the 1-row min-source-count aggregate inside source_mix_rebalance
    # (the package's accepted tiny-aggregate pattern; cached-plan
    # reprints repeat the same subtree)
    assert p165.count("BroadcastNestedLoopJoin") == p165.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    )
    assert "InMemoryTableScan" in p165, "clean/gated must be cache-served"
    assert "BroadcastHashJoin" in p165
    assert "BatchEvalPython" not in p165

    p166 = plan("q166_pq_codes_portable")
    assert "Join" not in p166, "PQ assignment must be a narrow map"
    assert "BatchEvalPython" not in p166

    p167 = plan("q167_bloom_membership")
    assert "CartesianProduct" not in p167
    assert "BroadcastNestedLoopJoin" not in p167
    assert "BroadcastHashJoin" in p167, "the 64-word filter must broadcast"
    assert "InMemoryTableScan" in p167, "member set feeds 2 consumers via cache"

    p169 = plan("q169_partition_checksums")
    assert "Join" not in p169, "checksum must be one scan + one aggregate"
    assert "BatchEvalPython" not in p169

    p170 = plan("q170_delta_join_view_maintenance")
    assert "CartesianProduct" not in p170
    assert "InMemoryTableScan" in p170, "side relations feed 2 quadrants via cache"

    p171 = plan("q171_seasonal_residual_anomaly")
    assert "CartesianProduct" not in p171
    assert "BroadcastHashJoin" in p171, "baseline grid must broadcast"
    assert "InMemoryTableScan" in p171, "hourly grid feeds 2 consumers via cache"

    p172 = plan("q172_histogram_sketch_quantiles")
    assert "CartesianProduct" not in p172
    assert "percentile" not in p172.lower(), "exact side must stay count-table"
    assert "BroadcastHashJoin" in p172, "per-type stats must broadcast"

    p173 = plan("q173_join_size_cms_estimate")
    assert "CartesianProduct" not in p173
    assert "InMemoryTableScan" in p173, "frequency table feeds sketch + exact via cache"
    assert "BatchEvalPython" not in p173

    p174 = plan("q174_table_stats_one_pass")
    assert "CartesianProduct" not in p174
    # both consumers (stats agg, MCV ranking) must read the cached
    # (column,value) count table — every printed FileScan sits inside
    # the single InMemoryRelation subtree, so the melt scans ONCE
    assert p174.count("InMemoryTableScan") >= 2, "stats + MCV must be cache-served"
    assert p174.count("FileScan") == p174.count("InMemoryRelation"), (
        "no FileScan outside the cached melt"
    )

    p175 = plan("q175_ann_recall_audit")
    assert "CartesianProduct" not in p175
    # the only nested-loop joins allowed are (a) broadcast CROSS joins
    # against the 16-row centroid relation (the tiny-side pattern) and
    # (b) the ground-truth brute-force side: corpus x BROADCAST bounded
    # query set with the self-exclusion predicate — that all-pairs scan
    # is the point of the audit, and its query side never grows
    assert p175.count("BroadcastNestedLoopJoin") == p175.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    ) + p175.count("BroadcastNestedLoopJoin BuildRight, Inner, NOT (neighbor_id")
    assert "InMemoryTableScan" in p175, "candidates feed volume + top-k via cache"
    assert "BatchEvalPython" not in p175

    p176 = plan("q176_k_anonymity_generalization")
    assert "Join" not in p176, "the 4-level sweep must be one scan, no joins"
    assert p176.count("FileScan") <= 1, "levels must share a single scan"
    assert "BatchEvalPython" not in p176

    p177 = plan("q177_hll_set_algebra")
    assert "CartesianProduct" not in p177
    assert "InMemoryTableScan" in p177, "registers feed singles + pair merges via cache"
    assert "BatchEvalPython" not in p177

    p178 = plan("q178_grouped_ols_regression")
    assert "Join" not in p178, "OLS must be one map-combined moment aggregate"
    assert p178.count("FileScan") <= 1
    assert "BatchEvalPython" not in p178

    p179 = plan("q179_time_decay_engagement")
    assert "CartesianProduct" not in p179
    assert "TakeOrderedAndProject" in p179, "top-100 must be a k-heap, not a sort"
    assert "BatchEvalPython" not in p179


def test_round7_batch5_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-5 additions:

    - q180 (KMV): the corpus relation is cache-served to its four
      consumers; the only nested-loop joins are the broadcast-tiny
      source-pair relations (Cross pair generation + the OR-condition
      pair-to-sketch joins, both bounded by |sources|^2).
    - q181 (BFS): the returned plan reads CHECKPOINTED frontier RDDs —
      the lineage truncation that keeps iterative expansion from
      compounding into a nested join tower.
    - q182 (ACF): the only nested-loop joins are broadcast CROSS of
      the 1-row span / 7-row lag relations; the (region, day)
      aggregate is cache-served to spine and self-join consumers.
    - q183 (skyline): exactly one bounded-domain window and one
      broadcast join back — never a fact-sized global window.
    - q184 (streaks): top-100 is a k-heap (TakeOrderedAndProject);
      the island relation feeds both per-user aggregates from cache.
    - q185 (audit): every edge joins at KEY granularity (sort-merge
      on the aggregated key table), no nested loops anywhere.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p180 = plan("q180_kmv_distinct_sketch")
    assert "CartesianProduct" not in p180
    assert p180.count("BroadcastNestedLoopJoin") == p180.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    ) + p180.count("BroadcastNestedLoopJoin BuildLeft")
    assert "InMemoryTableScan" in p180, "token relation must be cache-served"
    assert "BatchEvalPython" not in p180

    p181 = plan("q181_copurchase_bfs_hops")
    assert "CartesianProduct" not in p181
    assert "Scan ExistingRDD" in p181, "frontiers must be checkpoint-truncated"
    assert "BatchEvalPython" not in p181

    p182 = plan("q182_daily_order_autocorrelation")
    assert "CartesianProduct" not in p182
    assert p182.count("BroadcastNestedLoopJoin") == p182.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    )
    assert "InMemoryTableScan" in p182, "(region, day) agg must be cache-served"
    assert "BatchEvalPython" not in p182

    p183 = plan("q183_part_pareto_skyline")
    assert "CartesianProduct" not in p183
    assert "BroadcastNestedLoopJoin" not in p183
    assert p183.count("Window") == 1, "one bounded-domain window only"
    assert p183.count("BroadcastHashJoin") == 1, "member recovery must broadcast"
    assert "BatchEvalPython" not in p183

    p184 = plan("q184_activity_streaks")
    assert "CartesianProduct" not in p184
    assert "BroadcastNestedLoopJoin" not in p184
    assert "TakeOrderedAndProject" in p184, "top-100 must be a k-heap"
    assert "InMemoryTableScan" in p184, "islands must be cache-served"
    assert "BatchEvalPython" not in p184

    p185 = plan("q185_referential_usage_audit")
    assert "CartesianProduct" not in p185
    assert "BroadcastNestedLoopJoin" not in p185
    assert "BatchEvalPython" not in p185
    assert p185.count("FileScan") <= 14, "one child agg + one parent scan per edge"


def test_round7_batch6_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-6 additions:

    - q187 (phrase search): the positional postings are built MAP-SIDE
      (array zip + one posexplode) — NO window and no token-granular
      shuffle anywhere; the 1-row phrase probe broadcasts onto the
      cached postings and both top-k's are k-heaps.
    - q188 (sweep-line): no nested loops; the sweep windows run over
      boundary points, the day join broadcasts.
    - q189 (association rules): the only nested-loop join is the
      broadcast CROSS of the 1-row order-count aggregate; item counts
      broadcast onto the support-pruned pair table; the distinct
      (order, part) relation is cache-served to both count consumers;
      top-k by lift is a k-heap.
    - q186/q190 (iterative): their returned plans read checkpointed /
      driver-assembled results — the loop work is asserted through
      the planted-semantics pins instead.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p187 = plan("q187_phrase_positional_search")
    assert "CartesianProduct" not in p187
    assert "Window" not in p187, "bigrams must be map-side zip, not lead()"
    assert "BroadcastHashJoin" in p187, "phrase probe must broadcast"
    assert "InMemoryTableScan" in p187, "postings feed top-1 + probe via cache"
    assert "TakeOrderedAndProject" in p187, "top-k must be a k-heap"
    assert "BatchEvalPython" not in p187

    p188 = plan("q188_peak_concurrency_sweep")
    assert "CartesianProduct" not in p188
    # r8: the sweep routes through distributed_prefix_sum, whose 1-row
    # bounds relation crossJoins broadcast (a constant-size BNLJ by
    # design); any OTHER nested-loop join is still a bug.
    assert p188.count("BroadcastNestedLoopJoin") == p188.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    )
    assert "InMemoryTableScan" in p188, "sessions feed points + starts via cache"
    assert "BatchEvalPython" not in p188

    p189 = plan("q189_copurchase_association_rules")
    assert "CartesianProduct" not in p189
    assert p189.count("BroadcastNestedLoopJoin") == p189.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    )
    assert "BroadcastHashJoin" in p189, "item counts must broadcast"
    assert "InMemoryTableScan" in p189, "(order, part) feeds both counts via cache"
    assert "TakeOrderedAndProject" in p189, "top-k by lift must be a k-heap"
    assert "BatchEvalPython" not in p189

    for name in ("q186_copurchase_kcore", "q190_greedy_coverage_selection"):
        p = plan(name)
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p


def test_round7_batch7_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-7 additions:

    - q191 (activity bitmap): ONE partial->final aggregate pair (the
      bit_or partials merge map-side like sum); no join, no window,
      no Python.
    - q192 (DQ suite): a single scan of orders feeds all five checks
      — one broadcast join against the distinct dimension keys, no
      second Exchange of the fact table, verdict unpivot is a
      5-row Expand/Generate.
    - q193 (Mann-Whitney): the ordered rank window runs over the
      COUNT TABLE (post-aggregate), never over raw events; final
      moment aggregate is map-combined.
    - q194 (HITS): returned plan reads checkpointed score relations;
      the loop is pinned by the planted matrix-replay test.
    - q195 (PMI): unigram counts BROADCAST onto the min-count-pruned
      pair table; top-k by the scaled integer key is a k-heap; no
      cartesian; bigrams are map-side zip_with (no Window).
    - q196 (session paths): windows partitioned by user (no global
      ordered window over events); path aggregate + k-heap.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p191 = plan("q191_user_activity_bitmap")
    assert "Join" not in p191 and "Window" not in p191
    assert "BatchEvalPython" not in p191
    assert p191.count("HashAggregate") >= 2, "bit_or must partial-aggregate"

    p192 = plan("q192_dq_constraint_suite")
    assert "CartesianProduct" not in p192
    assert "BroadcastHashJoin" in p192, "dimension keys must broadcast"
    assert "SortMergeJoin" not in p192
    assert "BatchEvalPython" not in p192

    p193 = plan("q193_mann_whitney_utest")
    assert "CartesianProduct" not in p193
    assert "BatchEvalPython" not in p193
    # the single-partition window must consume the count table: the
    # plan's Window sits above a HashAggregate, not above the scan
    assert "Window" in p193 and "HashAggregate" in p193

    p194 = plan("q194_bipartite_hits")
    assert "CartesianProduct" not in p194
    assert "BatchEvalPython" not in p194
    assert "Scan ExistingRDD" in p194, "scores must read checkpoints"

    p195 = plan("q195_pmi_collocations")
    assert "CartesianProduct" not in p195
    assert "BroadcastHashJoin" in p195, "unigram counts must broadcast"
    assert "Window" not in p195, "bigrams must be map-side zip, not lead()"
    assert "TakeOrderedAndProject" in p195, "top-k must be a k-heap"
    assert "BatchEvalPython" not in p195

    p196 = plan("q196_session_path_analysis")
    assert "CartesianProduct" not in p196
    assert "BatchEvalPython" not in p196
    assert "TakeOrderedAndProject" in p196, "top-k must be a k-heap"


def test_round7_batch8_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-8 additions:

    - q197 (capped balance): exactly ONE Python boundary — a
      MapInPandas over user-repartitioned, (user, ts, id)-sorted
      partitions (NOT grouped-map applyInPandas: one pandas frame
      per key cost 7.8 s vs 0.8 s at sf0.1) — and one exchange on
      user_id feeding it; the non-associative scan is the one
      operator ALLOWED a Python stage.
    - q192 (rewritten): NO Expand in the plan — uniqueness rides the
      two-level aggregate, not count(DISTINCT) (the Expand doubled
      shuffled rows at 100x).
    - q198 (Benford): no join but the broadcast 1-row total; two
      aggregate pairs (9-group digit counts + total).
    - q199 (cross-correlation): hour table persisted and reused for
      both sides of the lag join; the 7-row lag relation broadcasts;
      no cartesian against raw events.
    - q200 (funnel latency): first-click/first-purchase aggregates
      are map-combined; no window over raw events.
    - q201 (Zipf): the rank window runs over the min-count-filtered
      vocabulary (post-aggregate), never raw tokens.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p197 = plan("q197_capped_running_balance")
    assert p197.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandas" not in p197, "per-key pandas frames banned"
    assert "BatchEvalPython" not in p197, "scalar Python UDFs stay banned"
    assert "CartesianProduct" not in p197
    assert "Sort" in p197, "per-partition (user, ts, id) sort must exist"

    p192 = plan("q192_dq_constraint_suite")
    assert "Expand" not in p192, "uniqueness must not plan count(DISTINCT) Expand"
    assert "BroadcastHashJoin" in p192
    assert "BatchEvalPython" not in p192

    p198 = plan("q198_benford_digit_audit")
    assert "Join" not in p198 or "BroadcastNestedLoopJoin BuildRight, Cross" in p198
    assert "BatchEvalPython" not in p198
    assert "CartesianProduct" not in p198

    p199 = plan("q199_hourly_crosscorrelation")
    assert "CartesianProduct" not in p199
    assert "InMemoryTableScan" in p199, "hour table must be cache-served twice"
    assert "BatchEvalPython" not in p199

    p200 = plan("q200_funnel_latency_quantiles")
    assert "CartesianProduct" not in p200
    assert "BatchEvalPython" not in p200

    p201 = plan("q201_token_zipf_fit")
    assert "CartesianProduct" not in p201
    assert "BatchEvalPython" not in p201
    # Window must consume the aggregated vocabulary, not raw tokens:
    # a Generate (explode) below the Window would mean raw-token ranks
    w_idx, g_idx = p201.find("Window"), p201.find("Generate")
    assert w_idx != -1 and g_idx != -1 and w_idx < g_idx


def test_round7_batch9_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-9 additions:

    - q202 (RFM): the ntile windows consume the per-user AGGREGATE
      (Window above HashAggregate), never raw events; the corpus-max
      is a broadcast 1-row cross.
    - q203 (medoids): the pairwise join is label-keyed equi (no
      cartesian); per-label top-1 via Window over the aggregate.
    - q204 (burstiness): the lag window is (type, day)-partitioned —
      asserted by the day expression appearing in the Window spec —
      then one map-combined moment aggregate.
    - q205 (cohort LTV): cohort sizes broadcast; running sum windows
      over the (cohort, age) matrix, not events.
    - q206 (Gini): the rank/cumulation window consumes the
      value-count table (Window above HashAggregate); no raw-row
      global sort anywhere.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    for name in (
        "q202_rfm_segmentation",
        "q203_label_medoids",
        "q204_interarrival_burstiness",
        "q205_cohort_ltv_curves",
        "q206_revenue_concentration",
        "q207_centroid_medoid_proxy",
    ):
        p = plan(name)
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        # broadcast nested loops only as 1-row cross joins
        assert p.count("BroadcastNestedLoopJoin") == p.count(
            "BroadcastNestedLoopJoin BuildRight, Cross"
        ) + p.count("BroadcastNestedLoopJoin BuildLeft, Cross"), name

    # "window consumes an aggregate, not raw rows" = some
    # HashAggregate must appear BELOW the window in the printed tree
    # (the final moment/first aggregates legitimately sit above it)
    p202 = plan("q202_rfm_segmentation")
    assert p202.find("HashAggregate", p202.find("Window")) != -1, (
        "ntile must rank the per-user aggregate, not raw events"
    )
    p204 = plan("q204_interarrival_burstiness")
    assert "86400000" in p204, "lag window must be day-partitioned"
    p206 = plan("q206_revenue_concentration")
    assert p206.find("HashAggregate", p206.find("Window")) != -1, (
        "Lorenz cumulation must run over the value-count table"
    )
    p205 = plan("q205_cohort_ltv_curves")
    assert "BroadcastHashJoin" in p205, "cohort sizes must broadcast"


def test_round7_batch10_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-10 additions:

    - q208/q212 (CUSUM, KS): arg-max over an AGGREGATED series/count
      table (HashAggregate below the Window), 1-row top via
      TakeOrderedAndProject; integer cross-multiplied ranking keys.
    - q209 (ABC): per-part aggregate below the ranked cumulation;
      3-row output.
    - q210 (negative sampling): candidates = |users| x k via explode
      — NO user x parts join anywhere (the quadratic trap); part
      existence via broadcast semi join; purchase exclusion via
      anti join on the persisted pair relation.
    - q211 (assortativity): distinct pair relation cache-served;
      degree joins; one moment aggregate.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    for name in (
        "q208_order_volume_changepoint",
        "q209_part_abc_classification",
        "q210_negative_sampling",
        "q211_degree_assortativity",
        "q212_ks_two_sample_test",
    ):
        p = plan(name)
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        assert p.count("BroadcastNestedLoopJoin") == p.count(
            "BroadcastNestedLoopJoin BuildRight, Cross"
        ) + p.count("BroadcastNestedLoopJoin BuildLeft, Cross"), name

    p208 = plan("q208_order_volume_changepoint")
    assert "TakeOrderedAndProject" in p208
    assert p208.find("HashAggregate", p208.find("Window")) != -1
    p212 = plan("q212_ks_two_sample_test")
    assert "TakeOrderedAndProject" in p212
    assert p212.find("HashAggregate", p212.find("Window")) != -1
    p210 = plan("q210_negative_sampling")
    assert "Generate" in p210, "candidates must come from explode, not a join"
    assert "BroadcastHashJoin" in p210, "part existence must broadcast"
    p211 = plan("q211_degree_assortativity")
    assert "InMemoryTableScan" in p211, "pair relation must be cache-served"


def test_round7_batch11_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-11 additions:

    - q213 (Markov eval): the fitted model and baseline BROADCAST
      onto the test stream (train never joins test by shuffle); one
      user-partitioned lead() window.
    - q214 (feature hashing): token aggregate then a fixed-width
      bucket aggregate; top-k heap; no join at all.
    - q215 (quantile normalization): source-partitioned windows, no
      global Window, no join.
    - q216 (link prediction): min-common filter before the degree
      joins; degrees broadcast; anti-join against the cached edge
      set; top-k by the integer key is a heap.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    for name in (
        "q213_markov_heldout_accuracy",
        "q214_feature_hashing",
        "q215_source_quantile_normalization",
        "q216_copurchase_link_prediction",
    ):
        p = plan(name)
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        assert p.count("BroadcastNestedLoopJoin") == p.count(
            "BroadcastNestedLoopJoin BuildRight, Cross"
        ) + p.count("BroadcastNestedLoopJoin BuildLeft, Cross"), name

    p213 = plan("q213_markov_heldout_accuracy")
    assert "BroadcastHashJoin" in p213, "model must broadcast onto test"
    p214 = plan("q214_feature_hashing")
    assert "Join" not in p214
    assert "TakeOrderedAndProject" in p214
    p215 = plan("q215_source_quantile_normalization")
    assert "Join" not in p215
    p216 = plan("q216_copurchase_link_prediction")
    assert "BroadcastHashJoin" in p216, "degrees must broadcast"
    assert "TakeOrderedAndProject" in p216
    assert "InMemoryTableScan" in p216, "edge set must be cache-served"


def test_round7_batch12_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-12 additions:

    - q217 (calibration): the fitted model broadcasts onto the test
      stream (q213's rule); output bounded by the bin count.
    - q218 (Mann-Kendall): the pairwise join runs over the DAY
      aggregate on both sides (cache-served), never raw orders.
    - q219 (bootstrap): one Generate (explode) feeds a B-group
      map-combined aggregate; no join of data against data.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    for name in (
        "q217_prediction_calibration",
        "q218_mann_kendall_trend",
        "q219_hash_bootstrap_ci",
    ):
        p = plan(name)
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        if name != "q218_mann_kendall_trend":
            assert p.count("BroadcastNestedLoopJoin") == p.count(
                "BroadcastNestedLoopJoin BuildRight, Cross"
            ) + p.count("BroadcastNestedLoopJoin BuildLeft, Cross"), name
    # q218's day-pair inequality join IS a conditioned BNLJ by
    # design — over the calendar-bounded day aggregate (cache-served
    # on both sides), never over raw orders

    p217 = plan("q217_prediction_calibration")
    assert "BroadcastHashJoin" in p217, "model must broadcast onto test"
    p218 = plan("q218_mann_kendall_trend")
    assert "InMemoryTableScan" in p218, "day series must be cache-served"
    p219 = plan("q219_hash_bootstrap_ci")
    assert "Generate" in p219, "replicates must come from explode"
    assert "Join" not in p219 or "BroadcastNestedLoopJoin" in p219


def test_round7_batch13_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-13 additions:

    - q221 (point-in-time join): the interval join compiles to ZERO
      joins — union-merge + one user-partitioned window (the asof.py
      shape); no BroadcastNestedLoopJoin, no range explosion.
    - q222 (conformance): sessionize + one (user, session) aggregate;
      regex rules evaluate on the aggregated signatures.
    - q220 is a streaming drain (its returned plan reads the memory
      sink); its semantics are pinned by the planted histogram test
      and the batch oracle.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p221 = plan("q221_point_in_time_feature_join")
    assert "Join" not in p221, "as-of must be union-merge, not a join"
    assert "Window" in p221
    assert "BatchEvalPython" not in p221

    p222 = plan("q222_process_conformance")
    assert "CartesianProduct" not in p222
    assert "BatchEvalPython" not in p222
    assert "ObjectHashAggregate" in p222 or "HashAggregate" in p222


def test_round7_batch14_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-14 additions:

    - q223 (W1 drift): one (type, bin) aggregate persisted for its
      two consumers (totals + CDF windows); windows run over 64-bin
      histograms, never raw events.
    - q224 (peaks): day series cache-served to the window pass and
      the mean aggregate; height gate is integer arithmetic.
    - q225 (Theil-Sen): day series cache-served to both pair-join
      sides; the median runs on the slope COUNT TABLE (the q154
      operator), no raw-slope buffer.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    for name in (
        "q223_wasserstein_value_drift",
        "q224_daily_order_peaks",
        "q225_theil_sen_slope",
    ):
        p = plan(name)
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        assert "InMemoryTableScan" in p, f"{name}: multi-consumer relation must be cached"


def test_round7_batch15_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-15 additions:

    - q226 (windowed funnel): BOTH step joins compile to union-merge
      as-ofs — zero range joins; depth rollup joins on user_id only.
    - q227 (weighted quantiles): the cumulative-weight windows run
      over the (flag, value) count table (HashAggregate below
      Window), never raw lineitem.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p226 = plan("q226_windowed_funnel")
    assert "CartesianProduct" not in p226
    assert "BroadcastNestedLoopJoin" not in p226 or (
        p226.count("BroadcastNestedLoopJoin")
        == p226.count("BroadcastNestedLoopJoin BuildRight, Cross")
    ), "no range joins — steps must be union-merge as-ofs"
    assert "BatchEvalPython" not in p226

    p227 = plan("q227_weighted_quantiles")
    assert "CartesianProduct" not in p227
    assert "BatchEvalPython" not in p227
    assert p227.find("HashAggregate", p227.find("Window")) != -1, (
        "weight cumulation must run over the value count table"
    )


def test_round7_batch17_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-17 additions:

    - q228/q230 (survival, backtest): the unpartitioned windows run
      over day/lifetime-bounded HashAggregate output, never raw facts.
    - q229 (SES): the sequential fold is a JVM higher-order aggregate
      — no Python anywhere in the plan.
    - q231 (Misra-Gries): exactly one Arrow MapInPandas stage (pass
      1), and the exact pass semi-joins the BROADCAST candidate set.
    - q232 (LLR): source marginal + grand total broadcast; no
      cartesian products beyond broadcast-tiny crossJoins.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    for name in ("q228_kaplan_meier_survival", "q230_forecast_backtest"):
        p = plan(name)
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "MapInPandas" not in p
        assert p.find("HashAggregate", p.find("Window")) != -1, (
            f"{name}: windows must run over the aggregated series"
        )

    p229 = plan("q229_ses_forecast")
    assert "CartesianProduct" not in p229
    assert "BatchEvalPython" not in p229 and "MapInPandas" not in p229

    p231 = plan("q231_misra_gries_heavy_hitters")
    assert p231.count("MapInPandas") == 1, "one shuffle-free MG pass"
    assert "BroadcastHashJoin" in p231 and "LeftSemi" in p231, (
        "exact pass must semi-join broadcast candidates"
    )
    assert "CartesianProduct" not in p231

    p232 = plan("q232_llr_keywords")
    assert "CartesianProduct" not in p232
    assert "BatchEvalPython" not in p232 and "MapInPandas" not in p232


def test_round7_batch18_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-18 additions:

    - q233 (Spearman): all three rank maps join BROADCAST (count
      tables, <= 50 rows) — the fact side never shuffles for ranking;
      rank windows run over HashAggregate output.
    - q234 (YoY): the growth window runs over the (segment, year)
      aggregate, never raw orders.
    - q235 (l-diversity): ONE scan of customer feeds all four
      generalization levels (the explode plan, q176's shape).
    - q236 (PRF1): pure JVM expressions, no Python.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p233 = plan("q233_spearman_corr")
    assert p233.count("BroadcastHashJoin") >= 3, "rank maps must broadcast"
    assert "SortMergeJoin" not in p233
    assert "CartesianProduct" not in p233
    assert "BatchEvalPython" not in p233 and "MapInPandas" not in p233

    p234 = plan("q234_yoy_growth")
    assert "CartesianProduct" not in p234
    assert "BatchEvalPython" not in p234
    assert p234.find("HashAggregate", p234.find("Window")) != -1, (
        "growth window must run over the (segment, year) aggregate"
    )

    p235 = plan("q235_l_diversity_audit")
    assert p235.count("Scan parquet") == 1, "one scan feeds all levels"
    assert "Generate" in p235  # the level explode
    assert "BatchEvalPython" not in p235

    p236 = plan("q236_langid_prf1")
    assert "CartesianProduct" not in p236
    assert "BatchEvalPython" not in p236 and "MapInPandas" not in p236


def test_round7_batch19_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-19 additions:

    - q237 (weighted SSSP): every relaxation round joins the
      node-bounded dist table BROADCAST against cached edges — no
      edge shuffle, no cartesian.
    - q239 (info gain): ONE stacked fact scan; entropy windows run
      over the per-feature count tables (HashAggregate below Window).
    - q240 (recommender eval): the only row-widening joins are
      broadcast (top-M prefix, max-history scalar); no cartesian
      beyond broadcast-tiny crossJoins; no Python.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p237 = plan("q237_weighted_shortest_path")
    assert "CartesianProduct" not in p237
    # the relaxation rounds ran eagerly behind localCheckpoint, so the
    # final plan must be a flat scan of the checkpointed dist — the
    # lineage-truncation discipline itself (q181/q132 pattern)
    assert "Scan ExistingRDD" in p237
    assert "BatchEvalPython" not in p237 and "MapInPandas" not in p237

    p239 = plan("q239_info_gain_split")
    assert p239.count("Scan parquet") == 1, "one stacked scan"
    assert "Generate" in p239
    assert "CartesianProduct" not in p239
    assert p239.find("HashAggregate", p239.find("Window")) != -1

    p240 = plan("q240_popularity_rec_hitk")
    assert "CartesianProduct" not in p240
    assert "BatchEvalPython" not in p240 and "MapInPandas" not in p240
    bnl = p240.count("BroadcastNestedLoopJoin")
    assert bnl == p240.count("BroadcastNestedLoopJoin BuildRight, Cross"), (
        "only broadcast-tiny crossJoins allowed"
    )


def test_round7_batch20_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-20 additions:

    - q241 (Holt): the two-state fold is a JVM aggregate() — no
      Python, no cartesian.
    - q242 (path taxonomy): the pair matrix joins the BROADCAST
      top-k relation (constant-size); transcripts aggregate once.
    - q243 (robust means): percentile boundaries join BROADCAST onto
      the single conditional-aggregate fact pass.
    - q244 (bursts): lag/cumsum islands at (user, type) grain; the
      final aggregate is types-sized; no Python.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p241 = plan("q241_holt_trend_forecast")
    assert "CartesianProduct" not in p241
    assert "BatchEvalPython" not in p241 and "MapInPandas" not in p241

    p242 = plan("q242_session_path_taxonomy")
    assert "CartesianProduct" not in p242
    assert "BatchEvalPython" not in p242
    assert "BroadcastNestedLoopJoin" in p242  # constant top-k pair matrix

    p243 = plan("q243_robust_means")
    assert "BroadcastHashJoin" in p243, "boundary relation must broadcast"
    assert "CartesianProduct" not in p243
    assert "BatchEvalPython" not in p243

    p244 = plan("q244_event_burst_compaction")
    assert "CartesianProduct" not in p244
    assert "BatchEvalPython" not in p244 and "MapInPandas" not in p244


def test_round7_batch21_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-21 additions:

    - q245 (lease coverage): both window passes and the island
      aggregate share ONE user_id shuffle; no Python, no cartesian.
    - q246 (LPA communities): per-round edge joins are hash joins on
      the persisted edge list (InMemoryTableScan), never cartesian.
    - q247 (AMS F2): the persisted key-frequency table feeds the
      estimator fan-out and the exact-F2 pass (InMemoryTableScan);
      signs are JVM md5/conv expressions, no Python.
    - q248 (entity resolution): the only nested-loop join is the
      1-row broadcast stats crossJoin; candidate pairs come from the
      block-key equi-join.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p245 = plan("q245_activity_lease_coverage")
    assert "CartesianProduct" not in p245
    assert "BatchEvalPython" not in p245 and "MapInPandas" not in p245
    # one user_id exchange serves both window passes and the aggregate
    assert p245.count("hashpartitioning(user_id") <= 1

    p246 = plan("q246_label_propagation_communities")
    assert "CartesianProduct" not in p246
    assert "BatchEvalPython" not in p246

    p247 = plan("q247_ams_f2_sketch")
    assert "CartesianProduct" not in p247
    assert "BatchEvalPython" not in p247
    assert "InMemoryTableScan" in p247, "key-frequency table must persist"

    # q248's returned relation is the <= 50-row class-filled pair set
    # joined to the 1-row u stats — a local relation; the corpus-sized
    # count/grid stages run before the driver-side class fill and are
    # exercised by the oracle tests.
    p248 = plan("q248_entity_resolution_scoring")
    assert "CartesianProduct" not in p248
    assert "BatchEvalPython" not in p248
    assert (
        "LocalTableScan" in p248
        or "LocalRelation" in p248
        or "Scan ExistingRDD" in p248
    )


def test_round7_batch22_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-22 additions:

    - q249 (watermark audit): lateness window shuffles once on
      event_type; the persisted relation feeds percentiles + counts.
    - q250 (seasonal decomposition): the 7-row seasonal relation
      joins back BROADCAST; no Python.
    - q251 (spatial join): candidates come from an equi-join on the
      grid cell — never a nested-loop or cartesian pair join.
    - q252 (NDCG): the only nested-loop joins broadcast the constant
      centroid/IDCG relations; cosine scoring is JVM expressions.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p249 = plan("q249_watermark_delay_audit")
    assert "CartesianProduct" not in p249
    assert "BatchEvalPython" not in p249 and "MapInPandas" not in p249
    assert "InMemoryTableScan" in p249, "lateness relation must persist"

    p250 = plan("q250_weekday_seasonal_decomposition")
    assert "CartesianProduct" not in p250
    assert "BatchEvalPython" not in p250
    assert "BroadcastHashJoin" in p250, "seasonal stats must broadcast"

    p251 = plan("q251_spatial_radius_join")
    assert "CartesianProduct" not in p251
    assert "BroadcastNestedLoopJoin" not in p251, "cell join must be equi"
    assert "BatchEvalPython" not in p251
    assert "InMemoryTableScan" in p251, "gridded points must persist"

    p252 = plan("q252_ann_ndcg_eval")
    assert "CartesianProduct" not in p252
    assert "BatchEvalPython" not in p252 and "MapInPandas" not in p252


def test_round7_batch23_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-23 additions:

    - q253 (readability): pure projection — NO hash-partitioning
      exchange anywhere (the only exchange is the final sort).
    - q254 (WOE): per-feature totals join BROADCAST; the melted
      relation persists for its two consumers.
    - q255 (encoding advisor): the run window is distributed on
      (col, orderkey) — hash-partitioned, never a single global
      sort; the tagged relation persists.
    - q256 (kNN eval): label relations broadcast; scoring is JVM.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p253 = plan("q253_doc_readability_scores")
    assert "hashpartitioning" not in p253, "readability must not shuffle"
    assert "BatchEvalPython" not in p253 and "MapInPandas" not in p253

    p254 = plan("q254_woe_feature_encoding")
    assert "CartesianProduct" not in p254
    assert "BatchEvalPython" not in p254
    assert "BroadcastHashJoin" in p254, "feature totals must broadcast"
    assert "InMemoryTableScan" in p254, "melted relation must persist"

    p255 = plan("q255_column_encoding_advisor")
    assert "CartesianProduct" not in p255
    assert "BatchEvalPython" not in p255
    assert "hashpartitioning(col" in p255, "run window must distribute"
    assert "InMemoryTableScan" in p255, "run-tagged relation must persist"

    p256 = plan("q256_knn_loo_classifier_eval")
    assert "CartesianProduct" not in p256
    assert "BatchEvalPython" not in p256 and "MapInPandas" not in p256


def test_round7_batch24_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-24 additions:

    - q257/q258 (Markov attribution / PCA): the returned relation is
      a LOCAL table — the bounded-collect contract (chain cells are
      |types|^2, covariance is dims^2); the corpus-sized stages run
      before the collect and are exercised by the oracle tests.
    - q259 (Simpson screen): customer dim broadcasts; the stratum
      relation persists for its two consumers; pooled sign rides a
      1-row broadcast crossJoin.
    - q260 (retention triangle): the distinct (user, week) relation
      persists; cohort sizes broadcast onto the activity cells.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    def is_local(p):
        return (
            "LocalTableScan" in p
            or "LocalRelation" in p
            or "Scan ExistingRDD" in p
        )

    assert is_local(plan("q257_markov_removal_attribution"))
    assert is_local(plan("q258_power_iteration_pca"))

    p259 = plan("q259_simpsons_paradox_screen")
    assert "CartesianProduct" not in p259
    assert "BatchEvalPython" not in p259
    assert "BroadcastHashJoin" in p259, "customer dim must broadcast"
    assert "BroadcastNestedLoopJoin" in p259  # 1-row pooled sign
    assert "InMemoryTableScan" in p259, "stratum relation must persist"

    p260 = plan("q260_cohort_retention_triangle")
    assert "CartesianProduct" not in p260
    assert "BatchEvalPython" not in p260
    assert "InMemoryTableScan" in p260, "(user, week) relation must persist"


def test_round7_batch25_plan_shapes(spark):
    """Scale-critical plan shapes of the batch-25 additions:

    - q261 (Weiszfeld): the point set persists and every iteration
      joins the |labels|-row median relation BROADCAST — linear
      passes, never pairwise.
    - q262 (SCD2 intervals): one user_id shuffle feeds both windows
      and the episode aggregate; no Python.
    - q263 (trending): the week-over-week join runs on the
      persisted top-k relation, never on the raw counts.
    """
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p261 = plan("q261_geometric_median_weiszfeld")
    assert "CartesianProduct" not in p261
    assert "BatchEvalPython" not in p261
    assert "BroadcastHashJoin" in p261, "median relation must broadcast"
    assert "InMemoryTableScan" in p261, "point set must persist"

    p262 = plan("q262_scd2_state_intervals")
    assert "CartesianProduct" not in p262
    assert "BatchEvalPython" not in p262 and "MapInPandas" not in p262
    assert p262.count("hashpartitioning(user_id") <= 1

    p263 = plan("q263_weekly_trending_parts")
    assert "CartesianProduct" not in p263
    assert "BatchEvalPython" not in p263
    assert "InMemoryTableScan" in p263, "top-k relation must persist"

    # q264 (IVF kNN twin): the base projection and the two-winner
    # relation persist (candidates are never materialized — counts
    # come from cell sizes); centroid crossJoins broadcast; no
    # Python; no corpus-sized broadcast (the only BroadcastExchange
    # inputs are the sqrt-n centroid slice and the |cells|-row sizes).
    p264 = plan("q264_knn_ivf_loo_fast")
    assert "CartesianProduct" not in p264
    assert "BatchEvalPython" not in p264 and "MapInPandas" not in p264
    assert "InMemoryTableScan" in p264, "base/winner relations must persist"

    # q265 (gap audit): the key relation persists for its two
    # consumers; the in-bucket lag is hash-distributed on the
    # bucket — never one global sort over all keys.
    p265 = plan("q265_orderkey_gap_audit")
    assert "CartesianProduct" not in p265
    assert "BatchEvalPython" not in p265
    assert "InMemoryTableScan" in p265, "key relation must persist"
    assert "hashpartitioning(bkt" in p265, "in-bucket lag must distribute"

    # q266 (lead time): the joined lead-day relation persists for
    # the percentile operator and the min/max pass; no Python.
    p266 = plan("q266_fulfillment_lead_time")
    assert "CartesianProduct" not in p266
    assert "BatchEvalPython" not in p266 and "MapInPandas" not in p266
    assert "InMemoryTableScan" in p266, "lead-day relation must persist"


def test_distributed_rank_matches_global_window_on_skew(spark):
    """windows.distributed_rank must return exactly the global
    row_number answer (total order: value desc, id asc) on a fixture
    with heavy value ties, and ntile_from_rank must reproduce
    ntile(k) for n % k != 0 and n < k."""
    from pyspark.sql import Window

    from team_aragon_spark.operators.windows import (
        distributed_rank,
        ntile_from_rank,
    )

    rows = [(i, (i * 7) % 5, f"u{i:05d}") for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, v long, u string")
    got = distributed_rank(df, [F.desc("v"), F.asc("u")], "rk", n_shards=16)
    naive = df.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("v"), F.asc("u")))
    )
    assert got.select("id", "rk").exceptAll(naive.select("id", "rk")).count() == 0
    assert naive.select("id", "rk").exceptAll(got.select("id", "rk")).count() == 0
    for n, k in [(3000, 5), (7, 5), (3, 5), (11, 4)]:
        sub = df.limit(n)
        g = distributed_rank(sub, [F.asc("u")], "rk", n_shards=8).crossJoin(
            F.broadcast(sub.agg(F.count(F.lit(1)).alias("__n")))
        )
        g = g.select("u", ntile_from_rank("rk", "__n", k).cast("int").alias("b"))
        nv = sub.select("u", F.ntile(k).over(Window.orderBy("u")).alias("b"))
        assert g.exceptAll(nv).count() == 0 and nv.exceptAll(g).count() == 0, (n, k)
    spark.catalog.clearCache()


def test_round8_dewindowed_plan_shapes(spark):
    """Round-8 single-task-window eliminations hold in the executed
    plan:

    - q202 (RFM): every row_number window is keyed on the range-
      partition id (__pid) — no global ntile/rank sort remains; the
      only unpartitioned windows run over the n_shards-row offset
      relations.
    - q242 (path taxonomy): the top-20 comes from
      TakeOrderedAndProject (per-partition heaps), and the one
      remaining rank window runs AFTER the 20-row limit.
    - q188 (concurrency sweep): the boundary-point running sum is
      sharded (__shard) via distributed_prefix_sum — no window
      orders the full boundary stream.
    """
    import re

    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    p202 = plan("q202_rfm_segmentation")
    rn_windows = [
        ln for ln in p202.splitlines()
        if "row_number" in ln and re.search(r"\bWindow\b", ln)
    ]
    assert rn_windows, p202
    for ln in rn_windows:
        assert "__pid" in ln, ln
    assert "ntile" not in p202, "global ntile window must be gone"

    p242 = plan("q242_session_path_taxonomy")
    # orderBy+limit fuses into TakeOrderedAndProject (per-partition
    # heaps + k-row merge); the surviving rank window consumes its
    # 20-row output, never the raw counts
    assert "TakeOrderedAndProject" in p242, p242

    p188 = plan("q188_peak_concurrency_sweep")
    delta_windows = [
        ln for ln in p188.splitlines()
        if re.search(r"\bWindow\b", ln) and "delta" in ln
    ]
    assert delta_windows, p188
    for ln in delta_windows:
        assert "__shard" in ln, ln


def test_distributed_cumsums_matches_global_window(spark):
    """windows.distributed_cumsums must return exactly the plain
    ordered-window cumsum — multi-column sums in one pass, arbitrary
    sort expressions (desc + tiebreak), global and grouped modes —
    on a fixture with an adversarially skewed group (one group owns
    ~90% of the rows, the shape that single-tasks a plain per-group
    window)."""
    from pyspark.sql import Window

    from team_aragon_spark.operators.windows import distributed_cumsums

    rows = [(i, "hot" if i % 10 else "cold", (i * 13) % 97, i % 7 + 1, 2 * i)
            for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, g string, v long, a long, b long")

    # global, two sums, composite (v DESC, id ASC) total order
    order = [F.desc("v"), F.asc("id")]
    got = distributed_cumsums(
        df, {"ca": "a", "cb": "b"}, order, n_shards=16
    ).select("id", "ca", "cb")
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    naive = df.select(
        "id", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0

    # grouped (skewed key), single sum, asc order
    gotg = distributed_cumsums(
        df, {"ca": "a"}, [F.asc("id")], partition_cols=["g"], n_shards=16
    ).select("g", "id", "ca")
    wg = Window.partitionBy("g").orderBy("id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    naiveg = df.select("g", "id", F.sum("a").over(wg).alias("ca"))
    assert gotg.exceptAll(naiveg).count() == 0
    assert naiveg.exceptAll(gotg).count() == 0
    spark.catalog.clearCache()


def test_round9_dewindowed_plan_shapes(spark):
    """Round-9 single-task-window eliminations hold in the executed
    plan: the distinct-value / ranked cumulations of q193, q206,
    q212, q228, q209, the percentile operator (via q243), and q201's
    vocabulary rank all key their data-bearing windows on the range-
    partition id (__pid) — the only remaining ordered windows are the
    shard-cardinality-bounded offset relations (which also reference
    __pid); q240's popularity prefix comes from
    TakeOrderedAndProject, with the rank window running after the
    bounded limit."""
    import re

    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    for name, marker in [
        ("q193_mann_whitney_utest", "cnt"),
        ("q206_revenue_concentration", "m"),
        ("q212_ks_two_sample_test", "c1"),
        ("q228_kaplan_meier_survival", "c"),
        ("q209_part_abc_classification", "rev_c"),
        ("q227_weighted_quantiles", "wt"),
        ("q243_robust_means", "__c"),
        ("q201_token_zipf_fit", "row_number"),
    ]:
        p = plan(name)
        win_lines = [
            ln for ln in p.splitlines() if re.search(r"\bWindow\b", ln)
        ]
        assert win_lines, (name, p)
        for ln in win_lines:
            assert "__pid" in ln, (name, ln)
        assert marker in p, (name, marker)

    # q240: the popularity prefix is TakeOrderedAndProject (per-
    # partition heaps), and the surviving global-ordered rank window
    # consumes the bounded post-limit relation (10 + max-history
    # rows, the q242 convention) — structurally, every Window that
    # orders on the popularity count sits above a GlobalLimit.
    p240 = plan("q240_popularity_rec_hitk")
    assert "TakeOrderedAndProject" in p240, p240


def test_late_round9_ann_plan_shapes(spark):
    """The late-r9 similarity queries keep their scale posture in the
    executed plan: every per-query ranking window is PARTITIONED (by
    query_id, optionally + salt) — no unpartitioned WindowExec — and
    the fixed panels/centroids/codebook sides arrive via
    BroadcastExchange.  q298's score cumulation keys on the range-
    partition id like the q193 family."""
    import re

    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"

    def plan(name):
        p = (
            QUERY_REGISTRY[name].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
        spark.catalog.clearCache()
        return p

    for name, min_bcast in [
        ("q287_truncation_recall_audit", 3),
        ("q295_ivfpq_search_eval", 6),
        ("q296_two_stage_rerank_eval", 3),
    ]:
        p = plan(name)
        assert p.count("BroadcastExchange") >= min_bcast, name
        for ln in p.splitlines():
            if re.search(r"\bWindow \[", ln):
                assert "windowspecdefinition(query_id" in ln, (name, ln)

    p = plan("q298_dsir_selection_auc")
    for ln in p.splitlines():
        if re.search(r"\bWindow \[", ln):
            assert "__pid" in ln, ln
