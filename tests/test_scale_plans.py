"""Physical-plan guarantees for the 100 TB layouts: bucketed co-located
joins (no Exchange) and partition pruning. These assert the *plan*, not just
the result — the property that actually survives a 1000× scale-up."""

import pytest
from pyspark.sql import functions as F

from hive_cassandra_spark.catalog import Catalog


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    # saveAsTable uses the session warehouse (static conf); the DROP TABLEs
    # in the finally clean up the managed data
    cat = Catalog(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    try:
        cat.create_bucketed_table("orders_b", orders, ["o_orderkey"], 8)
        cat.create_bucketed_table(
            "lineitem_b",
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            ["o_orderkey"],
            8,
        )
        a, b = spark.table("orders_b"), spark.table("lineitem_b")
        # disable broadcast so the join strategy question is real
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b, "o_orderkey").groupBy("o_orderstatus").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-bucketed + co-sorted ⇒ SortMergeJoin reads both sides in place:
        # the only Exchange allowed is the one for the final groupBy
        join_part = plan.split("SortMergeJoin")[1] if "SortMergeJoin" in plan else plan
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_part, f"bucketed join still shuffles:\n{plan}"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_partitioned_scan_prunes(spark, sf_dir, tmp_path):
    cat = Catalog(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    cat.create_partitioned_table(
        "orders_part", orders, str(tmp_path / "orders_part"), ["o_year"]
    )
    one_year = cat.table("orders_part").filter(F.col("o_year") == 1995)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    # static partition pruning: the filter must reach PartitionFilters,
    # not be a post-scan Filter over all partitions
    assert "PartitionFilters" in plan and "o_year" in plan.split("PartitionFilters")[1][:200]
    expected = orders.filter(F.col("o_year") == 1995).count()
    assert one_year.count() == expected


def _plan(spark, sf_dir, name):
    from hive_cassandra_spark.queries import QUERIES

    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_merged_window_query_single_exchange(spark, sf_dir):
    """q13's rank + running-sum share ONE window spec: both functions must
    ride a single hash exchange (the merge must not have doubled the
    shuffle)."""
    import re

    plan = _plan(spark, sf_dir, "q13_top_orders_per_customer")
    assert len(re.findall(r"\bExchange\b", plan)) == 1


def test_merged_text_suite_zero_shuffle(spark, sf_dir):
    """The full text-analysis suite (stats + lang-id + tokens +
    fingerprints) is one codegen projection: no exchange, no Python."""
    plan = _plan(spark, sf_dir, "q38_text_stats")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merged_multimodal_zero_shuffle(spark, sf_dir):
    """Payload stats + feature extraction flow through ONE Arrow batch
    (metadata passthrough): no rejoin exchange anywhere."""
    plan = _plan(spark, sf_dir, "q42_multimodal_payload")
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_jaccard_hot_set_broadcast_anti_join(spark, sf_dir):
    """The max_df hot-shingle filter must be a BROADCAST anti-join (the hot
    set is tiny) — a shuffled anti-join would add a full exchange of the
    exploded doc×shingle relation."""
    plan = _plan(spark, sf_dir, "q32_dedup_ngram_jaccard")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    anti_idx = plan.index("LeftAnti")
    # the anti join itself must be the broadcast flavor
    assert "BroadcastHashJoin" in plan[max(0, anti_idx - 60): anti_idx + 60]


def test_simhash_single_shuffle_to_buckets(spark, sf_dir):
    """SimHash banding is a pure projection off the signature aggregate:
    exactly one exchange keys the signature groupBy(doc), one more the
    (pos, band) bucket groupBy — nothing else."""
    import re

    from hive_cassandra_spark.operators import dedup

    # an earlier test may have left the simhash signature subtree persisted
    # (the banded engine materializes it); assert on the fresh plan, not on
    # a cache substitution whose AQE toString double-prints its Exchange
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grouped = (
        dedup.simhash_bands(dedup.simhash(docs))
        .groupBy("pos", "band")
        .count()
    )
    plan = grouped._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 2, plan


def test_pack_sequences_single_corpus_scan(spark, sf_dir):
    """The two-phase prefix sum must reuse ONE persisted corpus pass: the
    executed plan shows the InMemoryRelation on both branches, a pid-keyed
    window for the big side, and a broadcast of the offsets table."""
    from hive_cassandra_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation.pack_sequences(docs, capacity=256)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert "BroadcastExchange" in plan
    # the corpus-side window is keyed by pid (parallel), never unpartitioned
    assert "Window" in plan


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    """The benchmark shingle set must broadcast; the corpus must never
    shuffle on the shingle key."""
    plan = _plan(spark, sf_dir, "q72_contamination")
    assert "BroadcastHashJoin" in plan


def test_pii_redact_zero_shuffle(spark, sf_dir):
    """PII detection + redaction is a pure projection: no exchange, no
    Python worker."""
    plan = _plan(spark, sf_dir, "q73_pii_redact")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_build_vocab_window_bounded_by_takeordered(spark, sf_dir):
    """The vocab id-assignment window is single-partition BY DESIGN but
    provably bounded: its input must be the TakeOrderedAndProject(limit=
    size) output — ≤ size rows — so a refactor can't silently widen it to
    the full term table (r03 verdict item 5)."""
    from hive_cassandra_spark.operators import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = text.build_vocab(docs, 512)._jdf.queryExecution().executedPlan().toString()
    w, t = plan.find("Window"), plan.find("TakeOrderedAndProject(limit=512")
    assert w != -1 and t != -1
    # parent prints first: the window consumes the TakeOrdered output
    assert w < t, plan


def test_quantile_sketch_single_exchange_with_partial_limit(spark, sf_dir):
    """The bottom-k quantile sample must shuffle ONCE (on the group key)
    and prune map-side: WindowGroupLimit Partial runs before the exchange,
    so each task ships at most k rows per group — the property that makes
    the sketch 100 TB-safe."""
    import re

    plan = _plan(spark, sf_dir, "q82_quantile_sketch")
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    partial = plan.find("Partial")
    exchange = plan.find("Exchange")
    assert "WindowGroupLimit" in plan and partial != -1
    # tree prints parents first: the Partial limit sits BELOW the exchange
    assert partial > exchange, plan


def test_skew_salted_join_spreads_hot_key(spark, sf_dir):
    """q90: the ~20% hot key must never funnel into one reducer. The join
    exchange partitions on (sk, __salt) — 16-way spread of the hot key —
    and the distinct-order count shuffles on (group, value) before the
    map-side-combinable recount. Neither path hashes on the bare hot key
    alone between the fact scan and the aggregate."""
    plan = _plan(spark, sf_dir, "q90_skew_salted_join")
    # the salted join ran as a real shuffle join keyed by the salt
    assert "__salt" in plan, plan
    assert "hashpartitioning" in plan
    # the shuffle_hash hint held: no broadcast on the salted join itself —
    # and the join runs ONCE (the fused distinct+sum agg never re-joins)
    assert plan.count("ShuffledHashJoin") == 1, plan
    # distinct spread by value too: an exchange keyed by BOTH nation and
    # l_orderkey exists (the skew_safe_count_distinct first hop)
    import re

    distinct_exchanges = [
        m
        for m in re.findall(r"hashpartitioning\([^)]*\)", plan)
        if "nation" in m and "l_orderkey" in m
    ]
    assert distinct_exchanges, plan


def test_skew_fixture_is_actually_skewed(spark, sf_dir):
    """The gate is non-vacuous only if the constructed key really is hot:
    supplier 1 must own ~20% of the fact rows."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.when(F.col("l_orderkey") % 5 == 0, F.lit(1).cast("bigint"))
        .otherwise(F.col("l_suppkey"))
        .alias("sk")
    )
    total = li.count()
    hot = li.filter(F.col("sk") == 1).count()
    assert hot / total > 0.19, f"hot share {hot/total:.3f}"


def test_chunk_dedup_two_exchanges_chunk_keyed(spark, sf_dir):
    """q97: chunking is a zero-shuffle projection+posexplode; the only two
    exchanges are the chunk-keyed first-occurrence window and the
    groupBy(doc) reassembly — never a global sort or driver hop."""
    import re

    plan = _plan(spark, sf_dir, "q97_chunk_dedup")
    assert len(re.findall(r"\bExchange\b", plan)) == 2, plan
    # the window partitions on the high-cardinality chunk text, not doc
    assert "hashpartitioning(chunk#" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_heavy_hitters_candidate_sweep_no_shuffle(spark, sf_dir):
    """q98: the Misra-Gries sweep must run as Arrow-batched mapInPandas
    DIRECTLY over the scan (no exchange between them), and the fact-side
    confirm join must be a broadcast of the candidate set — the corpus
    itself shuffles only as ≤ candidates+1 map-side-combined partials."""
    plan = _plan(spark, sf_dir, "q98_heavy_hitters")
    # candidates reach the fact side by broadcast, not shuffle
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    # the sweep consumes the scan in place: under the MapInPandas node the
    # explode+FileScan print BEFORE any exchange (sibling branches with
    # their own exchanges print after the subtree)
    sweep = plan.find("MapInPandas")
    below = plan[sweep:]
    assert sweep != -1 and 0 <= below.find("FileScan") < below.find(
        "Exchange"
    ), below[:800]


def test_mixture_select_no_per_source_global_window(spark, sf_dir):
    """q96: the running token sum must come from the two-phase grouped
    prefix sum — every Window in the plan is keyed by (__pid, source) or
    runs over the broadcast-sized offsets table; no Window partitions on
    bare source over the corpus (the one-task-per-source straggler)."""
    plan = _plan(spark, sf_dir, "q96_corpus_mixing")
    import re

    # corpus-side windows carry the partition id in their key
    for spec in re.findall(r"windowspecdefinition\([^)]*\)", plan):
        if "source" in spec:
            assert "__pid" in spec, spec
    assert "CartesianProduct" not in plan


def test_incremental_dedup_probe_side_zero_shuffle(spark, sf_dir):
    """q95: the batch is probed against a ONE-ROW broadcast word array —
    the batch itself never exchanges before its bloom verdict; the only
    hash exchanges belong to the corpus-side bloom build and the
    candidate-only confirm join."""
    plan = _plan(spark, sf_dir, "q95_incremental_dedup")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # probe expressions are pure codegen: no Python anywhere
    assert "EvalPython" not in plan, plan


def test_colocated_join_no_exchange_no_sort(spark, sf_dir, tmp_path):
    """relational.colocated_join over two Catalog.create_bucketed_table
    tables (external path, in-bucket sorted): the merge-hinted SMJ must
    read both sides in place — zero Exchange AND zero Sort anywhere in the
    join plan, the prepaid-shuffle layout q106 gates on values."""
    from hive_cassandra_spark.operators import relational

    cat = Catalog(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    try:
        lt = cat.create_bucketed_table(
            "li_coloc", li, ["l_orderkey"], 4, path=str(tmp_path / "li")
        )
        ot = cat.create_bucketed_table(
            "ord_coloc", orders, ["l_orderkey"], 4, path=str(tmp_path / "ord")
        )
        j = relational.colocated_join(lt, ot, "l_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"co-located join shuffled:\n{plan}"
        assert "Sort [" not in plan, f"co-located join re-sorted:\n{plan}"
        assert j.count() == li.count()  # every lineitem has its order
    finally:
        spark.sql("DROP TABLE IF EXISTS li_coloc")
        spark.sql("DROP TABLE IF EXISTS ord_coloc")


def test_partitioned_rollup_query_prunes_partitions(spark, sf_dir):
    """q115's own plan: the day filter must land in PartitionFilters (the
    directory layout prunes unrelated days at planning time), never as a
    post-scan Filter over all 30 days."""
    from hive_cassandra_spark.queries import QUERIES

    df = QUERIES["q115_partitioned_rollup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:250]
    assert "day" in pf and "2024-01-1" in pf, pf
    assert df.count() > 0


def test_dynamic_partition_pruning_query_plants_runtime_filter(spark, sf_dir):
    """q139's own plan: the hot-day set is only known at runtime (it is
    an aggregate of the same table), so the fact scan must carry a
    dynamicpruningexpression in its PartitionFilters — without it the
    drill-down re-scans every day's files and the partitioned layout
    buys nothing at 100 TB."""
    from hive_cassandra_spark.queries import QUERIES

    df = QUERIES["q139_dynamic_partition_pruning"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert df.count() > 0


def test_mjpeg_mp4_pipeline_single_roundrobin_exchange(spark, sf_dir):
    """q202's whole mux→demux→decode→stats pipeline is per-doc Arrow
    kernels: the ONLY Exchange allowed is the initial round-robin spread
    (the q127 small-file lesson) — pixel planes and payload bytes must
    never shuffle, and there is no join anywhere."""
    import re

    plan = _plan(spark, sf_dir, "q202_mjpeg_mp4_decode")
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert "RoundRobin" in plan
    assert "Join" not in plan, plan


def test_quality_model_train_no_occurrence_distinct_exchange(spark, sf_dir):
    """Both quality-model trainers dedup (doc, gram/bucket) INSIDE the
    per-doc n-gram array (array_distinct before the explode), so the
    occurrence-sized global DISTINCT exchange must not exist: the only
    exchanges in a train plan are the vocabulary-sized df-count
    aggregate (+ the top-k window's single-partition exchange in the
    plain variant). More exchanges means the distinct crept back and a
    100 TB corpus would shuffle every gram occurrence."""
    import re

    from hive_cassandra_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plain = curation.quality_model_train(docs, n=3, top_k=16)
    plan = plain._jdf.queryExecution().executedPlan().toString()
    # exactly ONE exchange: the vocabulary-sized df-count aggregate
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    hashed = curation.quality_model_train_hashed(docs, n=3, n_buckets=64)
    hplan = hashed._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", hplan)) == 1, hplan
    for p in (plan, hplan):
        # the dedup happens inside the array, before the explode
        assert "array_distinct" in p, p
        # the explode must stay OUTER: a plain explode lets
        # InferFiltersFromGenerate re-inline the gram/md5 transform into
        # a per-row size(...)>0 filter (measured 4x slower on the hashed
        # trainer). The inferred filter's signature is the transform
        # duplicated under size().
        assert "size(array_distinct" not in p, p


def _lineitem_table(spark, sf_dir, path):
    from hive_cassandra_spark import handler

    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_returnflag"]
    types = ["bigint", "bigint", "bigint", "double", "string"]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.monotonically_increasing_id().alias("l_id"), *cols
    )
    table = handler.define_table("li", path, ["l_id", *cols], ["bigint", *types])
    handler.write_table(li, table, clock_millis=1)
    return table


def test_regular_cells_to_table_single_exchange(spark, sf_dir, tmp_path):
    """A regular mapping reconciles (last write wins) and pivots in ONE
    aggregate keyed on row_key: exactly one Exchange, with or without a
    column subset."""
    import re

    from hive_cassandra_spark import handler

    table = _lineitem_table(spark, sf_dir, str(tmp_path / "li"))
    for wanted in (None, ["l_quantity", "l_returnflag"]):
        df = handler.read_table(spark, table, wanted_columns=wanted)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
        assert "hashpartitioning(row_key" in plan, plan


def _jobs_in_group(spark, group, build):
    """Spark jobs launched while ``build()`` runs, counted per job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_typed_and_occ_reads_launch_no_job_before_the_action(spark, sf_dir, tmp_path):
    """Opening a store runs no schema-inference job: read_table uses the
    schema the mapping implies, occ_read the schema a part footer
    records. Only the caller's action launches jobs."""
    from hive_cassandra_spark import handler, sink

    table = _lineitem_table(spark, sf_dir, str(tmp_path / "li"))
    df, n = _jobs_in_group(spark, "hcs-read-table", lambda: handler.read_table(spark, table))
    assert n == 0
    store = str(tmp_path / "occ")
    cells = spark.read.parquet(table.path).limit(500)
    for v in range(2):
        assert sink.occ_commit(spark, store, cells, expected_version=v)["committed"]
    occ, n = _jobs_in_group(spark, "hcs-occ-read", lambda: sink.occ_read(spark, store))
    assert n == 0
    assert occ.schema == spark.read.parquet(table.path).schema
    assert occ.count() == 1000 and df.count() > 0
