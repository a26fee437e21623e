"""Physical-plan regression tests.

Pins the scale properties PERF.md claims (reference has no analogue —
its Polars engine has no distributed plan to audit): filter pushdown,
column pruning, broadcast joins, single fused Window per rolling
aggregation, and no global sort in unstratified splits. A regression
in any of these is invisible to row-level asserts but catastrophic at
100 TB.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F
from test_text_arrow import _IMPL_OPERATORS


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def lineitem(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "lineitem.parquet")
    (
        spark.range(2000)
        .select(
            F.col("id").alias("l_orderkey"),
            (F.col("id") % 7).alias("l_suppkey"),
            (F.col("id") % 100).cast("double").alias("l_quantity"),
            (F.col("id") % 3).cast("string").alias("l_returnflag"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("ts"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


def test_filter_pushdown_reaches_scan(lineitem):
    df = lineitem.filter(F.col("l_suppkey") == 3).select("l_orderkey")
    plan = plan_text(df)
    assert "PushedFilters: [" in plan
    assert "l_suppkey" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning_reaches_scan(lineitem):
    df = lineitem.select("l_orderkey", "l_quantity")
    plan = plan_text(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_returnflag" not in read_schema


def test_small_dim_join_broadcasts(spark, lineitem):
    dim = spark.createDataFrame(
        [(i, f"s{i}") for i in range(7)], "l_suppkey long, s_name string"
    )
    from aligned_spark.operators.joins import equi_join

    out = equi_join(lineitem, dim, left_on=["l_suppkey"])
    plan = plan_text(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rolling_agg_single_fused_window(lineitem):
    """One Sort + one Window regardless of how many aggs share the
    frame (PERF.md pitfall #1)."""
    from aligned_spark.operators.aggregate import AggSpec, rolling_aggregate

    out = rolling_aggregate(
        lineitem,
        keys=["l_suppkey"],
        ts="ts",
        window_seconds=3600,
        aggs=[
            AggSpec("q_sum", "sum", "l_quantity"),
            AggSpec("q_mean", "mean", "l_quantity"),
            AggSpec("q_n", "count", "l_quantity"),
            AggSpec("q_min", "min", "l_quantity"),
        ],
    )
    plan = plan_text(out, "simple")
    assert plan.count("Window") == 1, plan
    # windows are partitioned — no global single-partition funnel
    assert "SinglePartition" not in plan


def test_unstratified_split_has_no_sort_or_window(lineitem):
    from aligned_spark.operators.splits import train_test_split

    train, _ = train_test_split(lineitem, test_fraction=0.25, seed=3)
    plan = plan_text(train, "simple")
    assert "Window" not in plan
    assert "Sort" not in plan
    assert "Exchange" not in plan  # embarrassingly parallel


def test_topk_has_narrow_prereduction(spark):
    """top_k_similar must pre-reduce per partition (MapInPandas)
    before the ranking window — without it the window shuffles the
    full |corpus| × |queries| scored frame."""
    from aligned_spark.operators.similarity import top_k_similar

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    out = top_k_similar(emb.limit(5), emb, "vec_id", "embedding", k=3)
    plan = plan_text(out, "simple")
    assert "MapInPandas" in plan, plan
    # corpus side joins via broadcast of the query side — corpus
    # never shuffles before scoring
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    """Two tables bucketed on the same key join with zero Exchange —
    the write-time shuffle is amortized across every later join."""
    from aligned_spark.sources.catalog import BucketedTableSource

    a = BucketedTableSource(
        identifier="bkt_orders", bucket_cols=["o_custkey"], num_buckets=8
    )
    b = BucketedTableSource(
        identifier="bkt_cust", bucket_cols=["o_custkey"], num_buckets=8
    )
    a.overwrite(
        spark.range(1000).select(
            F.col("id").alias("o_orderkey"), (F.col("id") % 100).alias("o_custkey")
        )
    )
    b.overwrite(
        spark.range(100).select(
            F.col("id").alias("o_custkey"), F.lit("n").alias("c_name")
        )
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.read(spark).join(b.read(spark), on="o_custkey")
        plan = plan_text(joined, "simple")
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_cust")


def test_salted_join_matches_plain_join(spark, lineitem):
    from aligned_spark.operators.joins import salted_join

    dim = spark.createDataFrame(
        [(i, f"s{i}") for i in range(7)], "l_suppkey long, s_name string"
    )
    plain = lineitem.join(dim, on="l_suppkey").select("l_orderkey", "s_name")
    salted = salted_join(lineitem, dim, on=["l_suppkey"], salt=8).select(
        "l_orderkey", "s_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
    # left join keeps unmatched left rows exactly once
    dim_partial = dim.filter(F.col("l_suppkey") < 3)
    lj = salted_join(
        lineitem, dim_partial, on=["l_suppkey"], how="left", salt=4
    )
    assert lj.count() == lineitem.count()


def test_pit_window_agg_one_shuffle_no_join(spark, lineitem):
    """The union-path PIT windowed agg: no join explosion — zero Join
    nodes, exactly one exchange on the entity key (plus AQE nodes)."""
    from aligned_spark.operators.aggregate import AggSpec, pit_window_aggregate

    facts = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00"), (3, "2024-01-01 00:40:00")],
        "l_suppkey long, fact_ts string",
    ).select("l_suppkey", F.col("fact_ts").cast("timestamp"))
    out = pit_window_aggregate(
        facts,
        lineitem.select("l_suppkey", "ts", "l_quantity"),
        entities=["l_suppkey"],
        fact_ts="fact_ts",
        feature_ts="ts",
        window_seconds=3600,
        aggs=[AggSpec("q_sum", "sum", "l_quantity")],
    )
    plan = plan_text(out, "simple")
    assert "Join" not in plan, plan
    assert plan.count("Window") == 1, plan


def test_features_for_one_pass_per_view(spark, lineitem):
    """A view's as-of columns and its windowed aggregates of any window
    lengths come from one union: one exchange on the entity key, one
    sort, no join. The RANGE frames order by a prefix of the as-of
    sort, so they add Window operators but no Sort."""
    from aligned_spark.contracts import (
        EventTimestamp,
        Float64,
        Int64,
        String,
        feature_view,
    )
    from aligned_spark.sources.in_memory import InMemorySource
    from aligned_spark.store import ContractStore

    @feature_view(
        name="li",
        source=InMemorySource(
            lineitem.select(
                "l_suppkey", "ts", "l_quantity", "l_returnflag"
            )
        ),
    )
    class Li:
        l_suppkey = Int64().as_entity()
        ts = EventTimestamp()
        l_quantity = Float64()
        l_returnflag = String()

        q_sum_1d = l_quantity.aggregate().sum().over(days=1)
        q_cnt_7d = l_quantity.aggregate().count().over(days=7)
        q_max_7d = l_quantity.aggregate().max().over(days=7)

    store = ContractStore(spark)
    store.add_view(Li)
    facts = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00"), (3, "2024-01-01 00:40:00")],
        "l_suppkey long, event_timestamp string",
    ).select("l_suppkey", F.col("event_timestamp").cast("timestamp"))
    out = store.features_for(
        facts,
        [
            "li:l_quantity",
            "li:l_returnflag",
            "li:q_sum_1d",
            "li:q_cnt_7d",
            "li:q_max_7d",
        ],
    )
    plan = plan_text(out, "simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange ") == 1, plan
    assert plan.count("Sort [") == 1, plan
    assert out.count() == 2


def test_bucketed_asof_partitions_by_bucket(spark):
    """The segmented-scan as-of must shuffle on (entity, __bucket) —
    the skew fix is visible as the bucket column in the exchange."""
    import datetime as dt

    from aligned_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    feat = spark.createDataFrame(
        [(1, t0, 1.0)], "user_id long, ts timestamp, value double"
    )
    facts = spark.createDataFrame([(1, t0)], "user_id long, ts timestamp")
    out = asof_join(
        facts, feat, on="ts", by=["user_id"], bucket_seconds=3600
    )
    plan = plan_text(out)
    assert "__bucket" in plan
    import re
    assert re.search(r"hashpartitioning\([^)]*__bucket", plan)


def test_bm25_stays_jvm_side(spark):
    """Ranking ops must plan with zero Python evaluation and
    broadcast term-statistics joins (vocabulary-sized frames)."""
    from aligned_spark.operators.text_rank import bm25_scores

    docs = spark.createDataFrame(
        [(0, "spark query"), (1, "other words")],
        "doc_id long, text string",
    )
    plan = plan_text(bm25_scores(docs, "doc_id", "text", ["spark"]))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_tpch_q5_broadcasts_dims(spark):
    """The 6-way Q5 chain must broadcast the small dimension tables
    and never fall back to a cartesian product."""
    import __spark_entry__ as entry

    df = entry.queries()["tpch_q5"](spark, "/root/testdata/sf0.001")
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_frequent_windows_count_frame(spark, lineitem):
    """top_frequent's shape at scale: the only Exchange is the count
    aggregate's (keyed on (key, value) — map-side partials), the
    ranking window is keyed on l_returnflag (never a global
    single-partition window), and Spark's WindowGroupLimit prunes to
    top-k BEFORE the shuffle so the sort input is bounded."""
    from aligned_spark.operators.aggregate import top_frequent

    df = top_frequent(lineitem, ["l_returnflag"], "l_suppkey", 3)
    plan = plan_text(df)
    assert "Window" in plan
    # every Exchange is a hash partitioning that includes the group key
    for chunk in plan.split("Exchange")[1:]:
        head = chunk.splitlines()
        args = next((ln for ln in head if "partitioning" in ln), "")
        if not args:
            continue
        assert "l_returnflag" in args, args
    # rank-filter pushdown: partial top-k runs below the exchange
    assert plan.count("WindowGroupLimit") >= 2


def test_prototypicality_broadcasts_centroids(spark):
    from aligned_spark.operators.similarity import prototypicality

    df = spark.createDataFrame(
        [(i, i % 3, [float(i), 1.0]) for i in range(50)],
        "vec_id long, label long, v array<double>",
    )
    plan = plan_text(prototypicality(df, "label", "v", 2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_strip_markup_is_pure_projection(lineitem):
    from aligned_spark.operators.redact import strip_markup

    out = lineitem.select(strip_markup(F.col("l_returnflag")))
    plan = plan_text(out)
    # a scan-level map: no exchange, no Python evaluation
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_fuzzy_join_is_equi_join_on_block(spark):
    from aligned_spark.operators.joins import fuzzy_join

    a = spark.createDataFrame([(i, f"name{i}") for i in range(500)],
                              "ida long, na string")
    b = spark.createDataFrame([(i, f"name{i}x") for i in range(500)],
                              "idb long, nb string")
    plan = plan_text(fuzzy_join(a, b, "na", "nb", 2, 4))
    # blocking must plan as a hash equi-join (broadcast or shuffled),
    # never a nested-loop cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_global_row_ids_no_global_window(spark):
    from aligned_spark.operators.core import global_row_ids

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    out = global_row_ids(df, ["v", "k"], num_partitions=8)
    plan = plan_text(out)
    assert "Window" not in plan
    assert "rangepartitioning" in plan.lower()


def test_tpch_correlated_subqueries_decorrelate(spark):
    """The TPC-H queries with correlated subqueries must plan as
    joins, never as per-row subquery execution or nested loops:
    Q2's correlated scalar MIN and Q17's correlated AVG decorrelate
    into aggregate+join; Q21's EXISTS/NOT EXISTS pair becomes
    LeftSemi + LeftAnti hash joins."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    q2 = plan_text(entry.queries()["tpch_q2"](spark, sf))
    assert "CartesianProduct" not in q2
    assert "BroadcastNestedLoopJoin" not in q2
    assert "BroadcastHashJoin" in q2

    q17 = plan_text(entry.queries()["tpch_q17"](spark, sf))
    assert "CartesianProduct" not in q17
    assert "Aggregate" in q17 or "HashAggregate" in q17

    q21 = plan_text(entry.queries()["tpch_q21"](spark, sf))
    assert "LeftSemi" in q21
    assert "LeftAnti" in q21
    assert "CartesianProduct" not in q21


def test_chunk_documents_is_shuffle_free(spark):
    """Chunking must stay a Generate fused over the scan — zero
    Exchanges (a shuffle here would move whole documents to produce
    bounded chunks)."""
    from aligned_spark.operators.sampling import chunk_documents

    df = spark.createDataFrame(
        [(0, "x" * 500)], "doc_id long, text string"
    )
    p = plan_text(chunk_documents(df, "doc_id", "text", 200, 50))
    assert "Exchange" not in p
    assert "Generate" in p


def test_lag_features_single_window(spark):
    """Both lag columns must share ONE WindowExec (one shuffle + one
    sort); a second Window would double the sort cost."""
    import datetime as dt

    from aligned_spark.operators.core import lag_features

    df = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), 1.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    p = plan_text(
        lag_features(df, ["user_id"], "ts", ["value"],
                     tie_cols=["event_id"]),
        "simple",
    )
    assert p.count("Window") - p.count("WindowGroupLimit") == 1


def test_fuzzy_decontaminate_broadcasts_benchmark(spark):
    """The benchmark band set and the hit-id set must broadcast —
    a sort-merge join would shuffle the corpus side."""
    from aligned_spark.operators.dedup import fuzzy_decontaminate

    docs = spark.createDataFrame(
        [(i, f"some words here number {i} " * 5) for i in range(10)],
        "doc_id long, text string",
    )
    out = fuzzy_decontaminate(
        docs.filter("doc_id < 8"), docs.filter("doc_id >= 8"),
        "doc_id", "text", "text",
    )
    # the hit-id anti join is sized only at runtime (AQE converts it);
    # inspect the FINAL adaptive plan after execution
    out.collect()
    p = out._jdf.queryExecution().executedPlan().toString()
    p = p.split("Initial Plan")[0]  # AQE prints the pre-runtime plan too
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_mad_outliers_broadcasts_group_stats(spark):
    from aligned_spark.operators.quality import mad_outliers

    df = spark.createDataFrame(
        [(0, "a", 1.0)], "row_id long, grp string, v double"
    )
    p = plan_text(mad_outliers(df, ["grp"], "v"))
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_token_entropy_no_totals_join(spark):
    """The log2(n) − Σc·log2 c / n formulation must aggregate without
    joining back a totals frame (the joined form recomputed the
    tokenize branch twice)."""
    from aligned_spark.operators.quality import token_entropy

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    p = plan_text(token_entropy(df, ["doc_id"], "text"))
    assert "Join" not in p


def test_partitioned_fact_join_uses_dynamic_pruning(spark, tmp_path_factory):
    """A selective dim filter joined to a hive-partitioned fact must
    prune fact PARTITIONS at runtime (DPP) — at 100 TB the difference
    between scanning one date's files and scanning the table. Pinned
    here because DPP silently degrades to a full scan if the join key
    stops being the partition column or the dim filter stops being
    selective-broadcastable."""
    base = tmp_path_factory.mktemp("dpp")
    fact_path = str(base / "fact")
    (
        spark.range(5000)
        .select(
            F.col("id").alias("v"),
            (F.col("id") % 50).alias("part_key"),
        )
        .write.mode("overwrite")
        .partitionBy("part_key")
        .parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.range(50).select(
        F.col("id").alias("part_key"),
        (F.col("id") % 5).alias("region"),
    )
    joined = fact.join(dim, "part_key").filter(F.col("region") == 1)
    plan = plan_text(joined)
    assert "dynamicpruning" in plan.lower(), plan
    # and the pruning expression sits IN the fact scan's partition
    # filters (not just anywhere in the plan)
    pf_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert pf_lines and any(
        "dynamicpruning" in ln.lower() for ln in pf_lines
    ), plan


def test_interval_overlap_join_avoids_nested_loop(spark):
    """The binned interval-overlap join must plan as a hash equi-join
    on (keys, bin) — never BroadcastNestedLoopJoin — and produce each
    overlapping pair exactly once (first-shared-bin rule) vs the
    brute-force pair set."""
    from aligned_spark.operators.joins import interval_overlap_join

    left = spark.range(300).select(
        F.col("id").alias("l_id"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 97).cast("double").alias("lo"),
        ((F.col("id") % 97) + 7).cast("double").alias("hi"),
    )
    right = spark.range(200).select(
        (F.col("id") + 1000).alias("r_id"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 89).cast("double").alias("r_lo"),
        ((F.col("id") % 89) + 5).cast("double").alias("r_hi"),
    )
    j = interval_overlap_join(
        left, right, "lo", "hi", "r_lo", "r_hi", bin_width=8.0, on=["g"]
    )
    plan = plan_text(j)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    got = {(r.l_id, r.r_id) for r in j.collect()}
    brute = {
        (r.l_id, r.r_id)
        for r in left.join(right, "g")
        .filter(
            (F.col("lo") <= F.col("r_hi")) & (F.col("r_lo") <= F.col("hi"))
        )
        .collect()
    }
    assert got == brute
    # exactly-once: the joined frame has no duplicate pairs
    assert j.count() == len(got)


def test_bloom_decontaminate_has_no_join(spark):
    """The Bloom path's whole point: the corpus side must plan as a
    pure Filter over the scan — zero Join nodes, zero Exchange (the
    bitset rides the closure, not the shuffle)."""
    from aligned_spark.operators.dedup import bloom_decontaminate

    corpus = spark.createDataFrame(
        [(i, f"doc {i} alpha beta gamma delta epsilon zeta eta theta")
         for i in range(50)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    out = bloom_decontaminate(corpus, bench, "doc_id", "text", "text")
    plan = plan_text(out, "simple")
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_prefix_jaccard_no_cartesian(spark):
    """Candidate generation must be a hash join on prefix tokens —
    never a cross/nested-loop pairing of documents."""
    from aligned_spark.operators.similarity import prefix_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"common words here plus unique token u{i} and u{i+1}")
         for i in range(30)],
        "doc_id long, text string",
    )
    out = prefix_jaccard_pairs(docs, "doc_id", "text", 0.7)
    plan = plan_text(out, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ewma_single_fused_window(lineitem):
    """collect_list and the frame row-count share one window spec —
    they must fuse into ONE WindowExec (a second Sort+Window would
    double the operator's shuffle-side cost)."""
    from aligned_spark.operators.core import ewma_features

    out = ewma_features(
        lineitem, ["l_suppkey"], "ts", "l_quantity", lookback=16
    )
    plan = plan_text(out, "simple")
    assert plan.count("Window") == 1, plan
    assert "SinglePartition" not in plan


# ------------------------------------------------- round-7 audit pins


def test_mor_read_is_broadcast_anti_join_no_corpus_exchange(
    spark, tmp_path_factory
):
    """A merge-on-read table read applies the position-delete pairs
    as a BROADCAST anti-join against the corpus scan — the corpus
    never shuffles to drop its dead rows (at 100 TB a hash-exchange
    of the data side just to apply a KB-sized sidecar is the failure
    mode this pins against)."""
    from pyspark.sql import Row

    from aligned_spark.sources.delta_log import DeltaLog

    log = DeltaLog(
        str(tmp_path_factory.mktemp("morplan") / "tbl")
    )
    log.write(
        spark.createDataFrame([Row(k=i, v=i * 2) for i in range(200)]),
        "append",
    )
    log.delete_where_mor(spark, F.col("k") % 10 == 0)
    df = log.read(spark)
    assert df.count() == 180  # finalizes the adaptive plan
    plan = plan_text(df)
    assert "LeftAnti" in plan, plan
    anti = plan.split("LeftAnti")[0]
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    # the pair scan is file-restricted (isin pushed to the sidecar
    # scan), not a full-sidecar-set read
    assert "file_path" in plan


def test_ivf_pq_probe_prunes_partitions(spark, tmp_path_factory):
    """The IVF-PQ codes table is partitioned by ``__ivf_cluster``;
    a probe of nprobe clusters must prune the rest at the FILE level
    (PartitionFilters on the scan) — otherwise every query reads the
    whole codes table."""
    import random

    from aligned_spark.sources.vector_index import IvfPqIndexSource

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    ix = IvfPqIndexSource(
        str(tmp_path_factory.mktemp("ivfpqplan") / "ix"),
        num_centroids=8,
        m=4,
        k=16,
        sample=400,
    )
    ix.overwrite(df)
    out = ix.nearest_n(df.limit(2), n=3, nprobe=2)
    plan = plan_text(out)
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "__ivf_cluster" in pf, plan


def test_ivm_refresh_semi_filters_aggregate_scan(
    spark, tmp_path_factory
):
    """The IVM refresh must read the aggregate through a LEFT-SEMI
    join on the delta keys BEFORE the outer join — at a billion
    groups the alternative (sort-merge outer join of the whole
    aggregate) is the scale failure the design exists to avoid."""
    from pyspark.sql import Row

    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta_log import DeltaLog

    base_dir = tmp_path_factory.mktemp("ivmplan")
    base = DeltaLog(str(base_dir / "base"))
    base.write(
        spark.createDataFrame(
            [Row(g=i % 5, x=i) for i in range(100)]
        ),
        "append",
    )

    class _Src:
        def version(self, spark):
            return base.latest_version()

        def read(self, spark, version=None, **kw):
            return base.read(spark, version=version)

        def read_changes(self, spark, frm, to):
            return base.read_cdf(spark, frm, to)

    agg = IncrementalAggregate(
        _Src(), str(base_dir / "agg"), ["g"], ["x"]
    )
    agg.refresh(spark)  # full build
    keys_df = spark.createDataFrame([Row(g=1), Row(g=3)])
    old = agg._semi_filtered_old(spark, agg._target(), keys_df)
    plan = plan_text(old)
    assert "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan or "LeftSemi" in plan.split(
        "SortMergeJoin"
    )[1].splitlines()[0], plan


def test_cdf_scans_only_touched_parts(spark, tmp_path_factory):
    """A rewrite commit's CDF diff must read ONLY the parts that
    commit removed/added — a 1-row MERGE into a wide table reads a
    handful of files twice, never the table."""
    from pyspark.sql import Row

    from aligned_spark.sources.delta_log import DeltaLog

    log = DeltaLog(str(tmp_path_factory.mktemp("cdfplan") / "tbl"))
    # 8 separate append commits -> 8+ untouched parts
    for i in range(8):
        log.write(
            spark.createDataFrame(
                [Row(k=i * 10 + j, v=i) for j in range(10)]
            ),
            "append",
        )
    v_before = log.latest_version()
    n_parts_before = len(log.snapshot().files)
    log.merge_upsert(
        spark.createDataFrame([Row(k=5, v=999)]), ["k"]
    )
    cdf = log.read_cdf(spark, from_version=v_before)
    touched = {
        f for f in cdf.inputFiles() if "/tbl/" in f or "tbl" in f
    }
    # the merge rewrote ONE part and added its replacement — the diff
    # reads those two, not the other 7 untouched parts
    assert 0 < len(touched) <= 3, sorted(touched)
    assert len(touched) < n_parts_before


def test_cdf_stream_diff_plans_only_touched_parts(
    spark, tmp_path_factory
):
    """Round-9 CDF STREAM twin of the batch pin above: the streaming
    planner emits per-commit diff partitions whose file sets are the
    commit's TOUCHED parts only — a 1-key MERGE into an 8-part table
    plans a diff over ~2 files, and the earlier append commit plans
    one insert part per file with no diff task at all."""
    from pyspark.sql import Row

    from aligned_spark.sources.delta_log import DeltaLog
    from aligned_spark.streaming.cdf_stream import (
        DeltaCdfStreamReader,
        _CdfDiffPart,
        _CdfInsertPart,
        cdf_schema,
    )

    tbl = str(tmp_path_factory.mktemp("cdfsplan") / "t")
    log = DeltaLog(tbl)
    log.write(
        spark.createDataFrame(
            [Row(k=i, v=i * 2) for i in range(400)]
        ).repartition(8)
    )
    n_parts = len(log.snapshot().files)
    assert n_parts >= 8
    log.merge_upsert(
        spark.createDataFrame([(3, -3)], "k long, v long"), ["k"]
    )
    schema = cdf_schema(log.snapshot().schema())
    r = DeltaCdfStreamReader(
        schema, {"path": tbl, "startingversion": "0"}
    )
    parts = r.partitions({"version": -1}, {"version": 1})
    inserts = [p for p in parts if isinstance(p, _CdfInsertPart)]
    diffs = [p for p in parts if isinstance(p, _CdfDiffPart)]
    # append commit: one parallel insert part per file, no diffing
    assert len(inserts) == n_parts
    assert len(diffs) == 1
    d = diffs[0]
    assert 0 < len(d.old_files) <= 2
    assert 0 < len(d.new_files) <= 2
    assert list(d.keys) == ["k"]


def test_distinct_aux_transitions_semi_filter_aux_scan(
    spark, tmp_path_factory
):
    """The COUNT DISTINCT aux maintenance reads the aux table
    through a LEFT-SEMI join on the slice's (group, value) keys
    before the outer join — at a billion distinct pairs the aux scan
    stays one semi-filtered pass, never a full sort-merge outer
    join."""
    from pyspark.sql import Row

    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.delta import DeltaSource

    root = tmp_path_factory.mktemp("distplan")
    src = DeltaSource(path=str(root / "base"))
    src.insert(
        spark.createDataFrame(
            [Row(k=i, g=str(i % 3), u=i % 5) for i in range(60)]
        ).coalesce(1)
    )
    agg = IncrementalAggregate(
        source=src,
        target_path=str(root / "agg"),
        group_keys=["g"],
        sums=[],
        distincts=["u"],
    )
    agg.refresh(spark)
    changes = spark.createDataFrame(
        [Row(g="1", u=99, _change_type="insert")]
    )
    trans = agg._aux_transitions(spark, "u", changes)
    plan = plan_text(trans)
    assert "LeftSemi" in plan, plan


def test_change_file_cdf_read_is_pure_scan(spark, tmp_path_factory):
    """Round-10: read_cdf over a commit that carries writer-
    materialized change files plans a PLAIN SCAN — no join, no
    exceptAll — where the same commit without them plans the
    read-time diff (a join)."""
    from aligned_spark.sources.delta_log import (
        CHANGE_DATA_BYTES_PROP,
        DeltaLog,
    )

    tbl = str(tmp_path_factory.mktemp("cdcplan") / "t")
    log = DeltaLog(tbl)
    log.write(
        spark.range(0, 120)
        .repartitionByRange(12, "id")
        .selectExpr("id", "id as v")
    )
    log.set_properties({CHANGE_DATA_BYTES_PROP: 0})
    log.merge_upsert(
        spark.range(0, 120, 10).selectExpr("id", "id + 1 as v"),
        ["id"],
    )
    plan = (
        log.read_cdf(spark, 1, 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "_change_data" in plan


def test_windowed_bucketize_stays_jvm_side(spark):
    """Round-10: the window-bucket explode is pure JVM generate
    (sequence/explode/pmod) — no Python UDF in the slice plan."""
    from pyspark.sql import Row

    from aligned_spark.operators.incremental import (
        bucketize_windows,
    )

    df = spark.createDataFrame(
        [Row(g="a", ts=__import__("datetime").datetime(2024, 1, 1), x=1.0)]
    )
    plan = (
        bucketize_windows(df, "ts", 600_000_000, 300_000_000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Generate" in plan  # the explode


def test_rolling_ivm_context_scan_pushes_time_bounds(
    spark, tmp_path_factory
):
    """Round-11: the rolling-IVM context read must push the slice's
    global time bounds INTO the base parquet scan (partition /
    row-group skipping) — at 100 TB the context is a sliver of the
    base and the scan must see that. The comparison stays on the raw
    ts column; a unix_micros(ts) wrapper silently blocks pushdown
    (caught while pinning this)."""
    import datetime as dt

    from pyspark.sql import Row

    from aligned_spark.operators.aggregate import AggSpec
    from aligned_spark.operators.incremental import (
        RollingIncrementalAggregate,
    )
    from aligned_spark.sources.delta import DeltaSource

    d = tmp_path_factory.mktemp("rivmplan")
    src = DeltaSource(path=str(d / "base"))
    src.insert(
        spark.createDataFrame(
            [
                Row(
                    k=i,
                    g="a",
                    ts=dt.datetime(2024, 1, 1, 0, i),
                    x=float(i),
                )
                for i in range(30)
            ]
        ).coalesce(1)
    )
    agg = RollingIncrementalAggregate(
        source=src,
        target_path=str(d / "agg"),
        row_keys=["k"],
        group_keys=["g"],
        ts_col="ts",
        window_seconds=300.0,
        aggs=[AggSpec("s", "sum", "x")],
    )
    agg.refresh(spark)
    src.upsert(
        spark.createDataFrame(
            [Row(k=5, g="a", ts=dt.datetime(2024, 1, 1, 0, 5), x=99.0)]
        ),
        keys=["k"],
    )

    captured: list[str] = []
    orig = agg._target().__class__.merge_upsert

    def spy(self, df, keys, **kw):
        captured.append(plan_text(df))
        return orig(self, df, keys, **kw)

    import unittest.mock as mock

    with mock.patch.object(
        agg._target().__class__, "merge_upsert", spy
    ):
        agg.refresh(spark)
    assert captured, "refresh must merge"
    plan = captured[0]
    # the pushable bound reached the scan
    assert "GreaterThanOrEqual(ts," in plan, plan
    assert "LessThanOrEqual(ts," in plan, plan
    # the rolling Window is entity-partitioned, never a global sort
    assert "Window" in plan, plan
    assert "partitionBy" not in plan or "g#" in plan
    # and no Python in the maintenance plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_iceberg_ivm_seq_map_join_broadcasts(spark, tmp_path_factory):
    """Round-12: the iceberg CDC slice gains its monotone
    `_commit_version` via a join against the snapshot->sequence map —
    that map is metadata-bounded (one row per snapshot) and the join
    must plan as a BROADCAST, never a shuffle of the slice."""
    import datetime as dt

    from pyspark.sql import Row

    from aligned_spark.operators.incremental import IncrementalAggregate
    from aligned_spark.sources.iceberg import IcebergSource

    d = tmp_path_factory.mktemp("iseqplan")
    src = IcebergSource(path=str(d / "base"))
    src.insert(
        spark.createDataFrame(
            [
                Row(k=i, g="a", ts=dt.datetime(2024, 1, 1), x=float(i))
                for i in range(10)
            ]
        ).coalesce(1)
    )
    src.insert(
        spark.createDataFrame(
            [Row(k=99, g="b", ts=dt.datetime(2024, 1, 2), x=1.0)]
        )
    )
    agg = IncrementalAggregate(
        source=src,
        target_path=str(d / "agg"),
        group_keys=["g"],
        sums=["x"],
    )
    sid2seq = src.sequence_numbers()
    first_sid = [s for s, q in sid2seq.items() if q == 1][0]
    slice_df = src.read_changes(spark, first_sid)
    mapped = agg._with_monotone_version(slice_df)
    plan = plan_text(mapped)
    # the build side must BROADCAST. A batch slice whose
    # _snapshot_id constant-folds (read_changes unions per-snapshot
    # literals) plans BroadcastNestedLoop over the metadata-bounded
    # map — harmless; a STREAM slice's column is real data and
    # hash-joins. Either way the slice side must never shuffle.
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # the version column materialized
    assert "_commit_version" in mapped.columns


def _cdf_over_one_commit(spark, root, fmt, write):
    """A 4-part table in ``fmt``, one ``write(log)`` commit, and the
    change feed over exactly that commit."""
    from aligned_spark.sources.delta_log import DeltaLog
    from aligned_spark.sources.iceberg_log import IcebergLog

    log = (DeltaLog if fmt == "delta" else IcebergLog)(str(root / fmt))
    log.write(
        spark.range(0, 400)
        .selectExpr("id as k", "id * 2 as v")
        .repartitionByRange(4, "k")
    )
    if fmt == "delta":
        v0 = log.latest_version()
        write(log)
        return log.read_cdf(spark, v0)
    v0 = log.snapshot_ids()[-1]
    write(log)
    return log.read_changes(spark, v0)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_cdf_keyed_merge_diff_is_one_join_one_generate(
    spark, tmp_path_factory, fmt
):
    """A keyed MERGE commit's change feed is ONE full-outer join on the
    merge keys feeding ONE generator that emits every pre-image,
    post-image, delete and insert — not four filtered copies of the
    join."""
    cdf = _cdf_over_one_commit(
        spark,
        tmp_path_factory.mktemp("cdfjoin"),
        fmt,
        lambda log: log.merge_upsert(
            spark.createDataFrame(
                [(3, -3), (1000, 1)], "k long, v long"
            ),
            ["k"],
        ),
    )
    plan = cdf._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join ") == 1, plan
    assert "Join FullOuter" in plan, plan
    assert plan.count("Generate ") == 1, plan
    assert sorted(r._change_type for r in cdf.collect()) == [
        "insert",
        "update_postimage",
        "update_preimage",
    ]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_cdf_keyless_delete_diff_is_one_aggregate(
    spark, tmp_path_factory, fmt
):
    """A DELETE on a never-merged table has no recorded keys: its
    change feed is ONE signed-count aggregate over every column (one
    shuffle), with no ``Except`` in the plan."""
    cdf = _cdf_over_one_commit(
        spark,
        tmp_path_factory.mktemp("cdfagg"),
        fmt,
        lambda log: log.delete_where(spark, F.col("k") == 7),
    )
    qe = cdf._jdf.queryExecution()
    assert "Except" not in qe.analyzed().toString()
    optimized = qe.optimizedPlan().toString()
    assert optimized.count("Aggregate [") == 1, optimized
    assert "Join" not in optimized, optimized
    physical = plan_text(cdf, "simple")
    assert physical.count("Exchange hashpartitioning") == 1, physical
    assert [(r.k, r._change_type) for r in cdf.collect()] == [
        (7, "delete")
    ]


def _arrow_nodes(df) -> list[tuple[list[str], str]]:
    """``(udf calls, input plan)`` of every ``ArrowEvalPython`` node in
    ``df``'s physical plan, a call printed with its input attributes
    (``minhash_signature_lists(text#1)#2``). A persisted frame's cached
    plan is walked once, however many scans read it."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    nodes: list[tuple[list[str], str]] = []
    cached: set[str] = set()

    def walk(node):
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.inputPlan())
        if kind == "InMemoryTableScanExec":
            plan = node.relation().cachedPlan()
            if plan.toString() not in cached:
                cached.add(plan.toString())
                walk(plan)
        if kind == "ArrowEvalPythonExec":
            calls = [u.toString() for u in seq(node.udfs())]
            nodes.append((calls, node.child().toString()))
        for child in seq(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def _kernel_evaluations(df) -> "Counter[str]":
    """How many ``ArrowEvalPython`` nodes of ``df``'s physical plan
    evaluate each Python UDF call: one kernel on one input frame. The
    two sides of a self-join over one cached frame count once."""
    from collections import Counter

    return Counter(call for calls, _ in _arrow_nodes(df) for call in calls)


def _assert_each_kernel_once(df):
    counts = _kernel_evaluations(df)
    assert counts and set(counts.values()) == {1}, dict(counts)
    return counts


@pytest.mark.parametrize("impl", ["arrow", "poly"])
@pytest.mark.parametrize("op", sorted(_IMPL_OPERATORS))
def test_text_kernels_evaluate_once_per_input(spark, tmp_path, op, impl):
    """Every hash-family operator runs each Arrow kernel in one
    ``ArrowEvalPython`` node per input frame. A filter on the kernel
    column (explicit, or the ``size > 0`` Spark infers for an explode)
    must not be pushed below the projection with the UDF copied in:
    that second node sends every row to Python twice."""
    import dataclasses

    from aligned_spark.sources.dedup_index import DedupIndexSource

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i k")],
        "doc_id long, text string",
    )
    out = _IMPL_OPERATORS[op](docs, impl)
    if isinstance(out, DedupIndexSource):
        out = dataclasses.replace(out, path=str(tmp_path / "index"))
        out.overwrite(docs)
        out = out.filter_new(docs)
    if (op, impl) == ("remove_duplicate_spans", "arrow"):
        # the arrow family hashes whitespace windows with xxhash64 in
        # the JVM: no Python kernel at all
        assert not _kernel_evaluations(out)
    else:
        _assert_each_kernel_once(out)
    if op == "minhash_near_dup_pairs":
        # the jaccard verification shingles each candidate once: one
        # node for the shingle kernel, over the input semi-joined to
        # the candidate pairs' ids
        kernel = {"arrow": "shingle_hash_lists(", "poly": "shingle_set("}[impl]
        inputs = [
            plan
            for calls, plan in _arrow_nodes(out)
            for call in calls
            if call.startswith(kernel)
        ]
        assert len(inputs) == 1 and "LeftSemi" in inputs[0], inputs


def test_vector_kernels_evaluate_once(spark):
    """The LSH pair join's Arrow cosine is filtered by the threshold,
    and the IVF assignment is joined on its cluster column: each kernel
    still runs in one ``ArrowEvalPython`` node."""
    from aligned_spark.operators.similarity import (
        ivf_assign_to,
        lsh_bucketed_pairs,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(20)],
        "id long, v array<double>",
    )

    def kernels(df):
        return sorted(k.split("(")[0] for k in _assert_each_kernel_once(df))

    assert kernels(lsh_bucketed_pairs(emb, "id", "v", 3, 0.5)) == ["_bk", "_cos"]
    vecs = [[0.0, 1.0, 0.5], [10.0, 1.0, 0.5]]
    centers = spark.createDataFrame(
        list(enumerate(vecs)), "__ivf_cluster int, __cent array<double>"
    )
    assigned = ivf_assign_to(emb, "v", vecs).join(
        F.broadcast(centers), "__ivf_cluster"
    )
    assert kernels(assigned) == ["_nearest"]
