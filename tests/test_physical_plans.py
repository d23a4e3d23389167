"""Physical-plan assertions: the optimizations the engine relies on at the
100 TB design point must actually appear in the plans Catalyst produces —
predicate pushdown to the parquet scan, column pruning, broadcast joins for
dims, map-side partial aggregation for latest-wins."""

from __future__ import annotations

from pyspark.sql import functions as F

from cosmwasm_etl_spark.operators.dedup_window import latest_wins_agg
from cosmwasm_etl_spark.queries import q_parts_revenue, q_semi_join_orders


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "2024-06-01").select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # pruned read schema: only the 3 referenced columns reach the scan
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_dim_joins_are_broadcast(spark, sf_dir):
    plan = _plan(q_parts_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # part, supplier, nation
    assert "SortMergeJoin" not in plan


def test_semi_join_is_broadcast_semi(spark, sf_dir):
    plan = _plan(q_semi_join_orders(spark, sf_dir))
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_latest_wins_agg_has_partial_aggregation(spark, sf_dir):
    """The skew story depends on map-side combine: the HashAggregate pair
    (partial_max_by before the exchange, max_by after) must be present."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(latest_wins_agg(ev, key="user_id", order_cols=["ts", "event_id"]))
    lower = plan.lower()
    assert "partial_max_by" in lower or "partial_maxby" in lower.replace("_", "")
    assert "exchange hashpartitioning(user_id" in lower


def test_event_scan_prunes_epochs_by_rowgroup_stats(spark, tmp_path):
    """Epoch predicates must push to the parquet scan of the event log (the
    per-batch slice read relies on row-group min/max skipping)."""
    from cosmwasm_etl_spark.sources.eventlog import synthetic_events, write_event_log

    ev = synthetic_events(spark, 10_000, n_urls=500, events_per_epoch=1_000)
    write_event_log(ev, str(tmp_path / "ev"), range_partitions=4)
    df = spark.read.parquet(str(tmp_path / "ev")).filter(
        (F.col("epoch") >= 2) & (F.col("epoch") < 4)
    )
    plan = _formatted(df)
    assert "PushedFilters" in plan and "GreaterThanOrEqual(epoch,2)" in plan


def test_topk_plan_has_no_unbounded_collect_list(spark, sf_dir):
    """Round-2: similarity top-k must be a sort-spilled window row_number,
    never a collect_list aggregation buffer (executor OOM at corpus scale)."""
    from cosmwasm_etl_spark.queries import q_cosine_topk

    plan = _plan(q_cosine_topk(spark, sf_dir))
    assert "collect_list" not in plan.lower()
    assert "row_number" in plan.lower() and "window" in plan.lower()


def test_simhash_plan_is_pure_jvm(spark, sf_dir):
    """Round-2: SimHash has no Python in the plan — explode + xxhash64 +
    64 map-side-combined bit-vote sums."""
    from cosmwasm_etl_spark.functions.dedup import simhash64

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    plan = _plan(simhash64(docs))
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "partial_sum" in plan.lower()  # map-side combine of the bit votes


def test_gopher_quality_is_zero_shuffle_projection(spark, sf_dir):
    """The repetition stats ride ONE scan with no exchange — the
    longest-run-in-sorted-array form replaces the textbook explode +
    two-level groupBy (which would shuffle rows × words)."""
    from cosmwasm_etl_spark.queries import q_gopher_quality

    plan = _plan(q_gopher_quality(spark, sf_dir))
    # no hash exchange (the only allowed exchange is the scale-adaptive
    # round-robin scan spread, which is a no-op at corpus scale)
    assert "Exchange hashpartitioning" not in plan
    assert "Generate" not in plan  # no explode anywhere


def test_dataset_split_single_exchange_and_pruned_scan(spark, sf_dir):
    """Split assignment is a projection; the only exchange is the final
    3-group aggregate, and the scan reads just (doc_id, n_chars)."""
    from cosmwasm_etl_spark.queries import q_dataset_split

    df = q_dataset_split(spark, sf_dir)
    plan = _plan(df)
    # one hash exchange (the final 3-group aggregate); the scale-adaptive
    # round-robin scan spread is the only other exchange allowed
    assert plan.count("Exchange hashpartitioning") == 1
    fmt = _formatted(df)
    read_schema = fmt.split("ReadSchema")[1].splitlines()[0]
    assert "text" not in read_schema  # column pruning reached the scan


def test_sessionize_single_exchange_shared_by_windows_and_agg(spark, sf_dir):
    """Sessionization: both window functions share one (user_id) exchange
    + one sort, and the final per-session aggregate reuses that
    partitioning (ClusteredDistribution on (user_id, sess_no) is
    satisfied by hashpartitioning(user_id)) — ONE exchange end-to-end."""
    from cosmwasm_etl_spark.queries import q_sessionize

    plan = _plan(q_sessionize(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan


def test_stratified_sample_filter_is_zero_shuffle(spark, sf_dir):
    """The keep/drop decision is a pure projection-filter: the only
    exchange is the per-source audit aggregate."""
    from cosmwasm_etl_spark.queries import q_stratified_sample

    plan = _plan(q_stratified_sample(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ingest_dedup_candidates_corpus_never_shuffles(spark, tmp_path):
    """The ingest-time near-dup index's candidate join must broadcast the
    BATCH side: the corpus (index + pages scans) streams map-side with no
    Exchange before the joins — at 10^10 pages a corpus shuffle per
    micro-batch is the plan that doesn't survive scale."""
    import datetime as dt

    from cosmwasm_etl_spark.operators.ingest_dedup import IngestNearDupIndex
    from cosmwasm_etl_spark.plans.pipeline import CdcPipeline, create_pages_table
    from cosmwasm_etl_spark.sources.eventlog import EVENT_SCHEMA

    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=4)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    idx = IngestNearDupIndex(spark, str(tmp_path / "idx"), pipe.pages, num_buckets=4)
    pipe.post_commit = idx.advance
    rows = [
        (i, 0, "insert", f"https://e.example/{i}", dt.datetime(2026, 1, 1, 0, i),
         f"doc {i} words one two three four five six seven eight nine ten".encode(), "en")
        for i in range(1, 6)
    ]
    pipe.run_replay(spark.createDataFrame(rows, EVENT_SCHEMA), epochs_per_batch=1)

    new_live = idx.index().limit(2).select("url", *[f"band_{b}" for b in range(idx.bands)])
    # r6 shape: ONE provenance-flagged candidate frame from ONE probe join
    cand = idx._candidates(new_live)
    plan = _plan(cand)
    # every join keyed on (band, h) must be broadcast — never sort-merge or
    # shuffled-hash (those exchange the corpus side)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # the only exchange allowed is the final pair-level distinct (candidate-
    # sized); nothing may hash-partition on the (band, h) join keys — that
    # would be the corpus shuffling into the join
    import re

    for part in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "band" not in part and not part.startswith("h#"), part
        assert "url_n" in part or "url_c" in part or "url_b" in part, part
