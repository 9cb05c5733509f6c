"""Plan-shape invariants: pin the physical-plan facts that make the
headline queries scale — shuffle budgets, broadcast joins, scan-level
column pruning, and shuffle-free sampling/scrubbing.  A refactor that
silently adds an exchange, un-prunes a scan, or flips a broadcast join to
sort-merge fails here instead of on the cluster.

Plan-only: nothing executes, so the whole module is cheap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hnsw_spark.plans.audit import plan_facts
from hnsw_spark.registry import QUERIES, load_all_queries

SF = "/root/testdata/sf0.01"

load_all_queries()


def _facts(name, spark):
    return plan_facts(QUERIES[name](spark, SF))


def test_stratified_sample_is_shuffle_free_and_pruned(spark):
    f = _facts("stratified_sample", spark)
    assert f.shuffles == 0  # pure scan-stage hash filter
    assert f.read_schemas() == ["doc_id:bigint,lang:string"]  # 2 of 5 cols


def test_scrub_and_quantize_are_scan_stage_only(spark):
    for name in ("pii_scrub", "embedding_quantize"):
        f = _facts(name, spark)
        assert f.shuffles == 0, name
        assert f.python_stages == 0, name  # all Catalyst, no Arrow hop


def test_single_aggregation_queries_shuffle_once(spark):
    # one groupBy == one exchange; anything more is a regression
    for name in (
        "tpch_q1_pricing_summary",
        "dedup_exact",
        "minhash_signatures",
        "simhash_fingerprints",
        "events_hourly_rollup",
        "shard_assignment",
        "sequence_packing",
        "curation_filter",
        "level_histogram",
    ):
        assert _facts(name, spark).shuffles == 1, name
    # text_hash_embeddings: one groupBy exchange, plus the narrow-scan
    # fan-out (plans/parallelism.py) that fires ONLY on the single-file
    # test fixture — a round-robin of raw doc rows, absent at scale where
    # the scan carries its own splits
    f = _facts("text_hash_embeddings", spark)
    assert f.shuffles == 2, "groupBy + conditional fan-out"


def test_tpch_q1_scan_prunes_to_needed_columns(spark):
    [schema] = _facts("tpch_q1_pricing_summary", spark).read_schemas()
    assert schema.count(":") == 7  # 7 of lineitem's 16 columns


def test_knn_broadcasts_queries_never_sort_merge(spark):
    for name in ("knn_exact_cosine", "knn_filtered", "embedding_neardup"):
        f = _facts(name, spark)
        assert f.broadcast_joins >= 1, name  # small query/probe side
        assert f.sort_merge_joins == 0, name  # corpus never co-sorted
        # top-k window, plus the fan-out exchange the window tier inserts
        # ONLY when the corpus scan collapsed below the core count (always
        # true at test scale, never at 100 TB — knn.py:_knn_window)
        assert f.shuffles <= 2, name


def test_bm25_and_decontamination_broadcast_the_small_side(spark):
    for name in ("bm25_search", "decontamination"):
        f = _facts(name, spark)
        assert f.broadcast_joins >= 1, name
        assert f.sort_merge_joins == 0, name


def test_asof_join_has_no_range_explosion(spark):
    f = _facts("asof_latest_view", spark)
    assert f.sort_merge_joins == 0  # union + window, not a range join
    assert f.broadcast_joins == 0
    assert f.shuffles <= 2  # the window partition (+AQE bookkeeping)


def test_ann_search_stays_probe_pruned(spark):
    # the BLAS probed path (round 5): queries route driver-side and ship
    # as ONE sc.broadcast — no join against the corpus at all; candidates
    # are a list_id IN (...) filtered scan feeding a single Arrow gemm
    # kernel, and the only exchange is the Q·n_probe·k-row top-k window
    f = _facts("ann_ivf_knn", spark)
    assert f.sort_merge_joins == 0  # corpus never co-sorted
    # two Arrow kernels: the registered query is hermetic (it builds its
    # index in-plan, one assign stage) + the one scoring gemm kernel
    assert f.python_stages <= 2
    assert f.shuffles <= 1  # the top-k merge window only
    import re

    # the probed-lists membership filter is present (column renders with
    # its exprId, e.g. "list_id#11 IN (0,1,...)")
    assert re.search(r"list_id#\d+ IN \(", f.text)


def test_revenue_by_nation_broadcasts_all_dims(spark):
    f = _facts("revenue_by_nation", spark)
    assert f.broadcast_joins == 3  # customer->orders->nation dims broadcast
    assert f.sort_merge_joins == 0
    assert f.shuffles == 1  # only the final group-by


@pytest.mark.parametrize("name", ["hybrid_rrf_search"])
def test_rrf_arms_take_ordered_not_global_sort(spark, name):
    f = _facts(name, spark)
    assert "TakeOrderedAndProject" in f.ops
    assert f.shuffles == 0  # arms cut via TakeOrdered; fusion over <=50 rows


def test_apply_mixing_is_scan_stage_only(spark):
    # copy expansion is sequence+explode on a hash expression: no exchange,
    # no Arrow hop, at any corpus size
    f = _facts("apply_mixing", spark)
    assert f.shuffles == 0
    assert f.python_stages == 0
    assert f.scans == 1


def test_global_shuffle_has_no_global_sort(spark):
    # two-level order: bucketed window + tiny offset table broadcast back.
    # A plain row_number() over a global ORDER BY would show a width-1
    # exchange (SinglePartition); the bucket design must keep every
    # exchange keyed.
    f = _facts("global_shuffle", spark)
    assert f.shuffles <= 3
    assert f.broadcast_joins >= 1  # offsets join, never sort-merge
    assert "Exchange SinglePartition" not in f.text


def test_corpus_attrition_scans_corpus_once(spark):
    # the whole attrition dashboard reads documents ONCE (materialized
    # per-doc signal frame); the r3 composition cost 8 scans
    assert _facts("corpus_attrition", spark).scans == 1


def test_dedup_incremental_bounded_shuffles(spark):
    # fingerprint window + anti-join reuse one key: ≤2 exchanges
    f = _facts("dedup_incremental", spark)
    assert f.shuffles <= 2


def test_hamming_rerank_single_shuffle_broadcast_queries(spark):
    f = _facts("knn_hamming_rerank", spark)
    assert f.broadcast_joins >= 1  # packed queries broadcast
    assert f.sort_merge_joins == 0
    assert f.shuffles <= 1  # candidate window only
    assert f.python_stages == 0  # XOR+popcount all in codegen


def test_interval_join_query_broadcasts_windows(spark):
    f = _facts("events_in_windows", spark)
    assert f.broadcast_joins >= 1  # exploded windows broadcast
    assert f.sort_merge_joins == 0  # bin equi-join, never nested-loop
    assert f.shuffles <= 2  # min-ts agg + final rollup


def test_q19_prefilters_reach_both_scans(spark):
    f = _facts("discounted_revenue_filters", spark)
    assert f.broadcast_joins >= 1
    assert f.sort_merge_joins == 0
    # the derived single-side predicates must appear as pushed filters
    text = f.text
    assert "l_quantity" in text and "p_brand" in text


def test_market_share_broadcasts_all_dimensions(spark):
    f = _facts("market_share_by_year", spark)
    assert f.broadcast_joins >= 6  # part, customer, 2x nation, region, supplier
    # only fact-fact edge (lineitem-orders) + final agg may shuffle
    assert f.sort_merge_joins <= 1


def test_token_budget_single_scan_single_shuffle(spark):
    f = _facts("token_budget_selection", spark)
    assert f.scans <= 1  # persisted flag frame reused, not recomputed
    assert f.shuffles <= 1  # boundary-bucket window only


def test_persisted_ivf_search_prunes_partitions(spark, tmp_path):
    # the 100 TB property: searching a PERSISTED index (partitionBy list_id,
    # plans/persistence.py:save_index) must push the probed-lists filter to
    # the parquet PARTITION level — unprobed lists are never read from disk
    import re

    from pyspark.sql import functions as F

    from hnsw_spark.operators.ann import build_ivf_index
    from hnsw_spark.plans.persistence import load_index, save_index

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    idx = build_ivf_index(emb, n_lists=8, metric="cosine")
    save_index(idx, str(tmp_path / "ivf"))
    loaded = load_index(spark, str(tmp_path / "ivf"))
    res = loaded.search(emb.filter(F.col("vec_id") < 4), k=5, n_probe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[list_id#\d+ IN \([\d,]+\)\]", plan)
    assert m, "probed-lists filter did not reach the partition level"
    probed = m.group(0).split("(")[1].rstrip(")]").split(",")
    assert len(probed) < 8  # strictly fewer partitions than lists


def test_round5_topk_queries_take_ordered_not_global_sort(spark):
    # TakeOrderedAndProject = per-partition heaps + driver k-merge;
    # a global Sort before LIMIT would shuffle the whole aggregate
    for name in (
        "shipping_priority_topk",
        "returned_item_losses",
        "sole_supplier_orders",
    ):
        f = _facts(name, spark)
        assert "TakeOrderedAndProject" in f.ops, name
        assert "Sort" not in f.ops or "WindowGroupLimit" in f.ops, name


def test_q17_broadcasts_the_per_part_frames(spark):
    f = _facts("small_quantity_revenue", spark)
    assert f.ops.count("BroadcastHashJoin") == 2  # part dim + per-part agg
    assert "SortMergeJoin" not in f.ops


def test_q18_qualifying_set_broadcasts_into_orders(spark):
    f = _facts("large_volume_orders", spark)
    assert "BroadcastHashJoin" in f.ops
    assert "SortMergeJoin" not in f.ops
    assert f.shuffles == 1  # only the l_orderkey aggregation


def test_min_cost_supplier_uses_window_group_limit(spark):
    # rank()=1 must run as WindowGroupLimit (per-partition pre-filter),
    # not a full window materialization
    assert "WindowGroupLimit" in _facts("min_cost_supplier", spark).ops


def test_ewma_single_user_shuffle(spark):
    f = _facts("ewma_recency", spark)
    assert f.shuffles == 1  # the user_id window; agg reuses its partitioning
    assert "WindowGroupLimit" in f.ops  # rn <= 16 pre-filters the sort


def test_salted_agg_final_pass_is_partial_sized(spark):
    f = _facts("salted_aggregation_gate", spark)
    # direct agg (1) + salted two-phase (2) + broadcast join, no SMJ
    assert "SortMergeJoin" not in f.ops
    assert "BroadcastHashJoin" in f.ops


def test_q9_profit_all_dims_broadcast_single_shuffle(spark):
    f = _facts("profit_by_nation_year", spark)
    assert f.shuffles == 1  # only the (nation, year) partial agg
    assert f.broadcast_joins == 3  # part, supplier, nation
    assert f.sort_merge_joins == 0


def test_q12_delay_buckets_filter_pushed(spark):
    f = _facts("shipping_delay_priority", spark)
    assert f.shuffles == 1
    assert f.sort_merge_joins == 0
    # the lineitem scan must carry the shipdate range down to parquet
    assert any("l_shipdate" in s for s in f.read_schemas())


def test_q15_top_supplier_scans_fact_once(spark):
    f = _facts("top_revenue_supplier", spark)
    # the aggregate-reuse rewrite: rev computed once, max via window —
    # exactly one lineitem scan (the crossJoin-with-max form scans twice)
    li_scans = [s for s in f.read_schemas() if "l_suppkey" in s]
    assert len(li_scans) == 1
    assert f.shuffles == 2  # supplier agg + dim-sized window exchange
    assert f.sort_merge_joins == 0


def test_q16_variety_broadcasts_part_dim(spark):
    f = _facts("supplier_part_variety", spark)
    assert f.broadcast_joins == 1
    assert f.sort_merge_joins == 0
    # distinct pairs + two-phase distinct aggregate: three exchanges max
    assert f.shuffles == 3


def test_q19_bracket_part_filter_hoisted(spark):
    f = _facts("bracketed_quantity_revenue", spark)
    assert f.shuffles == 1
    assert f.broadcast_joins == 1
    # hoisted brand/size implication prunes the part scan to 3 columns
    [pscan] = [s for s in f.read_schemas() if "p_brand" in s]
    assert pscan.count(":") == 3


def test_q20_excess_chain_is_two_broadcast_semijoins(spark):
    f = _facts("excess_shipment_suppliers", spark)
    assert f.shuffles == 2  # per-(supp, part) agg + distinct
    assert f.broadcast_joins == 2
    assert f.sort_merge_joins == 0


def test_scd2_enrichment_broadcasts_dim_no_fact_shuffle(spark):
    """The as-of enrichment must stay a broadcast equi-join with the
    interval containment as a residual — a sort-merge (or worse, a
    nested-loop range join) on the fact side would shuffle the full
    event stream at 100 TB."""
    f = _facts("scd2_asof_enrichment", spark)
    assert f.sort_merge_joins == 0
    assert f.broadcast_joins >= 1  # the dim side travels, not the facts
    # the only exchanges are the dimension build's key window; the fact
    # scan feeds the join directly
    assert f.shuffles <= 2


def _tied_corpus(spark):
    """Integer-valued 8-d vectors: every dot product and squared norm is
    exact in float64, so the BLAS kernel and the Catalyst window plan give
    bit-identical scores and ties are real ties.  Holds one zero-norm row
    (cosine NaN, ranked first by Spark) and copies of the query's 10th-best
    vector under a lower and a higher id, so the score at place 10 is tied
    past the cut."""
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.integers(-3, 4, size=(240, 8)).astype(float)
    ids = np.arange(100, 340)
    vecs[17] = 0.0
    q = np.array([3.0, 1.0, -2.0, 0.0, 2.0, 1.0, -1.0, 3.0])
    with np.errstate(invalid="ignore"):
        cos = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    cos[17] = np.inf  # NaN places first under the (score desc, id asc) order
    order = np.lexsort((ids, -cos))
    tenth = vecs[order[9]]
    vecs = np.vstack([vecs, tenth, tenth])
    ids = np.concatenate([ids, [5, 900]])
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(1, [float(x) for x in q]), (2, [float(x) for x in -q])],
        "vec_id long, embedding array<float>",
    )
    return corpus, queries


def _rows(df):
    import math

    return [
        (r.query_id, r.id, "nan" if math.isnan(r.score) else r.score)
        for r in df.orderBy("query_id", F.desc("score"), "id").collect()
    ]


def test_one_query_knn_merges_without_exchange(spark, tmp_path):
    """A one-query search through local_merge, the IVF BLAS path and the
    HNSW auto route merges with an ordered limit (TakeOrderedAndProject:
    per-partition top k, merged on the driver) — no Exchange — and returns
    exactly the window plan's rows, tied 10th score and NaN row included.
    Two queries keep the query-keyed window."""
    from hnsw_spark.operators.ann import build_ivf_index
    from hnsw_spark.operators.hnsw_graph import build_hnsw_index
    from hnsw_spark.operators.knn import knn_exact
    from hnsw_spark.plans.persistence import load_index, save_index

    corpus, queries = _tied_corpus(spark)
    q1 = queries.filter(F.col("vec_id") == 1)
    want = _rows(knn_exact(corpus, q1, k=10, strategy="window"))
    wide = _rows(knn_exact(corpus, q1, k=11, strategy="window"))
    assert wide[9][2] == wide[10][2]  # the 10th score is tied past the cut
    assert want[0][2] == "nan" and [r[1] for r in want].count(5) == 1
    want2 = _rows(knn_exact(corpus, queries, k=10, strategy="window"))

    save_index(build_ivf_index(corpus, n_lists=4, seed=3), str(tmp_path / "ivf"))
    ivf = load_index(spark, str(tmp_path / "ivf"))
    save_index(
        build_hnsw_index(corpus, n_lists=2, m=8, ef_construction=32),
        str(tmp_path / "hnsw"),
    )
    hnsw = load_index(spark, str(tmp_path / "hnsw"))
    searches = {
        "local_merge": lambda q: knn_exact(corpus, q, k=10, strategy="local_merge"),
        "ivf": lambda q: ivf.search(q, k=10, n_probe=4),
        "hnsw_auto": lambda q: hnsw.search(q, k=10),
    }
    for name, search in searches.items():
        one = search(q1)
        f = plan_facts(one)
        assert f.shuffles == 0, (name, f.ops)
        assert "TakeOrderedAndProject" in f.ops, (name, f.ops)
        assert _rows(one) == want, name
        two = search(queries)
        f2 = plan_facts(two)
        assert "Window" in f2.ops and f2.shuffles >= 1, (name, f2.ops)
        assert _rows(two) == want2, name
