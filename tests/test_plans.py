"""Plan-shape audit: the physical plans of headline queries must carry
the scale-critical properties. This is the `.explain("formatted")`
review encoded as regression tests — a query that silently loses its
pushdown, broadcast, partial aggregation, or codegen coverage fails
here long before it becomes a 100 TB incident."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def registry():
    from emma_spark.workloads import load_all

    return load_all()


def test_filter_pushdown_reaches_scan(spark, registry):
    plan = _plan(registry["filter_pushdown"].fn(spark, SF_DIR))
    scan = plan[plan.index("PushedFilters"):][:250]
    assert "o_orderstatus" in scan and "o_totalprice" in scan, scan


def test_scan_prunes_unused_columns(spark, registry):
    plan = _plan(registry["filter_pushdown"].fn(spark, SF_DIR))
    read = plan[plan.index("ReadSchema"):][:300]
    assert "o_orderdate" not in read and "o_custkey" not in read, read


def test_multiway_join_broadcasts_dims_no_cartesian(spark, registry):
    plan = _plan(registry["join_multiway_revenue"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_wordcount_partial_aggregation(spark, registry):
    plan = _plan(registry["flatmap_wordcount"].fn(spark, SF_DIR))
    assert "partial_count" in plan, "map-side combine missing"


def test_dedup_pairs_hash_join_not_bnlj(spark, registry):
    plan = _plan(registry["dedup_minhash_pairs"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, "pair generation degraded to n^2"


def test_no_row_at_a_time_python_in_headline_plans(spark, registry):
    """Arrow-batched seams (mapInPandas etc.) are allowed; legacy
    row-at-a-time Python UDFs (BatchEvalPython) are banned everywhere."""
    for name, q in registry.items():
        if not q.headline:
            continue
        if name.startswith("stream_"):
            continue  # streaming queries execute on .start(), not lazily
        plan = _plan(q.fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name


def test_codegen_covers_projection(spark, registry):
    # "*(n) " prefixes mark WholeStageCodegen stages in plan.toString()
    plan = _plan(registry["map_project"].fn(spark, SF_DIR))
    assert "*(1)" in plan, plan[:400]


def test_comprehension_composite_key_single_hash_join(spark, registry):
    """Two equality guards must fuse into ONE composite-key equi-join —
    not a cartesian with filters."""
    plan = _plan(registry["comprehension_composite_theta"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) == 1, plan[:600]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned writes + partition pruning: a filter on
    the partition column must reach the scan as a PartitionFilter (at
    100 TB this is the difference between reading one day and reading
    the lake). Data correctness cross-checked against the unpartitioned
    source."""
    from emma_spark.core import DataBag
    from emma_spark.sources import io

    ev = io.read_parquet(spark, f"{SF_DIR}/events.parquet").df
    src = ev.withColumn("day", ev["ts"].cast("date").cast("string"))
    p = str(tmp_path / "ev_by_day")
    DataBag(src).write_parquet(p, partition_by=["day"])

    back = spark.read.parquet(p)
    one_day = src.select("day").orderBy("day").limit(1).collect()[0]["day"]
    q = back.filter(back["day"] == one_day)
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.index("PartitionFilters"):][:160]
    assert "day" in pf, pf
    # pruned read returns exactly the source's rows for that day
    assert q.count() == src.filter(src["day"] == one_day).count()


def test_broadcast_degrades_to_shuffle_join_when_too_big(spark, registry):
    """'Same declared plan, the right physical strategy at either
    scale': with broadcasting disabled (the 100 TB stand-in — a fact
    table over the threshold), the SAME join code plans a shuffle join,
    not a cartesian; with defaults it broadcasts."""
    from emma_spark.sources import io

    t = io.load_tables(spark, SF_DIR, "orders", "customer")
    join = lambda: (
        t["orders"].equi_join(t["customer"], "o_custkey", "c_custkey").df
    )
    assert "BroadcastHashJoin" in _plan(join())
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = _plan(join())
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p), p[:400]
        assert "CartesianProduct" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivf_trained_assignment_is_narrow(spark, registry):
    """Trained-quantizer IVF (fixed C): the assignment pass must be a
    literal-array projection — O(N·C) narrow work with no join of any
    kind for assignment. Only the cid equi-join and the final top-k
    window may shuffle; the untrained fallback (C~N/mod) keeps its
    crossJoin and serves as the contrast."""
    from emma_spark.llm.similarity import ivf_topk
    from emma_spark.sources import io
    from pyspark.sql import functions as F

    emb = io.read_parquet(spark, f"{SF_DIR}/embeddings.parquet").df
    queries = emb.filter(F.col("vec_id") < 10)
    cents = [(0, [0.1] * 64), (1, [-0.1] * 64), (2, [0.1, -0.1] * 32)]
    trained = _plan(ivf_topk(emb, queries, centroids=cents, nprobe=2))
    assert "BroadcastNestedLoopJoin" not in trained
    assert "CartesianProduct" not in trained
    # exactly one equi-join (candidates on cid): assignment adds none
    assert trained.count("SortMergeJoin") + trained.count("BroadcastHashJoin") + trained.count("ShuffledHashJoin") == 1, trained
    untrained = _plan(ivf_topk(emb, queries, centroid_mod=61, nprobe=2))
    assert "BroadcastNestedLoopJoin" in untrained or "CartesianProduct" in untrained


def test_ivf_fallback_refuses_large_corpus(spark, monkeypatch):
    """The untrained centroid_mod fallback must be an ENFORCED footgun:
    above the row ceiling it raises and points at the trained path."""
    import pytest

    from emma_spark.llm import similarity as S
    from emma_spark.sources import io
    from pyspark.sql import functions as F

    emb = io.read_parquet(spark, f"{SF_DIR}/embeddings.parquet").df
    queries = emb.filter(F.col("vec_id") < 5)
    monkeypatch.setattr(S, "_IVF_FALLBACK_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="train a"):
        S.ivf_topk(emb, queries, centroid_mod=61)
    # trained path unaffected by the ceiling
    cents = [(0, [0.1] * 64), (1, [-0.1] * 64)]
    S.ivf_topk(emb, queries, centroids=cents, nprobe=1).count()


def test_q7_broadcasts_dims_single_fact_shuffle_join(spark, registry):
    """Q7: customer/supplier/nation sides broadcast; the only
    shuffle-worthy join is lineitem-orders."""
    plan = _plan(registry["q7_volume_shipping"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q16_anti_join_is_broadcast(spark, registry):
    """NOT IN lowered to broadcast LEFT ANTI (non-null keys) — never a
    BNLJ null-aware anti join."""
    plan = _plan(registry["q16_parts_supplier_count"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q19_disjunction_stays_on_broadcast_join(spark, registry):
    plan = _plan(registry["q19_disjunctive_revenue"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_countmin_probe_broadcasts_sketch(spark, registry):
    """The d·w-cell sketch must broadcast to the probe side — a probe
    that shuffles the corpus against the sketch is backwards."""
    plan = _plan(registry["sketch_countmin_tokens"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_q18_top_k_is_take_ordered(spark, registry):
    """LIMIT + ORDER BY must lower to TakeOrderedAndProject — a global
    sort before limit materializes the full order at scale."""
    plan = _plan(registry["q18_large_volume_orders"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def _unpartitioned_window_specs(plan: str) -> list[str]:
    """windowspecdefinition(...) occurrences with NO partition columns:
    the spec's argument list starts directly with the sort order (the
    partition-by columns would precede it). A one-task global window."""
    import re

    out = []
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        args = m.group(1)
        # partitioned specs read "col1#id, ..., colN#id ASC NULLS FIRST, ..."
        # — the FIRST arg of an unpartitioned spec is already an ordering
        first = args.split(",")[0]
        if " ASC" in first or " DESC" in first or "specifiedwindowframe" in first:
            out.append(args[:120])
    return out


def test_vocab_coverage_no_global_window_over_vocabulary(spark, registry):
    """text_vocab_coverage must carve the top-25 out with a distributed
    TakeOrdered FIRST; the only permissible global window runs over
    those 25 rows (post-limit). The shape this forbids —
    rank over the full 10^8-token distinct table."""
    plan = _plan(registry["text_vocab_coverage"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:800]
    # the global window may only appear downstream of the take-ordered
    # (plan prints root-first, so the window node must precede the
    # TakeOrderedAndProject node in the string)
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan[:800]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A filter on the partition column of a partition_by'd parquet
    dataset must become a PartitionFilter (directory pruning) — the
    scan lists only matching partitions instead of reading all files
    and filtering rows. The 100 TB layout contract for write_parquet's
    partition_by."""
    from emma_spark.core import DataBag
    from emma_spark.sources import io as eio
    from pyspark.sql import functions as F

    src = eio.read_parquet(spark, f"{SF_DIR}/orders.parquet").df.select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    p = str(tmp_path / "orders_part")
    DataBag(src).write_parquet(p, partition_by=["o_orderstatus"])
    back = eio.read_parquet(spark, p).df.filter(F.col("o_orderstatus") == "F")
    plan = _plan(back)
    i = plan.index("PartitionFilters")
    assert "o_orderstatus" in plan[i:i + 200], plan[i:i + 300]
    # and the row filter does NOT appear as a post-scan Filter on data
    assert back.count() == src.filter(F.col("o_orderstatus") == "F").count()


def test_bigram_lm_top_k_is_take_ordered(spark, registry):
    """text_bigram_lm's top-50 report must be TakeOrderedAndProject —
    the bigram table (∝ vocab²) must never be globally sorted."""
    plan = _plan(registry["text_bigram_lm"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:800]


def test_hll_register_agg_is_partial(spark, registry):
    """The HLL register build must carry map-side partial aggregation
    (partial_max of ranks) — the property that caps the shuffle at
    m·|groups| cells per map task."""
    plan = _plan(registry["sketch_hll_distinct"].fn(spark, SF_DIR))
    assert "partial_max" in plan, plan[:1200]


def test_embedding_centroids_partial_agg_no_collect_shape(spark, registry):
    """Centroid means must partial-aggregate the exploded (label, dim)
    cells map-side; the plan has exactly one exchange for the agg and
    no nested-loop anything."""
    plan = _plan(registry["embedding_centroids"].fn(spark, SF_DIR))
    assert "partial_count" in plan or "partial_sum" in plan, plan[:1200]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_build_dict_no_unpartitioned_window(spark):
    """build_dict's dense index must come from the range-partitioned
    two-pass zipWithIndex — every window in its plan is partitioned
    (the old Window.orderBy('term') dragged the whole vocabulary into
    one task)."""
    from pyspark.sql import functions as F

    from emma_spark.lib.ml.features import build_dict, tokenize

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    vocab = build_dict(docs.select(tokenize(F.col("text")).alias("toks")))
    plan = _plan(vocab)
    bad = _unpartitioned_window_specs(plan)
    assert not bad, f"unpartitioned window specs: {bad}"
    # and the index really is the lexicographic rank
    rows = vocab.orderBy("term").collect()
    assert [r["index"] for r in rows] == list(range(len(rows)))
    assert rows == sorted(rows, key=lambda r: r["term"])


def test_q5_broadcasts_dim_chain_no_cartesian(spark, registry):
    """Q5: region->nation->supplier must collapse via broadcasts; the
    only shuffle joins are the fact-side equi-joins."""
    plan = _plan(registry["q5_local_supplier_volume"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_drift_profile_is_single_scan(spark, registry):
    """Two-snapshot drift must be conditional aggregation over ONE
    scan — not two filtered reads joined back."""
    plan = _plan(registry["dq_drift_snapshots"].fn(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan[:500]
    assert "Join" not in plan, plan[:500]


def test_anomaly_window_is_partitioned(spark, registry):
    """The trailing-stats window must be partitioned by event_type —
    never a global (empty-partition-spec) ordered window."""
    plan = _plan(registry["events_anomaly_zscore"].fn(spark, SF_DIR))
    import re

    for m in re.finditer(r"Window \[", plan):
        frag = plan[m.start():m.start() + 400]
        assert "partitionBy" not in frag or "event_type" in frag, frag


def test_paragraph_dedup_no_join_back_to_chunks(spark, registry):
    """Winner docs come from key arithmetic; the only join is the slim
    per-doc LEFT join of totals to kept-counts (one join total)."""
    plan = _plan(registry["dedup_paragraph_exact"].fn(spark, SF_DIR))
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 1, f"expected exactly 1 join, plan has {n_joins}"


def test_sparse_cosine_no_cartesian(spark, registry):
    """The inverted-index pair join must be a hash/merge equi-join on
    token — if it ever degrades to a cartesian the Σdf² bound is lost."""
    plan = _plan(registry["text_sparse_cosine_pairs"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bigram_score_model_broadcasts(spark, registry):
    """The vocabulary-bounded model side of the scoring join must
    broadcast — per-doc bigrams never shuffle against it."""
    plan = _plan(registry["text_bigram_score"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:600]


def test_quantize_int8_is_map_only(spark, registry):
    """SQ8 quantization must stay a narrow map-only pass: no exchange,
    no join, no window."""
    plan = _plan(registry["embedding_quantize_int8"].fn(spark, SF_DIR))
    assert "Exchange" not in plan and "Join" not in plan and "Window" not in plan


def test_keyword_scan_no_python_source(spark, registry):
    """The pattern table must be JVM literals — a Python-RDD source
    (ExistingRDD via applySchemaToPythonRDD) would add py4j startup to
    every scan."""
    plan = _plan(registry["text_keyword_scan"].fn(spark, SF_DIR))
    assert "ExistingRDD" not in plan, plan[:500]
    assert "BatchEvalPython" not in plan


def test_cc_twophase_equals_propagation(spark, registry):
    """Star contraction and min-label propagation must produce the
    identical component labeling."""
    a = sorted(map(tuple, registry["graph_cc_twophase"].fn(spark, SF_DIR).collect()))
    b = sorted(
        map(tuple, registry["graph_connected_components"].fn(spark, SF_DIR).collect())
    )
    assert a == b


def test_sliding_batch_no_window_function(spark, registry):
    """Batch sliding windows come from the bounded explode — the plan
    must contain no window function and no join."""
    plan = _plan(registry["events_sliding_batch_counts"].fn(spark, SF_DIR))
    assert "Window" not in plan and "Join" not in plan, plan[:500]


def test_markov_conditional_join_broadcasts(spark, registry):
    """The |types|-row marginal side must broadcast."""
    plan = _plan(registry["events_markov_transitions"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:600]


def test_auc_no_rank_window_over_rows(spark, registry):
    """AUC must come off the histogram — no per-row rank/sort, the
    only window runs over the <=256-bin table."""
    plan = _plan(registry["ml_auc_exact"].fn(spark, SF_DIR))
    assert "row_number" not in plan and "rank(" not in plan, plan[:600]


def test_asof_nearest_no_cartesian(spark, registry):
    """Tolerance as-of candidates must come from the user-key equi-join
    (range predicate residual), never a cartesian."""
    plan = _plan(registry["join_asof_nearest"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_point_in_interval_is_hash_join_not_bnlj(spark, registry):
    """The grid-bucket decomposition must turn the range join into a
    hash equi-join — a raw BETWEEN join would plan BNLJ (quadratic)."""
    plan = _plan(registry["events_point_in_interval"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_jaccard_no_cartesian_and_partitioned_ranking(spark, registry):
    """Prefix-filter candidates meet on a token equi-join; the doc-id
    ranking window must stay partitioned (never a global sort)."""
    plan = _plan(registry["dedup_prefix_jaccard_exact"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_map_in_arrow_seam_filters_before_python(spark, registry):
    """mapInArrow is an opaque barrier: the selective filter must sit
    below it (pushdown can't cross a Python map), and the seam must be
    Arrow (never BatchEvalPython)."""
    plan = _plan(registry["udf_map_in_arrow"].fn(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan[:500]
    # the quantity gate reaches the parquet scan below the seam
    scan = plan[plan.index("PushedFilters"):][:250]
    assert "l_quantity" in scan, scan


def test_rfm_thresholds_broadcast_histogram_windows_bounded(spark, registry):
    """RFM quartiles come from bounded value histograms broadcast back;
    the plan must not sort the full customer table (no global ntile)."""
    plan = _plan(registry["orders_rfm_segmentation"].fn(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "ntile" not in plan.lower()


def test_geo_radius_join_is_hash_join_not_bnlj(spark, registry):
    """Grid-cell blocking must turn the distance predicate into a hash
    equi-join on cell_id; a raw theta join would plan BNLJ (|S|x|C|)."""
    plan = _plan(registry["geo_radius_join"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_geo_nearest_facility_broadcasts_small_side(spark, registry):
    """Exact 1-NN against a small facility table is intentionally a
    broadcast nested-loop: facilities broadcast, the big side never
    shuffles before aggregation."""
    plan = _plan(registry["geo_nearest_facility"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning(c_custkey" in plan or "c_custkey" in plan


def test_interval_overlap_join_is_hash_join_not_bnlj(spark, registry):
    """Interval x interval overlap must meet on the grid-bucket
    equi-join; the raw overlap theta predicate would plan BNLJ."""
    plan = _plan(registry["events_interval_overlap_join"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partitioned_roundtrip_prunes_partitions(spark, registry):
    """The lang predicate must land in PartitionFilters (directory
    pruning), not as a post-scan filter over all partitions."""
    df = registry["parquet_partitioned_roundtrip"].fn(spark, SF_DIR)
    plan = _plan(df)
    idx = plan.index("PartitionFilters")
    assert "lang" in plan[idx:idx + 220], plan[idx:idx + 220]


def test_dbscan_neighbor_pairs_are_hash_join(spark, registry):
    """DBSCAN's neighbor generation must ride the grid-cell equi-join;
    the eps predicate stays residual (no BNLJ/cartesian anywhere in
    the clustering plan)."""
    plan = _plan(registry["geo_dbscan_clusters"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_subquery_in_fact_scan(spark, registry):
    """The runtime dim filter must reach the partitioned fact scan as
    a dynamicpruning expression in PartitionFilters — the DPP
    contract (no static lang filter exists in this plan)."""
    df = registry["join_dynamic_partition_pruning"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "dynamicpruning" in plan, plan[:2000]


def test_shuffle_hash_hint_plans_shj(spark, registry):
    """hint('shuffle_hash') must produce a ShuffledHashJoin (not the
    SMJ default, not a broadcast)."""
    df = registry["join_shuffle_hash_hint"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan, plan[:1500]


# ---------------------------------------------------------- pin release audit
def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _persistent_ids(spark) -> set:
    """Persistent RDD ids. The release tests assert on NEW ids (the
    set difference against a baseline snapshot), never on global
    counts: earlier tests in the shared session leave lazily-pinned
    blocks that the JVM GC / ContextCleaner frees at arbitrary
    moments, and a count-based assertion flakes whenever one of those
    evictions lands mid-test (observed twice — both times the test
    passed in isolation). RDD ids are monotonic and never reused, so
    the new-id set is immune to background evictions."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def test_pin_carries_its_release_handle(spark):
    """A local pin persists exactly one RDD, eager or lazy, and the
    returned frame's ``_ckpt_ids`` names it — the handle release()
    frees, with no registry diff around the pin."""
    from pyspark.sql import functions as F

    from emma_spark.plans.cache import pin
    from emma_spark.plans.iterate import release

    for eager in (True, False):
        base_ids = _persistent_ids(spark)
        df = spark.range(50).groupBy((F.col("id") % 7).alias("k")).count()
        out = pin(df, eager=eager)
        assert out._ckpt_ids == _persistent_ids(spark) - base_ids, eager
        assert out.count() == 7
        release(out)
        assert not (_persistent_ids(spark) - base_ids), eager


def test_fixpoint_follows_reliable_pinning(spark, tmp_path):
    """fixpoint's states are pins, so reliable mode covers the loops:
    the iteration writes checkpoint files into the configured dir."""
    import os

    from pyspark.sql import functions as F

    from emma_spark.core import DataBag
    from emma_spark.plans.cache import pinning
    from emma_spark.plans.iterate import fixpoint

    cdir = tmp_path / "ckpt"
    init = DataBag(spark.range(3).select(F.col("id").cast("long").alias("x")))
    step = lambda b: DataBag(
        b.df.select(F.least(F.col("x") + 1, F.lit(5)).alias("x"))
    )
    with pinning(reliable=True, checkpoint_dir=str(cdir)):
        out = fixpoint(init, step, max_iter=20)
        assert sorted(r["x"] for r in out.df.collect()) == [5, 5, 5]
    files = [f for _, _, fs in os.walk(cdir) for f in fs]
    assert files, "fixpoint wrote no reliable checkpoint"


def test_only_plans_cache_cuts_lineage():
    """Every lineage cut goes through plans.cache.pin (so the pin mode
    and the release handle cover the whole engine): as code — not in
    comments or docstrings — ``localCheckpoint(`` and ``.checkpoint(``
    appear only in plans/cache.py."""
    import io
    import pathlib
    import tokenize

    root = pathlib.Path(__file__).resolve().parents[1] / "emma_spark"
    found = set()
    for path in root.rglob("*.py"):
        toks = [
            t
            for t in tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
            if t.type in (tokenize.NAME, tokenize.OP)
        ]
        for prev, t, nxt in zip(toks, toks[1:], toks[2:]):
            if nxt.string != "(":
                continue
            if t.string == "localCheckpoint" or (
                t.string == "checkpoint" and prev.string == "."
            ):
                found.add(path.relative_to(root).as_posix())
    assert found == {"plans/cache.py"}, found


def test_fixpoint_releases_superseded_checkpoints(spark):
    """SURVEY §7.3: DataFrame.unpersist() is a silent no-op for
    localCheckpoint BLOCKS (they live in the block manager, not the
    CacheManager), so without an RDD-level release a 6-iteration loop
    leaves every iteration's state pinned until JVM GC — unbounded
    executor-memory growth on a long-lived driver. The contract:
    after fixpoint returns, exactly ONE state table
    (the returned, checkpoint-backed one) is persisted above baseline,
    in every shape (default probe, custom converged probe, max_iter
    exhaustion), and release() frees that last one."""
    from pyspark.sql import functions as F

    from emma_spark.core import DataBag
    from emma_spark.plans.iterate import fixpoint, release

    base_ids = _persistent_ids(spark)
    init = DataBag(spark.range(3).select(F.col("id").cast("long").alias("x")))
    step = lambda b: DataBag(
        b.df.select(F.least(F.col("x") + 1, F.lit(5)).alias("x"))
    )

    shapes = [
        dict(max_iter=20),
        dict(max_iter=2),  # exhaustion
        dict(
            max_iter=20,
            converged=lambda a, b: b.df.agg(F.min("x")).collect()[0][0] >= 5,
        ),
    ]
    for kw in shapes:
        out = fixpoint(init, step, **kw)
        vals = sorted(r["x"] for r in out.df.collect())
        if kw["max_iter"] > 2:
            assert vals == [5, 5, 5], (kw, vals)
        new = _persistent_ids(spark) - base_ids
        assert len(new) == 1, (kw, sorted(new))
        release(out)
        assert not (_persistent_ids(spark) - base_ids), kw


def test_iterative_workloads_do_not_accumulate_pins(spark, registry):
    """Workload-level audit: each iterative query's RETURNED state
    stays pinned while its consumers may still read it (freed async by
    the ContextCleaner after GC — correct), but SUPERSEDED per-
    iteration states must be released deterministically. The 100×-
    scale failure mode is ACCUMULATION: repeated iterative queries on
    one driver ratcheting the block manager up by N tables per run.
    Two full passes over three fixpoint workloads must therefore stay
    bounded by a small constant, not grow linearly (pagerank alone
    runs 3 iterations × 2 rank tables per pass)."""
    import gc

    base_ids = _persistent_ids(spark)
    high = 0
    for _ in range(2):
        for name in ("graph_kcore", "graph_pagerank", "graph_pagerank_sf"):
            df = registry[name].fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            high = max(high, len(_persistent_ids(spark) - base_ids))
            del df
            gc.collect()
    # 6 query executions, ≥15 iteration states created in total; only
    # the per-query live state (plus cleaner lag) may remain at any
    # point. Without the release handles `high` reaches ~15.
    assert high <= 4, high


def test_graph_workloads_expose_release_handles(spark, registry):
    """Every fixpoint-backed graph result
    — and the workload DataFrames DERIVED from one — carries the
    checkpoint release handle (``_ckpt_ids``), so a long-lived driver
    can free the final state table once its output is materialized:
    ZERO persisted RDDs afterwards, not one leaked per invocation
    until JVM GC. ``clearCache()`` first frees the CacheManager pins
    (``.cache()`` on loop-invariant edge sets — released there, not
    here); checkpoint blocks live in the block manager and only
    ``release()`` frees those."""
    import gc

    from emma_spark.plans.iterate import release

    gc.collect()
    spark.catalog.clearCache()
    base_ids = _persistent_ids(spark)
    for name in (
        "graph_transitive_closure",
        "graph_connected_components",
        "graph_kcore",
        "graph_cc_twophase",
    ):
        df = registry[name].fn(spark, SF_DIR)
        df.write.mode("overwrite").format("noop").save()  # materialize
        assert getattr(df, "_ckpt_ids", None), f"{name}: no release handle"
        spark.catalog.clearCache()
        release(df)
        assert not (_persistent_ids(spark) - base_ids), name
