"""Plan-shape guardrails: the scale properties we rely on must be
visible in the physical plan (pushdown, pruning, broadcast, no
Python in JVM-only pipelines)."""

import warnings

from pyspark.sql import functions as F

from dataframe_spark import errors

from dataframe_spark.core import DataFrame
from dataframe_spark.tables import load_table


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = DataFrame(load_table(spark, sf_dir, "lineitem"))
    plan = _plan(
        li.filter_where(F.col("l_shipdate") > "1996-01-01")
        .select(["l_orderkey"])
        .df
    )
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThan(l_shipdate" in plan


def test_column_pruning(spark, sf_dir):
    li = DataFrame(load_table(spark, sf_dir, "lineitem"))
    plan = _plan(li.select(["l_orderkey", "l_quantity"]).df)
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_broadcast_small_dim(spark, sf_dir):
    n = DataFrame(load_table(spark, sf_dir, "nation"))
    c = DataFrame(load_table(spark, sf_dir, "customer"))
    out = c.inner_join(
        ["c_nationkey"], n.rename("n_nationkey", "c_nationkey"), broadcast=True
    )
    assert "BroadcastHashJoin" in _plan(out.df)


def test_no_python_udf_in_core_queries(spark, sf_dir):
    from dataframe_spark.queries.relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    from dataframe_spark.queries.relational import q1_pricing_summary

    df = q1_pricing_summary(spark, sf_dir)
    df.collect()  # AQE finalizes the plan on execution
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "*(" in final  # WholeStageCodegen spans (starred operators)
    assert final.count("Exchange hashpartitioning") == 1  # single shuffle


def test_z_score_has_no_global_window(spark, sf_dir):
    """z_score must be agg + broadcast crossJoin, never an
    empty-partition window (which funnels the whole table through a
    single executor). The only SinglePartition exchange allowed is
    the one-row agg's partial->final merge, which carries one row per
    upstream partition, not the data."""
    li = DataFrame(load_table(spark, sf_dir, "lineitem"))
    plan = _plan(li.z_score("l_quantity", "q_z").df)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_contamination_broadcasts_bench_side(spark, monkeypatch):
    """The eval-set shingle set must be the broadcast build side (a
    single collected array row), and the per-doc score must be
    computed in-row: no aggregate may run downstream of the join —
    the corpus side streams map-only start to finish."""
    from dataframe_spark.operators import dedup
    from dataframe_spark.operators.dedup import contamination_scores

    corpus = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    # force the broadcast side of the r5 size gate: a list-built
    # frame reads 2^63-1 plan bytes (plans/stats.py), so the gate
    # would pick the shuffle-join scale path for it
    monkeypatch.setattr(dedup, "BENCH_BROADCAST_MAX_BYTES", 1 << 63)
    qe = (
        contamination_scores(
            corpus, "doc_id", "text", bench, "text", n=3,
        )._jdf.queryExecution()
    )
    plan = qe.executedPlan().toString()
    assert "Broadcast" in plan and "Join" in plan
    # the only aggregate is the bench-side collect_set, which sits
    # BELOW the broadcast exchange; nothing aggregates the corpus
    join_side = plan.split("Join", 1)[0]
    assert "HashAggregate" not in join_side


def test_pack_sequences_window_is_group_partitioned(spark):
    """Packing must never use a global (empty-partition) window."""
    from dataframe_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(1, 0, 40, "s")], "id long, chunk_idx int, n_tokens int, shard string"
    )
    plan = (
        pack_sequences(df, 100, "shard", ["id", "chunk_idx"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "windowspecdefinition(shard" in plan
    assert "Exchange SinglePartition" not in plan


def test_chunk_tokens_is_shuffle_free(spark):
    from dataframe_spark.operators import text as T

    df = spark.createDataFrame([(1, "a b c d e f g h")], "id long, text string")
    plan = (
        T.chunk_tokens(df, "id", "text", 4, 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_vocabulary_topn_uses_bounded_sort(spark):
    from dataframe_spark.operators import text as T

    df = spark.createDataFrame([(1, "a b a")], "id long, text string")
    plan = (
        T.vocabulary(df, "text", top_n=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # top-N must be per-partition heaps + merge, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_tfidf_no_token_stream_shuffle(spark, sf_dir):
    """r3 tf-idf plan contract: term frequencies are in-row, so NO
    exchange may partition on (doc_id, token) — the only hash
    exchange on the token stream is the vocabulary-bounded dfreq
    aggregation, and it must have a map-side partial agg below it."""
    from dataframe_spark.operators.text import tf_idf

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(tf_idf(docs, "doc_id", "text"))
    assert "hashpartitioning(doc_id" not in plan
    assert "partial_count" in plan  # dfreq partial aggregation


def test_winsorize_broadcasts_bounds(spark, sf_dir):
    from dataframe_spark.operators.quantiles import winsorize

    li = load_table(spark, sf_dir, "lineitem")
    plan = _plan(winsorize(li, "l_extendedprice", ["l_returnflag"]))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_sample_k_per_group_single_shuffle(spark, sf_dir):
    docs = DataFrame(load_table(spark, sf_dir, "documents"))
    plan = _plan(docs.sample_k_per_group("source", 5, ["doc_id"]).df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_summarize_small_path_is_jvm_radix(spark, monkeypatch):
    """summarize's r8 small path contract: all-JVM (no Python/Arrow
    stage), the pass-2 hit-bin filter joins on the BROADCAST fused
    long key, and the bin histogram partitions by column index —
    never a single constant-key funnel."""
    from dataframe_spark import DataFrame
    from dataframe_spark.operators import quantiles

    df = DataFrame(
        spark.createDataFrame(
            [(float(i), float(i * 2)) for i in range(100)],
            "a double, b double",
        )
    )
    # a list-built frame reads 2^63-1 plan bytes (plans/stats.py)
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 1 << 63)
    plan = (
        df.summarize()
        .df._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(__ci" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    for marker in ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan


def test_perplexity_lm_broadcasts_and_tf_stays_in_row(spark, sf_dir):
    """Perplexity plan contract: the LM side is bounded by top_v and
    must BROADCAST into the scoring join; term frequencies are in-row
    so no exchange partitions on (id, token) pairs."""
    from dataframe_spark.operators.text import perplexity_score, unigram_lm

    docs = load_table(spark, sf_dir, "documents")
    lm, totals = unigram_lm(docs, "text", top_v=100)
    plan = _plan(perplexity_score(docs, "doc_id", "text", lm, totals))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the only id-keyed exchange is the final per-doc aggregation
    assert plan.count("hashpartitioning(id") <= 1


def test_tpch_composites_broadcast_dims(spark, sf_dir):
    """r4 TPC-H composites: every dimension chain must broadcast;
    the only sort-merge/shuffle joins allowed are the fact-fact
    (orders/customer) joins, and aggregation must be the only hash
    exchange in q9/q19."""
    from dataframe_spark.queries.relational import (
        q9_product_profit,
        q19_basket_revenue,
    )

    p9 = _plan(q9_product_profit(spark, sf_dir))
    f9 = p9.split("== Initial Plan ==")[0]
    assert f9.count("BroadcastHashJoin") >= 3
    p19 = _plan(q19_basket_revenue(spark, sf_dir))
    f19 = p19.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in f19
    assert "SortMergeJoin" not in f19


def test_q8_market_share_broadcasts_all_dims(spark, sf_dir):
    """q8's part/supplier-nation/customer-nation chains must all
    broadcast; the only shuffle joins allowed are the lineitem-orders
    and orders-customer fact joins."""
    from dataframe_spark.queries.relational import q8_market_share

    plan = _plan(q8_market_share(spark, sf_dir)).split("== Initial Plan ==")[0]
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 2


def test_dedup_reuses_shingle_arrays(spark, sf_dir):
    """jaccard/minhash read the hashed shingle arrays multiple times
    (df table, prefix build, verify); the shared subplan must be a
    persisted InMemoryRelation so the scan+shingle+hash chain runs
    once, not once per consumer."""
    from dataframe_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    for out in (
        dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8),
        dedup.minhash_dedup_pairs(docs, "doc_id", "text"),
    ):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan


def test_dsir_plan_shapes(spark, sf_dir):
    """DSIR: the model must ride in as one-row broadcasts (NLJ over
    broadcast singles, BHJ for the bucket-domain joins), the cut
    must be a TakeOrderedAndProject, and nothing may go cartesian
    or sort-merge at this scale."""
    from pyspark.sql import functions as F

    from dataframe_spark.operators.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    out = dsir_select(docs, target, "doc_id", "text", k=10, buckets=512)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 3  # 1-row sides only


def test_remove_spans_plan_shapes(spark, sf_dir):
    """Span removal: hash-keyed joins only (broadcast at test scale;
    AQE picks shuffle joins at real scale) — no cartesian anywhere,
    and the positional window stream persists once (the try_persist
    frames) rather than re-tokenizing per consumer."""
    from dataframe_spark.operators.dedup import remove_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    out = remove_duplicated_spans(docs, "doc_id", "text", window=20)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in opt


def test_scd2_single_exchange(spark, sf_dir):
    """The change-detection lag, version row_number, and valid_to
    lead must share one (key, order) exchange+sort."""
    from dataframe_spark.operators.window import scd2_history

    ev = load_table(spark, sf_dir, "events")
    plan = _plan(
        scd2_history(ev, ["user_id"], "ts", ["event_type"],
                     tiebreak_cols=["event_id"])
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "PushedFilters: [IsNotNull(ts)]" in plan


def test_dedup_paragraphs_prunes_and_shares_explode(spark, sf_dir):
    from dataframe_spark.operators.dedup import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(dedup_paragraphs(docs, "doc_id", "text", sep=" a ",
                                  min_chars=10))
    # scan reads only the two needed columns
    tail = plan.split("ReadSchema")[-1]
    assert "doc_id" in tail and "lang" not in tail
    # the split+posexplode feeds both consumers from ONE cached frame
    assert "InMemoryRelation" in plan


def test_spearman_and_bootstrap_no_cartesian_data_paths(spark, sf_dir):
    from dataframe_spark.core import DataFrame
    from dataframe_spark.operators.scale import bootstrap_mean_se

    li = DataFrame(load_table(spark, sf_dir, "lineitem"))
    p1 = _plan(li.spearman_corr("l_quantity", "l_extendedprice").df)
    assert "CartesianProduct" not in p1
    p2 = _plan(
        bootstrap_mean_se(
            li.df, "l_extendedprice",
            ["l_orderkey", "l_linenumber"], ["l_returnflag"],
            n_replicates=10,
        )
    )
    assert "CartesianProduct" not in p2
    # partials combine map-side: partial agg before exchange
    assert "partial_" in p2 or "HashAggregate" in p2
    # r12 arrow engine: the kernel subtree appears exactly ONCE in
    # the tree (the single-lineage conditional-agg finalize — a
    # self-join would duplicate the corpus pass), and the Python
    # boundary is the batch kernel, never a row-at-a-time UDF
    assert p2.count("MapInArrow") == 1
    assert "BatchEvalPython" not in p2


def test_skew_join_salted_plan(spark, sf_dir):
    """q_skew_join must actually exercise the salted sort-merge path:
    no broadcast of the replicated dim (the merge hint holds), the
    join keys include the salt, and the zipf-key derivation stays
    in-row (no extra exchange for it)."""
    from dataframe_spark.queries.relational import q_skew_join

    plan = _plan(q_skew_join(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "__salt" in plan            # salt is a join key
    assert "BroadcastHashJoin" not in plan


def test_phash_pairs_banded_plan(spark, sf_dir):
    """The perceptual-hash dedup must join on banded chunks (hash
    join on chunk values), never cross-join the corpus; the
    signature frame is persisted so the self-join's two sides share
    ONE hash computation."""
    from dataframe_spark.operators.multimodal import (
        attach_payload,
        phash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = attach_payload(docs, "doc_id", "text")
    plan = _plan(phash_pairs(media))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "InMemoryRelation" in plan  # try_persist signature frame
    assert "chunk" in plan             # banded join keys


def test_grouped_kernel_width_single_exchange(spark, sf_dir):
    """_kernel_width's explicit repartition must SATISFY the
    groupBy's distribution (one exchange total) while widening the
    kernel stage past AQE's byte-based coalescing (the q_holt
    2.4s->0.66s lesson, r7)."""
    from dataframe_spark.operators.window import holt_linear

    ev = load_table(spark, sf_dir, "events")
    plan = _plan(
        holt_linear(ev, ["user_id"], "ts", "value",
                    tiebreak_cols=["event_id"])
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "REPARTITION_BY_NUM" in plan  # width pinned, AQE can't shrink it


def test_heavy_hitters_batch_has_no_single_window_funnel(spark, sf_dir):
    """The mergeable batch twin (r10) must shuffle raw rows by
    (window, key-hash bucket) — never by the window alone, which
    routed each window's whole stream through one task."""
    from dataframe_spark.streaming.heavy import heavy_hitters_batch

    ev = load_table(spark, sf_dir, "events")
    out = heavy_hitters_batch(
        ev, "event_type", "ts", F.date_trunc("hour", F.col("ts")),
        capacity=8,
    )
    plan = _plan(out)
    # the plan prints top-down: everything BELOW the MapInPandas node
    # is the raw-row side (the exchange above it shuffles only the
    # bounded sketch rows into the merge window)
    assert "MapInPandas" in plan
    raw_side = plan.split("MapInPandas", 1)[1]
    exchanges = [
        ln for ln in raw_side.splitlines() if "hashpartitioning" in ln
    ]
    assert exchanges and all("__b" in ln for ln in exchanges), exchanges


def _fallback_sites(got):
    return sorted(
        str(w.message).split(":")[0]
        for w in got
        if issubclass(w.category, errors.FallbackWarning)
    )


def _call_fallback_sites(df, calls=1):
    from dataframe_spark.operators import dedup
    from dataframe_spark.plans.cache import try_persist, try_unpersist
    from dataframe_spark.plans.stats import plan_size_bytes

    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        for _ in range(calls):
            plan_size_bytes(df)
            dedup._materialize(try_persist(df), "test", "barrier")
            try_unpersist(df)
    return _fallback_sites(got)


def test_fallbacks_warn_once_per_process(monkeypatch):
    """A frame with no JVM handle (a Spark Connect frame) takes every
    exception-driven fallback; each warns once per process."""
    from dataframe_spark.plans.stats import LARGE, plan_size_bytes

    class NoJdf:
        pass

    monkeypatch.setattr(errors, "_warned", set())
    assert _call_fallback_sites(NoJdf(), calls=2) == [
        "dedup._materialize",
        "plans.cache.try_persist",
        "plans.stats.plan_size_bytes",
    ]
    assert plan_size_bytes(NoJdf()) == LARGE


def test_classic_session_takes_no_fallback(spark, monkeypatch):
    monkeypatch.setattr(errors, "_warned", set())
    assert _call_fallback_sites(spark.range(10)) == []


def test_list_built_frames_read_the_default_size(spark):
    """The same rows read as unsized when built from a Python list (a
    LogicalRDD: spark.sql.defaultSizeInBytes) and as their actual
    bytes when built from pandas (a LocalRelation), so every size
    gate takes its scale side for a list-built frame (plans/stats.py)."""
    import pandas as pd

    from dataframe_spark.plans.stats import plan_size_bytes

    rows = [(i, f"doc {i}") for i in range(20)]
    listed = spark.createDataFrame(rows, "id long, text string")
    framed = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "text"]))
    assert plan_size_bytes(listed) >= 1 << 62
    assert plan_size_bytes(framed) < 1 << 20
