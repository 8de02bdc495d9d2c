"""Plan-quality guards: the physical plans the engine promises.

These tests pin the Catalyst outcomes the scale posture depends on —
column pruning reaching the parquet scan, predicate pushdown, broadcast
dimension joins — so a refactor that silently widens a scan or drops a
broadcast fails CI, not the 100 TB run.
"""

from __future__ import annotations

from queue_system_simulator_spark.plans import QUERIES


def _executed_plan(df) -> str:
    # These guards match TEXTUAL physical-plan markers
    # (TakeOrderedAndProject, SortMergeJoin, BroadcastHashJoin, ...),
    # which depend on planner configs: ORDER BY + LIMIT compiles to
    # TakeOrderedAndProject only while the limit is below
    # spark.sql.execution.topKSortFallbackThreshold, and broadcast-vs-
    # sort-merge turns on spark.sql.autoBroadcastJoinThreshold (+ AQE's
    # runtime rewrite).  Pin them here to the values the assertions were
    # written against, so a Spark-version default change or a session
    # conf drift fails THIS line loudly instead of silently flipping a
    # marker (masking a real regression or faking one).
    s = df.sparkSession
    assert int(s.conf.get("spark.sql.execution.topKSortFallbackThreshold")) >= 10_000
    assert s.conf.get("spark.sql.autoBroadcastJoinThreshold") not in ("-1", "-1b")
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_q1_prunes_and_pushes_down(spark, sf_dir):
    df = QUERIES["tpch_q1"].build(spark, sf_dir)
    plan = _executed_plan(df)
    # predicate reaches the scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # pruned scan: orderkey/partkey/suppkey are not read
    read = plan.split("ReadSchema")[1][:400]
    for absent in ("l_orderkey", "l_partkey", "l_suppkey"):
        assert absent not in read


def test_fifo_stats_reads_four_columns(spark, sf_dir):
    df = QUERIES["fifo_stats"].build(spark, sf_dir)
    read = _executed_plan(df).split("ReadSchema")[1][:300]
    for col in ("event_id", "ts", "user_id", "value"):
        assert col in read
    for absent in ("event_type", "props"):
        assert absent not in read


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    plan = _executed_plan(QUERIES["revenue_by_nation"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all dims fit broadcast at test scale


def test_dedup_exact_single_shuffle(spark, sf_dir):
    plan = _executed_plan(QUERIES["dedup_exact"].build(spark, sf_dir))
    # one exchange for the hash groupBy, nothing else
    assert plan.count("Exchange") <= 2  # partial->final agg pair shares one
    read = plan.split("ReadSchema")[1][:200]
    assert "text" in read and "lang" not in read


def test_fifo_stats_by_user_shards_percentiles_by_group(spark, sf_dir):
    # 100 TB guard: the scalable exact-percentile form must key its aggregate
    # on group_id so percentile state shards across executors, unlike the
    # ungrouped fifo_stats whose single-reducer funnel is oracle-only.
    plan = _executed_plan(QUERIES["fifo_stats_by_user"].build(spark, sf_dir))
    agg_tail = plan.split("percentile", 1)[0]
    assert "group_id" in agg_tail.rsplit("keys=[", 1)[-1][:80], (
        "exact percentile aggregate must be keyed by group_id"
    )


def test_user_activity_similarity_has_no_pair_join(spark, sf_dir):
    # Scale guard: the exact top-20 cosine query must do its quadratic work
    # inside the blocked-GEMM kernel (FlatMapGroupsInPandas), never as a
    # relational self-join exploding Σ_h k_h² pair tuples through a shuffle.
    plan = _executed_plan(QUERIES["user_activity_similarity"].build(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan  # block-pair map is broadcast-joined
    assert "CartesianProduct" not in plan


def test_tpch_q10_pushes_both_scan_filters(spark, sf_dir):
    plan = _executed_plan(QUERIES["tpch_q10_returned_items"].build(spark, sf_dir))
    # quarter filter reaches the orders scan, returnflag the lineitem scan
    assert "o_orderdate" in plan.split("PushedFilters")[1][:2000] or (
        "o_orderdate" in "".join(p[:300] for p in plan.split("PushedFilters")[1:])
    )
    assert any(
        "l_returnflag" in p[:300] for p in plan.split("PushedFilters")[1:]
    )
    # deterministic top-20 without a global sort shuffle
    assert "TakeOrderedAndProject" in plan


def test_tpch_q13_preaggregates_orders_side(spark, sf_dir):
    plan = _executed_plan(QUERIES["tpch_q13_order_distribution"].build(spark, sf_dir))
    # the orders scan reads only the join key — the per-customer count is
    # computed before the outer join, so the join carries one row/customer
    for p in plan.split("ReadSchema")[1:]:
        head = p[:200]
        if "o_custkey" in head:
            assert "o_orderkey" not in head and "o_orderdate" not in head


def test_tpch_q15_single_fact_scan(spark, sf_dir):
    plan = _executed_plan(QUERIES["tpch_q15_top_supplier"].build(spark, sf_dir))
    # the scalar max is agg + broadcast crossJoin over the CHECKPOINTED
    # per-supplier aggregate: no empty-partition window anywhere (the old
    # shape funneled every supplier row through one window task), and both
    # readers read the checkpoint, so the fact scan ran once, in its fill,
    # and is not re-run by this plan
    assert "Window" not in plan
    assert plan.count("Scan ExistingRDD") == 2
    assert "l_extendedprice" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_tpch_q17_broadcasts_part_stats(spark, sf_dir):
    plan = _executed_plan(QUERIES["tpch_q17_small_qty_revenue"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q22_anti_join_and_date_pushdown(spark, sf_dir):
    plan = _executed_plan(QUERIES["tpch_q22_dormant_customers"].build(spark, sf_dir))
    assert "LeftAnti" in plan
    # the recency filter prunes the anti-join build side at the scan
    assert any("o_orderdate" in p[:300] for p in plan.split("PushedFilters")[1:])


def test_timeseries_gap_fill_shares_user_partitioning(spark, sf_dir):
    plan = _executed_plan(QUERIES["timeseries_gap_fill"].build(spark, sf_dir))
    # dense-grid fill is windowed per user — never an unpartitioned window
    assert "Window" in plan
    assert "No Partition Defined" not in plan
    assert "CartesianProduct" not in plan


def test_embed_knn_graph_broadcasts_query_nodes(spark, sf_dir):
    plan = _executed_plan(QUERIES["embed_knn_graph"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the round-9 query-node budget must be a distributed top-K, not a
    # global Sort+Exchange funnel (same guard as hard_negative_mining,
    # including the sort-merge exclusion on the candidate join)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_hard_negative_mining_bounded_sample_plan(spark, sf_dir):
    # 100 TB guard (round-9 sf1 probe found the unbounded form quadratic:
    # 85x wall at 10x rows): the md5-ranked query budget must compile to
    # a distributed top-K (TakeOrderedAndProject), never a global
    # Sort+Exchange funnel, and both the centroid shortlist and the
    # cell-candidate join must broadcast their small side
    plan = _executed_plan(QUERIES["hard_negative_mining"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_verified_pairs_prunes_to_candidates(spark, sf_dir):
    plan = _executed_plan(QUERIES["minhash_verified_pairs"].build(spark, sf_dir))
    # the verify stage must touch only candidate pairs: exact intersection
    # counts come from a map-side array_intersect over per-doc shingle
    # arrays attached by candidate-keyed equi-joins — never a pair
    # enumeration of the corpus (no cartesian), and no corpus-wide
    # (doc, shingle) equi-self-join re-shuffle in the verify
    assert "array_intersect" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir):
    plan = _executed_plan(QUERIES["kmeans_assign"].build(spark, sf_dir))
    # centroids (k x d) broadcast against the corpus: the only exchanges
    # are the centroid build and the final argmin groupBy — the corpus is
    # never shuffled for the distance computation itself
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_shuffle_hash_hint_is_honored(spark, sf_dir):
    plan = _executed_plan(QUERIES["shuffle_hash_join_orders"].build(spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_new_queries_survive_empty_tables(spark, tmp_path):
    # empty partitions are routine at cluster scale; every operator must
    # plan and execute on zero rows (A4 short-circuit analog, applied to
    # the round-2 additions)
    from pyspark.sql import types as T

    d = str(tmp_path / "empty")
    schemas = {
        "events": "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
        "documents": "doc_id long, text string, lang string, source string, "
        "n_chars long",
        "embeddings": "vec_id long, embedding array<float>, label int",
        "orders": "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        "customer": "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
        "lineitem": "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
        "nation": "n_nationkey int, n_name string, n_regionkey int",
    }
    for name, schema in schemas.items():
        spark.createDataFrame([], schema).write.parquet(f"{d}/{name}.parquet")

    empty_ok = [
        "scd2_user_history",
        "timeseries_gap_fill",
        "weekly_revenue_wow",
        "context_windows",
        "tfidf_top_terms",
        "pii_redact",
        "kmeans_assign",
        "bigram_lm_doc_score",
        "tpch_q13_order_distribution",
        "window_function_showcase",
        "user_event_unpivot",
        "skew_salted_user_totals",
    ]
    for name in empty_ok:
        assert QUERIES[name].build(spark, d).count() == 0, name


def test_tpch_q4_semi_join_with_pushdown(spark, sf_dir):
    plan = _executed_plan(QUERIES["tpch_q4_late_priority"].build(spark, sf_dir))
    assert "LeftSemi" in plan
    # the quarter filter reaches the orders scan
    assert "o_orderdate" in plan.split("PushedFilters")[1][:300]


def test_tpch_q21_semi_then_anti(spark, sf_dir):
    plan = _executed_plan(
        QUERIES["tpch_q21_waiting_suppliers"].build(spark, sf_dir)
    )
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_dynamic_partition_pruning_on_datalake(spark, sf_dir, tmp_path):
    """DPP: a selective dim filter prunes fact PARTITIONS at runtime.

    The driver testdata is unpartitioned single files, so demonstrate on
    the engine's own datalake sink: events partitioned by event_type,
    joined to a filtered one-row dim -> the fact scan must carry a
    dynamicpruning subquery on the partition column instead of reading
    all partitions.
    """
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table
    from queue_system_simulator_spark.sources.sink import write_datalake

    path = str(tmp_path / "events_by_type")
    write_datalake(
        load_table(spark, sf_dir, "events"), path, partition_by=["event_type"]
    )
    fact = spark.read.parquet(path)
    # the pruning side must be a file relation with a selective filter —
    # a LocalRelation dim is constant-folded before the DPP rule sees it
    dim_path = str(tmp_path / "type_dim")
    spark.createDataFrame(
        [("purchase", 1), ("view", 0), ("click", 0)],
        "event_type string, flag int",
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("flag") == 1)
    joined = fact.join(dim, "event_type").groupBy("event_type").count()
    executed = _executed_plan(joined)
    assert "dynamicpruning" in executed.lower()
    assert joined.collect()[0]["event_type"] == "purchase"


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime row-level filtering: a selective filter on one join side
    injects a bloom-filter probe on the other, cutting shuffle volume
    before the join (the 100 TB lever for selective fact-fact joins).
    Thresholds are lowered only inside this test because the local
    testdata is far below the production 10 MB creation threshold."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # creation side must fit UNDER this cap (build cost bound) …
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # … the probe side must be big enough to be worth filtering …
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        # … and the rule skips broadcastable creation sides (broadcast
        # joins already prune row-level); force the shuffle-join regime
        # the production-scale fact-fact case would be in.
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",  # keep the injected filter visible
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 70000
        ).select("o_orderkey")
        joined = li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).groupBy().sum("l_quantity")
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower() or "might_contain" in plan.lower()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spread_tracks_session_parallelism(spark, sf_dir):
    # Scale guard: no literal partition counts in query bodies — fan-out
    # repartitions must derive their slot count from the session so the
    # same plan saturates local[32] today and a 2,000-core cluster later.
    from queue_system_simulator_spark.operators.transforms import spread
    from queue_system_simulator_spark.schema import load_table

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    assert spread(docs).rdd.getNumPartitions() == par
    assert spread(docs, factor=2).rdd.getNumPartitions() == 2 * par


# Queries allowed to hold a frame with a bare .cache()/.persist(), as
# {query: reason}.  A query goes here only if both local-checkpoint forms
# (eager and lazy) read slower in a paired bench A/B; the reason gives
# those numbers.
BARE_CACHE_ALLOWED: dict[str, str] = {}


def _bare_caches(source: str) -> list[tuple[int, str]]:
    """``(line, query)`` of every ``.cache()``/``.persist(...)`` call in a
    plans module; ``query`` is the registered name of the enclosing
    builder, or the enclosing function's name."""
    import ast

    found = []
    for node in ast.parse(source).body:
        if not isinstance(node, ast.FunctionDef):
            continue
        name = node.name
        for d in node.decorator_list:
            if (
                isinstance(d, ast.Call)
                and getattr(d.func, "id", None) == "register"
                and d.args
                and isinstance(d.args[0], ast.Constant)
            ):
                name = d.args[0].value
        for call in ast.walk(node):
            if (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr in ("cache", "persist")
            ):
                found.append((call.lineno, name))
    return found


def test_no_literal_repartition_in_query_bodies():
    # partition and kernel shard counts derive from the session, so a
    # literal count (tuned for one host) must not creep back in; and a
    # frame a query reads more than once is a local checkpoint, never a
    # bare cache (the note at the imports of plans/llm_queries.py)
    import pathlib
    import re

    plans = pathlib.Path(__file__).resolve().parent.parent / (
        "queue_system_simulator_spark/plans"
    )
    files = sorted(plans.glob("*.py"))
    assert files, plans
    offenders = []
    for f in files:
        source = f.read_text()
        for i, line in enumerate(source.splitlines(), 1):
            if re.search(r"\.repartition\(\s*\d|(?<![\w-])shards\s*=\s*\d", line):
                offenders.append(f"{f.name}:{i}: {line.strip()}")
        for i, query in _bare_caches(source):
            if query not in BARE_CACHE_ALLOWED:
                offenders.append(f"{f.name}:{i}: bare cache in {query}")
    assert not offenders, offenders


def test_bare_cache_scan_sees_builders():
    # the scan above must find a bare cache in a registered builder and in
    # a helper, under the names the allow-list uses
    source = """
@register("q_name", oracle="SELECT 1")
def q_x(spark, sf_dir):
    return df.select("a").cache()


def _helper(df):
    return df.persist(level)
"""
    assert _bare_caches(source) == [(4, "q_name"), (8, "_helper")]


# Copies of oracle text allowed to stay, as {"<module>:<line>": reason},
# keyed by the first line of the copied run.  Every oracle stage is one
# named SQL fragment that the oracles compose, so this stays empty unless
# a copy cannot become a fragment without changing the rendered oracle.
COPIED_STAGE_ALLOWED: dict[str, str] = {}


def _copied_runs(
    sources: dict[str, str], width: int = 4, min_chars: int = 60
) -> dict[tuple[str, ...], list[str]]:
    """Runs of ``width`` consecutive raw source lines, together holding at
    least ``min_chars`` characters once each line is stripped, that appear
    at two or more sites among the string literals of ``sources``
    (``{module: source}``).  The first argument of a ``.sql(`` call is left
    out: it is Spark-side SQL, not oracle text.  Maps each run to its
    ``"<module>:<line>"`` sites."""
    import ast
    from collections import defaultdict

    sites = defaultdict(set)
    for module, source in sources.items():
        tree = ast.parse(source)
        spark_sql = {
            id(node.args[0])
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "sql"
            and node.args
        }
        lines = source.splitlines()
        literals = []

        def visit(node):
            if id(node) in spark_sql:
                return
            if isinstance(node, ast.JoinedStr) or (
                isinstance(node, ast.Constant) and isinstance(node.value, str)
            ):
                literals.append((node.lineno, node.end_lineno))
                return
            for child in ast.iter_child_nodes(node):
                visit(child)

        visit(tree)
        for first, last in literals:
            for start in range(first, last - width + 2):
                run = tuple(lines[start - 1 : start - 1 + width])
                if sum(len(line.strip()) for line in run) >= min_chars:
                    sites[run].add(f"{module}:{start}")
    return {run: sorted(s) for run, s in sites.items() if len(s) > 1}


def test_no_oracle_stage_is_copied():
    # one SQL fragment per oracle stage: a copied run of oracle text means
    # a stage is stated twice, and a fix to one copy misses the other
    import pathlib

    plans = pathlib.Path(__file__).resolve().parent.parent / (
        "queue_system_simulator_spark/plans"
    )
    sources = {f.name: f.read_text() for f in sorted(plans.glob("*.py"))}
    assert sources, plans
    copies = {
        run[0].strip(): sites
        for run, sites in _copied_runs(sources).items()
        if len([s for s in sites if s not in COPIED_STAGE_ALLOWED]) > 1
    }
    assert not copies, copies


def test_copy_scan_sees_oracle_literals():
    # the scan above must find a run copied between two oracle literals,
    # skip Spark-side .sql( text and runs too short to be a stage, and
    # compare raw lines, so that a reindented copy is not one
    block = (
        "SELECT doc_id, seed // 4 AS band,\n"
        "       md5(string_agg(minhash, ',' ORDER BY seed)) AS band_key\n"
        "FROM sig\n"
        "GROUP BY doc_id, seed // 4\n"
    )
    short = "SELECT a\nFROM b\nWHERE c\nGROUP BY d\n"
    source = (
        f'A = f"""\n{block}"""\n'
        f'B = """\n{block}"""\n'
        f'C = spark.sql("""\n{block}""")\n'
        f'D = """\n{block.replace(chr(10), chr(10) + "  ")}"""\n'
        f'E = """\n{short}"""\nF = """\n{short}"""\n'
    )
    runs = _copied_runs({"m.py": source})
    # A's and B's block, with and without their closing line
    assert sorted(runs.values()) == [
        ["m.py:2", "m.py:8"], ["m.py:3", "m.py:9"]
    ], runs


def test_bloom_dedup_broadcasts_bitmap_no_cartesian(spark, sf_dir):
    # the m/32-word bitmap and the survivor id list must ride broadcast
    # joins; the corpus side must never cross-join or sort-merge
    plan = _executed_plan(
        QUERIES["incremental_dedup_bloom"].build(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_zorder_layout_has_no_global_sort_window(spark, sf_dir):
    # file assignment is map-side (top z-bits), NOT an ntile over a global
    # sort: no Window operator and no single-partition Exchange
    plan = _executed_plan(QUERIES["zorder_file_layout"].build(spark, sf_dir))
    assert "Window" not in plan
    # the bounds row arrives via broadcast, not a shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dsir_model_tables_broadcast(spark, sf_dir):
    plan = _executed_plan(
        QUERIES["dsir_importance_weights"].build(spark, sf_dir)
    )
    # bucket model tables (<=256 rows) join the feature stream by broadcast
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    # bucketBy(8, orderkey) on both sides: the SortMergeJoin must read the
    # buckets co-located — the ONLY exchange in the plan is the final
    # 35-group aggregation, never a fact-table shuffle
    import re

    plan = _executed_plan(QUERIES["bucketed_join_orders"].build(spark, sf_dir))
    assert "SortMergeJoin" in plan
    join_part = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in join_part
    assert len(re.findall(r"Exchange", plan)) == 1


def test_tpch_q16_broadcasts_dims_and_counts_two_phase(spark, sf_dir):
    plan = _executed_plan(
        QUERIES["tpch_q16_part_supplier_counts"].build(spark, sf_dir)
    )
    # part filter + complaints exclusion ride broadcast joins; the fact
    # table is never shuffled except for the distinct-count aggregation
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_partition_pruned_scan_reads_two_partitions(spark, sf_dir):
    df = QUERIES["partition_pruned_scan"].build(spark, sf_dir)
    plan = _executed_plan(df)
    # the predicate is resolved against the directory listing, not rows
    assert "PartitionFilters: [event_type" in plan
    assert "PushedFilters: [In(event_type" not in plan
    # pruning is non-trivial: the layout on disk has MORE partitions than
    # the two the filter selects, so the directory-listing resolution
    # actually skips data
    import os
    import re

    loc = re.search(r"InMemoryFileIndex\(1 paths\)\[file:([^\]]+)\]", plan)
    assert loc, "scan location missing from plan"
    parts = [
        d for d in os.listdir(loc.group(1)) if d.startswith("event_type=")
    ]
    assert len(parts) > 2
    assert {"event_type=purchase", "event_type=error"} <= set(parts)


def test_python_kernel_queries_count_matches_collect(spark, sf_dir):
    # the cogroup count()-pruning hazard class: for every Arrow/pandas
    # kernel query, a bare count() (which lets Catalyst prune inputs) must
    # agree with the fully-materialized row count
    for name in (
        "kernel_fifo_k1",
        "udtf_event_run_lengths",
        "multimodal_features",
        "multimodal_ahash_dedup",
        "user_activity_similarity",
        "cogroup_click_context",
    ):
        df = QUERIES[name].build(spark, sf_dir)
        assert df.count() == len(df.collect()), name


def test_cdc_merge_conserves_rows_and_cents(spark, sf_dir):
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.plans.relational_queries import (
        q_cdc_merge_orders,
    )
    from queue_system_simulator_spark.schema import load_table

    rows = {r["op"]: r for r in q_cdc_merge_orders(spark, sf_dir).collect()}
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    n_base = base.count()
    n_del = base.filter(F.col("k") % 97 == 0).count()
    n_ins = base.filter(F.col("k") % 89 == 0).count()
    n_upd = base.filter((F.col("k") % 97 != 0) & (F.col("status") == "O")).count()
    assert rows["D"]["n_rows"] == n_del
    assert rows.get("I", {"n_rows": 0})["n_rows"] == n_ins
    assert rows["U"]["n_rows"] == n_upd
    # survivors: everything except deletes, plus inserts
    live_total = sum(
        rows[op]["n_rows"] for op in ("K", "U", "I") if op in rows
    )
    assert live_total == n_base - n_del + n_ins
    # inserted keys live strictly above the original domain
    if "I" in rows:
        assert rows["I"]["min_key"] > base.agg(F.max("k")).collect()[0][0]


def test_regression_slope_decomposes_from_moments(spark, sf_dir):
    from queue_system_simulator_spark.plans.analytics_queries import (
        q_regression_slope_daily,
    )

    for r in q_regression_slope_daily(spark, sf_dir).collect():
        num = r["n_days"] * r["sum_xy"] - r["sum_x"] * r["sum_y"]
        den = r["n_days"] * r["sum_x2"] - r["sum_x"] * r["sum_x"]
        assert r["slope_num"] == num and r["slope_den"] == den
        assert abs(r["slope"] - round(num / den, 6)) < 1e-9


def test_event_paths_are_valid_and_ranked(spark, sf_dir):
    from queue_system_simulator_spark.plans.analytics_queries import (
        PATH_TOPK,
        q_event_path_topk,
    )

    rows = q_event_path_topk(spark, sf_dir).collect()
    assert 0 < len(rows) <= PATH_TOPK
    types = {"view", "click", "purchase", "signup", "error"}
    counts = [r["n_journeys"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        parts = r["path"].split(">")
        assert len(parts) == 3 and all(p in types for p in parts)


def test_benford_frequencies_sum_to_one(spark, sf_dir):
    from queue_system_simulator_spark.plans.relational_queries import (
        q_benford_price_audit,
    )

    rows = q_benford_price_audit(spark, sf_dir).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    assert abs(sum(r["observed_freq"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["benford_freq"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["chi_component"] >= 0


def test_stl_decomposition_reconstructs_series(spark, sf_dir):
    from queue_system_simulator_spark.plans.analytics_queries import (
        q_stl_weekly_decompose,
    )

    rows = q_stl_weekly_decompose(spark, sf_dir).collect()
    assert rows
    by_type: dict = {}
    for r in rows:
        # y = trend + seasonal + remainder by construction (up to rounding)
        assert abs(r["y"] - (r["trend"] + r["seasonal"] + r["remainder"])) < 5e-6
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        # weekday seasonal components average ~0 over whole weeks
        s = sum(r["seasonal"] for r in series) / len(series)
        assert abs(s) < max(abs(r["y"]) for r in series)


def test_stl_residual_anomalies_consistent(spark, sf_dir):
    from queue_system_simulator_spark.plans.analytics_queries import (
        q_stl_residual_anomalies,
        q_stl_weekly_decompose,
    )

    days = {}
    for r in q_stl_weekly_decompose(spark, sf_dir).collect():
        days.setdefault(r["event_type"], set()).add(r["day_idx"])
    for r in q_stl_residual_anomalies(spark, sf_dir).collect():
        assert r["n_days"] == len(days[r["event_type"]])
        assert 0 <= r["n_anomalies"] <= r["n_days"]
        assert r["mad_rem"] >= 0
        assert r["worst_day"] in days[r["event_type"]]


def test_as_of_timestamp_read_is_shuffle_free(spark, sf_dir):
    """TIMESTAMP-AS-OF is a resolve + single pruned snapshot scan: the
    returned plan must contain no Exchange, no join, and read only the
    three projected snapshot columns (version is a literal)."""
    df = QUERIES["time_travel_as_of_timestamp"].build(spark, sf_dir)
    plan = _executed_plan(df)
    assert "Exchange" not in plan
    assert "Join" not in plan
    read = plan.split("ReadSchema")[1][:300]
    for col in ("user_id", "event_id", "value_centi"):
        assert col in read
    for absent in ("tus", "event_type"):
        assert absent not in read


def test_retrieval_ndcg_broadcasts_bounded_frames(spark, sf_dir):
    """The two query-set-bounded frames (probed cells, graded truth) must
    broadcast — the corpus-side scored frame never shuffles for a join —
    and nothing in the eval plans as a cartesian product."""
    df = QUERIES["retrieval_ndcg_eval"].build(spark, sf_dir)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
