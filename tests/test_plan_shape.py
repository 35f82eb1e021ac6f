"""Physical-plan shape assertions — the 100-TB posture is enforced
here, not just measured: filters must reach the parquet scan, small
sides must broadcast, the tile path must shuffle exactly once (the
halo exchange), and the kNN probe must never shuffle the points table.
(Mirrors the reference's policy/audit test series, SURVEY.md §5.6.)"""

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    plan = q._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan
    # column pruning: scan schema is just the two referenced columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {"l_orderkey", "l_quantity"}


def test_pip_join_broadcasts_build_side(spark, points_df):
    from fujishadergpu_spark.operators.pip_join import pip_join
    from fujishadergpu_spark.sources.polygons import polygons

    plan = _plan(pip_join(points_df, polygons(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tile_kernel_single_shuffle(spark, points_df):
    from fujishadergpu_spark.operators.tile_kernels import tile_kernel_stats

    plan = _plan(tile_kernel_stats(points_df, 5))
    # exactly one exchange: the halo-exchange repartition on _tk,
    # sorted within partitions and streamed through one batched
    # MapInPandas (no grouped map, so no second shuffle and no
    # per-tile pandas frame)
    assert plan.count("Exchange hashpartitioning") == 1
    ex = plan[plan.index("Exchange hashpartitioning"):]
    assert "_tk" in ex[: ex.index("\n")]
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" not in plan


def test_patch_join_fill_shuffle_count(spark, points_df):
    """The patch-join void fill (tile_kernel_stats_filled) keeps its
    exchange budget: six hash exchanges (the halo exchange on each of
    the point and candidate branches, the candidate distinct, the
    membrane and request sides of the piece cogroup, the piece side of
    the kernel cogroup) and exactly two cogroups. The membrane pyramid
    is checkpointed before this plan, so its steps are not counted."""
    from fujishadergpu_spark.operators.void_fill_dist import tile_kernel_stats_filled

    plan = _plan(tile_kernel_stats_filled(points_df, 5, zc=2))
    assert plan.count("Exchange hashpartitioning") == 6
    assert plan.count("FlatMapCoGroupsInPandas") == 2
    assert "FlatMapGroupsInPandas" not in plan


def test_overview_path_single_broadcast_join(spark, points_df):
    """The large-radius overview rewrite: the coarse level is
    broadcast-joined back on the ancestor key exactly once (one level
    for one large radius), never sort-merged or nested-looped, and the
    plan has two hash exchanges: the fine and the coarse halo exchange
    (the coarse responses map the coarse tiles where they stand)."""
    from fujishadergpu_spark.operators.multiscale import multiscale_usm, overview_box_total
    from fujishadergpu_spark.operators.spatial_mode import spatial_kernel

    for df in (
        multiscale_usm(points_df, 3, radii=(2, 64)),
        spatial_kernel(points_df, 3, "hillshade", radii=(2.0, 64.0)),
        overview_box_total(points_df, 3, 64),
    ):
        plan = _plan(df)
        assert plan.count("BroadcastHashJoin") == 1
        assert "SortMergeJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("Exchange hashpartitioning") == 2


def test_knn_probe_broadcasts_queries(spark, points_df):
    """The per-round candidate join must broadcast the (small) exploded
    query side so the points table is scanned, never shuffled."""
    from fujishadergpu_spark.functions import cells
    from fujishadergpu_spark.operators.knn import ring_candidates

    pts = points_df.select(
        F.col("id").alias("_nid"), F.col("lat").alias("_nlat"), F.col("lon").alias("_nlon"),
        cells.cell_of(F.col("lat"), F.col("lon"), 5).alias("_ncell"),
    )
    q = points_df.filter(F.col("id") % 100 == 0).select(
        F.col("id").alias("_qid"), F.col("lat").alias("_qlat"), F.col("lon").alias("_qlon"),
        cells.cell_of(F.col("lat"), F.col("lon"), 5).alias("_qcell"),
    )
    plan = _plan(ring_candidates(q, pts, 2, 5, True, True))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan  # points never shuffled


def test_events_window_partial_aggregation(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    plan = _plan(q)
    # map-side combine before the exchange (partial_count)
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_extended_kernels_single_shuffle(spark, points_df):
    """The halo-exchange contract holds for the ported inventory, not
    just hillshade: one hashpartitioning exchange feeding the
    batched per-tile kernel."""
    from fujishadergpu_spark.operators.tile_kernels import tile_kernel_stats

    for kernel, params in [("openness", {"max_distance": 8}), ("tv_decomposition", {"iterations": 12})]:
        plan = _plan(tile_kernel_stats(points_df, 5, kernel=kernel, **params))
        assert plan.count("Exchange hashpartitioning") == 1, kernel


def test_exact_dedup_shuffles_hash_not_text(spark):
    """exact_dedup's exchange must carry the 16-byte (hash, length)
    key with map-side partial aggregation — never the text."""
    from fujishadergpu_spark.operators.dedup import exact_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_dedup(d, "doc_id"))
    assert "partial_min" in plan or "partial min" in plan.lower()
    ex = plan[plan.index("Exchange hashpartitioning"):]
    head = ex[: ex.index("\n")]
    assert "_h" in head and "text" not in head


def test_halo_census_single_shuffle(spark, points_df):
    """The hash-oracle census operators, weighted rasterization and the
    array kernel all ride the per-tile executor's one-Exchange halo
    transport (16-byte packed rows, + the weight when one is given)
    into one batched MapInPandas, never a per-tile grouped map."""
    from fujishadergpu_spark.operators.tile_kernels import (
        rasterize_tiles,
        tile_box_total,
        tile_halo_census,
        tile_kernel,
        tile_weighted_census,
    )

    weighted = points_df.withColumn("w", (F.col("id") % 7 + 1).cast("double"))
    for df in (
        tile_halo_census(points_df, 6, 3),
        tile_box_total(points_df, 6, 2),
        rasterize_tiles(weighted, 6, halo=3, weight_col="w"),
        tile_weighted_census(weighted, 6, 3, "w"),
        tile_kernel(points_df, 6),
    ):
        plan = _plan(df)
        assert plan.count("Exchange hashpartitioning") == 1
        ex = plan[plan.index("Exchange hashpartitioning"):]
        head = ex[: ex.index("\n")]
        assert "_tk" in head and "lat" not in head and "url" not in head
        assert "MapInPandas" in plan and "FlatMapGroupsInPandas" not in plan


def test_ngram_jaccard_shuffles_hashes_not_text(spark):
    """The n-gram similarity join's wide exchanges must carry (gram
    hash, id) — never gram strings or document text."""
    from fujishadergpu_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(ngram_jaccard_pairs(d, "doc_id", threshold=0.4))
    # full-line slices (not a paren-bounded regex, which truncates at
    # the first nested ')' and could miss a column listed after one)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_gram" not in line and "text" not in line, line


def test_line_dedup_keeper_partial_agg_no_window(spark):
    """line_dedup's keeper must be a hash aggregate (map-side partial
    min over the line key, AQE-skew-splittable) — NOT a window
    partitioned by the line, which would put every occurrence of a
    hot boilerplate line in one un-splittable task at 100 TB."""
    from fujishadergpu_spark.operators.repetition import line_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(line_dedup(d))
    assert "Window" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_lmscore_ctx_join_input_is_probs_miss_subset(spark):
    """The Zipf-skewed w1-keyed context join must only ever see the
    model-miss remainder (a LEFT-ANTI join against the model), never
    the full corpus-sized occurrence relation."""
    from fujishadergpu_spark.operators.lmscore import lm_score

    d = spark.read.parquet(f"{SF}/documents.parquet")
    train = d.where(F.col("doc_id") % 2 == 0)
    plan = lm_score(d, train=train)._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    anti = [i for i, l in enumerate(lines) if "LeftAnti" in l]
    ctx_join = [i for i, l in enumerate(lines) if "Join LeftOuter" in l and "_w1" in l]
    assert anti and ctx_join
    # tree prints parent-above-child: the ctx join sits ABOVE the
    # anti join, i.e. its input subtree is the miss remainder
    assert min(ctx_join) < min(anti)


def test_bm25_query_path_has_no_corpus_wide_join(spark):
    """The scoring path must be postings + broadcast joins only — the
    per-doc length rides the postings row, so no sort-merge join on
    the corpus-sized dl relation survives in the plan."""
    from fujishadergpu_spark.operators.bm25 import bm25_topk

    d = spark.read.parquet(f"{SF}/documents.parquet")
    q = d.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    plan = _plan(bm25_topk(d, q, k=3))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_topic_assign_broadcasts_lexicon(spark):
    """The lexicon probe must be a broadcast join — the corpus-side
    token relation is scanned, never shuffled for the probe (the
    decontaminate discipline)."""
    from fujishadergpu_spark.operators.topics import topic_assign

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(topic_assign(docs))
    assert "BroadcastHashJoin" in plan
    # the probe key never keys an exchange: the only shuffles are the
    # (id, topic) aggregate and the id-keyed totality join (ids +
    # longs); a hashpartitioning on `word` would mean the lexicon
    # probe shuffled the corpus token relation
    assert not re.search(r"Exchange hashpartitioning\(word", plan)


def test_funnel_and_sweep_are_single_aggregate_no_window(spark):
    """filter_attribution and threshold_sweep promise ONE single-row
    global aggregate pivoted by a bounded stack: no Window node, no
    join, and exactly one pair of (partial, final) aggregates."""
    from fujishadergpu_spark.operators.funnel import (
        filter_attribution,
        threshold_sweep,
    )

    df = spark.createDataFrame(
        [(0, True, False, 0.5, 10)],
        "doc_id long, a boolean, b boolean, score double, w long",
    )
    for plan in (
        _plan(filter_attribution(df, ["a", "b"], keep_col=None)),
        _plan(threshold_sweep(df, [0.1, 0.9], weight_col="w")),
    ):
        assert "Window" not in plan
        assert "Join" not in plan
        # one global aggregate: a single-partition exchange at most
        assert plan.count("Exchange") <= 1


def test_ngram_topk_plans_take_ordered(spark):
    """The global top-k must plan as TakeOrderedAndProject (partial
    per-partition top-k), never a global Sort over the vocabulary."""
    from fujishadergpu_spark.operators.vocab import ngram_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(ngram_topk(docs, 3, 50))
    assert "TakeOrderedAndProject" in plan


def test_bitext_topk_plans_window_group_limit(spark):
    """The per-side kNN rank<=k filters must plan as WindowGroupLimit
    (partial per-partition top-k before the window) so the full
    candidate relation never materializes through a naive rank."""
    from pyspark.sql import functions as F_

    from fujishadergpu_spark.operators.bitext import candidate_scores, mine_bitext

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    src = e.filter(F_.col("vec_id") % 2 == 0)
    tgt = e.filter(F_.col("vec_id") % 2 == 1)
    plan = _plan(mine_bitext(candidate_scores(src, tgt), k=4))
    assert "WindowGroupLimit" in plan


def test_anchor_topk_no_window(spark):
    """The per-target top-k must be the sort_array+slice aggregate
    (map-side partial merging), never a Window node whose hot target
    would pin a full partition to one task."""
    from fujishadergpu_spark.operators.anchors import anchor_topk

    df = spark.createDataFrame([(1, 2, "a b")], "src long, dst long, anchor string")
    plan = _plan(anchor_topk(df, k=3))
    assert "Window" not in plan
    assert "partial_" in plan  # partial aggregation present


def test_linkstats_and_bfs_no_nested_loop_join(spark):
    """Reciprocity's swapped-key self-join and BFS's edges-vs-ring
    join must stay equi-joins (hash/sort-merge, AQE-splittable) —
    a BroadcastNestedLoopJoin/Cartesian here would be quadratic."""
    from fujishadergpu_spark.operators.bfs import seed_distance
    from fujishadergpu_spark.operators.linkstats import link_stats

    e = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    s = spark.createDataFrame([(0,)], "id long")
    for df in (link_stats(e), seed_distance(e, s, max_hops=2)):
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_robots_eval_regex_rides_equi_join(spark):
    """The rlike match must be a residual condition on the host
    equi-join, never the join strategy: a nested-loop plan would be
    |urls| x |rules|."""
    from fujishadergpu_spark.functions.robots import robots_eval

    urls = spark.createDataFrame([("h0", "/a")], "host string, path string")
    rules = spark.createDataFrame(
        [("h0", "*", "disallow", "/a")], "host string, agent string, rule string, path string"
    )
    plan = _plan(robots_eval(urls, rules, "bot"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "RLIKE" in plan or "rlike" in plan  # residual really present


def test_warc_chain_is_single_pass_no_shuffle_after_assembly(spark):
    """After the per-file grouped-map assembly exchange, the scan ->
    http parse -> extract chain must add ZERO further exchanges —
    record parsing is embarrassingly parallel over file blobs."""
    from fujishadergpu_spark.sources.warc import (
        assemble_warc_files,
        parse_warc,
        warc_record_bytes,
    )

    df = spark.createDataFrame([(1, "http://x", b"b")], "doc_id long, url string, body binary")
    rec = df.select(
        (F.col("doc_id") % 2).alias("file_key"),
        F.col("doc_id").alias("order_key"),
        warc_record_bytes(
            F.col("url"), F.col("body"),
            F.concat(F.lit("urn:"), F.col("doc_id")), F.lit("2024-01-01T00:00:00Z"),
        ).alias("record"),
    )
    plan = _plan(parse_warc(assemble_warc_files(rec)))
    assert plan.count("Exchange") == 1  # the assembly groupBy only
