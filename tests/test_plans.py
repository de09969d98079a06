"""Scale-property plan tests (the ExplainPlanTest analogue): verify the
physical plans have the shape we'd want on a 1000-executor cluster."""

from __future__ import annotations

from pyspark.sql import functions as F

from questdb_spark.plans.explain import (
    has_pushed_filter,
    plan_text,
    read_schema_columns,
    shuffle_count,
    uses_broadcast_join,
)
from questdb_spark.queries_core import q1_pricing_summary, q5_region_revenue, time_filter_scan
from questdb_spark.queries_timeseries import asof_join_events, sample_by_1h
from questdb_spark.sources.parquet import load_table

from .conftest import SF_DIR


def test_time_filter_pushdown(spark):
    df = time_filter_scan(spark, SF_DIR)
    # event_type equality must reach the parquet scan
    assert has_pushed_filter(df, "event_type")
    # projection pruned: props must not be read
    cols = read_schema_columns(df)
    assert "props" not in cols


def test_q1_column_pruning(spark):
    df = q1_pricing_summary(spark, SF_DIR)
    cols = read_schema_columns(df)
    assert "l_comment" not in cols and "l_orderkey" not in cols
    assert has_pushed_filter(df, "l_shipdate") or "l_shipdate" in plan_text(df)


def test_q5_broadcasts_dimensions(spark):
    df = q5_region_revenue(spark, SF_DIR)
    assert uses_broadcast_join(df)


def test_sample_by_single_shuffle_agg(spark):
    df = sample_by_1h(spark, SF_DIR)
    # bucketed agg: exactly one hash exchange (partial→final), no sort
    assert shuffle_count(df) == 1


def test_asof_single_shuffle(spark):
    df = asof_join_events(spark, SF_DIR)
    # union-tag asof: the join itself needs one shuffle on keys; the slave
    # pre-dedup adds one more. No cross joins, no Python in the row path.
    txt = plan_text(df)
    assert "CartesianProduct" not in txt
    assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt
    assert shuffle_count(df) <= 2


def test_scan_no_python_udfs_in_core_queries(spark):
    from questdb_spark.registry import REGISTRY

    # everything except the explicitly pandas-backed multimodal decode and
    # python-free-but-arrow paths must stay JVM-side
    allowed_python = {"multimodal_decode"}
    for name, (fn, _) in REGISTRY.items():
        if name in allowed_python:
            continue
        txt = plan_text(fn(spark, SF_DIR), "simple")
        assert "BatchEvalPython" not in txt, f"{name} uses row-at-a-time Python"


def test_no_cartesian_products_anywhere(spark):
    """Global plan-hygiene sweep: no registry query may compile to a
    CartesianProduct or non-broadcast nested loop — the two shapes that
    explode at 100 TB. Exceptions are intentional: the theta-join query
    demonstrates broadcast NL, and the tiny broadcast spines/carry frames
    (1-row aggregates) legitimately cross-join under broadcast."""
    from questdb_spark.registry import REGISTRY

    for name, (fn, _) in REGISTRY.items():
        txt = plan_text(fn(spark, SF_DIR), "simple")
        assert "CartesianProduct" not in txt, f"{name} compiles to CartesianProduct"


def test_events_scan_prunes_partitions_with_interval(spark):
    ev = load_table(spark, SF_DIR, "events")
    df = ev.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-11")
    ).select("event_id")
    # ts is converted from nanos long — the filter lands post-conversion but
    # the scan must still only read the two needed columns
    cols = read_schema_columns(df)
    assert set(cols) <= {"event_id", "ts"}


def test_window_join_bucketed_equijoin(spark):
    """WINDOW JOIN must join on (keys, time-bucket), not keys alone: the
    bucket key bounds pair materialization on hot keys, and the exact range
    check stays a post-filter. Also verifies results against brute force on
    a dense single-key fixture (the worst case for a keys-only join)."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from questdb_spark.operators.window_join import window_join

    base = datetime(2024, 1, 1)
    master = spark.createDataFrame(
        [(i, "k", base + timedelta(minutes=7 * i)) for i in range(120)],
        ["mid", "key", "ts"],
    )
    slave = spark.createDataFrame(
        [(j, "k", base + timedelta(minutes=j), float(j)) for j in range(900)],
        ["sid", "key", "ts", "v"],
    )
    out = window_join(
        master, slave, "ts", ["key"], "-30 minutes", "30 minutes",
        {"n": F.count("s.v"), "sv": F.sum("s.v")}, "mid",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan  # bucket participates in the equi-join keys
    got = {r["mid"]: (r["n"], r["sv"]) for r in out.collect()}
    for i in range(120):
        mt = 7 * i
        js = [j for j in range(900) if mt - 30 <= j <= mt + 30]
        assert got[i][0] == len(js), i
        assert got[i][1] == (float(sum(js)) if js else None), i


def test_count_star_reads_no_columns(spark):
    """count(*) fast path: the parquet scan decodes ZERO data columns —
    Spark answers from row-group metadata (the CountRecordCursorFactory
    analogue)."""
    from questdb_spark.queries_functions import count_star_fast

    df = count_star_fast(spark, SF_DIR)
    assert not read_schema_columns(df)


def test_near_dup_shuffle_join_not_broadcast(spark):
    """The LSH band self-join must be a co-partitioned shuffle join: at
    corpus scale neither side is broadcastable, and the hint pins the same
    plan locally."""
    from questdb_spark.queries_pipeline import embedding_near_dup

    df = embedding_near_dup(spark, SF_DIR)
    txt = plan_text(df)
    assert "ShuffledHashJoin" in txt or "SortMergeJoin" in txt


def test_window_join_prevailing_bucketed_and_correct(spark):
    """INCLUDE PREVAILING keeps the bucketed-equi-join shape (the prevailing
    row joins as a 3rd exploded bucket — never an unbounded range) and
    matches brute force: window rows PLUS the latest row before the start."""
    from datetime import datetime, timedelta

    from questdb_spark.operators.window_join import window_join

    base = datetime(2024, 1, 1)
    master = spark.createDataFrame(
        [(i, "k", base + timedelta(minutes=37 * i)) for i in range(40)],
        ["mid", "key", "ts"],
    )
    slave = spark.createDataFrame(
        [(j, "k", base + timedelta(minutes=5 * j), float(j)) for j in range(250)],
        ["sid", "key", "ts", "v"],
    )
    out = window_join(
        master, slave, "ts", ["key"], "-10 minutes", "10 minutes",
        {"n": F.count(F.col("s.v")), "sv": F.sum(F.col("s.v"))}, "mid",
        include_prevailing=True,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got = {r["mid"]: (r["n"], r["sv"]) for r in out.collect()}
    for i in range(40):
        mt = 37 * i
        js = [j for j in range(250) if mt - 10 <= 5 * j <= mt + 10]
        prev = [j for j in range(250) if 5 * j < mt - 10]
        if prev:
            js = js + [max(prev)]
        assert got[i][0] == len(js), i
        assert got[i][1] == (float(sum(js)) if js else None), i


def test_matview_incremental_overwrites_only_touched_partitions(spark, tmp_path):
    """Incremental refresh must not rewrite untouched date partitions —
    the refresh-I/O-proportional-to-new-data property."""
    import os
    import time

    from questdb_spark.sqlfront.engine import QdbEngine

    eng = QdbEngine(spark, warehouse=str(tmp_path / "wh"))
    eng.sql("CREATE TABLE src (ts TIMESTAMP, v DOUBLE) TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql(
        "INSERT INTO src VALUES "
        "(TIMESTAMP '2024-01-01 01:00:00', 1.0), (TIMESTAMP '2024-01-05 01:00:00', 5.0)"
    )
    eng.register("src", eng.ddl_read("src"), designated_ts="ts")
    eng.sql("CREATE MATERIALIZED VIEW mv AS (SELECT ts, sum(v) AS sv FROM src SAMPLE BY 1h)")
    d = eng.matviews["mv"]
    old_dir = os.path.join(d.table.path, "part_date=2024-01-01")
    mtime_before = max(os.path.getmtime(os.path.join(old_dir, f)) for f in os.listdir(old_dir))
    time.sleep(1.1)
    eng.sql("INSERT INTO src VALUES (TIMESTAMP '2024-01-06 01:00:00', 6.0)")
    eng.register("src", eng.ddl_read("src"), designated_ts="ts")
    eng.sql("REFRESH MATERIALIZED VIEW mv INCREMENTAL")
    mtime_after = max(os.path.getmtime(os.path.join(old_dir, f)) for f in os.listdir(old_dir))
    assert mtime_after == mtime_before  # Jan-1 partition untouched
    got = {str(r["ts"]): r["sv"] for r in eng.sql("SELECT * FROM mv").collect()}
    assert got["2024-01-06 01:00:00"] == 6.0 and got["2024-01-01 01:00:00"] == 1.0


def test_window_join_prevailing_keyless(spark):
    """Keyless INCLUDE PREVAILING: the asof probe takes the chunked-carry
    path (no single-partition window) and matches brute force."""
    from datetime import datetime, timedelta

    from questdb_spark.operators.window_join import window_join

    base = datetime(2024, 1, 1)
    master = spark.createDataFrame(
        [(i, base + timedelta(minutes=31 * i)) for i in range(30)], ["mid", "ts"]
    )
    slave = spark.createDataFrame(
        [(j, base + timedelta(minutes=4 * j), float(j)) for j in range(200)],
        ["sid", "ts", "v"],
    )
    out = window_join(
        master, slave, "ts", [], "-8 minutes", "8 minutes",
        {"n": F.count(F.col("s.v")), "sv": F.sum(F.col("s.v"))}, "mid",
        include_prevailing=True,
    )
    got = {r["mid"]: (r["n"], r["sv"]) for r in out.collect()}
    for i in range(30):
        mt = 31 * i
        js = [j for j in range(200) if mt - 8 <= 4 * j <= mt + 8]
        prev = [j for j in range(200) if 4 * j < mt - 8]
        if prev:
            js = js + [max(prev)]
        assert got[i] == (len(js), float(sum(js)) if js else None), i


def test_read_parquet_fn_filter_pushdown(spark, tmp_path):
    """Filters written against a read_parquet() table function must reach
    the row-group level of the underlying scan (ParquetRowGroupFilter
    equivalence) — the table function is plan-transparent, not a
    materialization boundary."""
    from questdb_spark.sqlfront.engine import QdbEngine

    p = str(tmp_path / "rp")
    spark.range(1, 1001).selectExpr(
        "id", "cast(id as double) * 1.5 as v"
    ).write.parquet(p)
    eng = QdbEngine(spark)
    df = eng.sql(f"select id, v from read_parquet('{p}') where id > 900")
    assert has_pushed_filter(df, "id")
    cols = read_schema_columns(df)
    assert cols == {"id", "v"} or "id" in cols


def test_corpus_construction_plan_shapes(spark):
    """r6 corpus-construction ops keep the 100 TB shapes: sampling/mixture
    are one-shuffle JVM-only aggregations; sequence packing's final
    aggregation REUSES the window's (stratum, shard) hash partitioning
    (grouping keys are a superset), so the whole pack is ONE shuffle;
    int8 top-k is a shuffle-free TakeOrderedAndProject over a broadcast
    1-row query (its Python is the documented Arrow matmul kernel)."""
    from questdb_spark import queries_pipeline as pl

    for fn, max_sh, allow_py in [
        (pl.stratified_sample_audit, 1, False),
        (pl.sequence_packing, 1, False),
        (pl.mixture_weights_by_source, 1, False),
    ]:
        df = fn(spark, SF_DIR)
        txt = plan_text(df)
        assert shuffle_count(df) <= max_sh, fn.__name__
        if not allow_py:
            assert "BatchEvalPython" not in txt, fn.__name__
        assert "CartesianProduct" not in txt, fn.__name__

    topk = pl.embedding_int8_topk(spark, SF_DIR)
    txt = plan_text(topk)
    assert shuffle_count(topk) == 0
    assert "TakeOrderedAndProject" in txt
    assert "CartesianProduct" not in txt


def test_limit_neg_range_is_top_k(spark):
    """Negative LIMIT ranges: a reversed TakeOrderedAndProject with an
    offset directly over the scan — no global sort materializes, no
    count job runs for the both-negative form."""
    from questdb_spark.queries_sqlfront import sql_limit_neg_range

    df = sql_limit_neg_range(spark, SF_DIR)
    txt = plan_text(df)
    assert "TakeOrderedAndProject" in txt
    assert shuffle_count(df) == 0


def test_implicit_group_by_single_shuffle(spark):
    """Inferred GROUP BY lowers to the same partial→final hash aggregate
    as an explicit clause: exactly one exchange."""
    from questdb_spark.queries_sqlfront import sql_implicit_group_by

    df = sql_implicit_group_by(spark, SF_DIR)
    txt = plan_text(df)
    assert "HashAggregate" in txt
    assert shuffle_count(df) == 1


def test_with_cte_no_extra_shuffle(spark):
    """WITH binding + bare-main: exactly the SAMPLE BY's two exchanges
    (partial→final hash agg, then the range partition for its ts-ordered
    output — QuestDB returns SAMPLE BY in timestamp order); the outer
    filter composes onto the binding without another pass."""
    from questdb_spark.queries_sqlfront import sql_with_cte_bare

    df = sql_with_cte_bare(spark, SF_DIR)
    assert shuffle_count(df) == 2
    assert "BatchEvalPython" not in plan_text(df)


def test_knn_join_broadcast_and_single_window_shuffle(spark):
    """r9 k-NN join plan shape: the query batch joins under BROADCAST
    (BroadcastNestedLoopJoin — the deliberate brute-force baseline, never
    CartesianProduct), and the per-query top-k is ONE window shuffle on
    q_id; the IVF variant joins on cell id (equi-join, broadcast hash)."""
    from questdb_spark.pipeline import similarity
    from questdb_spark.sources.parquet import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    df = similarity.knn_join(emb, queries, k=5)
    txt = plan_text(df)
    assert "BroadcastNestedLoopJoin" in txt
    assert "CartesianProduct" not in txt
    assert "Window" in txt
    cents = similarity.ivf_centroids(emb, n_cells=8)
    ivf = similarity.knn_join_ivf(emb, queries, cents, k=5, n_probe=2)
    t2 = plan_text(ivf)
    assert "BroadcastHashJoin" in t2 or "BroadcastNestedLoopJoin" not in t2
    assert "CartesianProduct" not in t2


def test_near_dup_cap_rides_join_exchange(spark):
    """r9 degree cap plan shape: the md5-ordered row_number window
    partitions on the SAME (band, key) columns the self-join shuffles on,
    so the cap costs an extended sort key, not an extra exchange — and
    nothing compiles to a CartesianProduct."""
    from questdb_spark.pipeline import similarity
    from questdb_spark.sources.parquet import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    df = similarity.cosine_near_dup_pairs(emb, threshold=0.35, dim=64)
    txt = plan_text(df)
    assert "CartesianProduct" not in txt
    assert "Window" in txt  # the cap
    uncapped = similarity.cosine_near_dup_pairs(
        emb, threshold=0.35, dim=64, max_bucket_size=None
    )
    # the cap adds NO exchange over the uncapped plan
    assert shuffle_count(df) == shuffle_count(uncapped)


def test_multimodal_raster_audio_no_shuffle(spark):
    """r10 raster/audio pipelines are pure map chains: synthesize →
    resize/frame → stats runs entirely in mapInPandas with NO Exchange —
    at 100 TB these ops never shuffle, they stream partition-local."""
    from questdb_spark.pipeline import multimodal as mm
    from questdb_spark.sources.parquet import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    raster = mm.raster_stats(mm.resize_image(mm.synthesize_raster(docs), 1, 2, "payload"))
    assert "Exchange" not in plan_text(raster)
    audio = mm.audio_features(mm.synthesize_audio(docs))
    assert "Exchange" not in plan_text(audio)


def test_pq_encode_map_only_and_adc_no_join(spark):
    """r10 PQ plan shapes: encode is a pure projection over plan-literal
    codebooks (no Exchange, no Join — one map pass at any corpus size);
    the ADC scan's only ordering step is the global top-k
    (TakeOrderedAndProject) with no join back to raw vectors."""
    from questdb_spark.pipeline import similarity
    from questdb_spark.sources.parquet import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cbs = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(emb, cbs)
    enc_txt = plan_text(codes)
    assert "Exchange" not in enc_txt and "Join" not in enc_txt
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(similarity.quantize(F.col("embedding")).alias("q"))
        .first()["q"]
    ]
    scan_txt = plan_text(similarity.pq_adc_topk(codes, qv, cbs, k=10))
    assert "Join" not in scan_txt
    assert "TakeOrderedAndProject" in scan_txt


def test_sessionize_single_shuffle(spark):
    """r10 sessionization: lag flag, cumulative session id, and the
    per-session aggregate all ride ONE exchange on the key — the window
    sort and the groupBy share hash partitioning."""
    from questdb_spark.operators.sessions import sessionize
    from questdb_spark.sources.parquet import load_table

    import re

    ev = load_table(spark, SF_DIR, "events")
    txt = plan_text(sessionize(ev, "ts", "user_id", 1800, "event_id"))
    # formatted mode prints every node twice (tree + detail) — count nodes
    assert len(re.findall(r"\(\d+\) Exchange", txt)) == 1, txt


def test_kmeans_iteration_single_shuffle_no_join(spark):
    """r10 k-means training: each Lloyd's iteration is ONE map pass
    (Arrow argmin over plan-shipped centroids) + ONE hash aggregate of
    k*dim cells — no join anywhere, and the only exchange moves k*dim
    partial sums per map task, never data."""
    import re

    from questdb_spark.pipeline import similarity
    from questdb_spark.sources.parquet import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = similarity.ivf_centroids(emb, n_cells=8)
    cd = similarity._cell_dist_udf(cents)
    q = emb.select(
        F.col("embedding").alias("__v"),
        similarity.quantize(F.col("embedding")).alias("__q"),
    )
    stats = (
        q.select(cd(F.col("__v")).alias("__a"), F.posexplode("__q"))
        .groupBy(F.col("__a.cell").alias("cell"), F.col("pos"))
        .agg(F.sum("col").alias("s"), F.count("*").alias("cnt"))
    )
    txt = plan_text(stats)
    assert "Join" not in txt
    assert len(re.findall(r"\(\d+\) Exchange", txt)) == 1, txt
    assert "HashAggregate" in txt  # partial+final: map-side combine


def test_catalogue_fns_are_local_relations(spark):
    """r11 lifecycle-perf invariant: catalogue table functions compile to
    LocalTableScan (an inline VALUES relation folded by the optimizer) —
    never a python createDataFrame RDD scan, whose per-view schema
    inference + RDD job cost ~0.4s and dominated every multi-function
    lifecycle query."""
    from questdb_spark.sqlfront.engine import QdbEngine

    eng = QdbEngine(spark)
    eng.sql(
        "CREATE TABLE plancat (ts TIMESTAMP, x INT) "
        "TIMESTAMP(ts) PARTITION BY DAY"
    )
    eng.sql("INSERT INTO plancat VALUES ('2024-01-01T00:00:00', 1)")
    for q in (
        "SELECT * FROM table_writer_metrics()",
        "SELECT * FROM writer_pool()",
        "SELECT * FROM reader_pool()",
        "SELECT * FROM table_storage()",
        "SELECT * FROM tables()",
        "SELECT * FROM wal_transactions('plancat')",
    ):
        txt = plan_text(eng.sql(q))
        assert "Scan ExistingRDD" not in txt, (q, txt)
        assert "LocalTableScan" in txt or "LocalRelation" in txt or (
            "Scan OneRowRelation" in txt
        ), (q, txt)


def test_streaming_join_twins_single_stateful_shuffle(spark):
    """The stream-stream join family's scale invariant: each twin lowers
    to ONE keyed exchange feeding one FlatMapGroupsInPandasWithState —
    the layout a 1000-executor stateful job wants (state partitioned by
    the join key, no second shuffle)."""
    import re

    from questdb_spark.streaming.stateful import (
        streaming_asof_join,
        streaming_horizon_join,
        streaming_lt_join,
        streaming_splice_join,
        streaming_window_join,
    )

    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .select(
            (F.col("value") % 3).cast("string").alias("k"),
            F.col("timestamp").alias("ts"),
            F.col("value").cast("double").alias("v"),
        )
    )
    m = rate.select("k", "ts")
    s = rate.select("k", "ts", "v")
    mv = rate.select("k", "ts", F.col("v").alias("mval"))
    twins = {
        "asof": streaming_asof_join(mv, s, "ts", ["k"], ["v"]),
        "lt": streaming_lt_join(mv, s, "ts", ["k"], ["v"]),
        "splice": streaming_splice_join(mv, s, "ts", ["k"]),
        "window": streaming_window_join(m, s, "ts", ["k"], "v", -30, 30),
        "horizon": streaming_horizon_join(m, s, "ts", ["k"], "v", [0, 30]),
    }
    for name, df in twins.items():
        txt = plan_text(df)
        n_ex = len(re.findall(r"\(\d+\) Exchange", txt))
        assert n_ex == 1, (name, n_ex, txt)
        assert "FlatMapGroupsInPandasWithState" in txt, (name, txt)


def test_retrieval_hybrid_rrf_plan(spark):
    """Hybrid RRF (r12): both candidate cuts must lower to
    TakeOrderedAndProject (never a global row_number over the corpus —
    the rank windows run on the <=50-row cut), the fusion join of two
    50-row sets must not be a CartesianProduct, and no Python reaches
    the hot path (the quantized dot is a Catalyst HOF)."""
    from questdb_spark.queries_pipeline import retrieval_hybrid_rrf

    df = retrieval_hybrid_rrf(spark, SF_DIR)
    txt = plan_text(df)
    assert txt.count("TakeOrderedAndProject") >= 2, txt
    assert "BatchEvalPython" not in txt
    assert "CartesianProduct" not in txt


def test_cluster_balanced_sample_plan(spark):
    """Cluster-balanced sampling (r12): assignment must stay an Arrow
    map pass (no row-at-a-time Python, no join against a centroid
    table), and the whole query is at most the cap window's exchange
    plus the final order — never a CartesianProduct."""
    from questdb_spark.queries_pipeline import cluster_balanced_sample

    df = cluster_balanced_sample(spark, SF_DIR)
    txt = plan_text(df)
    assert "BatchEvalPython" not in txt  # ArrowEvalPython only
    assert "CartesianProduct" not in txt
    assert shuffle_count(df) <= 2, txt  # cap window + final sort


def test_r12_pipeline_ops_plans(spark):
    """r12 additions keep the 100 TB shapes: DSIR's bucket distributions
    come back as broadcast joins (never a shuffle join against the token
    explode), and the dedup/audit/re-rank compositions stay JVM-side
    with no cartesian products."""
    from questdb_spark import queries_pipeline as pl

    dsir = pl.dsir_importance_weights(spark, SF_DIR)
    txt = plan_text(dsir)
    assert "BroadcastHashJoin" in txt
    assert "BatchEvalPython" not in txt and "CartesianProduct" not in txt

    for fn in (
        pl.dedup_containment,
        pl.corpus_split_leakage,
        pl.dedup_keep_best,
        pl.embedding_ann_pq_rerank,
    ):
        txt = plan_text(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in txt, fn.__name__
        assert "CartesianProduct" not in txt, fn.__name__


def test_ohlc_single_shuffle(spark):
    """OHLC candles = ONE bucketed aggregate: a single exchange
    (partial->final agg on (event_type, bucket)), no Python."""
    from questdb_spark.queries_timeseries import ohlc_1h

    df = ohlc_1h(spark, SF_DIR)
    assert shuffle_count(df) == 1
    assert "BatchEvalPython" not in plan_text(df)


def test_r13_retrieval_classifier_plans(spark):
    """r13 additions keep the 100 TB shapes: BM25's corpus stats come
    back as a broadcast (1-row nested-loop, never a shuffle join) and
    the cut is TakeOrderedAndProject; PRF's re-score joins the 9-term
    weight table broadcast; NB training's totals come back broadcast and
    nothing is Python row-at-a-time; the perceptron feature build stays
    one exchange chain with no cartesian product."""
    from questdb_spark import queries_pipeline as pl
    from questdb_spark.pipeline import classify
    from questdb_spark.sources.parquet import load_table

    bm = pl.retrieval_bm25_topk(spark, SF_DIR)
    txt = plan_text(bm)
    assert "TakeOrderedAndProject" in txt, txt
    assert "BatchEvalPython" not in txt and "CartesianProduct" not in txt

    prf = pl.retrieval_prf_expand(spark, SF_DIR)
    txt = plan_text(prf)
    assert "BroadcastHashJoin" in txt, txt
    assert "TakeOrderedAndProject" in txt, txt
    assert "BatchEvalPython" not in txt and "CartesianProduct" not in txt

    nb = pl.classifier_nb_train(spark, SF_DIR)
    txt = plan_text(nb)
    assert "BatchEvalPython" not in txt and "CartesianProduct" not in txt

    docs = load_table(spark, SF_DIR, "documents")
    feats = classify.hashed_features(docs)
    txt = plan_text(feats)
    assert "BatchEvalPython" not in txt and "CartesianProduct" not in txt
