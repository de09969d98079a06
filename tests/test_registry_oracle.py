"""Golden tests: every registry query with an oracle must match DuckDB
exactly at the test scale factor (mirrors the driver's t2 gate)."""

from __future__ import annotations

import pytest

from questdb_spark.registry import REGISTRY

from .conftest import SF_DIR, assert_df_matches_oracle

CASES = [(name, fn, sql) for name, (fn, sql) in REGISTRY.items() if sql is not None]


@pytest.mark.parametrize("name,fn,sql", CASES, ids=[c[0] for c in CASES])
def test_query_matches_oracle(spark, ddb, name, fn, sql):
    df = fn(spark, SF_DIR)
    assert_df_matches_oracle(df, ddb, sql)


@pytest.mark.parametrize("name,fn,sql", [(n, f, s) for n, (f, s) in REGISTRY.items() if s is None],
                         ids=[n for n, (f, s) in REGISTRY.items() if s is None])
def test_query_without_oracle_runs(spark, name, fn, sql):
    df = fn(spark, SF_DIR)
    assert df.count() >= 0


def test_dedup_clusters_components(spark):
    """Hand-built graph: two components + an isolated pair; labels must be
    the component minimum."""
    from questdb_spark.pipeline.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12), (3, 7), (20, 21)], ["doc_a", "doc_b"]
    )
    got = {r["doc"]: r["cluster"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 5: 1, 9: 1, 12: 1, 3: 3, 7: 3, 20: 20, 21: 20}


def test_dedup_clusters_over_bound_falls_back_distributed(spark):
    """An edge set over driver_cc_bound must discard the partial collect and
    take the distributed path — same labels either way (r10: the bound check
    is folded into the collect as limit(bound+1))."""
    from questdb_spark.pipeline.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12), (3, 7), (20, 21)], ["doc_a", "doc_b"]
    )
    want = {1: 1, 5: 1, 9: 1, 12: 1, 3: 3, 7: 3, 20: 20, 21: 20}
    for bound in (0, 1):  # 0 skips the collect entirely; 1 collects then discards
        got = {
            r["doc"]: r["cluster"]
            for r in dedup_clusters(pairs, driver_cc_bound=bound).collect()
        }
        assert got == want, (bound, got)


# Spark schemas of the registry queries whose operators are built as SQL
# text.  The oracle compares values through pandas and cannot see a dtype
# drift (e.g. int vs bigint, decimal vs double), so each schema is pinned.
SQL_ROUTE_SCHEMAS = {
    "geohash_events": "struct<event_id:bigint,gh6:string,gh3:string,gh_long:bigint>",
    "cast_matrix": (
        "struct<event_id:bigint,sum256:string,low_long:bigint,nonzero:boolean,"
        "from_long:string,gh6:string,gh_bits27:bigint>"
    ),
    "decimal256_sum": (
        "struct<l_returnflag:string,n:bigint,l0:bigint,l1:bigint,l2:bigint,"
        "l3:bigint,wide_str:string>"
    ),
    "decimal256_div": "struct<d:bigint,n:bigint,sum_r:bigint,sum_hash:bigint>",
    "window_groups_exclude": (
        "struct<event_id:bigint,user_id:bigint,m:timestamp,sum_groups:double,"
        "sum_excl_cur:double,sum_excl_grp:double,sum_excl_ties:double,"
        "min_groups:double,min_excl_cur:double,max_excl_ties:double,"
        "cnt_excl_grp:bigint>"
    ),
    "regr_bit_aggs": (
        "struct<l_returnflag:string,n:bigint,regr_slope_pq:double,"
        "regr_intercept_pq:double,regr_r2_pq:double,wstddev_price:double,"
        "band_part:bigint,bor_part:bigint,bxor_part:bigint,distinct_status:string,"
        "is_ordered_shipdate:boolean>"
    ),
    "array_ops2": (
        "struct<vec_id:bigint,sort_asc5:string,sort_desc5:string,sd_samp:double,"
        "sd_pop:double,cnt:int,shift2:string,shift_m2:string,rev5:string,"
        "pos3:bigint,pos_missing:bigint,ipa0:int,rnd1:double,neg1:double,"
        "ssub1:double,sdiv1:double,dim1:int,dim2:int,flat6:string>"
    ),
    "mixture_temperature_sweep": (
        "struct<alpha:double,domain:string,n_docs:bigint,n_tokens:bigint,"
        "weight:double,boost:double>"
    ),
    "retrieval_hybrid_rrf": "struct<doc_id:bigint,rrf:double,r_lex:int,r_vec:int>",
    "text_quality": (
        "struct<doc_id:bigint,n_tokens:int,n_chars_actual:int,avg_token_len:double,"
        "stopword_ratio_en:double,distinct_token_ratio:double,digit_ratio:double>"
    ),
    "contamination_check": (
        "struct<doc_id:bigint,n_grams:bigint,n_hit:bigint,contamination:double>"
    ),
    "corpus_perplexity_topk": (
        "struct<doc_id:bigint,n_bigrams:bigint,sum_nll:double,avg_nll:double>"
    ),
    "classifier_nb_confusion": (
        "struct<actual:string,pred:string,n:bigint,score_sum:double>"
    ),
}


@pytest.mark.parametrize("name", sorted(SQL_ROUTE_SCHEMAS))
def test_sql_route_schema(spark, name):
    """Analysis only: the built plan's schema, no action."""
    df = REGISTRY[name][0](spark, SF_DIR)
    assert df.schema.simpleString() == SQL_ROUTE_SCHEMAS[name]


@pytest.mark.parametrize(
    "name,key", [("decimal256_sum", "l_returnflag"), ("decimal256_div", "d")]
)
def test_decimal256_output_ordered(spark, name, key):
    """The query ends in ORDER BY on its group key; the order-insensitive
    oracle does not check that."""
    keys = [r[key] for r in REGISTRY[name][0](spark, SF_DIR).collect()]
    assert keys and keys == sorted(keys)
