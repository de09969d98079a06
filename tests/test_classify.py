"""Independent checks for the trained-classifier family (r13).

The registry oracles for classifier_* replay the same formulas in SQL, so
(per the test_independent_oracle rationale) these tests recompute training
with NAIVE plain-Python implementations and, for NB, verify the trainer
recovers a PLANTED signal — the validation a training harness actually
needs: a label constructed to be learnable must produce the weight the
math says it should.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from questdb_spark.pipeline import classify
from questdb_spark.sources.parquet import load_table

from .conftest import SF_DIR

P = (1 << 31) - 1


def _bucket(tok: str, d: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % P % d


def _docs(spark):
    return (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text", "lang")
        .toPandas()
        .sort_values("doc_id")
    )


def test_perceptron_trace_vs_naive_python(spark):
    """The distributed batch-perceptron trace (margins -> misclassified ->
    gradient -> update) must equal a plain-Python loop over the same
    hashed features, round by round, weight by weight."""
    d = classify.N_FEATS
    pdf = _docs(spark)
    feats, labels = [], []
    for _, row in pdf.iterrows():
        toks = row["text"].strip().lower().split()
        x = [0] * (d + 1)
        x[d] = 1
        for t in toks:
            x[_bucket(t, d)] += 1
        feats.append(x)
        labels.append(1 if row["lang"] == "en" else -1)

    # naive reference trace
    w = [0] * (d + 1)
    ref_hist, ref_errs = [], []
    for _ in range(classify.ROUNDS):
        g = [0] * (d + 1)
        n = 0
        for x, y in zip(feats, labels):
            m = sum(a * b for a, b in zip(x, w))
            if y * m <= 0:
                n += 1
                for j in range(d + 1):
                    g[j] += y * x[j]
        for j in range(d + 1):
            w[j] += g[j]
        ref_hist.append(list(w))
        ref_errs.append(n)

    docs = load_table(spark, SF_DIR, "documents")
    sf = classify.hashed_features(docs, n_feats=d)
    lab = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    hist, errs = classify.perceptron_train(sf, lab, rounds=classify.ROUNDS)
    assert errs == ref_errs
    assert hist == ref_hist


def test_nb_recovers_planted_signal(spark):
    """Train NB on a label PLANTED in the text (doc contains the token
    'spark'): the bucket 'spark' hashes into must get the strictly
    largest positive weight — every positive doc contains it, so its
    smoothed likelihood ratio dominates every other bucket's."""
    d = classify.N_FEATS
    docs = load_table(spark, SF_DIR, "documents")
    from questdb_spark.pipeline.text import tokens_col

    labels = docs.select(
        "doc_id",
        F.when(
            F.array_contains(tokens_col(F.col("text")), "spark"), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    model = classify.nb_train(docs, labels, n_feats=d).toPandas()
    spark_bucket = _bucket("spark", d)
    buckets = model[model["feature"] < d].set_index("feature")["weight"]
    top = buckets.astype(float).idxmax()
    assert top == spark_bucket
    assert float(buckets[spark_bucket]) > 0


def test_nb_weights_vs_naive_python(spark):
    """NB counts must match a plain-Python tally exactly and weights must
    match a naive math.log recomputation to the decimal quantum."""
    d = classify.N_FEATS
    pdf = _docs(spark)
    np_, nn_ = [0] * d, [0] * d
    tp = tn = dp = dn = 0
    for _, row in pdf.iterrows():
        y = 1 if row["lang"] == "en" else -1
        toks = row["text"].strip().lower().split()
        if y == 1:
            dp += 1
        else:
            dn += 1
        for t in toks:
            j = _bucket(t, d)
            if y == 1:
                np_[j] += 1
                tp += 1
            else:
                nn_[j] += 1
                tn += 1

    docs = load_table(spark, SF_DIR, "documents")
    labels = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    model = (
        classify.nb_train(docs, labels, n_feats=d)
        .toPandas()
        .sort_values("feature")
        .reset_index(drop=True)
    )
    for j in range(d):
        row = model.iloc[j]
        assert int(row["n_pos"]) == np_[j]
        assert int(row["n_neg"]) == nn_[j]
        ref = math.log(
            ((np_[j] + 1) * (tn + d)) / ((nn_[j] + 1) * (tp + d))
        )
        assert abs(float(row["weight"]) - ref) <= 1.5e-6
    prior = model.iloc[d]
    assert int(prior["n_pos"]) == dp and int(prior["n_neg"]) == dn
    assert abs(float(prior["weight"]) - math.log(dp / dn)) <= 1.5e-6


def test_nb_score_exact_decimal(spark):
    """Serving is exact-decimal: score must equal the Decimal-arithmetic
    recomputation bit-for-bit (no float tolerance)."""
    from decimal import Decimal

    d = classify.N_FEATS
    docs = load_table(spark, SF_DIR, "documents")
    labels = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    model = classify.nb_train(docs, labels, n_feats=d)
    scored = (
        classify.nb_score(docs, model, n_feats=d)
        .toPandas()
        .set_index("doc_id")["score"]
    )
    mp = {
        int(r["feature"]): Decimal(str(r["weight"]))
        for _, r in model.toPandas().iterrows()
    }
    pdf = _docs(spark)
    for _, row in pdf.iterrows():
        toks = row["text"].strip().lower().split()
        s = mp[d]
        for t in toks:
            s += mp[_bucket(t, d)]
        assert Decimal(str(scored[row["doc_id"]])) == s


def test_mmr_rerank_vs_naive_numpy(spark):
    """retrieval_mmr_rerank's oracle replays the same quantized greedy,
    so (mirrored-formula rationale) recompute MMR independently: raw
    float64 cosines via numpy, un-quantized greedy.  Picks must agree
    unless a decision gap sits inside the 1e-6 decimal quantum, which we
    assert away for this data."""
    import numpy as np

    from questdb_spark.queries_pipeline import (
        _MMR_KC,
        _MMR_KS,
        retrieval_mmr_rerank,
    )

    got = retrieval_mmr_rerank(spark, SF_DIR).toPandas()
    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    ids = emb["vec_id"].to_numpy()
    m = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
    q = np.sign(m[ids == 0] * 1000) * np.floor(np.abs(m[ids == 0] * 1000) + 0.5)
    qm = np.sign(m * 1000) * np.floor(np.abs(m * 1000) + 0.5)
    rel = (qm @ q.T).ravel() / (
        np.sqrt((qm * qm).sum(axis=1)) * np.sqrt((q * q).sum())
    )
    order = np.lexsort((ids, -rel))[:_MMR_KC]
    cand = ids[order]
    crel = {int(i): rel[np.where(ids == i)[0][0]] for i in cand}
    cm = {int(i): qm[np.where(ids == i)[0][0]] for i in cand}

    def cos(a, b):
        return (cm[a] @ cm[b]) / (
            np.sqrt(cm[a] @ cm[a]) * np.sqrt(cm[b] @ cm[b])
        )

    picked = []
    remaining = sorted(int(i) for i in cand)
    for _ in range(_MMR_KS):
        best, best_m = None, None
        for d in remaining:
            if picked:
                mm = crel[d] - max(cos(d, s) for s in picked)
            else:
                mm = crel[d]
            if best_m is None or mm > best_m + 1e-9:
                best, best_m = d, mm
        picked.append(best)
        remaining.remove(best)

    got = got.sort_values("rank")
    assert list(got["vec_id"]) == picked
    # the engine's decimal-quantized scores sit within the quantum of the
    # naive float recomputation
    for r, d in zip(got.itertuples(index=False), picked):
        naive = (
            crel[d]
            if r.rank == 1
            else crel[d] - max(cos(d, s) for s in picked[: r.rank - 1])
        )
        assert abs(r.mmr - naive) <= 2e-6


def test_retrieval_table_fn_edges(spark):
    """bm25_topk()/classify_nb() table-function argument contract: a
    missing terms literal and a missing lang column must error clearly;
    the happy path must equal the library route on the same params."""
    from questdb_spark.sqlfront.engine import QdbEngine

    eng = QdbEngine(spark)
    docs = load_table(spark, SF_DIR, "documents")
    eng.register("documents", docs)
    eng.register("nolang", docs.select("doc_id", "text"))

    with pytest.raises(ValueError, match="query-terms"):
        eng.sql("SELECT * FROM bm25_topk('documents')")
    with pytest.raises(ValueError, match="lang"):
        eng.sql("SELECT * FROM classify_nb('nolang', 'en')")

    got = (
        eng.sql("SELECT * FROM bm25_topk('documents', 'spark table', 5)")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    from questdb_spark.queries_pipeline import _bm25_scored

    want = (
        _bm25_scored(docs, terms=("spark", "table"))
        .select("doc_id", "score")
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(5)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["score"]) == list(want["score"])


def test_bm25_random_corpus_vs_naive(spark):
    """BM25 on seeded random corpora vs a plain-Python recomputation —
    independent of the mirrored SQL oracle, and covering the edges the
    fixed corpus lacks (single-token docs, repeated-token docs, query
    terms with df=0).  Scores must agree to the idf decimal quantum."""
    import random

    from questdb_spark.queries_pipeline import _bm25_scored

    rng = random.Random(1307)
    vocab = ["aa", "bb", "cc", "dd", "ee", "zz"]
    for _round in range(3):
        docs = []
        for i in range(30):
            n = rng.choice([1, 1, 2, 5, 12])
            docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
        # 'qq' never occurs: the df=0 idf branch
        terms = ("aa", "dd", "qq")
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = (
            _bm25_scored(df, terms=terms)
            .select("doc_id", "score")
            .toPandas()
            .set_index("doc_id")["score"]
        )
        toks = {i: t.split() for i, t in docs}
        n_docs = len(docs)
        sum_dl = sum(len(t) for t in toks.values())
        avgdl = sum_dl / n_docs
        for i, t in toks.items():
            s = 0.0
            for term in terms:
                dft = sum(1 for tt in toks.values() if term in tt)
                idf = math.log(1.0 + (n_docs - dft + 0.5) / (dft + 0.5))
                idf = round(idf, 6)  # the DECIMAL(18,6) quantum
                tf = sum(1 for x in t if x == term)
                s += (idf * (tf * 2.2)) / (
                    tf + 1.2 * (0.25 + 0.75 * (len(t) / avgdl))
                )
            assert abs(float(got[i]) - s) <= 5e-6, (i, float(got[i]), s)


def test_bigram_lm_random_corpus_vs_naive(spark):
    """Bigram-LM nll on seeded random corpora vs plain Python: exact
    bigram counts, per-doc sums to the decimal quantum; docs with <2
    tokens are absent."""
    import random
    from collections import Counter

    from questdb_spark.pipeline.text import bigram_lm_nll_sql

    rng = random.Random(1309)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = []
    for i in range(25):
        n = rng.choice([1, 2, 3, 8])
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = bigram_lm_nll_sql(df).toPandas().set_index("doc_id")

    toks = {i: t.split() for i, t in docs}
    uni = Counter(x for t in toks.values() for x in t)
    bi = Counter(
        (t[j], t[j + 1]) for t in toks.values() for j in range(len(t) - 1)
    )
    v = len(uni)
    for i, t in toks.items():
        pairs = [(t[j], t[j + 1]) for j in range(len(t) - 1)]
        if not pairs:
            assert i not in got.index
            continue
        ref = sum(
            round(math.log((uni[a] + v) / (bi[(a, b)] + 1)), 6)
            for a, b in pairs
        )
        row = got.loc[i]
        assert int(row["n_bigrams"]) == len(pairs)
        assert abs(float(row["sum_nll"]) - ref) <= len(pairs) * 2e-6


def test_mmr_driver_sims_match_spark_expressions(spark):
    """The r14 single-pass mmr_rerank computes the k x k pairwise
    DECIMAL(18,6) cosines on the driver instead of via the broadcast
    self-join.  Pin bit-identity of that arithmetic against the original
    Spark expressions (int64 pair-dot UDF, JVM sqrt/division, Cast to
    decimal) over the real shortlist at this SF."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    from questdb_spark.pipeline import similarity as S

    emb = load_table(spark, SF_DIR, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    cand = S.cosine_topk(emb, query, k=20, keep_vec=True)
    rows = cand.select(
        F.col("vec_id").alias("__i"), F.col("embedding").alias("__v")
    ).collect()

    # Spark-expression reference (the pre-r14 plan shape)
    pair, n2 = S._pair_dot_udf(), S._norm2_udf()
    cv = spark.createDataFrame(
        [(r["__i"], r["__v"]) for r in rows], "i bigint, v array<float>"
    )
    a = cv.select(F.col("i").alias("ia"), F.col("v").alias("va"))
    b = cv.select(F.col("i").alias("ib"), F.col("v").alias("vb"))
    ref = {
        (r["ia"], r["ib"]): r["s"]
        for r in a.crossJoin(F.broadcast(b))
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            (
                pair(F.col("va"), F.col("vb"))
                / (F.sqrt(n2(F.col("va"))) * F.sqrt(n2(F.col("vb"))))
            )
            .cast("decimal(18,6)")
            .alias("s"),
        )
        .collect()
    }

    # driver-side twin (the mmr_rerank r14 path)
    qvecs = {
        r["__i"]: S._quant_np(pd.Series([np.array(r["__v"], dtype=np.float64)]))[0]
        for r in rows
    }
    six = Decimal("0.000001")
    for ia, va in qvecs.items():
        na = math.sqrt(int(va @ va))
        for ib, vb in qvecs.items():
            if ia == ib:
                continue
            s = int(va @ vb) / (na * math.sqrt(int(vb @ vb)))
            got = Decimal(repr(s)).quantize(six, rounding=ROUND_HALF_UP)
            assert got == ref[(ia, ib)], (ia, ib, got, ref[(ia, ib)])


def test_ann_score_table_matches_route_kernels(spark):
    """r14 fused recall report: the single ann_score_table pass must
    reproduce the single-purpose kernels' values exactly — bucket
    (_bucket_udf), sampled/trained cells (_cell_udf), ADC (pq_encode +
    JVM LUT), dot/n2 (_pair_dot_udf/_norm2_udf vs the raw query)."""
    from questdb_spark.pipeline import similarity as S
    from questdb_spark.queries_pipeline import _kmeans_cached

    emb = load_table(spark, SF_DIR, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    cents = S.ivf_centroids(emb, n_cells=16)
    cbs = S.pq_codebooks(emb)
    qv = [
        int(x)
        for x in query.select(S.quantize(F.col("embedding")).alias("q"))
        .first()["q"]
    ]
    tcents = _kmeans_cached(spark, SF_DIR)
    fused = {
        r["vec_id"]: r
        for r in S.ann_score_table(emb, qv, cents, tcents, cbs, dim=64).collect()
    }

    bud = S._bucket_udf(64)
    cu, tcu = S._cell_udf(cents), S._cell_udf(tcents)
    pair, n2 = S._pair_dot_udf(), S._norm2_udf()
    qdf = F.broadcast(query.select(F.col("embedding").alias("__qv")))
    ref = emb.crossJoin(qdf).select(
        "vec_id",
        bud(F.col("embedding")).alias("bucket"),
        cu(F.col("embedding")).alias("cell"),
        tcu(F.col("embedding")).alias("tcell"),
        pair(F.col("embedding"), F.col("__qv")).alias("dot"),
        n2(F.col("embedding")).alias("n2"),
    ).collect()
    for r in ref:
        f = fused[r["vec_id"]]
        for c in ("bucket", "cell", "tcell", "dot", "n2"):
            assert f[c] == r[c], (r["vec_id"], c, f[c], r[c])

    # ADC against the original encode + JVM LUT route
    d_sub = len(cbs[0][0])
    luts = [
        [sum((int(qv[s * d_sub + i]) - int(cw[i])) ** 2 for i in range(d_sub))
         for cw in cb]
        for s, cb in enumerate(cbs)
    ]
    adc_ref = None
    for s, lut in enumerate(luts):
        term = F.element_at(
            F.array(*[F.lit(x).cast("long") for x in lut]),
            F.element_at(F.col("codes"), s + 1) + 1,
        )
        adc_ref = term if adc_ref is None else adc_ref + term
    for r in S.pq_encode(emb, cbs).select("vec_id", adc_ref.alias("adc")).collect():
        assert fused[r["vec_id"]]["adc"] == r["adc"], r["vec_id"]

    # driver-side query helpers vs the kernel on the query row
    q0 = fused[0]
    assert S.query_lsh_bucket(qv, dim=64) == q0["bucket"]
    assert S.query_probe_cells(qv, cents, 1)[0] == q0["cell"]
    assert S.query_probe_cells(qv, tcents, 1)[0] == q0["tcell"]


def test_nb_train_score_matches_separate_train_and_score(spark):
    """r14 fusion: nb_train_score_sql (one shared tokenize pass) must be
    row-identical to the nb_train + nb_score composition it replaces —
    model rows AND per-doc scores, exact decimal equality."""
    docs = load_table(spark, SF_DIR, "documents")
    lab_expr = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1))
    labels = docs.select("doc_id", lab_expr.cast("long").alias("y"))
    want_model = classify.nb_train(docs, labels)
    model_f, scored_f = classify.nb_train_score_sql(
        docs, "CASE WHEN lang = 'en' THEN 1 ELSE -1 END"
    )
    m_want = sorted(map(tuple, want_model.collect()))
    m_got = sorted(map(tuple, model_f.collect()))
    assert m_got == m_want
    want_scored = classify.nb_score(docs, want_model)
    s_want = {r["doc_id"]: r["score"] for r in want_scored.collect()}
    s_got = {r["doc_id"]: (r["y"], r["score"]) for r in scored_f.collect()}
    assert set(s_got) == set(s_want)
    y_ref = {r["doc_id"]: r["y"] for r in labels.collect()}
    for d, (y, sc) in s_got.items():
        assert sc == s_want[d], d
        assert y == y_ref[d], d


def test_nb_train_sql_matches_column_route(spark):
    """r14: the model-only SQL rendering must be row-identical to the
    Column-built nb_train with the same inlined label expression."""
    docs = load_table(spark, SF_DIR, "documents")
    want_df = classify.nb_train(
        docs,
        None,
        label_expr=F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)),
    )
    got_df = classify.nb_train_sql(docs, "CASE WHEN lang = 'en' THEN 1 ELSE -1 END")
    assert got_df.columns == want_df.columns
    assert dict(got_df.dtypes) == dict(want_df.dtypes)
    got = sorted(tuple(map(repr, r)) for r in got_df.collect())
    want = sorted(tuple(map(repr, r)) for r in want_df.collect())
    assert got == want
