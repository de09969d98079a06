"""Scale-hardening tests for the near-dup path: stop-shingle guard,
LSH-prefiltered exact Jaccard, parameterized MinHash/SimHash."""

from __future__ import annotations

from pyspark.sql import functions as F

from questdb_spark.pipeline import dedup
from questdb_spark.sources.parquet import load_table

from .conftest import SF_DIR


def _pairs_set(df):
    return {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in df.collect()}


def test_guard_noop_on_cold_data(spark):
    """With the production cap (100k) the guard must not change results on
    data with no hot shingles — guarded path == exact path."""
    docs = load_table(spark, SF_DIR, "documents")
    exact = _pairs_set(
        dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.12, max_shingle_df=None, unsafe_exact=True)
    )
    guarded = _pairs_set(dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.12))
    assert guarded == exact


def test_ungated_exact_requires_acknowledgement(spark):
    """max_shingle_df=None without unsafe_exact=True must raise — the
    ungated exact path is O(df^2) per shingle and must never be reachable
    by accident (VERDICT r6 task 6)."""
    import pytest as _pt

    docs = load_table(spark, SF_DIR, "documents").limit(5)
    with _pt.raises(ValueError, match="unsafe_exact"):
        dedup.ngram_jaccard_pairs(docs, "doc_id", max_shingle_df=None)


def test_guard_drops_hot_shingles(spark):
    """A synthetic hot shingle shared by every doc must be excluded: docs
    that only share the boilerplate produce NO pair under the guard."""
    boiler = "common header boilerplate"
    rows = [(i, f"{boiler} unique{i} text{i} body{i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    unguarded = dedup.ngram_jaccard_pairs(df, "doc_id", threshold=0.01, max_shingle_df=None, unsafe_exact=True)
    guarded = dedup.ngram_jaccard_pairs(df, "doc_id", threshold=0.01, max_shingle_df=5)
    assert unguarded.count() == 20 * 19 // 2  # boilerplate connects everything
    assert guarded.count() == 0


def test_corpus_relative_guard(spark):
    """Corpus-relative stop-shingle guard (r11, the BENCH_SF2_r10
    structural lesson): the cap resolves as max(floor, ceil(frac*n_docs))
    and the frac path must equal the absolute path at the resolved cap."""
    assert dedup.resolve_shingle_guard(500, 0.005) == 3
    assert dedup.resolve_shingle_guard(5000, 0.005) == 25
    assert dedup.resolve_shingle_guard(5000, dedup.MAX_SHINGLE_DF_FRAC) == 2
    assert dedup.resolve_shingle_guard(10, 1e-6) == 2  # floor holds
    boiler = "common header boilerplate"
    rows = [(i, f"{boiler} unique{i} text{i} body{i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # frac 0.25 of 20 docs -> cap 5: same drops as the absolute cap 5
    rel = _pairs_set(
        dedup.ngram_jaccard_pairs(
            df, "doc_id", threshold=0.01, max_shingle_df_frac=0.25
        )
    )
    absolute = _pairs_set(
        dedup.ngram_jaccard_pairs(df, "doc_id", threshold=0.01, max_shingle_df=5)
    )
    assert rel == absolute == {}
    # a cap-tracking fraction keeps true near-dups: frac 1.0 -> cap 20,
    # nothing drops, the boilerplate connects everything
    assert (
        dedup.ngram_jaccard_pairs(
            df, "doc_id", threshold=0.01, max_shingle_df_frac=1.0
        ).count()
        == 20 * 19 // 2
    )


def test_lsh_prefilter_matches_exact_on_candidates(spark):
    """LSH-prefiltered Jaccard returns a subset of the exact pairs, with
    bit-identical jaccard values for every pair it returns; with enough
    bands it finds all high-similarity pairs."""
    docs = load_table(spark, SF_DIR, "documents")
    exact = _pairs_set(
        dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.12, max_shingle_df=None, unsafe_exact=True)
    )
    lsh = _pairs_set(
        dedup.ngram_jaccard_pairs(
            docs, "doc_id", threshold=0.12, lsh_prefilter=True, n_hashes=32, band_size=2
        )
    )
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    # band_size=2 → 16 bands of 2: P(catch | J=0.5) ≈ 1-(1-0.25)^16 ≈ 99%;
    # the sf0.001 near-dups are J≥0.12 clones sharing many shingles
    high = {k for k, v in exact.items() if v >= 0.5}
    assert high <= set(lsh)


def test_minhash_parameterized_defaults(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(30)
    sig = dedup.minhash_signature(docs, "doc_id")  # production: 128 slots
    assert [c for c in sig.columns if c.startswith("h")] == [f"h{i}" for i in range(128)]
    row = sig.limit(1).collect()[0]
    assert all(0 <= row[f"h{i}"] < dedup.MERSENNE_P for i in range(128))
    cand = dedup.minhash_lsh_candidates(docs, "doc_id")  # 16 bands of 8
    assert cand.columns == ["doc_a", "doc_b", "band"]
    cand.count()  # plan executes


def test_simhash_64bit_halves(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    sh = dedup.simhash(docs, "doc_id")  # production: 64-bit
    rows = sh.collect()
    assert all(0 <= r["simhash_hi"] < 2**32 and 0 <= r["simhash_lo"] < 2**32 for r in rows)
    # self-distance is 0; near-dup clones have small distance
    a = sh.alias("a")
    b = sh.alias("b")
    d = (
        a.join(b, F.col("a.doc") == F.col("b.doc"))
        .select(
            dedup.simhash_hamming(
                F.col("a.simhash_hi"), F.col("a.simhash_lo"),
                F.col("b.simhash_hi"), F.col("b.simhash_lo"),
            ).alias("d")
        )
        .agg(F.max("d"))
        .collect()[0][0]
    )
    assert d == 0


def test_simhash_bits_validation(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(5)
    import pytest as _pt

    with _pt.raises(ValueError):
        dedup.simhash(docs, "doc_id", bits=65)
    lo_only = dedup.simhash(docs, "doc_id", bits=16).collect()
    assert all(r["simhash_hi"] == 0 and r["simhash_lo"] < 2**16 for r in lo_only)


# -- similarity / ANN --------------------------------------------------------

def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe LSH candidates are a superset of single-probe: recall vs
    the exact top-k can only improve. Measured on the real embeddings."""
    from questdb_spark.pipeline import similarity as sim
    from questdb_spark.sources.parquet import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    exact = {r["vec_id"] for r in sim.cosine_topk(emb, query, k=10).collect()}
    single = {r["vec_id"] for r in sim.ann_lsh_topk(emb, query, k=10, dim=64).collect()}
    multi = {
        r["vec_id"]
        for r in sim.ann_lsh_topk(emb, query, k=10, dim=64, n_probes=4).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert 0 in multi  # the query itself is always in its own bucket


def test_ivf_probes_only_nearest_cells(spark):
    """IVF: every returned row's cell must be one of the query's n_probe
    nearest cells, and the query vector itself must be found."""
    from questdb_spark.pipeline import similarity as sim
    from questdb_spark.sources.parquet import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    cents = sim.ivf_centroids(emb, n_cells=16)
    assert len(cents) == 16 and all(len(c) == 64 for c in cents)
    out = sim.ann_ivf_topk(emb, query, cents, k=10, n_probe=2).collect()
    cells = {r["cell"] for r in out}
    assert len(cells) <= 2
    assert 0 in {r["vec_id"] for r in out}
    # scores are true cosines: all within [-1, 1], sorted descending
    scores = [r["cosine"] for r in out]
    assert all(-1.000001 <= s <= 1.000001 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_arrow_kernels_equal_hof_reference(spark):
    """The Arrow-vectorized integer kernels (numpy matmul per batch) must be
    BIT-IDENTICAL to the interpreted HOF reference forms on every real
    vector — buckets, band keys, IVF cell assignment, self/pair dots. This
    is what licenses using the fast kernels in the oracle-checked queries."""
    from questdb_spark.pipeline import similarity as sim
    from questdb_spark.sources.parquet import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = sim.ivf_centroids(emb, 16)
    qv = sim.quantize(F.col("embedding"))
    ref = emb.select(
        "vec_id",
        sim.lsh_bucket(qv, 64).alias("b_ref"),
        sim.dot_q(qv, qv).alias("n2_ref"),
        *[sim.band_key(qv, b, 4, 64).alias(f"bk{b}_ref") for b in range(2)],
        sim._nearest_cells(qv, cents, 1)[0].alias("c_ref"),
    )
    ker = emb.select(
        "vec_id",
        sim._bucket_udf(64)(F.col("embedding")).alias("b_k"),
        sim._norm2_udf()(F.col("embedding")).alias("n2_k"),
        sim._band_keys_udf(2, 4, 64)(F.col("embedding")).alias("bks"),
        sim._cell_udf(cents)(F.col("embedding")).alias("c_k"),
        sim._pair_dot_udf()(F.col("embedding"), F.col("embedding")).alias("pd_k"),
    )
    j = ref.join(ker, "vec_id")
    n = j.count()
    assert n > 0
    bad = j.filter(
        (F.col("b_ref") != F.col("b_k"))
        | (F.col("n2_ref") != F.col("n2_k"))
        | (F.col("bk0_ref") != F.col("bks")[0])
        | (F.col("bk1_ref") != F.col("bks")[1])
        | (F.col("c_ref") != F.col("c_k"))
        | (F.col("n2_ref") != F.col("pd_k"))
    ).count()
    assert bad == 0


def test_ngram_contamination_hand_built(spark):
    """Exact overlap fractions on a hand-built corpus/benchmark pair."""
    from questdb_spark.pipeline.dedup import ngram_contamination

    corpus = spark.createDataFrame(
        [
            (1, "a b c d"),      # grams(2): 'a b','b c','c d' — 2 of 3 in bench
            (2, "x y z w"),      # no overlap
            (3, "a b"),          # single gram, fully contaminated
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "a b c"), (101, "q r")], ["doc_id", "text"]
    )
    got = {
        r["doc"]: (r["n_grams"], r["n_hit"], round(r["contamination"], 6))
        for r in ngram_contamination(corpus, bench, "doc_id", n=2).collect()
    }
    assert got == {
        1: (3, 2, round(2 / 3, 6)),
        2: (3, 0, 0.0),
        3: (1, 1, 1.0),
    }


def test_int8_kernel_equals_hof_reference(spark):
    """int8 codes: Arrow kernel self-dot must equal the HOF reference
    (int8_vec + dot_q) on every real vector, and codes stay in [-127, 127]."""
    from questdb_spark.pipeline import similarity as sim
    from questdb_spark.sources.parquet import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    q8 = sim.int8_vec(F.col("embedding"))
    ref = emb.select(
        "vec_id",
        sim.dot_q(q8, q8).alias("n2_ref"),
        F.array_max(F.transform(q8, F.abs)).alias("amax"),
    )
    ker = emb.select(
        "vec_id",
        sim._norm28_udf()(F.col("embedding")).alias("n2_k"),
        sim._pair_dot8_udf()(F.col("embedding"), F.col("embedding")).alias("pd_k"),
    )
    j = ref.join(ker, "vec_id")
    assert j.count() > 0
    assert j.filter(F.col("amax") > 127).count() == 0
    assert j.filter(
        (F.col("n2_ref") != F.col("n2_k")) | (F.col("n2_ref") != F.col("pd_k"))
    ).count() == 0


def test_sequence_packing_invariants(spark):
    """Packing layout invariants per (stratum, shard): bin ids contiguous
    from 0, token totals conserved, first_doc strictly increasing in
    bin_id (docs are laid out in id order)."""
    from questdb_spark.pipeline import sampling, text
    from questdb_spark.sources.parquet import load_table
    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    budget = 256
    out = sampling.pack_sequences(docs, budget=budget, n_shards=4).collect()
    total = docs.select(
        F.sum(F.size(text.tokens_col(F.col("text"))))
    ).collect()[0][0]
    assert sum(r["n_tokens"] for r in out) == total
    by_stream: dict = {}
    for r in out:
        by_stream.setdefault((r["stratum"], r["shard"]), []).append(r)
    for rows in by_stream.values():
        rows.sort(key=lambda r: r["bin_id"])
        assert [r["bin_id"] for r in rows] == list(range(len(rows)))
        firsts = [r["first_doc"] for r in rows]
        assert firsts == sorted(firsts)


def test_stratified_sample_deterministic_rates(spark):
    """The same ids are kept on every run (hash-deterministic), and the
    realized per-stratum rate is within a loose binomial band of the
    configured rate."""
    from questdb_spark.pipeline import sampling
    from questdb_spark.sources.parquet import load_table
    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    rates = {"en": 0.5}
    a = sampling.stratified_sample(docs, rates, default_rate=0.125)
    kept1 = {r["doc_id"] for r in a.filter("kept").select("doc_id").collect()}
    kept2 = {r["doc_id"] for r in a.filter("kept").select("doc_id").collect()}
    assert kept1 == kept2
    en = a.filter(F.col("lang") == "en")
    n = en.count()
    k = en.filter("kept").count()
    if n >= 50:
        assert abs(k / n - 0.5) < 0.25


def test_fused_enum_bound_routes_hot_shingles_chunked(spark):
    """r8 verdict task 2: a shingle with df above the fused-path
    enumeration bound must take the chunked (posexplode) route — same
    results, O(df) per-row memory — while small shingles stay fused."""
    docs = load_table(spark, SF_DIR, "documents")
    baseline = _pairs_set(
        dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.12)
    )
    # force EVERY shingle above the bound: results must be identical
    chunked = _pairs_set(
        dedup.ngram_jaccard_pairs(
            docs, "doc_id", threshold=0.12, fused_enum_bound=1
        )
    )
    assert chunked == baseline
    # plan check: with a tiny bound the chunked branch (posexplode) is in
    # the plan; with a huge bound it is not
    tiny = dedup.ngram_jaccard_pairs(
        docs, "doc_id", threshold=0.12, fused_enum_bound=1
    )
    assert "posexplode" in tiny._jdf.queryExecution().analyzed().toString().lower()


def test_fused_enum_bound_synthetic_hot_shingle(spark):
    """A hand-built corpus where one shingle is shared by MANY docs (df >
    bound) and another by few (df < bound): mixed routing, exact counts."""
    base = "alpha beta gamma"
    rows = [(i, f"{base} doc{i}") for i in range(12)]
    rows += [(100, "delta epsilon zeta eta"), (101, "delta epsilon zeta theta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = _pairs_set(
        dedup.ngram_jaccard_pairs(
            df, "doc_id", threshold=0.01, max_shingle_df=None, unsafe_exact=True
        )
    )
    got = _pairs_set(
        dedup.ngram_jaccard_pairs(
            df, "doc_id", threshold=0.01, max_shingle_df=50, fused_enum_bound=4
        )
    )
    assert got == want


def test_near_dup_two_phase_cap_matches_single_phase(spark):
    """r8 verdict task 3: the two-phase degree cap must select EXACTLY the
    rows the original all-rows row_number cap selected (same md5 order,
    same cap) — verified by comparing capped pair sets at a cap small
    enough to bind on the test corpus."""
    from questdb_spark.pipeline import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    uncapped = similarity.cosine_near_dup_pairs(
        emb, threshold=0.35, dim=64, max_bucket_size=None
    )
    capped = similarity.cosine_near_dup_pairs(
        emb, threshold=0.35, dim=64, max_bucket_size=3
    )
    n_un, n_cap = uncapped.count(), capped.count()
    # the cap binds (drops candidates) and is a subset of the uncapped set
    assert 0 < n_cap < n_un
    un_pairs = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cap_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert cap_pairs <= un_pairs
    # reference single-phase selection, recomputed independently: per
    # (band,key) bucket keep the md5-first `cap` ids; every surviving pair
    # must have both endpoints kept in its bucket
    audit = similarity.near_dup_bucket_audit(
        emb, dim=64, max_bucket_size=3
    )
    assert audit.count() > 0  # cap genuinely binding → audit logs drops


def test_knn_join_ivf_recall_and_exactness(spark):
    """r9 k-NN join: the brute-force form is exact (matches a numpy
    oracle); the IVF-pruned form returns a subset ranked identically,
    with recall >= 0.5 at n_probe=2 on the test corpus; raising n_probe
    to n_cells recovers the exact result."""
    import numpy as np
    from pyspark.sql import functions as F

    from questdb_spark.pipeline import similarity
    from questdb_spark.sources.parquet import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = similarity.knn_join(emb, queries, k=5, exclude_self=True)
    got = {
        (r["q_id"], r["rank"]): r["vec_id"] for r in exact.collect()
    }
    # numpy oracle over quantized vectors
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.vstack([r["embedding"] for r in rows]).astype(np.float64)
    q = np.sign(m * 1000) * np.floor(np.abs(m * 1000) + 0.5)
    norms = np.sqrt(np.einsum("ij,ij->i", q, q))
    for qid in (0, 1, 2):
        qi = int(np.where(ids == qid)[0][0])
        cos = (q @ q[qi]) / np.where(norms * norms[qi] == 0, 1, norms * norms[qi])
        order = sorted(
            [(c, i) for c, i in zip(cos, ids) if i != qid],
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (_, vid) in enumerate(order[:5], start=1):
            assert got[(qid, rank)] == vid, (qid, rank, got[(qid, rank)], vid)
    # IVF-pruned: subset with decent recall, exact at full probe
    cents = similarity.ivf_centroids(emb, n_cells=8)
    ivf = similarity.knn_join_ivf(emb, queries, cents, k=5, n_probe=2)
    ivf_pairs = {(r["q_id"], r["vec_id"]) for r in ivf.collect()}
    exact_pairs = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    # note: ivf may rank different members; recall = overlap fraction
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.5, recall
    full = similarity.knn_join_ivf(emb, queries, cents, k=5, n_probe=8)
    full_pairs = {(r["q_id"], r["vec_id"], r["rank"]) for r in full.collect()}
    # full probe scores every vector except... self-pairs still included
    # in the ivf variant, so compare against exact WITHOUT self-exclusion
    exact_incl = similarity.knn_join(emb, queries, k=5)
    want = {(r["q_id"], r["vec_id"], r["rank"]) for r in exact_incl.collect()}
    assert full_pairs == want


def test_pq_adc_recall_sane(spark):
    """PQ/IVF-PQ are lossy by design — pin a recall floor so a broken
    encode (wrong codes, wrong LUT indexing) fails loudly: the exact
    cosine top-10 and the ADC top-10 must overlap on most of the head.
    Deterministic data + deterministic codebooks -> stable recall."""
    from questdb_spark.pipeline import similarity
    from questdb_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        r.vec_id
        for r in similarity.cosine_topk(
            emb, emb.filter(F.col("vec_id") == 0), k=10
        ).collect()
    }
    cbs = similarity.pq_codebooks(emb)
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(similarity.quantize(F.col("embedding")).alias("q"))
        .first()["q"]
    ]
    pq = {
        r.vec_id
        for r in similarity.pq_adc_topk(
            similarity.pq_encode(emb, cbs), qv, cbs, k=10
        ).collect()
    }
    # the query itself must rank first in both (self-distance 0)
    assert 0 in exact and 0 in pq
    assert len(exact & pq) >= 3, f"ADC recall collapsed: {exact & pq}"


def test_kmeans_train_properties(spark):
    """Lloyd's invariants on real data: (a) exact integer inertia is
    non-increasing across iterations (floor-rounding of centroids can
    only add a bounded constant, so we allow equality but not growth
    beyond the k*dim/4 rounding slack); (b) training moves the centroids
    off the sampled init; (c) every cell id is in range."""
    from questdb_spark.pipeline import similarity
    from questdb_spark.sources.parquet import load_table

    emb = load_table(spark, SF_DIR, "embeddings")

    def inertia(cents):
        from pyspark.sql import functions as F

        cd = similarity._cell_dist_udf(cents)
        row = (
            emb.select(cd(F.col("embedding")).alias("a"))
            .agg(F.sum("a.dist").alias("i"))
            .collect()[0]
        )
        return int(row["i"])

    init = similarity.ivf_centroids(emb, n_cells=8)
    one = similarity.kmeans_train(emb, k=8, iters=1)
    two = similarity.kmeans_train(emb, k=8, iters=2)
    i0, i1, i2 = inertia(init), inertia(one), inertia(two)
    slack = 8 * len(init[0])  # floor-rounding perturbs each coord by <1
    assert i1 <= i0 + slack, (i0, i1)
    assert i2 <= i1 + slack, (i1, i2)
    assert two != init, "training never moved the centroids"
    assert i2 < i0, "two Lloyd's rounds should strictly reduce inertia on real data"


def test_kmeans_empty_cell_keeps_centroid(spark):
    """A centroid that captures nothing must survive the update unchanged
    (the oracle's LEFT JOIN + COALESCE contract).  Seeds 0 and 1 are
    IDENTICAL vectors, so the argmin tie-break sends both to cell 0 and
    cell 1 goes empty on iteration 1."""
    from questdb_spark.pipeline import similarity

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0])] + [
        (10 + i, [5.0, 5.0 + 0.001 * i]) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.kmeans_train(df, k=2, iters=1)
    assert cents[1] == [0, 0], "empty cell must keep its init centroid"
    # report re-assigns against the FINAL centroids: the two origin
    # vectors come back to the untouched cell 1 (dist 0), the cluster
    # stays with the moved cell 0 — and sizes account for every vector
    sizes = {
        r["cell"]: r["size"]
        for r in similarity.kmeans_report(df, cents).collect()
    }
    assert sizes == {0: 4, 1: 2}, sizes


def test_kmeans_matches_python_shadow_fuzz(spark):
    """Multi-seed fuzz: kmeans_train on random integer-grid vectors must
    equal a pure-Python reference that implements the documented rules
    (lowest-id init, argmin-with-lowest-cell ties, floor-mean update,
    empty cells keep centroids) — independently of Spark partitioning."""
    import random

    from questdb_spark.pipeline import similarity

    def py_kmeans(vecs, k, iters):
        ids = sorted(vecs)
        cents = [list(vecs[i]) for i in ids[:k]]
        for _ in range(iters):
            assign = {}
            for i in ids:
                dists = [
                    sum((a - b) ** 2 for a, b in zip(vecs[i], c))
                    for c in cents
                ]
                assign[i] = dists.index(min(dists))  # first min = low cell
            nxt = [list(c) for c in cents]
            for ci in range(k):
                members = [i for i in ids if assign[i] == ci]
                if members:
                    nxt[ci] = [
                        sum(vecs[i][p] for i in members) // len(members)
                        for p in range(len(cents[0]))
                    ]
            cents = nxt
        return cents

    for seed in (7, 23, 1031):
        rng = random.Random(seed)
        n, dim, k, iters = 40, 4, 5, 3
        # values on the /1000 grid so quantization is exact round-trip
        vecs = {
            i: [rng.randint(-3000, 3000) for _ in range(dim)]
            for i in range(n)
        }
        rows = [
            (i, [v / 1000.0 for v in vec]) for i, vec in vecs.items()
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = similarity.kmeans_train(df, k=k, iters=iters)
        want = py_kmeans(vecs, k, iters)
        assert got == want, (seed, got, want)


def test_pq_train_reduces_quantization_error(spark):
    """Per-subspace k-means must cut total quantization error (sum over
    corpus x subspaces of the assigned codeword distance) vs the sampled
    init — the measurable reason to train codebooks at all."""
    import numpy as np

    from questdb_spark.pipeline import similarity
    from questdb_spark.sources.parquet import load_table

    emb = load_table(spark, SF_DIR, "embeddings")

    def total_err(cbs):
        cb = np.array(cbs, dtype=np.int64)
        m, _k, d_sub = cb.shape
        q = np.array(
            [r["q"] for r in emb.select(
                similarity.quantize(F.col("embedding")).alias("q")
            ).collect()],
            dtype=np.int64,
        )
        err = 0
        for s in range(m):
            sub = q[:, s * d_sub:(s + 1) * d_sub]
            d = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(-1)
            err += int(d.min(axis=1).sum())
        return err

    init = similarity.pq_codebooks(emb)
    trained = similarity.pq_train(emb, iters=2)
    e0, e1 = total_err(init), total_err(trained)
    assert e1 < e0, (e0, e1)


def test_verbatim_spans_chunked_route_matches_fused_and_joined(spark):
    """r13 advice (high): the fused verbatim path must bound in-row pair
    enumeration — occurrence lists above least(FUSED_ENUM_BOUND, guard)
    take the chunked posexplode route.  All three routes (ungated
    self-join, fused triangular in-row, forced-chunked) must emit the
    identical span multiset."""
    rows = [
        # 6 docs sharing one verbatim 12-token run (hot fingerprints),
        # plus a disjoint 2-doc overlap and a unique doc
        *[
            (i, "shared run of twelve identical tokens goes right here now "
                f"unique tail {i} filler")
            for i in range(6)
        ],
        (50, "pair overlap alpha beta gamma delta epsilon zeta eta theta end one"),
        (51, "pair overlap alpha beta gamma delta epsilon zeta eta theta end two"),
        (99, "completely different text with no shared spans at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def spans(d):
        return {
            tuple(r)
            for r in d.select(
                "doc_a", "doc_b", "start_a", "start_b", "span_tokens"
            ).collect()
        }

    joined = spans(
        dedup.verbatim_spans(
            df, "doc_id", gram=4, min_span=6, max_fp_occ=None,
            max_fp_occ_frac=None,
        )
    )
    fused = spans(
        dedup.verbatim_spans(
            df, "doc_id", gram=4, min_span=6, max_fp_occ=100,
        )
    )
    chunked = spans(
        dedup.verbatim_spans(
            df, "doc_id", gram=4, min_span=6, max_fp_occ=100,
            fused_enum_bound=1,
        )
    )
    assert joined  # scenario actually produces spans
    assert fused == joined
    assert chunked == joined
    # plan check: the forced-chunked form routes through posexplode
    tiny = dedup.verbatim_spans(
        df, "doc_id", gram=4, min_span=6, max_fp_occ=100, fused_enum_bound=1
    )
    assert "posexplode" in tiny._jdf.queryExecution().analyzed().toString().lower()
    # corpus-relative guard route (the registry default) also agrees
    guarded = spans(dedup.verbatim_spans(df, "doc_id", gram=4, min_span=6))
    assert guarded == joined


def test_fused_sql_route_matches_column_reference(spark):
    """r14: the guarded fused pipeline is rendered as one spark.sql text;
    its results (both metrics, both guard forms) must equal a Column-built
    guarded self-join reference — the shape the SQL text replaced."""
    docs = load_table(spark, SF_DIR, "documents")

    def reference(metric: str, cap: int):
        sh = dedup._shingle_table(docs, "doc_id", "text", 3)
        sh = dedup._drop_hot_shingles(sh, cap)
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
        a, b = sh.alias("a"), sh.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
        if metric == "jaccard":
            jac = F.col("common") / (
                F.col("sz_a") + F.col("sz_b") - F.col("common")
            )
        else:
            jac = F.col("common") / F.least(F.col("sz_a"), F.col("sz_b"))
        sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
        sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
        return (
            common.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", jac.alias(metric))
            .filter(F.col(metric) >= 0.12)
        )

    def as_map(df, metric):
        return {(r["doc_a"], r["doc_b"]): repr(r[metric]) for r in df.collect()}

    n_docs = docs.count()
    frac_cap = dedup.resolve_shingle_guard(n_docs)
    for metric in ("jaccard", "containment"):
        # static-cap guard
        got = as_map(
            dedup.ngram_jaccard_pairs(
                docs, "doc_id", threshold=0.12, metric=metric
            ),
            metric,
        )
        want = as_map(reference(metric, dedup.MAX_SHINGLE_DF), metric)
        assert got == want
        # corpus-relative guard: cap = GREATEST(2, CEIL(frac * n))
        got_f = as_map(
            dedup.ngram_jaccard_pairs(
                docs,
                "doc_id",
                threshold=0.12,
                metric=metric,
                max_shingle_df_frac=dedup.MAX_SHINGLE_DF_FRAC,
            ),
            metric,
        )
        want_f = as_map(reference(metric, frac_cap), metric)
        assert got_f == want_f
