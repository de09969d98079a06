"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of this module):
- exact dedup = hash + groupBy — one shuffle on a 32-char key;
- near-dup candidate generation NEVER does an all-pairs cross join: both
  the Jaccard and MinHash paths go shingle→explode→equi-join, so cost is
  proportional to shared-shingle pairs, and LSH banding caps the join key
  cardinality. Skewed "stop-shingles" (>`max_shingle_df` occurrences —
  boilerplate, headers, license text) are the classic blow-up: the shingle
  self-join is O(occurrences²) per shingle, so the guard is ON by default
  (`MAX_SHINGLE_DF`); the web-scale route is `lsh_prefilter=True`, which
  generates candidates through MinHash-LSH banding and only then computes
  exact Jaccard on the candidate pairs.
- MinHash derives all `n_hashes` slots from ONE md5 per shingle via
  universal hashing h_i = (a_i·h + b_i) mod p (p = 2³¹−1): one hash +
  k fused multiply-mods per shingle instead of k md5s — at 100 TB the md5
  is the dominant cost, so this is ~`n_hashes`× cheaper than seeded-md5.
  All hashes stay md5-anchored so results are engine-independent and
  deterministic (no JVM hash seeding).

Production defaults: 128 MinHash slots / band size 8 (16 bands → catches
J ≳ 0.7 with high probability), 64-bit SimHash, stop-shingle df cap 100k.
Reference parity: QuestDB has no near-dup operators; this module is the
LLM-training-pipeline extension requested alongside SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import shingles_col, tokens_col

# Mersenne prime 2^31-1: a_i·h + b_i < 2^62 — no BIGINT overflow in Spark
# or DuckDB (DuckDB *throws* on 64-bit overflow, so this bound is load-bearing).
MERSENNE_P = (1 << 31) - 1

N_HASHES = 128  # production default: 128 slots
BAND_SIZE = 8  # → 16 bands
SIMHASH_BITS = 64
MAX_SHINGLE_DF = 100_000  # stop-shingle guard: boilerplate shared by >100k docs
# Corpus-relative guard (r11, the BENCH_SF2_r10 structural lesson): an
# ABSOLUTE df cap is wrong under heavy duplication — replicate a corpus
# 100x and every shingle's occurrence count grows 100x, so a fixed cap
# either stops firing (too high) or drops everything (too low).  The
# production default is therefore a FRACTION of the corpus: a shingle is
# a stop-shingle when it occurs in more than ~1 in 10k documents'
# shingle slots — that tracks duplication by construction.
MAX_SHINGLE_DF_FRAC = 1e-4
# Fused-path IN-ROW pair-enumeration bound (r8 verdict): a shingle with df
# just under MAX_SHINGLE_DF would expand to ~df²/2 structs INSIDE ONE ROW
# (5×10⁹ at the 100k cap — an executor OOM). The drop threshold and the
# in-row expansion bound are different numbers: shingles with df above
# this bound keep their pairs but enumerate them CHUNKED (one output row
# per left element via posexplode, ≤df structs per row) instead of fused.
FUSED_ENUM_BOUND = 1_024


def hash_coeffs(i: int) -> tuple[int, int]:
    """Deterministic universal-hash coefficients (a_i, b_i) for slot i.
    Fixed LCG expansion — no RNG, identical across runs and engines."""
    a = (1103515245 * (i + 1) + 12345) % MERSENNE_P
    b = (69069 * (i + 1) + 1234567) % MERSENNE_P
    return (a or 1, b)


def _shingle_hash_col(shingle: Column) -> Column:
    """First 8 hex chars of md5 → unsigned 32-bit int → mod p. One md5 per
    shingle; every MinHash slot is derived from this value."""
    return F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long") % MERSENNE_P


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups by content hash: md5 → groupBy. Returns one
    row per duplicated hash with the canonical (min) id and the dup count."""
    h = F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def canonicalize_exact(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Stage 0 of every production near-dup pipeline: exact dedup to one
    canonical (min-id) row per distinct text.  Running near-dup on an
    un-exact-deduped corpus turns wholesale duplication into O(occ²)
    shingle joins (the BENCH_SF2_r10 OOM); the staged ordering is
    replication-invariant by construction.  The result is localCheckpoint-
    materialized because the corpus-relative stop-shingle guard counts the
    CANONICAL corpus before the candidate plan is final — without
    materialization that count would re-execute the exact-dedup groupBy a
    second time inside the main pipeline, a full extra shuffle of the
    corpus at 100 TB.  Returns (text_col, id_col)."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col))
        .localCheckpoint(eager=True)
    )


def keep_best_canonical(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """Resolve near-dup clusters to their BEST member: highest quality
    score, ties to the lowest doc id — the keep-policy hook real corpus
    pipelines want (the longest copy usually carries the least
    truncation) instead of min-id canonicalization.  ``clusters`` is
    (doc, cluster) from `dedup_clusters`; ``quality`` is (doc, q).  One
    aggregate over the cluster labels; emits only multi-member clusters
    (singletons are trivially kept)."""
    return (
        clusters.join(quality, "doc")
        .groupBy("cluster")
        .agg(
            # max over (q, -doc): highest quality, ties -> lowest doc id
            F.max_by(
                F.col("doc"), F.struct(F.col("q"), (-F.col("doc")).alias("t"))
            ).alias("keep_doc"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max("q").cast("bigint").alias("best_len"),
        )
        .filter(F.col("n_members") >= 2)
    )


def _spread(df: DataFrame) -> DataFrame:
    """See `text.spread_by_cores` (moved there in r13 so the classifier /
    LM / retrieval modules share the one implementation)."""
    from .text import spread_by_cores

    return spread_by_cores(df)


def _shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    sh = shingles_col(tokens_col(F.col(text_col)), n)
    return _spread(df).select(F.col(id_col).alias("doc"), F.explode(sh).alias("shingle"))


def resolve_shingle_guard(
    n_docs: int, frac: float = MAX_SHINGLE_DF_FRAC, floor: int = 2
) -> int:
    """Corpus-relative stop-shingle cap: ``max(floor, ceil(frac * n_docs))``.
    The floor keeps tiny corpora from dropping every repeated shingle
    (ceil(1e-4 * 500) = 1 would kill ALL near-dup signal); the fraction
    makes the threshold scale with corpus duplication — the structural
    fix for the absolute-cap failure measured in BENCH_SF2_r10
    (``dedup_jaccard_guarded``'s fixed cap of 3 drops every shingle at
    100x replication)."""
    import math

    return max(floor, math.ceil(frac * n_docs))


def _drop_hot_shingles(sh: DataFrame, max_shingle_df: int) -> DataFrame:
    """Remove stop-shingles (occurrence count > max_shingle_df). Occurrence
    count — not distinct-doc count — is the metric that actually bounds the
    self-join blow-up (join pairs per shingle = occurrences²), and it needs
    no distinct expansion: one partial-aggregated count. The hot set is tiny
    by construction (only keys above the cap), so it broadcasts."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > max_shingle_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def _sql_tokens_text(text_col: str) -> str:
    """Spark-SQL text twin of text.tokens_col — same split/lower/trim."""
    return f"split(lower(trim(`{text_col}`)), '\\\\s+')"


def _sql_shingles_text(toks: str, n: int) -> str:
    """Spark-SQL text twin of text.shingles_col — the identical zipped-
    slices n-gram build (same slice bounds, same separator, same empty-
    array fallback type)."""
    m = f"greatest(size({toks}) - {n - 1}, 0)"
    acc = f"slice({toks}, 1, {m})"
    for j in range(1, n):
        acc = (
            f"zip_with({acc}, slice({toks}, {j + 1}, {m}), "
            "(x, y) -> concat(x, ' ', y))"
        )
    return (
        f"CASE WHEN size({toks}) >= {n} THEN array_distinct({acc}) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def _fused_pairs_via_sql(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    metric: str,
    max_shingle_df: int | None,
    frac: float | None,
    fused_enum_bound: int | None,
) -> DataFrame:
    """The guarded fused candidate pipeline as ONE spark.sql call (r14
    opt): shingle lists -> guard filter -> bounded in-row + chunked pair
    enumeration -> common counts -> sizes -> score.  Logically identical
    to the former Column-chain build (same casts, same division types,
    same guard arithmetic — GREATEST(2, CEIL(frac*count)) on the frac
    route); rendering it as SQL text replaces ~1000 py4j round-trips
    (~0.45 s per caller) with one ~40 ms parse.  The input DataFrame
    rides in as a template relation, so no temp view is registered."""
    spark = df.sparkSession
    spread = _spread(df)
    sh_expr = _sql_shingles_text(_sql_tokens_text(text_col), n)
    if frac is not None:
        guard_cte = (
            ",\nguard AS (SELECT greatest(CAST(2 AS BIGINT), "
            f"CAST(ceil(CAST({float(frac)!r} AS DOUBLE) * count(1)) AS BIGINT)) "
            "AS __guard FROM {src})"
        )
        lists_from = "lists0 CROSS JOIN guard"
        guard_ref = "__guard"
        bound_sql = (
            f"CAST({int(fused_enum_bound)} AS BIGINT)"
            if fused_enum_bound is not None
            else f"least(CAST({FUSED_ENUM_BOUND} AS BIGINT), __guard)"
        )
        hint = "/*+ BROADCAST(guard) */ "
    else:
        guard_cte = ""
        lists_from = "lists0"
        guard_ref = f"CAST({int(max_shingle_df)} AS BIGINT)"
        bound_sql = f"CAST({int(fused_enum_bound)} AS BIGINT)"
        hint = ""
    if metric == "jaccard":
        score = "common / (sz_a + sz_b - common)"
    else:  # containment — caller validated
        score = "common / least(sz_a, sz_b)"
    q = f"""
WITH sh AS (
  SELECT `{id_col}` AS doc, explode({sh_expr}) AS shingle FROM {{inp}}
),
lists0 AS (SELECT shingle, collect_list(doc) AS ds FROM sh GROUP BY shingle){guard_cte},
lists AS (
  SELECT {hint}array_sort(ds) AS ds, {bound_sql} AS __b
  FROM {lists_from} WHERE size(ds) <= {guard_ref}
),
small AS (
  SELECT p.a AS a, p.b AS b FROM (
    SELECT explode(filter(flatten(transform(ds, (x, i) ->
      transform(slice(ds, i + 2, size(ds) - i - 1),
      y -> struct(x AS a, y AS b)))), s -> s.a < s.b)) AS p
    FROM lists WHERE size(ds) <= __b
  ) sm
),
big AS (
  SELECT a, b FROM (
    SELECT col AS a, explode(slice(ds, pos + 2, size(ds) - pos - 1)) AS b
    FROM (SELECT ds, posexplode(ds) FROM lists WHERE size(ds) > __b) bx
  ) bp WHERE a < b
),
common_t AS (
  SELECT a AS doc_a, b AS doc_b, count(1) AS common
  FROM (SELECT * FROM small UNION ALL SELECT * FROM big) pr GROUP BY a, b
),
sizes AS (
  SELECT doc, count(1) AS sz
  FROM (SELECT explode(ds) AS doc FROM lists) sx GROUP BY doc
)
SELECT doc_a, doc_b, {metric} FROM (
  SELECT doc_a, doc_b, {score} AS {metric}
  FROM common_t
  JOIN (SELECT doc AS doc_a, sz AS sz_a FROM sizes) sa USING (doc_a)
  JOIN (SELECT doc AS doc_b, sz AS sz_b FROM sizes) sb USING (doc_b)
) sc WHERE {metric} >= CAST({float(threshold)!r} AS DOUBLE)
"""
    if frac is not None:
        return spark.sql(q, inp=spread, src=df)
    return spark.sql(q, inp=spread)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
    lsh_prefilter: bool = False,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    unsafe_exact: bool = False,
    fused_enum_bound: int | None = None,
    max_shingle_df_frac: float | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    Default path: shingle-join candidate generation — |common shingles| per
    pair, then jaccard = common / (|a| + |b| - common). Exact (within the
    shingle representation), with the stop-shingle guard ON by default.

    ``lsh_prefilter=True`` is the web-scale path: candidates come from
    MinHash-LSH banding (`minhash_lsh_candidates`), then exact Jaccard is
    computed ONLY for candidate pairs — the full shingle self-join never
    happens, so a hot shingle costs O(df), not O(df²). Recall is bounded by
    LSH (pairs missed by every band are not scored).

    ``max_shingle_df=None`` (no stop-shingle guard at all) is O(df²) per
    shingle — a deliberate oracle-parity baseline, NEVER a production
    route (21.4× at the 10× scale check). It requires an explicit
    ``unsafe_exact=True`` acknowledgement; without it this raises.

    ``fused_enum_bound`` (default ``FUSED_ENUM_BOUND``): per-shingle df
    above which the guarded fused path switches from in-row pair
    enumeration to chunked (posexplode) enumeration — identical results,
    O(df) instead of O(df²) peak per-row memory.

    ``max_shingle_df_frac``: corpus-RELATIVE guard — the cap becomes
    ``resolve_shingle_guard(count(df), frac)`` so the threshold scales
    with corpus size/duplication (overrides ``max_shingle_df``).  The
    threshold is computed LAZILY as a 1-row broadcast inside the
    candidate plan (GREATEST(floor, CEIL(frac·count)) — the identical
    arithmetic, double-mult then ceil, that `resolve_shingle_guard`
    runs in Python), so no separate count() action runs and the corpus
    aggregate shares the single candidate job (guide §2.4).
    """
    has_frac = max_shingle_df_frac is not None
    if has_frac:
        max_shingle_df = None
    if (
        max_shingle_df is None
        and not has_frac
        and not lsh_prefilter
        and not unsafe_exact
    ):
        raise ValueError(
            "ngram_jaccard_pairs with max_shingle_df=None is the ungated "
            "O(df²) exact baseline; pass unsafe_exact=True to run it "
            "anyway, or use the guarded default / lsh_prefilter=True "
            "for the scale paths"
        )
    if fused_enum_bound is None and not has_frac:
        fused_enum_bound = min(FUSED_ENUM_BOUND, max_shingle_df or FUSED_ENUM_BOUND)
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown metric {metric!r}")
    if not lsh_prefilter and (max_shingle_df is not None or has_frac):
        # Guarded exact path, fused: the guard bounds every shingle's doc
        # list to ≤ max_shingle_df entries, so candidate pairs can be
        # enumerated IN-ROW from one groupBy(shingle) — tokenization runs
        # ONCE (the self-join form recomputes the explode for each join
        # side and again for sizes) and the shingle equi-join disappears.
        #
        # Rendered as ONE spark.sql text (r14 opt, guide §4 driver-side):
        # the Column-chain build of this branch cost ~0.45 s of py4j
        # round-trips (~1000 socket calls) PER CALLER — ten registry
        # queries pay it — while the SQL text parses in ~40 ms.  Every
        # expression mirrors the Column form exactly (same casts, same
        # division types); `test_fused_sql_route_matches_column_reference`
        # pins the row-set equality and the oracle pins end-to-end results.
        return _fused_pairs_via_sql(
            df,
            id_col,
            text_col,
            n,
            threshold,
            metric,
            max_shingle_df=max_shingle_df,
            frac=max_shingle_df_frac,
            fused_enum_bound=fused_enum_bound,
        )
    # --- LSH-prefilter / ungated-exact routes (Column-built; cold paths) ---
    sh = _shingle_table(df, id_col, text_col, n)
    if metric == "jaccard":
        jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    else:  # containment — validated above
        jac = F.col("common") / F.least(F.col("sz_a"), F.col("sz_b"))
    guard_df = None  # lazy 1-row (__guard) corpus-relative threshold
    if has_frac:
        guard_df = df.agg(
            F.greatest(
                F.lit(2).cast("long"),
                F.ceil(
                    F.lit(float(max_shingle_df_frac)) * F.count(F.lit(1))
                ).cast("long"),
            ).alias("__guard")
        )
    if max_shingle_df is not None:
        sh = _drop_hot_shingles(sh, max_shingle_df)
    elif guard_df is not None:
        # lazy threshold on the lsh-prefilter route: same anti-join, the
        # cap attaches as the 1-row broadcast instead of a Python int
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("occ"))
            .crossJoin(F.broadcast(guard_df))
            .filter(F.col("occ") > F.col("__guard"))
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    if lsh_prefilter:
        # one row per colliding band comes back — dedup BEFORE the shingle
        # expansion or duplicated pairs multiply the common counts
        cand = (
            minhash_lsh_candidates(
                df, id_col, text_col, n, n_hashes=n_hashes, band_size=band_size
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        # candidate-restricted shingle join (r2 advice: the previous
        # collect_set-per-doc built unbounded in-row arrays — a multi-MB
        # doc OOMs the row). Expanding candidate pairs by doc_a's shingles
        # and equi-joining (doc_b, shingle) keeps every row fixed-width,
        # every shuffle bounded by Σ_cand |shingles|, and reproduces the
        # exact path's multiset-count semantics bit-for-bit.
        # unique column names on both shingle branches: `sh` appears twice
        # in this plan and Spark's self-join resolution silently binds
        # same-named columns to the wrong side otherwise
        sh_a = sh.select(F.col("doc").alias("doc_a"), F.col("shingle").alias("__sha"))
        sh_b = sh.select(F.col("doc").alias("__db"), F.col("shingle").alias("__shb"))
        common = (
            cand.join(sh_a, "doc_a")
            .join(
                sh_b,
                (F.col("doc_b") == F.col("__db")) & (F.col("__sha") == F.col("__shb")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias(metric))
        .filter(F.col(metric) >= threshold)
    )


VERBATIM_GRAM = 12  # fingerprint width (tokens) for long-span detection
VERBATIM_MIN_SPAN = 20  # report spans of at least this many tokens
# long grams are far rarer than 3-gram shingles, so the hot-fingerprint
# floor sits higher than the shingle guard's floor of 2 — a legitimate
# 12-token quote repeated a handful of times must survive
VERBATIM_OCC_FLOOR = 8


def _verbatim_spans_via_sql(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram: int,
    min_span: int,
    max_fp_occ: int | None,
    frac: float | None,
    fused_enum_bound: int | None,
) -> DataFrame:
    """The guarded fused verbatim-span pipeline as ONE spark.sql call —
    positional fingerprints -> occurrence lists -> guard -> bounded
    triangular pair enumeration -> diagonal run collapse.  Expression-
    for-expression the former Column chain (same casts, same guard and
    bound arithmetic, same window); see verbatim_spans for semantics."""
    spark = df.sparkSession
    spread = _spread(df)
    toks = _sql_tokens_text(text_col)
    if frac is not None:
        guard_cte = (
            ",\nguard AS (SELECT greatest("
            f"CAST({VERBATIM_OCC_FLOOR} AS BIGINT), "
            f"CAST(ceil(CAST({float(frac)!r} AS DOUBLE) * count(1)) AS BIGINT)) "
            "AS __guard FROM {src})"
        )
        occs_from = "occs0 CROSS JOIN guard"
        guard_ref = "__guard"
        bound_sql = (
            f"CAST({int(fused_enum_bound)} AS BIGINT)"
            if fused_enum_bound is not None
            else f"least(CAST({FUSED_ENUM_BOUND} AS BIGINT), __guard)"
        )
        hint = "/*+ BROADCAST(guard) */ "
    else:
        guard_cte = ""
        occs_from = "occs0"
        guard_ref = f"CAST({int(max_fp_occ)} AS BIGINT)"
        eff_bound = (
            int(fused_enum_bound)
            if fused_enum_bound is not None
            else min(FUSED_ENUM_BOUND, int(max_fp_occ))
        )
        bound_sql = f"CAST({eff_bound} AS BIGINT)"
        hint = ""
    q = f"""
WITH grams AS (
  SELECT doc, g.pos AS pos, g.fp AS fp FROM (
    SELECT doc, explode(transform(sequence(1, size(__toks) - {gram} + 1),
      i -> struct(CAST(i AS BIGINT) AS pos,
      md5(array_join(slice(__toks, i, {gram}), ' ')) AS fp))) AS g
    FROM (SELECT `{id_col}` AS doc, {toks} AS __toks FROM {{inp}}) tz
    WHERE size(__toks) >= {gram}
  ) gx
),
occs0 AS (
  SELECT fp, collect_list(struct(doc, pos)) AS os FROM grams GROUP BY fp
){guard_cte},
occs AS (
  SELECT {hint}array_sort(os) AS os, {bound_sql} AS __b
  FROM {occs_from} WHERE size(os) <= {guard_ref}
),
small AS (
  SELECT p.doc_a AS doc_a, p.doc_b AS doc_b, p.pos_a AS pos_a, p.pos_b AS pos_b
  FROM (
    SELECT explode(filter(flatten(transform(os, (x, i) ->
      transform(slice(os, i + 2, size(os) - i - 1),
      y -> struct(x.doc AS doc_a, y.doc AS doc_b,
                  x.pos AS pos_a, y.pos AS pos_b)))),
      s -> s.doc_a < s.doc_b)) AS p
    FROM occs WHERE size(os) <= __b
  ) sm
),
big AS (
  SELECT doc_a, y.doc AS doc_b, pos_a, y.pos AS pos_b FROM (
    SELECT col.doc AS doc_a, col.pos AS pos_a,
           explode(slice(os, pos + 2, size(os) - pos - 1)) AS y
    FROM (SELECT os, posexplode(os) FROM occs WHERE size(os) > __b) bx
  ) bb WHERE doc_a < y.doc
),
m AS (
  SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag
  FROM (SELECT * FROM small UNION ALL SELECT * FROM big) pr
),
isl AS (
  SELECT doc_a, doc_b, diag, pos_a, pos_b,
         pos_a - row_number() OVER (
           PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
  FROM m
)
SELECT doc_a, doc_b, start_a, start_b, span_tokens FROM (
  SELECT doc_a, doc_b,
         CAST(min(pos_a) AS BIGINT) AS start_a,
         CAST(min(pos_b) AS BIGINT) AS start_b,
         CAST(count(1) + {gram - 1} AS BIGINT) AS span_tokens
  FROM isl GROUP BY doc_a, doc_b, diag, island
) f WHERE span_tokens >= {min_span}
"""
    if frac is not None:
        return spark.sql(q, inp=spread, src=df)
    return spark.sql(q, inp=spread)


def verbatim_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    gram: int = VERBATIM_GRAM,
    min_span: int = VERBATIM_MIN_SPAN,
    max_fp_occ: int | None = None,
    max_fp_occ_frac: float | None = MAX_SHINGLE_DF_FRAC,
    fused_enum_bound: int | None = None,
) -> DataFrame:
    """Cross-document verbatim long-span detection — the distributed
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find
    every maximal run of >= ``min_span`` tokens that two different
    documents share verbatim (a 200-token quote inside two otherwise-
    different docs), without materializing a suffix array.

    Method: positional ``gram``-token rolling fingerprints (one md5 per
    position), hot-fingerprint guard (corpus-relative occurrence cap,
    same discipline as the shingle guard), fingerprint equi-join across
    documents, then run collapse on the DIAGONAL: along a shared span,
    ``pos_a - pos_b`` is constant and ``pos_a`` advances by 1, so
    ``pos_a - row_number() OVER (doc_a, doc_b, diag ORDER BY pos_a)`` is
    constant per maximal run (gaps start a new island).  Span length =
    run length + gram - 1 tokens.

    Scale shape: the fingerprint table is O(total tokens); the guard
    bounds every fingerprint's match fan-out to cap² BEFORE the
    equi-join (never all-pairs); the island window partitions by
    (doc_a, doc_b, diag) — each partition is one shared region, tiny by
    construction.  Run it on an exact-deduped (canonicalized) corpus:
    wholesale duplication belongs to `canonicalize_exact`, this operator
    is for PARTIAL verbatim overlap.

    Returns (doc_a, doc_b, start_a, start_b, span_tokens) with 1-based
    token positions, doc_a < doc_b."""
    has_guard = max_fp_occ is not None or max_fp_occ_frac is not None
    if has_guard:
        # Guarded path, FUSED (r13 optimization): the original form ran
        # the fingerprint explode three times — hot-count aggregate plus
        # both sides of the fp self-join, none sharing an exchange.  The
        # guard bounds every fingerprint's occurrence list, so the match
        # pairs can be enumerated IN-ROW from ONE groupBy(fp) — the same
        # discipline as the fused Jaccard path: one tokenize pass, one
        # exchange.  Pair multiset identical to the equi-join.
        #
        # The corpus-relative guard grows with corpus size, so in-row
        # enumeration is additionally bounded (r13 advice: at ~1e9 docs
        # the cap is ~1e5 and an under-cap fingerprint would expand to
        # ~1e10 structs in ONE row — the executor-OOM mode the jaccard
        # fused path chunks around): lists over
        # least(FUSED_ENUM_BOUND, guard) enumerate CHUNKED, one output
        # row per left occurrence via posexplode, O(cap) structs per row,
        # same total pairs.  Occurrence lists are struct-sorted so the
        # TRIANGULAR slice enumerates each unordered pair once (half the
        # structs of the old os×os cross product); sort order is
        # (doc, pos), so slice pairs always have doc_a <= doc_b and only
        # the same-doc diagonal needs filtering.
        #
        # Rendered as ONE spark.sql text (r14 opt, same rule as
        # _fused_pairs_via_sql): the Column-chain build cost ~0.5 s of
        # py4j round-trips; the SQL text parses in ~40 ms.  The window
        # run-collapse and final aggregate ride in the same statement.
        return _verbatim_spans_via_sql(
            df, id_col, text_col, gram, min_span,
            max_fp_occ=max_fp_occ,
            frac=max_fp_occ_frac if max_fp_occ is None else None,
            fused_enum_bound=fused_enum_bound,
        )
    base = _spread(df).select(
        F.col(id_col).alias("doc"), tokens_col(F.col(text_col)).alias("__toks")
    )
    grams = (
        base.filter(F.size("__toks") >= gram)
        .select(
            "doc",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(__toks) - {gram} + 1), "
                    f"i -> struct(CAST(i AS BIGINT) AS pos, "
                    f"md5(array_join(slice(__toks, i, {gram}), ' ')) AS fp))"
                )
            ).alias("g"),
        )
        .select("doc", F.col("g.pos").alias("pos"), F.col("g.fp").alias("fp"))
    )
    a = grams.select(
        F.col("doc").alias("doc_a"), F.col("pos").alias("pos_a"), "fp"
    )
    b = grams.select(
        F.col("doc").alias("doc_b"), F.col("pos").alias("pos_b"), "fp"
    )
    m = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", "pos_b")
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = m.withColumn(
        "island", F.col("pos_a") - F.row_number().over(w)
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").cast("bigint").alias("start_a"),
            F.min("pos_b").cast("bigint").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(gram - 1)).cast("bigint").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination check: for each corpus document, the
    fraction of its DISTINCT word n-grams that appear anywhere in the
    benchmark corpus — the standard n-gram-overlap test-set-contamination
    screen for training data.

    Output: (doc, n_grams, n_hit, contamination) for every corpus doc
    with at least one n-gram.

    Scale: the benchmark's distinct n-gram set is one aggregation; the
    overlap is a single equi-join on the shingle (broadcast when the
    benchmark is small, shuffle otherwise — never all-pairs), and the
    per-doc ratio is one more groupBy.  Rendered as one spark.sql text:
    one parse replaces ~400 py4j round-trips of Column-tree build across
    the two registry callers — r14."""
    sh = _sql_shingles_text(_sql_tokens_text(text_col), n)
    q = f"""
WITH c_sh AS (SELECT `{id_col}` AS doc, explode({sh}) AS shingle FROM {{corp}}),
b_sh AS (
  SELECT DISTINCT shingle
  FROM (SELECT explode({sh}) AS shingle FROM {{bench}}) bsx
),
sizes AS (SELECT doc, count(1) AS n_grams FROM c_sh GROUP BY doc),
hits AS (
  SELECT doc, count(1) AS n_hit FROM c_sh JOIN b_sh USING (shingle) GROUP BY doc
)
SELECT doc, n_grams, coalesce(n_hit, 0) AS n_hit,
       (coalesce(n_hit, 0) / n_grams) AS contamination
FROM sizes LEFT JOIN hits USING (doc)
"""
    return corpus.sparkSession.sql(q, corp=_spread(corpus), bench=_spread(benchmark))


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = N_HASHES,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """MinHash signature: one pass over exploded shingles, `n_hashes`
    min-aggregations (single shuffle; no per-seed explode). One md5 per
    shingle — slots derive via (a_i·h + b_i) mod p, all JVM-side."""
    sh = _shingle_table(df, id_col, text_col, n)
    if max_shingle_df is not None:
        sh = _drop_hot_shingles(sh, max_shingle_df)
    sh = sh.withColumn("__h", _shingle_hash_col(F.col("shingle")))
    # r14 opt (guide §4): at the production n_hashes=128 the Column-built
    # agg list cost ~900 py4j round-trips (~0.35 s per caller); the same
    # plan renders as one spark.sql text. Coefficients are < 2^31 so the
    # INT literal × BIGINT __h promotion matches the Column form exactly.
    slots = []
    for i in range(n_hashes):
        a, b = hash_coeffs(i)
        slots.append(f"min(({a} * __h + {b}) % {MERSENNE_P}) AS h{i}")
    return df.sparkSession.sql(
        f"SELECT doc, {', '.join(slots)} FROM {{sh}} GROUP BY doc", sh=sh
    )


def lsh_band_table(
    sig: DataFrame, n_hashes: int, band_size: int
) -> DataFrame:
    """(doc, band, val) banding of a MinHash signature frame — the '-'
    joined slot concatenation as one spark.sql text (r14 opt: the
    Column-built array-of-structs cost ~200 py4j round-trips)."""
    structs = ", ".join(
        f"struct({b} AS band, concat_ws('-', "
        + ", ".join(f"h{b * band_size + j}" for j in range(band_size))
        + ") AS val)"
        for b in range(n_hashes // band_size)
    )
    return sig.sparkSession.sql(
        "SELECT doc, b.band AS band, b.val AS val FROM "
        f"(SELECT doc, explode(array({structs})) AS b FROM {{sig}}) bt",
        sig=sig,
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = N_HASHES,
    band_size: int = BAND_SIZE,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """LSH banding over the MinHash signature: band value = '-'-joined
    signature slots; docs sharing any band are candidates. Returns distinct
    candidate pairs (doc_a < doc_b, with the matching band id).

    At 1000 executors the (band, val) key IS the partition key of the
    equi-join — no all-pairs stage exists anywhere in the plan."""
    if n_hashes % band_size:
        raise ValueError(f"band_size {band_size} must divide n_hashes {n_hashes}")
    sig = minhash_signature(df, id_col, text_col, n, n_hashes, max_shingle_df)
    bt = lsh_band_table(sig, n_hashes, band_size)
    a = bt.alias("a")
    b = bt.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"), F.col("a.band").alias("band"))
        .distinct()
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash over tokens, up to 64 bits, from ONE md5 per token: each of
    the 32 hex nibbles contributes its top two bits (bit b<32 = nibble b's
    8-bit, bit b>=32 = nibble (b-32)'s 4-bit) — half the hashing cost of a
    second salted md5 at identical bit independence. Document bit = sign of
    the per-bit vote sum. The 64-bit value is returned as two 32-bit halves
    (simhash_hi, simhash_lo) so neither engine's signed BIGINT can overflow;
    hamming distance = bit_count(hi⊕hi') + bit_count(lo⊕lo')
    (`simhash_hamming`). One groupBy with `bits` branch-free integer sums:
    the md5 is parsed ONCE into four 32-bit words and every vote is a
    shift-mask-multiply — no per-bit string ops in the hot loop; map-side
    partial aggregation does the heavy lifting."""
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in [1, 64]")
    toks = _spread(df).select(
        F.col(id_col).alias("doc"), F.explode(tokens_col(F.col(text_col))).alias("tok")
    ).selectExpr(
        "doc",
        # four 8-hex-char words; word g covers nibbles 8g..8g+7, first char
        # most significant (matches the positional substring semantics)
        *[f"CAST(conv(substring(md5(tok), {8 * g + 1}, 8), 16, 10) AS BIGINT) AS h{g}"
          for g in range(4)],
    )

    # SWAR vote packing (replaces r2's 64 independent SUM expressions — the
    # plan-build + codegen cost of that 256-node tree was the round-2 2×
    # perf regression; expressions are generated as SQL strings so plan
    # construction is one py4j call each, not hundreds). Per 32-bit md5
    # word w, the eight per-nibble vote bits land on a 4-stride comb:
    # (w >> 3) & 0x11111111 (the nibbles' 8-bits, simhash bits b<32) and
    # (w >> 2) & 0x11111111 (their 4-bits, b>=32). Comb bits 4k and 4k+16
    # are already 16-bit-lane aligned, so (comb >> 4k) & 0x00010001 is a
    # packed PAIR of counters; two words' pairs combine into one 64-bit
    # accumulator with 4 lanes. Aggregation state: 16 long sums + one count
    # instead of 64 sums. Lanes are non-negative and each lane total < 2^16
    # while a doc has < 65536 tokens, so lane sums never carry into
    # neighbors — exact. Bit b's vote sum is 2·set_b − n > 0 ⟺ 2·set_b > n,
    # so only set-bit counts accumulate.
    COMB, PAIR = 0x11111111, 0x00010001
    packed_exprs: list[str] = []
    lane_of: dict[int, tuple[str, int]] = {}  # simhash bit → (sum col, lane)
    for parity, shift in ((0, 3), (1, 2)):  # parity 0: b<32, parity 1: b>=32
        combs = [f"(shiftright(h{g}, {shift}) & {COMB})" for g in range(4)]
        for g0, g1 in ((0, 1), (2, 3)):
            for k in range(4):
                name = f"p{parity}_{g0}_{k}"
                packed_exprs.append(
                    f"SUM((shiftright({combs[g0]}, {4 * k}) & {PAIR})"
                    f" + shiftleft(shiftright({combs[g1]}, {4 * k}) & {PAIR}, 32))"
                    f" AS {name}"
                )
                # comb position 4j holds nibble 7-j (nibble 0 is the word's
                # most significant); lanes use comb positions 4k and
                # 4(k+4), i.e. nibbles 7-k and 3-k; +32 for parity 1
                for lane, g, nib in ((0, g0, 7 - k), (1, g0, 3 - k), (2, g1, 7 - k), (3, g1, 3 - k)):
                    b = 32 * parity + 8 * g + nib
                    lane_of[b] = (name, lane)
    agg = toks.groupBy("doc").agg(
        *[F.expr(e) for e in packed_exprs], F.count(F.lit(1)).alias("n")
    )

    def set_count(b: int) -> str:
        name, lane = lane_of[b]
        return f"(shiftright({name}, {16 * lane}) & 65535)"

    def half(lo_bit: int, hi_bit: int) -> str:
        terms = " + ".join(
            f"IF({set_count(b)} * 2 > n, {1 << (b - lo_bit)}L, 0L)"
            for b in range(lo_bit, min(hi_bit, bits))
        )
        return f"CAST({terms or '0'} AS BIGINT)"

    return agg.selectExpr(
        "doc", f"{half(32, 64)} AS simhash_hi", f"{half(0, 32)} AS simhash_lo"
    )


def simhash_hamming(hi_a: Column, lo_a: Column, hi_b: Column, lo_b: Column) -> Column:
    """Hamming distance between two hi/lo simhash pairs (JVM bit_count)."""
    return F.bit_count(hi_a.bitwiseXOR(hi_b)) + F.bit_count(lo_a.bitwiseXOR(lo_b))


# Driver union-find bound for dedup_clusters: edge sets at or below this
# collect to the driver (2 ids/edge; 5M edges ≈ tens of MB) and resolve
# in O(E α(E)) — microseconds-per-edge, zero shuffle rounds. Above it the
# distributed log-rounds loop runs instead.
DRIVER_CC_BOUND = 5_000_000


def _stats_barrier(df: DataFrame) -> DataFrame:
    """localCheckpoint + strip inherited plan statistics.

    ``localCheckpoint`` alone carries the checkpointed plan's estimated
    ``sizeInBytes`` into the new LogicalRDD (originStats).  A self-join's
    estimate is the PRODUCT of its inputs, so in an iterative
    join-checkpoint loop the BigInt's bit length DOUBLES every round —
    by round ~10 the driver spends minutes in BigInteger.multiply doing
    statistics arithmetic (measured: 0.2s → 66s per round at a constant
    1393 rows).  Rewrapping the materialized RDD without originStats
    resets the estimate to the session default each round, keeping stats
    arithmetic O(1).  Falls back to the plain checkpoint where the
    internal constructor isn't reachable (Spark Connect)."""
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        spark = ck.sparkSession
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(new_jdf, spark)
    except Exception:
        return ck


def dedup_clusters(
    pairs: DataFrame,
    max_iterations: int = 40,
    driver_cc_bound: int = DRIVER_CC_BOUND,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into clusters: connected components —
    each doc converges to the smallest doc id in its component (the
    canonical document).

    Input: (doc_a, doc_b) candidate pairs (from `ngram_jaccard_pairs` or
    `minhash_lsh_candidates`). Output: (doc, cluster) for every doc that
    appears in a pair.

    Two-path design (r9): the PAIR set is the output of banded/thresholded
    candidate generation — orders of magnitude smaller than the corpus.
    When it fits the driver bound, exact union-find resolves it in one
    collect + one parallelize: zero iterative shuffles, exact O(E α(E)).
    Larger graphs take the distributed loop: min-label propagation
    interleaved with pointer jumping (path halving,
    ``label := min(label, label[label])`` twice per round), which
    converges in O(log diameter) rounds — the r8 code was O(diameter)
    and EXITED UNCONVERGED on a >25-diameter chain component at sf0.1.
    Each round materializes through a stats-stripping checkpoint barrier
    (see `_stats_barrier`); rounds = shuffle barriers, which is exactly
    the economics a 1000-executor run wants."""
    a_type = dict(pairs.dtypes)["doc_a"]
    spark = pairs.sparkSession

    # Bound check folded into the collect itself: fetch bound+1 RAW pairs in
    # ONE pass — if we get ≤ bound back, that IS the complete pair set.
    # Union-find is insensitive to edge direction and duplicates, so the
    # fast path collects the pairs as-is, skipping both the symmetrize-union
    # and the distinct() shuffle entirely (the r9 path paid distinct +
    # persist + count + collect = two full materializations and a shuffle;
    # this is one narrow collect riding the candidate-pair lineage).
    pdf = None
    if driver_cc_bound > 0:
        pdf = pairs.select("doc_a", "doc_b").limit(driver_cc_bound + 1).toPandas()
        if len(pdf) > driver_cc_bound:
            pdf = None  # over bound — partial collect discarded, go distributed

    if pdf is not None:
        # --- driver union-find fast path ---
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for u, v in zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()):
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN id so the root IS the canonical label
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        out = [(x, find(x)) for x in parent]
        # Arrow-backed local relation (r14 session 4, guide §4/§5): the
        # list-of-tuples route pickles + parallelizes 32 slices and its
        # noop/join actions pay an RDD-backed relation (~0.9 s warm at
        # sf0.1); the pandas route ships ONE Arrow batch (~0.15 s).  The
        # explicit schema keeps the exact column types of the old form.
        import pandas as _pd

        return spark.createDataFrame(
            _pd.DataFrame(out, columns=["doc", "cluster"]),
            schema=f"doc {a_type}, cluster {a_type}",
        )

    # --- distributed log-rounds loop ---
    # materialize via the stats-stripping checkpoint, NOT persist():
    # every loop round localCheckpoints plans referencing this frame, and
    # on Spark 4.1 a localCheckpoint over a plan containing a cached
    # InMemoryRelation dies in CacheManager.tryRebuildCacheEntry (NPE in
    # TableCacheQueryStageExec rebuild — hit at the 100x decade run).
    # The checkpoint both cuts the candidate-pair lineage and keeps
    # InMemoryRelation out of every downstream plan.
    edges = _stats_barrier(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
    )
    def _neighbor_min(lbl: DataFrame) -> DataFrame:
        """One min-label round; keeps the incoming label as __prev so
        convergence detection is a filter, not another join."""
        neighbor_min = (
            edges.join(lbl.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        return lbl.join(neighbor_min, "u", "left").select(
            "u",
            F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                "label"
            ),
            F.col("label").alias("__prev"),
        )

    def _jump(lbl: DataFrame) -> DataFrame:
        """Path halving: label := min(label, label[label]).  Every label
        value is itself a node id present in lbl (labels start as ids and
        only move via min over ids), so the lookup is a self-equi-join."""
        lookup = lbl.select(F.col("u").alias("__ju"), F.col("label").alias("__jl"))
        return lbl.join(lookup, lbl["label"] == lookup["__ju"], "left").select(
            "u",
            F.least(F.col("label"), F.coalesce(F.col("__jl"), F.col("label"))).alias(
                "label"
            ),
            "__prev",
        )

    labels = edges.groupBy("u").agg(F.least(F.min("v"), F.min("u")).alias("label"))
    for _ in range(max_iterations):
        stepped = _stats_barrier(_neighbor_min(labels))
        jumped = _stats_barrier(_jump(_stats_barrier(_jump(stepped))))
        changed = jumped.filter(F.col("label") != F.col("__prev")).limit(1).count()
        labels = jumped.select("u", "label")
        if changed == 0:
            break
    return labels.select(F.col("u").alias("doc"), F.col("label").alias("cluster"))
