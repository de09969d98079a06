"""Training-data pipeline queries over `documents` and `embeddings`:
text quality/language-ID/token-count/fingerprint, exact + near dedup
(Jaccard, MinHash+LSH, SimHash), embedding similarity search.

Oracle strategy: every hash is md5-based and every ratio is a division of
exact integers, so DuckDB reproduces results bit-for-bit. The oracle SQL
for MinHash/SimHash/LSH is generated from the same constants as the Spark
implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .pipeline import classify, dedup, multimodal, sampling, similarity, text
from .functions.lits import lit_array_long
from .sources.parquet import load_table

# shared SQL fragments -------------------------------------------------------

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"


def _values_df(
    spark: SparkSession,
    rows: list[tuple],
    cols: list[tuple[str, str]],
    order_by: list[str] | None = None,
) -> DataFrame:
    """Model-sized driver rows -> DataFrame via a VALUES SQL text instead
    of createDataFrame (r14 opt, guide §4 driver boundary): the pickle
    parallelize conversion plus the RDD-backed range sort cost ~0.75 s per
    action, while Sort over a Catalyst LocalRelation is ~0.12 s (measured
    6-rep medians; the VALUES list stays a LocalRelation so the noop /
    collect action runs trivial jobs).  Integer and static-string payloads
    only — no floats (literal round-trip risk), no untrusted strings
    (embedded quotes).  Falls back to createDataFrame for empty input."""
    ddl = ", ".join(f"{n} {t}" for n, t in cols)
    if not rows:
        df = spark.createDataFrame(rows, ddl)
        return df.orderBy(*order_by) if order_by else df
    def lit(v):
        if isinstance(v, bool):
            raise TypeError("bool not supported")
        if isinstance(v, int):
            return str(v)
        if isinstance(v, str):
            if "'" in v or "\\" in v:
                raise ValueError(f"unsafe string literal: {v!r}")
            return f"'{v}'"
        raise TypeError(f"unsupported VALUES type: {type(v)}")
    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    sel = ", ".join(
        f"CAST(col{i + 1} AS {t}) AS {n}" for i, (n, t) in enumerate(cols)
    )
    tail = f" ORDER BY {', '.join(order_by)}" if order_by else ""
    return spark.sql(f"SELECT {sel} FROM VALUES {vals}{tail}")


def _sql_stopword_hits(words: list[str], toks: str = "t.toks") -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({toks}, x -> list_contains({arr}, x)))"


def _sql_shingles(n: int = 3, toks: str = "toks") -> str:
    gram = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {n} + 2), i -> {gram})) "
        f"ELSE [] END"
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return text.text_stats(docs)


TEXT_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks, text FROM documents)
SELECT doc_id,
  len(toks) AS n_tokens,
  length(text) AS n_chars_actual,
  list_sum(list_transform(toks, x -> length(x))) / len(toks) AS avg_token_len,
  {_sql_stopword_hits(text.STOPWORDS["en"], "toks")} / len(toks) AS stopword_ratio_en,
  len(list_distinct(toks)) / len(toks) AS distinct_token_ratio,
  (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) AS digit_ratio
FROM t
"""


def language_detect(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    return text.language_id(docs)


def _lang_sql() -> str:
    langs = list(text.STOPWORDS)
    scores = ",\n  ".join(
        f"{_sql_stopword_hits(text.STOPWORDS[lg], 'toks')} AS score_{lg}" for lg in langs
    )
    best = "GREATEST(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lg} = {best} AND {best} > 0 THEN '{lg}'" for lg in langs
    ) + " ELSE 'und' END"
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang,
  {scores}
FROM t)
SELECT doc_id, lang, {", ".join(f"score_{lg}" for lg in langs)},
  {case} AS lang_pred
FROM s
"""


LANGUAGE_DETECT_SQL = _lang_sql()


def token_counts(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return text.token_count_regex(docs)


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
  len({_TOKS}) AS n_ws_tokens,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_word_tokens,
  GREATEST(CAST(CEIL(length(text) / 4) AS BIGINT), CAST(len({_TOKS}) AS BIGINT)) AS n_tokens_bpe_est
FROM documents
"""


def doc_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return text.fingerprint(docs, n=5)


DOC_FINGERPRINT_SQL = f"""
WITH t AS (SELECT doc_id, {_sql_shingles(5, _TOKS)} AS sh FROM documents)
SELECT doc_id,
  list_min(list_transform(sh, s -> md5(s))) AS fp_min,
  list_max(list_transform(sh, s -> md5(s))) AS fp_max,
  len(sh) AS n_shingles
FROM t
"""


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return dedup.exact_dedup_groups(docs, "doc_id")


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
"""


def dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.12)


def _jaccard_sql(threshold: float, max_shingle_df: int | str | None) -> str:
    guard = ""
    if max_shingle_df is not None:
        guard = f""",
hot AS (SELECT shingle FROM sh0 GROUP BY shingle
        HAVING COUNT(DISTINCT doc) > {max_shingle_df})"""
        src = "SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)"
    else:
        src = "SELECT * FROM sh0"
    return f"""
WITH d AS (SELECT doc_id, {_sql_shingles(3, _TOKS)} AS sh FROM documents),
sh0 AS (SELECT doc_id AS doc, UNNEST(sh) AS shingle FROM d){guard},
sh AS ({src}),
sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
  common / (sa.sz + sb.sz - common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE common / (sa.sz + sb.sz - common) >= {threshold}
"""


# default MAX_SHINGLE_DF never fires at test scale → identical to unguarded
DEDUP_JACCARD_SQL = _jaccard_sql(0.12, None)


def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Containment near-dup pairs (r12): score = common shingles /
    min(|a|, |b|) — the truncated-copy detector.  A document that is a
    prefix (or any subset) of a longer one scores ~1.0 here while its
    Jaccard can sit far below any dedup threshold (the union is
    dominated by the longer doc), so web pipelines run containment
    NEXT TO Jaccard to catch partial crawls and quote-heavy mirrors.
    Same guarded candidate generation as the Jaccard family — only the
    final score differs, so the scale story is unchanged."""
    docs = load_table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", threshold=0.5, metric="containment"
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH d AS (SELECT doc_id, {_sql_shingles(3, _TOKS)} AS sh FROM documents),
sh AS (SELECT doc_id AS doc, UNNEST(sh) AS shingle FROM d),
sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
  common / LEAST(sa.sz, sb.sz) AS containment
FROM common
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE common / LEAST(sa.sz, sb.sz) >= 0.5
"""


def dedup_jaccard_guarded(spark: SparkSession, sf: str) -> DataFrame:
    """Stop-shingle guard actively firing, CORPUS-RELATIVE form (r11):
    the cap is ``resolve_shingle_guard(n_docs, frac=0.005)`` =
    max(2, ceil(0.5% of docs)) — 3 at sf0.01's 500 docs (identical drops
    to the old absolute demo cap; max df there is 7), 25 at sf0.1's
    5000.  A relative threshold is the BENCH_SF2_r10 structural lesson:
    an absolute cap stops tracking duplication the moment the corpus is
    replicated (the fixed cap of 3 dropped EVERY shingle at 100x).  The
    oracle derives the same cap from its own COUNT(*), pinning the
    relative-guard semantics.  Shingles above the cap are dropped BEFORE
    the self-join — the O(df²) blow-up never materializes.  The library
    production default is `dedup.MAX_SHINGLE_DF_FRAC` = 1e-4."""
    docs = load_table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", threshold=0.12, max_shingle_df_frac=0.005
    )


DEDUP_JACCARD_GUARDED_SQL = _jaccard_sql(
    0.12,
    "GREATEST(2, CAST(CEIL(0.005 * (SELECT COUNT(*) FROM documents)) AS BIGINT))",
)


def dedup_jaccard_prod_staged(spark: SparkSession, sf: str) -> DataFrame:
    """THE production near-dup ordering as a first-class oracle-checked
    query (r11): exact dedup FIRST (md5-equivalent text groupBy, min
    doc_id canonical), then n-gram Jaccard under the corpus-RELATIVE
    production stop-shingle guard (`dedup.MAX_SHINGLE_DF_FRAC` = 1e-4 of
    the CANONICAL corpus).  This is the pipeline the 100x decade
    measurements mandate (BENCH_SF2_r10/r11): running near-dup on an
    un-exact-deduped corpus turns wholesale duplication into O(occ²)
    shingle joins, while the staged form is replication-invariant by
    construction (`dedup_jaccard_prod_staged` 100x row: 1.4x time,
    1.0x output)."""
    docs = load_table(spark, sf, "documents")
    canon = dedup.canonicalize_exact(docs, "doc_id")
    return dedup.ngram_jaccard_pairs(
        canon, "doc_id", threshold=0.12,
        max_shingle_df_frac=dedup.MAX_SHINGLE_DF_FRAC,
    )


# The guard CTE counts OCCURRENCES (COUNT(*)) to mirror the fused path's
# collect_list-size check exactly; on this corpus shingles don't repeat
# within a document, so it equals the distinct-doc form the absolute-cap
# oracle uses.
DEDUP_JACCARD_PROD_STAGED_SQL = f"""
WITH canon AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
),
d AS (SELECT doc_id, {_sql_shingles(3, _TOKS)} AS sh FROM canon),
sh0 AS (SELECT doc_id AS doc, UNNEST(sh) AS shingle FROM d),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle
        HAVING COUNT(*) > GREATEST(2, CAST(CEIL(0.0001 *
          (SELECT COUNT(*) FROM canon)) AS BIGINT))),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
  common / (sa.sz + sb.sz - common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE common / (sa.sz + sb.sz - common) >= 0.12
"""


def _staged_pairs_sql(threshold: float, metric: str) -> str:
    """Oracle body for the STAGED candidate pipeline: exact dedup (min-id
    canonical) -> production corpus-relative stop-shingle guard (occurrence
    count over the CANONICAL corpus, GREATEST(2, ceil(1e-4 * n)) — the
    exact `resolve_shingle_guard` formula) -> pair scoring.  ``metric``
    picks the final score: jaccard = common / union, containment =
    common / min size (same candidates, different score)."""
    score = (
        "common / (sa.sz + sb.sz - common)"
        if metric == "jaccard"
        else "common / LEAST(sa.sz, sb.sz)"
    )
    return f"""
WITH canon AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
),
d AS (SELECT doc_id, {_sql_shingles(3, _TOKS)} AS sh FROM canon),
sh0 AS (SELECT doc_id AS doc, UNNEST(sh) AS shingle FROM d),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle
        HAVING COUNT(*) > GREATEST(2, CAST(CEIL(0.0001 *
          (SELECT COUNT(*) FROM canon)) AS BIGINT))),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b, {score} AS {metric}
FROM common
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE {score} >= {threshold}
"""


def dedup_containment_staged(spark: SparkSession, sf: str) -> DataFrame:
    """Containment near-dup behind the PRODUCTION staged ordering (r13,
    VERDICT r12 task 2): exact dedup first (`canonicalize_exact`), then
    guarded candidate generation under the corpus-relative stop-shingle
    cap, scored by containment = common / min(|a|, |b|) — the
    truncated-copy detector.  This is the shape a 100 TB corpus runs
    (the unstaged registry form `dedup_containment` is the oracle-parity
    demo; on a wholesale-duplicated corpus its unguarded shingle join is
    the documented BENCH_SF2 OOM case, while this staged form is
    replication-invariant — measured 0.86x at 100x in BENCH_SF2_r12)."""
    docs = load_table(spark, sf, "documents")
    canon = dedup.canonicalize_exact(docs, "doc_id")
    return dedup.ngram_jaccard_pairs(
        canon, "doc_id", threshold=0.5, metric="containment",
        max_shingle_df_frac=dedup.MAX_SHINGLE_DF_FRAC,
    )


DEDUP_CONTAINMENT_STAGED_SQL = _staged_pairs_sql(0.5, "containment")


def dedup_keep_best_staged(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-best cluster resolution behind the PRODUCTION staged ordering
    (r13, VERDICT r12 task 2): exact dedup -> guarded Jaccard candidates
    -> connected components -> `keep_best_canonical` (longest canonical
    text wins, ties to the lowest doc id).  The library exports each
    stage (`canonicalize_exact`, `ngram_jaccard_pairs`,
    `dedup_clusters`, `keep_best_canonical`); this entry wires the
    production composition end-to-end.  Replication-invariant by
    construction — measured 1.07x at 100x in BENCH_SF2_r12."""
    docs = load_table(spark, sf, "documents")
    canon = dedup.canonicalize_exact(docs, "doc_id")
    pairs = dedup.ngram_jaccard_pairs(
        canon, "doc_id", threshold=0.12,
        max_shingle_df_frac=dedup.MAX_SHINGLE_DF_FRAC,
    )
    clusters = dedup.dedup_clusters(pairs)
    qual = canon.select(
        F.col("doc_id").alias("doc"), F.length("text").cast("long").alias("q")
    )
    return dedup.keep_best_canonical(clusters, qual).orderBy("cluster")


DEDUP_KEEP_BEST_STAGED_SQL = f"""
WITH RECURSIVE pairs AS ({_staged_pairs_sql(0.12, "jaccard")}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(doc, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a
),
cl AS (SELECT doc, MIN(r) AS cluster FROM reach GROUP BY doc),
canon AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
j AS (
  SELECT cl.cluster, cl.doc, CAST(length(d.text) AS BIGINT) AS q
  FROM cl JOIN canon d ON cl.doc = d.doc_id)
SELECT cluster,
  FIRST(doc ORDER BY q DESC, doc) AS keep_doc,
  CAST(COUNT(*) AS BIGINT) AS n_members,
  CAST(MAX(q) AS BIGINT) AS best_len
FROM j GROUP BY cluster HAVING COUNT(*) >= 2 ORDER BY cluster
"""


def dedup_verbatim_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Substring-level exact dedup (r13, VERDICT r12 task 3 — the last
    missing dedup modality): cross-document VERBATIM long-span detection,
    the distributed approximation of Lee et al. 2022's suffix-array
    dedup.  Doc-level exact dedup catches whole-text copies and Jaccard/
    containment catch shuffled near-dups, but none of them localize a
    20-token quote pasted inside two otherwise-different documents —
    this does, reporting (doc_a, doc_b, start_a, start_b, span_tokens)
    for every maximal shared run of >= 20 tokens.  Staged per the
    production discipline (#2): exact dedup first (`canonicalize_exact`),
    spans over the canonical corpus.  Reference parity: the reference's
    dedup is exact-key (`dedup.cpp`); this is the corpus-text analogue
    the LLM brief asks for.

    Scale shape: positional 12-token rolling fingerprints (O(total
    tokens)), corpus-relative hot-fingerprint guard BEFORE the equi-join
    (cap² fan-out per fingerprint, never all-pairs), island-window run
    collapse partitioned by (doc_a, doc_b, diagonal)."""
    docs = load_table(spark, sf, "documents")
    canon = dedup.canonicalize_exact(docs, "doc_id")
    return dedup.verbatim_spans(canon, "doc_id").orderBy(
        "doc_a", "doc_b", "start_a", "start_b"
    )


def _verbatim_spans_sql(
    gram: int = dedup.VERBATIM_GRAM,
    min_span: int = dedup.VERBATIM_MIN_SPAN,
    floor: int = dedup.VERBATIM_OCC_FLOOR,
) -> str:
    """Oracle replay of `verbatim_spans` over the canonical corpus: same
    tokenization, same positional md5 fingerprints, same relative guard,
    same diagonal-island run collapse."""
    return f"""
WITH canon AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
t AS (SELECT doc_id, {_TOKS} AS toks FROM canon),
gr AS (
  SELECT doc_id AS doc, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(list_slice(toks, i, i + {gram} - 1), ' ')) AS fp
  FROM t, UNNEST(range(1, len(toks) - {gram} + 2)) AS u(i)
  WHERE len(toks) >= {gram}),
hot AS (SELECT fp FROM gr GROUP BY fp
        HAVING COUNT(*) > GREATEST({floor}, CAST(CEIL(0.0001 *
          (SELECT COUNT(*) FROM canon)) AS BIGINT))),
gg AS (SELECT * FROM gr WHERE fp NOT IN (SELECT fp FROM hot)),
m AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, a.pos AS pos_a, b.pos AS pos_b,
         a.pos - b.pos AS diag
  FROM gg a JOIN gg b ON a.fp = b.fp AND a.doc < b.doc),
isl AS (
  SELECT *, pos_a - ROW_NUMBER() OVER (
    PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
  FROM m),
spans AS (
  SELECT doc_a, doc_b,
    CAST(MIN(pos_a) AS BIGINT) AS start_a,
    CAST(MIN(pos_b) AS BIGINT) AS start_b,
    CAST(COUNT(*) + {gram} - 1 AS BIGINT) AS span_tokens
  FROM isl GROUP BY doc_a, doc_b, diag, island)
SELECT doc_a, doc_b, start_a, start_b, span_tokens
FROM spans WHERE span_tokens >= {min_span}
ORDER BY doc_a, doc_b, start_a, start_b
"""


DEDUP_VERBATIM_SPANS_SQL = _verbatim_spans_sql()


# DuckDB equivalent of Spark's conv(substring(md5(x),1,8),16,10): positional
# nibble parse of the first 8 hex chars (lowercase md5 → strpos is exact).
def _sql_hex8_mod_p(m: str) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({m}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"(({terms}) % {dedup.MERSENNE_P})"


# test-scale MinHash params (library production defaults are 128/8; the
# oracle SQL is generated from the SAME hash_coeffs, so any param choice
# stays verifiable — 16/4 keeps the sf0.1 bench fast)
_MH_HASHES = 16
_MH_BAND = 4


def minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return dedup.minhash_signature(docs, "doc_id", n_hashes=_MH_HASHES)


def _minhash_sql(n_hashes: int) -> str:
    mins = ",\n  ".join(
        "MIN(({a} * h + {b}) % {p}) AS h{i}".format(
            a=dedup.hash_coeffs(i)[0], b=dedup.hash_coeffs(i)[1], p=dedup.MERSENNE_P, i=i
        )
        for i in range(n_hashes)
    )
    return f"""
WITH d AS (SELECT doc_id, {_sql_shingles(3, _TOKS)} AS sh FROM documents),
sh AS (SELECT doc_id AS doc, UNNEST(sh) AS shingle FROM d),
hv AS (SELECT doc, {_sql_hex8_mod_p('md5(shingle)')} AS h FROM sh)
SELECT doc,
  {mins}
FROM hv GROUP BY doc
"""


MINHASH_SIG_SQL = _minhash_sql(_MH_HASHES)


def minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return dedup.minhash_lsh_candidates(docs, "doc_id", n_hashes=_MH_HASHES, band_size=_MH_BAND)


def _minhash_lsh_sql(n_hashes: int, band_size: int) -> str:
    n_bands = n_hashes // band_size
    band_rows = " UNION ALL ".join(
        "SELECT doc, {b} AS band, concat_ws('-', ".format(b=b)
        + ", ".join(f"h{b * band_size + j}" for j in range(band_size))
        + ") AS val FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH sig AS ({_minhash_sql(n_hashes)}),
bands AS ({band_rows})
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b, a.band AS band
FROM bands a JOIN bands b
  ON a.band = b.band AND a.val = b.val AND a.doc < b.doc
"""


MINHASH_LSH_SQL = _minhash_lsh_sql(_MH_HASHES, _MH_BAND)


def simhash_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return dedup.simhash(docs, "doc_id")  # production default: 64-bit


def _sql_hex8(m: str, start: int) -> str:
    """DuckDB parse of 8 hex chars of `m` from 1-based `start` (mirrors
    Spark conv(substring(m,start,8),16,10))."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({m}, {start + i}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


def _simhash_sql(bits: int) -> str:
    # one md5 per token parsed into four 32-bit words; bit b<32 = nibble b's
    # 8-bit, b>=32 = nibble (b-32)'s 4-bit — mirrors dedup.simhash exactly
    def bit(b: int) -> str:
        nb = b % 32
        g, r = nb // 8, nb % 8
        shift = 4 * (7 - r) + (3 if b < 32 else 2)
        return f"((h{g} >> {shift}) & 1)"

    votes = ",\n  ".join(f"SUM({bit(b)} * 2 - 1) AS v{b}" for b in range(bits))
    lo = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(min(bits, 32))
    )
    hi = (
        " + ".join(
            f"CASE WHEN v{b} > 0 THEN {1 << (b - 32)} ELSE 0 END" for b in range(32, bits)
        )
        if bits > 32
        else "0"
    )
    return f"""
WITH toks AS (SELECT doc_id AS doc, UNNEST({_TOKS}) AS tok FROM documents),
m AS (SELECT doc, md5(tok) AS ma FROM toks),
hw AS (SELECT doc,
  {_sql_hex8('ma', 1)} AS h0, {_sql_hex8('ma', 9)} AS h1,
  {_sql_hex8('ma', 17)} AS h2, {_sql_hex8('ma', 25)} AS h3
FROM m),
v AS (SELECT doc,
  {votes}
FROM hw GROUP BY doc)
SELECT doc, CAST({hi} AS BIGINT) AS simhash_hi, CAST({lo} AS BIGINT) AS simhash_lo FROM v
"""


SIMHASH_SQL = _simhash_sql(dedup.SIMHASH_BITS)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

def embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return similarity.cosine_topk(emb, query, k=10)


_QUANT_SQL = "list_transform({v}, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
_DOT_SQL = "list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"

EMBEDDING_TOPK_SQL = f"""
WITH q AS (SELECT {_QUANT_SQL.format(v='embedding')} AS qv FROM embeddings WHERE vec_id = 0),
base AS (
  SELECT vec_id, {_QUANT_SQL.format(v='embedding')} AS v, q.qv AS qv
  FROM embeddings, q
)
SELECT vec_id,
  {_DOT_SQL.format(a='v', b='qv')}
    / (SQRT({_DOT_SQL.format(a='v', b='v')}) * SQRT({_DOT_SQL.format(a='qv', b='qv')})) AS cosine
FROM base
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def embedding_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return similarity.ann_lsh_topk(emb, query, k=10, dim=64)


def _ann_lsh_sql() -> str:
    def bucket(v: str) -> str:
        bits = []
        for p in range(similarity.N_PLANES):
            signs = "[" + ",".join(str(s) for s in similarity.plane_signs(p)) + "]"
            comp = (
                f"list_sum(list_transform(range(1, len({v}) + 1), "
                f"i -> {v}[i] * ({signs})[i]))"
            )
            bits.append(f"(CASE WHEN {comp} > 0 THEN {2 ** p} ELSE 0 END)")
        return " + ".join(bits)

    q = _QUANT_SQL.format(v="embedding")
    return f"""
WITH e AS (SELECT vec_id, {q} AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket('v')} AS bucket FROM e),
qq AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
cand AS (SELECT b.vec_id, b.v, b.bucket, qq.qv FROM b, qq WHERE b.bucket = qq.qb)
SELECT vec_id,
  {_DOT_SQL.format(a='v', b='qv')}
    / (SQRT({_DOT_SQL.format(a='v', b='v')}) * SQRT({_DOT_SQL.format(a='qv', b='qv')})) AS cosine,
  bucket
FROM cand
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


EMBEDDING_ANN_SQL = _ann_lsh_sql()


def embedding_ann_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe LSH: query bucket + Hamming-1 neighbors (recall recovery
    for near neighbors split off by a single hyperplane)."""
    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return similarity.ann_lsh_topk(emb, query, k=10, dim=64, n_probes=4)


def _ann_multiprobe_sql(n_probes: int) -> str:
    def bucket(v: str) -> str:
        bits = []
        for p in range(similarity.N_PLANES):
            signs = "[" + ",".join(str(s) for s in similarity.plane_signs(p)) + "]"
            comp = (
                f"list_sum(list_transform(range(1, len({v}) + 1), "
                f"i -> {v}[i] * ({signs})[i]))"
            )
            bits.append(f"(CASE WHEN {comp} > 0 THEN {2 ** p} ELSE 0 END)")
        return " + ".join(bits)

    probes = ", ".join(["qb"] + [f"xor(qb, {1 << p})" for p in range(n_probes - 1)])
    q = _QUANT_SQL.format(v="embedding")
    return f"""
WITH e AS (SELECT vec_id, {q} AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket('v')} AS bucket FROM e),
qq AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
cand AS (SELECT b.vec_id, b.v, b.bucket, qq.qv FROM b, qq
         WHERE b.bucket IN ({probes}))
SELECT vec_id,
  {_DOT_SQL.format(a='v', b='qv')}
    / (SQRT({_DOT_SQL.format(a='v', b='v')}) * SQRT({_DOT_SQL.format(a='qv', b='qv')})) AS cosine,
  bucket
FROM cand
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


EMBEDDING_MULTIPROBE_SQL = _ann_multiprobe_sql(4)

def embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded LSH candidates (2 bands × 4
    hyperplanes), exact quantized cosine >= threshold on candidates only."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.cosine_near_dup_pairs(emb, threshold=0.35, dim=64)


def _near_dup_sql(threshold: float, n_bands: int, ppb: int) -> str:
    def band(v: str, b: int) -> str:
        bits = []
        for j in range(ppb):
            signs = "[" + ",".join(str(s) for s in similarity.plane_signs(b * ppb + j)) + "]"
            comp = (
                f"list_sum(list_transform(range(1, len({v}) + 1), "
                f"i -> {v}[i] * ({signs})[i]))"
            )
            bits.append(f"(CASE WHEN {comp} > 0 THEN {2 ** j} ELSE 0 END)")
        return " + ".join(bits)

    keyed = " UNION ALL ".join(
        f"SELECT vec_id, v, {b} AS bi, {band('v', b)} AS bk FROM e"
        for b in range(n_bands)
    )
    return f"""
WITH e AS (SELECT vec_id, {_QUANT_SQL.format(v='embedding')} AS v FROM embeddings),
k AS ({keyed}),
cand AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b, l.v AS va, r.v AS vb
  FROM k l JOIN k r ON l.bi = r.bi AND l.bk = r.bk AND l.vec_id < r.vec_id
),
scored AS (
  SELECT id_a, id_b,
    {_DOT_SQL.format(a='va', b='vb')}
      / (SQRT({_DOT_SQL.format(a='va', b='va')}) * SQRT({_DOT_SQL.format(a='vb', b='vb')})) AS cosine
  FROM cand
)
SELECT DISTINCT id_a, id_b, cosine FROM scored
WHERE cosine >= {threshold}
ORDER BY id_a, id_b
"""


EMBEDDING_NEAR_DUP_SQL = _near_dup_sql(0.35, 2, 4)


_IVF_CELLS = 16
_IVF_PROBE = 2


def embedding_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN: deterministic coarse quantizer (lowest-id vectors) inlined
    as plan literals; probe the query's 2 nearest cells."""
    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    cents = similarity.ivf_centroids(emb, n_cells=_IVF_CELLS)
    return similarity.ann_ivf_topk(emb, query, cents, k=10, n_probe=_IVF_PROBE)


_L2_SQL = "list_sum(list_transform(range(1, len({a}) + 1), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"

EMBEDDING_IVF_SQL = f"""
WITH e AS (SELECT vec_id, {_QUANT_SQL.format(v='embedding')} AS v FROM embeddings),
c AS (SELECT * FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv FROM e)
      WHERE cid < {_IVF_CELLS}),
d AS (SELECT e.vec_id, e.v, c.cid, {_L2_SQL.format(a='e.v', b='c.cv')} AS dist
      FROM e CROSS JOIN c),
a AS (SELECT vec_id, v, cid AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)
      WHERE rn = 1),
qp AS (SELECT cid AS qc FROM (
        SELECT cid, ROW_NUMBER() OVER (ORDER BY dist, cid) AS rn FROM d WHERE vec_id = 0)
      WHERE rn <= {_IVF_PROBE}),
qq AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cand AS (SELECT a.vec_id, a.v, a.cell, qq.qv FROM a JOIN qp ON a.cell = qp.qc CROSS JOIN qq)
SELECT vec_id,
  {_DOT_SQL.format(a='v', b='qv')}
    / (SQRT({_DOT_SQL.format(a='v', b='v')}) * SQRT({_DOT_SQL.format(a='qv', b='qv')})) AS cosine,
  cell
FROM cand
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas; stubbed decode)
# --------------------------------------------------------------------------

def multimodal_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Real header decode (r6): synthesize byte-exact PNG/JPEG/GIF
    containers around the document text, then recover format + dimensions
    from the BYTES alone (fixed-offset reads for PNG/GIF, marker scan for
    JPEG).  The oracle recomputes the expected fields arithmetically, so a
    header-build or parse bug on either side breaks the value hash."""
    docs = load_table(spark, sf, "documents")
    return multimodal.decode_image(multimodal.synthesize_media(docs))


# Mirrors the synthesizer's deterministic choices: doc_id%4 picks the
# container (3 = raw bytes → unknown), dims are 16+(id*7)%625 / 16+(id*13)%465,
# header byte counts are PNG 33 / JPEG 25 / GIF 14 (see multimodal.py),
# and unknown payloads get the additive-checksum fallback.
MULTIMODAL_SQL = """
SELECT doc_id,
  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
       ELSE 'unknown' END AS format,
  CASE WHEN doc_id % 4 < 3 THEN CAST(16 + (doc_id * 7) % 625 AS INTEGER) END AS width,
  CASE WHEN doc_id % 4 < 3 THEN CAST(16 + (doc_id * 13) % 465 AS INTEGER) END AS height,
  CAST(length(text) + CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 25
                           WHEN 2 THEN 14 ELSE 0 END AS INTEGER) AS n_bytes,
  CASE WHEN doc_id % 4 = 3 THEN
    CAST(list_sum(list_transform(range(1, length(text) + 1),
                                 i -> ascii(substr(text, i, 1)))) AS BIGINT)
      % 1000003 END AS checksum
FROM documents
"""


def dedup_cluster_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup clusters: Jaccard pairs → connected components → canonical
    (minimum) doc id per cluster. Oracle: DuckDB WITH RECURSIVE transitive
    closure over the same pair set, label = MIN(reachable id); pytest also
    verifies components on a hand-built graph."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.12)
    return dedup.dedup_clusters(pairs)


# Connected components in ANSI SQL: symmetric edge set → recursive
# transitive closure (UNION dedups, guaranteeing termination) → per-doc
# minimum reachable id == min-label-propagation's fixpoint.
DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE pairs AS ({_jaccard_sql(0.12, None)}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(doc, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a
)
SELECT doc, MIN(r) AS cluster FROM reach GROUP BY doc
"""


_DSIR_NB = 1024  # hashed-feature buckets


def dsir_importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style importance weights (r12): score every raw document by
    how target-like its hashed-unigram distribution is — the
    data-selection op (Xie et al.'s DSIR recipe) a training-data
    pipeline runs to up-sample domain-relevant text.  Docs with
    doc_id % 10 == 0 stand in as the target set (the
    contamination_check convention); features are md5-hashed token
    buckets (engine-independent); per-token weight =
    ln(p_target(bucket) / p_raw(bucket)) with Laplace smoothing, and the
    per-doc weight sums those terms THROUGH DECIMAL(18,6) so the float
    sum is order-independent and hash-comparable (the decimal-sum rule;
    scale 6, not 9, keeps the libm-ln rounding boundary far from the
    quantum — ADVICE r12).

    Scale shape: two bucket-count aggregates (<= NB rows each, broadcast
    back), one explode + broadcast join + one per-doc aggregate — the
    distributions are model-scale, the corpus is touched twice, nothing
    shuffles more than the doc-level result."""
    docs = load_table(spark, sf, "documents")
    # no spread_by_cores here: measured slower (1.23 s -> 1.5 s at sf0.1)
    # — after the one-exchange restructure below, the extra repartition
    # shuffle and 32-wide downstream stages cost more than the explode
    # parallelism buys on this shape
    tok = docs.select(
        "doc_id", F.explode(text.tokens_col(F.col("text"))).alias("t")
    )
    b = tok.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
            % dedup.MERSENNE_P
            % _DSIR_NB
        ).alias("bkt"),
    )
    # ONE exchange every consumer hangs off (r13 optimization): the
    # original form ran the tokenize+md5 explode FIVE times — two
    # build-time scalar collects (tt, tr) plus three subtrees of the
    # final job (tgt broadcast, raw broadcast, the per-doc aggregate),
    # and none of them shared an exchange, so AQE's runtime exchange
    # reuse could not fire (guide §2.4).  Grouping to per-(doc, bucket)
    # occurrence counts first gives all consumers the same shuffle;
    # tgt/raw/totals re-aggregate those counts (sum-of-counts ==
    # count-of-occurrences, exact int64), and the totals attach as
    # broadcast columns — the exact columnar form the DuckDB oracle
    # already computes — instead of collected plan literals.
    c = b.groupBy("doc_id", "bkt").agg(F.count(F.lit(1)).alias("cnt"))
    tgt = (
        c.filter(F.col("doc_id") % 10 == 0)
        .groupBy("bkt")
        .agg(F.sum("cnt").alias("ct"))
    )
    raw = (
        c.filter(F.col("doc_id") % 10 != 0)
        .groupBy("bkt")
        .agg(F.sum("cnt").alias("cr"))
    )
    tots = (
        tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
        .crossJoin(raw.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("tr")))
    )
    ratio = (
        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
        * (F.col("tr") + F.lit(_DSIR_NB)).cast("double")
    ) / (
        (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1.0))
        * (F.col("tt") + F.lit(_DSIR_NB)).cast("double")
    )
    # DECIMAL(18,6), not (18,9): ln is not correctly rounded in either
    # libm, and with O(1) per-term values a 1e-9 quantum leaves a ~ulp-
    # sized boundary-hit chance per term across engines (ADVICE r12) —
    # the coarser quantum puts the rounding boundary ~1000 ulp away.
    term = F.log(ratio).cast("decimal(18,6)")
    return (
        c.filter(F.col("doc_id") % 10 != 0)
        .join(F.broadcast(tgt), "bkt", "left")
        .join(F.broadcast(raw), "bkt", "left")
        .crossJoin(F.broadcast(tots))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            # sum over occurrences of term == sum over buckets of
            # cnt * term — exact in decimal (integer × decimal(18,6))
            F.sum(F.col("cnt") * term).cast("double").alias("weight"),
        )
        .orderBy("doc_id")
    )


def _dsir_sql(nb: int = _DSIR_NB) -> str:
    hex8 = _sql_hex8_mod_p("md5(t)")
    return f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
b AS (SELECT doc_id, ({hex8} % {nb}) AS bkt FROM tok),
tgt AS (SELECT bkt, COUNT(*) AS ct FROM b WHERE doc_id % 10 = 0 GROUP BY bkt),
raw AS (SELECT bkt, COUNT(*) AS cr FROM b WHERE doc_id % 10 != 0 GROUP BY bkt),
tot AS (
  SELECT (SELECT COUNT(*) FROM b WHERE doc_id % 10 = 0) AS tt,
         (SELECT COUNT(*) FROM b WHERE doc_id % 10 != 0) AS tr),
terms AS (
  SELECT b.doc_id,
    CAST(ln(
      ((COALESCE(tgt.ct, 0) + 1.0) * CAST(tot.tr + {nb} AS DOUBLE))
      / ((COALESCE(raw.cr, 0) + 1.0) * CAST(tot.tt + {nb} AS DOUBLE))
    ) AS DECIMAL(18,6)) AS term
  FROM b LEFT JOIN tgt USING (bkt) LEFT JOIN raw USING (bkt), tot
  WHERE b.doc_id % 10 != 0)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(term) AS DOUBLE) AS weight
FROM terms GROUP BY doc_id ORDER BY doc_id
"""


DSIR_IMPORTANCE_SQL = _dsir_sql()


def corpus_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Split-leakage audit (r12): assign canonical (exact-deduped,
    min-id) documents a deterministic 90/5/5 train/val/test split by md5
    bucket, then classify every near-dup pair by the split pair of its
    members — a pair straddling two splits is train/eval leakage that
    exact dedup missed, the audit run before any benchmark split ships.
    Output: one row per (split_a, split_b) combination with its pair
    count; off-diagonal rows are the leakage.

    Scale shape: the split is a map-side expression, the pair set is the
    guarded Jaccard lineage, and the classification is two broadcast-
    size joins against the (doc_id, split) projection + one tiny
    aggregate."""
    docs = load_table(spark, sf, "documents")
    canon = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id", "text"
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % dedup.MERSENNE_P
        % 20
    )
    split = (
        F.when(bucket == 0, F.lit("test"))
        .when(bucket == 1, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    sp = canon.select("doc_id", split.alias("split"))
    pairs = dedup.ngram_jaccard_pairs(canon, "doc_id", threshold=0.12)
    pa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    pb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    return (
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("split_a", "split_b")
    )


CORPUS_SPLIT_LEAKAGE_SQL = f"""
WITH canon AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
d AS (SELECT doc_id, {_sql_shingles(3, _TOKS)} AS sh FROM canon),
sh AS (SELECT doc_id AS doc, UNNEST(sh) AS shingle FROM d),
sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
),
pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
  WHERE common / (sa.sz + sb.sz - common) >= 0.12
),
sp AS (
  SELECT doc_id,
    CASE ({_sql_hex8_mod_p("md5(CAST(doc_id AS VARCHAR))")} % 20)
      WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END AS split
  FROM canon)
SELECT LEAST(a.split, b.split) AS split_a,
       GREATEST(a.split, b.split) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN sp a ON pairs.doc_a = a.doc_id
JOIN sp b ON pairs.doc_b = b.doc_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


def dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-priority canonical selection (r12): near-dup clusters keep
    their BEST member — longest text, ties to the lowest doc_id — rather
    than the lowest id (`dedup_cluster_canonical`'s policy).  Real corpus
    pipelines keep the highest-quality variant of a near-dup group (the
    longest copy usually carries the least truncation), so the cluster
    resolution needs a keep-policy hook; this is that policy as a
    first-class oracle-checked query.  One aggregate over the cluster
    labels joined to a map-side length score; emits only multi-member
    clusters (singletons are trivially kept)."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.12)
    clusters = dedup.dedup_clusters(pairs)
    qual = docs.select(
        F.col("doc_id").alias("doc"), F.length("text").cast("long").alias("q")
    )
    return dedup.keep_best_canonical(clusters, qual).orderBy("cluster")


DEDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE pairs AS ({_jaccard_sql(0.12, None)}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(doc, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a
),
cl AS (SELECT doc, MIN(r) AS cluster FROM reach GROUP BY doc),
j AS (
  SELECT cl.cluster, cl.doc, CAST(length(d.text) AS BIGINT) AS q
  FROM cl JOIN documents d ON cl.doc = d.doc_id)
SELECT cluster,
  FIRST(doc ORDER BY q DESC, doc) AS keep_doc,
  CAST(COUNT(*) AS BIGINT) AS n_members,
  CAST(MAX(q) AS BIGINT) AS best_len
FROM j GROUP BY cluster HAVING COUNT(*) >= 2 ORDER BY cluster
"""


def contamination_check(spark: SparkSession, sf: str) -> DataFrame:
    """N-gram decontamination (r5, LLM-pipeline first-class op): docs with
    doc_id % 10 == 0 stand in as the benchmark set; every other document
    reports the fraction of its distinct 5-gram shingles that appear in
    the benchmark — the standard test-set-contamination screen run before
    training. One shingle equi-join, no all-pairs."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup.ngram_contamination(corpus, bench, "doc_id", n=5).select(
        F.col("doc").alias("doc_id"), "n_grams", "n_hit", "contamination"
    )


CONTAMINATION_SQL = f"""
WITH d AS (SELECT doc_id, {_sql_shingles(5, _TOKS)} AS sh FROM documents),
e AS (SELECT doc_id, UNNEST(sh) AS shingle FROM d),
bench AS (SELECT DISTINCT shingle FROM e WHERE doc_id % 10 = 0),
corpus AS (SELECT * FROM e WHERE doc_id % 10 <> 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_hit
  FROM corpus c JOIN bench b ON c.shingle = b.shingle GROUP BY c.doc_id
)
SELECT s.doc_id, s.n_grams, COALESCE(h.n_hit, 0) AS n_hit,
       COALESCE(h.n_hit, 0) / s.n_grams AS contamination
FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
"""


def training_corpus_filter(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end training-corpus materialization (r5): the composed
    filter a real pre-training pipeline runs — quality thresholds (token
    count, stopword ratio, repetition), exact-duplicate removal (keep the
    canonical minimum doc_id), and benchmark decontamination (5-gram
    overlap < 30% against the doc_id%10==0 benchmark slice) — emitting
    the surviving documents with a per-stage keep/drop audit.

    Every stage is one of the engine's existing operators; the
    composition is pure DataFrame plumbing (two joins + filters), so the
    whole filter is a single Spark job with no driver-side loops."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    stats = text.text_stats(docs)
    quality_ok = (
        (F.col("n_tokens") >= 5)
        & (F.col("stopword_ratio_en") >= 0.05)
        & (F.col("distinct_token_ratio") >= 0.3)
    )
    dups = dedup.exact_dedup_groups(docs, "doc_id")
    dup_losers = (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .join(dups, "text_hash")
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", F.lit(True).alias("is_dup_loser"))
    )
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    cont = dedup.ngram_contamination(corpus, bench, "doc_id", n=5).select(
        F.col("doc").alias("doc_id"), "contamination"
    )
    out = (
        stats.filter(F.col("doc_id") % 10 != 0)
        .join(dup_losers, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            quality_ok.alias("quality_ok"),
            F.coalesce(F.col("is_dup_loser"), F.lit(False)).alias("is_dup_loser"),
            F.coalesce(F.col("contamination"), F.lit(0.0)).alias("contamination"),
        )
        .withColumn(
            "kept",
            F.col("quality_ok")
            & ~F.col("is_dup_loser")
            & (F.col("contamination") < 0.3),
        )
    )
    return out


TRAINING_FILTER_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks, text FROM documents),
stats AS (
  SELECT doc_id,
    len(toks) AS n_tokens,
    {_sql_stopword_hits(text.STOPWORDS["en"], "toks")} / len(toks) AS stopword_ratio_en,
    len(list_distinct(toks)) / len(toks) AS distinct_token_ratio
  FROM t
),
dups AS (
  SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id
  FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
),
losers AS (
  SELECT d.doc_id FROM documents d
  JOIN dups ON md5(d.text) = dups.text_hash
  WHERE d.doc_id <> dups.canonical_id
),
sh AS (SELECT doc_id, UNNEST({_sql_shingles(5, _TOKS)}) AS shingle FROM documents),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_hit
  FROM corpus c JOIN bench b ON c.shingle = b.shingle GROUP BY c.doc_id
),
cont AS (
  SELECT s.doc_id, COALESCE(h.n_hit, 0) / s.n_grams AS contamination
  FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
)
SELECT st.doc_id, st.n_tokens,
  (st.n_tokens >= 5 AND st.stopword_ratio_en >= 0.05
   AND st.distinct_token_ratio >= 0.3) AS quality_ok,
  (st.doc_id IN (SELECT doc_id FROM losers)) AS is_dup_loser,
  COALESCE(c.contamination, 0.0) AS contamination,
  ((st.n_tokens >= 5 AND st.stopword_ratio_en >= 0.05
    AND st.distinct_token_ratio >= 0.3)
   AND NOT (st.doc_id IN (SELECT doc_id FROM losers))
   AND COALESCE(c.contamination, 0.0) < 0.3) AS kept
FROM stats st LEFT JOIN cont c ON c.doc_id = st.doc_id
WHERE st.doc_id % 10 <> 0
"""


# --------------------------------------------------------------------------
# PII redaction + repetition-quality signals (r6)
# --------------------------------------------------------------------------

def pii_scrub_docs(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction stage (r6 training-pipeline op): deterministic PII is
    synthesized around each document's text (the corpus itself is clean),
    then emails/SSNs/IPv4s/phone-runs are redacted in a fixed pattern
    order; the oracle applies the SAME RE2-compatible regexes stage by
    stage, so the per-category counts AND the md5 of the scrubbed text are
    independently verified."""
    docs = load_table(spark, sf, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com ssn 123-45-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1 555 0100 now"),
        ).alias("text"),
    )
    out = text.pii_scrub(aug)
    return out.select(
        "doc_id", "n_email", "n_ssn", "n_ipv4", "n_phone",
        F.md5(F.col("scrubbed")).alias("scrub_md5"),
    )


PII_SCRUB_SQL = r"""
WITH aug AS (
  SELECT doc_id,
    text || ' contact user' || doc_id || '@example.com ssn 123-45-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || ' ip 10.0.' || (doc_id % 256) || '.7 call +1 555 0100 now' AS t
  FROM documents
),
s1 AS (SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
  FROM aug),
s2 AS (SELECT doc_id, n_email,
  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
  regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t
  FROM s1),
s3 AS (SELECT doc_id, n_email, n_ssn,
  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
  regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS t
  FROM s2),
s4 AS (SELECT doc_id, n_email, n_ssn, n_ipv4,
  CAST(len(regexp_extract_all(t, '\+?\d[\d ()-]{7,}\d')) AS INT) AS n_phone,
  regexp_replace(t, '\+?\d[\d ()-]{7,}\d', '<PHONE>', 'g') AS t
  FROM s3)
SELECT doc_id, n_email, n_ssn, n_ipv4, n_phone, md5(t) AS scrub_md5 FROM s4
"""


def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/C4 repetition-quality signals (r6): top-word fraction and
    duplicate-2-gram fraction per document — explode + two keyed
    aggregations, linear and shuffle-partitioned by doc at 100 TB."""
    docs = load_table(spark, sf, "documents")
    st = text.repetition_stats(docs)
    d6 = lambda c: F.col(c).cast("decimal(18,6)").cast("double").alias(c)  # noqa: E731
    return st.select(
        "doc_id", d6("top_word_frac"), "n_words", d6("dup_2gram_frac"), "n_2grams"
    )


TEXT_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> ''
),
word_stats AS (
  SELECT doc_id,
    CAST(CAST(MAX(c) * 1.0 / SUM(c) AS DECIMAL(18,6)) AS DOUBLE) AS top_word_frac,
    CAST(SUM(c) AS BIGINT) AS n_words
  FROM (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w)
  GROUP BY doc_id
),
grams AS (
  SELECT doc_id, g FROM (
    SELECT doc_id,
      unnest(list_transform(
        range(1, greatest(len(l) - 1, 0) + 1), i -> l[i] || ' ' || l[i + 1]
      )) AS g
    FROM (
      SELECT doc_id,
        list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS l
      FROM documents
    )
  )
),
gram_stats AS (
  SELECT doc_id,
    CAST(CAST(1 - COUNT(DISTINCT g) * 1.0 / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE)
      AS dup_2gram_frac,
    COUNT(*) AS n_2grams
  FROM grams GROUP BY doc_id
)
SELECT w.doc_id, w.top_word_frac, w.n_words, g.dup_2gram_frac, g.n_2grams
FROM word_stats w LEFT JOIN gram_stats g ON w.doc_id = g.doc_id
"""


# --------------------------------------------------------------------------
# Corpus construction: stratified sampling, sequence packing, mixture
# weighting, int8-quantized similarity (r6)
# --------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 0.5, "es": 0.25, "de": 0.25, "fr": 0.25}
_SAMPLE_DEFAULT = 0.125


def stratified_sample_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-stratified sampling over documents (r6): keep a
    doc iff md5-hash(doc_id) mod P < floor(rate[lang]·P). The audit
    aggregate (per-stratum totals and realized take) is what a corpus
    builder reviews before materializing; the keep decision itself is a
    shuffle-free per-row expression (pipeline/sampling.py)."""
    docs = load_table(spark, sf, "documents")
    s = sampling.stratified_sample(
        docs, _SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT
    )
    return s.groupBy("lang", "source").agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.min(F.when(F.col("kept"), F.col("doc_id"))).alias("first_kept"),
    )


def _sql_rate_threshold() -> str:
    cases = " ".join(
        f"WHEN lang = '{k}' THEN {sampling.rate_threshold(v)}"
        for k, v in _SAMPLE_RATES.items()
    )
    return f"(CASE {cases} ELSE {sampling.rate_threshold(_SAMPLE_DEFAULT)} END)"


STRATIFIED_SAMPLE_SQL = f"""
WITH s AS (
  SELECT lang, source, doc_id,
    ({_sql_hex8_mod_p("md5(CAST(doc_id AS VARCHAR))")}) < {_sql_rate_threshold()} AS kept
  FROM documents
)
SELECT lang, source,
  COUNT(*) AS n_total,
  CAST(SUM(CAST(kept AS INT)) AS BIGINT) AS n_kept,
  MIN(CASE WHEN kept THEN doc_id END) AS first_kept
FROM s GROUP BY lang, source
"""

_PACK_BUDGET = 256
_PACK_SHARDS = 4


def sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-then-chunk sequence packing (r6): documents streamed in id
    order within (lang, shard) are laid into fixed token-budget context
    windows; a doc belongs to the window where its first token lands.
    One window pass + one aggregation, both partitioned on (lang, shard)
    — the shard hash bounds each sorted stream so the pass parallelizes
    at 100 TB (pipeline/sampling.py)."""
    docs = load_table(spark, sf, "documents")
    return sampling.pack_sequences(
        docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )


SEQUENCE_PACKING_SQL = f"""
WITH base AS (
  SELECT lang AS stratum,
    ({_sql_hex8_mod_p("md5(CAST(doc_id AS VARCHAR))")}) % {_PACK_SHARDS} AS shard,
    doc_id AS doc,
    len({_TOKS}) AS n_tok
  FROM documents
),
binned AS (
  SELECT stratum, shard, doc, n_tok,
    CAST(FLOOR((SUM(n_tok) OVER (
        PARTITION BY stratum, shard ORDER BY doc
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) - n_tok) / {_PACK_BUDGET}) AS BIGINT) AS bin_id
  FROM base
)
SELECT stratum, shard, bin_id,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
  MIN(doc) AS first_doc
FROM binned GROUP BY stratum, shard, bin_id
"""


def mixture_weights_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixture weighting (r6): per-source token counts →
    sqrt-temperature sampling weights + up/down-sampling boost
    (pipeline/sampling.py)."""
    docs = load_table(spark, sf, "documents")
    return sampling.mixture_weights(docs, alpha=0.5, group_col="source")


MIXTURE_WEIGHTS_SQL = f"""
WITH per AS (
  SELECT source AS domain, COUNT(*) AS n_docs,
    CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT domain, n_docs, n_tokens,
  CAST(CAST(SQRT(CAST(n_tokens AS DOUBLE)) / SUM(SQRT(CAST(n_tokens AS DOUBLE))) OVER ()
    AS DECIMAL(18,6)) AS DOUBLE) AS weight,
  CAST(CAST((SQRT(CAST(n_tokens AS DOUBLE)) / SUM(SQRT(CAST(n_tokens AS DOUBLE))) OVER ())
    / (n_tokens / SUM(n_tokens) OVER ()) AS DECIMAL(18,6)) AS DOUBLE) AS boost
FROM per
"""


def embedding_int8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """int8-quantized cosine top-k (r6): symmetric per-vector int8 codes
    (8x storage compression), integer-dot scorer, scale-free quantized
    cosine — the quantized-vector-store read path
    (pipeline/similarity.py int8_topk)."""
    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return similarity.int8_topk(emb, query, k=10)


_INT8_SQL = (
    "list_transform({v}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / "
    "(CASE WHEN list_max(list_transform({v}, y -> abs(CAST(y AS DOUBLE)))) = 0 "
    "THEN 1.0 ELSE list_max(list_transform({v}, y -> abs(CAST(y AS DOUBLE)))) END) "
    "+ 0.5) AS BIGINT))"
)

EMBEDDING_INT8_TOPK_SQL = f"""
WITH q AS (SELECT {_INT8_SQL.format(v='embedding')} AS qv FROM embeddings WHERE vec_id = 0),
base AS (
  SELECT vec_id, {_INT8_SQL.format(v='embedding')} AS v, q.qv AS qv
  FROM embeddings, q
),
scored AS (
  SELECT vec_id,
    CAST({_DOT_SQL.format(a='v', b='qv')} AS BIGINT) AS dot_q8,
    {_DOT_SQL.format(a='v', b='v')} AS n2a,
    {_DOT_SQL.format(a='qv', b='qv')} AS n2b
  FROM base
)
SELECT vec_id, dot_q8,
  CASE WHEN n2a = 0 OR n2b = 0 THEN 0.0
       ELSE dot_q8 / (SQRT(CAST(n2a AS DOUBLE)) * SQRT(CAST(n2b AS DOUBLE)))
  END AS cosine_q8
FROM scored
ORDER BY cosine_q8 DESC, vec_id ASC
LIMIT 10
"""


def embedding_dedup_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style embedding-space deduplication (r6): banded-LSH
    near-dup pairs (cosine >= 0.35 on candidates only) → connected
    components via min-label propagation → one canonical vector per
    cluster, with a keep/drop flag for EVERY corpus vector (singletons
    keep themselves). Pure composition of two existing operators — no new
    shuffle shapes; the pair stage is bucket-bounded and the propagation
    is O(component diameter) iterative joins."""
    emb = load_table(spark, sf, "embeddings")
    # sort=False: union-find cluster resolution is pair-SET driven; the
    # emitted query below orders by vec_id itself, so the pair sort (and
    # its pre-sort barrier) would be dead work in this plan
    pairs = similarity.cosine_near_dup_pairs(
        emb, threshold=0.35, dim=64, sort=False
    )
    clusters = dedup.dedup_clusters(
        pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    return (
        emb.select("vec_id")
        .join(clusters.withColumnRenamed("doc", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster"), F.col("vec_id")).alias("cluster"),
        )
        .withColumn("keep", F.col("vec_id") == F.col("cluster"))
    )


EMBEDDING_DEDUP_CANONICAL_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({EMBEDDING_NEAR_DUP_SQL.replace(chr(10), ' ')}) q
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(doc, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a
),
clusters AS (SELECT doc, MIN(r) AS cluster FROM reach GROUP BY doc)
SELECT e.vec_id,
  COALESCE(c.cluster, e.vec_id) AS cluster,
  (e.vec_id = COALESCE(c.cluster, e.vec_id)) AS keep
FROM embeddings e LEFT JOIN clusters c ON c.doc = e.vec_id
"""


def corpus_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-rebalanced corpus sampling (r6 composition): the
    sqrt-temperature mixture weights set each domain's KEEP RATE
    (rate = min(1, boost x base_rate), so under-represented domains are
    upsampled toward the target mix), and the per-document decision is
    the deterministic md5 draw — the materialization step a training
    loader runs after `mixture_weights`. Emits the per-domain audit.

    One scan computes the per-domain aggregate (tiny), which joins back
    as a broadcast; the keep decision stays a per-row expression — no
    extra shuffle over the corpus beyond the final audit groupBy."""
    base_rate = 0.5
    docs = load_table(spark, sf, "documents")
    mix = sampling.mixture_weights(docs, alpha=0.5, group_col="source")
    rates = mix.select(
        F.col("domain").alias("source"),
        F.least(F.lit(1.0), F.col("boost") * base_rate).alias("rate"),
    )
    u = sampling.hash_unit(F.col("doc_id"))
    s = docs.join(F.broadcast(rates), "source").withColumn(
        "kept", u < F.col("rate") * sampling.MERSENNE_P
    )
    return s.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.min(F.when(F.col("kept"), F.col("doc_id"))).alias("first_kept"),
        F.max("rate").alias("rate"),
    )


CORPUS_MIX_SAMPLE_SQL = f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
rates AS (
  SELECT source,
    LEAST(1.0, CAST(CAST(
      (SQRT(CAST(n_tokens AS DOUBLE)) / SUM(SQRT(CAST(n_tokens AS DOUBLE))) OVER ())
      / (n_tokens / SUM(n_tokens) OVER ()) AS DECIMAL(18,6)) AS DOUBLE) * 0.5) AS rate
  FROM per
),
s AS (
  SELECT d.source, d.doc_id, r.rate,
    ({_sql_hex8_mod_p("md5(CAST(doc_id AS VARCHAR))")}) < r.rate * {dedup.MERSENNE_P} AS kept
  FROM documents d JOIN rates r ON r.source = d.source
)
SELECT source, COUNT(*) AS n_total,
  CAST(SUM(CAST(kept AS INT)) AS BIGINT) AS n_kept,
  MIN(CASE WHEN kept THEN doc_id END) AS first_kept,
  MAX(rate) AS rate
FROM s GROUP BY source
"""


def embedding_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """k-NN JOIN (r9): top-5 corpus neighbors for EVERY row of a 4-vector
    query set (vec_id 0..3), self-matches excluded — the batch retrieval
    form (single-query top-k is the |Q|=1 degenerate case). Queries
    broadcast; one corpus pass scores |corpus|x|Q| rows; per-query top-k
    is a window on q_id. Scores = integer-quantized dot (bit-stable);
    ties resolve by corpus id."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    # self-matches excluded BEFORE ranking: each query gets 5 true
    # neighbors (a query that also lives in the corpus always matches
    # itself at cosine 1 otherwise)
    out = similarity.knn_join(
        emb.alias("c"), queries, k=5, exclude_self=True
    )
    return out.select("q_id", "vec_id", "dot_q", "cosine", "rank")


EMBEDDING_KNN_JOIN_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, {_QUANT_SQL.format(v='embedding')} AS qv
  FROM embeddings WHERE vec_id < 4
), scored AS (
  SELECT q.q_id, e.vec_id,
    CAST({_DOT_SQL.format(a=_QUANT_SQL.format(v='e.embedding'), b='q.qv')} AS BIGINT) AS dot_q,
    {_DOT_SQL.format(a=_QUANT_SQL.format(v='e.embedding'), b=_QUANT_SQL.format(v='e.embedding'))} AS n2a,
    {_DOT_SQL.format(a='q.qv', b='q.qv')} AS n2b
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT q_id, vec_id, dot_q,
    CASE WHEN n2a = 0 OR n2b = 0 THEN 0.0
         ELSE dot_q / (SQRT(CAST(n2a AS DOUBLE)) * SQRT(CAST(n2b AS DOUBLE)))
    END AS cosine,
    ROW_NUMBER() OVER (
      PARTITION BY q_id
      ORDER BY CASE WHEN n2a = 0 OR n2b = 0 THEN 0.0
                    ELSE dot_q / (SQRT(CAST(n2a AS DOUBLE)) * SQRT(CAST(n2b AS DOUBLE)))
               END DESC, vec_id ASC
    ) AS rank
  FROM scored WHERE q_id != vec_id
)
SELECT q_id, vec_id, dot_q, cosine, rank
FROM ranked WHERE rank <= 5
"""


def embedding_ann_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (r10 — IVF-PQ's compression half, the
    standard 100 TB index layout): corpus vectors encode to 8 sub-codes
    against deterministic codebooks (sub-slices of the 16 lowest-id
    vectors), and the query scans CODES via per-subvector lookup tables
    (asymmetric distance) — raw vectors are never read at query time.
    Encode is a pure map; the scan's only ordering step is the global
    top-k.  Oracle recomputes codebooks, codes, LUTs, and the ADC ranking
    in SQL — exact integer arithmetic end to end."""
    emb = load_table(spark, sf, "embeddings")
    cbs = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(emb, cbs)
    # the single query vector: a bounded 1x64-int collect (|q|=1 by
    # contract, same adjudication as the plan-time IVF centroids)
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(similarity.quantize(F.col("embedding")).alias("q"))
        .first()["q"]
    ]
    return similarity.pq_adc_topk(codes, qv, cbs, k=10)


_PQ_SUB_L2 = (
    "list_sum(list_transform(range(1, 9), i -> "
    "({a}[s.s*8 + i] - {b}[s.s*8 + i]) * ({a}[s.s*8 + i] - {b}[s.s*8 + i])))"
)

EMBEDDING_PQ_SQL = f"""
WITH e AS (SELECT vec_id, {_QUANT_SQL.format(v='embedding')} AS v FROM embeddings),
cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)
),
subd AS (
  SELECT e.vec_id, s.s, cb.j, {_PQ_SUB_L2.format(a='e.v', b='cb.cv')} AS dist
  FROM e, range(0, 8) s(s), cb
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
    FROM subd)
  WHERE rn = 1
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
lut AS (
  SELECT s.s, cb.j, {_PQ_SUB_L2.format(a='q.qv', b='cb.cv')} AS dist
  FROM q, range(0, 8) s(s), cb
)
SELECT codes.vec_id, CAST(SUM(lut.dist) AS BIGINT) AS adc_dist
FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.j
GROUP BY codes.vec_id
ORDER BY adc_dist ASC, vec_id ASC
LIMIT 10
"""


def embedding_ann_pq_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Two-stage ANN serving (r12): PQ asymmetric-distance scan produces
    a top-50 SHORTLIST from codes alone, then only those 50 ids fetch
    their raw (quantized) vectors for an exact L2² re-rank — the
    standard recall-repair pattern every production ANN deployment runs
    (compressed scan for candidates, exact math for the final order).

    Scale shape: stage 1 reads 8-byte codes only (the 32x scan saving),
    stage 2 is a broadcast of the 50-row shortlist against the corpus —
    the exact kernel touches 50 vectors regardless of corpus size.
    Output carries both distances so the re-rank's effect is visible
    (and oracle-checked)."""
    emb = load_table(spark, sf, "embeddings")
    cbs = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(emb, cbs)
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(similarity.quantize(F.col("embedding")).alias("q"))
        .first()["q"]
    ]
    shortlist = similarity.pq_adc_topk(codes, qv, cbs, k=50)
    qcol = lit_array_long(qv)
    exact = F.aggregate(
        F.zip_with(
            similarity.quantize(F.col("embedding")),
            qcol,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", "adc_dist", exact.alias("exact_dist"))
        .orderBy(F.col("exact_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )




def embedding_ann_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """Composed IVF-PQ index (r10): coarse cells AND PQ codes from one
    map-only encode pass; the query probes its 2 nearest cells and the
    asymmetric-distance scan touches only probed cells' codes — the
    production 100 TB ANN layout end to end.  Oracle recomputes cell
    assignment, probe set, codes, LUTs, and the pruned ADC ranking."""
    emb = load_table(spark, sf, "embeddings")
    cents = similarity.ivf_centroids(emb, n_cells=16)
    cbs = similarity.pq_codebooks(emb)
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(similarity.quantize(F.col("embedding")).alias("q"))
        .first()["q"]
    ]
    return similarity.ivfpq_topk(emb, qv, cents, cbs, k=10, n_probe=2)


_FULL_L2 = (
    "list_sum(list_transform(range(1, 65), i -> "
    "({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)

EMBEDDING_IVFPQ_SQL = f"""
WITH e AS (SELECT vec_id, {_QUANT_SQL.format(v='embedding')} AS v FROM embeddings),
cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)
),
celld AS (
  SELECT e.vec_id, cb.j, {_FULL_L2.format(a='e.v', b='cb.cv')} AS dist
  FROM e, cb
),
cell AS (
  SELECT vec_id, j AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
    FROM celld)
  WHERE rn = 1
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probe AS (
  SELECT j FROM (
    SELECT cb.j, {_FULL_L2.format(a='q.qv', b='cb.cv')} AS dist FROM q, cb
    ORDER BY dist, j LIMIT 2)
),
ep AS (
  SELECT e.vec_id, e.v FROM e
  JOIN cell ON e.vec_id = cell.vec_id
  WHERE cell.cell IN (SELECT j FROM probe)
),
subd AS (
  SELECT ep.vec_id, s.s, cb.j, {_PQ_SUB_L2.format(a='ep.v', b='cb.cv')} AS dist
  FROM ep, range(0, 8) s(s), cb
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
    FROM subd)
  WHERE rn = 1
),
lut AS (
  SELECT s.s, cb.j, {_PQ_SUB_L2.format(a='q.qv', b='cb.cv')} AS dist
  FROM q, range(0, 8) s(s), cb
)
SELECT codes.vec_id, CAST(SUM(lut.dist) AS BIGINT) AS adc_dist
FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.j
GROUP BY codes.vec_id
ORDER BY adc_dist ASC, vec_id ASC
LIMIT 10
"""


EMBEDDING_PQ_RERANK_SQL = f"""
WITH e AS (SELECT vec_id, {_QUANT_SQL.format(v='embedding')} AS v FROM embeddings),
cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)
),
subd AS (
  SELECT e.vec_id, s.s, cb.j, {_PQ_SUB_L2.format(a='e.v', b='cb.cv')} AS dist
  FROM e, range(0, 8) s(s), cb
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
    FROM subd)
  WHERE rn = 1
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
lut AS (
  SELECT s.s, cb.j, {_PQ_SUB_L2.format(a='q.qv', b='cb.cv')} AS dist
  FROM q, range(0, 8) s(s), cb
),
adc AS (
  SELECT codes.vec_id, CAST(SUM(lut.dist) AS BIGINT) AS adc_dist
  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.j
  GROUP BY codes.vec_id
  ORDER BY adc_dist ASC, vec_id ASC
  LIMIT 50
)
SELECT a.vec_id, a.adc_dist,
  CAST({_FULL_L2.format(a='e.v', b='q.qv')} AS BIGINT) AS exact_dist
FROM adc a JOIN e ON e.vec_id = a.vec_id, q
ORDER BY exact_dist ASC, a.vec_id ASC
LIMIT 10
"""


def doc_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """tf-df keyword extraction (r10): top-3 characteristic terms per
    document by (tf desc, df asc, token asc) — the integer-rank form of
    tf-idf, bit-exact with no float log.  Two hash aggs + one window."""
    docs = load_table(spark, sf, "documents")
    return text.top_terms(docs, "doc_id", k=3)


DOC_TOP_TERMS_SQL = """
WITH toks AS (
  SELECT doc_id AS doc, t.token
  FROM documents,
       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(token)
  WHERE length(t.token) >= 4
),
tf AS (SELECT doc, token, COUNT(*) AS tf FROM toks GROUP BY doc, token),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token)
SELECT doc, CAST(rank AS INT) AS rank, token, tf, df FROM (
  SELECT tf.doc, tf.token, tf.tf, dfreq.df,
         ROW_NUMBER() OVER (PARTITION BY tf.doc
                            ORDER BY tf.tf DESC, dfreq.df ASC, tf.token ASC
         ) AS rank
  FROM tf JOIN dfreq USING (token))
WHERE rank <= 3
"""


def ann_recall_report(spark: SparkSession, sf: str) -> DataFrame:
    """Index-quality measurement as a first-class operator (r10): recall@10
    of every ANN route against the exact cosine ranking, for the standard
    query (vec_id 0) — the metric an LLM-retrieval pipeline monitors when
    it tunes probes/bands/codebooks.  Each route's top-10 semi-joins the
    (broadcast-small) exact top-10; the oracle recomputes both rankings
    relationally and intersects.  Integer counts only — bit-stable."""
    from pyspark.storagelevel import StorageLevel

    emb = load_table(spark, sf, "embeddings")
    # index literals — ivf_centroids(n_cells=16) and pq_codebooks(k=16)
    # both collect the 16 lowest-id quantized vectors (same rows), and the
    # standard query is vec_id 0, which is among them: ONE bounded collect
    # replaces three (r14 opt; the slicing replays both constructors).
    rows16 = (
        emb.select(
            F.col("vec_id").alias("__id"),
            similarity.quantize(F.col("embedding")).alias("__v"),
        )
        .orderBy("__id")
        .limit(16)
        .collect()
    )
    cents = [list(r["__v"]) for r in rows16]
    d_sub = len(cents[0]) // similarity.PQ_M
    cbs = [
        [v[s * d_sub : (s + 1) * d_sub] for v in cents]
        for s in range(similarity.PQ_M)
    ]
    qv = next(
        ([int(x) for x in r["__v"]] for r in rows16 if r["__id"] == 0),
        None,
    )
    if qv is None:  # query row not among the 16 lowest ids — fetch it
        qv = [
            int(x)
            for x in emb.filter(F.col("vec_id") == 0)
            .select(similarity.quantize(F.col("embedding")).alias("q"))
            .first()["q"]
        ]
    tcents = _kmeans_cached(spark, sf)

    # ONE fused Arrow pass computes every route's ranking quantities
    # (bit-identical kernels — see similarity.ann_score_table); the five
    # top-10s are then JVM-only TakeOrdered cuts over the persisted
    # per-vector score table instead of five separate kernel passes.
    scores = similarity.ann_score_table(
        emb, qv, cents, tcents, cbs, dim=64
    ).persist(StorageLevel.MEMORY_AND_DISK)
    scores.count()  # materialize once so the route branches share it
    n2q = sum(x * x for x in qv)
    cosine = F.col("dot") / (
        F.sqrt(F.col("n2")) * F.sqrt(F.lit(n2q).cast("long"))
    )
    qb = similarity.query_lsh_bucket(qv, dim=64)
    probes = similarity.query_probe_cells(qv, cents, n=2)
    tprobes = similarity.query_probe_cells(qv, tcents, n=2)

    def top(tag: str, frame: DataFrame, order) -> DataFrame:
        return (
            frame.orderBy(*order)
            .limit(10)
            .select(F.lit(tag).alias("r"), "vec_id")
        )

    by_cos = (cosine.desc(), F.col("vec_id").asc())
    by_adc = (F.col("adc").asc(), F.col("vec_id").asc())
    union = (
        top("exact", scores, by_cos)
        .unionByName(top("lsh", scores.filter(F.col("bucket") == qb), by_cos))
        .unionByName(
            top("ivf", scores.filter(F.col("cell").isin(*probes)), by_cos)
        )
        .unionByName(
            top("ivft", scores.filter(F.col("tcell").isin(*tprobes)), by_cos)
        )
        .unionByName(top("pq", scores, by_adc))
    )
    got: dict[str, set] = {}
    for r in union.collect():
        got.setdefault(r["r"], set()).add(r["vec_id"])
    scores.unpersist()
    exact_ids = got.get("exact", set())
    rows = [
        (name, len(got.get(tag, set()) & exact_ids))
        for name, tag in (
            ("ivf", "ivf"),
            ("ivf_trained", "ivft"),
            ("lsh", "lsh"),
            ("pq", "pq"),
        )
    ]
    return _values_df(spark, rows, [("route", "STRING"), ("hits", "INT")])


def _ann_recall_sql() -> str:
    return f"""
WITH exact AS (SELECT vec_id FROM ({EMBEDDING_TOPK_SQL})),
lsh AS (SELECT vec_id FROM ({EMBEDDING_ANN_SQL})),
ivf AS (SELECT vec_id FROM ({EMBEDDING_IVF_SQL})),
ivft AS (SELECT vec_id FROM ({EMBEDDING_IVF_TRAINED_SQL})),
pq AS (SELECT vec_id FROM ({EMBEDDING_PQ_SQL}))
SELECT 'ivf' AS route,
  CAST((SELECT count(*) FROM ivf WHERE vec_id IN (SELECT vec_id FROM exact)) AS INT) AS hits
UNION ALL
SELECT 'ivf_trained' AS route,
  CAST((SELECT count(*) FROM ivft WHERE vec_id IN (SELECT vec_id FROM exact)) AS INT) AS hits
UNION ALL
SELECT 'lsh' AS route,
  CAST((SELECT count(*) FROM lsh WHERE vec_id IN (SELECT vec_id FROM exact)) AS INT) AS hits
UNION ALL
SELECT 'pq' AS route,
  CAST((SELECT count(*) FROM pq WHERE vec_id IN (SELECT vec_id FROM exact)) AS INT) AS hits
"""


def multimodal_raster_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Pixel-TRUE image resize over an uncompressed raster container (r10):
    synthesize QR01 grayscale rasters with an arithmetic pixel formula,
    nearest-neighbor downscale 1/2 in numpy inside the mapInPandas kernel
    (real pixel bytes, not just the header), then checksum the RESIZED
    bytes position-sensitively.  The oracle recomputes the same resized
    pixels from the formula — a single wrong or misplaced byte breaks the
    value hash."""
    docs = load_table(spark, sf, "documents").select("doc_id")
    rasters = multimodal.synthesize_raster(docs)
    small = multimodal.resize_image(rasters, num=1, den=2, payload_col="payload")
    return multimodal.raster_stats(small)


# Mirrors the synthesizer + resampler arithmetic: w = 8+(id*7)%24,
# h = 8+(id*13)%16, NN 1/2 downscale picks source pixel (2y, 2x), pixel
# value = (id + src_index*31) % 251, checksum weights each resized pixel
# by its output position + 1.
MULTIMODAL_RASTER_SQL = """
WITH dims AS (
  SELECT doc_id,
         8 + (doc_id * 7) % 24 AS w,
         8 + (doc_id * 13) % 16 AS h
  FROM documents
),
d2 AS (SELECT doc_id, w, h, w // 2 AS w2, h // 2 AS h2 FROM dims)
SELECT d.doc_id,
  CAST(d.w2 AS INT) AS width,
  CAST(d.h2 AS INT) AS height,
  CAST(12 + d.w2 * d.h2 AS INT) AS n_bytes,
  CAST(SUM(((d.doc_id + ((y.y * 2) * d.w + x.x * 2) * 31) % 251)
           * (y.y * d.w2 + x.x + 1)) AS BIGINT) AS checksum
FROM d2 d, range(0, 12) y(y), range(0, 16) x(x)
WHERE y.y < d.h2 AND x.x < d.w2
GROUP BY d.doc_id, d.w2, d.h2
"""


def multimodal_dhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash image dedup — the dedup x multimodal bridge (r13,
    VERDICT r12 task 8): dHash every DECODED raster (9x8 nearest-neighbor
    grid, sign of adjacent-pixel differences, 64 bits packed hi/lo), then
    group identical hashes — the screen an image-corpus pipeline runs
    before training.  Demo corpus: documents map to images via
    ``img_id = doc_id % 173`` so real duplicate groups exist (several
    docs share one image), mirroring how crawl corpora repeat images
    across pages.

    Scale shape: hash once per DISTINCT image (map-only Arrow kernel over
    the decoded bytes), join the 16-byte fingerprint back to the doc
    mapping, one groupBy on the hash — the exact-dedup discipline
    (`dedup.cpp`'s hash-key groupBy, applied to pixels).  The oracle
    recomputes the dHash arithmetically from the synthesizer formula, so
    the value hash pins the sampling grid, the comparison sign, and the
    bit packing."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", (F.col("doc_id") % 173).alias("img_id")
    )
    imgs = docs.select("img_id").distinct()
    rasters = multimodal.synthesize_raster(imgs, id_col="img_id")
    hashed = multimodal.raster_dhash(rasters).withColumnRenamed(
        "doc_id", "img_id"
    )
    return (
        docs.join(hashed, "img_id")
        .groupBy("dhash_hi", "dhash_lo")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
        .orderBy("dhash_hi", "dhash_lo")
    )


def _dhash_half_sql(half: int) -> str:
    """One packed 32-bit dHash half from the synthesizer arithmetic:
    pixel(idx) = (img_id + idx*31) % 251 over a w x h raster with
    w = 8+(img_id*7)%24, h = 8+(img_id*13)%16, sampled at
    src_r = r*h//8, src_c = c*w//9 (the raster_dhash grid)."""
    terms = []
    for r in range(half * 4, half * 4 + 4):
        for c in range(8):
            p1 = f"((img_id + ((({r} * h) // 8) * w + (({c} * w) // 9)) * 31) % 251)"
            p2 = f"((img_id + ((({r} * h) // 8) * w + ((({c} + 1) * w) // 9)) * 31) % 251)"
            weight = 1 << ((r - half * 4) * 8 + c)
            terms.append(f"(CASE WHEN {p1} < {p2} THEN {weight} ELSE 0 END)")
    return " + ".join(terms)


MULTIMODAL_DHASH_SQL = f"""
WITH d AS (SELECT doc_id, doc_id % 173 AS img_id FROM documents),
dims AS (
  SELECT DISTINCT img_id,
         8 + (img_id * 7) % 24 AS w,
         8 + (img_id * 13) % 16 AS h
  FROM d
),
hs AS (
  SELECT img_id,
         CAST({_dhash_half_sql(0)} AS BIGINT) AS dhash_hi,
         CAST({_dhash_half_sql(1)} AS BIGINT) AS dhash_lo
  FROM dims
),
j AS (SELECT d.doc_id, hs.dhash_hi, hs.dhash_lo FROM d JOIN hs USING (img_id))
SELECT dhash_hi, dhash_lo, MIN(doc_id) AS canonical_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM j GROUP BY 1, 2 HAVING COUNT(*) > 1 ORDER BY 1, 2
"""


def multimodal_dhash_hamming(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual NEAR-dup image pairs (r13): banded Hamming over dHash —
    exact-dHash grouping (`multimodal_dhash_neardup`) catches identical
    fingerprints, this catches visually-similar ones (<= 6 flipped
    difference bits of 64), the screen that survives re-encode /
    brightness jitter.  LSH discipline end to end: 4x16-bit bands
    generate candidates, only collisions pay the exact popcount — never
    all-pairs.  The oracle replays the SAME banding (candidates, then
    filter), so both engines agree on the banded result by construction
    rather than relying on recall."""
    docs = load_table(spark, sf, "documents").select(
        (F.col("doc_id") % 173).alias("img_id")
    )
    imgs = docs.select("img_id").distinct()
    rasters = multimodal.synthesize_raster(imgs, id_col="img_id")
    hashed = multimodal.raster_dhash(rasters).withColumnRenamed(
        "doc_id", "img_id"
    )
    return multimodal.dhash_hamming_pairs(
        hashed, id_col="img_id", max_hamming=6
    ).orderBy("img_a", "img_b")


MULTIMODAL_DHASH_HAMMING_SQL = f"""
WITH d AS (SELECT DISTINCT doc_id % 173 AS img_id FROM documents),
dims AS (
  SELECT img_id,
         8 + (img_id * 7) % 24 AS w,
         8 + (img_id * 13) % 16 AS h
  FROM d
),
hs AS (
  SELECT img_id,
         CAST({_dhash_half_sql(0)} AS BIGINT) AS dhash_hi,
         CAST({_dhash_half_sql(1)} AS BIGINT) AS dhash_lo
  FROM dims
),
bands AS (
  SELECT img_id, b.b AS band,
         CASE b.b WHEN 0 THEN dhash_hi % 65536
                  WHEN 1 THEN dhash_hi // 65536
                  WHEN 2 THEN dhash_lo % 65536
                  ELSE dhash_lo // 65536 END AS key
  FROM hs, range(0, 4) b(b)
),
cand AS (
  SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.img_id < b.img_id
),
p AS (
  SELECT img_a, img_b,
         CAST(bit_count(xor(ha.dhash_hi, hb.dhash_hi))
            + bit_count(xor(ha.dhash_lo, hb.dhash_lo)) AS BIGINT) AS hamming
  FROM cand
  JOIN hs ha ON ha.img_id = cand.img_a
  JOIN hs hb ON hb.img_id = cand.img_b
)
SELECT img_a, img_b, hamming FROM p WHERE hamming <= 6 ORDER BY img_a, img_b
"""


def multimodal_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    """Audio leg of the multimodal family (r10): synthesize signed-8-bit
    PCM containers with an arithmetic sample formula, then compute REAL
    windowed DSP features (per-128-sample frame energy / strict
    zero-crossings / peak) in a vectorized numpy kernel.  The oracle
    recomputes every frame feature from the formula — integer-exact, so
    the hash pins the actual signal math, not just row counts."""
    docs = load_table(spark, sf, "documents").select("doc_id")
    audio = multimodal.synthesize_audio(docs)
    return multimodal.audio_features(audio, frame=128)


# Mirrors the synthesizer + framer arithmetic: rate = 8000+(id%3)*4000,
# n = 256+(id%7)*64, s(i) = ((id + i*37) % 199) - 99, frames = n // 128,
# within-frame adjacent pairs only for zero crossings.
MULTIMODAL_AUDIO_SQL = """
WITH docs AS (
  SELECT doc_id,
         CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
         CAST(256 + (doc_id % 7) * 64 AS INT) AS n_samples
  FROM documents
),
frames AS (
  SELECT d.*, CAST(f.f AS INT) AS frame_idx
  FROM docs d, range(0, 5) f(f)
  WHERE f.f < n_samples // 128
),
samples AS (
  SELECT fr.doc_id, fr.frame_idx, fr.sample_rate, fr.n_samples, i.i,
         ((fr.doc_id + (fr.frame_idx * 128 + i.i) * 37) % 199) - 99 AS s,
         CASE WHEN i.i < 127 THEN
           ((fr.doc_id + (fr.frame_idx * 128 + i.i + 1) * 37) % 199) - 99
         END AS s_next
  FROM frames fr, range(0, 128) i(i)
)
SELECT doc_id, frame_idx, sample_rate, n_samples,
  CAST(SUM(s * s) AS BIGINT) AS energy,
  CAST(count_if(s * s_next < 0) AS INT) AS zero_crossings,
  CAST(MAX(ABS(s)) AS INT) AS peak
FROM samples
GROUP BY doc_id, frame_idx, sample_rate, n_samples
"""


def multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sample + resize pipeline (r9): documents → deterministic
    frame containers (2 + doc_id%4 length-prefixed PNG frames) → every-2nd
    frame exploded to its own row (mapInPandas 1→N) → header-true half
    resize → dimensions decoded back FROM THE BYTES. The oracle recomputes
    every field arithmetically, so container build, frame walk, resize
    header rewrite, and decode must all agree byte-for-byte."""
    docs = load_table(spark, sf, "documents")
    vids = multimodal.synthesize_video(docs)
    frames = multimodal.sample_frames(vids, every=2)
    small = multimodal.resize_image(frames, num=1, den=2)
    dec = multimodal.decode_image(
        small.select(
            (F.col("doc_id") * 8 + F.col("frame_idx")).alias("doc_id"),
            F.col("frame").alias("payload"),
        )
    ).select(
        F.col("doc_id").alias("frame_key"),
        F.col("width").alias("w2"),
        F.col("height").alias("h2"),
    )
    return (
        small.select(
            "doc_id",
            "n_frames",
            "frame_idx",
            (F.col("doc_id") * 8 + F.col("frame_idx")).alias("frame_key"),
        )
        .join(dec, "frame_key")
        .select("doc_id", "n_frames", "frame_idx", "w2", "h2")
    )


# frame i of doc d is a PNG sized _dims(d*31+i) = (16+((d*31+i)*7)%625,
# 16+((d*31+i)*13)%465); sampling keeps even i < 2 + d%4; the half resize
# floors each dimension (min 1 — unreachable here since dims >= 16).
MULTIMODAL_FRAMES_SQL = """
SELECT d.doc_id,
  CAST(2 + d.doc_id % 4 AS INTEGER) AS n_frames,
  CAST(t.i AS INTEGER) AS frame_idx,
  CAST((16 + ((d.doc_id * 31 + t.i) * 7) % 625) // 2 AS INTEGER) AS w2,
  CAST((16 + ((d.doc_id * 31 + t.i) * 13) % 465) // 2 AS INTEGER) AS h2
FROM documents d, range(0, 6) t(i)
WHERE t.i < 2 + d.doc_id % 4 AND t.i % 2 = 0
"""

# ANN_RECALL_SQL is assigned at module end: the trained-IVF route's SQL
# (EMBEDDING_IVF_TRAINED_SQL) is defined below in the k-means section.


# --------------------------------------------------------------------------
# Distributed k-means training (r10)
# --------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2
_KM_OFF = 1 << 20  # similarity.KM_OFF — positive operands make // a floor


def embedding_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (r10): train
    `_KM_ITERS` assignment+update rounds on the fixed-point grid, then
    report (cell, pos, cval, size, inertia) — the full trained model plus
    final-assignment statistics, every value an exact integer.  The
    oracle replays the identical iterations as a DuckDB CTE chain, so an
    assignment tie-break, floor-mean, or empty-cell divergence on either
    side breaks the hash."""
    emb = load_table(spark, sf, "embeddings")
    # one persisted (__id, __q) frame feeds init + both Lloyd's rounds +
    # the final report pass (r14 opt, guide §2.4/§6): previously training
    # and the report each re-scanned parquet and re-ran the quantize
    # kernel.  Every collect stays model-bounded (k / k*dim rows).
    q = similarity.quant_frame(emb, "vec_id", "embedding").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        cents = similarity.kmeans_train_frame(q, _KM_K, _KM_ITERS)
        rows = similarity.kmeans_report_rows(q, cents)
    finally:
        q.unpersist()
    # NOTE (r14, measured): coalesce(1) + sortWithinPartitions on the
    # createDataFrame relation measured 0.7 -> 4-5 s per action; the
    # VALUES text keeps the rows a Catalyst LocalRelation so the sort
    # stays trivial (see _values_df)
    return _values_df(
        spark,
        rows,
        [("cell", "INT"), ("pos", "INT"), ("cval", "BIGINT"), ("size", "BIGINT"), ("inertia", "BIGINT")],
        order_by=["cell", "pos"],
    )


def _kmeans_cte(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    """CTE chain replaying kmeans_train: ex = unnested quantized corpus,
    c0 = init (k lowest-id vectors), then per iteration assignment by
    exact squared-L2 argmin (ties -> lower cell) and floor-mean update
    (empty cells keep their centroid).  Final centroids: c{iters}."""
    parts = [f"""ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings),
init_ids AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})),
c0 AS (SELECT i.cell, ex.pos, ex.q AS cval FROM ex JOIN init_ids i USING (vec_id))"""]
    for i in range(1, iters + 1):
        p = f"c{i - 1}"
        parts.append(f"""d{i} AS (
  SELECT ex.vec_id, c.cell, SUM((ex.q - c.cval) * (ex.q - c.cval)) AS dist
  FROM ex JOIN {p} c ON ex.pos = c.pos GROUP BY 1, 2),
a{i} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM d{i}) WHERE rn = 1),
s{i} AS (
  SELECT a.cell, ex.pos, SUM(ex.q) AS s, COUNT(*) AS cnt
  FROM ex JOIN a{i} a USING (vec_id) GROUP BY 1, 2),
c{i} AS (
  SELECT c.cell, c.pos,
         COALESCE((s.s + s.cnt * {_KM_OFF}) // s.cnt - {_KM_OFF}, c.cval) AS cval
  FROM {p} c LEFT JOIN s{i} s ON c.cell = s.cell AND c.pos = s.pos)""")
    return ",\n".join(parts)


def _kmeans_report_sql(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    t = iters
    return f"""
WITH {_kmeans_cte(k, iters)},
fd AS (
  SELECT ex.vec_id, c.cell, SUM((ex.q - c.cval) * (ex.q - c.cval)) AS dist
  FROM ex JOIN c{t} c ON ex.pos = c.pos GROUP BY 1, 2),
fa AS (
  SELECT vec_id, cell, dist FROM (
    SELECT vec_id, cell, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM fd) WHERE rn = 1),
g AS (
  SELECT cell, COUNT(*) AS size, SUM(dist) AS inertia FROM fa GROUP BY cell)
SELECT CAST(c.cell AS INTEGER) AS cell, CAST(c.pos AS INTEGER) AS pos,
       CAST(c.cval AS BIGINT) AS cval,
       CAST(COALESCE(g.size, 0) AS BIGINT) AS size,
       CAST(COALESCE(g.inertia, 0) AS BIGINT) AS inertia
FROM c{t} c LEFT JOIN g USING (cell)
ORDER BY cell, pos
"""


EMBEDDING_KMEANS_SQL = _kmeans_report_sql()


_CBS_CAP = 20


def cluster_balanced_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-balanced subsampling (r12): train the k-means quantizer,
    assign every vector to its cell (one Arrow map pass, centroids as
    plan literals), then keep at most `_CBS_CAP` vectors per cell by a
    deterministic hash priority — the topic-balancing step a corpus
    pipeline runs so over-represented clusters cannot dominate a
    training mix (the SemDeDup/DSIR-style diversity cut).

    Scale shape: assignment is map-only; the per-cell cap is one
    row_number window partitioned by cell (in production k is large —
    thousands of cells — so the partitioning spreads; the md5 priority
    makes the kept set replayable by any engine).  The oracle replays
    training, assignment, and the capped ranking as one CTE chain."""
    from pyspark.sql import Window

    emb = load_table(spark, sf, "embeddings")
    # train over one persisted (__id, __q) frame (r14 opt — see
    # embedding_kmeans); the ASSIGNMENT pass stays on the raw column
    # (its quantize runs vectorized inside the Arrow kernel, and the
    # returned plan must not reference a by-then-unpersisted frame).
    q = similarity.quant_frame(emb, "vec_id", "embedding").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        cents = similarity.kmeans_train_frame(q, _KM_K, _KM_ITERS)
    finally:
        q.unpersist()
    assigned = similarity.kmeans_assign(emb, cents)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assigned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _CBS_CAP)
        .select("vec_id", F.col("cell").cast("int").alias("cell"))
        .orderBy("cell", "vec_id")
    )


def _cluster_balanced_sample_sql(
    k: int = _KM_K, iters: int = _KM_ITERS, cap: int = _CBS_CAP
) -> str:
    t = iters
    return f"""
WITH {_kmeans_cte(k, iters)},
fd AS (
  SELECT ex.vec_id, c.cell, SUM((ex.q - c.cval) * (ex.q - c.cval)) AS dist
  FROM ex JOIN c{t} c ON ex.pos = c.pos GROUP BY 1, 2),
fa AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM fd) WHERE rn = 1),
r AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (
           PARTITION BY cell
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
  FROM fa)
SELECT vec_id, CAST(cell AS INTEGER) AS cell
FROM r WHERE rk <= {cap}
ORDER BY cell, vec_id
"""


CLUSTER_BALANCED_SAMPLE_SQL = _cluster_balanced_sample_sql()


def embedding_ann_ivf_trained(spark: SparkSession, sf: str) -> DataFrame:
    """IVF probe over a TRAINED coarse quantizer (r10): same pruned scan
    shape as `embedding_ann_ivf`, but the cells come from kmeans_train
    instead of deterministic sampling — the index an actual deployment
    ships.  Oracle: the k-means CTE chain feeding the same probe logic."""
    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    cents = _kmeans_cached(spark, sf)
    return similarity.ann_ivf_topk(emb, query, cents, k=10, n_probe=2)


EMBEDDING_IVF_TRAINED_SQL = f"""
WITH {_kmeans_cte()},
e AS (SELECT vec_id, {_QUANT_SQL.format(v='embedding')} AS v FROM embeddings),
fd AS (
  SELECT ex.vec_id, c.cell, SUM((ex.q - c.cval) * (ex.q - c.cval)) AS dist
  FROM ex JOIN c{_KM_ITERS} c ON ex.pos = c.pos GROUP BY 1, 2),
fa AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM fd) WHERE rn = 1),
qp AS (
  SELECT cell AS qc FROM (
    SELECT cell, ROW_NUMBER() OVER (ORDER BY dist, cell) AS rn
    FROM fd WHERE vec_id = 0) WHERE rn <= 2),
qq AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, e.v, fa.cell, qq.qv
  FROM e JOIN fa USING (vec_id) JOIN qp ON fa.cell = qp.qc CROSS JOIN qq)
SELECT vec_id,
  {_DOT_SQL.format(a='v', b='qv')}
    / (SQRT({_DOT_SQL.format(a='v', b='v')}) * SQRT({_DOT_SQL.format(a='qv', b='qv')})) AS cosine,
  cell
FROM cand
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


# assigned here (not at the report function) so the trained-IVF CTE can
# reference EMBEDDING_IVF_TRAINED_SQL defined above
ANN_RECALL_SQL = _ann_recall_sql()


# --------------------------------------------------------------------------
# Trained product quantization (r10): per-subspace k-means
# --------------------------------------------------------------------------

_PQT_ITERS = 2
_PQT_DSUB = 8  # dim 64 / PQ_M 8


def embedding_pq_train(spark: SparkSession, sf: str) -> DataFrame:
    """PQ codebook TRAINING (r10): per-subspace k-means, all 8 subspaces in
    one aggregate per Lloyd's round (the FAISS recipe; `embedding_ann_pq`
    uses the sampled init).  Returns every trained codeword value plus its
    final usage count — the full trained model, exact integers, against a
    DuckDB CTE replay of the identical iterations."""
    emb = load_table(spark, sf, "embeddings")
    # one persisted (__id, __q) frame feeds init + both rounds + the
    # final usage count (r14 opt — see embedding_kmeans): previously the
    # usage pass re-scanned parquet and re-ran the encode kernel.  The
    # usage collect is m*k model rows — bounded.
    q = similarity.quant_frame(emb, "vec_id", "embedding").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        cbs = similarity.pq_train_frame(
            q, similarity.PQ_M, similarity.PQ_K, _PQT_ITERS
        )
        usage = similarity.pq_usage_rows(q, cbs)
    finally:
        q.unpersist()
    rows = [
        (s, j, p, int(v), usage.get((s, j), 0))
        for s, cb in enumerate(cbs)
        for j, cw in enumerate(cb)
        for p, v in enumerate(cw)
    ]
    return _values_df(
        spark,
        rows,
        [("sub", "INT"), ("code", "INT"), ("subpos", "INT"), ("cval", "BIGINT"), ("used", "BIGINT")],
        order_by=["sub", "code", "subpos"],
    )


def _pq_train_cte(iters: int = _PQT_ITERS) -> str:
    """CTE chain replaying pq_train: exs = (vec, subspace, subpos, q),
    cb0 = sampled init (PQ_K lowest-id vectors sliced), then per round
    per-(vec, subspace) argmin assignment (ties -> lowest code) and
    floor-mean codeword update (empty codewords persist)."""
    parts = [f"""ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings),
exs AS (
  SELECT vec_id, CAST(pos // {_PQT_DSUB} AS INT) AS sub,
         CAST(pos % {_PQT_DSUB} AS INT) AS subpos, q
  FROM ex),
ii AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {similarity.PQ_K})),
cb0 AS (SELECT i.code, e.sub, e.subpos, e.q AS cval
        FROM exs e JOIN ii i USING (vec_id))"""]
    for i in range(1, iters + 1):
        p = f"cb{i - 1}"
        parts.append(f"""pd{i} AS (
  SELECT e.vec_id, e.sub, c.code,
         SUM((e.q - c.cval) * (e.q - c.cval)) AS dist
  FROM exs e JOIN {p} c ON e.sub = c.sub AND e.subpos = c.subpos
  GROUP BY 1, 2, 3),
pa{i} AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM pd{i}) WHERE rn = 1),
ps{i} AS (
  SELECT a.sub, a.code, e.subpos, SUM(e.q) AS s, COUNT(*) AS cnt
  FROM exs e JOIN pa{i} a ON e.vec_id = a.vec_id AND e.sub = a.sub
  GROUP BY 1, 2, 3),
cb{i} AS (
  SELECT c.sub, c.code, c.subpos,
         COALESCE((s.s + s.cnt * {_KM_OFF}) // s.cnt - {_KM_OFF}, c.cval) AS cval
  FROM {p} c LEFT JOIN ps{i} s
    ON c.sub = s.sub AND c.code = s.code AND c.subpos = s.subpos)""")
    return ",\n".join(parts)


EMBEDDING_PQ_TRAIN_SQL = f"""
WITH {_pq_train_cte()},
fd AS (
  SELECT e.vec_id, e.sub, c.code,
         SUM((e.q - c.cval) * (e.q - c.cval)) AS dist
  FROM exs e JOIN cb{_PQT_ITERS} c ON e.sub = c.sub AND e.subpos = c.subpos
  GROUP BY 1, 2, 3),
fa AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM fd) WHERE rn = 1),
u AS (SELECT sub, code, COUNT(*) AS used FROM fa GROUP BY 1, 2)
SELECT CAST(c.sub AS INTEGER) AS sub, CAST(c.code AS INTEGER) AS code,
       CAST(c.subpos AS INTEGER) AS subpos, CAST(c.cval AS BIGINT) AS cval,
       CAST(COALESCE(u.used, 0) AS BIGINT) AS used
FROM cb{_PQT_ITERS} c LEFT JOIN u ON c.sub = u.sub AND c.code = u.code
ORDER BY sub, code, subpos
"""


def embedding_ann_pq_trained(spark: SparkSession, sf: str) -> DataFrame:
    """ADC scan over TRAINED codebooks (r10): identical query shape to
    `embedding_ann_pq` (map-only encode, LUT distance over codes, one
    top-k) — the codebooks just come from pq_train.  Training quality
    shows up as a smaller quantization error for the same scan cost."""
    emb = load_table(spark, sf, "embeddings")
    cbs = _pq_cached(spark, sf)
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(similarity.quantize(F.col("embedding")).alias("q"))
        .first()["q"]
    ]
    return similarity.pq_adc_topk(similarity.pq_encode(emb, cbs), qv, cbs, k=10)


EMBEDDING_PQ_TRAINED_SQL = f"""
WITH {_pq_train_cte()},
fd AS (
  SELECT e.vec_id, e.sub, c.code,
         SUM((e.q - c.cval) * (e.q - c.cval)) AS dist
  FROM exs e JOIN cb{_PQT_ITERS} c ON e.sub = c.sub AND e.subpos = c.subpos
  GROUP BY 1, 2, 3),
fa AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM fd) WHERE rn = 1),
qd AS (
  SELECT c.sub, c.code, SUM((e.q - c.cval) * (e.q - c.cval)) AS d
  FROM exs e JOIN cb{_PQT_ITERS} c ON e.sub = c.sub AND e.subpos = c.subpos
  WHERE e.vec_id = 0
  GROUP BY 1, 2)
SELECT fa.vec_id, CAST(SUM(qd.d) AS BIGINT) AS adc_dist
FROM fa JOIN qd ON fa.sub = qd.sub AND fa.code = qd.code
GROUP BY fa.vec_id
ORDER BY adc_dist ASC, vec_id ASC
LIMIT 10
"""


def mixture_temperature_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature sweep over the quarter-grid alphas (r10): the mixture
    table a data-loader ablation actually compares — one row per
    (alpha, domain) with weight and boost.  One spark.sql text (replaces
    ~750 py4j round-trips of four mixture_weights builds — r14).
    All four powers compose from IEEE-exact sqrt (libm pow() is not
    bit-deterministic across engines), so every value hash-matches the
    oracle."""
    from .pipeline.dedup import _sql_tokens_text

    docs = load_table(spark, sf, "documents")
    x = "CAST(n_tokens AS DOUBLE)"
    pws = {
        0.25: f"sqrt(sqrt({x}))",
        0.5: f"sqrt({x})",
        0.75: f"(sqrt({x}) * sqrt(sqrt({x})))",
        1.0: x,
    }
    arms = "\nUNION ALL\n".join(
        f"""SELECT {a}D AS alpha, domain, n_docs, n_tokens,
  CAST(CAST(({pw} / sum({pw}) OVER ()) AS DECIMAL(18,6)) AS DOUBLE) AS weight,
  CAST(CAST((({pw} / sum({pw}) OVER ()) / (n_tokens / sum(n_tokens) OVER ())) AS DECIMAL(18,6)) AS DOUBLE) AS boost
FROM per"""
        for a, pw in pws.items()
    )
    q = f"""
WITH per AS (
  SELECT source AS domain, count(*) AS n_docs,
         sum(size({_sql_tokens_text("text")})) AS n_tokens
  FROM {{inp}} GROUP BY source
)
{arms}
"""
    return spark.sql(q, inp=docs)


def _mix_sweep_sql() -> str:
    pws = {
        0.25: "SQRT(SQRT(CAST(n_tokens AS DOUBLE)))",
        0.5: "SQRT(CAST(n_tokens AS DOUBLE))",
        0.75: "SQRT(CAST(n_tokens AS DOUBLE)) * SQRT(SQRT(CAST(n_tokens AS DOUBLE)))",
        1.0: "CAST(n_tokens AS DOUBLE)",
    }
    arms = " UNION ALL ".join(
        f"""SELECT CAST({a} AS DOUBLE) AS alpha, domain, n_docs, n_tokens,
  CAST(CAST({pw} / SUM({pw}) OVER () AS DECIMAL(18,6)) AS DOUBLE) AS weight,
  CAST(CAST(({pw} / SUM({pw}) OVER ()) / (n_tokens / SUM(n_tokens) OVER ())
    AS DECIMAL(18,6)) AS DOUBLE) AS boost
FROM per"""
        for a, pw in pws.items()
    )
    return f"""
WITH per AS (
  SELECT source AS domain, COUNT(*) AS n_docs,
    CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
{arms}
"""


MIXTURE_SWEEP_SQL = _mix_sweep_sql()


def bpe_merge_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-style merge-candidate statistics (r10): the top adjacent token
    pairs across the corpus — the quantity a BPE/unigram trainer ranks at
    every merge step.  Pairs build IN-ROW (transform over the token array,
    no lag shuffle), then one hash aggregate and one top-k; ties resolve
    lexicographically so the ranking is engine-stable."""
    docs = load_table(spark, sf, "documents")
    toks = text.tokens_col(F.col("text"))
    pairs = F.expr(
        "transform(slice(__toks, 1, greatest(size(__toks) - 1, 0)), "
        "(t, i) -> struct(t AS a, element_at(__toks, i + 2) AS b))"
    )
    return (
        docs.select(toks.alias("__toks"))
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "tok_a", "tok_b")
        .limit(50)
    )


BPE_MERGE_SQL = f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> [t[i], t[i + 1]])) AS p
  FROM toks
)
SELECT p[1] AS tok_a, p[2] AS tok_b, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs
GROUP BY 1, 2
ORDER BY n DESC, tok_a, tok_b
LIMIT 50
"""


_BPE_MERGES = 3


def bpe_train_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative BPE merge training (r10): 3 rounds of count-pairs ->
    argmax -> greedy corpus rewrite (pipeline/text.bpe_train), returning
    the learned merge table plus the live corpus token count AFTER all
    merges (computed through the full fold chain, so the rewrite
    expressions themselves are oracle-checked, not just the argmaxes)."""
    docs = load_table(spark, sf, "documents")
    merges = text.bpe_train(docs, merges=_BPE_MERGES)
    # the greedy fold is interpreted per element — width-repartition the
    # apply pass so 3 stacked folds don't run on one small-file split
    applied = text.bpe_apply(
        docs.repartition(spark.sparkContext.defaultParallelism), merges
    )
    after = applied.agg(
        F.sum(F.size("__t")).cast("bigint").alias("corpus_tokens_after")
    )
    # pandas/Arrow local relation — see pipeline/dedup.dedup_clusters
    # (r14 session 4): one Arrow batch instead of pickle + 32-slice
    # parallelize; strings ride the batch untouched (no VALUES quoting).
    import pandas as _pd

    mdf = spark.createDataFrame(
        _pd.DataFrame(merges, columns=["rank", "tok_a", "tok_b", "n"]),
        schema="rank int, tok_a string, tok_b string, n bigint",
    )
    return mdf.crossJoin(F.broadcast(after)).orderBy("rank")


def _bpe_train_sql(merges: int = _BPE_MERGES) -> str:
    parts = [f"t0 AS (SELECT {_TOKS} AS t FROM documents)"]
    for i in range(1, merges + 1):
        p = f"t{i - 1}"
        parts.append(f"""p{i} AS (
  SELECT p[1] AS a, p[2] AS b, COUNT(*) AS n FROM (
    SELECT unnest(list_transform(range(1, len(t)), j -> [t[j], t[j + 1]])) AS p
    FROM {p})
  GROUP BY 1, 2),
m{i} AS (SELECT a, b, CAST(n AS BIGINT) AS n FROM p{i} ORDER BY n DESC, a, b LIMIT 1),
t{i} AS (
  SELECT CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
    ELSE reduce(list_transform(t, x -> [x]), (acc, x) ->
      CASE WHEN len(acc) > 0 AND acc[-1] = m{i}.a AND x[1] = m{i}.b
           THEN list_slice(acc, 1, len(acc) - 1) || [m{i}.a || ' ' || m{i}.b]
           ELSE acc || x END)
    END AS t
  FROM {p} CROSS JOIN m{i})""")
    arms = " UNION ALL ".join(
        f"SELECT {i} AS rank, a AS tok_a, b AS tok_b, n FROM m{i}"
        for i in range(1, merges + 1)
    )
    joined = ",\n".join(parts)
    return f"""
WITH {joined},
mt AS ({arms}),
fin AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS corpus_tokens_after FROM t{merges})
SELECT CAST(mt.rank AS INTEGER) AS rank, mt.tok_a, mt.tok_b, mt.n,
       fin.corpus_tokens_after
FROM mt CROSS JOIN fin
ORDER BY rank
"""


BPE_TRAIN_SQL = _bpe_train_sql()


def incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ingest gate (r10): classify NEW documents (doc_id%5==0
    — the held-out "incoming batch") against the EXISTING corpus (the
    rest): 'exact_dup' (content hash already stored), 'near_dup' (shares
    a MinHash LSH band with a stored doc), or 'kept'.  This is the gate a
    continuously-growing training corpus runs per delivery — dedup against
    the STORE, not within the batch (in-batch dedup is `dedup_exact`).
    Scale shape: one hash semi-join + one banded semi-join, both equi-key;
    the corpus side is the big one and never self-joins."""
    docs = load_table(spark, sf, "documents")
    is_new = (F.col("doc_id") % 5) == 0
    newh = docs.filter(is_new).select(
        F.col("doc_id").alias("doc"), F.md5("text").alias("__h")
    )
    corph = docs.filter(~is_new).select(F.md5("text").alias("__h")).distinct()
    sig = dedup.minhash_signature(docs, "doc_id", n_hashes=_MH_HASHES)
    bt = dedup.lsh_band_table(sig, _MH_HASHES, _MH_BAND).selectExpr(
        "doc", "(doc % 5) = 0 AS is_new", "band", "val"
    )
    # new docs sharing an LSH band with any stored doc (both band sides
    # hang off sig's groupBy(doc) exchange — one signature pass)
    shares = (
        bt.filter("is_new")
        .join(
            bt.filter(~F.col("is_new")).select("band", "val").distinct(),
            ["band", "val"],
            "left_semi",
        )
        .select("doc")
        .distinct()
    )
    # Single-pass verdict (r14 session 4, guide §2.4): the old
    # exact/near/kept three-branch union re-executed newh/corph and the
    # rest anti-join once PER BRANCH (broadcast-join outputs are not
    # exchange-bounded, so AQE cannot reuse them).  One row per incoming
    # doc with two left-join flags computes the identical partition:
    # exact wins over near by CASE order exactly as `rest` gated the old
    # near/kept branches.
    return (
        newh.join(corph.withColumn("__e", F.lit(1)), "__h", "left")
        .join(shares.withColumn("__n", F.lit(1)), "doc", "left")
        .select(
            "doc",
            F.when(F.col("__e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("__n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
        # materialization barrier before the global sort (r14, guide
        # §2.4): RangePartitioning samples its child then shuffles it,
        # and this join chain is not exchange-bounded — without the
        # barrier it executes twice more.  AQE coalesces the tiny
        # verdict rows to advisory size at any scale.
        .repartition(F.col("doc"))
        .orderBy("doc")
    )


def _incremental_dedup_sql() -> str:
    n_bands = _MH_HASHES // _MH_BAND
    band_rows = " UNION ALL ".join(
        "SELECT doc, is_new, {b} AS band, concat_ws('-', ".format(b=b)
        + ", ".join(f"h{b * _MH_BAND + j}" for j in range(_MH_BAND))
        + ") AS val FROM sig"
        for b in range(n_bands)
    )
    mins = ",\n  ".join(
        "MIN(({a} * h + {b}) % {p}) AS h{i}".format(
            a=dedup.hash_coeffs(i)[0], b=dedup.hash_coeffs(i)[1],
            p=dedup.MERSENNE_P, i=i,
        )
        for i in range(_MH_HASHES)
    )
    return f"""
WITH newh AS (SELECT doc_id AS doc, md5(text) AS h FROM documents WHERE doc_id % 5 = 0),
corph AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 != 0),
exact AS (SELECT doc FROM newh WHERE h IN (SELECT h FROM corph)),
rest AS (SELECT doc FROM newh WHERE h NOT IN (SELECT h FROM corph)),
d AS (SELECT doc_id, doc_id % 5 = 0 AS is_new, {_sql_shingles(3, _TOKS)} AS sh FROM documents),
shg AS (SELECT doc_id AS doc, is_new, UNNEST(sh) AS shingle FROM d),
hv AS (SELECT doc, is_new, {_sql_hex8_mod_p('md5(shingle)')} AS h FROM shg),
sig AS (SELECT doc, is_new, {mins} FROM hv GROUP BY doc, is_new),
bands AS ({band_rows}),
near AS (
  SELECT DISTINCT a.doc FROM bands a
  JOIN bands b ON a.band = b.band AND a.val = b.val
  WHERE a.is_new AND NOT b.is_new AND a.doc IN (SELECT doc FROM rest))
SELECT doc, 'exact_dup' AS verdict FROM exact
UNION ALL SELECT doc, 'near_dup' FROM near
UNION ALL SELECT doc, 'kept' FROM rest WHERE doc NOT IN (SELECT doc FROM near)
ORDER BY doc
"""


INCREMENTAL_DEDUP_SQL = _incremental_dedup_sql()


# Trained-index memoization: kmeans_train / pq_train are DETERMINISTIC
# given (sf, params), and a deployment trains once and serves the index —
# so the PROBE queries (ivf_trained / pq_trained ADC / recall report)
# reuse the cached model and measure query-time work.  The TRAINING
# queries (embedding_kmeans, embedding_pq_train) bypass this cache on
# purpose: their job is to measure training.
_TRAINED_CACHE: dict = {}


def _kmeans_cached(spark: SparkSession, sf: str) -> list[list[int]]:
    key = ("kmeans", sf, _KM_K, _KM_ITERS)
    if key not in _TRAINED_CACHE:
        _TRAINED_CACHE[key] = similarity.kmeans_train(
            load_table(spark, sf, "embeddings"), k=_KM_K, iters=_KM_ITERS
        )
    return _TRAINED_CACHE[key]


def _pq_cached(spark: SparkSession, sf: str) -> list[list[list[int]]]:
    key = ("pq", sf, _PQT_ITERS)
    if key not in _TRAINED_CACHE:
        _TRAINED_CACHE[key] = similarity.pq_train(
            load_table(spark, sf, "embeddings"), iters=_PQT_ITERS
        )
    return _TRAINED_CACHE[key]


def doc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window chunking (r10): 32-token windows every 24 tokens
    (8-token overlap) — the retrieval/embedding prep pass.  Map-only
    in-row transform + explode; the oracle recomputes every window with
    list_slice, so off-by-one in window count, start, or the tail window
    breaks the hash."""
    docs = load_table(spark, sf, "documents")
    return text.chunk_documents(docs, size=32, stride=24)


DOC_CHUNKS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id, toks,
    CASE WHEN len(toks) <= 32 THEN 1
         ELSE CAST(CEIL((len(toks) - 32) / 24.0) AS INT) + 1 END AS n_chunks
  FROM t),
e AS (SELECT doc_id, unnest(range(0, n_chunks)) AS ci, toks FROM c)
SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
  CAST(ci * 24 AS INT) AS tok_start,
  CAST(len(list_slice(toks, ci * 24 + 1, ci * 24 + 32)) AS INT) AS n_tokens,
  array_to_string(list_slice(toks, ci * 24 + 1, ci * 24 + 32), ' ') AS chunk_text
FROM e
"""


def chunk_retrieval_topk(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end retrieval pipeline row (r11): sliding-window chunking
    -> per-chunk distinct-token sets -> exact set-overlap (token
    Jaccard) scoring against a fixed query -> deterministic top-k.  The
    lexical twin of the embedding ANN rows with a fully SQL-expressible
    scorer, so the WHOLE pipeline — chunker included — is oracle-checked
    end to end (retrieval evals need exactly this composed shape).
    Scale shape: chunking is a map-only explode, scoring is a map with a
    plan-shipped query token set (no join), and the top-k lowers to
    TakeOrderedAndProject — nothing shuffles more than k rows."""
    docs = load_table(spark, sf, "documents")
    chunks = text.chunk_documents(docs, size=32, stride=24)
    q_tokens = sorted({"spark", "table", "filter", "scan"})
    qarr = F.array(*[F.lit(t) for t in q_tokens])
    ctoks = F.array_distinct(F.split(F.col("chunk_text"), " "))
    common = F.size(F.array_intersect(ctoks, qarr))
    union = F.size(ctoks) + F.lit(len(q_tokens)) - common
    score = common.cast("double") / union
    return (
        chunks.select("doc_id", "chunk_idx", score.alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), "doc_id", "chunk_idx")
        .limit(20)
    )


CHUNK_RETRIEVAL_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id, toks,
    CASE WHEN len(toks) <= 32 THEN 1
         ELSE CAST(CEIL((len(toks) - 32) / 24.0) AS INT) + 1 END AS n_chunks
  FROM t),
e AS (SELECT doc_id, unnest(range(0, n_chunks)) AS ci, toks FROM c),
ch AS (
  SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
    list_distinct(list_slice(toks, ci * 24 + 1, ci * 24 + 32)) AS ct
  FROM e),
s AS (
  SELECT doc_id, chunk_idx, ct,
    len(list_filter(ct, x -> x IN ('filter', 'scan', 'spark', 'table')))
      AS common
  FROM ch)
SELECT doc_id, chunk_idx,
  CAST(common AS DOUBLE) / (len(ct) + 4 - common) AS score
FROM s WHERE common > 0
ORDER BY score DESC, doc_id, chunk_idx LIMIT 20
"""


def retrieval_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (r12): the lexical
    route (doc-level token Jaccard vs a fixed query, the
    chunk_retrieval_topk scorer) and the vector route (exact quantized
    dot product vs the vec_id-0 query embedding, the embedding_topk
    kernel) each produce a top-50 candidate ranking; RRF fuses them as
    sum(1/(60 + rank)) with a missing side contributing 0 — the standard
    two-retriever fusion a RAG/eval pipeline runs.

    Scale shape: each side is a map-scored TakeOrderedAndProject (the
    candidate cut is `orderBy().limit(50)`, never a global row_number
    over the corpus), the rank window then runs on <= 50 rows, and the
    fusion is a full outer join of two 50-row sets — nothing past the
    cut is shuffled.  All fused scores are 1/(60+r) sums over small
    integers, bit-identical across engines."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")

    # query embedding shipped as a plan literal (model-scale collect,
    # the embedding_ann_* convention); exact int64 grid dot product.
    # r14: everything after this bounded collect renders as ONE spark.sql
    # text.
    qv = [
        int(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(similarity.quantize(F.col("embedding")).alias("q"))
        .first()["q"]
    ]
    from .pipeline.dedup import _sql_tokens_text

    q_tokens = sorted({"spark", "table", "filter", "scan"})
    qarr = "array(" + ", ".join(f"'{t}'" for t in q_tokens) + ")"
    qlit = "array(" + ",".join(f"{v}L" for v in qv) + ")"
    quant = (
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )
    q = f"""
WITH lx AS (
  SELECT doc_id,
    (CAST(size(array_intersect(array_distinct({_sql_tokens_text("text")}), {qarr})) AS DOUBLE)
     / (size(array_distinct({_sql_tokens_text("text")})) + {len(q_tokens)}
        - size(array_intersect(array_distinct({_sql_tokens_text("text")}), {qarr})))) AS lex_score
  FROM {{docs}}
),
lex50 AS (
  SELECT doc_id, lex_score FROM lx WHERE lex_score > 0
  ORDER BY lex_score DESC, doc_id LIMIT 50
),
lexr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id) AS INT) AS r_lex
  FROM lex50
),
vx AS (
  SELECT vec_id AS doc_id,
    aggregate(zip_with({quant}, {qlit}, (x, y) -> x * y),
              CAST(0 AS BIGINT), (acc, v) -> acc + v) AS dot
  FROM {{emb}}
),
vec50 AS (SELECT doc_id, dot FROM vx ORDER BY dot DESC, doc_id LIMIT 50),
vecr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY dot DESC, doc_id) AS INT) AS r_vec
  FROM vec50
)
SELECT doc_id,
  (coalesce(1.0D / (60 + r_lex), 0.0D) + coalesce(1.0D / (60 + r_vec), 0.0D)) AS rrf,
  r_lex, r_vec
FROM lexr FULL OUTER JOIN vecr USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT 15
"""
    return spark.sql(q, docs=docs, emb=emb)


_RRF_IN = "('filter', 'scan', 'spark', 'table')"

RETRIEVAL_HYBRID_RRF_SQL = f"""
WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
s AS (
  SELECT doc_id, len(list_filter(toks, x -> x IN {_RRF_IN})) AS common,
         len(toks) AS n
  FROM t),
lex50 AS (
  SELECT doc_id, lex_score FROM (
    SELECT doc_id, CAST(common AS DOUBLE) / (n + 4 - common) AS lex_score
    FROM s WHERE common > 0)
  ORDER BY lex_score DESC, doc_id LIMIT 50),
lexr AS (
  SELECT doc_id,
    CAST(ROW_NUMBER() OVER (ORDER BY lex_score DESC, doc_id) AS INT) AS r_lex
  FROM lex50),
q AS (SELECT {_QUANT_SQL.format(v='embedding')} AS qv
      FROM embeddings WHERE vec_id = 0),
v AS (
  SELECT vec_id AS doc_id,
    {_DOT_SQL.format(a=_QUANT_SQL.format(v='embedding'), b='q.qv')} AS dot
  FROM embeddings, q),
vec50 AS (SELECT doc_id, dot FROM v ORDER BY dot DESC, doc_id LIMIT 50),
vecr AS (
  SELECT doc_id,
    CAST(ROW_NUMBER() OVER (ORDER BY dot DESC, doc_id) AS INT) AS r_vec
  FROM vec50)
SELECT doc_id,
  COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_lex), 0.0)
    + COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_vec), 0.0) AS rrf,
  r_lex, r_vec
FROM lexr FULL OUTER JOIN vecr USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT 15
"""


def corpus_report(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card summary (r10): the per-source corpus statistics a
    training-data pipeline publishes with every snapshot — doc/token/char
    counts, exact-duplicate counts, language mix, and quality-flag counts
    — in one pass (a single grouped aggregate over per-doc expressions,
    plus a broadcast-joined per-source duplicate count)."""
    docs = load_table(spark, sf, "documents")
    toks = text.tokens_col(F.col("text"))
    en = F.array(*[F.lit(w) for w in text.STOPWORDS["en"]])
    per = docs.select(
        "source",
        F.size(toks).alias("__nt"),
        F.length("text").alias("__nc"),
        (F.size(F.filter(toks, lambda t: F.array_contains(en, t))) * 100
         >= F.size(toks)).alias("__has_en"),  # >= 1% english stopwords
        (F.size(toks) >= 10).alias("__long_enough"),
        F.md5("text").alias("__h"),
    )
    dups = (
        per.groupBy("source", "__h")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(F.sum(F.col("c") - 1).cast("bigint").alias("dup_docs"))
    )
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__nt").cast("bigint").alias("n_tokens"),
        F.sum("__nc").cast("bigint").alias("n_chars"),
        F.sum(F.col("__has_en").cast("long")).cast("bigint").alias("n_english_ish"),
        F.sum(F.col("__long_enough").cast("long")).cast("bigint").alias("n_len_ok"),
    )
    return (
        agg.join(F.broadcast(dups), "source")
        .orderBy("source")
    )


CORPUS_REPORT_SQL = f"""
WITH per AS (
  SELECT source, len({_TOKS}) AS nt, length(text) AS nc,
    len(list_filter({_TOKS}, t -> t IN ('the','and','of','to','a','in','is','it','that','for'))) * 100
      >= len({_TOKS}) AS has_en,
    len({_TOKS}) >= 10 AS len_ok,
    md5(text) AS h
  FROM documents),
d AS (
  SELECT source, CAST(SUM(c - 1) AS BIGINT) AS dup_docs FROM (
    SELECT source, h, COUNT(*) AS c FROM per GROUP BY 1, 2)
  GROUP BY source)
SELECT per.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(nt) AS BIGINT) AS n_tokens,
  CAST(SUM(nc) AS BIGINT) AS n_chars,
  CAST(SUM(CASE WHEN has_en THEN 1 ELSE 0 END) AS BIGINT) AS n_english_ish,
  CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
  ANY_VALUE(d.dup_docs) AS dup_docs
FROM per JOIN d ON per.source = d.source
GROUP BY per.source
ORDER BY per.source
"""


# --------------------------------------------------------------------------
# Trained linear classifier (r13) — the fastText/CCNet-style corpus filter
# --------------------------------------------------------------------------

_CLF_D = classify.N_FEATS
_CLF_ROUNDS = classify.ROUNDS


def _clf_train_run(spark: SparkSession, sf: str):
    """One full perceptron training run (no cache).  The label rides
    through the tokenize pass (hashed_features ``label=``, r14 opt) —
    no docs->labels self-join — and dim is passed statically so no
    feature-width probe job runs."""
    docs = load_table(spark, sf, "documents")
    feats = classify.hashed_features(
        docs,
        n_feats=_CLF_D,
        label=F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long"),
    )
    return classify.perceptron_train(
        feats, rounds=_CLF_ROUNDS, dim=_CLF_D + 1
    )


def _clf_trained(spark: SparkSession, sf: str):
    """Train-once cache for the SERVING entry (classifier_confusion must
    not re-pay training; same discipline as `_kmeans_cached`).  The
    TRAIN entry bypasses this on purpose — its job is to measure
    training (the embedding_kmeans rule)."""
    key = ("perceptron", sf, _CLF_D, _CLF_ROUNDS)
    if key not in _TRAINED_CACHE:
        _TRAINED_CACHE[key] = _clf_train_run(spark, sf)
    return _TRAINED_CACHE[key]


def classifier_perceptron_train(spark: SparkSession, sf: str) -> DataFrame:
    """Trained corpus classifier (r13): batch-perceptron language filter
    over hashed unigram counts — the linear fastText/CCNet filter shape a
    training-data pipeline labels its corpus with, trained with the
    repo's exact-integer discipline so the oracle replays every epoch.
    Output = the full training trace: weight vector after each round plus
    that round's misclassified count (the training curve).

    What the trace shows on THIS corpus: the synthetic `lang` column is
    independent of the text, so no linear separator exists and the batch
    perceptron does what theory says it must — it oscillates between the
    two class-prior votes (round 1: everything misclassified under zero
    weights; thereafter errors flip between the two class sizes).  The
    deliverable is the bit-exact distributed epoch machinery (margins ->
    misclassified set -> integer gradient -> update), verified round by
    round against the oracle; `classifier_nb_train` below is the
    converging one-pass model over the same feature map.

    Scale shape (see pipeline/classify.py): per-epoch cost is one map
    over the persisted (doc, feature-array) frame plus one hash aggregate
    returning n_feats+1 model rows; weights ship as plan literals.  The
    reference has no trainer — this is pipeline scope (SURVEY LLM brief);
    cf. the exact-integer training contract of kmeans_train/bpe_train."""
    weights_hist, errors_hist = _clf_train_run(spark, sf)
    rows = [
        (r + 1, j, int(wv), int(errors_hist[r]))
        for r, wr in enumerate(weights_hist)
        for j, wv in enumerate(wr)
    ]
    return _values_df(
        spark,
        rows,
        [("round", "INT"), ("feature", "INT"), ("weight", "BIGINT"), ("errors", "BIGINT")],
        order_by=["round", "feature"],
    )


def _clf_cte(d: int = _CLF_D, rounds: int = _CLF_ROUNDS) -> str:
    """CTE chain replaying perceptron_train: fx = hashed-unigram counts
    (+bias feature at index d), w0 = zeros, then per round margin ->
    misclassified (y*margin <= 0) -> integer gradient -> weight update."""
    hex8 = _sql_hex8_mod_p("md5(t)")
    parts = [
        f"""ex AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
fx AS (
  SELECT doc_id, CAST({hex8} % {d} AS BIGINT) AS j,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM ex GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, {d}, 1 FROM documents),
lab AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents),
w0 AS (
  SELECT CAST(unnest(range(0, {d + 1})) AS BIGINT) AS j,
         CAST(0 AS BIGINT) AS w)"""
    ]
    for i in range(1, rounds + 1):
        p = f"w{i - 1}"
        parts.append(f"""m{i} AS (
  SELECT f.doc_id, SUM(f.c * w.w) AS mg
  FROM fx f JOIN {p} w USING (j) GROUP BY 1),
mis{i} AS (
  SELECT m.doc_id, l.y FROM m{i} m JOIN lab l USING (doc_id)
  WHERE l.y * m.mg <= 0),
e{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS e FROM mis{i}),
g{i} AS (
  SELECT f.j, SUM(mi.y * f.c) AS g
  FROM fx f JOIN mis{i} mi USING (doc_id) GROUP BY 1),
w{i} AS (
  SELECT w.j, w.w + COALESCE(g.g, 0) AS w
  FROM {p} w LEFT JOIN g{i} g USING (j))""")
    return ",\n".join(parts)


def _clf_train_sql(d: int = _CLF_D, rounds: int = _CLF_ROUNDS) -> str:
    arms = " UNION ALL ".join(
        f"""SELECT {i} AS round, CAST(j AS INT) AS feature,
  CAST(w AS BIGINT) AS weight, (SELECT e FROM e{i}) AS errors FROM w{i}"""
        for i in range(1, rounds + 1)
    )
    return f"""
WITH {_clf_cte(d, rounds)}
{arms}
ORDER BY round, feature
"""


CLASSIFIER_TRAIN_SQL = _clf_train_sql()


def classifier_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Serving-side eval of the trained perceptron (r13): score every doc
    with the final weight vector (ONE map pass, weights as plan literals
    — no join, the 100 TB serving path) and aggregate the confusion
    matrix plus margin mass per cell.  Bit-stable: margins are integer
    dot products.  On this signal-free corpus the final-round vote is a
    class-prior vote (see classifier_perceptron_train) — the matrix
    records that honestly; the eval machinery is the deliverable."""
    weights_hist, _ = _clf_trained(spark, sf)
    docs = load_table(spark, sf, "documents")
    feats = classify.hashed_features(docs, n_feats=_CLF_D)
    scored = classify.score(feats, weights_hist[-1])
    lab = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("actual"),
    )
    return (
        scored.join(lab, "doc_id")
        .select(
            "actual",
            F.when(F.col("margin") > 0, F.lit("en"))
            .otherwise(F.lit("other"))
            .alias("pred"),
            "margin",
        )
        .groupBy("actual", "pred")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("margin").cast("bigint").alias("margin_sum"),
        )
        .orderBy("actual", "pred")
    )


CLASSIFIER_CONFUSION_SQL = f"""
WITH {_clf_cte()},
mf AS (
  SELECT f.doc_id, SUM(f.c * w.w) AS mg
  FROM fx f JOIN w{_CLF_ROUNDS} w USING (j) GROUP BY 1)
SELECT
  CASE WHEN l.y = 1 THEN 'en' ELSE 'other' END AS actual,
  CASE WHEN m.mg > 0 THEN 'en' ELSE 'other' END AS pred,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(m.mg) AS BIGINT) AS margin_sum
FROM mf m JOIN lab l USING (doc_id)
GROUP BY 1, 2
ORDER BY actual, pred
"""


# --------------------------------------------------------------------------
# BM25 retrieval (r13) — the standard lexical ranking function
# --------------------------------------------------------------------------

_BM25_TERMS = ("filter", "scan", "spark", "table")  # fixed sum order
# constants kept as SOURCE STRINGS: both engines must parse the same
# decimal literal (computing k1+1 in python floats could differ from the
# parsed "2.2" by one ulp, which a product then amplifies past the hash)
_BM25_K1 = "1.2"
_BM25_K1P1 = "2.2"
_BM25_1MB = "0.25"
_BM25_B = "0.75"


def _bm25_scored(
    docs: DataFrame, terms: tuple[str, ...] | None = None
) -> DataFrame:
    """(doc_id, t, score): every document BM25-scored against the query
    terms (default: the fixed 4-term query) — the shared stage behind the
    top-k cut, the PRF feedback round, and the bm25_topk() SQL table
    function.  Corpus stats are one 1-row aggregate broadcast back;
    scoring is a map pass."""
    if terms is None:
        terms = _BM25_TERMS
    # r14 opt (guide §4): rendered as ONE spark.sql text — the Column
    # chain cost ~0.4-0.6 s of py4j round-trips per caller (three
    # registry queries plus the bm25_topk() table function build this
    # stage).  Expression-for-expression the former Column form: double
    # literals carry the D suffix (a bare decimal literal parses as
    # DECIMAL in Spark SQL), idf and the final score quantize through
    # DECIMAL(18,6) identically, and the contribution sum keeps the
    # fixed left-associated term order.  The random-corpus naive BM25
    # test and the oracle pin the values.
    def esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    from .pipeline.dedup import _sql_tokens_text

    spread = text.spread_by_cores(docs)
    toks = _sql_tokens_text("text")
    k1, k1p1, onemb, b = (
        f"{float(_BM25_K1)!r}D",
        f"{float(_BM25_K1P1)!r}D",
        f"{float(_BM25_1MB)!r}D",
        f"{float(_BM25_B)!r}D",
    )
    dfs = ", ".join(
        f"sum(CAST(array_contains(t, '{esc(term)}') AS BIGINT)) AS df_{i}"
        for i, term in enumerate(terms)
    )
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    rel = f"(CAST(dl AS DOUBLE) / {avgdl})"
    denom_base = f"({k1} * ({onemb} + {b} * {rel}))"
    contribs = []
    for i, term in enumerate(terms):
        tf = f"CAST(size(filter(t, x -> x = '{esc(term)}')) AS DOUBLE)"
        idf = (
            f"CAST(CAST(ln(1.0D + (CAST(n_docs AS DOUBLE) "
            f"- CAST(df_{i} AS DOUBLE) + 0.5D) "
            f"/ (CAST(df_{i} AS DOUBLE) + 0.5D)) AS DECIMAL(18,6)) AS DOUBLE)"
        )
        contribs.append(f"(({idf} * ({tf} * {k1p1})) / ({tf} + {denom_base}))")
    score = " + ".join(contribs)
    q = f"""
WITH base AS (
  SELECT doc_id, t, CAST(size(t) AS BIGINT) AS dl FROM (
    SELECT doc_id, {toks} AS t FROM {{docs}}
  ) tz
),
stats AS (
  SELECT CAST(count(1) AS BIGINT) AS n_docs, sum(dl) AS sum_dl, {dfs}
  FROM base
)
SELECT doc_id, t,
       CAST(CAST({score} AS DECIMAL(18,6)) AS DOUBLE) AS score
FROM (SELECT /*+ BROADCAST(stats) */ * FROM base CROSS JOIN stats) j"""
    return docs.sparkSession.sql(q, docs=spread)


def retrieval_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 document ranking (r13): the standard Okapi scoring the
    lexical side of a retrieval stack actually serves (the Lucene
    positive-idf variant: ln(1 + (N-df+0.5)/(df+0.5))), over the same
    fixed query as chunk_retrieval_topk/retrieval_hybrid_rrf.

    Determinism: idf is the single libm call — quantized to
    DECIMAL(18,6) in both engines (the DSIR-adjudicated quantum); every
    other factor is IEEE-exact from integer inputs with an identical
    association order, and the final score is re-quantized so the top-k
    cut ties break on doc_id identically.  Scale shape: see
    `_bm25_scored`; the cut is TakeOrderedAndProject."""
    docs = load_table(spark, sf, "documents")
    return (
        _bm25_scored(docs)
        .select("doc_id", "score")
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


def _bm25_sql(
    terms: tuple[str, ...] = _BM25_TERMS, table: str = "documents"
) -> str:
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN list_contains(t, '{term}') THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS df_{i}"
        for i, term in enumerate(terms)
    )
    contribs = " + ".join(
        f"""(CAST(CAST(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)
   / (CAST(df_{i} AS DOUBLE) + 0.5)) AS DECIMAL(18,6)) AS DOUBLE)
 * (CAST(len(list_filter(t, x -> x = '{term}')) AS DOUBLE) * {_BM25_K1P1}))
 / (CAST(len(list_filter(t, x -> x = '{term}')) AS DOUBLE)
    + {_BM25_K1} * ({_BM25_1MB} + {_BM25_B}
      * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"""
        for i, term in enumerate(terms)
    )
    return f"""base AS (
  SELECT doc_id, {_TOKS} AS t, CAST(len({_TOKS}) AS BIGINT) AS dl
  FROM {table}),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl, {df_cols}
  FROM base),
bsc AS (
  SELECT doc_id, t,
    CAST(CAST({contribs} AS DECIMAL(18,6)) AS DOUBLE) AS score
  FROM base, stats)"""


RETRIEVAL_BM25_SQL = f"""
WITH {_bm25_sql()}
SELECT doc_id, score
FROM bsc
WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT 20
"""


def classifier_nb_train(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass multinomial Naive Bayes language model (r13): the
    converging closed-form sibling of the perceptron trace — per-class
    Laplace-smoothed bucket counts and log-likelihood-ratio weights over
    the same hashed-unigram feature map (pipeline/classify.nb_train).
    Output = the entire model: one row per bucket (counts + weight) plus
    the prior row at feature = n_feats.  Scale shape: one explode + one
    hash aggregate + a 1-row totals broadcast; the model is
    broadcast-size at any corpus scale."""
    docs = load_table(spark, sf, "documents")
    # label inlined as an expression over the docs row (nb_train
    # label_expr): removes the docs-to-labels self-join per training
    # pass; SQL-text route (r14) replaces ~550 py4j round-trips of build
    model = classify.nb_train_sql(
        docs,
        "CASE WHEN lang = 'en' THEN 1 ELSE -1 END",
        n_feats=_CLF_D,
    )
    return model.select(
        "feature",
        "n_pos",
        "n_neg",
        F.col("weight").cast("double").alias("weight"),
    ).orderBy("feature")


def _nb_cte(
    d: int = _CLF_D, table: str = "documents", pos: str = "en"
) -> str:
    hex8 = _sql_hex8_mod_p("md5(t)")
    return f"""lab AS (
  SELECT doc_id, CASE WHEN lang = '{pos}' THEN 1 ELSE -1 END AS y
  FROM {table}),
exd AS (
  SELECT e.doc_id, l.y, CAST({hex8} % {d} AS BIGINT) AS j
  FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM {table}) e
  JOIN lab l USING (doc_id)),
cnt AS (
  SELECT j, CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
         CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nn
  FROM exd GROUP BY j),
fullb AS (SELECT CAST(unnest(range(0, {d})) AS BIGINT) AS j),
c2 AS (
  SELECT f.j, COALESCE(c.np, 0) AS np, COALESCE(c.nn, 0) AS nn
  FROM fullb f LEFT JOIN cnt c USING (j)),
tot AS (
  SELECT CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM exd),
dd AS (
  SELECT CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dp,
         CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS dn
  FROM lab),
model AS (
  SELECT CAST(j AS INT) AS feature, np AS n_pos, nn AS n_neg,
    CAST(ln(CAST((np + 1) * (tn + {d}) AS DOUBLE)
          / CAST((nn + 1) * (tp + {d}) AS DOUBLE)) AS DECIMAL(18,6)) AS weight
  FROM c2, tot
  UNION ALL
  SELECT {d}, dp, dn,
    CAST(ln(CAST(dp AS DOUBLE) / CAST(dn AS DOUBLE)) AS DECIMAL(18,6))
  FROM dd)"""


CLASSIFIER_NB_TRAIN_SQL = f"""
WITH {_nb_cte()}
SELECT feature, n_pos, n_neg, CAST(weight AS DOUBLE) AS weight
FROM model
ORDER BY feature
"""


def classifier_nb_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Serving-side eval of the NB model (r13): exact-decimal per-doc
    log-odds (prior + sum tf_j * w_j — decimal products and sums, so
    distributed summation order cannot perturb a single bit), confusion
    matrix against the actual label plus the score mass per cell.
    Scale shape: one explode, one broadcast join on the model, one
    doc-keyed aggregate, one 4-row matrix aggregate."""
    docs = load_table(spark, sf, "documents")
    # fused train+score (one tokenize pass, shared tf exchange) with the
    # label inlined; the carried y column replaces the labels re-join
    _model, scored = classify.nb_train_score_sql(
        docs,
        "CASE WHEN lang = 'en' THEN 1 ELSE -1 END",
        n_feats=_CLF_D,
    )
    return (
        scored.select(
            F.when(F.col("y") == 1, F.lit("en"))
            .otherwise(F.lit("other"))
            .alias("actual"),
            F.when(F.col("score") > 0, F.lit("en"))
            .otherwise(F.lit("other"))
            .alias("pred"),
            "score",
        )
        .groupBy("actual", "pred")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("score").cast("double").alias("score_sum"),
        )
        .orderBy("actual", "pred")
    )


CLASSIFIER_NB_CONFUSION_SQL = f"""
WITH {_nb_cte()},
tf AS (
  SELECT doc_id, j, CAST(COUNT(*) AS BIGINT) AS tf
  FROM exd GROUP BY 1, 2),
s AS (
  SELECT t.doc_id, SUM(t.tf * m.weight) AS sl
  FROM tf t JOIN model m ON t.j = m.feature
  GROUP BY 1),
sc AS (
  SELECT doc_id,
         sl + (SELECT weight FROM model WHERE feature = {_CLF_D}) AS score
  FROM s)
SELECT
  CASE WHEN l.y = 1 THEN 'en' ELSE 'other' END AS actual,
  CASE WHEN sc.score > 0 THEN 'en' ELSE 'other' END AS pred,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(sc.score) AS DOUBLE) AS score_sum
FROM sc JOIN lab l USING (doc_id)
GROUP BY 1, 2
ORDER BY actual, pred
"""


def retrieval_prf_expand(spark: SparkSession, sf: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (r13): the RM3-style
    second retrieval round a lexical stack runs — BM25 top-10 feedback
    docs, top-5 expansion terms by feedback term frequency (original
    query terms excluded, ties lexical), then the corpus re-scores with
    INTEGER term weights (2 per original-term occurrence, 1 per
    expansion-term occurrence) so round two is libm-free and exact.

    Scale shape: the feedback cut is TakeOrderedAndProject over the
    BM25-scored map pass; term extraction explodes only the 10 feedback
    docs; the re-score is one explode + one broadcast join on the 9-term
    weight table + one doc-keyed aggregate — no stage grows with corpus
    duplication."""
    docs = load_table(spark, sf, "documents")
    scored = _bm25_scored(docs)
    fb = (
        scored.filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )
    orig = list(_BM25_TERMS)
    exp_terms = (
        fb.select(F.explode("t").alias("term"))
        .filter(~F.col("term").isin(orig))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), "term")
        .limit(5)
        .select("term", F.lit(1).cast("long").alias("wt"))
    )
    import pandas as _pd

    orig_w = spark.createDataFrame(  # Arrow batch, not pickle (r14 s4)
        _pd.DataFrame([(t, 2) for t in orig], columns=["term", "wt"]),
        schema="term string, wt long",
    )
    weights = exp_terms.unionByName(orig_w)
    ex = docs.select(
        "doc_id", F.explode(text.tokens_col(F.col("text"))).alias("term")
    )
    return (
        ex.join(F.broadcast(weights), "term")
        .groupBy("doc_id")
        .agg(F.sum("wt").cast("bigint").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(15)
    )


_PRF_ORIG_ARR = "[" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + "]"

RETRIEVAL_PRF_SQL = f"""
WITH {_bm25_sql()},
fb AS (
  SELECT doc_id, t FROM bsc WHERE score > 0
  ORDER BY score DESC, doc_id LIMIT 10),
et AS (
  SELECT term, CAST(1 AS BIGINT) AS wt FROM (
    SELECT term, COUNT(*) AS c FROM (SELECT unnest(t) AS term FROM fb)
    WHERE NOT list_contains({_PRF_ORIG_ARR}, term)
    GROUP BY term ORDER BY c DESC, term LIMIT 5)),
w AS (
  SELECT term, wt FROM et
  UNION ALL
  SELECT unnest({_PRF_ORIG_ARR}) AS term, CAST(2 AS BIGINT) AS wt),
ex AS (SELECT doc_id, unnest(t) AS term FROM base)
SELECT e.doc_id, CAST(SUM(w.wt) AS BIGINT) AS score
FROM ex e JOIN w USING (term)
GROUP BY e.doc_id
ORDER BY score DESC, doc_id
LIMIT 15
"""


_MMR_KC = 20
_MMR_KS = 5


def retrieval_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """MMR diversity re-rank (r13): exact cosine top-20 shortlist ->
    greedy maximal-marginal-relevance selection of 5 (lambda = 0.5, x2
    scaling: pick argmax rel(d) - max_{s picked} sim(d, s)) — the
    de-duplicating serving cut between retrieval and the context window
    (see pipeline/similarity.mmr_rerank for the stage/scale analysis;
    the greedy runs on the collected k-bounded score table, the
    kmeans-discipline model-scale collect).  The oracle replays the
    shortlist, the k^2 pairwise cosines, and every greedy pick."""
    emb = load_table(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return similarity.mmr_rerank(
        emb, query, k_candidates=_MMR_KC, k_select=_MMR_KS
    )


def _mmr_sql(kc: int = _MMR_KC, ks: int = _MMR_KS) -> str:
    qv = _QUANT_SQL.format(v="embedding")
    dot_vq = _DOT_SQL.format(a="v", b="qv")
    dot_vv = _DOT_SQL.format(a="v", b="v")
    dot_qq = _DOT_SQL.format(a="qv", b="qv")
    parts = [f"""q AS (SELECT {qv} AS qv FROM embeddings WHERE vec_id = 0),
base AS (SELECT vec_id, {qv} AS v, q.qv AS qv FROM embeddings, q),
cand AS (
  SELECT vec_id, v, CAST(cosine AS DECIMAL(18,6)) AS rel FROM (
    SELECT vec_id, v,
      {dot_vq} / (SQRT({dot_vv}) * SQRT({dot_qq})) AS cosine
    FROM base
    ORDER BY cosine DESC, vec_id ASC LIMIT {kc})),
pair AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
    CAST({_DOT_SQL.format(a='a.v', b='b.v')}
      / (SQRT({_DOT_SQL.format(a='a.v', b='a.v')})
         * SQRT({_DOT_SQL.format(a='b.v', b='b.v')})) AS DECIMAL(18,6)) AS s
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
pk1 AS (SELECT vec_id, rel AS m FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
ps1 AS (SELECT vec_id FROM pk1)"""]
    for i in range(2, ks + 1):
        parts.append(f"""st{i} AS (
  SELECT c.vec_id,
    c.rel - (SELECT MAX(p.s) FROM pair p
             WHERE p.ia = c.vec_id
               AND p.ib IN (SELECT vec_id FROM ps{i - 1})) AS m
  FROM cand c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM ps{i - 1})),
pk{i} AS (SELECT vec_id, m FROM st{i} ORDER BY m DESC, vec_id LIMIT 1),
ps{i} AS (SELECT vec_id FROM ps{i - 1}
          UNION ALL SELECT vec_id FROM pk{i})""")
    arms = " UNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, CAST(m AS DOUBLE) AS mmr FROM pk{i}"
        for i in range(1, ks + 1)
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
{arms}
ORDER BY rank
"""


RETRIEVAL_MMR_SQL = _mmr_sql()


def corpus_perplexity_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM perplexity filter (r13): the CCNet/KenLM-style quality
    scorer — one-pass Laplace-smoothed bigram LM trained on the corpus,
    every doc scored by average negative log-likelihood, top-20 most
    perplexing docs returned (the discard pile a perplexity filter
    drops; see pipeline/text.bigram_lm_nll_sql for the exactness and scale
    analysis).  Ties break on doc_id; sum_nll is surfaced as the
    decimal-exact check column next to the correctly-rounded avg."""
    docs = load_table(spark, sf, "documents")
    scored = text.bigram_lm_nll_sql(docs)
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            F.col("sum_nll").cast("double").alias("sum_nll"),
            "avg_nll",
        )
        .orderBy(F.col("avg_nll").desc(), "doc_id")
        .limit(20)
    )


CORPUS_PERPLEXITY_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ex AS (
  SELECT doc_id, p[1] AS a, p[2] AS b FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, len(toks)), i -> [toks[i], toks[i + 1]]))
        AS p
    FROM t)),
uni AS (
  SELECT a, CAST(COUNT(*) AS BIGINT) AS ca FROM (
    SELECT unnest(toks) AS a FROM t) GROUP BY a),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
bi AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM ex GROUP BY a, b),
model AS (
  SELECT bi.a, bi.b,
    CAST(ln(CAST(uni.ca + v.v AS DOUBLE) / CAST(bi.cab + 1 AS DOUBLE))
      AS DECIMAL(18,6)) AS nll
  FROM bi JOIN uni ON bi.a = uni.a, v),
s AS (
  SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         SUM(m.nll) AS sum_nll
  FROM ex JOIN model m ON ex.a = m.a AND ex.b = m.b
  GROUP BY ex.doc_id)
SELECT doc_id, n_bigrams, CAST(sum_nll AS DOUBLE) AS sum_nll,
  CAST(sum_nll AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS avg_nll
FROM s
ORDER BY avg_nll DESC, doc_id
LIMIT 20
"""


def corpus_quality_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus data card (r13 capstone): the report a data
    team reads before a training run, composing this round's trained
    models — per source: doc count, exact-duplicate count (md5), docs
    the NB language filter classifies positive (exact-decimal log-odds
    > 0), bigram evidence mass, and LM perplexity (exact decimal nll sum
    + correctly-rounded average).  Every number is either an integer
    count or an exact-decimal/int64-derived double, so the whole card
    hash-matches the oracle.

    Scale shape: NB model + bigram LM each train in one pass (broadcast
    model joins), the card is one groupBy(source) — nothing beyond the
    constituent operators' own shapes."""
    docs = load_table(spark, sf, "documents")
    # fused train+score: one tokenize pass feeds the model counts AND the
    # per-doc tf scoring via a shared (doc, y, bucket) exchange
    _model, scored = classify.nb_train_score_sql(
        docs,
        "CASE WHEN lang = 'en' THEN 1 ELSE -1 END",
        n_feats=_CLF_D,
    )
    nb = scored.select(
        "doc_id", (F.col("score") > 0).cast("long").alias("pred_en")
    )
    lm = text.bigram_lm_nll_sql(docs).select("doc_id", "n_bigrams", "sum_nll")
    per = (
        docs.select("doc_id", "source", F.md5("text").alias("__h"))
        .join(nb, "doc_id")
        .join(lm, "doc_id", "left")
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (
                F.count(F.lit(1)) - F.count_distinct(F.col("__h"))
            ).cast("bigint").alias("dup_docs"),
            F.sum("pred_en").cast("bigint").alias("n_pred_en"),
            F.sum(F.coalesce(F.col("n_bigrams"), F.lit(0)))
            .cast("bigint")
            .alias("n_bigrams"),
            F.sum("sum_nll").alias("__snll"),
        )
        .select(
            "source",
            "n_docs",
            "dup_docs",
            "n_pred_en",
            "n_bigrams",
            F.col("__snll").cast("double").alias("sum_nll"),
            (
                F.col("__snll").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("avg_nll"),
        )
        .orderBy("source")
    )


CORPUS_QUALITY_REPORT_SQL = f"""
WITH {_nb_cte()},
tf AS (
  SELECT doc_id, j, CAST(COUNT(*) AS BIGINT) AS tf
  FROM exd GROUP BY 1, 2),
nbs AS (
  SELECT t.doc_id,
    CASE WHEN SUM(t.tf * m.weight)
       + (SELECT weight FROM model WHERE feature = {_CLF_D}) > 0
    THEN 1 ELSE 0 END AS pred_en
  FROM tf t JOIN model m ON t.j = m.feature
  GROUP BY t.doc_id),
t2 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ex2 AS (
  SELECT doc_id, p[1] AS a, p[2] AS b FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, len(toks)), i -> [toks[i], toks[i + 1]]))
        AS p
    FROM t2)),
uni AS (
  SELECT a, CAST(COUNT(*) AS BIGINT) AS ca FROM (
    SELECT unnest(toks) AS a FROM t2) GROUP BY a),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
bi AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM ex2 GROUP BY a, b),
lmm AS (
  SELECT bi.a, bi.b,
    CAST(ln(CAST(uni.ca + v.v AS DOUBLE) / CAST(bi.cab + 1 AS DOUBLE))
      AS DECIMAL(18,6)) AS nll
  FROM bi JOIN uni ON bi.a = uni.a, v),
lms AS (
  SELECT ex2.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         SUM(m.nll) AS sum_nll
  FROM ex2 JOIN lmm m ON ex2.a = m.a AND ex2.b = m.b
  GROUP BY ex2.doc_id)
SELECT d.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(*) - COUNT(DISTINCT md5(d.text)) AS BIGINT) AS dup_docs,
  CAST(SUM(n.pred_en) AS BIGINT) AS n_pred_en,
  CAST(SUM(COALESCE(l.n_bigrams, 0)) AS BIGINT) AS n_bigrams,
  CAST(SUM(l.sum_nll) AS DOUBLE) AS sum_nll,
  CAST(SUM(l.sum_nll) AS DOUBLE)
    / CAST(SUM(COALESCE(l.n_bigrams, 0)) AS DOUBLE) AS avg_nll
FROM documents d
JOIN nbs n USING (doc_id)
LEFT JOIN lms l USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""
