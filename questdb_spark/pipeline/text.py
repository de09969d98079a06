"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language ID, token counting, fingerprinting.

These are not QuestDB features; they extend the engine for LLM-data work
(driver north star). Design rules for 100 TB: everything is built-in
column expressions / higher-order functions (JVM-side, whole-stage
codegen) — no Python UDFs, no collect, one narrow projection per doc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny embedded stopword lists — deterministic, language-ID heuristic only
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "de": ["der", "die", "und", "das", "in", "von", "zu", "mit", "den", "ist"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "en", "du", "est"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def spread_by_cores(df: DataFrame) -> DataFrame:
    """Repartition ahead of a CPU-dense per-row expansion (tokenize /
    explode / per-token md5) when the scan came in with too few
    partitions — a handful of compact parquet files would otherwise pin
    the whole expansion on a handful of tasks (measured 1-task map
    stages over the sub-MB documents split at sf0.1).  Only fires when
    the input is narrower than half the shuffle width, so a
    properly-partitioned 100 TB scan passes through untouched.  Safe
    only for order-insensitive downstream aggregation (exact int /
    decimal sums, counts, min/max) — every caller here qualifies."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    try:
        width = len(df.inputFiles())
    except Exception:
        width = target  # non-file source: assume properly partitioned
    if 0 < width < max(2, target // 2):
        return df.repartition(target)
    return df


def stopword_hits(tokens: Column, words: list[str]) -> Column:
    wl = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(wl, t)))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: token count, char count, average
    token length, stopword ratio, digit ratio, distinct-token ratio
    (type/token — a repetition signal).  One spark.sql text (one parse
    replaces ~200 py4j round-trips of Column-tree build per caller —
    r14)."""
    toks = f"split(lower(trim(`{text_col}`)), '\\\\s+')"
    wl = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    keep = ", ".join(f"`{c}`" for c in df.columns if c != text_col)
    q = f"""
WITH t AS (SELECT *, {toks} AS __toks FROM {{inp}})
SELECT {keep},
  size(__toks) AS n_tokens,
  length(`{text_col}`) AS n_chars_actual,
  (aggregate(__toks, 0, (acc, t) -> acc + length(t)) / size(__toks)) AS avg_token_len,
  (size(filter(__toks, t -> array_contains(array({wl}), t))) / size(__toks)) AS stopword_ratio_en,
  (size(array_distinct(__toks)) / size(__toks)) AS distinct_token_ratio,
  ((length(`{text_col}`) - length(regexp_replace(`{text_col}`, '[0-9]', ''))) / length(`{text_col}`)) AS digit_ratio
FROM t
"""
    return df.sparkSession.sql(q, inp=df)


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword language heuristic: score = stopword hits per
    language; highest wins, ties broken by fixed language order, 'und'
    (undetermined) when no list scores > 0."""
    toks = tokens_col(F.col(text_col))
    out = df.withColumn("__toks", toks)
    langs = list(STOPWORDS)
    for lang in langs:
        out = out.withColumn(f"score_{lang}", stopword_hits(F.col("__toks"), STOPWORDS[lang]))
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties
        pred = F.when((F.col(f"score_{lang}") == best) & (best > 0), lang).otherwise(pred)
    return out.select(
        *[c for c in df.columns if c != text_col],
        *[F.col(f"score_{lang}") for lang in langs],
        pred.alias("lang_pred"),
    )


def token_count_regex(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token counting: whitespace tokens plus a regex lexer count
    (word pieces / numbers / other symbols counted separately)."""
    t = F.col(text_col)
    return df.select(
        *[c for c in df.columns if c != text_col],
        F.size(tokens_col(t)).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit("[a-z]+|[0-9]+"), 0)).alias("n_word_tokens"),
        # a crude BPE estimate: ~1 token per 4 chars, at least the word count
        F.greatest(
            F.ceil(F.length(t) / 4).cast("long"),
            F.size(tokens_col(t)).cast("long"),
        ).alias("n_tokens_bpe_est"),
    )


def shingles_col(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) — the unit for Jaccard/MinHash."""
    # Build n-grams by zipping n shifted slices of the token array.
    # (The naive transform-with-element_at form re-evaluates the `tokens`
    # expression per element access — O(n·|tokens|) split() calls per row,
    # a ~10x slowdown observed at sf0.1.)
    m = F.greatest(F.size(tokens) - n + 1, F.lit(0))
    acc = F.slice(tokens, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(tokens, j + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    grams = F.array_distinct(acc)
    return F.when(F.size(tokens) >= n, grams).otherwise(F.array().cast("array<string>"))


def fingerprint(df: DataFrame, text_col: str = "text", n: int = 5) -> DataFrame:
    """Document fingerprint: min/max md5 over word n-gram shingles (a
    1-permutation MinHash — rolling-hash style content fingerprint)."""
    toks = tokens_col(F.col(text_col))
    sh = shingles_col(toks, n)
    # hash the shingle array ONCE (min and max share it — Catalyst doesn't
    # CSE sibling transform() expressions)
    hashed = df.withColumn("__h", F.transform(sh, F.md5))
    return hashed.select(
        *[c for c in df.columns if c != text_col],
        F.array_min(F.col("__h")).alias("fp_min"),
        F.array_max(F.col("__h")).alias("fp_max"),
        F.size(F.col("__h")).alias("n_shingles"),
    )


# -- PII redaction (training-pipeline stage; not a QuestDB feature) --------

# Patterns kept RE2-compatible (no lookaround) so the DuckDB oracle can
# apply the exact same regexes. Order matters: more-specific first, so a
# later pattern can't eat an earlier one's digits.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+?\d[\d ()-]{7,}\d"),
]


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / SSNs / IPv4s / phone-shaped runs, emitting the
    scrubbed text plus a per-category hit count. Pure regexp column
    expressions — JVM-side, codegen, no UDFs; at 100 TB this is one
    narrow projection per document."""
    out = df
    scrubbed = F.col(text_col)
    for name, pat in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(scrubbed, F.lit(pat)))
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return out.withColumn("scrubbed", scrubbed)


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher/C4-style repetition signals per document: top-word fraction
    (count of the most frequent word / total words) and duplicate-2-gram
    fraction (1 − distinct/total).  Explode + two keyed aggregations —
    shuffle-partitioned by document, linear at 100 TB (no per-doc Python,
    no cross-doc state)."""
    toks = df.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    word_stats = (
        toks.groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            (F.max("c") / F.sum("c")).alias("top_word_frac"),
            F.sum("c").alias("n_words"),
        )
    )
    grams = df.select(
        F.col(id_col),
        F.explode(
            _all_ngrams(tokens_col(F.col(text_col)), 2)
        ).alias("g"),
    )
    gram_stats = (
        grams.groupBy(id_col)
        .agg(
            (1 - F.countDistinct("g") / F.count(F.lit(1))).alias("dup_2gram_frac"),
            F.count(F.lit(1)).alias("n_2grams"),
        )
    )
    return word_stats.join(gram_stats, id_col, "left")


def _all_ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams WITH duplicates (shingles_col dedups — repetition
    metrics need the multiset)."""
    m = F.greatest(F.size(tokens) - n + 1, F.lit(0))
    acc = F.slice(tokens, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(tokens, j + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(F.size(tokens) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


def top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_token_len: int = 4,
) -> DataFrame:
    """tf-df keyword extraction (r10): the top-k most characteristic terms
    per document — highest term frequency first, rarest corpus-wide
    (lowest document frequency) breaking ties, token text last.  The
    integer-only (tf desc, df asc, token asc) ordering is the rank
    formulation of tf-idf (idf is monotone in -df), so the result is
    bit-exact across engines with no float log anywhere.

    Two hash aggregations + one window: tf = count per (doc, token),
    df = distinct-doc count per token (computed FROM the tf table — no
    second pass over the corpus), top-k via row_number.  Short tokens
    (< min_token_len chars) drop first: they are stopword-like and df
    ranking alone cannot keep 'the' out of small corpora."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    ).filter(F.length("token") >= min_token_len)
    tf = toks.groupBy("doc", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(dfreq, "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc", "rank", "token", "tf", "df")
    )


def bpe_merge_step(toks: Column, a: str, b: str, joiner: str = " ") -> Column:
    """One BPE merge applied to a token array: greedy left-to-right fold
    replacing each adjacent (a, b) with the merged token.  Pure Catalyst
    HOF (aggregate with an array accumulator) — per-row, no shuffle, the
    map-only shape a corpus-wide re-tokenization pass needs.  The space
    joiner cannot collide with original tokens (whitespace-split)."""
    merged = a + joiner + b
    empty = F.array().cast("array<string>")
    first = F.slice(toks, 1, 1)
    rest = F.when(
        F.size(toks) >= 2, F.slice(toks, 2, F.size(toks) - 1)
    ).otherwise(empty)
    fold = F.aggregate(
        rest,
        first,
        lambda acc, t: F.when(
            (F.element_at(acc, -1) == F.lit(a)) & (t == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(t))),
    )
    return F.when(F.size(toks) == 0, toks).otherwise(fold)


def bpe_train(
    df, text_col: str = "text", merges: int = 3
) -> list[tuple[int, str, str, int]]:
    """BPE-style merge training (the tokenizer-construction loop): per
    round, count adjacent token pairs (in-row pair build -> one hash
    aggregate), pick the most frequent pair (ties -> lexicographic), and
    rewrite the corpus with `bpe_merge_step`.  Returns the learned merge
    table [(rank, tok_a, tok_b, count)].

    Scale shape: each round is ONE aggregate job whose collect is a single
    model row (the argmax pair) — the per-round corpus rewrite is a lazy
    map layer, so k merges = k scans, the same pass structure a
    distributed BPE/unigram trainer runs at 100 TB."""
    spark = df.sparkSession
    # pair explode + greedy folds are CPU-bound per row and the source is
    # often a single small split — width follows cores, not bytes (the
    # EMA/decimal-division rule); paid once, the persist keeps the layout
    cur = (
        df.select(tokens_col(F.col(text_col)).alias("__t"))
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    out: list[tuple[int, str, str, int]] = []
    pairs = F.expr(
        "transform(slice(__t, 1, greatest(size(__t) - 1, 0)), "
        "(t, i) -> struct(t AS a, element_at(__t, i + 2) AS b))"
    )
    prev = None
    try:
        for r in range(1, merges + 1):
            top = (
                cur.select(F.explode(pairs).alias("p"))
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.col("n").desc(), "a", "b")
                .limit(1)
                .collect()  # 1-row model update per round — bounded
            )
            # the collect above materialized cur's cache (its fold read
            # from prev's still-live cache — one incremental scan); only
            # NOW is prev safe to release.  Unpersisting before cur is
            # materialized would make round r recompute the whole fold
            # chain from t0 — the O(k^2) corpus-rescan cost the persist
            # dance exists to prevent.
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top:
                break
            a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
            out.append((r, a, b, n))
            # persist each round's rewrite: round r's pair count must not
            # re-execute rounds 1..r-1's folds (k rounds would otherwise
            # cost O(k^2) corpus scans); released at the top of the next
            # round, after the new layer is materialized
            prev, cur = cur, cur.select(
                bpe_merge_step(F.col("__t"), a, b).alias("__t")
            ).persist()
    finally:
        cur.unpersist()
        if prev is not None:
            prev.unpersist()
    return out


def bpe_apply(df, merges: list[tuple[int, str, str, int]], text_col: str = "text"):
    """Apply a learned merge table in rank order — the tokenize step a
    trained model ships.  Returns (original columns..., __t token array)."""
    cur = df.withColumn("__t", tokens_col(F.col(text_col)))
    for _r, a, b, _n in merges:
        cur = cur.withColumn("__t", bpe_merge_step(F.col("__t"), a, b))
    return cur


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding-window document chunking (retrieval/embedding prep): token
    windows of `size` every `stride` tokens (overlap = size - stride),
    one row per chunk with its token span and re-joined text.  The last
    window is kept whenever it contains new tokens (standard tokenizer
    chunking: ceil((n - size) / stride) + 1 windows, n <= size -> 1).
    Pure in-row transform + explode — map-only, no shuffle; at 100 TB
    chunking is a streaming pass over the corpus."""
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(
        n <= size, F.lit(1)
    ).otherwise(F.ceil((n - F.lit(size)) / F.lit(stride)).cast("int") + 1)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.slice(toks, i * stride + 1, size).alias("ctoks"),
        ),
    )
    return (
        df.select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            (F.col("c.chunk_idx") * stride).alias("tok_start"),
            F.size("c.ctoks").alias("n_tokens"),
            F.array_join("c.ctoks", " ").alias("chunk_text"),
        )
    )


def bigram_lm_nll_sql(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram-LM perplexity scoring — the CCNet/KenLM-style quality
    filter: train a Laplace-smoothed bigram language model on the corpus
    in one pass, then score every document's average negative
    log-likelihood under it (high = unusual token sequences = the
    filter's discard pile).

    Model: p(b|a) = (c(a,b)+1) / (c(a)+V) with V = distinct unigrams, so
    each DISTINCT bigram's cost is ONE ln of an exact int64 rational —
    nll(a,b) = ln((c(a)+V) / (c(a,b)+1)) — quantized to DECIMAL(18,6)
    (the DSIR quantum).  Per-doc totals sum those exact decimals
    (order-independent); the avg divides the exact decimal sum by the
    exact bigram count as correctly-rounded doubles, so an oracle
    matches bit-for-bit.  Scoring the training corpus itself means every
    scored bigram exists in the model (no unseen-event branch).

    Returns (id, n_bigrams, sum_nll DECIMAL, avg_nll DOUBLE); docs with
    fewer than 2 tokens are absent (no bigram evidence).

    Scale shape: bigrams build IN-ROW (the bpe_merge_candidates
    transform — no lag window, no shuffle), the model is two hash
    aggregates, and scoring is one explode + one model join + one
    id-keyed aggregate.  At demo vocab the model broadcasts; production
    vocab hashes bigrams into 2^20 buckets and the join shuffles on the
    bucket — either way nothing is quadratic.

    Rendered as ONE spark.sql text (r14 opt): a Column-chain
    build costs ~0.3 s of py4j round-trips per caller; the SQL parse
    ~30 ms.  ``test_bigram_lm_random_corpus_vs_naive`` pins the values
    against plain Python."""
    from ..pipeline.dedup import _sql_tokens_text

    toks = _sql_tokens_text(text_col)
    q = f"""
WITH ex AS (
  SELECT `{id_col}`, p.a AS a, p.b AS b FROM (
    SELECT `{id_col}`,
           explode(transform(slice(__toks, 1, greatest(size(__toks) - 1, 0)),
             (t, i) -> struct(t AS a, element_at(__toks, i + 2) AS b))) AS p
    FROM (SELECT `{id_col}`, {toks} AS __toks FROM {{docs}}) tz
  ) px
),
uni AS (
  SELECT a, CAST(count(1) AS BIGINT) AS ca
  FROM (SELECT explode({toks}) AS a FROM {{docs}}) ux GROUP BY a
),
v AS (SELECT CAST(count(1) AS BIGINT) AS v FROM uni),
bi AS (SELECT a, b, CAST(count(1) AS BIGINT) AS cab FROM ex GROUP BY a, b),
model AS (
  SELECT /*+ BROADCAST(v) */ a, b,
    CAST(ln(CAST(ca + v AS DOUBLE) / CAST(cab + 1 AS DOUBLE))
         AS DECIMAL(18,6)) AS nll
  FROM bi JOIN uni USING (a) CROSS JOIN v
)
SELECT `{id_col}`, n_bigrams, sum_nll,
       CAST(sum_nll AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS avg_nll
FROM (
  SELECT /*+ BROADCAST(model) */ `{id_col}`,
         CAST(count(1) AS BIGINT) AS n_bigrams, sum(nll) AS sum_nll
  FROM ex JOIN model USING (a, b)
  GROUP BY `{id_col}`
) s"""
    return df.sparkSession.sql(q, docs=df)
