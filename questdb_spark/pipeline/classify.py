"""Trained linear text classification over hashed bag-of-words features.

The fastText/CCNet-style quality- and language-filter a training-data
pipeline runs at corpus scale is a LINEAR classifier over hashed n-gram
counts — the model is tiny (one weight per hash bucket), the feature
extraction is a map-only pass, and training touches the corpus once per
epoch.  This module implements that shape with the repo's exact-arithmetic
training discipline (the contract `similarity.kmeans_train` and
`text.bpe_train` established), twice over:

- `perceptron_train`: iterative batch-perceptron epochs over integer
  token counts — every round (margins, misclassification sets,
  gradients, weight vectors) replayable bit-for-bit by a SQL oracle.
- `nb_train`/`nb_score`: one-pass multinomial Naive Bayes — closed-form
  counts, decimal-quantized log-likelihood-ratio weights, and EXACT
  decimal serving arithmetic (order-independent distributed sums).

- Features: hashed unigram counts.  Bucket = first-8-hex-chars of
  md5(token) mod 2^31-1 mod `n_feats` (the engine-independent hash idiom
  every dedup/DSIR operator here uses), plus one constant bias feature at
  index `n_feats`.
- Model: integer weight vector, zero-initialised.
- Update (one epoch): margin_d = <x_d, w>; doc d is misclassified iff
  y_d * margin_d <= 0 (zero margin counts as wrong, which is what makes
  the zero-init first round a plain class-frequency vote); then
  w += sum over misclassified of y_d * x_d — the classic batch
  perceptron, all in int64.

Scale shape: the per-doc feature array is built once and persisted
(2 cols, n_feats+1 ints per doc); each epoch is ONE map over the cached
frame (margin = aggregate(zip_with(x, w_literal))) plus ONE hash
aggregate of exploded misclassified features producing n_feats+1 model
rows — the kmeans/PQ trainer discipline: jobs-per-epoch constant, only
model-sized rows ever reach the driver.  At 100 TB you raise `n_feats`
to 2^20 and nothing else changes; the weight vector still ships as a
plan literal (8 MiB broadcast) and the gradient aggregate still returns
one row per bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.lits import lit_array_long
from .dedup import MERSENNE_P

N_FEATS = 32  # test-scale default; production = 2^18..2^21 buckets
ROUNDS = 3


def bucket_col(tok: Column, n_feats: int = N_FEATS) -> Column:
    """Engine-independent hash bucket for a token (md5-anchored)."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
        % MERSENNE_P
        % n_feats
    )


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_feats: int = N_FEATS,
    label: Column | None = None,
) -> DataFrame:
    """Per-doc dense hashed-unigram count vector of length n_feats + 1
    (last slot = constant-1 bias).  One explode + one groupBy; the dense
    array materializes from the bucket->count map so downstream epochs
    are pure map passes.

    ``label`` (an expression over the source row, r14 opt) rides through
    the tokenize pass as a grouping column — it is functionally dependent
    on ``id_col``, so the group cardinality is unchanged and the output
    gains a ``y`` column with no join (the nb_train label_expr rule:
    a docs->labels self-join costs two exchanges + a broadcast build)."""
    from .text import spread_by_cores, tokens_col

    df = spread_by_cores(df)  # a 1-split scan would serialize the explode
    head = [F.col(id_col)] + ([label.alias("__y")] if label is not None else [])
    keys = [id_col] + (["__y"] if label is not None else [])
    per = (
        df.select(
            *head, F.explode(tokens_col(F.col(text_col))).alias("__t")
        )
        .select(*keys, bucket_col(F.col("__t"), n_feats).alias("__j"))
        .groupBy(*keys, "__j")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__j", "__c"))
            ).alias("__m")
        )
    )
    dense = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_feats - 1)),
            lambda j: F.coalesce(
                F.element_at(F.col("__m"), j.cast("long")), F.lit(0).cast("long")
            ),
        ),
        F.array(F.lit(1).cast("long")),  # bias slot
    )
    out = [F.col(id_col), dense.alias("x")] + (
        [F.col("__y").alias("y")] if label is not None else []
    )
    return per.select(*out)


# Dense-gradient cutoff (r14 opt): below this dim each round's gradient
# is ONE single-group aggregate of dim codegen'd sum expressions — no
# explode, no by-pos shuffle.  Above it (production n_feats = 2^18+,
# where a per-slot expression list would blow up codegen) the original
# posexplode -> groupBy(pos) shape takes over: both are exact int64.
DENSE_GRAD_MAX_DIM = 1024


def perceptron_train(
    feats: DataFrame,
    labels: DataFrame | None = None,
    id_col: str = "doc_id",
    rounds: int = ROUNDS,
    dim: int | None = None,
) -> tuple[list[list[int]], list[int]]:
    """Batch-perceptron training over persisted features.

    `feats` = (id, x: array<long>) from `hashed_features`; `labels` =
    (id, y) with y in {+1, -1}, or None when `feats` already carries the
    y column (the hashed_features ``label=`` route — avoids a self-join).
    `dim` skips the feature-width probe job when the caller knows it
    (hashed_features always yields n_feats + 1).  Returns
    (weights_per_round, errors_per_round): weights_per_round[r] is w
    AFTER round r's update and errors_per_round[r] is the misclassified
    count that round (before the update) — the training curve an eval
    dashboard plots.
    """
    joined = feats.join(labels, id_col) if labels is not None else feats
    base = joined.select("x", "y").persist()
    try:
        if dim is None:
            dim = len(base.first()["x"])
        w = [0] * dim
        weights_hist: list[list[int]] = []
        errors_hist: list[int] = []
        for _ in range(rounds):
            if dim <= DENSE_GRAD_MAX_DIM:
                # margin = <x, w> unrolled over the non-zero weights:
                # int64 adds of exact terms in any order equal the HOF
                # zip_with/aggregate fold (zero-weight terms add 0).
                # Rendered as ONE SQL string per round (the rnd_generators
                # rule): the Column-factory form cost ~0.6 s/round of py4j
                # round-trips — more than the round's execution — while a
                # where() + selectExpr() pair is 2 driver calls for the
                # same exact-int64 plan (x[j] is BIGINT, the weight
                # literal carries the L suffix, so every product and sum
                # stays 64-bit, identical to the Column route).
                terms = " + ".join(
                    f"x[{j}] * {int(v)}L" for j, v in enumerate(w) if v
                )
                mis = base.where(f"y * ({terms or '0L'}) <= 0")
                row = mis.selectExpr(
                    *[f"sum(y * x[{j}]) AS g{j}" for j in range(dim)],
                    "count(1) AS n",
                ).collect()[0]  # ONE model row — bounded, documented
                n_err = int(row["n"])
                if n_err:
                    for j in range(dim):
                        w[j] += int(row[f"g{j}"])
            else:
                wlit = lit_array_long(w)
                margin = F.aggregate(
                    F.zip_with(F.col("x"), wlit, lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
                mis = base.withColumn("__m", margin).filter(
                    F.col("y") * F.col("__m") <= 0
                )
                stats = (
                    mis.select("y", F.posexplode("x"))
                    .groupBy("pos")
                    .agg(
                        F.sum(F.col("y") * F.col("col")).alias("g"),
                        # every misclassified doc contributes one row per
                        # pos, so any group's count IS the misclassified-
                        # doc count — the error curve costs no extra job
                        F.count(F.lit(1)).alias("n"),
                    )
                    .collect()  # n_feats+1 model rows — bounded
                )
                n_err = int(stats[0]["n"]) if stats else 0
                for r in stats:
                    w[r["pos"]] += int(r["g"])
            weights_hist.append(list(w))
            errors_hist.append(n_err)
    finally:
        base.unpersist()
    return weights_hist, errors_hist


def score(
    feats: DataFrame,
    weights: list[int],
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained weight vector: one map pass, margin per doc
    (positive = class +1).  The weights ship as plan literals — no join,
    no shuffle; the 100 TB serving path."""
    wlit = lit_array_long(weights)
    margin = F.aggregate(
        F.zip_with(F.col("x"), wlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return feats.select(F.col(id_col), margin.alias("margin"))


def nb_train(
    docs: DataFrame,
    labels: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_feats: int = N_FEATS,
    label_expr: Column | None = None,
) -> DataFrame:
    """Multinomial Naive Bayes over hashed unigram counts — the one-pass
    CLOSED-FORM text classifier (the converging sibling of the
    batch-perceptron trace): per-class bucket token counts with Laplace
    smoothing, log-likelihood-ratio weights.

    Exactness: each bucket weight is ONE ln of an exact int64 rational —
    ln(((n_pos+1)*(N_neg+D)) / ((n_neg+1)*(N_pos+D))) — quantized to
    DECIMAL(18,6) (the DSIR-adjudicated quantum), so serving can run in
    exact decimal arithmetic with no float-summation order hazard.  The
    prior row (feature = n_feats) is ln(docs_pos/docs_neg) the same way.

    Output: one row per bucket (feature, n_pos, n_neg, weight) plus the
    prior row — the whole model, n_feats+1 rows.  Scale shape: ONE
    explode + ONE hash aggregate over (bucket) with conditional sums,
    one 1-row totals aggregate broadcast back; at 100 TB this is a
    single map-side-combinable pass, and the model stays broadcast-size
    at any corpus scale (production n_feats = 2^18..2^21).
    """
    from .text import tokens_col

    spark = docs.sparkSession
    # ``label_expr``: the label as an expression over the docs row itself
    # (e.g. when(lang == 'en', 1).otherwise(-1)) — every in-repo caller
    # derives labels from the same scan, so joining docs back to a
    # docs-derived labels frame was a self-join on id_col (two exchanges
    # + a broadcast build per training pass).  The inline form computes y
    # in the map stage; identical rows, the join disappears (guide §2.4).
    if label_expr is not None:
        if labels is not None:
            raise ValueError("pass labels or label_expr, not both")
        labeled = docs.select(label_expr.cast("long").alias("y"), F.col(text_col))
        d_src = docs.select(label_expr.cast("long").alias("y"))
    else:
        labeled = docs.join(labels, id_col)
        d_src = labels
    # no spread_by_cores here: the bench median of the composed consumers
    # (corpus_quality_report) measured ~0.5 s WORSE with a repartition
    # ahead of this explode — the counts aggregate partial-aggregates
    # map-side, so the extra shuffle + wider stages outweigh the explode
    # parallelism (r13 opt A/B; same verdict as DSIR/bigram-LM)
    ex = (
        labeled
        .select(
            F.col("y"),
            F.explode(tokens_col(F.col(text_col))).alias("__t"),
        )
        .select("y", bucket_col(F.col("__t"), n_feats).alias("__j"))
    )
    pos = (F.col("y") == 1).cast("long")
    neg = (F.col("y") == -1).cast("long")
    counts = ex.groupBy("__j").agg(
        F.sum(pos).alias("n_pos"), F.sum(neg).alias("n_neg")
    )
    full = spark.range(n_feats).select(
        F.col("id").cast("long").alias("__j")
    )
    counts = (
        full.join(counts, "__j", "left")
        .select(
            "__j",
            F.coalesce("n_pos", F.lit(0)).cast("long").alias("n_pos"),
            F.coalesce("n_neg", F.lit(0)).cast("long").alias("n_neg"),
        )
    )
    # totals = column sums of the per-bucket counts — algebraically the
    # same exact int64 sums as aggregating the explode again, one corpus
    # pass cheaper: both consumers now hang off the groupBy(__j) shuffle,
    # which AQE's exchange reuse executes ONCE at runtime (the original
    # `ex.agg(...)` form shared only a mid-stage prefix with the counts
    # aggregate, so the corpus explode ran twice)
    totals = counts.agg(
        F.sum("n_pos").alias("t_pos"), F.sum("n_neg").alias("t_neg")
    )
    d_doc = d_src.agg(
        F.sum(pos).alias("d_pos"), F.sum(neg).alias("d_neg")
    )
    w = (
        F.log(
            (
                (F.col("n_pos") + 1) * (F.col("t_neg") + F.lit(n_feats))
            ).cast("double")
            / (
                (F.col("n_neg") + 1) * (F.col("t_pos") + F.lit(n_feats))
            ).cast("double")
        )
        .cast("decimal(18,6)")
    )
    buckets = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.col("__j").cast("int").alias("feature"),
            "n_pos",
            "n_neg",
            w.alias("weight"),
        )
    )
    prior = d_doc.select(
        F.lit(n_feats).cast("int").alias("feature"),
        F.col("d_pos").cast("long").alias("n_pos"),
        F.col("d_neg").cast("long").alias("n_neg"),
        F.log(
            F.col("d_pos").cast("double") / F.col("d_neg").cast("double")
        )
        .cast("decimal(18,6)")
        .alias("weight"),
    )
    return buckets.unionByName(prior)


def nb_train_sql(
    docs: DataFrame,
    label_sql: str,
    text_col: str = "text",
    n_feats: int = N_FEATS,
) -> DataFrame:
    """``nb_train(docs, None, label_expr=...)`` rendered as one SQL text
    (r14, the same rule as :func:`nb_train_score_sql` but keeping
    nb_train's cheaper model-only plan — counts keyed directly by bucket,
    no per-doc tf granularity).  ``label_sql`` is the label as a SQL
    expression over the docs row.  Pinned row-exact against the Column
    route by ``test_nb_train_sql_matches_column_route``."""
    from .dedup import _sql_tokens_text

    toks = _sql_tokens_text(text_col)
    bucket = (
        f"CAST(conv(substring(md5(__t), 1, 8), 16, 10) AS BIGINT) "
        f"% {MERSENNE_P} % {n_feats}"
    )
    q = f"""
WITH ex AS (
  SELECT y, {bucket} AS __j FROM (
    SELECT CAST({label_sql} AS BIGINT) AS y, explode({toks}) AS __t FROM {{docs}}
  ) e
),
counts0 AS (
  SELECT __j, sum(CAST(y = 1 AS BIGINT)) AS n_pos,
         sum(CAST(y = -1 AS BIGINT)) AS n_neg
  FROM ex GROUP BY __j
),
counts AS (
  SELECT __j, CAST(coalesce(n_pos, 0) AS BIGINT) AS n_pos,
         CAST(coalesce(n_neg, 0) AS BIGINT) AS n_neg
  FROM (SELECT CAST(id AS BIGINT) AS __j FROM range({n_feats})) fr
  LEFT JOIN counts0 USING (__j)
),
totals AS (SELECT sum(n_pos) AS t_pos, sum(n_neg) AS t_neg FROM counts),
buckets AS (
  SELECT /*+ BROADCAST(totals) */ CAST(__j AS INT) AS feature, n_pos, n_neg,
    CAST(ln(CAST((n_pos + 1) * (t_neg + {n_feats}) AS DOUBLE)
         / CAST((n_neg + 1) * (t_pos + {n_feats}) AS DOUBLE))
         AS DECIMAL(18,6)) AS weight
  FROM counts CROSS JOIN totals
),
d_doc AS (
  SELECT sum(CAST(y = 1 AS BIGINT)) AS d_pos,
         sum(CAST(y = -1 AS BIGINT)) AS d_neg
  FROM (SELECT CAST({label_sql} AS BIGINT) AS y FROM {{docs}}) dl
),
prior AS (
  SELECT CAST({n_feats} AS INT) AS feature,
         CAST(d_pos AS BIGINT) AS n_pos, CAST(d_neg AS BIGINT) AS n_neg,
         CAST(ln(CAST(d_pos AS DOUBLE) / CAST(d_neg AS DOUBLE))
              AS DECIMAL(18,6)) AS weight
  FROM d_doc
)
SELECT * FROM buckets UNION ALL SELECT * FROM prior
"""
    return docs.sparkSession.sql(q, docs=docs)


def nb_train_score_sql(
    docs: DataFrame,
    label_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_feats: int = N_FEATS,
) -> tuple[DataFrame, DataFrame]:
    """Train the NB model AND score the training corpus in one composed
    plan sharing a single tokenize pass (r14 opt): a
    ``nb_train`` + ``nb_score`` composition runs the corpus explode
    twice — once keyed (bucket) for the model counts, once keyed
    (doc, bucket) for the tf table.  The per-(doc, y, bucket) tf counts
    subsume both: the model counts re-aggregate tf by bucket (exact
    int64 sum-of-sums, the r13 nb_confusion discipline), and scoring
    joins the model back onto the same tf exchange — which AQE runtime
    exchange reuse executes ONCE.

    ``label_sql`` is the label as a SQL expression over the docs row
    (e.g. "CASE WHEN lang = 'en' THEN 1 ELSE -1 END").  Returns
    (model, scored): ``model`` row-identical to ``nb_train(...)`` with
    the same labels; ``scored`` row-identical to ``nb_score(docs,
    model)`` with the doc's label carried along — (id, y, score) so
    confusion-style consumers need no labels re-join.  Pinned by
    ``test_nb_train_score_matches_separate_train_and_score``.

    Rendered as SQL text: a Column-chain build
    costs ~1350 py4j round-trips (~0.5 s) per caller, the SQL parse
    ~40 ms."""
    from .dedup import _sql_tokens_text

    spark = docs.sparkSession
    toks = _sql_tokens_text(text_col)
    bucket = (
        f"CAST(conv(substring(md5(__t), 1, 8), 16, 10) AS BIGINT) "
        f"% {MERSENNE_P} % {n_feats}"
    )
    common = f"""
WITH tfc AS (
  SELECT `{id_col}`, y, __j, CAST(count(1) AS BIGINT) AS tf FROM (
    SELECT `{id_col}`, y, {bucket} AS __j FROM (
      SELECT `{id_col}`, CAST({label_sql} AS BIGINT) AS y,
             explode({toks}) AS __t FROM {{docs}}
    ) ex
  ) bx GROUP BY `{id_col}`, y, __j
),
counts0 AS (
  SELECT __j,
    CAST(sum(CASE WHEN y = 1 THEN tf ELSE 0 END) AS BIGINT) AS n_pos,
    CAST(sum(CASE WHEN y = -1 THEN tf ELSE 0 END) AS BIGINT) AS n_neg
  FROM tfc GROUP BY __j
),
counts AS (
  SELECT __j, CAST(coalesce(n_pos, 0) AS BIGINT) AS n_pos,
         CAST(coalesce(n_neg, 0) AS BIGINT) AS n_neg
  FROM (SELECT CAST(id AS BIGINT) AS __j FROM range({n_feats})) fr
  LEFT JOIN counts0 USING (__j)
),
totals AS (SELECT sum(n_pos) AS t_pos, sum(n_neg) AS t_neg FROM counts),
buckets AS (
  SELECT /*+ BROADCAST(totals) */ CAST(__j AS INT) AS feature, n_pos, n_neg,
    CAST(ln(CAST((n_pos + 1) * (t_neg + {n_feats}) AS DOUBLE)
         / CAST((n_neg + 1) * (t_pos + {n_feats}) AS DOUBLE))
         AS DECIMAL(18,6)) AS weight
  FROM counts CROSS JOIN totals
),
d_doc AS (
  SELECT CAST(sum(CAST(y = 1 AS BIGINT)) AS BIGINT) AS d_pos,
         CAST(sum(CAST(y = -1 AS BIGINT)) AS BIGINT) AS d_neg
  FROM (SELECT CAST({label_sql} AS BIGINT) AS y FROM {{docs}}) dl
),
prior AS (
  SELECT CAST({n_feats} AS INT) AS feature,
         CAST(d_pos AS BIGINT) AS n_pos, CAST(d_neg AS BIGINT) AS n_neg,
         CAST(ln(CAST(d_pos AS DOUBLE) / CAST(d_neg AS DOUBLE))
              AS DECIMAL(18,6)) AS weight
  FROM d_doc
)"""
    model = spark.sql(
        common
        + "\nSELECT * FROM buckets UNION ALL SELECT * FROM prior",
        docs=docs,
    )
    scored = spark.sql(
        common
        + f""",
jw AS (SELECT CAST(feature AS BIGINT) AS __j, weight FROM buckets),
pw AS (SELECT weight AS __prior FROM prior)
SELECT /*+ BROADCAST(pw) */ `{id_col}`, y, __s + __prior AS score FROM (
  SELECT /*+ BROADCAST(jw) */ `{id_col}`, y, sum(tf * weight) AS __s
  FROM tfc JOIN jw USING (__j)
  GROUP BY `{id_col}`, y
) s CROSS JOIN pw""",
        docs=docs,
    )
    return model, scored


def nb_score(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_feats: int = N_FEATS,
) -> DataFrame:
    """Score docs with a trained NB model: (doc_id, score DECIMAL) where
    score = prior + sum_j tf_j * w_j in EXACT decimal arithmetic —
    order-independent, so distributed summation cannot perturb the
    result.  One explode + one broadcast join on the n_feats+1-row model
    + one doc-keyed aggregate."""
    from .text import tokens_col

    # no spread_by_cores (same measured verdict as nb_train above)
    ex = (
        docs.select(
            F.col(id_col),
            F.explode(tokens_col(F.col(text_col))).alias("__t"),
        )
        .select(id_col, bucket_col(F.col("__t"), n_feats).alias("__j"))
        .groupBy(id_col, "__j")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    buckets = model.filter(F.col("feature") < n_feats).select(
        F.col("feature").cast("long").alias("__j"), "weight"
    )
    prior = model.filter(F.col("feature") == n_feats).select(
        F.col("weight").alias("__prior")
    )
    return (
        ex.join(F.broadcast(buckets), "__j")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("weight")).alias("__s"))
        .crossJoin(F.broadcast(prior))
        .select(
            id_col,
            (F.col("__s") + F.col("__prior")).alias("score"),
        )
    )


def nb_weights_micro(model: DataFrame) -> list[int]:
    """Collect a trained NB model into the micro-unit integer weight
    vector the serving/streaming gate broadcasts as plan literals:
    element j = weight_j * 10^6 as int64 (exact — weights are
    DECIMAL(18,6)), prior last.  Model-scale collect (n_feats+1 rows)."""
    from decimal import Decimal

    rows = model.select("feature", "weight").collect()
    out = [0] * len(rows)
    for r in rows:
        w = r["weight"]
        out[int(r["feature"])] = int(Decimal(str(w)) * (10**6))
    return out
