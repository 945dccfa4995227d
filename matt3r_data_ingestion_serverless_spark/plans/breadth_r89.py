"""Round-4 batch 17: an ALS user-factor solve and Naive Bayes language
ID.

Two model-fitting operator families expressed relationally: one
alternating-least-squares half-round with the per-user 2×2 normal
equations solved in closed form (the recommender-systems primitive),
and multinomial Naive Bayes trained on half the corpus and confusion-
evaluated on the other half (the classical text classifier as pure
joins + aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions.rounding import round6, round6_sql
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# ALS user-factor solve (one half-round, closed-form 2×2)
# ---------------------------------------------------------------------------

# fixed item factors: every component is a power of two, so v·r and the
# per-user normal-equation sums are EXACT floats (order-independent) —
# the only rounding happens after the closed-form solve
_ALS_V = {
    "click": (1.0, 0.5),
    "error": (1.0, -0.5),
    "purchase": (0.5, 1.0),
    "signup": (-0.5, 1.0),
    "view": (1.0, 1.0),
}
_ALS_LAMBDA = 0.25  # power of two: A's diagonal stays exact

_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


def _als_sql() -> str:
    def case(expr_by_type: dict[str, str]) -> str:
        whens = " ".join(
            f"WHEN '{t}' THEN {e}" for t, e in expr_by_type.items()
        )
        return f"(CASE event_type {whens} END)"

    a = case({t: repr(v[0] * v[0]) for t, v in _ALS_V.items()})
    b = case({t: repr(v[0] * v[1]) for t, v in _ALS_V.items()})
    d = case({t: repr(v[1] * v[1]) for t, v in _ALS_V.items()})
    g1 = case({t: f"{v[0]!r} * r" for t, v in _ALS_V.items()})
    g2 = case({t: f"{v[1]!r} * r" for t, v in _ALS_V.items()})
    v1 = case({t: repr(v[0]) for t, v in _ALS_V.items()})
    v2 = case({t: repr(v[1]) for t, v in _ALS_V.items()})
    return f"""
WITH rat AS (
  SELECT user_id, event_type, CAST(sum({_CENTS}) AS DOUBLE) AS r
  FROM events GROUP BY 1, 2
),
ne AS (
  SELECT user_id,
         count(*) AS n_items,
         sum({a}) + {_ALS_LAMBDA} AS a,
         sum({b}) AS b,
         sum({d}) + {_ALS_LAMBDA} AS d,
         sum({g1}) AS g1,
         sum({g2}) AS g2
  FROM rat GROUP BY user_id
),
uf AS (
  SELECT user_id, n_items,
         (d * g1 - b * g2) / (a * d - b * b) AS u1,
         (a * g2 - b * g1) / (a * d - b * b) AS u2
  FROM ne
),
err AS (
  SELECT r.user_id, uf.n_items, uf.u1, uf.u2,
         sum(pow(r.r - (uf.u1 * {v1} + uf.u2 * {v2}), 2)) AS sse
  FROM rat r JOIN uf ON uf.user_id = r.user_id
  GROUP BY 1, 2, 3, 4
)
SELECT user_id, n_items,
       {round6_sql('u1 / 100')} AS u1_r,
       {round6_sql('u2 / 100')} AS u2_r,
       {round6_sql('sqrt(sse / n_items) / 100')} AS rmse_r
FROM err
"""


@register("ml_als_user_solve", sql=_als_sql())
def ml_als_user_solve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS half-round on the user × event-type spend matrix: with
    item factors FIXED (power-of-two constants), each user's rank-2
    factor solves the ridge normal equations (VᵀV + λI)u = Vᵀr in
    closed form — the alternating-least-squares step every
    matrix-factorization recommender iterates, expressed as ONE
    groupBy(user) whose aggregation buffers ARE the 2×2 system
    (a, b, d, g₁, g₂). The per-user reconstruction RMSE comes from a
    second aggregate over the same ratings.

    Scale: ratings are one groupBy((user, item)); the solve is one
    groupBy(user) with five sum buffers — in full ALS the item
    half-round is the same plan keyed by item with the (tiny) user-
    factor side broadcast. Exactness: item-factor components and λ are
    powers of two and ratings are integer cents, so every sum in the
    normal equations is EXACT (no float summation-order dependence);
    only the final quotients round."""
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    rat = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.sum(cents).cast("double").alias("r"))
    )
    v1 = F.create_map(
        *[x for t, v in _ALS_V.items() for x in (F.lit(t), F.lit(v[0]))]
    )[F.col("event_type")]
    v2 = F.create_map(
        *[x for t, v in _ALS_V.items() for x in (F.lit(t), F.lit(v[1]))]
    )[F.col("event_type")]
    ne = rat.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(v1 * v1) + F.lit(_ALS_LAMBDA)).alias("a"),
        F.sum(v1 * v2).alias("b"),
        (F.sum(v2 * v2) + F.lit(_ALS_LAMBDA)).alias("d"),
        F.sum(v1 * F.col("r")).alias("g1"),
        F.sum(v2 * F.col("r")).alias("g2"),
    )
    det = F.col("a") * F.col("d") - F.col("b") * F.col("b")
    uf = ne.select(
        "user_id",
        "n_items",
        ((F.col("d") * F.col("g1") - F.col("b") * F.col("g2")) / det).alias("u1"),
        ((F.col("a") * F.col("g2") - F.col("b") * F.col("g1")) / det).alias("u2"),
    )
    err = (
        rat.join(uf, "user_id")
        .groupBy("user_id", "n_items", "u1", "u2")
        .agg(
            F.sum(
                F.pow(F.col("r") - (F.col("u1") * v1 + F.col("u2") * v2), 2)
            ).alias("sse")
        )
    )
    return err.select(
        "user_id",
        "n_items",
        round6(F.col("u1") / 100).alias("u1_r"),
        round6(F.col("u2") / 100).alias("u2_r"),
        round6(F.sqrt(F.col("sse") / F.col("n_items")) / 100).alias("rmse_r"),
    )


# ---------------------------------------------------------------------------
# multinomial Naive Bayes language ID
# ---------------------------------------------------------------------------

_NB_SQL = """
WITH tok AS (
  SELECT doc_id, lang, doc_id % 2 = 0 AS is_train,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
vocab AS (SELECT count(DISTINCT w) AS v FROM tok WHERE is_train),
cls AS (
  SELECT lang, count(*) AS n_tok,
         count(DISTINCT doc_id) AS n_docs
  FROM tok WHERE is_train GROUP BY lang
),
prior AS (
  SELECT lang, ln(CAST(n_docs AS DOUBLE)
                  / (SELECT sum(n_docs) FROM cls)) AS logprior
  FROM cls
),
wc AS (
  SELECT lang, w, count(*) AS c FROM tok WHERE is_train GROUP BY 1, 2
),
lp AS (
  SELECT c.lang, t.w,
         ln(CAST(coalesce(wc.c, 0) + 1 AS DOUBLE)
            / (c.n_tok + (SELECT v FROM vocab))) AS logp
  FROM cls c
  CROSS JOIN (SELECT DISTINCT w FROM tok WHERE is_train) t
  LEFT JOIN wc ON wc.lang = c.lang AND wc.w = t.w
),
scored AS (
  SELECT t.doc_id, t.lang AS true_lang, lp.lang AS cand,
         sum(lp.logp) AS loglik
  FROM tok t JOIN lp ON lp.w = t.w
  WHERE NOT t.is_train
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT s.doc_id, s.true_lang, s.cand,
         row_number() OVER (
           PARTITION BY s.doc_id
           ORDER BY sign(s.loglik + p.logprior)
                    * floor(abs(s.loglik + p.logprior) * 1e6 + 0.5) DESC,
                    s.cand
         ) AS rk
  FROM scored s JOIN prior p ON p.lang = s.cand
)
SELECT true_lang, cand AS pred_lang, count(*) AS n
FROM ranked WHERE rk = 1 GROUP BY 1, 2
"""


@register("ns_naive_bayes_langid", sql=_NB_SQL)
def ns_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language ID, trained on even doc_ids and
    confusion-evaluated on odd ones: Laplace-smoothed token
    log-likelihoods + class log-priors, argmax per test doc — the
    classical text classifier expressed entirely as joins and
    aggregates (train = two groupBys, score = one join + groupBy). The
    argmax compares MICRO-ROUNDED scores (the shared sign·floor
    formula at 6 dp) with the class name as tiebreak, so a last-ulp
    summation-order difference between engines can never flip a
    prediction.

    Scale: token counts and vocab are linear scans; the score join
    fans out (test tokens × classes) — classes is a constant — and
    class-conditional tables are broadcast-sized. The n-gram
    heuristic twin is ns_lang_id; this one is the trained-model
    contrast."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            (F.col("doc_id") % 2 == 0).alias("is_train"),
            F.explode(F.split("text", " ")).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    train = tok.filter("is_train")
    vocab = train.agg(F.countDistinct("w").alias("v"))
    cls = train.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tok"), F.countDistinct("doc_id").alias("n_docs")
    )
    total_docs = cls.agg(F.sum("n_docs").alias("td"))
    prior = cls.join(F.broadcast(total_docs)).select(
        "lang", F.log(F.col("n_docs").cast("double") / F.col("td")).alias("logprior")
    )
    wc = train.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    words = train.select("w").distinct()
    lp = (
        cls.crossJoin(words)
        .join(wc, ["lang", "w"], "left")
        .join(F.broadcast(vocab))
        .select(
            "lang",
            "w",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                / (F.col("n_tok") + F.col("v"))
            ).alias("logp"),
        )
    )
    test = tok.filter(~F.col("is_train"))
    scored = (
        test.join(
            lp.select(F.col("lang").alias("cand"), "w", "logp"), "w"
        )
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "cand")
        .agg(F.sum("logp").alias("loglik"))
    )
    total = scored.join(
        F.broadcast(prior.select(F.col("lang").alias("cand"), "logprior")), "cand"
    ).withColumn("score", F.col("loglik") + F.col("logprior"))
    micro = F.signum("score") * F.floor(F.abs("score") * 1e6 + 0.5)
    wr = Window.partitionBy("doc_id").orderBy(F.desc(micro), F.asc("cand"))
    return (
        total.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
