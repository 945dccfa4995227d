"""North-star extension queries (SURVEY §7.2 M5): similarity search
and text analysis over the ``documents`` / ``embeddings`` tables (the
deduplication queries are in plans/dedup.py, the multimodal queries in
plans/multimodal.py).

These have no counterpart in the reference (it is a telemetry ETL —
parse_canserver_filtered_log.py decodes CAN frames, nothing touches
text or vectors); they are the training-data-pipeline surface a 100 TB
engine needs. Every query is pure DataFrame/Catalyst code.

Scale design, per query family:
- shingle Jaccard top-k and containment: an inverted-index or LSH band
  join, so only documents sharing a shingle or a band key are scored.
- embedding near-dup (SRP-LSH): the candidate join is on (band, key) —
  cardinality ~n_bands × n_docs, bucket sizes are small by
  construction, so the shuffle is narrow and exact cosine runs only on
  candidates. No O(n²) stage anywhere.
- brute-force similarity baselines and ANN (IVF, PQ): the query set is
  a small filtered subset that Catalyst broadcast-joins against the
  corpus — the corpus is scanned once, never shuffled.
- text analysis: per-row column expressions only (no shuffle at all
  until the final small aggregate, if any).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import hashing, text, vectors
from matt3r_data_ingestion_serverless_spark.plans.registry import register
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread

COSINE_DUP = 0.4  # embedding near-dup threshold (top pairs ≈ 0.4–0.51)


def _pin(df: DataFrame) -> DataFrame:
    """Persist a small per-row signature stage that a self-join (or a
    verify join-back) would otherwise recompute once per plan branch.
    At 100 TB this stage is the materialized signature table —
    (id, signature) columns only, a tiny fraction of corpus bytes —
    persisted MEMORY_AND_DISK so executors spill instead of OOM."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _ngram_topk_sql() -> str:
    return f"""
WITH {hashing.hashed_shingles_cte()},
q AS (SELECT doc_id AS query_id, sh AS qsh FROM d WHERE doc_id % 100 = 0),
scored AS (SELECT query_id, d.doc_id AS match_id,
                  round({hashing.jaccard_sql('qsh', 'd.sh')}, 6) AS jaccard
           FROM q JOIN d ON d.doc_id != query_id),
ranked AS (SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY jaccard DESC, match_id) AS rank
           FROM scored WHERE jaccard > 0)
SELECT query_id, match_id, rank, jaccard FROM ranked WHERE rank <= 3
"""


@register("ns_ngram_jaccard_topk", sql=_ngram_topk_sql())
def ns_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity search: for a small query subset, the
    top-3 most-similar corpus docs. The query set broadcasts; the corpus
    is scanned once with per-row scoring, then a per-query top-k window
    (partial top-k per partition under AQE). Exact baseline for the LSH
    dedup path."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    d = _pin(
        hashing.with_hashed_shingles(docs)
        .select("doc_id", "sh")
        .withColumn("n_sh", F.size("sh"))
    )
    q = d.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.explode("sh").alias("h"),
        F.col("n_sh").alias("n_q"),
    )
    # inverted index: |A∩B| via equi-join on the shingle hash — only
    # docs SHARING a shingle are ever scored (jaccard > 0 is implied),
    # and the pair loop over array intersections disappears. At corpus
    # scale this is the textbook prune: join cost follows shingle
    # posting-list sizes, not |queries|×|corpus|.
    dx = d.select(F.col("doc_id").alias("match_id"), F.explode("sh").alias("h"))
    inter = (
        F.broadcast(q)
        .join(dx, "h")
        .filter(F.col("match_id") != F.col("query_id"))
        .groupBy("query_id", "match_id", "n_q")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = d.select(F.col("doc_id").alias("match_id"), F.col("n_sh").alias("n_m"))
    scored = inter.join(sizes, "match_id").select(
        "query_id",
        "match_id",
        F.round(
            F.col("n_inter") / (F.col("n_q") + F.col("n_m") - F.col("n_inter")), 6
        ).alias("jaccard"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("jaccard"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "match_id", "rank", "jaccard")
    )


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------


def _emb_norm_cte() -> str:
    return (
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
        f"n AS (SELECT vec_id, v, {vectors.l2_norm_sql('v')} AS nrm FROM e)"
    )


def _emb_normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    v = vectors.as_double(F.col("embedding"))
    return _pin(
        emb.select("vec_id", v.alias("v")).withColumn("nrm", vectors.l2_norm("v"))
    )


def _neardup_bruteforce_sql() -> str:
    cos = f"{vectors.dot_sql('q.v', 'n.v')} / (q.nrm * n.nrm)"
    return f"""
WITH {_emb_norm_cte()},
q AS (SELECT vec_id AS query_id, v, nrm FROM n WHERE vec_id % 10 = 0)
SELECT query_id, n.vec_id AS match_id, round({cos}, 6) AS cos_sim
FROM q JOIN n ON n.vec_id != query_id
WHERE round({cos}, 6) >= {COSINE_DUP}
"""


@register("ns_embedding_neardup", sql=_neardup_bruteforce_sql())
def ns_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over a 10%-of-ids query subset,
    computed with the blocked-BLAS scorer (operators/ann.py): the query
    block task-broadcasts, the corpus streams through mapInPandas in
    Arrow batches, and each batch scores as ONE matmul. Replaces the
    earlier broadcast-nested-loop + per-pair codegen fold — identical
    output (same oracle), ~10× throughput: dense linear algebra is the
    one case where Arrow+BLAS beats whole-stage codegen."""
    from matt3r_data_ingestion_serverless_spark.operators.ann import (
        blocked_cosine_pairs,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") % 10 == 0)
    return blocked_cosine_pairs(emb, q, COSINE_DUP)


def _neardup_lsh_sql() -> str:
    cos = f"{vectors.dot_sql('na.v', 'nb.v')} / (na.nrm * nb.nrm)"
    return f"""
WITH {_emb_norm_cte()},
bk AS (SELECT vec_id, unnest({vectors.srp_band_keys_sql('v')}, recursive := true) FROM n),
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                           AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, round({cos}, 6) AS cos_sim
FROM cand JOIN n na ON vec_a = na.vec_id
          JOIN n nb ON vec_b = nb.vec_id
WHERE round({cos}, 6) >= {COSINE_DUP}
"""


@register("ns_embedding_neardup_lsh", sql=_neardup_lsh_sql())
def ns_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus embedding near-dup via sign-random-projection LSH:
    4 bands of 8 sign bits bucket the corpus; only same-bucket pairs get
    an exact cosine. This is the 100 TB scale path — the brute-force
    variant is the recall oracle on a subset."""
    n = _emb_normed(spark, sf_dir)
    bk = n.select(
        "vec_id", F.explode(vectors.srp_band_keys("v")).alias("bk")
    ).select("vec_id", "bk.band", "bk.key")
    a, b = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    na = n.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("nrm_a")
    )
    nb = n.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nrm_b")
    )
    cos = F.round(
        vectors.cosine("va", "vb", F.col("nrm_a"), F.col("nrm_b")), 6
    )
    return (
        cand.join(na, "vec_a")
        .join(nb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_DUP)
    )


def _ann_topk_sql() -> str:
    cos = f"{vectors.dot_sql('q.v', 'n.v')} / (q.nrm * n.nrm)"
    return f"""
WITH {_emb_norm_cte()},
q AS (SELECT vec_id AS query_id, v, nrm FROM n WHERE vec_id % 50 = 0),
scored AS (SELECT query_id, n.vec_id AS match_id, round({cos}, 6) AS cos_sim
           FROM q JOIN n ON n.vec_id != query_id),
ranked AS (SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY cos_sim DESC, match_id) AS rank
           FROM scored)
SELECT query_id, match_id, rank, cos_sim FROM ranked WHERE rank <= 5
"""


@register("ns_ann_cosine_topk", sql=_ann_topk_sql())
def ns_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the ANN baseline): broadcast query set,
    single corpus scan, per-query top-5 window. Ranking happens on the
    ROUNDED similarity (6 dp) with match_id tiebreak so rank order is
    engine-stable."""
    n = _emb_normed(spark, sf_dir)
    q = n.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    cos = F.round(
        vectors.cosine("qv", "v", F.col("qnrm"), F.col("nrm")), 6
    )
    scored = n.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("match_id"), cos.alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "match_id", "rank", "cos_sim")
    )


def _ann_ivf_sql(nprobe: int = 1) -> str:
    dot_qc = vectors.dot_sql("q.v", "cn.c")
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, label, v, {vectors.l2_norm_sql('v')} AS nrm FROM e),
cexp AS (SELECT label, i, avg(v[i]) AS m FROM e, range(1, 65) t(i) GROUP BY label, i),
cent AS (SELECT label, list(m ORDER BY i) AS c FROM cexp GROUP BY label),
cn AS (SELECT label, c, {vectors.l2_norm_sql('c')} AS cnrm FROM cent),
q AS (SELECT vec_id AS query_id, v, nrm FROM n WHERE vec_id % 50 = 0),
qc AS (SELECT query_id, v, nrm, probe_label FROM (
         SELECT q.query_id, q.v, q.nrm, cn.label AS probe_label,
                row_number() OVER (PARTITION BY q.query_id
                  ORDER BY round({dot_qc} / (q.nrm * cn.cnrm), 6) DESC, cn.label) AS rn
         FROM q CROSS JOIN cn) WHERE rn <= {nprobe}),
scored AS (SELECT query_id, n.vec_id AS match_id,
                  round({vectors.dot_sql('qc.v', 'n.v')} / (qc.nrm * n.nrm), 6) AS cos_sim
           FROM qc JOIN n ON n.label = qc.probe_label AND n.vec_id != query_id),
ranked AS (SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY cos_sim DESC, match_id) AS rank
           FROM scored)
SELECT query_id, match_id, rank, cos_sim FROM ranked WHERE rank <= 5
"""


def _ivf_scored(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF candidate scores WITH the probe rank that admitted each
    candidate: (query_id, match_id, cos_sim, probe_rn). Because every
    corpus vector lives in exactly ONE cell, a (query, match) pair is
    admitted by exactly one probe — the match's own cell — so the
    nprobe=p candidate set is precisely ``probe_rn <= p`` of the
    nprobe=max set. ns_ivf_recall_curve exploits this to pay the
    corpus-side probe join ONCE for the whole curve instead of once per
    curve point; _ivf_topk is the single-point view."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    e = emb.select("vec_id", "label", vectors.as_double(F.col("embedding")).alias("v"))
    n = _pin(e.withColumn("nrm", vectors.l2_norm("v")))
    # centroids: per-dim mean via posexplode → (label, i) hash agg → re-assemble
    pos = e.select("label", F.posexplode("v").alias("i", "x"))
    cexp = pos.groupBy("label", "i").agg(F.avg("x").alias("m"))
    cent = cexp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
        ).alias("c")
    )
    cn = cent.withColumn("cnrm", vectors.l2_norm("c"))
    q = n.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    cos_qc = F.round(
        vectors.cosine("qv", "c", F.col("qnrm"), F.col("cnrm")), 6
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cent_sim"), F.asc("label"))
    qc = (
        q.crossJoin(F.broadcast(cn))
        .withColumn("cent_sim", cos_qc)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(
            "query_id", "qv", "qnrm", F.col("label").alias("probe_label"), "rn"
        )
    )
    cos_qn = F.round(
        vectors.cosine("qv", "v", F.col("qnrm"), F.col("nrm")), 6
    )
    return n.join(
        F.broadcast(qc),
        (F.col("label") == F.col("probe_label")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("match_id"),
        cos_qn.alias("cos_sim"),
        F.col("rn").alias("probe_rn"),
    )


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """Shared IVF plan; see ns_ann_ivf_topk for the design notes."""
    scored = _ivf_scored(spark, sf_dir, nprobe)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "match_id", "rank", "cos_sim")
    )


@register("ns_ann_ivf_topk", sql=_ann_ivf_sql())
def ns_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into cells (the label
    clusters; centroids = per-dimension means computed via posexplode +
    hash agg), route each query to its nearest centroid (nprobe=1), and
    rank only within that cell.

    Scale: the centroid table is k rows — always broadcast; the corpus
    is scanned once to build cells and the probe join touches 1/k of it
    per query. This trades recall (documented: true neighbors outside
    the probed cell are missed) for a k× scan reduction — the standard
    IVF contract. Brute-force ns_ann_cosine_topk is the recall oracle."""
    return _ivf_topk(spark, sf_dir, nprobe=1)


@register("ns_ann_ivf_nprobe_topk", sql=_ann_ivf_sql(nprobe=2))
def ns_ann_ivf_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2 — the recall/scan-cost dial: each query ranks
    the two nearest cells, doubling the scanned fraction (2/k) to
    recover neighbors that straddle a cell boundary. Cells are disjoint
    (a vector has one label), so the union of probed cells is
    duplicate-free and needs no dedup before ranking."""
    return _ivf_topk(spark, sf_dir, nprobe=2)


# --- product quantization (PQ) ---------------------------------------------

PQ_M, PQ_DSUB = 8, 8  # 8 subspaces × 8 dims = the 64-dim embedding


def _ann_pq_sql() -> str:
    def sub_l2(vec: str, cw: str, s: str) -> str:
        d = f"({vec}[{s}*{PQ_DSUB} + j] - {cw}[j])"
        return f"list_sum(list_transform(range(1, {PQ_DSUB + 1}), j -> {d} * {d}))"

    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (SELECT label, CAST((i - 1) // {PQ_DSUB} AS INT) AS s, i, avg(v[i]) AS m
       FROM e, range(1, 65) t(i) GROUP BY label, s, i),
cw AS (SELECT s, label, list(m ORDER BY i) AS cw FROM cb GROUP BY s, label),
dists AS (SELECT e.vec_id, cw.s, cw.label,
                 round({sub_l2('e.v', 'cw.cw', 'cw.s')}, 9) AS d
          FROM e CROSS JOIN cw),
codes AS (SELECT vec_id, s, label AS code_label FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s
                        ORDER BY d, label) AS rn FROM dists) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % 50 = 0),
lut AS (SELECT q.query_id, cw.s, cw.label,
               {sub_l2('q.v', 'cw.cw', 'cw.s')} AS pd
        FROM q CROSS JOIN cw),
scored AS (SELECT l.query_id, c.vec_id AS match_id, round(sum(l.pd), 6) AS adist
           FROM codes c JOIN lut l ON l.s = c.s AND l.label = c.code_label
           WHERE c.vec_id != l.query_id GROUP BY 1, 2),
ranked AS (SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY adist, match_id) AS rank
           FROM scored)
SELECT query_id, match_id, rank, adist FROM ranked WHERE rank <= 5
"""


@register("ns_ann_pq_adc_topk", sql=_ann_pq_sql())
def ns_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation:
    split each 64-dim vector into 8 sub-vectors, encode every sub-vector
    as the id of its nearest codeword (codebook = per-label sub-space
    means — deterministic, so both engines derive the identical
    codebook; a k-means codebook is a drop-in), then rank candidates by
    the ADC estimate Σ_s ||q_sub(s) − codeword(s, code[s])||² — the
    corpus's float vectors are never touched at query time.

    Scale: encoding is a map-only pass with a broadcast codebook
    (M×K×d_sub doubles — kilobytes); the encoded corpus is M bytes/vec
    instead of 4·64, a 32× memory/scan reduction, which is what makes
    billion-vector rescoring feasible. Scoring joins the tiny per-query
    LUT against codes — no vector math per candidate. Codeword argmin is
    computed on distances rounded to 9 dp with label-order tiebreak so
    Spark and the oracle pick identical codes."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    e = emb.select("vec_id", "label", vectors.as_double(F.col("embedding")).alias("v"))

    # codebook: per (label, subspace) mean sub-vector. K×M×d_sub doubles
    # → collect and inline as literals (the broadcast-codebook pattern).
    pos = e.select("label", F.posexplode("v").alias("i", "x"))
    cb_rows = (
        pos.withColumn("s", (F.col("i") / PQ_DSUB).cast("int"))
        .groupBy("s", "label", "i")
        .agg(F.avg("x").alias("m"))
        .groupBy("s", "label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))), lambda t: t["m"]
            ).alias("cw")
        )
        .collect()
    )
    cb = {(r["s"], r["label"]): list(r["cw"]) for r in cb_rows}
    labels = sorted({label for (_, label) in cb})

    # The encode/ADC expressions inline the whole codebook as literals
    # (the broadcast-codebook scale pattern: constants ship with the
    # plan, the encode pass stays map-only). Build them as SQL text and
    # parse ONCE with F.expr — composing ~100 nested higher-order
    # functions through the Python Column API costs thousands of py4j
    # round-trips (measured: ~10 s of pure plan construction).
    def cw_sql(s: int, label: int) -> str:
        return "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in cb[(s, label)]) + ")"

    def l2sq_sql(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    def sub_sql(vec: str, s: int) -> str:
        return f"slice({vec}, {s * PQ_DSUB + 1}, {PQ_DSUB})"

    # encode: argmin over codewords per subspace — pure column exprs,
    # zero shuffle (array_sort on (d, k) structs = argmin + tiebreak).
    # code[s] holds the codeword POSITION k in sorted-label order, so
    # the k tiebreak is the oracle's label tiebreak.
    code_cols = []
    for s in range(PQ_M):
        cands = ", ".join(
            f"struct(round({l2sq_sql(sub_sql('v', s), cw_sql(s, label))}, 9) AS d, "
            f"{k} AS k)"
            for k, label in enumerate(labels)
        )
        code_cols.append(f"array_sort(array({cands}))[0].k")
    codes = e.select("vec_id", F.expr("array(" + ", ".join(code_cols) + ")").alias("code"))

    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # ADC: Σ_s ||q_sub(s) − codeword(s, code[s])||², codeword picked from
    # the literal codebook by the stored code — no corpus vectors here
    terms = []
    for s in range(PQ_M):
        cw_arr = "array(" + ", ".join(cw_sql(s, label) for label in labels) + ")"
        picked = f"element_at({cw_arr}, code[{s}] + 1)"
        terms.append(l2sq_sql(sub_sql("qv", s), picked))
    adist = F.expr("round(" + " + ".join(terms) + ", 6)")
    scored = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("match_id"), adist.alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "match_id", "rank", "adist")
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "ns_text_quality",
    sql="SELECT doc_id, "
    + ", ".join(f"{expr} AS {name}" for name, expr in text.QUALITY_SQL.items())
    + " FROM documents",
)
def ns_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length / punctuation / stopword
    ratios) — pure per-row column expressions, zero shuffle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    metrics = text.quality_metrics(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in metrics.items()])


@register(
    "ns_lang_id",
    sql=f"""
SELECT lang, {text.predict_lang_sql(text.tokens_sql('text'))} AS pred_lang,
       count(*) AS n_docs
FROM documents GROUP BY 1, 2
""",
)
def ns_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-argmax language ID vs. the labeled lang column
    (confusion counts). The synthetic corpus vocabulary is English-ish,
    so predictions skew en/und — the point is the deterministic
    heuristic, mirrored exactly in the oracle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # three-stage projection: tokens once, then the five hit counts
    # once each, then the argmax over plain int columns — each level's
    # non-cheap expressions stay materialized (CollapseProject), so
    # nothing is re-evaluated by the when-chain's doubled references
    toked = docs.select("lang", text.tokens(F.col("text")).alias("toks"))
    hit_cols = toked.select(
        "lang",
        *[
            text.stopword_hits(F.col("toks"), lang).alias(f"h_{lang}")
            for lang in text.LANGS
        ],
    )
    pred = text.argmax_lang([(lang, F.col(f"h_{lang}")) for lang in text.LANGS])
    return (
        hit_cols.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "ns_token_counts",
    sql=f"""
SELECT doc_id,
       len({text.tokens_sql('text')})::BIGINT AS n_ws_tokens,
       {text.token_count_regex_sql('text')}::BIGINT AS n_bpe_tokens,
       len({text.distinct_tokens_sql('text')})::BIGINT AS n_distinct_tokens
FROM documents
""",
)
def ns_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex tokens, distinct
    tokens — the per-doc stats a data-curation pipeline filters on."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size(text.tokens(F.col("text"))).cast("long").alias("n_ws_tokens"),
        text.token_count_regex(F.col("text")).cast("long").alias("n_bpe_tokens"),
        F.size(text.distinct_tokens(F.col("text"))).cast("long").alias("n_distinct_tokens"),
    )


def _fingerprint_sql() -> str:
    hashes = hashing.token_hashes_sql(text.tokens_sql("text"))
    fold = (
        f"list_reduce(list_prepend(0::BIGINT, {hashes}), "
        f"(acc, h) -> (acc * 31 + h) % {hashing.P31})"
    )
    return f"SELECT doc_id, {fold} AS fingerprint FROM documents"


@register("ns_doc_fingerprint", sql=_fingerprint_sql())
def ns_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint: Karp-Rabin
    style fold acc = (acc·31 + H(token)) mod 2³¹−1 over the token
    sequence. Unlike md5(text) this survives whitespace-normalization
    pipelines that retokenize."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hashes = hashing.token_hashes(text.tokens(F.col("text")))
    fp = F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % hashing.P31,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


def _curation_sql() -> str:
    toks = text.tokens_sql("text")
    stop = text.stopword_hits_sql(toks, "en")
    return f"""
WITH scored AS (
  SELECT doc_id, source, text,
         len({toks}) AS n_tok,
         {stop} AS stop_hits
  FROM documents
),
kept AS (
  SELECT doc_id, source, text FROM scored
  WHERE n_tok >= 20 AND stop_hits * 1.0 / n_tok >= 0.02
),
deduped AS (
  SELECT md5(text) AS h, min(doc_id) AS keep_doc_id, min(source) AS source
  FROM kept GROUP BY md5(text)
)
SELECT source, count(*) AS n_docs_kept FROM deduped GROUP BY source
"""


@register("ns_curation_pipeline", sql=_curation_sql())
def ns_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation pass — the shape a real training-data run
    takes: quality gate (length + stopword ratio) → exact dedup → keep
    counts per source. One corpus scan, one narrow shuffle on the
    16-byte content hash, one tiny final aggregate; the quality gate
    runs map-side BEFORE the shuffle, so filtered docs never ship."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toked = docs.select(
        "doc_id", "source", "text", text.tokens(F.col("text")).alias("toks")
    )
    scored = toked.select(
        "doc_id",
        "source",
        "text",
        F.size("toks").alias("n_tok"),
        text.stopword_hits(F.col("toks"), "en").alias("stop_hits"),
    )
    kept = scored.filter(
        (F.col("n_tok") >= 20) & (F.col("stop_hits") / F.col("n_tok") >= 0.02)
    )
    deduped = kept.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.min("source").alias("source")
    )
    return deduped.groupBy("source").agg(F.count("*").alias("n_docs_kept"))


CONTAINMENT_T = 0.5  # flag when either-direction containment ≥ this


def _containment_sql() -> str:
    inter = "len(list_intersect(da.sh, db.sh))::DOUBLE"
    return f"""
WITH {hashing.band_keys_cte()},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                           AND a.doc_id < b.doc_id),
v AS (SELECT doc_a, doc_b,
             round({inter} / len(list_distinct(da.sh)), 6) AS cont_ab,
             round({inter} / len(list_distinct(db.sh)), 6) AS cont_ba
      FROM cand JOIN d da ON doc_a = da.doc_id
                JOIN d db ON doc_b = db.doc_id)
SELECT doc_a, doc_b, cont_ab, cont_ba
FROM v WHERE greatest(cont_ab, cont_ba) >= {CONTAINMENT_T}
"""


@register("ns_containment_pairs", sql=_containment_sql())
def ns_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment similarity over the LSH candidate pairs:
    C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|. Containment catches
    subset/quote relationships (a short doc embedded in a long one)
    that symmetric Jaccard under-scores when sizes differ — the
    quote-detection complement to ns_dedup_minhash_lsh.

    Scale: identical candidate generation to the LSH dedup (linear
    band shuffle); only the verification formula differs, computed on
    the same pinned shingle relation."""
    from matt3r_data_ingestion_serverless_spark.plans.dedup import (
        band_keys,
        lsh_pairs,
        minhash_signatures,
    )

    s = _pin(minhash_signatures(spark, sf_dir))
    cand = lsh_pairs(band_keys(s))
    da = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    cont_ab = F.round(inter / F.size(F.array_distinct("sh_a")), 6)
    cont_ba = F.round(inter / F.size(F.array_distinct("sh_b")), 6)
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a", "doc_b", cont_ab.alias("cont_ab"), cont_ba.alias("cont_ba")
        )
        .filter(F.greatest("cont_ab", "cont_ba") >= CONTAINMENT_T)
    )


@register(
    "ns_langid_confusion",
    sql=f"""
WITH pred AS (
  SELECT lang AS labeled,
         {text.predict_lang_sql(text.tokens_sql('text'))} AS predicted
  FROM documents
)
SELECT labeled, predicted, count(*) AS n
FROM pred GROUP BY labeled, predicted
""",
)
def ns_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the n-gram/stopword classifier
    (functions/text.py:predict_lang, used row-wise by ns_lang_id)
    evaluated against the corpus labels — the model-eval query a
    curation pipeline runs before trusting a filter.

    Scale: classification is a per-row when-chain over precomputed
    stopword-hit counts (argmax_lang keeps the expression linear);
    the matrix agg is |langs|² rows."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = text.tokens(F.col("text"))
    hits = [(lang, text.stopword_hits(toks, lang)) for lang in text.LANGS]
    staged = docs.select(
        F.col("lang").alias("labeled"),
        *[h.alias(f"_h_{lang}") for lang, h in hits],
    )
    pred = text.argmax_lang([(lang, F.col(f"_h_{lang}")) for lang in text.LANGS])
    return (
        staged.select("labeled", pred.alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count("*").alias("n"))
    )
