"""Unit tests for the north-star (M5) primitives beyond the registry
parity sweep in test_oracle_parity.py: known-answer checks for the
hashing/text/vector functions.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import hashing, text, vectors


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0][0]


def test_md5_hash64_known_answer(spark):
    got = _one(spark, hashing.md5_hash64(F.lit("spark")))
    want = int(hashlib.md5(b"spark").hexdigest()[:15], 16)
    assert got == want


def test_minhash_signature_matches_python(spark):
    toks = ["a", "b", "c"]
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % hashing.P31 for t in toks]
    want = [
        min((a * h + b) % hashing.P31 for h in hs)
        for a, b in zip(hashing.MINHASH_A, hashing.MINHASH_B)
    ]
    got = _one(spark, hashing.minhash_signature(F.array(*[F.lit(t) for t in toks])))
    assert list(got) == want


def test_simhash_identical_and_disjoint(spark):
    arr = F.array(F.lit("x"), F.lit("y"), F.lit("z"))
    fp1 = _one(spark, hashing.simhash_fingerprint(hashing.token_hashes(arr)))
    fp2 = _one(spark, hashing.simhash_fingerprint(hashing.token_hashes(arr)))
    assert fp1 == fp2
    assert 0 <= fp1 < 2**hashing.SIMHASH_BITS


def test_word_ngrams(spark):
    got = _one(spark, text.word_ngrams(F.lit("a b c d"), 3))
    assert list(got) == ["a b c", "b c d"]
    # shorter than n → empty, not negative-sized
    got = _one(spark, text.word_ngrams(F.lit("a b"), 3))
    assert list(got) == []


def test_predict_lang_stopword_argmax(spark):
    en = _one(spark, text.predict_lang(text.tokens(F.lit("the cat and the dog"))))
    assert en == "en"
    und = _one(spark, text.predict_lang(text.tokens(F.lit("xyzzy plugh"))))
    assert und == "und"


def test_token_count_regex(spark):
    # alpha run + digit run + 2 symbols + alpha = 5
    got = _one(spark, text.token_count_regex(F.lit("abc123, (def")))
    assert got == 5


def test_cosine_known_answer(spark):
    a = F.array(F.lit(1.0), F.lit(0.0), F.lit(1.0))
    b = F.array(F.lit(1.0), F.lit(1.0), F.lit(0.0))
    cos = vectors.cosine(a, b, vectors.l2_norm(a), vectors.l2_norm(b))
    assert abs(_one(spark, cos) - 0.5) < 1e-12


def test_srp_band_keys_shape(spark):
    vec = F.array(*[F.lit(float(i - 16)) for i in range(64)])
    got = _one(spark, vectors.srp_band_keys(vec))
    assert [r["band"] for r in got] == list(range(vectors.SRP_BANDS))
    # dims 0..15 negative, 16+ non-negative
    assert got[0]["key"] == "00000000"
    assert got[2]["key"] == "11111111"
    assert all(len(r["key"]) == vectors.SRP_BAND_BITS for r in got)


def test_rolling_fingerprint_matches_python(spark):
    toks = ["spark", "scale", "spark"]
    acc = 0
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        acc = (acc * 31 + h) % hashing.P31
    arr = F.array(*[F.lit(t) for t in toks])
    fp = F.aggregate(
        hashing.token_hashes(arr),
        F.lit(0).cast("long"),
        lambda a, h: (a * 31 + h) % hashing.P31,
    )
    assert _one(spark, fp) == acc
    assert not math.isnan(acc)


def test_ann_recall_ladder(spark):
    """The ANN family's recall ordering on the fixed sf0.01 corpus:
    probing a second IVF cell strictly widens the candidate set, and
    every approximate variant finds a nonzero share of the brute-force
    top-5. Deterministic: seeded testdata + tie-broken rankings."""
    from matt3r_data_ingestion_serverless_spark.plans import all_queries
    from tests.conftest import SF_CORRECTNESS

    qs = {n: fn for n, (fn, _) in all_queries().items()}
    sf = SF_CORRECTNESS

    def pairs(name):
        return {(r.query_id, r.match_id) for r in qs[name](spark, sf).collect()}

    bf = pairs("ns_ann_cosine_topk")
    r1 = len(bf & pairs("ns_ann_ivf_topk")) / len(bf)
    r2 = len(bf & pairs("ns_ann_ivf_nprobe_topk")) / len(bf)
    rpq = len(bf & pairs("ns_ann_pq_adc_topk")) / len(bf)
    assert r2 >= r1 > 0
    assert rpq > 0
