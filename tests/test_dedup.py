"""Brute-force property tests for the dedup queries (plans/dedup.py)."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from matt3r_data_ingestion_serverless_spark.functions import hashing
from matt3r_data_ingestion_serverless_spark.plans.dedup import (
    band_keys,
    minhash_signatures,
    near_dup_pairs,
    ns_dedup_cost_savings,
    ns_dedup_incremental,
    ns_dedup_method_agreement,
    ns_dedup_minhash_lsh,
    ns_dedup_normalized,
    ns_dedup_simhash,
    ns_dup_cluster_medoids,
    ns_dup_clusters,
    ns_lsh_bucket_stats,
    ns_pair_jaccard_histogram,
    ns_rouge2_neardup_pairs,
    sql_recursive_components,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table, spread
from tests.conftest import SF_CORRECTNESS, SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


@pytest.fixture(scope="module")
def pairs(spark):
    """The sf0.001 verified near-dup pairs (doc_a, doc_b, jaccard),
    collected once for the module."""
    return ns_dedup_minhash_lsh(spark, SF_SMOKE).collect()


def test_normalized_dedup_matches_python(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    ws = re.compile(r" +")
    groups = defaultdict(lambda: [0, set(), None, set()])
    for d in docs:
        norm = ws.sub(" ", d.text.strip().lower())
        g = groups[hashlib.md5(norm.encode()).hexdigest()]
        g[0] += 1
        g[1].add(hashlib.md5(d.text.encode()).hexdigest())
        g[2] = d.doc_id if g[2] is None else min(g[2], d.doc_id)
        g[3].add(d.source)
    expected = {
        h: (n, len(raw), keep, len(srcs))
        for h, (n, raw, keep, srcs) in groups.items()
        if n > 1
    }
    got = {
        r.norm_hash: (r.n_copies, r.n_raw_variants, r.keep_doc_id, r.n_sources)
        for r in ns_dedup_normalized(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_incremental_dedup_consistent_with_lsh_pairs(spark, pairs):
    rows = ns_dedup_incremental(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id").collect()
    odd = {r.doc_id for r in docs if r.doc_id % 2 == 1}
    assert {r.doc_id for r in rows} == odd  # every batch doc audited once
    # any verified LSH pair crossing the corpus/batch split must mark
    # the batch (odd) side as drop
    must_drop = set()
    for p in pairs:
        if p.doc_a % 2 != p.doc_b % 2:
            must_drop.add(p.doc_a if p.doc_a % 2 == 1 else p.doc_b)
    by_id = {r.doc_id: r for r in rows}
    for d in must_drop:
        assert by_id[d].decision == "drop", d
        assert by_id[d].n_corpus_matches >= 1
    for r in rows:
        if r.decision == "keep":
            assert r.n_corpus_matches == 0 and r.best_jaccard is None


def test_lsh_bucket_stats_consistent_with_banding(spark):
    docs = spread(load_table(spark, SF_SMOKE, "documents"))
    d = hashing.with_hashed_shingles(docs).select("doc_id", "sh")
    s = d.select("doc_id", hashing.minhash_from_hashes(F.col("sh")).alias("sig"))
    bk = (
        s.select("doc_id", F.explode(hashing.minhash_band_structs(F.col("sig"))).alias("bk"))
        .select("doc_id", "bk.band", "bk.key")
        .collect()
    )
    buckets = defaultdict(int)
    for r in bk:
        buckets[(r.band, r.key)] += 1
    per_band = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, max, colliding, pairs, mass
    for (band, _), sz in buckets.items():
        c = per_band[band]
        c[0] += 1
        c[1] = max(c[1], sz)
        c[2] += 1 if sz > 1 else 0
        c[3] += sz * (sz - 1) // 2
        c[4] += sz
    got = {r.band: r for r in ns_lsh_bucket_stats(spark, SF_SMOKE).collect()}
    assert set(got) == set(per_band)
    for band, (n, mx, coll, pairs, mass) in per_band.items():
        r = got[band]
        assert (r.n_buckets, r.max_bucket, r.colliding_buckets, r.candidate_pairs) == (
            n,
            mx,
            coll,
            pairs,
        ), band
        assert abs(r.avg_bucket - _round6(mass / n)) < 1e-12


def test_jaccard_histogram_matches_pairs(spark, pairs):
    bins = Counter(min(int(math.floor(p.jaccard * 20)), 19) for p in pairs)
    got = {r.bin: r for r in ns_pair_jaccard_histogram(spark, SF_SMOKE).collect()}
    assert set(got) == set(bins)
    cum = 0
    for b in sorted(bins, reverse=True):
        cum += bins[b]
        r = got[b]
        assert r.n_pairs == bins[b]
        assert r.n_pairs_at_or_above == cum
        assert abs(r.bin_lo - _round6(b * 0.05)) <= 1e-6
    # the lowest bin's cumulative equals the total pair count
    assert max(r.n_pairs_at_or_above for r in got.values()) == len(pairs)


def test_rouge2_matches_python_clipped_counts(spark, pairs):
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    grams = {
        d: Counter(zip(ws, ws[1:])) for d, ws in docs.items()
    }
    pairs = [(r.doc_a, r.doc_b) for r in pairs]
    got = {
        (r.doc_a, r.doc_b): (r.clipped, r.rouge2_p_r, r.rouge2_r_r, r.rouge2_f1_r)
        for r in ns_rouge2_neardup_pairs(spark, SF_SMOKE).collect()
    }
    assert pairs and set(got) <= set(pairs)
    for a, b in pairs:
        ga, gb = grams[a], grams[b]
        clip = sum(min(n, gb[g]) for g, n in ga.items())
        if clip == 0:
            assert (a, b) not in got
            continue
        prec = clip / sum(gb.values())
        rec = clip / sum(ga.values())
        f1 = 2 * prec * rec / (prec + rec)
        c, p_, r_, f_ = got[(a, b)]
        assert c == clip
        assert math.isclose(p_, prec, abs_tol=1e-6)
        assert math.isclose(r_, rec, abs_tol=1e-6)
        assert math.isclose(f_, f1, abs_tol=1e-6)


def test_method_agreement_matches_pair_sets(spark, pairs):
    mh = {(r.doc_a, r.doc_b) for r in pairs}
    sh = {(r.doc_a, r.doc_b) for r in ns_dedup_simhash(spark, SF_SMOKE).collect()}
    row = ns_dedup_method_agreement(spark, SF_SMOKE).collect()[0]
    assert (row.minhash_pairs, row.simhash_pairs) == (len(mh), len(sh))
    assert row.agreed_pairs == len(mh & sh)
    want = len(mh & sh) / len(mh | sh)
    assert math.isclose(row.jaccard_agreement_r, want, abs_tol=1e-6)
    assert 0 <= row.jaccard_agreement_r <= 1


def test_dup_clusters_consistent_with_pairs(spark):
    """Every LSH-verified pair must land in the same cluster; cluster_id
    is the min doc_id of the cluster; sizes are consistent."""
    pairs = ns_dedup_minhash_lsh(spark, SF_CORRECTNESS).select("doc_a", "doc_b").collect()
    rows = ns_dup_clusters(spark, SF_CORRECTNESS).collect()
    label = {r["doc_id"]: r["cluster_id"] for r in rows}
    for p in pairs:
        assert label[p["doc_a"]] == label[p["doc_b"]], p
    # cluster_id = min member; size matches the member count
    members: dict[int, list[int]] = {}
    for d, c in label.items():
        members.setdefault(c, []).append(d)
    for c, ds in members.items():
        assert c == min(ds)
    sizes = Counter(label.values())
    for r in rows:
        assert r["cluster_size"] == sizes[r["cluster_id"]]


def test_medoids_match_python_election(spark, pairs):
    adj = defaultdict(set)
    inc = defaultdict(float)
    for r in pairs:
        adj[r.doc_a].add(r.doc_b)
        adj[r.doc_b].add(r.doc_a)
        inc[r.doc_a] += r.jaccard
        inc[r.doc_b] += r.jaccard
    # connected components by BFS
    seen, comp = set(), {}
    for start in sorted(adj):
        if start in seen:
            continue
        stack, members = [start], []
        seen.add(start)
        while stack:
            u = stack.pop()
            members.append(u)
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        cid = min(members)
        for m in members:
            comp[m] = cid
    clusters = defaultdict(list)
    for node, cid in comp.items():
        clusters[cid].append(node)
    want = {}
    for cid, members in clusters.items():
        medoid = min(
            members, key=lambda n: (-math.floor(inc[n] * 1e6 + 0.5), n)
        )
        want[cid] = (medoid, len(members))
    got = {
        r.cluster_id: (r.medoid_doc_id, r.cluster_size)
        for r in ns_dup_cluster_medoids(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert any(sz > 2 for _, sz in want.values()), "need a non-pair cluster"


def test_dedup_savings_match_cluster_labels(spark):
    lbl = {
        r.doc_id: r.cluster_id for r in ns_dup_clusters(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    dropped = [r for r in docs if r.doc_id in lbl and lbl[r.doc_id] != r.doc_id]
    total = sum(r.n_chars for r in docs)
    saved = sum(r.n_chars for r in dropped)
    row = ns_dedup_cost_savings(spark, SF_SMOKE).collect()[0]
    assert (row.n_docs, row.n_dropped) == (len(docs), len(dropped))
    assert (row.chars_total, row.chars_saved) == (total, saved)
    assert math.isclose(row.save_ratio_r, saved / total, abs_tol=1e-6)
    assert 0 < row.n_dropped < row.n_docs


def test_near_dup_pairs_are_the_pinned_lsh_pairs(spark, pairs):
    df = near_dup_pairs(spark, SF_SMOKE)
    assert sorted(df.collect()) == sorted(pairs)
    assert "FileScan" not in df._jdf.queryExecution().executedPlan().toString()


def test_band_keys_match_column_twin(spark):
    sigs = minhash_signatures(spark, SF_SMOKE)
    rows = band_keys(sigs).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert Counter(Counter(r.doc_id for r in rows).values()) == {hashing.MINHASH_BANDS: n_docs}
    ref = sigs.select(
        "doc_id", F.explode(hashing.minhash_band_structs(F.col("sig"))).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, ref.collect()))


def test_recursive_components_leaves_no_temp_view(spark):
    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    assert sql_recursive_components(spark, SF_SMOKE).count() > 0
    assert temp_views() == before
