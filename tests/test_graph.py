"""Brute-force property tests for the graph queries (plans/graph.py)."""

from __future__ import annotations

import math
from collections import defaultdict
from types import SimpleNamespace

import pytest

from matt3r_data_ingestion_serverless_spark.operators.iterate import mirror
from matt3r_data_ingestion_serverless_spark.plans.dedup import ns_dedup_minhash_lsh, ns_dup_clusters
from matt3r_data_ingestion_serverless_spark.plans.graph import (
    _BIP_HOPS,
    _LP_MIN_COOCCUR,
    _LP_MIN_JACCARD,
    _MAX_HOPS,
    _PEEL_ROUNDS,
    _PR_DAMP,
    _PR_ITERS,
    degrees,
    graph_assortativity,
    graph_bfs_levels,
    graph_bipartite_check,
    graph_clustering_coefficient,
    graph_hits_hubs_authorities,
    graph_kcore_peel,
    graph_ktruss_edges,
    graph_link_prediction,
    graph_local_dominant_matching,
    graph_modularity_clusters,
    graph_open_triads,
    graph_pagerank,
    graph_powerlaw_alpha,
    graph_sssp_bounded,
    graph_topo_longest_path,
    graph_triangles,
    near_dup_edges,
)
from matt3r_data_ingestion_serverless_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _round6(x: float) -> float:
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


@pytest.fixture(scope="module")
def dup_graph(spark):
    """The sf0.001 near-dup graph, collected once for the module:
    ``rows`` (doc_a, doc_b, jaccard), ``pairs`` [(doc_a, doc_b)], the
    undirected adjacency ``adj`` {node: set of neighbours}, ``deg``
    {node: degree} and the triangle set ``tri`` {(a, b, c), a < b < c}."""
    rows = ns_dedup_minhash_lsh(spark, SF_SMOKE).collect()
    pairs = [(r.doc_a, r.doc_b) for r in rows]
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    tri = {(a, b, c) for a, b in pairs for c in adj[b] if c > b and c in adj[a]}
    deg = {v: len(nbrs) for v, nbrs in adj.items()}
    return SimpleNamespace(rows=rows, pairs=pairs, adj=dict(adj), deg=deg, tri=tri)


def test_bfs_levels_match_python_bfs(spark, dup_graph):
    adj = dup_graph.adj
    got = {r.doc_id: r.hop for r in graph_bfs_levels(spark, SF_SMOKE).collect()}
    if not adj:
        assert got == {}
        return
    seed = min(adj)
    expected = {seed: 0}
    frontier = [seed]
    for lvl in range(1, 5):
        frontier = [
            n for cur in frontier for n in adj[cur] if n not in expected
        ]
        frontier = sorted(set(frontier))
        for n in frontier:
            expected[n] = lvl
        if not frontier:
            break
    assert got == expected


def _weighted_pairs(rows):
    return [
        (r.doc_a, r.doc_b, 10001 - int(math.floor(r.jaccard * 10000 + 0.5)))
        for r in rows
    ]


def test_sssp_matches_python_bellman_ford(spark, dup_graph):
    pairs = _weighted_pairs(dup_graph.rows)
    adj = defaultdict(list)
    for a, b, w in pairs:
        adj[a].append((b, w))
        adj[b].append((a, w))
    seed = min(adj)
    best = {seed: 0}
    frontier = {seed: 0}
    for _ in range(_MAX_HOPS):
        nxt = {}
        for u, du in frontier.items():
            for v, w in adj[u]:
                d = du + w
                if d < best.get(v, float("inf")) and d < nxt.get(v, float("inf")):
                    nxt[v] = d
        frontier = {v: d for v, d in nxt.items() if d < best.get(v, float("inf"))}
        best.update(frontier)
        if not frontier:
            break
    got = {r.doc_id: r.dist for r in graph_sssp_bounded(spark, SF_SMOKE).collect()}
    assert got == best
    assert len(got) > 1, "smoke near-dup graph must reach beyond the seed"


def test_topo_longest_path_matches_python_dp(spark, dup_graph):
    pairs = _weighted_pairs(dup_graph.rows)
    nodes = {a for a, _, _ in pairs} | {b for _, b, _ in pairs}
    # exact-r-edge DP over the low->high DAG
    best = {n: (0, 0) for n in nodes}  # node -> (max_dist, max_depth)
    frontier = {n: 0 for n in nodes}
    for lvl in range(1, _MAX_HOPS + 1):
        nxt = defaultdict(int)
        for a, b, w in pairs:
            if a in frontier:
                nxt[b] = max(nxt[b], frontier[a] + w)
        if not nxt:
            break
        for n, d in nxt.items():
            best[n] = (max(best[n][0], d), lvl)
        frontier = dict(nxt)
    got = {
        r.doc_id: (r.max_dist, r.max_depth)
        for r in graph_topo_longest_path(spark, SF_SMOKE).collect()
    }
    assert got == best
    assert any(d > 0 for d, _ in got.values()), "DAG must contain at least one edge"


def test_bipartite_matches_python_parity_bfs(spark, dup_graph):
    adj = dup_graph.adj
    seed = min(adj)
    reach = {(seed, 0)}
    frontier = {(seed, 0)}
    for _ in range(_BIP_HOPS):
        nxt = {
            (v, 1 - p)
            for u, p in frontier
            for v in adj[u]
            if (v, 1 - p) not in reach
        }
        if not nxt:
            break
        reach |= nxt
        frontier = nxt
    want = {}
    nodes = {n for n, _ in reach}
    for n in nodes:
        even = (n, 0) in reach
        odd = (n, 1) in reach
        want[n] = (even, odd, even and odd)
    got = {
        r.doc_id: (r.even_reach, r.odd_reach, r.odd_cycle_witness)
        for r in graph_bipartite_check(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_hits_matches_python(spark, dup_graph):
    edges = dup_graph.pairs
    nodes = sorted({x for e in edges for x in e})
    out_e = defaultdict(list)
    in_e = defaultdict(list)
    for s, t in edges:
        out_e[s].append(t)
        in_e[t].append(s)

    def normalize(raw):
        mx = max(raw.values())
        return {k: (v * 1000000) // mx for k, v in raw.items()}

    a1 = normalize({v: len(in_e[v]) * 1000000 for v in in_e})
    h1 = normalize({u: sum(a1[t] for t in out_e[u]) for u in out_e})
    a2 = normalize({v: sum(h1[s] for s in in_e[v] if s in h1) for v in in_e})
    # drop zero-valued nodes the engine never materializes
    a2 = {k: v for k, v in a2.items()}
    h2 = normalize({u: sum(a2.get(t, 0) for t in out_e[u]) for u in out_e})
    got = {r.doc_id: r for r in graph_hits_hubs_authorities(spark, SF_SMOKE).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        r = got[v]
        assert r.in_deg == len(in_e.get(v, []))
        assert r.out_deg == len(out_e.get(v, []))
        assert r.auth_micro == a2.get(v, 0)
        assert r.hub_micro == h2.get(v, 0)
    assert max(r.auth_micro for r in got.values()) == 1000000
    assert max(r.hub_micro for r in got.values()) == 1000000


def test_clustering_coefficient_matches_python(spark, dup_graph):
    adj = dup_graph.adj
    got = {r.doc_id: r for r in graph_clustering_coefficient(spark, SF_SMOKE).collect()}
    assert set(got) == set(adj)
    for v, nbrs in adj.items():
        tri = sum(1 for u in nbrs for w in nbrs if u < w and w in adj[u]) if nbrs else 0
        d = len(nbrs)
        r = got[v]
        assert (r.degree, r.n_triangles) == (d, tri), v
        if d >= 2:
            assert abs(r.clustering_coef - _round6(2.0 * tri / (d * (d - 1)))) < 1e-12
        else:
            assert r.clustering_coef is None


def test_open_triads_match_python(spark, dup_graph):
    paths2 = sum(d * (d - 1) for d in dup_graph.deg.values()) // 2
    tris = len(dup_graph.tri)
    row = graph_open_triads(spark, SF_SMOKE).collect()[0]
    assert (row.n_paths2, row.n_triangles) == (paths2, tris)
    assert row.n_open_triads == paths2 - 3 * tris
    assert row.n_open_triads >= 0
    cc = 0.0 if paths2 == 0 else 3.0 * tris / paths2
    assert abs(row.global_clustering - _round6(cc)) <= 1e-6
    assert 0.0 <= row.global_clustering <= 1.0


def test_ktruss_support_matches_python(spark, dup_graph):
    pairs = set(dup_graph.pairs)
    adj = dup_graph.adj
    support = {(a, b): len(adj[a] & adj[b]) for a, b in pairs}
    got = {
        (r.doc_a, r.doc_b): (r.n_triangles, r.in_truss)
        for r in graph_ktruss_edges(spark, SF_SMOKE).collect()
    }
    assert set(got) == pairs
    for e, s in support.items():
        assert got[e] == (s, s >= 1)
    assert any(s > 0 for s in support.values()), "dup graph must have a triangle"


def test_edge_list_and_degrees_match_python(spark, dup_graph):
    canonical = near_dup_edges(spark, SF_SMOKE)
    assert sorted((r.src, r.dst) for r in canonical.collect()) == sorted(dup_graph.pairs)
    mirrored = near_dup_edges(spark, SF_SMOKE, mirrored=True)
    assert {r.node: r.degree for r in degrees(mirrored).collect()} == dup_graph.deg
    assert {r.node: r.degree for r in degrees(mirror(canonical)).collect()} == dup_graph.deg


def test_triangles_match_python(spark, dup_graph):
    got = [(r.a, r.b, r.c) for r in graph_triangles(spark, SF_SMOKE).collect()]
    assert len(got) == len(set(got)), "each triangle lists once"
    assert set(got) == dup_graph.tri
    assert dup_graph.tri, "dup graph must have a triangle"


def test_pagerank_matches_python_power_iteration(spark, dup_graph):
    adj = dup_graph.adj
    n = len(adj)
    rank = {v: 1.0 / n for v in adj}
    for _ in range(_PR_ITERS):
        rank = {
            v: (1 - _PR_DAMP) / n + _PR_DAMP * sum(rank[u] / len(adj[u]) for u in nbrs)
            for v, nbrs in adj.items()
        }
    got = {r.doc_id: r.pagerank for r in graph_pagerank(spark, SF_SMOKE).collect()}
    assert set(got) == set(adj)
    for v, r in rank.items():
        assert abs(got[v] - _round6(r)) <= 1e-6, v


def test_kcore_matches_python_and_is_stable(spark, dup_graph):
    edges = dup_graph.pairs
    deg0 = dup_graph.deg
    nodes = set(deg0)
    alive = set(nodes)
    history = []
    for _ in range(_PEEL_ROUNDS):
        d = defaultdict(int)
        for s, t in edges:
            if s in alive and t in alive:
                d[s] += 1
                d[t] += 1
        alive = {v for v, dd in d.items() if dd >= 2}
        history.append(set(alive))
    # fixpoint reached within the unrolled rounds on this graph
    assert history[-1] == history[-2]
    got = {r.doc_id: r for r in graph_kcore_peel(spark, SF_SMOKE).collect()}
    assert set(got) == nodes
    for v in nodes:
        r = got[v]
        assert r.degree == deg0[v]
        assert r.in_2core == (v in alive)
    # every 2-core member has original degree >= 2
    for v in alive:
        assert got[v].degree >= 2


def test_assortativity_matches_python(spark, dup_graph):
    adj = dup_graph.adj
    de = [
        (len(adj[u]), len(adj[w])) for u in adj for w in adj[u]
    ]
    r = graph_assortativity(spark, SF_SMOKE).collect()[0]
    assert r.n_directed_edges == len(de)
    n = len(de)
    sx = sum(x for x, _ in de)
    sy = sum(y for _, y in de)
    sxy = sum(x * y for x, y in de)
    sxx = sum(x * x for x, _ in de)
    syy = sum(y * y for _, y in de)
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    if vx > 0 and vy > 0:
        expect = _round6((n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy)))
        assert abs(r.assortativity - expect) < 1e-9
    else:
        assert r.assortativity is None


def test_powerlaw_alpha_matches_python(spark, dup_graph):
    deg = dup_graph.deg
    n = len(deg)
    alpha = 1.0 + n / sum(math.log(d / 0.5) for d in deg.values())
    row = graph_powerlaw_alpha(spark, SF_SMOKE).collect()[0]
    assert row.n_nodes == n
    assert row.max_degree == max(deg.values())
    assert math.isclose(row.alpha_r, alpha, abs_tol=1e-6)
    assert alpha > 1.0


def test_modularity_matches_python(spark, dup_graph):
    lbl = {r.doc_id: r.cluster_id for r in ns_dup_clusters(spark, SF_SMOKE).collect()}
    m = len(dup_graph.pairs)
    d_c = defaultdict(int)
    for node, d in dup_graph.deg.items():
        d_c[lbl[node]] += d
    sum_dc2 = sum(v * v for v in d_c.values())
    row = graph_modularity_clusters(spark, SF_SMOKE).collect()[0]
    assert (row.n_edges, row.n_clusters, row.sum_dc2) == (m, len(d_c), sum_dc2)
    q = 1.0 - sum_dc2 / (4.0 * m * m)
    assert abs(row.modularity - _round6(q)) <= 1e-6
    assert row.modularity < 1.0


def test_matching_equals_sequential_greedy(spark, dup_graph):
    """Locally-dominant matching under a strict total order must equal
    the sequential greedy matching (Preis) — and be a valid matching."""
    pairs = dup_graph.rows
    edges = sorted(
        (
            (10000 - int(math.floor(r.jaccard * 10000 + 0.5))) * 10**12
            + r.doc_a * 10**6
            + r.doc_b,
            r.doc_a,
            r.doc_b,
        )
        for r in pairs
    )
    used: set = set()
    greedy = set()
    for _, a, b in edges:
        if a not in used and b not in used:
            greedy.add((a, b))
            used |= {a, b}
    got_rows = graph_local_dominant_matching(spark, SF_SMOKE).collect()
    got = {(r.doc_a, r.doc_b) for r in got_rows}
    assert got == greedy
    assert greedy, "smoke near-dup graph must admit at least one matched pair"
    ends = [v for a, b in got for v in (a, b)]
    assert len(ends) == len(set(ends)), "matched endpoints must be disjoint"


def test_link_prediction_matches_python(spark):
    """Brute-force twin on the co-purchase graph (r08 substrate: parts
    sharing >= 2 distinct orders — the LSH dup graph was a union of
    cliques, making the non-adjacency anti-join structurally empty)."""
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    per_order = defaultdict(set)
    for r in li:
        per_order[r.l_orderkey].add(r.l_partkey)
    weight = defaultdict(int)
    for parts in per_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                weight[(a, b)] += 1
    adj = defaultdict(set)
    for (a, b), w in weight.items():
        if w >= _LP_MIN_COOCCUR:
            adj[a].add(b)
            adj[b].add(a)
    expected = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if v in adj[u]:
                continue
            cn = len(adj[u] & adj[v])
            if cn == 0:
                continue
            jac = cn / (len(adj[u]) + len(adj[v]) - cn)
            if jac >= _LP_MIN_JACCARD:
                expected[(u, v)] = (cn, _round6(jac))
    got = {
        (r.part_a, r.part_b): (r.common_neighbors, r.nbr_jaccard)
        for r in graph_link_prediction(spark, SF_SMOKE).collect()
    }
    assert got == expected and len(got) > 0
