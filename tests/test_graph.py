"""Properties for operators/graph.pagerank: exact integer-arithmetic
parity with a NumPy reimplementation on random graphs, determinism
under repartitioning (the point of the integer scheme), and basic
sanity (symmetric graph → equal ranks)."""

import random

import pytest
from pyspark.sql import functions as F

from cdap_geo_spark.operators.graph import pagerank


def _numpy_pagerank(edges, iterations=3, damping_pct=85, scale=10**6):
    nodes = sorted({s for s, _ in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    base = (100 - damping_pct) * scale // 100
    rank = {n: scale for n in nodes}
    for _ in range(iterations):
        s = {n: 0 for n in nodes}
        for a, b in edges:
            if b in s:
                s[b] += rank[a] // deg[a]
        rank = {n: base + (damping_pct * s[n]) // 100 for n in nodes}
    return rank


def _random_edges(n_nodes, n_edges, seed):
    rng = random.Random(seed)
    out = set()
    while len(out) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            out.add((a, b))
    return sorted(out)


def test_pagerank_matches_integer_bruteforce(spark):
    edges = _random_edges(60, 400, seed=5)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in
           pagerank(df, iterations=3).collect()}
    want = _numpy_pagerank(edges)
    assert got == want


def test_pagerank_deterministic_under_partitioning(spark):
    # integer arithmetic => identical ranks whatever the partitioning;
    # a float implementation would differ in last-ulp here
    edges = _random_edges(40, 200, seed=9)
    df1 = spark.createDataFrame(edges, "src long, dst long").coalesce(1)
    df2 = spark.createDataFrame(edges, "src long, dst long").repartition(7)
    r1 = sorted(map(tuple, pagerank(df1, iterations=4).collect()))
    r2 = sorted(map(tuple, pagerank(df2, iterations=4).collect()))
    assert r1 == r2


def test_pagerank_symmetric_ring(spark):
    # a 6-cycle with both directions: perfectly symmetric, so every
    # node must end with the identical rank
    n = 6
    edges = [(i, (i + 1) % n) for i in range(n)] + \
            [((i + 1) % n, i) for i in range(n)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = pagerank(df, iterations=3).collect()
    assert len(got) == n
    assert len({r.rank for r in got}) == 1


def test_pagerank_validates_args(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        pagerank(df, damping_pct=100)


def test_pagerank_hub_outranks_leaf(spark):
    # star: every leaf points at the hub and back — hub collects mass
    edges = [(i, 0) for i in range(1, 8)] + [(0, i) for i in range(1, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(df, iterations=5).collect()}
    assert got[0] > max(v for k, v in got.items() if k != 0)
    # leaves are symmetric
    assert len({v for k, v in got.items() if k != 0}) == 1


def _brute_triangles(und_edges):
    """und_edges: set of canonical (u, v) u < v tuples."""
    adj = {}
    for u, v in und_edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    counts = {n: 0 for n in adj}
    es = sorted(und_edges)
    for u, v in es:
        for w in adj[u] & adj[v]:
            if w > v:  # each triangle once as u < v < w
                for x in (u, v, w):
                    counts[x] += 1
    return counts


def test_triangle_counts_matches_bruteforce(spark):
    from cdap_geo_spark.operators.graph import triangle_counts
    raw = _random_edges(40, 220, seed=17)  # directed, both orders mixed
    und = {(min(a, b), max(a, b)) for a, b in raw}
    got = {r.id: r.triangles for r in
           triangle_counts(spark.createDataFrame(raw, "src int, dst int"))
           .collect()}
    assert got == _brute_triangles(und)
    assert sum(got.values()) % 3 == 0 and sum(got.values()) > 0


def test_triangle_counts_canonicalizes_input(spark):
    from cdap_geo_spark.operators.graph import triangle_counts
    # triangle 1-2-3 given redundantly (both orders, dup, self-loop)
    # plus a pendant node 4 that closes nothing
    edges = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (3, 3), (3, 4)]
    got = {r.id: r.triangles for r in
           triangle_counts(spark.createDataFrame(edges, "src int, dst int"))
           .collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 0}


def test_triangle_counts_no_nested_loop(spark):
    from cdap_geo_spark.operators.graph import triangle_counts
    edges = spark.createDataFrame(_random_edges(30, 100, seed=3),
                                  "src int, dst int")
    plan = triangle_counts(edges)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_triangle_oracle_sql_twin_matches(spark):
    import duckdb
    from cdap_geo_spark.operators.graph import (triangle_counts,
                                                triangle_oracle_sql)
    raw = _random_edges(35, 180, seed=29)
    und = sorted({(min(a, b), max(a, b)) for a, b in raw})
    got = {r.id: r.triangles for r in
           triangle_counts(spark.createDataFrame(raw, "src int, dst int"))
           .collect()}
    vals = ", ".join(f"({u}, {v})" for u, v in und)
    sql = triangle_oracle_sql(f"SELECT * FROM (VALUES {vals}) AS t(u, v)")
    want = {int(i): int(c) for i, c in duckdb.sql(sql).fetchall()}
    assert got == want


def test_clustering_coeff_matches_bruteforce(spark):
    from cdap_geo_spark.operators.graph import clustering_coeff
    raw = _random_edges(40, 220, seed=23)
    und = {(min(a, b), max(a, b)) for a, b in raw}
    tri = _brute_triangles(und)
    deg = {}
    for u, v in und:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    want = {}
    for n, d in deg.items():
        t = tri.get(n, 0)
        want[n] = (d, t,
                   round(2_000_000.0 * t / (d * (d - 1))) if d >= 2
                   else 0)
    got = {r.id: (r.deg, r.triangles, r.coeff_micro) for r in
           clustering_coeff(
               spark.createDataFrame(raw, "src int, dst int")).collect()}
    assert got == want


def test_clustering_coeff_clique_and_pendant(spark):
    from cdap_geo_spark.operators.graph import clustering_coeff
    # K4 (every coeff 1.0) + pendant node 5 hanging off node 1
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)]
    got = {r.id: r.coeff_micro for r in
           clustering_coeff(spark.createDataFrame(
               edges, "src int, dst int")).collect()}
    assert got[2] == got[3] == got[4] == 1_000_000
    assert got[5] == 0          # deg 1
    assert got[1] == 500_000    # 3 triangles of C(4,2)=6 pairs


def test_clustering_oracle_sql_twin_matches(spark):
    import duckdb
    from cdap_geo_spark.operators.graph import (clustering_coeff,
                                                clustering_oracle_sql)
    raw = _random_edges(35, 180, seed=31)
    und = sorted({(min(a, b), max(a, b)) for a, b in raw})
    got = {r.id: (r.deg, r.triangles, r.coeff_micro) for r in
           clustering_coeff(spark.createDataFrame(
               raw, "src int, dst int")).collect()}
    vals = ", ".join(f"({u}, {v})" for u, v in und)
    sql = clustering_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(u, v)")
    want = {int(i): (int(d), int(t), int(c))
            for i, d, t, c in duckdb.sql(sql).fetchall()}
    assert got == want


def _brute_bfs(edges, sources, max_hops):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for i in range(1, max_hops + 1):
        nxt = {b for a in frontier for b in adj.get(a, [])
               if b not in dist}
        for b in nxt:
            dist[b] = i
        frontier = nxt
    return dist


def test_bfs_hops_matches_bruteforce(spark):
    from cdap_geo_spark.operators.graph import bfs_hops
    edges = _random_edges(60, 200, seed=77)
    sources = [0, 7, 13]
    got = {r.id: r.hops for r in bfs_hops(
        spark.createDataFrame(edges, "src int, dst int"),
        spark.createDataFrame([(s,) for s in sources], "id int"),
        max_hops=3).collect()}
    assert got == _brute_bfs(edges, sources, 3)


def test_bfs_hops_short_circuit_and_validation(spark):
    from cdap_geo_spark.operators.graph import bfs_hops
    # a 3-chain exhausted after 2 hops: max_hops=10 must still finish
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    srcs = spark.createDataFrame([(1,)], "id int")
    got = {r.id: r.hops for r in
           bfs_hops(edges, srcs, max_hops=10).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    import pytest as _pt
    with _pt.raises(ValueError):
        bfs_hops(edges, srcs, max_hops=-1)


def test_bfs_oracle_sql_twin_matches(spark):
    import duckdb
    from cdap_geo_spark.operators.graph import bfs_hops, bfs_oracle_sql
    edges = _random_edges(40, 120, seed=101)
    sources = [2, 5]
    got = {(r.id, r.hops) for r in bfs_hops(
        spark.createDataFrame(edges, "src int, dst int"),
        spark.createDataFrame([(s,) for s in sources], "id int"),
        max_hops=4).collect()}
    ev = ", ".join(f"({a}, {b})" for a, b in edges)
    sv = ", ".join(f"({s})" for s in sources)
    sql = bfs_oracle_sql(f"SELECT * FROM (VALUES {ev}) AS e(src, dst)",
                         f"SELECT * FROM (VALUES {sv}) AS s(id)",
                         max_hops=4)
    want = {(int(i), int(h)) for i, h in duckdb.sql(sql).fetchall()}
    assert got == want


def _brute_kcore(edges, k, rounds):
    e = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    for _ in range(rounds):
        deg = {}
        for u, v in e:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = [(u, v) for u, v in e if u in keep and v in keep]
        if len(nxt) == len(e):
            break
        e = nxt
    deg = {}
    for u, v in e:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    return deg


def test_kcore_matches_bruteforce(spark):
    from cdap_geo_spark.operators.graph import kcore_peel
    edges = _random_edges(50, 220, seed=13)
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 4, 6):
        got = {r.id: r.deg for r in
               kcore_peel(df, k=k, rounds=4).collect()}
        assert got == _brute_kcore(edges, k, 4), f"k={k}"


def test_kcore_short_circuit_equals_converged(spark):
    # once a round removes nothing the peel has converged: a huge
    # round budget must equal the exact k-core (python peel run to
    # fixpoint), via the engine's early exit
    from cdap_geo_spark.operators.graph import kcore_peel
    edges = _random_edges(40, 150, seed=21)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.deg for r in
           kcore_peel(df, k=3, rounds=50).collect()}
    assert got == _brute_kcore(edges, 3, 10_000)


def test_kcore_oracle_sql_twin_matches(spark):
    import duckdb
    from cdap_geo_spark.operators.graph import kcore_oracle_sql, kcore_peel
    raw = _random_edges(35, 160, seed=33)
    und = sorted({(min(a, b), max(a, b)) for a, b in raw})
    got = {r.id: r.deg for r in
           kcore_peel(spark.createDataFrame(raw, "src int, dst int"),
                      k=4, rounds=3).collect()}
    vals = ", ".join(f"({u}, {v})" for u, v in und)
    sql = kcore_oracle_sql(f"SELECT * FROM (VALUES {vals}) AS t(u, v)",
                           k=4, rounds=3)
    want = {int(i): int(d) for i, d in duckdb.sql(sql).fetchall()}
    assert got == want


def test_kcore_validates_and_empty(spark):
    from cdap_geo_spark.operators.graph import kcore_peel
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        kcore_peel(df, k=0)
    with pytest.raises(ValueError):
        kcore_peel(df, k=2, rounds=-1)
    # k=2 on a single edge: both endpoints have deg 1 -> everything
    # peels away in round 1
    assert kcore_peel(df, k=2, rounds=2).count() == 0


def _brute_adamic(edges, k, scale=10**6):
    import math
    und = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    nodes = sorted(adj)
    out = []
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b in adj[a]:
                continue
            s = sum(round(scale / math.log(len(adj[v])))
                    for v in adj[a] & adj[b])
            if s:
                out.append((a, b, s))
    out.sort(key=lambda t: (-t[2], t[0], t[1]))
    return out[:k]


def test_adamic_adar_matches_bruteforce(spark):
    from cdap_geo_spark.operators.graph import adamic_adar
    edges = _random_edges(45, 180, seed=17)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [tuple(r) for r in adamic_adar(df, k=30).collect()]
    assert got == _brute_adamic(edges, 30)


@pytest.mark.parametrize("offset", [1 << 31, -10_000])
def test_adamic_adar_unpacked_fallback_matches_bruteforce(spark, offset):
    """Ids >= 2^31 or negative cannot be packed into one BIGINT pair
    key, so the unpacked plan runs; it must match brute force too."""
    from cdap_geo_spark.operators.graph import adamic_adar
    edges = [(a + offset, b + offset)
             for a, b in _random_edges(45, 180, seed=17)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [tuple(r) for r in adamic_adar(df, k=30).collect()]
    assert got == _brute_adamic(edges, 30)


def test_adamic_adar_oracle_sql_twin_matches(spark):
    import duckdb
    from cdap_geo_spark.operators.graph import (adamic_adar,
                                                adamic_adar_oracle_sql)
    raw = _random_edges(30, 120, seed=41)
    und = sorted({(min(a, b), max(a, b)) for a, b in raw})
    got = [tuple(r) for r in
           adamic_adar(spark.createDataFrame(raw, "src int, dst int"),
                       k=20).collect()]
    vals = ", ".join(f"({u}, {v})" for u, v in und)
    sql = adamic_adar_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(u, v)", k=20)
    want = [(int(a), int(b), int(s)) for a, b, s
            in duckdb.sql(sql).fetchall()]
    assert got == want


def test_adamic_adar_excludes_existing_edges_and_validates(spark):
    from cdap_geo_spark.operators.graph import adamic_adar
    # triangle + pendant: (1,3) adjacent -> excluded; (1,4)/(2,4) share
    # neighbor 3 (deg 3); (1,2) adjacent
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)],
                               "src long, dst long")
    got = {(r.a, r.b) for r in adamic_adar(df, k=10).collect()}
    assert got == {(1, 4), (2, 4)}
    with pytest.raises(ValueError):
        adamic_adar(df, k=0)


def _brute_sssp(wedges, sources, rounds):
    dist = {s: 0 for s in sources}
    for _ in range(rounds):
        nd = dict(dist)
        for a, b, w in wedges:
            if a in dist and dist[a] + w < nd.get(b, float("inf")):
                nd[b] = dist[a] + w
        if nd == dist:
            break
        dist = nd
    return dist


def test_sssp_matches_bruteforce(spark):
    import random
    from cdap_geo_spark.operators.graph import sssp
    rng = random.Random(19)
    wedges = [(a, b, rng.randrange(1, 10))
              for a, b in _random_edges(50, 260, seed=19)]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    srcs = spark.createDataFrame([(0,), (7,), (13,)], "id long")
    for rounds in (1, 3, 5):
        got = {r.id: r.dist for r in
               sssp(df, srcs, rounds=rounds).collect()}
        assert got == _brute_sssp(wedges, [0, 7, 13], rounds), rounds


def test_sssp_short_circuit_equals_converged(spark):
    from cdap_geo_spark.operators.graph import sssp
    # chain 0-1-2-3 with a shortcut; huge round budget == fixpoint
    wedges = [(0, 1, 5), (1, 2, 5), (2, 3, 5), (0, 3, 20), (3, 4, 1)]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    srcs = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.dist for r in sssp(df, srcs, rounds=50).collect()}
    assert got == {0: 0, 1: 5, 2: 10, 3: 15, 4: 16}


def test_sssp_oracle_sql_twin_matches(spark):
    import duckdb
    import random
    from cdap_geo_spark.operators.graph import sssp, sssp_oracle_sql
    rng = random.Random(23)
    wedges = [(a, b, rng.randrange(1, 8))
              for a, b in _random_edges(35, 150, seed=23)]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    srcs = spark.createDataFrame([(1,), (4,)], "id long")
    got = {r.id: r.dist for r in sssp(df, srcs, rounds=3).collect()}
    vals = ", ".join(f"({a}, {b}, {w})" for a, b, w in wedges)
    sql = sssp_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(src, dst, w)",
        "SELECT * FROM (VALUES (1), (4)) AS s(id)", rounds=3)
    want = {int(i): int(d) for i, d in duckdb.sql(sql).fetchall()}
    assert got == want


def test_sssp_validates(spark):
    from cdap_geo_spark.operators.graph import sssp
    df = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    srcs = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        sssp(df, srcs, rounds=-1)
    # rounds=0: only the sources at distance 0
    got = {r.id: r.dist for r in sssp(df, srcs, rounds=0).collect()}
    assert got == {1: 0}


# ---------------------------------------------------------------------------
# lpa_communities
# ---------------------------------------------------------------------------


def _brute_lpa(raw_edges, rounds):
    und = {(min(a, b), max(a, b)) for a, b in raw_edges if a != b}
    nbrs = {}
    for u, v in und:
        nbrs.setdefault(u, []).append(v)
        nbrs.setdefault(v, []).append(u)
    lab = {n: n for n in nbrs}
    for _ in range(rounds):
        nxt = {}
        for n, ns in nbrs.items():
            cnt = {}
            for m in ns:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            nxt[n] = min(cnt, key=lambda c: (-cnt[c], c))
        lab = nxt
    return lab


def test_lpa_matches_bruteforce(spark):
    from cdap_geo_spark.operators.graph import lpa_communities
    edges = _random_edges(45, 180, seed=17)
    df = spark.createDataFrame(edges, "src long, dst long")
    for rounds in (0, 1, 3):
        got = {r.id: r.label for r in
               lpa_communities(df, rounds=rounds).collect()}
        assert got == _brute_lpa(edges, rounds), f"rounds={rounds}"


def test_lpa_two_cliques_form_two_communities(spark):
    # two 5-cliques joined by a single bridge edge: after 3 sync
    # rounds each clique converges onto its own minimum id
    from cdap_geo_spark.operators.graph import lpa_communities
    import itertools
    a = list(itertools.combinations(range(5), 2))
    b = list(itertools.combinations(range(10, 15), 2))
    edges = a + b + [(4, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.label for r in lpa_communities(df, rounds=3).collect()}
    assert got == _brute_lpa(edges, 3)
    assert {got[i] for i in range(5)} == {0}
    assert {got[i] for i in range(10, 15)} == {10}


def test_lpa_oracle_sql_twin_matches(spark):
    import duckdb
    from cdap_geo_spark.operators.graph import (lpa_communities,
                                                lpa_oracle_sql)
    raw = _random_edges(35, 140, seed=41)
    und = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    got = {r.id: r.label for r in
           lpa_communities(spark.createDataFrame(raw, "src int, dst int"),
                           rounds=3).collect()}
    vals = ", ".join(f"({u}, {v})" for u, v in und)
    sql = lpa_oracle_sql(f"SELECT * FROM (VALUES {vals}) AS t(u, v)",
                         rounds=3)
    want = {int(i): int(lb) for i, lb in duckdb.sql(sql).fetchall()}
    assert got == want


def test_lpa_validates(spark):
    from cdap_geo_spark.operators.graph import lpa_communities
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    import pytest as _pt
    with _pt.raises(ValueError):
        lpa_communities(df, rounds=-1)


def test_degree_assortativity_matches_bruteforce(spark):
    import math
    from cdap_geo_spark.operators.graph import degree_assortativity
    raw = _random_edges(30, 120, seed=9)
    und = sorted({(min(a, b), max(a, b)) for a, b in raw})
    deg = {}
    for u, v in und:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    xs, ys = [], []
    for u, v in und:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx, syy = sum(a * a for a in xs), sum(b * b for b in ys)
    r = ((n * sxy - sx * sy)
         / math.sqrt(float(n * sxx - sx * sx) * float(n * syy - sy * sy)))
    row = degree_assortativity(
        spark.createDataFrame(raw, "src long, dst long")).collect()[0]
    assert row.n_edges == len(und)
    assert abs(row.assort_micro - round(1_000_000.0 * r)) <= 1


def test_degree_assortativity_star_and_regular(spark):
    from cdap_geo_spark.operators.graph import degree_assortativity
    # star: perfectly disassortative -> -1; ring: regular -> NULL
    star = [(0, i) for i in range(1, 6)]
    row = degree_assortativity(
        spark.createDataFrame(star, "src long, dst long")).collect()[0]
    assert row.assort_micro == -1_000_000
    ring = [(i, (i + 1) % 6) for i in range(6)]
    row = degree_assortativity(
        spark.createDataFrame(ring, "src long, dst long")).collect()[0]
    assert row.assort_micro is None
