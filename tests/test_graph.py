"""Connected components vs union-find; near-dup cluster semantics."""

import pytest

from bike_analyzer_spark.operators import graph
from tests.conftest import SF_DIR_ORACLE
from tests.oracle import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(graph.QUERIES))
def test_graph_vs_oracle(spark, duck, name):
    """Round-3: both fixpoints oracle as DuckDB recursive CTEs (full
    value equality; the reimplementation tests below stay as the third
    independent pin)."""
    df = graph.QUERIES[name](spark, SF_DIR_ORACLE)
    assert_matches_oracle(df, duck, graph.ORACLES[name], name=name)

def _union_find(edges):
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in parent}

@pytest.mark.parametrize("edges", [
    # chain 1-2-3-4, pair 10-11, triangle 20-21-22 + bridge 22-23
    [(1,2),(2,3),(3,4),(10,11),(20,21),(21,22),(20,22),(22,23)],
    # deterministic pseudo-random graph with several components
    [(i, (i * 7 + 3) % 50 + (i % 5) * 50) for i in range(0, 250, 3)
     if i != (i * 7 + 3) % 50 + (i % 5) * 50],
], ids=["small", "random"])
def test_components_synthetic(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.id: r.component for r in graph.connected_components(df).collect()}
    assert got == _union_find(edges)

def test_dedup_clusters_match_union_find(spark):
    from bike_analyzer_spark.operators.dedup import dedup_ngram_jaccard
    edges = [(r.a, r.b) for r in
             dedup_ngram_jaccard(spark, SF_DIR_ORACLE).collect()]
    assert edges, "expected non-empty top-20 pairs"
    expected = _union_find(edges)
    got = {r.doc_id: r.cluster_root
           for r in graph.dedup_clusters(spark, SF_DIR_ORACLE).collect()}
    assert got == expected
    kept = {r.cluster_root for r in
            graph.dedup_clusters(spark, SF_DIR_ORACLE).collect()
            if r.is_kept}
    assert kept == set(expected.values())


def _pagerank_py(edges, d=0.85, iters=10):
    from collections import defaultdict
    nodes = sorted({x for e in edges for x in e[:2]})
    n = len(nodes)
    out_w = defaultdict(float)
    for s, t, w in edges:
        out_w[s] += w
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = defaultdict(float)
        for s, t, w in edges:
            contrib[t] += (w / out_w[s]) * rank[s]
        dangling = sum(rank[v] for v in nodes if out_w[v] == 0)
        rank = {v: (1 - d) / n + d * (contrib[v] + dangling / n)
                for v in nodes}
    return rank

def test_pagerank_matches_reference_impl(spark):
    edges = [(1, 2, 3.0), (2, 3, 1.0), (3, 1, 2.0), (1, 3, 1.0), (4, 1, 5.0)]
    # node 5: dangling (only incoming)
    edges.append((3, 5, 1.0))
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    got = {r.id: round(r.rank, 10) for r in graph.pagerank(df).collect()}
    want = {k: round(v, 10) for k, v in _pagerank_py(edges).items()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])

def test_pagerank_rejects_nonpositive_weights(spark):
    df = spark.createDataFrame([(1, 2, 0.0)], "src long, dst long, weight double")
    import pytest as _p
    with _p.raises(ValueError):
        graph.pagerank(df)

def test_pagerank_rejects_null_weights(spark):
    # NULL <= 0 is NULL, so a naive filter guard passes NULLs through;
    # sum() then silently drops the edge's rank mass. Must fail loudly.
    df = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, None)], "src long, dst long, weight double")
    import pytest as _p
    with _p.raises(ValueError):
        graph.pagerank(df)

def test_pagerank_sums_to_one(spark):
    from bike_analyzer_spark.operators.od import infer_flows
    from tests.conftest import SF_DIR_SMOKE
    from pyspark.sql import functions as F
    edges = infer_flows(spark, SF_DIR_SMOKE, minutes=10).select(
        F.col("o").alias("src"), F.col("d").alias("dst"),
        F.col("flow").alias("weight"))
    total = graph.pagerank(edges, iterations=5).agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-6


def test_connected_components_raises_on_long_chain(spark):
    """A 200-node path needs ~200 label-propagation rounds: past
    max_iter the loop fails loudly instead of returning split
    components."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(chain, max_iter=25)


def test_od_triangles_matches_bruteforce_and_plans_equi_only(spark):
    """Triangle counting (round 8): per-node counts and clustering
    coefficients must equal a brute-force set reimplementation, and
    the degree-oriented formulation must plan WITHOUT any
    nested-loop join — the either-direction closing probe would
    degenerate there; ordering wedges by the orientation key makes
    it a pure equi join."""
    from itertools import combinations

    from bike_analyzer_spark.operators.graph import od_triangles
    from bike_analyzer_spark.operators.od import infer_flows
    from tests.conftest import SF_DIR_ORACLE

    flows = infer_flows(spark, SF_DIR_ORACLE, minutes=10).collect()
    adj = {}
    for r in flows:
        if r.o != r.d:
            adj.setdefault(r.o, set()).add(r.d)
            adj.setdefault(r.d, set()).add(r.o)
    want_tri = {v: 0 for v in adj}
    for v, nbrs in adj.items():
        for a, b in combinations(sorted(nbrs), 2):
            if b in adj.get(a, ()):  # triangle (v, a, b)
                want_tri[v] += 1

    df = od_triangles(spark, SF_DIR_ORACLE)
    got = df.collect()
    assert {r.id: r.n_triangles for r in got} == want_tri
    for r in got:
        if r.degree >= 2:
            want = round(
                2 * want_tri[r.id] / (r.degree * (r.degree - 1)), 6
            )
            assert abs(r.clustering_coeff - want) <= 1e-6, r.id
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_od_reach_hops_matches_bfs(spark):
    """Independent reimplementation: deque BFS over the top-k
    backbone built in plain Python from the same flow edges."""
    from collections import defaultdict, deque

    from bike_analyzer_spark.operators.od import infer_flows
    from tests.conftest import SF_DIR_ORACLE

    flows = [
        (r.o, r.d, r.flow)
        for r in infer_flows(spark, SF_DIR_ORACLE, minutes=10).collect()
        if r.o != r.d
    ]
    out = defaultdict(list)
    for o, d, f in flows:
        out[o].append((-f, d))
    adj = {
        o: [d for _, d in sorted(es)[: graph.BACKBONE_TOPK]]
        for o, es in out.items()
    }
    tot = defaultdict(int)
    for o, _, f in flows:
        tot[o] += f
    seed = min(tot, key=lambda o: (-tot[o], o))
    dist = {seed: 0}
    q = deque([seed])
    while q:
        u = q.popleft()
        if dist[u] >= graph.REACH_MAX_HOPS:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {
        r.station: r.hops
        for r in graph.od_reach_hops(spark, SF_DIR_ORACLE).collect()
    }
    assert got == dist


def test_od_kcore_matches_peeling_reimpl(spark):
    """Plain-Python peeling at the same p-percentile threshold
    reproduces the surviving core and its degrees."""
    from collections import defaultdict

    from bike_analyzer_spark.operators.od import infer_flows
    from tests.conftest import SF_DIR_ORACLE

    adj = defaultdict(set)
    for r in infer_flows(spark, SF_DIR_ORACLE, minutes=10).collect():
        if r.o != r.d:
            adj[r.o].add(r.d)
            adj[r.d].add(r.o)
    degs = sorted(
        (len(s), n) for n, s in adj.items()
    )
    K = len(degs)
    rank = -(-graph.KCORE_PCT * K // 100)
    k = degs[rank - 1][0]
    cur = {n: set(s) for n, s in adj.items()}
    while True:
        kill = [n for n, s in cur.items() if len(s) < k]
        if not kill:
            break
        for n in kill:
            for m in cur[n]:
                cur[m].discard(n)
            del cur[n]
    got = {
        r.id: (r.core_degree, r.k)
        for r in graph.od_kcore(spark, SF_DIR_ORACLE).collect()
    }
    assert got == {n: (len(s), k) for n, s in cur.items()}
    assert got  # non-degenerate at the oracle SF


def test_link_prediction_matches_pure_python(spark):
    """Replay the whole AA pipeline (backbone, undirected dedup,
    capped adjacency, wedge counting, edge exclusion, ranking) in
    plain Python over the operator's own flow frame."""
    import math
    from collections import defaultdict

    from bike_analyzer_spark.operators.od import infer_flows
    from tests.conftest import SF_DIR_SMOKE

    flows = [
        (r.o, r.d, r.flow)
        for r in infer_flows(spark, SF_DIR_SMOKE, minutes=10).collect()
        if r.o != r.d
    ]
    by_o = defaultdict(list)
    for o, d, f in flows:
        by_o[o].append((-f, d))
    und: dict[tuple[int, int], int] = {}
    for o, lst in by_o.items():
        for nf, d in sorted(lst)[: graph.BACKBONE_TOPK]:
            k = (min(o, d), max(o, d))
            und[k] = max(und.get(k, 0), -nf)
    adj = defaultdict(list)
    for (u, v), w in und.items():
        adj[u].append((-w, v))
        adj[v].append((-w, u))
    capped = {
        n: [d for _, d in sorted(lst)[: graph.LP_NEIGHBOR_CAP]]
        for n, lst in adj.items()
    }
    scores = defaultdict(lambda: [0, 0])
    for n, nbrs in capped.items():
        if len(nbrs) < 2:
            continue
        aa = round(graph.LP_UNIT / math.log(len(nbrs)))
        for i, a in enumerate(sorted(nbrs)):
            for b in sorted(nbrs)[i + 1 :]:
                scores[(a, b)][0] += 1
                scores[(a, b)][1] += aa
    cand = sorted(
        (
            (-aa, -cn, a, b)
            for (a, b), (cn, aa) in scores.items()
            if (a, b) not in und
        )
    )[: graph.LP_TOPK]
    got = graph.od_link_prediction(spark, SF_DIR_SMOKE).collect()
    assert [
        (r.station_a, r.station_b, r.common_neighbors, r.aa_unats)
        for r in got
    ] == [(a, b, -cn, -aa) for (aa, cn, a, b) in cand]
    assert got, "fixture must yield candidate pairs"
    for r in got:
        assert r.aa_score == r.aa_unats / graph.LP_UNIT
        # a common neighbor has degree >= 2: each quantum <= 1e6/ln 2
        assert r.aa_unats <= r.common_neighbors * round(
            graph.LP_UNIT / math.log(2)
        )


def test_lpa_python_replay_on_synthetic(spark):
    """Synchronous min-label LPA replayed in python on a two-community
    barbell: weighted votes, min-label ties, LPA_ROUNDS rounds."""
    from bike_analyzer_spark.operators.graph import LPA_ROUNDS

    # two triangles bridged by one weak edge
    edges = [
        (1, 2, 10), (2, 3, 10), (1, 3, 10),
        (4, 5, 10), (5, 6, 10), (4, 6, 10),
        (3, 4, 1),
    ]
    sym: dict[int, dict[int, int]] = {}
    for u, v, w in edges:
        sym.setdefault(u, {})[v] = sym.setdefault(u, {}).get(v, 0) + w
        sym.setdefault(v, {})[u] = sym.setdefault(v, {}).get(u, 0) + w
    lab = {n: n for n in sym}
    for _ in range(LPA_ROUNDS):
        new = {}
        for v, nbrs in sym.items():
            votes: dict[int, int] = {}
            for u, w in nbrs.items():
                votes[lab[u]] = votes.get(lab[u], 0) + w
            best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[v] = best
        lab = new

    # run the same rounds through the Spark loop body (bypassing the
    # OD-flows loader by reimporting the operator's core over a
    # synthetic frame via its public pieces)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = (
        spark.createDataFrame(edges, "o long, d long, flow long")
        .selectExpr("o as u", "d as v", "flow")
        .unionAll(
            spark.createDataFrame(edges, "o long, d long, flow long")
            .selectExpr("d as u", "o as v", "flow")
        )
        .groupBy("u", "v")
        .agg(F.sum("flow").alias("w"))
    )
    nodes = e.select(F.col("u").alias("id")).distinct()
    labels = nodes.withColumn("lab", F.col("id"))
    argmax = Window.partitionBy("v").orderBy(F.desc("votes"), F.asc("lab"))
    for _ in range(LPA_ROUNDS):
        votes = (
            e.join(labels, e["u"] == labels["id"])
            .groupBy("v", "lab")
            .agg(F.sum("w").alias("votes"))
        )
        best = (
            votes.withColumn("rn", F.row_number().over(argmax))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("id"), F.col("lab").alias("new_lab"))
        )
        labels = labels.join(best, "id", "left").select(
            "id", F.coalesce("new_lab", "lab").alias("lab")
        )
    got = {r.id: r.lab for r in labels.collect()}
    assert got == lab
    # the two triangles must resolve to two distinct communities
    assert len({lab[1], lab[4]}) == 2
    assert lab[1] == lab[2] == lab[3] or lab[1] == lab[2]


def test_lpa_communities_partition_stations(spark):
    """Every backbone station appears exactly once, and communities
    are non-trivial (more than one multi-member community at
    sf0.01)."""
    from collections import Counter

    from bike_analyzer_spark.operators.graph import od_label_propagation
    from tests.conftest import SF_DIR_ORACLE

    rows = od_label_propagation(spark, SF_DIR_ORACLE).collect()
    stations = [r.station for r in rows]
    assert len(stations) == len(set(stations))
    sizes = Counter(r.community for r in rows)
    multi = [s for s in sizes.values() if s >= 2]
    assert len(multi) >= 2
