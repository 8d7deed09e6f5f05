"""Graph operators: planted-structure checks for link prediction and
ranking eval, and pure-Python replays (Dijkstra, Kruskal, Brandes,
k-core peel, HITS, random walks) of the iterative ones.  Plan locks and
oracles cover the rest of the family."""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F

from decision_tree_analytics_spark.operators.graph import (
    SP_COST_SCALE,
    _trade_edges,
    graph_closeness,
)


def test_adamic_adar_planted_links_and_hub_cap(spark, tmp_path):
    """Two customers sharing two rare parts must outrank a pair
    sharing one; customers connected ONLY through a hub part (degree
    over the cap) must not pair at all."""
    from decision_tree_analytics_spark.operators.graph import (
        AA_DEG_CAP,
        graph_adamic_adar,
    )

    purchases = (
        [(1, 101), (2, 101)]  # rare part 101: custs 1,2
        + [(1, 102), (2, 102)]  # rare part 102: custs 1,2 again
        + [(3, 103), (4, 103)]  # rare part 103: custs 3,4
        + [(c, 999) for c in range(1, AA_DEG_CAP + 3)]  # hub part
    )
    orders = [(i, c) for i, (c, _) in enumerate(purchases)]
    lines = [(i, p) for i, (_, p) in enumerate(purchases)]
    d = str(tmp_path)
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")

    rows = {(r.cust_a, r.cust_b): r for r in graph_adamic_adar(spark, d).collect()}
    assert set(rows) == {(1, 2), (3, 4)}  # hub minted no pairs
    assert rows[(1, 2)].n_common == 2 and rows[(3, 4)].n_common == 1
    assert rows[(1, 2)].score_micro == 2 * rows[(3, 4)].score_micro
    assert rows[(1, 2)].rank == 1 and rows[(3, 4)].rank == 2


def test_ndcg_perfect_ranking_is_one(spark, tmp_path, sf_dir):
    """A corpus where the BM25 order equals the relevance order must
    score NDCG 1.0 at every cutoff (equal-gain swaps do not change
    DCG); on the real fixture NDCG stays in (0, 1]."""
    from decision_tree_analytics_spark.operators.retrieval import (
        NDCG_KS,
        ml_ndcg_eval,
    )

    rows = [
        (0, "join hash window scan join hash window scan", "en", "s", 44),
        (1, "join alpha beta gamma delta epsilon zeta eta", "en", "s", 44),
        (2, "hash alpha beta gamma delta epsilon zeta eta", "en", "s", 44),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    planted = {r.k: r for r in ml_ndcg_eval(spark, d).collect()}
    assert set(planted) == set(NDCG_KS)
    for r in planted.values():
        assert r.dcg_micro == r.idcg_micro and r.ndcg == 1.0

    for r in ml_ndcg_eval(spark, sf_dir).collect():
        assert 0.0 < r.ndcg <= 1.0


def test_shortest_path_weighted_route_beats_direct_edge(spark, tmp_path, sf_dir):
    """Planted trade graph: NA-NB and NB-NC carry weight 100 (cost 1e7
    each) while the direct NA-NC edge carries weight 30 (cost
    33_333_333); ten weight-1 edges among light nations drag the mean
    below 30 but are themselves sparsified out.  Bellman-Ford must
    route NA→NC through NB (2e7), beating the direct edge — the
    weighted semantics BFS would miss."""
    from decision_tree_analytics_spark.operators.graph import graph_shortest_path

    lights = ["XL1", "XL2", "XL3", "XL4"]
    light_pairs = [(a, b) for a in lights for b in lights if a != b][:10]
    edges = [("NA", "NB", 100), ("NB", "NC", 100), ("NA", "NC", 30)] + [
        (a, b, 1) for a, b in light_pairs
    ]
    nations = sorted({n for e in edges for n in e[:2]})
    nk = {n: i for i, n in enumerate(nations)}
    cust, supp, orders, lines = [], [], [], []
    for i, (src, dst, w) in enumerate(edges, start=1):
        cust.append((i, nk[src]))
        supp.append((i, nk[dst]))
        orders.append((i, i))
        lines.extend((i, i) for _ in range(w))
    d = str(tmp_path)
    for rows, schema, name in [
        (list(nk.items()), "n_name string, n_nationkey long", "nation"),
        (cust, "c_custkey long, c_nationkey long", "customer"),
        (supp, "s_suppkey long, s_nationkey long", "supplier"),
        (orders, "o_orderkey long, o_custkey long", "orders"),
        (lines, "l_orderkey long, l_suppkey long", "lineitem"),
    ]:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{name}.parquet")

    got = {r.nation: r.dist_cost for r in graph_shortest_path(spark, d).collect()}
    assert got == {"NA": 0, "NB": 10_000_000, "NC": 20_000_000}

    real = {r.nation: r.dist_cost for r in graph_shortest_path(spark, sf_dir).collect()}
    assert real and min(real.values()) == 0 and all(v >= 0 for v in real.values())


def test_mst_equals_kruskal_and_spans(spark, sf_dir):
    """The cut-property/bottleneck formulation must produce exactly
    the tree textbook Kruskal builds on the same distinct-ified edge
    list, and it must span (|mst| = |nodes| - |components|)."""
    from decision_tree_analytics_spark.operators.graph import (
        MST_RANK_SCALE,
        _trade_edges,
        graph_mst,
    )
    import pyspark.sql.functions as F

    got = {
        (r.nation_a, r.nation_b): (r.w, r.cost_micro)
        for r in graph_mst(spark, sf_dir).collect()
    }
    # rebuild the same distinct-ified edge list
    und = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "weight",
        )
        .groupBy("a", "b")
        .agg(F.sum("weight").alias("w"))
        .collect()
    )
    edges = sorted((r.a, r.b, int(r.w)) for r in und)
    costed = [
        (int(1e9 / w + 0.5) * MST_RANK_SCALE + i + 1, a, b)
        for i, (a, b, w) in enumerate(edges)
    ]
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    kruskal = set()
    for cd, a, b in sorted(costed):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            kruskal.add((a, b))
    assert set(got) == kruskal
    nodes = {a for a, _, _ in edges} | {b for _, b, _ in edges}
    n_comp = len({find(n) for n in nodes})
    assert len(got) == len(nodes) - n_comp


def test_scc_equals_python_mutual_reachability(spark, sf_dir):
    """graph_scc's squaring-based labels must equal the partition a
    per-node Python BFS computes from the same sparsified directed
    edge list."""
    import pyspark.sql.functions as F

    from decision_tree_analytics_spark.operators.graph import (
        _trade_edges,
        graph_scc,
    )

    got = {r.nation: (r.scc, r.scc_size) for r in graph_scc(spark, sf_dir).collect()}
    assert got

    e = _trade_edges(spark, sf_dir).collect()
    mean_w = sum(r.weight for r in e) / len(e)
    adj = {}
    nodes = set()
    for r in e:
        if r.weight > mean_w and r.src != r.dst:
            adj.setdefault(r.src, set()).add(r.dst)
            nodes |= {r.src, r.dst}

    def reach(start):
        seen, stack = {start}, [start]
        while stack:
            for nxt in adj.get(stack.pop(), ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        return seen

    fwd = {n: reach(n) for n in nodes}
    want_label = {
        n: min(m for m in fwd[n] if n in fwd[m]) for n in nodes
    }
    sizes = {}
    for lbl in want_label.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    want = {n: (want_label[n], sizes[want_label[n]]) for n in nodes}
    assert got == want


def test_betweenness_equals_python_brandes(spark, sf_dir):
    """graph_betweenness must equal a pure-Python BFS sigma/dist
    computation with the same per-term micro-unit rounding."""
    import math
    from collections import deque

    from decision_tree_analytics_spark.operators.graph import (
        BC_SCALE,
        _trade_edges,
        graph_betweenness,
    )

    got = {
        r.nation: (r.bc_micro, r.n_pairs)
        for r in graph_betweenness(spark, sf_dir).collect()
    }
    assert got

    e = _trade_edges(spark, sf_dir).collect()
    mean_w = sum(r.weight for r in e) / len(e)
    adj = {}
    for r in e:
        if r.weight > mean_w and r.src != r.dst:
            a, b = min(r.src, r.dst), max(r.src, r.dst)
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    nodes = set(adj)

    def bfs(s):
        dist, sig = {s: 0}, {s: 1}
        q = deque([s])
        while q:
            v = q.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    sig[w] = 0
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sig[w] += sig[v]
        return dist, sig

    d, sg = {}, {}
    for n in nodes:
        d[n], sg[n] = bfs(n)

    want = {n: [0, 0] for n in nodes}
    for s in nodes:
        for t in d[s]:
            if not (s < t and d[s][t] > 0):
                continue
            for v in nodes:
                if v in (s, t) or v not in d[s] or t not in d[v]:
                    continue
                if d[s][v] + d[v][t] == d[s][t]:
                    want[v][0] += math.floor(
                        BC_SCALE * sg[s][v] * sg[v][t] / sg[s][t] + 0.5
                    )
                    want[v][1] += 1
    assert got == {n: tuple(w) for n, w in want.items()}


def _dijkstra(adj, src):
    import heapq

    dist = {src: 0}
    pq = [(0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, ()):  # undirected: adj carries both ways
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def test_closeness_matches_python_dijkstra(spark, sf_dir):
    out = {r["nation"]: r for r in graph_closeness(spark, sf_dir).collect()}
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "weight",
        )
        .groupBy("a", "b")
        .agg(F.sum("weight").alias("w"))
        .collect()
    )
    adj: dict[str, list[tuple[str, int]]] = {}
    for r in edges:
        c = max(int(math.floor(SP_COST_SCALE / r["w"] + 0.5)), 1)
        adj.setdefault(r["a"], []).append((r["b"], c))
        adj.setdefault(r["b"], []).append((r["a"], c))
    for src in adj:
        dist = _dijkstra(adj, src)
        reach = {t: d for t, d in dist.items() if t != src}
        assert out[src]["n_reach"] == len(reach)
        assert out[src]["sum_dist_micro"] == sum(reach.values())
        assert out[src]["harmonic_micro"] == sum(
            10**12 // d for d in reach.values()
        )


def test_kcore_converged_and_matches_python_peel(spark, sf_dir):
    from decision_tree_analytics_spark.operators.graph import (
        KCORE_K,
        graph_kcore,
    )

    out = {r["nation"]: r["core_degree"] for r in graph_kcore(spark, sf_dir).collect()}
    edges = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .collect()
    )
    adj: dict[str, set[str]] = {}
    for r in edges:
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    # python peel to the FIXED POINT (not a round cap)
    alive = set(adj)
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < KCORE_K}
        if not drop:
            break
        alive -= drop
    expect = {v: len(adj[v] & alive) for v in alive}
    assert out == expect  # fixed rounds reached the true k-core


def test_hits_scores_are_l1_normalized_and_weight_ranked(spark, sf_dir):
    from decision_tree_analytics_spark.operators.graph import (
        HITS_SCALE,
        graph_hits,
    )

    rows = graph_hits(spark, sf_dir).collect()
    tot_h = sum(r["hub_micro"] for r in rows)
    tot_a = sum(r["auth_micro"] for r in rows)
    # integer-div normalization truncates: sum in (SCALE - n, SCALE]
    assert HITS_SCALE - len(rows) <= tot_h <= HITS_SCALE
    assert HITS_SCALE - len(rows) <= tot_a <= HITS_SCALE
    assert all(r["hub_micro"] >= 0 and r["auth_micro"] >= 0 for r in rows)
    assert max(r["auth_micro"] for r in rows) > HITS_SCALE // len(rows)


# ------------------------------------------------------------------
# graph_random_walks
# ------------------------------------------------------------------


def test_random_walks_replay_and_shape(spark, sf_dir):
    from decision_tree_analytics_spark.operators.graph import (
        WALK_STEPS,
        WALKS_PER_NODE,
        _trade_edges,
        graph_random_walks,
    )

    out = graph_random_walks(spark, sf_dir).toPandas()
    edges = _trade_edges(spark, sf_dir).toPandas()
    adj = {}
    for r in edges[edges.src != edges.dst].itertuples():
        adj.setdefault(r.src, []).append(r.dst)
    nodes = sorted(set(edges.src) | set(edges.dst))
    rows = set()
    for n in nodes:
        for w in range(WALKS_PER_NODE):
            cur = n
            rows.add((n, w, 0, cur))
            for step in range(1, WALK_STEPS + 1):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                cur = min(
                    nbrs,
                    key=lambda d: hashlib.md5(
                        f"{cur}-{w}-{step}-{d}".encode()
                    ).hexdigest(),
                )
                rows.add((n, w, step, cur))
    got = set(
        out[["start_node", "walk_id", "step", "node"]].itertuples(
            index=False, name=None
        )
    )
    assert got == rows
    # every (start, walk) has a full-length trajectory on this graph
    per_walk = out.groupby(["start_node", "walk_id"]).step.max()
    assert (per_walk == WALK_STEPS).all()
