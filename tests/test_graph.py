"""Connected components / dedup cluster formation (functions/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_translation_spark.functions.graph import (
    connected_components,
    dedup_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_cc_chain_propagates_beyond_one_hop(spark):
    """A 6-node path: the min label must travel the full diameter
    (multiple propagation rounds), not just one hop."""
    cc = connected_components(
        _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    )
    got = {r["node"]: r["cluster_id"] for r in cc.collect()}
    assert got == {n: 1 for n in range(1, 7)}


def test_cc_components_and_singletons(spark):
    """Two components + an isolated node supplied via nodes=."""
    nodes = spark.range(1, 10).select(F.col("id").alias("_id"))
    cc = connected_components(
        _edges(spark, [(1, 2), (2, 3), (5, 6), (7, 6)]), nodes=nodes
    )
    got = {r["node"]: r["cluster_id"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9}


def test_cc_unconverged_raises_not_silent(spark):
    """A chain longer than max_iters must ERROR, never return wrong
    labels silently."""
    chain = _edges(spark, [(i, i + 1) for i in range(1, 9)])
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(chain, max_iters=2)
    # max_iters counts label rounds, round 1 included: the 9-node path
    # needs 8 rounds to carry label 1 to node 9 and a 9th to see nothing
    # change
    with pytest.raises(RuntimeError, match="not converged after 8 rounds"):
        connected_components(chain, max_iters=8)
    got = connected_components(chain, max_iters=9).collect()
    assert {r["node"]: r["cluster_id"] for r in got} == {
        n: 1 for n in range(1, 10)
    }


def test_cc_empty_edges_every_node_singleton(spark):
    """No edges: the loop converges in round 1 on an empty edge set and
    every supplied node comes back as its own cluster."""
    nodes = spark.range(1, 6).select(F.col("id").alias("_id"))
    cc = connected_components(_edges(spark, []), nodes=nodes)
    assert sorted(map(tuple, cc.collect())) == [(n, n) for n in range(1, 6)]


def test_cc_reads_edge_plan_once(spark):
    """A lazy edge plan (here a Python UDF that counts the rows it
    sees) is evaluated once per edge row over the whole CC loop — not
    once per edge direction, and not once per round."""
    from pyspark.sql.types import LongType

    seen = spark.sparkContext.accumulator(0)

    def tap(x):
        seen.add(1)
        return x

    rows = [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8)]
    edges = _edges(spark, rows).select(
        F.udf(tap, LongType())("id_a").alias("id_a"), "id_b"
    )
    cc = connected_components(edges)
    got = {r["node"]: r["cluster_id"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 7: 7, 8: 7}
    assert seen.value == len(rows)


def test_dedup_clusters_survivorship(spark):
    """dedup_clusters: min-id survivor per component; every doc in
    docs= appears, singletons self-survive."""
    docs = spark.createDataFrame(
        [(i,) for i in (10, 11, 12, 20, 30)], "doc_id long"
    )
    out = dedup_clusters(_edges(spark, [(10, 11), (11, 12)]), docs)
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_survivor"])
        for r in out.collect()
    }
    assert got == {
        10: (10, True),
        11: (10, False),
        12: (10, False),
        20: (20, True),
        30: (30, True),
    }


def test_cc_deterministic_across_runs(spark):
    edges = _edges(
        spark, [(3, 7), (7, 1), (9, 4), (4, 9), (2, 8), (8, 5), (5, 2)]
    )
    a = sorted(map(tuple, connected_components(edges).collect()))
    b = sorted(map(tuple, connected_components(edges).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# triangle_counts (degree-oriented wedge join)
# ---------------------------------------------------------------------------

def _tri_brute(edges):
    import itertools

    adj = {}
    es = set()
    for a, b in edges:
        if a == b:
            continue
        u, v = min(a, b), max(a, b)
        es.add((u, v))
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    for v, nb in adj.items():
        t = sum(
            1
            for x, y in itertools.combinations(sorted(nb), 2)
            if (min(x, y), max(x, y)) in es
        )
        want[v] = (len(nb), t)
    return want


def _tri_run(spark, edges):
    from ocr_translation_spark.functions.graph import triangle_counts

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r.vertex: (r.degree, r.n_triangles)
        for r in triangle_counts(df).collect()
    }


def test_triangle_hand_graph(spark):
    # triangle 1-2-3 plus a pendant 4 and a disconnected edge 5-6
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)]
    got = _tri_run(spark, edges)
    assert got == {
        1: (2, 1), 2: (2, 1), 3: (3, 1), 4: (1, 0), 5: (1, 0), 6: (1, 0)
    }


def test_triangle_star_has_none_clique_has_all(spark):
    star = [(0, i) for i in range(1, 9)]
    got = _tri_run(spark, star)
    assert got[0] == (8, 0) and all(got[i] == (1, 0) for i in range(1, 9))
    import itertools

    k5 = list(itertools.combinations(range(5), 2))
    got = _tri_run(spark, k5)
    # K5: every vertex is in C(4,2) = 6 triangles
    assert got == {i: (4, 6) for i in range(5)}


def test_triangle_dedups_parallel_and_self_edges(spark):
    edges = [(1, 2), (2, 1), (1, 2), (1, 1), (2, 3), (1, 3)]
    got = _tri_run(spark, edges)
    assert got == {1: (2, 1), 2: (2, 1), 3: (2, 1)}


def test_triangle_brute_force_parity_randomized(spark):
    import random

    rng = random.Random(20260818)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(150)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        got = _tri_run(spark, edges)
        assert got == _tri_brute(edges), f"trial {trial}"


def _lp_brute(edges, top_k=100, max_deg=None):
    """Pure-Python RA link prediction mirroring the documented
    semantics: 1e6 // deg(z) per common neighbor, non-adjacent pairs
    only, top_k by (score desc, u, v)."""
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs: dict[int, set[int]] = {}
    for u, v in es:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    scores: dict[tuple[int, int], list[int]] = {}
    for z, ns in nbrs.items():
        if max_deg is not None and len(ns) > max_deg:
            continue
        w = 1000000 // len(nbrs[z])
        sn = sorted(ns)
        for i in range(len(sn)):
            for j in range(i + 1, len(sn)):
                p = (sn[i], sn[j])
                s = scores.setdefault(p, [0, 0])
                s[0] += w
                s[1] += 1
    rows = [
        (u, v, s, c)
        for (u, v), (s, c) in scores.items()
        if (u, v) not in es
    ]
    rows.sort(key=lambda r: (-r[2], r[0], r[1]))
    return rows[:top_k]


def _lp_run(spark, edges, **kw):
    from ocr_translation_spark.functions.graph import link_prediction_ra

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return [
        (r.u, r.v, r.ra_score_micro, r.n_common)
        for r in link_prediction_ra(df, **kw).collect()
    ]


def test_link_prediction_path_graph(spark):
    # path 1-2-3: the only wedge is centered at 2 (deg 2), so the one
    # predicted link is (1,3) with score 1e6//2 and one common nbr.
    assert _lp_run(spark, [(1, 2), (2, 3)]) == [(1, 3, 500000, 1)]


def test_link_prediction_excludes_existing_edges(spark):
    # triangle 1-2-3: every wedge closes; nothing to predict.
    assert _lp_run(spark, [(1, 2), (2, 3), (1, 3)]) == []


def test_link_prediction_square_scores_both_diagonals(spark):
    # 4-cycle: each diagonal has two degree-2 common neighbors.
    got = _lp_run(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    assert got == [(1, 3, 1000000, 2), (2, 4, 1000000, 2)]


def test_link_prediction_hub_cap_drops_superstar_center(spark):
    # star center 0 (deg 4) + path 1-9-2: capping at 3 removes the
    # star's wedges but keeps the path's prediction through 9.
    edges = [(0, i) for i in (1, 2, 3, 4)] + [(1, 9), (9, 2)]
    got = _lp_run(spark, edges, max_intermediate_degree=3)
    assert got == _lp_brute(edges, max_deg=3)
    # and the capped result is a subset-with-lower-scores of exact
    exact = dict(
        ((u, v), (s, c)) for u, v, s, c in _lp_brute(edges)
    )
    for u, v, s, c in got:
        assert s <= exact[(u, v)][0] and c <= exact[(u, v)][1]


def test_link_prediction_brute_force_parity_randomized(spark):
    import random

    rng = random.Random(20260819)
    for trial in range(3):
        n = 30
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(90)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        got = _lp_run(spark, edges, top_k=10**9)
        want = _lp_brute(edges, top_k=10**9)
        assert sorted(got) == sorted(want), f"trial {trial}"


def test_link_prediction_partition_invariance(spark):
    from ocr_translation_spark.functions.graph import link_prediction_ra

    edges = [(i, (i * 7 + 3) % 23) for i in range(23)] + [
        (i, i + 1) for i in range(22)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = link_prediction_ra(df, top_k=15).collect()
    b = link_prediction_ra(df.repartition(13), top_k=15).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def _gm_brute(edges):
    """Pure-Python local-minimum matching mirroring the documented
    semantics: canonical (u,v) edges ranked by the first 15 hex chars
    of sha256('u:v'); each round an edge matches iff its (rk,u,v)
    struct is the min over all edges incident to both endpoints."""
    import hashlib

    def rk(u, v):
        h = hashlib.sha256(f"{u}:{v}".encode()).hexdigest()
        return int(h[:15], 16)

    alive = {
        (min(a, b), max(a, b)) for a, b in edges if a != b
    }
    alive = {(u, v): rk(u, v) for u, v in alive}
    out = []
    rnd = 0
    while alive:
        rnd += 1
        mins: dict[int, tuple] = {}
        for (u, v), r in alive.items():
            k = (r, u, v)
            for z in (u, v):
                if z not in mins or k < mins[z]:
                    mins[z] = k
        matched = [
            (u, v)
            for (u, v), r in alive.items()
            if mins[u] == (r, u, v) and mins[v] == (r, u, v)
        ]
        assert matched, "a min-rank edge always matches"
        out.extend((u, v, rnd) for u, v in matched)
        mv = {z for u, v in matched for z in (u, v)}
        alive = {
            e: r for e, r in alive.items()
            if e[0] not in mv and e[1] not in mv
        }
    return sorted(out)


def _gm_run(spark, edges, **kw):
    from ocr_translation_spark.functions.graph import (
        greedy_maximal_matching,
    )

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return sorted(
        (r.u, r.v, r.match_round)
        for r in greedy_maximal_matching(df, **kw).collect()
    )


def test_matching_brute_force_parity_randomized(spark):
    import random

    rng = random.Random(20260819)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(120)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        got = _gm_run(spark, edges)
        assert got == _gm_brute(edges), f"trial {trial}"


def test_matching_vertex_disjoint_and_maximal(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(200)]
    edges = [e for e in edges if e[0] != e[1]]
    got = _gm_run(spark, edges)
    mv: set[int] = set()
    for u, v, _ in got:
        assert u not in mv and v not in mv, "matching not vertex-disjoint"
        mv.update((u, v))
    # maximal: every surviving input edge touches a matched vertex
    for a, b in edges:
        assert a in mv or b in mv, f"edge ({a},{b}) extends the matching"


def test_matching_partition_invariance(spark):
    from ocr_translation_spark.functions.graph import (
        greedy_maximal_matching,
    )

    edges = [(i, (i * 11 + 5) % 37) for i in range(37)] + [
        (i, i + 1) for i in range(36)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = sorted(tuple(r) for r in greedy_maximal_matching(df).collect())
    b = sorted(
        tuple(r)
        for r in greedy_maximal_matching(df.repartition(13)).collect()
    )
    assert a == b


def test_matching_unconverged_raises_not_silent(spark):
    from ocr_translation_spark.functions.graph import (
        greedy_maximal_matching,
    )

    # a long path needs >1 round; max_rounds=1 must error loudly
    df = _edges(spark, [(i, i + 1) for i in range(40)])
    with pytest.raises(RuntimeError, match="not converged"):
        greedy_maximal_matching(df, max_rounds=1)


def test_matching_empty_and_selfloop_only(spark):
    from ocr_translation_spark.functions.graph import (
        greedy_maximal_matching,
    )

    df = _edges(spark, [(3, 3), (7, 7)])
    assert greedy_maximal_matching(df).count() == 0


def _dw_brute(edges, walk_len, walks_per_node):
    """Pure-Python DeepWalk mirror: sorted neighbor lists, next hop =
    sha256(start:rep:t:cur) 60-bit prefix mod degree."""
    import hashlib

    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs: dict[int, set[int]] = {}
    for u, v in es:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    sn = {k: sorted(v) for k, v in nbrs.items()}
    out = []
    for s in sn:
        for rep in range(walks_per_node):
            cur, path = s, str(s)
            for t in range(1, walk_len):
                h = hashlib.sha256(
                    f"{s}:{rep}:{t}:{cur}".encode()
                ).hexdigest()
                cur = sn[cur][int(h[:15], 16) % len(sn[cur])]
                path += ">" + str(cur)
            out.append((s, rep, path))
    return sorted(out)


def _dw_run(spark, edges, **kw):
    from ocr_translation_spark.functions.graph import random_walks

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return sorted(
        (r.start_node, r.rep, r.walk_path)
        for r in random_walks(df, **kw).collect()
    )


def test_walks_brute_force_parity_randomized(spark):
    import random

    rng = random.Random(20260820)
    for trial in range(2):
        edges = [
            (rng.randrange(30), rng.randrange(30)) for _ in range(80)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        got = _dw_run(spark, edges, walk_len=5, walks_per_node=2)
        want = _dw_brute(edges, 5, 2)
        assert got == want, f"trial {trial}"


def test_walks_every_hop_is_an_edge(spark):
    import random

    rng = random.Random(11)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(60)]
    edges = [e for e in edges if e[0] != e[1]]
    es = {(min(a, b), max(a, b)) for a, b in edges}
    for s, rep, path in _dw_run(spark, edges, walk_len=6):
        hops = [int(x) for x in path.split(">")]
        assert hops[0] == s and len(hops) == 6
        for a, b in zip(hops, hops[1:]):
            assert (min(a, b), max(a, b)) in es, f"{a}->{b} not an edge"


def test_walks_partition_invariance_and_counts(spark):
    edges = [(i, (i * 7 + 3) % 31) for i in range(31)] + [
        (i, i + 1) for i in range(30)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    a = _dw_run(spark, edges, walk_len=4, walks_per_node=3)
    from ocr_translation_spark.functions.graph import random_walks

    df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(9)
    b = sorted(
        (r.start_node, r.rep, r.walk_path)
        for r in random_walks(df, walk_len=4, walks_per_node=3).collect()
    )
    assert a == b
    nodes = {z for e in edges for z in e}
    assert len(a) == 3 * len(nodes)


def test_walks_length_one_and_bad_params(spark):
    from ocr_translation_spark.functions.graph import random_walks

    df = _edges(spark, [(1, 2), (2, 3)])
    got = sorted(
        (r.start_node, r.rep, r.walk_path)
        for r in random_walks(df, walk_len=1).collect()
    )
    assert got == [(1, 0, "1"), (2, 0, "2"), (3, 0, "3")]
    with pytest.raises(ValueError):
        random_walks(df, walk_len=0)
    with pytest.raises(ValueError):
        random_walks(df, walks_per_node=0)


def test_walks_isolated_and_selfloop_nodes_excluded(spark):
    # self-loop-only node 9 has no usable neighbor: no walk starts there
    from ocr_translation_spark.functions.graph import random_walks

    df = _edges(spark, [(1, 2), (9, 9)])
    starts = {
        r.start_node for r in random_walks(df, walk_len=3).collect()
    }
    assert starts == {1, 2}


# --- sssp_weighted -----------------------------------------------------


def _bf_mirror(edges, seeds, rounds):
    """Pure-Python bounded Bellman-Ford over the symmetrized
    min-weight edge set."""
    und = {}
    for u, v, w in edges:
        for a, b in ((u, v), (v, u)):
            und[(a, b)] = min(und.get((a, b), w), w)
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        new = dict(dist)
        for (u, v), w in und.items():
            if u in dist and dist[u] + w < new.get(v, float("inf")):
                new[v] = dist[u] + w
        dist = new
    return dist


def test_sssp_weights_beat_hops_and_parallel_edges(spark):
    from ocr_translation_spark.functions.graph import sssp_weighted

    # 1 -> 3 direct costs 10; 1 -> 2 -> 3 costs 2 + 3 = 5; a parallel
    # (1,2) edge of weight 7 must lose to the weight-2 one
    edges = spark.createDataFrame(
        [(1, 3, 10), (1, 2, 2), (1, 2, 7), (2, 3, 3)],
        "id_a long, id_b long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in sssp_weighted(edges, seeds, max_rounds=4).collect()
    }
    assert got == {1: 0, 2: 2, 3: 5}


def test_sssp_bounded_rounds_semantics(spark):
    from ocr_translation_spark.functions.graph import sssp_weighted

    # chain 1-2-3-4 (weight 1 each): at max_rounds=2, node 4 is
    # unreachable (needs 3 edges) — the <=K-edge contract
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1)], "id_a long, id_b long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in sssp_weighted(edges, seeds, max_rounds=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}


def test_sssp_randomized_python_parity_and_early_exit(spark):
    import random

    from ocr_translation_spark.functions.graph import sssp_weighted

    rng = random.Random(20260819)
    n = 40
    edges = [
        (rng.randrange(n), rng.randrange(n), rng.randint(1, 9))
        for _ in range(90)
    ]
    edges = [(u, v, w) for u, v, w in edges if u != v]
    df = spark.createDataFrame(edges, "id_a long, id_b long, w long")
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in sssp_weighted(df, seeds, max_rounds=6).collect()
    }
    assert got == _bf_mirror(edges, [0, 7], 6)
    # a budget far past the diameter converges to the same answer
    # (early exit) — and equals the unbounded shortest paths
    got2 = {
        r["node"]: r["dist"]
        for r in sssp_weighted(df, seeds, max_rounds=50).collect()
    }
    assert got2 == _bf_mirror(edges, [0, 7], 200)


def test_sssp_negative_weight_raises_and_validation(spark):
    import pytest

    from ocr_translation_spark.functions.graph import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 2, -1)], "id_a long, id_b long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(Exception, match="negative edge weight"):
        sssp_weighted(edges, seeds, max_rounds=2).collect()
    with pytest.raises(ValueError):
        sssp_weighted(edges, seeds, max_rounds=0)


# --- modularity_score --------------------------------------------------


def test_modularity_hand_computed(spark):
    from ocr_translation_spark.functions.graph import modularity_score

    # triangle {1,2,3} in A plus pendant 4 in B; duplicate/reversed
    # edges must collapse: m = 4, Q = -0.03125 exactly
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (2, 1)],
        "id_a long, id_b long",
    )
    labels = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B")],
        "node long, community string",
    )
    got = {
        r["community"]: tuple(r)[1:]
        for r in modularity_score(edges, labels).collect()
    }
    assert got["A"] == (3, 3, 7, -15625)
    assert got["B"] == (1, 0, 1, -15625)
    assert sum(v[3] for v in got.values()) == -31250


def test_modularity_perfect_partition_and_unlabeled(spark):
    from ocr_translation_spark.functions.graph import modularity_score

    # two disjoint triangles, each its own community: Q = 1/2 exactly
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)],
        "id_a long, id_b long",
    )
    labels = spark.createDataFrame(
        [(i, "A" if i <= 3 else "B") for i in range(1, 7)],
        "node long, community string",
    )
    got = {
        r["community"]: r["contrib_ppm"]
        for r in modularity_score(edges, labels).collect()
    }
    assert got == {"A": 250000, "B": 250000}
    # unlabeled endpoints: edge stays in m (denominator), vanishes
    # from every community's intra count
    labels2 = spark.createDataFrame(
        [(i, "A" if i <= 3 else "B") for i in range(1, 6)],
        "node long, community string",
    )
    got2 = {
        r["community"]: tuple(r)[1:]
        for r in modularity_score(edges, labels2).collect()
    }
    # B keeps nodes 4,5 with degrees 2 each but only 1 intra edge
    assert got2["B"][:3] == (2, 1, 4)
    assert got2["A"][:3] == (3, 3, 6)


def test_modularity_randomized_python_parity(spark):
    import random
    from collections import defaultdict

    from ocr_translation_spark.functions.graph import modularity_score

    rng = random.Random(20260819)
    n = 30
    raw = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(70)
    ]
    lab = {i: f"c{i % 4}" for i in range(n)}
    df = spark.createDataFrame(raw, "id_a long, id_b long")
    ldf = spark.createDataFrame(
        list(lab.items()), "node long, community string"
    )
    got = {
        r["community"]: tuple(r)[1:]
        for r in modularity_score(df, ldf).collect()
    }
    edges = {
        (min(u, v), max(u, v)) for u, v in raw if u != v
    }
    m = len(edges)
    intra = defaultdict(int)
    degs = defaultdict(int)
    nodes = defaultdict(set)
    for u, v in edges:
        if lab[u] == lab[v]:
            intra[lab[u]] += 1
        for x in (u, v):
            degs[lab[x]] += 1
            nodes[lab[x]].add(x)
    for c in degs:
        num = 4 * m * intra[c] - degs[c] * degs[c]
        want_contrib = (
            num * 1000000 // (4 * m * m)
            if num >= 0
            else -((-num) * 1000000 // (4 * m * m))
        )
        assert got[c] == (
            len(nodes[c]), intra[c], degs[c], want_contrib,
        ), (c, got[c])


# --- cc_incremental ----------------------------------------------------


def test_cc_incremental_equals_full_recompute(spark):
    from ocr_translation_spark.functions.graph import (
        cc_incremental,
        connected_components,
    )

    base = spark.createDataFrame(
        [(1, 2), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "_id long"
    )
    lab = connected_components(base, nodes=nodes)
    # bridge merges two components; new chain 40-41; self-loop noise;
    # a new node attaching to an existing singleton
    delta = spark.createDataFrame(
        [(2, 3), (30, 20), (40, 41), (5, 5)], "id_a long, id_b long"
    )
    got = sorted(
        tuple(r)
        for r in cc_incremental(
            lab, delta, label_col="cluster_id"
        ).collect()
    )
    full = connected_components(
        base.unionByName(delta.filter("id_a <> id_b")), nodes=nodes
    )
    want = {r["node"]: r["cluster_id"] for r in full.collect()}
    assert {n: c for n, c, _ in got} == want
    assert {n for n, _, ch in got if ch} == {3, 4, 30, 40, 41}


def test_cc_incremental_randomized_vs_full(spark):
    import random

    from ocr_translation_spark.functions.graph import (
        cc_incremental,
        connected_components,
    )

    rng = random.Random(20260819)
    n = 60
    base = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(25)
    ]
    base = [(u, v) for u, v in base if u != v]
    delta = [
        (rng.randrange(n + 10), rng.randrange(n + 10))
        for _ in range(15)
    ]
    delta = [(u, v) for u, v in delta if u != v]
    bdf = spark.createDataFrame(base, "id_a long, id_b long")
    ddf = spark.createDataFrame(delta, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "_id long")
    lab = connected_components(bdf, nodes=nodes)
    inc = {
        r["node"]: r["cluster_id"]
        for r in cc_incremental(
            lab, ddf, label_col="cluster_id"
        ).collect()
    }
    # full recompute must include delta-only nodes as vertices
    full = connected_components(bdf.unionByName(ddf), nodes=nodes)
    want = {r["node"]: r["cluster_id"] for r in full.collect()}
    assert inc == want


def test_cc_incremental_empty_delta_is_identity(spark):
    from ocr_translation_spark.functions.graph import (
        cc_incremental,
        connected_components,
    )

    base = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    lab = connected_components(base)
    out = cc_incremental(
        lab,
        spark.createDataFrame([], "id_a long, id_b long"),
        label_col="cluster_id",
    ).collect()
    assert {(r["node"], r["cluster_id"]) for r in out} == {
        (1, 1), (2, 1),
    }
    assert not any(r["changed"] for r in out)
