"""Graph-operator tests: canonical integer PageRank (directed edges,
dangling-mass redistribution, 10 checkpointed iterations)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_demo_spark import registry
from iceberg_demo_spark.operators.graph import _S, integer_pagerank
from tests.conftest import SF_SMALL

registry.load_all()

_EDGES = [(1, 2), (1, 3), (2, 3), (4, 1), (2, 5), (4, 5)]


@pytest.fixture(params=["session", "-1"])
def broadcast(request, spark):
    """Run with the session's broadcast threshold and with broadcasting
    off (-1), so both sides of integer_pagerank's measured-size gate
    are exercised."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if request.param != "session":
        spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, old)


def _python_pagerank(edges, n_iter):
    """Reference recompute, floors everywhere — mirrors integer_pagerank."""
    from collections import defaultdict

    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out = defaultdict(set)
    for a, b in edges:
        out[a].add(b)
    deg = {a: len(bs) for a, bs in out.items()}
    rank = {v: _S for v in nodes}
    for _ in range(n_iter):
        dang = sum(r for v, r in rank.items() if v not in deg)
        dsh = dang // n
        contrib = defaultdict(int)
        for a, bs in out.items():
            share = rank[a] // deg[a]
            for b in bs:
                contrib[b] += share
        rank = {v: 15 * _S // 100
                + (85 * (contrib.get(v, 0) + dsh)) // 100
                for v in nodes}
    return rank


def test_pagerank_matches_pure_python(spark):
    """graph_doc_pagerank vs a pure-Python recompute at sf0.001: same
    DIRECTED edges (first-seen doc → later duplicate over shared 64/32
    windows), same ten integer fixed-point iterations with dangling
    redistribution, same (rank DESC, doc_id) top-20 — exact equality,
    including the rank values."""
    import hashlib
    from collections import defaultdict

    docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id", "n_chars", "text").collect())
    by_hash = defaultdict(set)
    for r in docs:
        for s in range(1, max(r["n_chars"] - 63, 1) + 1, 32):
            h = hashlib.md5(r["text"][s - 1:s + 63].encode()).hexdigest()
            by_hash[h].add(r["doc_id"])
    edges = {(a, b) for ds in by_hash.values()
             for a in ds for b in ds if a < b}
    rank = _python_pagerank(edges, 10)
    exp = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r["doc_id"], r["rank"])
           for r in registry.QUERIES["graph_doc_pagerank"](
               spark, SF_SMALL).collect()]
    assert got == exp and len(got) == 20
    # hubs must out-rank the floor a no-inbound node would get
    assert got[0][1] > 15 * _S // 100


def test_pagerank_mass_conservation_per_iteration(spark, broadcast):
    """The round-8 fidelity claim: with sinks in the rank frame and
    dangling mass folded into the teleport term, total rank mass is
    conserved each iteration up to quantified floor loss: one iteration
    loses < E + 2N units (each share floor < 1 per edge, the dangling
    split < 1 per node, the 85%% floor < 1 per node), and because the
    damping factor shrinks carried-over loss by 0.85 each round, the
    accumulated loss is geometrically bounded by (E + 2N)/0.15. So for
    every k: N·S − ⌈(E + 2N)/0.15⌉ ≤ Σ rank ≤ N·S. Graph has genuine
    sinks (3, 5) and a pure source (4)."""
    e = spark.createDataFrame(_EDGES, "src long, dst long")
    n, n_edges = 5, len(_EDGES)
    max_loss = -((n_edges + 2 * n) * 100 // -15)  # ceil((E+2N)/0.15)
    lo = n * _S - max_loss
    for k in range(1, 11):
        total = integer_pagerank(e, n_iter=k).agg(
            F.sum("rank").alias("t")).collect()[0]["t"]
        assert lo <= total <= n * _S, (k, total)


def test_pagerank_sinks_ranked_and_match_python(spark, broadcast):
    """Sinks appear in the output with canonical ranks (the round-7 form
    seeded from out-degree and dropped them); exact equality with the
    reference recompute on an asymmetric fixture, and the sink that
    everything flows into out-ranks the source."""
    e = spark.createDataFrame(_EDGES, "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in integer_pagerank(e, n_iter=10).collect()}
    exp = _python_pagerank(_EDGES, 10)
    assert got == exp
    assert set(got) == {1, 2, 3, 4, 5}          # sinks 3 and 5 included
    assert got[3] > got[4]                      # sink out-ranks pure source


def test_pagerank_iteration_runs_at_most_three_jobs(spark):
    """Job budget of one iteration, counted by the status tracker under
    a job group: one more iteration adds at most the rank broadcast, the
    contribution shuffle and the eager checkpoint (whose job also yields
    the observed dangling mass) — no separate job for a scalar."""
    from iceberg_demo_spark.cache import release_pins

    sc = spark.sparkContext
    e = spark.createDataFrame(_EDGES, "src long, dst long")

    def jobs(n_iter):
        group = f"pagerank-job-budget-{n_iter}"
        sc.setJobGroup(group, group)
        try:
            integer_pagerank(e, n_iter=n_iter).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        release_pins(blocking=True)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(3) - jobs(2) <= 3


def test_triangles_match_pure_python(spark):
    """Degree-ordered count == brute-force enumeration over the
    collected edge set; wedge/clustering identities hold."""
    import hashlib
    from itertools import combinations

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    adj: dict[int, set[int]] = {}
    whmap: dict[str, set[int]] = {}
    for r in docs:
        t = r["text"]
        for s in range(0, max(len(t) - 63, 1), 32):
            wh = hashlib.md5(t[s:s + 64].encode()).hexdigest()
            whmap.setdefault(wh, set()).add(r["doc_id"])
    edges = set()
    for ids in whmap.values():
        for a, b in combinations(sorted(ids), 2):
            edges.add((a, b))
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(1 for a, b in edges
              for c in (adj[a] & adj[b]) if c > b)
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    row = registry.QUERIES["graph_doc_triangles"](spark, SF_SMALL).collect()[0]
    assert row["n_edges"] == len(edges)
    assert row["n_nodes"] == len(adj)
    assert row["n_wedges"] == wedges
    assert row["n_triangles"] == tri
    assert row["clustering_bps"] == (10000 * 3 * tri) // max(wedges, 1)
