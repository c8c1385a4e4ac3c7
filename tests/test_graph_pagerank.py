"""PageRank (micro-unit relational form): hand-computed tiny graph,
partitioning invariance, dangling/no-inlink semantics (full-chain
oracle parity is covered by test_oracle_parity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from modware_loader_spark.operators import graph as G
from modware_loader_spark.operators.classifier import _round_half_away


def _naive(nodes, edges, n, iters, d=0.85):
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = _round_half_away((1.0 - d) * 1e6 / n)
    r = {v: _round_half_away(1e6 / n) for v in nodes}
    for _ in range(iters):
        nxt = {v: base for v in nodes}
        for s, t in edges:
            nxt[t] = nxt[t] + _round_half_away(d * r[s] / outdeg[s])
        r = nxt
    return r


def test_pagerank_matches_naive_model(spark):
    nodes = list(range(5))
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 0), (4, 4)]
    ndf = spark.createDataFrame([(v,) for v in nodes], ["doc_id"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["doc_id"]: r["rank_micros"]
        for r in G.pagerank_micros(ndf, edf, 5, iters=3).collect()
    }
    assert got == _naive(nodes, edges, 5, 3)


def test_pagerank_invariant_under_repartition(spark):
    docs = spark.range(60).withColumnRenamed("id", "doc_id")
    e = G.synthetic_link_edges(docs, 60)
    a = G.pagerank_micros(docs, e, 60, iters=2).collect()
    b = G.pagerank_micros(docs.repartition(9), e.repartition(7), 60, iters=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pagerank_no_inlink_node_keeps_base(spark):
    # node 2 has no in-edges: rank = damping base only
    ndf = spark.createDataFrame([(0,), (1,), (2,)], ["doc_id"])
    edf = spark.createDataFrame([(0, 1), (1, 0), (2, 0)], ["src", "dst"])
    got = {
        r["doc_id"]: r["rank_micros"]
        for r in G.pagerank_micros(ndf, edf, 3, iters=1).collect()
    }
    assert got[2] == _round_half_away(0.15000000000000002 * 1e6 / 3)
    assert got[0] > got[2] and got[1] > got[2]


def test_synthetic_edges_uniform_outdegree(spark):
    docs = spark.range(40).withColumnRenamed("id", "doc_id")
    e = G.synthetic_link_edges(docs, 40)
    assert e.count() == 120
    deg = e.groupBy("src").count().select(F.collect_set("count")).first()[0]
    assert deg == [3]
    # all destinations in range
    mm = e.agg(F.min("dst"), F.max("dst")).first()
    assert mm[0] >= 0 and mm[1] < 40


def test_cell_outlier_flags_flags_the_planted_outlier(spark):
    """One tight cluster plus a single far point: the far point (and
    only it) must flag, and the arithmetic must be repartition-stable."""
    from modware_loader_spark.operators import ivf as IVF

    rows = [(i, [0.0 + 0.01 * (i % 3), 0.0]) for i in range(19)]
    rows.append((19, [5.0, 5.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = IVF.ivf_train(df, nlist=1, lloyd_iters=1)
    out = {r["vec_id"]: r["is_outlier"] for r in IVF.cell_outlier_flags(df, cents, sigma=2.0).collect()}
    assert out[19] == 1
    assert sum(out.values()) == 1
    out2 = {
        r["vec_id"]: r["is_outlier"]
        for r in IVF.cell_outlier_flags(df.repartition(5), cents, sigma=2.0).collect()
    }
    assert out2 == out


def test_pagerank_property_random_graphs(spark):
    """Randomized small graphs (dangling nodes, multi-edges,
    self-loops) against the naive model — seeded loop, no Hypothesis
    needed for a driver-side generator."""
    import random

    rng = random.Random(42)
    for trial in range(6):
        n = rng.randint(2, 12)
        nodes = list(range(n))
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(0, 3 * n))
        ]
        ndf = spark.createDataFrame([(v,) for v in nodes], ["doc_id"])
        iters = rng.randint(1, 3)
        if edges:
            edf = spark.createDataFrame(edges, ["src", "dst"])
        else:
            edf = spark.createDataFrame([], "src long, dst long")
        got = {
            r["doc_id"]: r["rank_micros"]
            for r in G.pagerank_micros(ndf, edf, n, iters=iters).collect()
        }
        assert got == _naive(nodes, edges, n, iters), (trial, n, edges, iters)


def _naive_dangling(nodes, edges, n, iters, d=0.85):
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = _round_half_away((1.0 - d) * 1e6 / n)
    r = {v: _round_half_away(1e6 / n) for v in nodes}
    for _ in range(iters):
        dsum = sum(rv for v, rv in r.items() if v not in outdeg)
        share = _round_half_away(d * dsum / n) if dsum else 0
        nxt = {v: base + share for v in nodes}
        for s, t in edges:
            nxt[t] = nxt[t] + _round_half_away(d * r[s] / outdeg[s])
        r = nxt
    return r


def test_dangling_redistribution_identity_on_dangling_free_graph(spark):
    """redistribute_dangling must be a bit-identical no-op when every
    node has out-edges (the registered graph_pagerank contract holds
    whichever flag a caller picks)."""
    docs = spark.range(40).withColumnRenamed("id", "doc_id")
    e = G.synthetic_link_edges(docs, 40)
    off = G.pagerank_micros(docs, e, 40, iters=3).collect()
    on = G.pagerank_micros(
        docs, e, 40, iters=3, redistribute_dangling=True
    ).collect()
    assert sorted(map(tuple, off)) == sorted(map(tuple, on))


def test_dangling_redistribution_hand_computed(spark):
    """Node 2 dangles: its mass must spread as round(d * dsum / n) to
    every node each iteration (naive-model parity, 2 iterations)."""
    nodes = [0, 1, 2]
    edges = [(0, 1), (0, 2), (1, 2)]
    ndf = spark.createDataFrame([(v,) for v in nodes], ["doc_id"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["doc_id"]: r["rank_micros"]
        for r in G.pagerank_micros(
            ndf, edf, 3, iters=2, redistribute_dangling=True
        ).collect()
    }
    want = _naive_dangling(nodes, edges, 3, 2)
    assert got == want
    # sanity: the dangling share actually moved mass (differs from the
    # leaky default)
    leaky = {
        r["doc_id"]: r["rank_micros"]
        for r in G.pagerank_micros(ndf, edf, 3, iters=2).collect()
    }
    assert got != leaky


def test_dangling_redistribution_property_random_graphs(spark):
    import random

    rng = random.Random(43)
    for trial in range(5):
        n = rng.randint(2, 10)
        nodes = list(range(n))
        # leave ~a third of nodes dangling
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(0, 2 * n))
        ]
        edges = [(s, t) for s, t in edges if s % 3 != 0]
        ndf = spark.createDataFrame([(v,) for v in nodes], ["doc_id"])
        if edges:
            edf = spark.createDataFrame(edges, ["src", "dst"])
        else:
            edf = spark.createDataFrame([], "src long, dst long")
        iters = rng.randint(1, 3)
        got = {
            r["doc_id"]: r["rank_micros"]
            for r in G.pagerank_micros(
                ndf, edf, n, iters=iters, redistribute_dangling=True
            ).collect()
        }
        assert got == _naive_dangling(nodes, edges, n, iters), (trial, edges)


def test_extract_links_resolution_semantics(spark):
    """Anchor harvest + href resolution: absolute kept verbatim,
    protocol-relative gets the base scheme, root-relative the base
    origin; mailto/javascript/fragment-only/path-relative/empty drop to
    NULL dst; bare <a> (no href) never harvested; entity-encoded hrefs
    (&amp;) arrive decoded."""
    from modware_loader_spark.sources.warc import extract_links

    html = (
        '<html><body>'
        '<a href="https://other.example.com/x?a=1&amp;b=2">abs</a>'
        '<a href="//cdn.example.com/y">proto</a>'
        '<a href="/rooted">root</a>'
        '<a href="relative/path">rel</a>'
        '<a href="mailto:x@y">mail</a>'
        '<a href="javascript:void(0)">js</a>'
        '<a href="#frag">frag</a>'
        '<a href="">empty</a>'
        '<a name="anchor">bare</a>'
        '</body></html>'
    )
    pages = spark.createDataFrame(
        [("https://www.site.example.org:8080/dir/page",  html)], ["url", "html"]
    )
    rows = {r["href"]: r["dst_url"] for r in extract_links(pages).collect()}
    assert rows == {
        "https://other.example.com/x?a=1&b=2": "https://other.example.com/x?a=1&b=2",
        "//cdn.example.com/y": "https://cdn.example.com/y",
        "/rooted": "https://www.site.example.org:8080/rooted",
        "relative/path": None,
        "mailto:x@y": None,
        "javascript:void(0)": None,
        "#frag": None,
        "": None,
    }


def test_host_link_edges_reduction(spark):
    """Canonicalization + host reduction + self-loop drop + distinct."""
    from modware_loader_spark.operators.graph import host_link_edges

    links = spark.createDataFrame(
        [
            # same logical edge twice (tracking param noise) -> 1 row
            ("https://www.a.org/p", "x", "https://B.org/q?utm_source=z"),
            ("https://a.org/p2", "x", "https://b.org:443/q#top"),
            # self-loop after www-strip -> dropped
            ("https://www.a.org/p", "x", "https://a.org/self"),
            # unresolved href -> dropped
            ("https://a.org/p", "x", None),
        ],
        "src_url string, href string, dst_url string",
    )
    got = {(r["src"], r["dst"]) for r in host_link_edges(links).collect()}
    assert got == {("a.org", "b.org")}


def _naive_teleport(nodes, edges, w, iters, d=0.85):
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = dict(w)
    for _ in range(iters):
        nxt = {v: _round_half_away((1.0 - d) * w[v]) for v in nodes}
        for s, t in edges:
            nxt[t] = nxt[t] + _round_half_away(d * r[s] / outdeg[s])
        r = nxt
    return r


def test_pagerank_teleport_matches_naive_model(spark):
    """Personalized teleport: r0 = w, per-node base round((1.0-d)*w)."""
    nodes = [0, 1, 2, 3]
    w = {0: 400000, 1: 300000, 2: 200000, 3: 100000}
    edges = [(0, 1), (1, 2), (2, 0), (3, 0), (0, 3)]
    ndf = spark.createDataFrame(
        [(v, w[v]) for v in nodes], "doc_id long, w_micros long"
    )
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["doc_id"]: r["rank_micros"]
        for r in G.pagerank_micros(
            ndf, edf, 4, iters=3, teleport_col="w_micros"
        ).collect()
    }
    assert got == _naive_teleport(nodes, edges, w, 3)


def _naive_teleport_dangling(nodes, edges, w, iters, d=0.85):
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = dict(w)
    for _ in range(iters):
        dsum = sum(rv for v, rv in r.items() if v not in outdeg)
        nxt = {
            v: _round_half_away((1.0 - d) * w[v])
            + _round_half_away(d * dsum * w[v] / 1e6)
            for v in nodes
        }
        for s, t in edges:
            nxt[t] = nxt[t] + _round_half_away(d * r[s] / outdeg[s])
        r = nxt
    return r


def test_pagerank_teleport_dangling_hand_computed(spark):
    """Weight-proportional dangling redistribution (r11, replacing the
    r10 mutual-exclusion raise): node 2 dangles and its mass must
    teleport ∝ w — node i receives round(d · dsum · w_i / 1e6), rounded
    per node (naive-model parity, 2 iterations)."""
    nodes = [0, 1, 2, 3]
    w = {0: 400000, 1: 300000, 2: 200000, 3: 100000}
    edges = [(0, 1), (1, 2), (3, 0), (0, 3)]
    ndf = spark.createDataFrame(
        [(v, w[v]) for v in nodes], "doc_id long, w_micros long"
    )
    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["doc_id"]: r["rank_micros"]
        for r in G.pagerank_micros(
            ndf, edf, 4, iters=2,
            teleport_col="w_micros", redistribute_dangling=True,
        ).collect()
    }
    assert got == _naive_teleport_dangling(nodes, edges, w, 2)
    # the ∝w share must NOT equal the uniform share (w is non-uniform)
    leaky = {
        r["doc_id"]: r["rank_micros"]
        for r in G.pagerank_micros(
            ndf, edf, 4, iters=2, teleport_col="w_micros"
        ).collect()
    }
    assert got != leaky


def test_pagerank_teleport_dangling_identity_on_dangling_free_graph(spark):
    """With no dangling nodes the ∝w correction sums to share 0 and the
    output is bit-identical to plain personalized PageRank."""
    nodes = [0, 1, 2, 3]
    w = {0: 400000, 1: 300000, 2: 200000, 3: 100000}
    edges = [(0, 1), (1, 2), (2, 0), (3, 0), (0, 3)]
    ndf = spark.createDataFrame(
        [(v, w[v]) for v in nodes], "doc_id long, w_micros long"
    )
    edf = spark.createDataFrame(edges, ["src", "dst"])
    off = G.pagerank_micros(
        ndf, edf, 4, iters=3, teleport_col="w_micros"
    ).collect()
    on = G.pagerank_micros(
        ndf, edf, 4, iters=3,
        teleport_col="w_micros", redistribute_dangling=True,
    ).collect()
    assert sorted(map(tuple, off)) == sorted(map(tuple, on))


def test_assign_two_level_agreement_and_edge_cases(spark):
    """Two-level assignment: (a) high agreement with the flat argmin on
    real vectors, (b) EXACT agreement when a row's nearest centroid sits
    in its nearest super's group, trivially true at s == k, (c) the
    duplicated-super empty-group fallback stays total (no -1 cells)."""
    from modware_loader_spark.operators import ivf as IVF
    from modware_loader_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.01")["embeddings"]
    cents = IVF.ivf_train(emb, nlist=22, lloyd_iters=1)
    flat = {r["vec_id"]: r["cell"] for r in IVF.ivf_assign(emb, cents).collect()}
    two = {
        r["vec_id"]: r["cell"]
        for r in IVF.assign_two_level(
            emb.select("vec_id", "embedding"), cents
        ).collect()
    }
    assert set(two.values()) <= set(flat.values())
    assert all(c >= 0 for c in two.values())
    agree = sum(1 for k in flat if two[k] == flat[k]) / len(flat)
    assert agree >= 0.5, agree  # coarse-probe loss is bounded, not total
    # s == k degenerates to the flat argmin exactly
    two_full = {
        r["vec_id"]: r["cell"]
        for r in IVF.assign_two_level(
            emb.select("vec_id", "embedding"), cents, n_groups=22
        ).collect()
    }
    assert two_full == flat
    # duplicated super vectors: group 1 empty (its centroid ties to
    # super 0 and loses on sid) — rows must still assign, never -1
    dup = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [9.0, 9.0])]
    rows = spark.createDataFrame(
        [(10, [0.1, 0.1]), (11, [8.0, 8.0])], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in IVF.assign_two_level(rows, dup, n_groups=2).collect()
    }
    assert got[10] in (0, 1) and got[11] == 3


def test_pagerank_convergence(spark):
    """tol_micros early-exit: on an integer-exact fixed point, the
    converged run's ranks are bit-identical to the fixed-unroll result
    at every depth >= its stopping iteration, and the run genuinely
    stops early (fewer materialized iterations than the cap). A
    2-cycle + dangling tail reaches its fixed point within a few
    iterations in micro-units."""
    nodes = list(range(4))
    edges = [(0, 1), (1, 0), (2, 0), (3, 1)]
    ndf = spark.createDataFrame([(v,) for v in nodes], ["doc_id"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    # find the exact fixed-point depth with the naive model
    prev, depth = None, None
    for k in range(1, 60):
        cur = _naive(nodes, edges, 4, k)
        if cur == prev:
            depth = k
            break
        prev = cur
    assert depth is not None, "fixture never reaches an integer fixed point"
    ranks, iters_run = G.pagerank_micros(
        ndf, edf, 4, iters=50, tol_micros=1, return_iters=True
    )
    got = {r["doc_id"]: r["rank_micros"] for r in ranks.collect()}
    assert got == _naive(nodes, edges, 4, depth)
    assert got == _naive(nodes, edges, 4, 50)
    # the early-exit genuinely fired: one extra iteration past the
    # fixed point (to observe delta=0), nowhere near the 50 cap
    assert depth <= iters_run <= depth + 1 < 50


def test_pagerank_checkpoint_every_identical(spark):
    """Lineage truncation must not change a single rank: depth-10 with
    checkpoint_every=4 equals the un-truncated depth-10 run (and the
    naive model)."""
    docs = spark.range(40).withColumnRenamed("id", "doc_id")
    e = G.synthetic_link_edges(docs, 40)
    plain = sorted(map(tuple, G.pagerank_micros(docs, e, 40, iters=10).collect()))
    ck = sorted(
        map(
            tuple,
            G.pagerank_micros(
                docs, e, 40, iters=10, checkpoint_every=4
            ).collect(),
        )
    )
    assert plain == ck
