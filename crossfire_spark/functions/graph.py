"""Iterative graph analytics on DataFrames (no GraphX/GraphFrames
dependency — plain joins + aggregates, the way Spark SQL users run
graph algorithms at scale).

The iterative queries share one kernel set, defined below:
``undirected`` (the ``a < b`` closure of an edge list), ``mirror``
(its two-direction adjacency), ``fixpoint`` (the round loop, which
pins every round's state with ``catalog.materialize``) and
``_pagerank`` (one PageRank round with a restart column). PageRank,
personalized PageRank, k-core, label propagation, the Bellman–Ford
relaxation (g13) and ``connected_components`` (the duplicate
clustering of the dedup, ANN and validation families) all run
through ``fixpoint``.

A fixed iteration count keeps PageRank and label propagation fully
deterministic and lets the DuckDB oracle state the SAME computation as
an unrolled chain of join+aggregate CTEs — the iterative engine loop
is therefore exactly oracle-checked, not just sanity-checked. k-core
and connected components run to their fixpoint instead; both are
unique, so a converged loop and the oracle state the same answer.

Scale shape per PageRank iteration: one equi-join of ranks to edges on
the source key + one aggregate on the destination key — two shuffles
over edge-cardinality rows, the textbook distributed PageRank step.
Every round's state is ``materialize``-d so the lineage (and
codegen plan) stays O(1) deep instead of O(iterations); dangling mass
is redistributed through the restart column, computed as a 1-row
broadcast aggregate.

The declared graph is synthesized closed-form from ``documents``
(node i links to (7i+1) mod N and (13i+3) mod N): every edge is a
pure projection, so the oracle builds the identical graph and the
operator is pinned end-to-end at any SF.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table, materialize, nudge, stab


def undirected(edges: DataFrame) -> DataFrame:
    """The undirected closure of an edge list ``(src, dst)``: one
    ``(a, b)`` row per linked node pair, ``a < b``, self-loops
    dropped."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def mirror(pairs: DataFrame) -> DataFrame:
    """Both directions of every ``(a, b)`` row, as ``(node, nbr)`` —
    the symmetric adjacency of an undirected edge list."""
    return pairs.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        pairs.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    until: Column | None = None,
) -> DataFrame:
    """Run ``state = step(state)`` for ``rounds`` rounds, checkpointing
    every round's state so the lineage stays O(1) deep.

    With ``until`` (an aggregate Column that changes whenever the state
    does, such as a row count under peeling or a label sum under
    min-propagation), the initial state is checkpointed too and the
    loop stops at the first round whose ``until`` value repeats the
    previous one — that round changed nothing. The value is a counter
    of each round's ``materialize``, so convergence costs no job.
    ``rounds`` is then a cap: running out of it while the value still
    changes raises instead of returning an unconverged state."""
    if until is not None:
        state, prev = materialize(state, {"until": until})
    for _ in range(rounds):
        if until is None:
            state = materialize(step(state))
            continue
        state, value = materialize(step(state), {"until": until})
        if value == prev:
            return state
        prev = value
    if until is not None:
        raise RuntimeError(f"no fixpoint within {rounds} rounds")
    return state


PR_ITERS = 3
PR_DAMP = 0.85


def _node_set(edges: DataFrame) -> DataFrame:
    """(node) — the distinct endpoints of an edge list."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def _pagerank(
    edges: DataFrame,
    base: DataFrame,
    ranks: DataFrame,
    teleport: Column,
    share: Column,
    iters: int,
    damping: float,
) -> DataFrame:
    """The PageRank loop shared by :func:`pagerank` and
    :func:`personalized_pagerank`. Each round every node sends
    rank/out_degree along its out-edges and takes
    ``rank = teleport + d * (received + share)``, where ``dm``, the
    total rank of nodes with no out-edges, is redistributed by
    ``share``. ``base`` lists every node with the columns ``teleport``
    and ``share`` read (the restart vector); ``ranks`` is the initial
    (node, rank)."""
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edge weight = 1/out_degree(src), constant across iterations
    w_edges = materialize(
        edges.join(out_deg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
        )
    )
    has_out = w_edges.select(F.col("src").alias("node")).distinct()

    def step(ranks: DataFrame) -> DataFrame:
        # rank mass parked on dangling nodes (no out-edges): 1-row agg
        dangling = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contrib = (
            w_edges.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("recv"))
        )
        return (
            base.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping) * (F.coalesce("recv", F.lit(0.0)) + share)
                ).alias("rank"),
            )
        )

    return fixpoint(ranks, step, iters)


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMP,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list ``(src, dst)``.

    Nodes = union of srcs and dsts; rank starts uniform at 1/N;
    each round every node sends rank/out_degree along its out-edges,
    and ``rank = (1-d)/N + d * (received + dangling/N)`` where
    ``dangling`` is the total rank of nodes with no out-edges
    (uniformly redistributed). Returns (node, rank).
    """
    # N rides the node table's checkpoint: it drives the uniform terms
    nodes, size = materialize(_node_set(edges), {"n": F.count(F.lit(1))})
    n_nodes = size["n"]
    if n_nodes == 0:  # empty graph — empty ranks, not a ZeroDivision
        return nodes.select("node", F.lit(0.0).alias("rank"))
    return _pagerank(
        edges,
        nodes,
        nodes.select("node", F.lit(1.0 / n_nodes).alias("rank")),
        F.lit((1.0 - damping) / n_nodes),
        F.col("dm") / F.lit(float(n_nodes)),
        iters,
        damping,
    )


def doc_link_graph(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic link graph over the documents table:
    node i → (7i+1) mod N and i → (13i+3) mod N (N = max id + 1).
    Closed-form, so the oracle reconstructs the identical graph."""
    n = docs.select(F.max("doc_id").alias("m"))
    return (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(
                    (F.col("doc_id") * 7 + 1) % (F.col("m") + 1),
                    (F.col("doc_id") * 13 + 3) % (F.col("m") + 1),
                )
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )


def g01_pagerank(spark, sf_dir):
    """PageRank over the synthetic document link graph, 3 fixed
    iterations — oracled by the identical computation unrolled as
    DuckDB CTEs. Ranks are stabilized (ROUND(·,9)+1e-12 → 6 dp):
    per-node received sums accumulate in engine-specific order."""
    d = load_table(spark, sf_dir, "documents")
    ranks = pagerank(doc_link_graph(d))
    return ranks.select(
        "node",
        stab(F.col("rank")).alias("rank"),
    ).orderBy("node", "rank")


def _pr_oracle() -> str:
    # the identical computation unrolled: r0 uniform; each iteration
    # one join+aggregate; dangling mass redistributed uniformly.
    it = """
        recv{i} AS (SELECT e.dst node, SUM(r.rank * e.w) recv
                    FROM we e JOIN r{p} r ON e.src = r.node GROUP BY e.dst),
        dang{i} AS (SELECT COALESCE(SUM(rank), 0) dm FROM r{p}
                    WHERE node NOT IN (SELECT src FROM we)),
        r{i} AS (SELECT n.node,
                        (1 - {d}) / nn.n + {d} * (COALESCE(v.recv, 0) + g.dm / nn.n) rank
                 FROM nodes n CROSS JOIN nn CROSS JOIN dang{i} g
                 LEFT JOIN recv{i} v ON n.node = v.node)"""
    steps = ",".join(
        it.format(i=i, p=i - 1, d=PR_DAMP) for i in range(1, PR_ITERS + 1)
    )
    return f"""
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        e AS (SELECT src, dst FROM edges WHERE src <> dst),
        nodes AS (SELECT DISTINCT node FROM
                  (SELECT src node FROM e UNION ALL SELECT dst FROM e)),
        nn AS (SELECT COUNT(*) * 1.0 n FROM nodes),
        deg AS (SELECT src, COUNT(*) c FROM e GROUP BY src),
        we AS (SELECT e.src, e.dst, 1.0 / d.c w FROM e JOIN deg d ON e.src = d.src),
        r0 AS (SELECT node, 1.0 / nn.n rank FROM nodes CROSS JOIN nn),
        {steps}
        SELECT node, ROUND(ROUND(rank, 9) + 1e-12, 6) rank
        FROM r{PR_ITERS} ORDER BY node, rank"""


def degree_stats(edges: DataFrame) -> DataFrame:
    """Degree-distribution report over an edge list — the first graph
    health check before any iterative algorithm runs (skewed degrees
    predict hot partitions in CC/PageRank): per node in/out degree via
    two aggregates, then the degree histogram. Everything is
    node-cardinality after the first aggregate."""
    outd = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    ind = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    deg = outd.join(ind, "node", "full_outer").select(
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
    )
    return deg.groupBy("out_deg", "in_deg").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def g02_degree_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return degree_stats(doc_link_graph(d)).orderBy(
        "out_deg", "in_deg", "n_nodes"
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED closure of an
    edge list — the classic graph-quality/community metric (and the
    clustering-coefficient numerator).

    Spark-first shape with the degree-orientation optimization: each
    undirected edge is oriented from its lower-(degree, id) endpoint
    to the higher one, so every wedge enumeration fans out from the
    LOW-degree endpoint — join fan-out is Σ min-degree², bounded by
    O(m^1.5) triangles-algorithm theory instead of Σ degree² (a
    celebrity node in an ID-oriented join would fan out over its
    whole neighborhood; degree orientation caps it at the sqrt(m)
    frontier). Two equi-joins on node keys; no cartesian. The output
    is orientation-invariant, so the DuckDB oracle can use the
    simpler id-orientation."""
    _und, tri = _triangle_triples(edges)
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _triangle_triples(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared triangle enumeration (the degree-oriented wedge join
    documented on :func:`triangle_counts`): returns (und, tri) where
    ``und`` is the undirected closure (a < b) and ``tri`` the
    triangle triples (x, y, z) with y < z — each triangle exactly
    once. Used by g03's per-node counts and g15's per-edge
    embeddedness so the two cannot disagree about the triangle set."""
    und = materialize(undirected(edges))  # read by deg, orientation, and closure
    deg = mirror(und).groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    lo_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = materialize(  # both wedge legs read it
        und.join(da, "a").join(db, "b").select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    # wedge enumeration fans out from the LOW-degree endpoint; the
    # unordered far pair normalizes to id order so each wedge appears
    # once and the closure lookup joins the id-ordered edge table
    # (one orientation per undirected edge either way — an OR-join on
    # the degree orientation would plan as a nested loop)
    e1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
    wedges = e1.join(e2, "x").where(F.col("y") < F.col("z"))
    closing = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    tri = wedges.join(closing, ["y", "z"])
    return und, tri


def g03_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the synthetic document link
    graph — oracled by the identical (orientation-invariant) count
    in DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    return triangle_counts(doc_link_graph(d)).orderBy("node", "n_triangles")


def _tri_oracle() -> str:
    return """
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        und AS (SELECT DISTINCT least(src, dst) a, greatest(src, dst) b
                FROM edges WHERE src <> dst),
        tri AS (SELECT e1.a x, e1.b y, e2.b z
                FROM und e1
                JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
        nodes AS (SELECT unnest([x, y, z]) node FROM tri)
        SELECT node, COUNT(*) n_triangles FROM nodes
        GROUP BY node ORDER BY node, n_triangles"""


def _deg_oracle() -> str:
    return """
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        e AS (SELECT src, dst FROM edges WHERE src <> dst),
        outd AS (SELECT src node, COUNT(*) out_deg FROM e GROUP BY src),
        ind AS (SELECT dst node, COUNT(*) in_deg FROM e GROUP BY dst),
        deg AS (SELECT COALESCE(o.out_deg, 0) out_deg, COALESCE(i.in_deg, 0) in_deg
                FROM outd o FULL OUTER JOIN ind i ON o.node = i.node)
        SELECT out_deg, in_deg, COUNT(*) n_nodes FROM deg
        GROUP BY out_deg, in_deg ORDER BY out_deg, in_deg, n_nodes"""


KCORE_K = 3
KCORE_MAX_ROUNDS = 16


def kcore(edges: DataFrame, k: int = KCORE_K, max_rounds: int = KCORE_MAX_ROUNDS) -> DataFrame:
    """K-core of the undirected closure of an edge list — the maximal
    subgraph where every node keeps ≥ k neighbors (the standard
    community/robustness peel; in a dedup/link graph the k-core is
    the "densely interlinked" region worth closer inspection).

    Spark-first shape: the textbook distributed peel. Each round is
    ONE map-side-combinable degree aggregate plus TWO semi-joins
    filtering the symmetric adjacency to surviving endpoints — all
    equi-joins on node keys, no windows, no driver-side graph. The
    loop runs through :func:`fixpoint` until the adjacency's row count
    repeats (peeling is idempotent once every degree ≥ k); the count
    rides each round's checkpoint, and a peel still shrinking after
    ``max_rounds`` raises.

    Determinism: the k-core is unique (peel order never matters), so
    a bounded unrolled oracle states the identical computation.
    Returns (node, core_deg) for members of the k-core.
    """

    def peel(adj: DataFrame) -> DataFrame:
        keep = (
            adj.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("node")
        )
        return (
            adj.join(keep, "node", "left_semi")
            .join(keep.select(F.col("node").alias("nbr")), "nbr", "left_semi")
            .select("node", "nbr")
        )

    adj = fixpoint(mirror(undirected(edges)), peel, max_rounds, until=F.count(F.lit(1)))
    return adj.groupBy("node").agg(F.count(F.lit(1)).alias("core_deg"))


def g04_kcore(spark, sf_dir):
    """3-core of the synthetic document link graph — oracled by the
    identical peel unrolled as DuckDB CTEs (the k-core is unique and
    the peel idempotent, so a converged engine loop and a
    generously-unrolled oracle state the same set; convergence within
    the unroll depth is pinned by a test)."""
    d = load_table(spark, sf_dir, "documents")
    return kcore(doc_link_graph(d)).orderBy("node", "core_deg")


def _kcore_oracle() -> str:
    # AS MATERIALIZED: each round references the previous adjacency
    # three times; inlined CTEs would expand the chain 3^rounds-fold.
    rounds = "".join(
        f""",
        k{i} AS MATERIALIZED (SELECT node FROM adj{i - 1} GROUP BY node HAVING COUNT(*) >= {KCORE_K}),
        adj{i} AS MATERIALIZED (SELECT t.node, t.nbr FROM adj{i - 1} t
                   JOIN k{i} x ON t.node = x.node JOIN k{i} y ON t.nbr = y.node)"""
        for i in range(1, KCORE_MAX_ROUNDS + 1)
    )
    return f"""
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        und AS (SELECT DISTINCT least(src, dst) a, greatest(src, dst) b
                FROM edges WHERE src <> dst),
        adj0 AS MATERIALIZED (SELECT a node, b nbr FROM und UNION ALL SELECT b, a FROM und){rounds}
        SELECT node, COUNT(*) core_deg FROM adj{KCORE_MAX_ROUNDS}
        GROUP BY node ORDER BY node, core_deg"""


CC_MAX_ITERS = 25


def connected_components(edges: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Connected components over an undirected near-dup edge list
    ``(doc_a, doc_b)`` → ``(doc_id, cluster_id)`` where cluster_id is
    the minimum doc_id reachable from the node.

    Distributed min-label propagation: each round every node takes the
    min of its own label and its neighbours' labels — one shuffle join
    plus one shuffle agg per round, converging in O(cluster diameter)
    rounds. Near-dup clusters are shallow (dups of a common source),
    so a handful of rounds suffice even at 100 TB.

    Convergence: labels only ever decrease, so sum(lbl) strictly
    decreases until the labels are stable. The sum rides each round's
    checkpoint in :func:`fixpoint`, which stops at the first round that
    leaves it unchanged; a chain still shrinking after ``max_iters``
    rounds raises rather than returning non-minimal labels.
    """
    sym = materialize(  # reused every round
        mirror(edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")))
        .distinct()
    )

    def min_label(labels: DataFrame) -> DataFrame:
        nbr = sym.join(
            labels.select(F.col("doc_id").alias("nbr"), "lbl"), "nbr"
        ).select(F.col("node").alias("doc_id"), "lbl")
        return labels.union(nbr).groupBy("doc_id").agg(F.min("lbl").alias("lbl"))

    labels = (
        sym.select(F.col("node").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
    )
    labels = fixpoint(labels, min_label, max_iters, until=F.sum("lbl"))
    return labels.select("doc_id", F.col("lbl").alias("cluster_id"))


LINKPRED_MIN_COMMON = 2


def link_prediction(edges: DataFrame) -> DataFrame:
    """(p, q, common, jaccard) — common-neighbor link prediction over
    the UNDIRECTED closure: for every non-adjacent node pair sharing
    >= LINKPRED_MIN_COMMON neighbors, the shared-neighbor count and
    the neighborhood Jaccard — the classic missing-edge /
    recommendation primitive (Liben-Nowell & Kleinberg 2003).

    Shape: one adjacency self-join keyed on the CENTER node (fan-out
    Σ deg² — every common neighbor must be enumerated, so unlike
    triangles (g03) degree orientation cannot prune it), one pair
    aggregate, an anti-join against the edge set, two degree lookups.
    At corpus scale the Σ deg² term is bounded the way every LSH
    bucket here is: celebrity centers (deg > cap) would be dropped
    before the self-join — standard practice, since common-neighbor
    evidence through a hub is uninformative (the Adamic-Adar
    argument). The synthetic graph's degree is <= 4, so the declared
    form is exact and IS the oracle."""
    und = materialize(undirected(edges))  # read by adj (twice) + the anti-join
    adj = mirror(und)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    a1 = adj.select(F.col("node").alias("p"), F.col("nbr").alias("x"))
    a2 = adj.select(F.col("node").alias("q"), F.col("nbr").alias("x"))
    cn = (
        a1.join(a2, "x")
        .where(F.col("p") < F.col("q"))
        .groupBy("p", "q")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= LINKPRED_MIN_COMMON)
    )
    cand = cn.join(
        und.select(F.col("a").alias("p"), F.col("b").alias("q")),
        ["p", "q"],
        "left_anti",
    )
    dp = deg.select(F.col("node").alias("p"), F.col("deg").alias("dp"))
    dq = deg.select(F.col("node").alias("q"), F.col("deg").alias("dq"))
    return cand.join(dp, "p").join(dq, "q").select(
        "p",
        "q",
        "common",
        F.round(
            F.col("common") / (F.col("dp") + F.col("dq") - F.col("common")), 4
        ).alias("jaccard"),
    )


def g05_link_prediction(spark, sf_dir):
    """Common-neighbor link prediction over the synthetic document
    link graph — oracled by the identical computation in DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    return link_prediction(doc_link_graph(d)).orderBy(
        "p", "q", "common", "jaccard"
    )


def _linkpred_oracle() -> str:
    return f"""
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        und AS (SELECT DISTINCT least(src, dst) a, greatest(src, dst) b
                FROM edges WHERE src <> dst),
        adj AS (SELECT a node, b nbr FROM und UNION ALL SELECT b, a FROM und),
        deg AS (SELECT node, COUNT(*) deg FROM adj GROUP BY node),
        cn AS (SELECT a1.node p, a2.node q, COUNT(*) common
               FROM adj a1 JOIN adj a2
                 ON a1.nbr = a2.nbr AND a1.node < a2.node
               GROUP BY 1, 2 HAVING COUNT(*) >= {LINKPRED_MIN_COMMON}),
        cand AS (SELECT cn.* FROM cn ANTI JOIN und
                   ON cn.p = und.a AND cn.q = und.b)
        SELECT c.p, c.q, c.common,
               ROUND(c.common * 1.0 / (dp.deg + dq.deg - c.common), 4) jaccard
        FROM cand c JOIN deg dp ON c.p = dp.node JOIN deg dq ON c.q = dq.node
        ORDER BY p, q, common, jaccard"""


LP_ROUNDS = 3


def label_propagation(edges: DataFrame, rounds: int = LP_ROUNDS) -> DataFrame:
    """(node, community) — synchronous label propagation (Raghavan et
    al. 2007) over the undirected closure: every node starts as its
    own label; each round it adopts the most frequent label among its
    neighbors (ties → smallest label). Fixed ``rounds`` synchronous
    iterations make the result engine-independent (asynchronous LPA is
    order-dependent), so the identical computation unrolls into the
    DuckDB oracle.

    Scale shape per round: one equi-join of labels to the adjacency
    on the neighbor key + two map-side-combinable aggregates (label
    counts, per-node argmax) — node/label-keyed shuffles only, no
    windows over the corpus; the rounds run through :func:`fixpoint`
    like pagerank's."""
    adj = materialize(mirror(undirected(edges)))  # re-read every round

    def adopt(labels: DataFrame) -> DataFrame:
        nb = adj.join(
            labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
        ).select("node", "lbl")
        counts = nb.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        return (
            counts.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("lbl"))).alias("m"))
            .select("node", F.col("m.lbl").alias("lbl"))
        )

    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    labels = fixpoint(labels, adopt, rounds)
    return labels.select("node", F.col("lbl").alias("community"))


def g06_labelprop_communities(spark, sf_dir):
    """Label-propagation communities over the synthetic document link
    graph — oracled by the identical synchronous rounds unrolled as
    DuckDB CTEs."""
    d = load_table(spark, sf_dir, "documents")
    return label_propagation(doc_link_graph(d)).orderBy("node", "community")


def _lp_chain() -> tuple[str, str]:
    """The shared label-propagation CTE chain (graph build + LP_ROUNDS
    unrolled synchronous rounds) and the name of its final label CTE —
    used verbatim by BOTH the g06 oracle and the g14 modularity oracle
    so the two statements can never disagree about the partition."""
    rounds = ""
    prev = "l0"
    for i in range(1, LP_ROUNDS + 1):
        rounds += f""",
        n{i} AS (SELECT a.node, l.lbl, COUNT(*) c
                 FROM adj a JOIN {prev} l ON a.nbr = l.node GROUP BY 1, 2),
        l{i} AS (SELECT node, lbl FROM n{i}
                 QUALIFY ROW_NUMBER() OVER (PARTITION BY node
                                            ORDER BY c DESC, lbl) = 1)"""
        prev = f"l{i}"
    chain = f"""
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        und AS (SELECT DISTINCT least(src, dst) a, greatest(src, dst) b
                FROM edges WHERE src <> dst),
        adj AS (SELECT a node, b nbr FROM und UNION ALL SELECT b, a FROM und),
        l0 AS (SELECT DISTINCT node, node lbl FROM adj){rounds}"""
    return chain, prev


def _lp_oracle() -> str:
    chain, prev = _lp_chain()
    return f"""{chain}
        SELECT node, lbl community FROM {prev}
        ORDER BY node, community"""


REACH_DEPTH = 4
REACH_SRC = 0


def g07_reachability(spark, sf_dir):
    """Bounded-depth BFS distances from node 0 over the synthetic
    link graph, expressed as a RECURSIVE CTE — exercising Spark 4's
    recursive-CTE surface (SPARK-24497) end-to-end against DuckDB's
    recursive CTE running the IDENTICAL statement. Each recursion
    step plans as one equi-join of the frontier to the edge table +
    union; the closing MIN(dist) collapses multi-path duplicates.
    At corpus scale the production discipline is deduping the
    frontier INSIDE the recursion (GROUP BY per step) — with the
    bounded depth and degree ≤ 4 here the duplicate fan-out is
    negligible and the declared form is the exact oracle statement."""
    d = load_table(spark, sf_dir, "documents")
    doc_link_graph(d).createOrReplaceTempView("_g07_edges")
    return spark.sql(
        f"""
        WITH RECURSIVE reach(node, dist) AS (
            SELECT CAST({REACH_SRC} AS BIGINT) node, 0 dist
            UNION ALL
            SELECT e.dst, r.dist + 1
            FROM reach r JOIN _g07_edges e ON e.src = r.node
            WHERE r.dist < {REACH_DEPTH}
        )
        SELECT node, MIN(dist) AS dist FROM reach GROUP BY node
        ORDER BY node, dist"""
    )


def _reach_oracle() -> str:
    return f"""
        WITH RECURSIVE nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        e AS (SELECT src, dst FROM edges WHERE src <> dst),
        reach(node, dist) AS (
            SELECT CAST({REACH_SRC} AS BIGINT), 0
            UNION ALL
            SELECT e.dst, r.dist + 1
            FROM reach r JOIN e ON e.src = r.node
            WHERE r.dist < {REACH_DEPTH})
        SELECT node, MIN(dist) dist FROM reach GROUP BY node
        ORDER BY node, dist"""


# ------------------------------------------- bipartite projection
# user↔event_type co-engagement, projected onto the type side — the
# "items bought together" primitive. The projected side is the LOW-
# cardinality one, so pair fan-out per user is bounded by (#types
# choose 2); projecting onto the *user* side of a bipartite graph is
# the quadratic trap this operator deliberately avoids. Shape: one
# distinct on (user, type), a self-join keyed on user (bounded
# fan-out), one pair aggregate, two broadcast-sized type-count
# lookups. At 100 TB the distinct and self-join shuffle on user_id —
# high-cardinality, skew-diagnosable with v10.


def bipartite_projection(events: DataFrame) -> DataFrame:
    """(ta, tb, both_users, cosine_aff, jaccard_aff) over the
    user↔event_type bipartite graph."""
    ue = materialize(  # read three times: both join sides + counts
        events.select("user_id", "event_type")
        .distinct()
    )
    tc = ue.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ue.select("user_id", F.col("event_type").alias("ta"))
    b = ue.select("user_id", F.col("event_type").alias("tb"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("both_users"))
    )
    na = tc.select(F.col("event_type").alias("ta"), F.col("n").alias("na"))
    nb = tc.select(F.col("event_type").alias("tb"), F.col("n").alias("nb"))
    cos = F.col("both_users") / F.sqrt(F.col("na") * F.col("nb"))
    jac = F.col("both_users") / (F.col("na") + F.col("nb") - F.col("both_users"))
    return (
        pairs.join(F.broadcast(na), "ta")
        .join(F.broadcast(nb), "tb")
        .select(
            "ta",
            "tb",
            "both_users",
            stab(cos, 4).alias("cosine_aff"),
            stab(jac, 4).alias("jaccard_aff"),
        )
    )


def g08_bipartite_projection(spark, sf_dir):
    """Type-side projection of the user↔event_type bipartite graph —
    oracled by the identical computation in DuckDB."""
    e = load_table(spark, sf_dir, "events")
    return bipartite_projection(e).orderBy(
        "ta", "tb", "both_users", "cosine_aff", "jaccard_aff"
    )


def _bipartite_oracle() -> str:
    return """
        WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
        tc AS (SELECT event_type, COUNT(*) n FROM ue GROUP BY 1),
        pairs AS (SELECT a.event_type ta, b.event_type tb, COUNT(*) both_users
                  FROM ue a JOIN ue b
                    ON a.user_id = b.user_id AND a.event_type < b.event_type
                  GROUP BY 1, 2)
        SELECT ta, tb, both_users,
               ROUND(ROUND(both_users / sqrt(na.n * nb.n), 9) + 1e-12, 4) cosine_aff,
               ROUND(ROUND(both_users * 1.0 / (na.n + nb.n - both_users), 9)
                     + 1e-12, 4) jaccard_aff
        FROM pairs JOIN tc na ON ta = na.event_type
                   JOIN tc nb ON tb = nb.event_type
        ORDER BY ta, tb, both_users, cosine_aff, jaccard_aff"""


QUERIES = {
    "g01_pagerank": g01_pagerank,
    "g02_degree_stats": g02_degree_stats,
    "g03_triangle_count": g03_triangle_count,
    "g04_kcore": g04_kcore,
    "g05_link_prediction": g05_link_prediction,
    "g06_labelprop_communities": g06_labelprop_communities,
    "g07_reachability": g07_reachability,
    "g08_bipartite_projection": g08_bipartite_projection,
}
ORACLE_SQL = {
    "g01_pagerank": _pr_oracle(),
    "g02_degree_stats": _deg_oracle(),
    "g03_triangle_count": _tri_oracle(),
    "g04_kcore": _kcore_oracle(),
    "g05_link_prediction": _linkpred_oracle(),
    "g06_labelprop_communities": _lp_oracle(),
    "g07_reachability": _reach_oracle(),
    "g08_bipartite_projection": _bipartite_oracle(),
}


PPR_SEED_MOD = 25  # deterministic seed set: doc_id % 25 == 0


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMP,
) -> DataFrame:
    """Personalized PageRank — relevance to a SEED SET instead of
    global importance: the restart vector concentrates 1/|S| on each
    seed (teleport always returns to the seeds, and dangling mass
    redistributes to them, the standard PPR convention), so rank
    measures proximity to the trusted set. The graph-based
    data-selection primitive: seed with curated documents, keep the
    corpus ranked by PPR mass (TrustRank-style curation).

    Scale shape: the same round as :func:`pagerank` (one edge-keyed
    join + one aggregate per round, dangling as a 1-row aggregate);
    the restart vector is a node-keyed column, not a broadcast
    structure, so a million-seed set costs the same as one seed."""
    nodes = materialize(_node_set(edges))
    # |S| rides the seed table's checkpoint, which the restart join reads
    seed_in, size = materialize(
        seeds.select(F.col("seed").alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi"),
        {"n": F.count(F.lit(1))},
    )
    n_seeds = size["n"]
    if n_seeds == 0:  # no seeds in graph — all-zero ranks, not a crash
        return nodes.select("node", F.lit(0.0).alias("rank"))
    restart = materialize(
        nodes.join(seed_in.withColumn("is_seed", F.lit(True)), "node", "left")
        .select(
            "node",
            F.when(F.col("is_seed"), F.lit(1.0 / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("res"),
        )
    )
    return _pagerank(
        edges,
        restart,
        restart.select("node", F.col("res").alias("rank")),
        F.lit(1.0 - damping) * F.col("res"),
        F.col("dm") * F.col("res"),
        iters,
        damping,
    )


def g09_personalized_pagerank(spark, sf_dir):
    """PPR over the synthetic document link graph from the
    deterministic seed set ``doc_id % 25 == 0`` — oracled by the
    identical unrolled computation in DuckDB; ranks stabilized like
    g01 (ROUND(·,9)+1e-12 → 6 dp)."""
    d = load_table(spark, sf_dir, "documents")
    seeds = d.where(F.col("doc_id") % PPR_SEED_MOD == 0).select(
        F.col("doc_id").alias("seed")
    )
    ranks = personalized_pagerank(doc_link_graph(d), seeds)
    return ranks.select(
        "node",
        stab(F.col("rank")).alias("rank"),
    ).orderBy("node", "rank")


def _ppr_oracle() -> str:
    it = """
        recv{i} AS (SELECT e.dst node, SUM(r.rank * e.w) recv
                    FROM we e JOIN r{p} r ON e.src = r.node GROUP BY e.dst),
        dang{i} AS (SELECT COALESCE(SUM(rank), 0) dm FROM r{p}
                    WHERE node NOT IN (SELECT src FROM we)),
        r{i} AS (SELECT s.node,
                        (1 - {d}) * s.res + {d} * (COALESCE(v.recv, 0) + g.dm * s.res) rank
                 FROM res s CROSS JOIN dang{i} g
                 LEFT JOIN recv{i} v ON s.node = v.node)"""
    steps = ",".join(
        it.format(i=i, p=i - 1, d=PR_DAMP) for i in range(1, PR_ITERS + 1)
    )
    return f"""
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        e AS (SELECT src, dst FROM edges WHERE src <> dst),
        nodes AS (SELECT DISTINCT node FROM
                  (SELECT src node FROM e UNION ALL SELECT dst FROM e)),
        sd AS (SELECT DISTINCT doc_id node FROM documents
               WHERE doc_id % {PPR_SEED_MOD} = 0
                 AND doc_id IN (SELECT node FROM nodes)),
        ns AS (SELECT COUNT(*) * 1.0 n FROM sd),
        res AS (SELECT n.node,
                       CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END res
                FROM nodes n CROSS JOIN ns LEFT JOIN sd s ON n.node = s.node),
        deg AS (SELECT src, COUNT(*) c FROM e GROUP BY src),
        we AS (SELECT e.src, e.dst, 1.0 / d.c w FROM e JOIN deg d ON e.src = d.src),
        r0 AS (SELECT node, res rank FROM res),
        {steps}
        SELECT node, ROUND(ROUND(rank, 9) + 1e-12, 6) rank
        FROM r{PR_ITERS} ORDER BY node, rank"""


QUERIES["g09_personalized_pagerank"] = g09_personalized_pagerank
ORACLE_SQL["g09_personalized_pagerank"] = _ppr_oracle()


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, "Assortative
    mixing in networks"): the Pearson correlation of the degrees at
    the two ends of every edge, over the UNDIRECTED closure with each
    edge counted in both directions (the standard symmetric
    convention). r > 0 — hubs link to hubs; r < 0 — hubs link to
    leaves. One number per graph, reported with node/edge counts —
    the graph-quality metric next to g02's degree stats.

    Scale shape: dedup to undirected edges, mirror to both
    directions, one degree aggregate, two broadcast-able joins of the
    degree table back to the edge list, one corr() aggregate — no
    windows, no iteration. Float discipline: corr is sign-indefinite,
    so the q63 treatment applies — ROUND 6→4 dp with the 1e-9 guard
    AND a trailing + 0.0 to canonicalize IEEE -0.0."""
    bi = mirror(undirected(edges))
    deg = bi.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("node"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("nbr"), F.col("d").alias("dv"))
    paired = bi.join(du, "node").join(dv, "nbr")
    return paired.agg(
        F.countDistinct("node").alias("n_nodes"),
        (F.count(F.lit(1)) / F.lit(2)).cast("long").alias("n_edges"),
        (nudge(F.corr("du", "dv"), 4) + F.lit(0.0)).alias("assortativity"),
    )


def g10_assortativity(spark, sf_dir):
    """Degree assortativity of the synthetic document link graph —
    closed-form edges, so the oracle reconstructs the identical graph
    and the coefficient is engine-exact at 4 dp."""
    d = load_table(spark, sf_dir, "documents")
    return degree_assortativity(doc_link_graph(d)).orderBy(
        "n_nodes", "n_edges", "assortativity"
    )


QUERIES["g10_assortativity"] = g10_assortativity

ORACLE_SQL["g10_assortativity"] = """
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        e0 AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        und AS (SELECT DISTINCT LEAST(src, dst) a, GREATEST(src, dst) b
                FROM e0 WHERE src <> dst),
        bi AS (SELECT a u, b v FROM und UNION ALL SELECT b, a FROM und),
        deg AS (SELECT u, COUNT(*) d FROM bi GROUP BY u)
        SELECT COUNT(DISTINCT bi.u) n_nodes,
               CAST(COUNT(*) / 2 AS BIGINT) n_edges,
               ROUND(ROUND(corr(du.d, dv.d), 6) + 1e-9, 4) + 0.0 assortativity
        FROM bi JOIN deg du ON bi.u = du.u JOIN deg dv ON bi.v = dv.u
        ORDER BY n_nodes, n_edges, assortativity"""


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient (Watts-Strogatz 1998):
    cc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)) over the undirected
    closure — how close each node's neighborhood is to a clique, the
    standard local-density metric next to g03's raw triangle counts
    and g10's global assortativity. Nodes with deg < 2 are excluded
    (coefficient undefined); triangle-free nodes report 0.

    Scale shape: reuses the degree-oriented wedge join of
    :func:`triangle_counts` (fan-out Σ min-degree², the O(m^1.5)
    discipline) plus one degree aggregate and a left join — nothing
    new shuffles more than edge cardinality."""
    deg = mirror(undirected(edges)).groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    tri = triangle_counts(edges)
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            stab(
                F.lit(2.0)
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1))
            ).alias("cc"),
        )
    )


def g11_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficients of the synthetic document link
    graph — closed-form edges, engine-exact at 6 dp."""
    d = load_table(spark, sf_dir, "documents")
    return clustering_coefficient(doc_link_graph(d)).orderBy(
        "node", "deg", "n_triangles", "cc"
    )


QUERIES["g11_clustering_coefficient"] = g11_clustering_coefficient

ORACLE_SQL["g11_clustering_coefficient"] = """
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        und AS (SELECT DISTINCT least(src, dst) a, greatest(src, dst) b
                FROM edges WHERE src <> dst),
        deg AS (SELECT node, COUNT(*) deg FROM (
                    SELECT a node FROM und UNION ALL SELECT b FROM und)
                GROUP BY node),
        tri AS (SELECT e1.a x, e1.b y, e2.b z
                FROM und e1
                JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
        tcount AS (SELECT node, COUNT(*) n_triangles FROM (
                       SELECT unnest([x, y, z]) node FROM tri)
                   GROUP BY node)
        SELECT d.node, d.deg,
               CAST(COALESCE(t.n_triangles, 0) AS BIGINT) n_triangles,
               ROUND(ROUND(2.0 * COALESCE(t.n_triangles, 0)
                           / (d.deg * (d.deg - 1)), 9) + 1e-12, 6) cc
        FROM deg d LEFT JOIN tcount t ON d.node = t.node
        WHERE d.deg >= 2
        ORDER BY d.node, d.deg, n_triangles, cc"""


HARMONIC_DEPTH = 3


def harmonic_centrality(edges: DataFrame, depth: int = HARMONIC_DEPTH) -> DataFrame:
    """Bounded-depth harmonic centrality (Boldi & Vigna 2014, "Axioms
    for Centrality": h(v) = Σ_{u≠v} 1/d(u,v), the centrality that
    handles disconnected graphs where closeness can't) — truncated at
    ``depth`` hops, the standard large-graph practice (contributions
    beyond a few hops are negligible and exact all-pairs distances
    are infeasible).

    INTEGER-EXACT output: with depth 3 the per-pair contribution
    6/d ∈ {6, 3, 2}, so the reported score is ``harmonic_x6`` =
    6·h(v) as a BIGINT — no float summation order, no rounding
    discipline, full DuckDB oracle equality at the bit level by
    construction.

    Scale shape: hop k is ONE equi-join of the (src, dst, k-1) pair
    table to the edge table on the frontier node — pair cardinality
    is bounded by N·(out-degree)^depth, each hop shuffles on a node
    key; the closing MIN(dist) collapses multi-path duplicates; no
    per-source BFS, no all-pairs product."""
    e = edges.select("src", "dst").distinct()
    paths = e.withColumn("dist", F.lit(1))
    frontier = paths
    for k in range(2, depth + 1):
        frontier = (
            frontier.select(F.col("src"), F.col("dst").alias("mid"))
            .join(e.select(F.col("src").alias("mid"), "dst"), "mid")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
            .withColumn("dist", F.lit(k))
        )
        paths = paths.unionByName(frontier)
    sp = paths.groupBy("src", "dst").agg(F.min("dist").alias("d"))
    contrib = (
        F.when(F.col("d") == 1, F.lit(6))
        .when(F.col("d") == 2, F.lit(3))
        .otherwise(F.lit(2))
        .cast("long")
    )
    return sp.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum(contrib).alias("harmonic_x6"),
    )


def g12_harmonic_centrality(spark, sf_dir):
    """Depth-3 harmonic centrality of the synthetic document link
    graph — integer-exact, fully DuckDB-oracled."""
    d = load_table(spark, sf_dir, "documents")
    return harmonic_centrality(doc_link_graph(d)).orderBy(
        "node", "n_sources", "harmonic_x6"
    )


QUERIES["g12_harmonic_centrality"] = g12_harmonic_centrality

ORACLE_SQL["g12_harmonic_centrality"] = """
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
        p1 AS (SELECT src, dst, 1 d FROM e),
        p2 AS (SELECT DISTINCT a.src, b.dst, 2 d
               FROM e a JOIN e b ON a.dst = b.src WHERE a.src <> b.dst),
        p3 AS (SELECT DISTINCT a.src, b.dst, 3 d
               FROM (SELECT src, dst FROM p2) a JOIN e b ON a.dst = b.src
               WHERE a.src <> b.dst),
        sp AS (SELECT src, dst, MIN(d) d FROM (
                   SELECT * FROM p1 UNION ALL SELECT * FROM p2
                   UNION ALL SELECT * FROM p3) GROUP BY src, dst)
        SELECT dst node, COUNT(*) n_sources,
               CAST(SUM(CASE d WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END) AS BIGINT) harmonic_x6
        FROM sp GROUP BY dst
        ORDER BY node, n_sources, harmonic_x6"""


# ------------------------------------------- weighted shortest path
# Bounded-hop single-source cheapest path (Bellman–Ford, K relaxation
# rounds) over the synthetic link graph with closed-form integer edge
# weights w = 1 + (src + dst) % 5 — BIGINT-exact end to end. The
# engine runs the SCALABLE shape: per round one equi-join of the
# current distance table to the edge table + a MIN re-aggregate on
# the node key, so state stays node-cardinality (the frontier is
# deduped INSIDE the iteration — exactly the discipline g07's
# docstring prescribes for corpus scale, here actually implemented).
# The oracle is a deliberately DIFFERENT algorithm: a DuckDB
# recursive CTE enumerating every ≤K-hop path and closing with
# MIN(dist) — exponential in hops and fine at fixture degree 2, so
# engine/oracle agreement cross-checks two independent formulations.
# K rounds of relax = min cost over all paths with at most K edges.

G13_HOPS = 6


def g13_weighted_shortest_path(spark, sf_dir):
    """Bounded-hop Bellman–Ford distances from node 0; integer
    weights, BIGINT-exact; oracled by a recursive path-enumeration
    CTE (different algorithm, same answer)."""
    d = load_table(spark, sf_dir, "documents")
    edges = materialize(  # the K rounds re-join this table; one scan
        doc_link_graph(d).select(
            "src",
            "dst",
            (F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(5)))
            .cast("long")
            .alias("w"),
        )
    )

    def relax(dist: DataFrame) -> DataFrame:
        relaxed = dist.join(edges, F.col("node") == F.col("src")).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        return dist.unionByName(relaxed).groupBy("node").agg(F.min("dist").alias("dist"))

    dist = spark.createDataFrame(
        [(REACH_SRC, 0)], "node bigint, dist bigint"
    )
    return fixpoint(dist, relax, G13_HOPS).orderBy("node", "dist")


QUERIES["g13_weighted_shortest_path"] = g13_weighted_shortest_path

ORACLE_SQL["g13_weighted_shortest_path"] = f"""
        WITH RECURSIVE nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        e AS (SELECT src, dst, 1 + (src + dst) % 5 w
              FROM edges WHERE src <> dst),
        paths(node, dist, hops) AS (
            SELECT CAST({REACH_SRC} AS BIGINT), CAST(0 AS BIGINT), 0
            UNION ALL
            SELECT e.dst, p.dist + e.w, p.hops + 1
            FROM paths p JOIN e ON e.src = p.node
            WHERE p.hops < {G13_HOPS})
        SELECT node, CAST(MIN(dist) AS BIGINT) dist FROM paths
        GROUP BY node ORDER BY node, dist"""


# --------------------------------------------------- g14 modularity
# g06 produces a community partition; g14 AUDITS it — the design-curve
# discipline of d26/s23/s24 applied to the graph family. Newman
# modularity (Newman & Girvan 2004, "Finding and evaluating community
# structure in networks", Phys. Rev. E 69) decomposes as
#   Q = sum_c [ e_c / m  -  (D_c / 2m)^2 ]
# where e_c = intra-community edge count, D_c = total degree of the
# community's nodes, m = |edges|. Everything is exact BIGINT until the
# two divisions per output row, so the per-community contribution is
# engine-deterministic under the suite's 9->6 dp stab.


def modularity(edges: DataFrame) -> DataFrame:
    """Per-community modularity decomposition of the g06
    label-propagation partition: (community, n_nodes, intra_edges,
    deg_sum, q_contrib) with sum(q_contrib) = Newman's Q.

    Scale shape: the LP rounds are g06's cost (node/label-keyed
    shuffles); the audit itself adds one edge->label equi-join per
    endpoint (edge-keyed shuffles), one degree aggregate, and two
    community-keyed aggregates — no windows, no pair explosion. m
    rides in as a 1-row broadcast aggregate (never a cartesian). The
    undirected closure is recomputed from the closed-form edge
    projection rather than threaded out of ``label_propagation`` —
    one extra distinct over edge cardinality, the price of leaving
    g06's proven code path untouched."""
    und = materialize(undirected(edges))  # reused by m, intra, and the degree table
    adj = mirror(und)
    labels = label_propagation(edges)
    m1 = und.agg(F.count(F.lit(1)).alias("m"))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    la = labels.select(F.col("node").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("node").alias("b"), F.col("community").alias("cb"))
    intra = (
        und.join(la, "a")
        .join(lb, "b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    degc = (
        deg.join(labels, "node")
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("deg").alias("deg_sum"))
    )

    half = F.col("deg_sum") / (F.lit(2.0) * F.col("m"))
    return (
        degc.join(intra, "community", "left")
        .na.fill({"intra_edges": 0})
        .crossJoin(F.broadcast(m1))
        .select(
            "community",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("intra_edges").cast("long").alias("intra_edges"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            stab(F.col("intra_edges") / F.col("m") - half * half).alias(
                "q_contrib"
            ),
        )
    )


def g14_modularity(spark, sf_dir):
    """Modularity audit of g06's label-propagation communities over
    the synthetic document link graph — the oracle reuses g06's exact
    CTE chain (same partition by construction) and states the same
    e_c/m - (D_c/2m)^2 arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    return modularity(doc_link_graph(d)).orderBy(
        "community", "n_nodes", "intra_edges", "deg_sum", "q_contrib"
    )


def _modularity_oracle() -> str:
    chain, prev = _lp_chain()
    return f"""{chain},
        labels AS (SELECT node, lbl community FROM {prev}),
        m1 AS (SELECT COUNT(*) m FROM und),
        deg AS (SELECT node, COUNT(*) deg FROM adj GROUP BY node),
        intra AS (SELECT la.community community, COUNT(*) intra_edges
                  FROM und JOIN labels la ON und.a = la.node
                           JOIN labels lb ON und.b = lb.node
                  WHERE la.community = lb.community
                  GROUP BY 1),
        degc AS (SELECT l.community, COUNT(*) n_nodes, SUM(d.deg) deg_sum
                 FROM deg d JOIN labels l ON d.node = l.node
                 GROUP BY 1)
        SELECT dc.community,
               CAST(dc.n_nodes AS BIGINT) n_nodes,
               CAST(COALESCE(i.intra_edges, 0) AS BIGINT) intra_edges,
               CAST(dc.deg_sum AS BIGINT) deg_sum,
               ROUND(ROUND(COALESCE(i.intra_edges, 0) / CAST(m AS DOUBLE)
                           - (dc.deg_sum / (2.0 * m))
                             * (dc.deg_sum / (2.0 * m)), 9)
                     + 1e-12, 6) + 0.0 q_contrib
        FROM degc dc LEFT JOIN intra i USING (community) CROSS JOIN m1
        ORDER BY community, n_nodes, intra_edges, deg_sum, q_contrib"""


QUERIES["g14_modularity"] = g14_modularity
ORACLE_SQL["g14_modularity"] = _modularity_oracle()


# --------------------------------------------- edge embeddedness
# g03 counts triangles per NODE and g11 normalizes them to local
# clustering; the per-EDGE view is what a tie-strength audit reads:
# an edge's EMBEDDEDNESS is its number of common neighbors (=
# triangles through it), and an edge with embeddedness 0 is a LOCAL
# BRIDGE (Easley & Kleinberg, *Networks, Crowds, and Markets* §3.2 —
# removing it pushes its endpoints to distance > 2). In a curation
# graph, local bridges are the links that connect otherwise-disjoint
# duplicate neighborhoods — exactly the edges a cluster-merge step
# should re-verify before trusting.


def edge_embeddedness(edges: DataFrame) -> DataFrame:
    """Per undirected edge (a < b): endpoint degrees, embeddedness
    (common-neighbor count) and the local-bridge flag.

    Scale shape: the triangle set comes from the shared
    degree-oriented wedge join (`_triangle_triples`, fan-out bounded
    by Σ min-degree² — the g03 discipline); each triangle explodes to
    its 3 id-normalized edges and one edge-keyed aggregate + one
    edge-keyed left join later the report is edge-cardinality. All
    counts exact BIGINTs; no floats anywhere."""
    und, tri = _triangle_triples(edges)
    pair = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("x", "y").alias("a"),
                        F.greatest("x", "y").alias("b"),
                    ),
                    F.struct(
                        F.least("x", "z").alias("a"),
                        F.greatest("x", "z").alias("b"),
                    ),
                    F.struct(
                        F.least("y", "z").alias("a"),
                        F.greatest("y", "z").alias("b"),
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("emb"))
    )
    deg = mirror(und).groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    return (
        und.join(pair, ["a", "b"], "left")
        .join(deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            "a",
            "b",
            "deg_a",
            "deg_b",
            F.coalesce("emb", F.lit(0)).alias("embeddedness"),
            (F.coalesce("emb", F.lit(0)) == 0).alias("is_local_bridge"),
        )
    )


def g15_edge_embeddedness(spark, sf_dir):
    """Edge embeddedness / local bridges of the synthetic document
    link graph — closed-form edges, exact integer counts."""
    d = load_table(spark, sf_dir, "documents")
    return edge_embeddedness(doc_link_graph(d)).orderBy(
        "a", "b", "deg_a", "deg_b", "embeddedness", "is_local_bridge"
    )


QUERIES["g15_edge_embeddedness"] = g15_edge_embeddedness

ORACLE_SQL["g15_edge_embeddedness"] = """
        WITH nmax AS (SELECT MAX(doc_id) + 1 m FROM documents),
        edges AS (
            SELECT doc_id src, (doc_id * 7 + 1) % m dst FROM documents CROSS JOIN nmax
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 3) % m FROM documents CROSS JOIN nmax),
        und AS (SELECT DISTINCT least(src, dst) a, greatest(src, dst) b
                FROM edges WHERE src <> dst),
        tri AS (SELECT e1.a x, e1.b y, e2.b z
                FROM und e1
                JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
        tedge AS (
            SELECT least(x, y) a, greatest(x, y) b FROM tri
            UNION ALL SELECT least(x, z), greatest(x, z) FROM tri
            UNION ALL SELECT least(y, z), greatest(y, z) FROM tri),
        emb AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) emb
                FROM tedge GROUP BY a, b),
        nodes AS (SELECT a node FROM und UNION ALL SELECT b FROM und),
        deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) deg
                FROM nodes GROUP BY node)
        SELECT u.a, u.b, da.deg deg_a, db.deg deg_b,
               COALESCE(e.emb, 0) embeddedness,
               COALESCE(e.emb, 0) = 0 is_local_bridge
        FROM und u
        LEFT JOIN emb e ON u.a = e.a AND u.b = e.b
        JOIN deg da ON da.node = u.a
        JOIN deg db ON db.node = u.b
        ORDER BY u.a, u.b, deg_a, deg_b, embeddedness, is_local_bridge"""
