"""Iterative graph operators — connected components by min-label
propagation, driving near-duplicate CLUSTERING (the step a real
training-data dedup pipeline runs after pair detection: group
transitively-linked near-dups, keep one canonical doc per cluster).

This is the engine's genuinely ITERATIVE algorithm (builder brief:
"for genuinely non-SQL-expressible ops (... iterative algorithms)
omit the oracle_sql entry"): a driver loop over DataFrame joins with
convergence detection. Each iteration:

    msgs   = min neighbor label per vertex      (join + groupBy)
    labels = min(own label, best message)       (left join)

converging in O(diameter) iterations. `localCheckpoint` truncates
lineage each round so plans don't grow with iterations. At 100 TB
scale the same loop holds (labels/messages shuffle on vertex id).
Every caller's diameter is bounded below its `max_iter` (the reason
is a comment at each call site); past the bound the loop raises.
For adversarial diameters the known refinement is the large-star/
small-star algorithm (Kiveris et al., O(log^2 n) rounds), which this
API could swap in without changing callers.

Determinism: labels are vertex-id minima — no tie ambiguity at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load

MAX_ITER = 25


def connected_components(edges: DataFrame, max_iter: int = MAX_ITER) -> DataFrame:
    """edges: (a, b) undirected. Returns (id, component) with
    component = min vertex id reachable."""
    # checkpoint the edge list once: every iteration (and its
    # convergence count) re-reads it, and without this the FULL
    # upstream pipeline (e.g. the Jaccard pair computation) would
    # re-execute per iteration
    bidir = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint()
    )
    # Seed each label with the vertex's minimum direct neighbor instead
    # of its own id: one groupBy over the already-materialized edges
    # buys the whole first propagation round (and on star-shaped
    # near-dup clusters — the common case — convergence drops to a
    # single verifying iteration).
    labels = (
        bidir.groupBy(F.col("src").alias("id"))
        .agg(F.least(F.min("dst"), F.first("src")).alias("component"))
    ).localCheckpoint()
    for _ in range(max_iter):
        msgs = (
            bidir.join(labels, bidir.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("msg"))
        )
        new_best = F.least(
            F.col("component"), F.coalesce("msg", F.col("component"))
        )
        # carry the changed flag in-row: the convergence check is then
        # a filter-count on the (already materialized) checkpoint, not
        # an extra join against the previous labels
        # LAZY checkpoint: the convergence count right below is the
        # materializing action, so each round runs ONE job (eager
        # checkpointing spent a second job per round just writing the
        # same partitions the count then re-read)
        new_labels = (
            labels.join(msgs, "id", "left")
            .select(
                "id",
                new_best.alias("component"),
                (new_best < F.col("component")).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter("_changed").count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels
    # Returning unconverged labels would silently split components
    # (e.g. a >max_iter-hop chain) — fail loudly instead.
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        f"({changed} labels still changing); raise max_iter (diameter "
        "bound) or swap in large-star/small-star (module docstring)"
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: the top within-source n-gram-Jaccard pairs
    (dedup.dedup_ngram_jaccard) become edges; connected components
    assign each linked doc to a cluster keyed by its minimum doc_id —
    the keep-one-per-cluster dedup decision."""
    from .dedup import dedup_ngram_jaccard

    edges = dedup_ngram_jaccard(spark, sf_dir).select("a", "b")
    # converges: limit(20) pairs -> diameter <= 20 < MAX_ITER
    comps = connected_components(edges)
    return comps.select(
        F.col("component").alias("cluster_root"),
        F.col("id").alias("doc_id"),
        (F.col("id") == F.col("component")).alias("is_kept"),
    ).orderBy("cluster_root", "doc_id")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Weighted PageRank over directed edges (src, dst, weight) —
    fixed iteration count (deterministic), dangling mass redistributed
    uniformly. Each round is one join + one aggregate, shuffling on
    vertex id; localCheckpoint bounds lineage.

    edges with NULL or <= 0 weight are rejected (NULLs would silently
    drop rank mass — sum() skips them — and non-positive weights
    corrupt the out-weight normalization). The guard is folded into
    the out-weight aggregate below instead of spending a dedicated
    full-edge-scan job; NULLs are counted explicitly because min()
    skips them too."""
    # LAZY checkpoints throughout the setup: each still truncates
    # lineage and materializes exactly once, but INSIDE an action the
    # setup already runs (nodes.count, the weight guard, the first
    # round) instead of as its own blocking job — four eager setup
    # jobs were ~25% of od_pagerank at sf0.1
    e = edges.select(
        F.col("src"), F.col("dst"), F.col("weight").cast("double")
    ).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    # checkpointed: used by trans once and by the weight guard —
    # without this each consumer re-aggregates the edges
    out_w = e.groupBy("src").agg(
        F.sum("weight").alias("out_w"),
        F.min("weight").alias("_min_w"),
        (F.count(F.lit(1)) - F.count("weight")).alias("_null_w"),
    ).localCheckpoint(eager=False)
    if (
        out_w.filter((F.col("_null_w") > 0) | (F.col("_min_w") <= 0))
        .limit(1)
        .count()
        > 0
    ):
        raise ValueError(
            "pagerank requires strictly positive, non-NULL edge weights"
        )
    out_w = out_w.select("src", "out_w")
    # edge transition probability, computed once (materializes inside
    # round 1's dangling-mass action)
    trans = e.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("p")
    ).localCheckpoint(eager=False)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contrib = (
            trans.join(ranks, trans.src == ranks.id)
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("c"))
            # LAZY checkpoint at the loop's ONLY recursion point:
            # contrib feeds the dangling aggregate, the broadcast, and
            # the next round's ranks, so this single truncation bounds
            # the whole plan — and it is the only per-round
            # materialization. ranks itself is deliberately NOT
            # checkpointed: it is a narrow projection over
            # nodes x contrib(RDD), so checkpointing it only re-wrote
            # the same partitions a second time (measured at sf0.1:
            # dropping the ranks checkpoint took the 10-round loop
            # from 5.6 s to 3.5 s; r6 VERDICT ask #3). Pre-partitioning
            # trans on src was also tried and REJECTED: under AQE's
            # runtime coalescing the stored partitioning never lines
            # up with the ranks side, so it cost one extra build-time
            # shuffle and saved none (5.8 s vs 3.5 s).
            .localCheckpoint(eager=False)
        )
        # Dangling mass by conservation: per-src transition p sums to
        # 1, so sum(c) is exactly the rank held by non-dangling nodes
        # and total rank is 1 by construction — dm = 1 - sum(c). One
        # 1-row aggregate over the ALREADY-GROUPED contrib replaces
        # the previous ranks×out_w anti-join scan per iteration; as a
        # broadcast it executes INSIDE the final action's DAG (no
        # per-round driver round-trip — a per-round .first() literal
        # was measured slower, 4.4 s vs 3.5 s).
        dm = contrib.agg(
            (F.lit(1.0) - F.coalesce(F.sum("c"), F.lit(0.0))).alias("dm")
        )
        ranks = (
            nodes.join(contrib, nodes.id == contrib.dst, "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.col("dm") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
    return ranks


def od_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Station importance in the OD flow graph: PageRank over the
    inferred (o, d, flow) edges, top-20. The 'which stations anchor
    the network' analysis the reference's dashboard hints at but
    never computes."""
    from .od import infer_flows

    edges = infer_flows(spark, sf_dir, minutes=10).select(
        F.col("o").alias("src"), F.col("d").alias("dst"),
        F.col("flow").alias("weight"),
    )
    ranks = pagerank(edges)
    return (
        ranks.select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "id")
        .limit(20)
    )


QUERIES = {
    "dedup_clusters": dedup_clusters,
    # name kept so the registry is unchanged; same query and oracle
    "dedup_clusters_lss": dedup_clusters,
    "od_pagerank": od_pagerank,
}

# Round-3: both fixpoints graduated from rows-only to full DuckDB
# oracles. The iteration counts are FIXED/deterministic, so the
# fixpoints unroll as recursive CTEs: min-label propagation is a
# transitive-closure UNION recursion (terminates when no new
# (vertex, reachable-label) pair appears — same fixpoint the Spark
# loop's changed==0 check detects), and PageRank carries an iteration
# counter to stop after exactly `iterations` rounds. The pytest
# reimplementations (union-find, dict PageRank) remain as a third
# independent pin.


def _dedup_clusters_oracle() -> str:
    from .dedup import ORACLES as _dedup_oracles

    edges_sql = _dedup_oracles["dedup_ngram_jaccard"]
    return f"""
        WITH RECURSIVE
        edges AS ({edges_sql}),
        bidir AS (
            SELECT a AS src, b AS dst FROM edges
            UNION ALL
            SELECT b, a FROM edges
        ),
        reach(id, lbl) AS (
            SELECT src, src FROM bidir
            UNION
            SELECT e.dst, r.lbl
            FROM bidir e JOIN reach r ON e.src = r.id
        ),
        comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
        SELECT component AS cluster_root, id AS doc_id,
               id = component AS is_kept
        FROM comp
        ORDER BY cluster_root, doc_id
    """


def _od_pagerank_oracle(damping: float = 0.85, iterations: int = 10) -> str:
    from .od import FLOWS_CTE_SQL

    # the rank-update expression mirrors pagerank()'s column algebra
    # op-for-op; flows/out-weights are integer-valued (exact in double
    # regardless of summation order), so the only float noise is the
    # contribution sum — absorbed by the shared round(rank, 6).
    return f"""
        WITH RECURSIVE {FLOWS_CTE_SQL},
        nodes AS MATERIALIZED (
            SELECT DISTINCT id FROM (
                SELECT o AS id FROM flows
                UNION ALL
                SELECT d FROM flows)
        ),
        nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        outw AS MATERIALIZED (
            SELECT o AS src, CAST(sum(flow) AS DOUBLE) AS out_w
            FROM flows GROUP BY o
        ),
        trans AS MATERIALIZED (
            SELECT f.o AS src, f.d AS dst,
                   CAST(f.flow AS DOUBLE) / w.out_w AS p
            FROM flows f JOIN outw w ON f.o = w.src
        ),
        pr(iter, id, rank) AS (
            SELECT 0, id, 1.0 / (SELECT n FROM nn) FROM nodes
            UNION ALL
            (
                WITH contrib AS (
                    SELECT t.dst AS id, sum(t.p * p2.rank) AS c
                    FROM trans t JOIN pr p2 ON t.src = p2.id
                    GROUP BY t.dst
                ),
                it AS (SELECT max(iter) AS i FROM pr),
                dang AS (
                    SELECT 1.0 - coalesce(sum(c), 0.0) AS dm FROM contrib
                )
                SELECT it.i + 1, n.id,
                       (1.0 - {damping}) / (SELECT n FROM nn)
                       + {damping} * (coalesce(c.c, 0.0)
                                      + dang.dm / (SELECT n FROM nn))
                FROM nodes n
                LEFT JOIN contrib c ON n.id = c.id
                CROSS JOIN dang CROSS JOIN it
                WHERE it.i < {iterations}
            )
        )
        SELECT id, round(rank, 6) AS rank
        FROM pr WHERE iter = {iterations}
        ORDER BY rank DESC, id
        LIMIT 20
    """


ORACLES: dict[str, str] = {
    "dedup_clusters": _dedup_clusters_oracle(),
    "dedup_clusters_lss": _dedup_clusters_oracle(),
    "od_pagerank": _od_pagerank_oracle(),
}


def od_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the OD
    flow graph — the graph-analytics shape (community density) the
    CC/PageRank pair didn\'t cover.

    Scale shape: DEGREE-ORIENTED enumeration. Undirected simple
    edges orient from the (degree, id)-smaller endpoint to the
    larger, making the graph a DAG whose out-degree is bounded by
    O(sqrt(m)) REGARDLESS of degree skew (the id-oriented textbook
    join blows up on hub nodes: a station with degree k contributes
    k^2 wedge candidates; degree orientation caps every node\'s
    wedge fan-out at its arboricity-bounded out-degree). Wedges =
    out-edges self-joined on their source, closed by one hash join
    back against the oriented edge set; counts explode 3 ways and
    aggregate per node. The clustering coefficient is EXACT:
    2*tri / (deg*(deg-1)) through the pure-bigint half-up.

    Reference analog: none (the reference never computes graph
    density); extends graph.py\'s inventory the same way PageRank
    did."""
    from ..functions.exact import halfup_ratio_sql
    from .od import infer_flows

    flows = infer_flows(spark, sf_dir, minutes=10)
    edges = (
        flows.filter(F.col("o") != F.col("d"))
        .select(
            F.least("o", "d").alias("u"), F.greatest("o", "d").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.select(F.col("u").alias("id"))
        .unionAll(edges.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )
    # orient by (degree, id): src = smaller endpoint in that order,
    # and CARRY the destination's (degree, id) key so wedge pairs can
    # order by the SAME total order — then the closing edge of a
    # wedge (b <ord c) is oriented b->c BY CONSTRUCTION and the
    # closing probe is a pure EQUI join (an either-direction OR
    # condition would force a nested-loop join — the scale killer)
    du = deg.select(F.col("id").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("dv"))
    lower_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_u, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lower_u, F.col("dv")).otherwise(F.col("du")).alias(
                "ddeg"
            ),
        )
    ).localCheckpoint(eager=False)
    w1 = oriented.select(
        "src", F.col("dst").alias("b"), F.col("ddeg").alias("bd")
    )
    w2 = oriented.select(
        "src", F.col("dst").alias("c"), F.col("ddeg").alias("cd")
    )
    wedges = w1.join(w2, "src").filter(
        (F.col("bd") < F.col("cd"))
        | ((F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c")))
    )
    closed = wedges.join(
        oriented.select(
            F.col("src").alias("b"), F.col("dst").alias("c")
        ),
        ["b", "c"],
    ).select(F.col("src").alias("a"), "b", "c")
    per_node = (
        closed.select(
            F.explode(F.array("a", "b", "c")).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        F.expr(
            halfup_ratio_sql(
                "n_triangles * 2", "degree * (degree - 1)", 6, "spark"
            )
        ),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(per_node, "id", "left")
        .fillna({"n_triangles": 0})
        .select(
            "id",
            "degree",
            "n_triangles",
            coeff.alias("clustering_coeff"),
        )
        .orderBy(F.desc("n_triangles"), "id")
    )


QUERIES["od_triangles"] = od_triangles


def _od_triangles_oracle() -> str:
    from ..functions.exact import halfup_ratio_sql
    from .od import FLOWS_CTE_SQL

    coeff = halfup_ratio_sql(
        "coalesce(n_triangles, 0) * 2", "degree * (degree - 1)", 6, "duck"
    )
    return f"""
        WITH RECURSIVE {FLOWS_CTE_SQL},
        edges AS MATERIALIZED (
            SELECT DISTINCT least(o, d) AS u, greatest(o, d) AS v
            FROM flows WHERE o <> d
        ),
        deg AS MATERIALIZED (
            SELECT id, count(*) AS degree FROM (
                SELECT u AS id FROM edges
                UNION ALL SELECT v FROM edges)
            GROUP BY id
        ),
        oriented AS MATERIALIZED (
            SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                        THEN e.u ELSE e.v END AS src,
                   CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                        THEN e.v ELSE e.u END AS dst,
                   CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                        THEN dv.degree ELSE du.degree END AS ddeg
            FROM edges e
            JOIN deg du ON e.u = du.id
            JOIN deg dv ON e.v = dv.id
        ),
        tri AS (
            -- wedge pair ordered by the SAME (degree, id) key as the
            -- orientation, so the closing edge is exactly b->c
            SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
            FROM oriented w1
            JOIN oriented w2
              ON w1.src = w2.src
             AND (w1.ddeg, w1.dst) < (w2.ddeg, w2.dst)
            JOIN oriented cl
              ON cl.src = w1.dst AND cl.dst = w2.dst
        ),
        per_node AS (
            SELECT id, count(*) AS n_triangles FROM (
                SELECT a AS id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri)
            GROUP BY id
        )
        SELECT d.id AS id, d.degree AS degree,
               coalesce(n_triangles, 0) AS n_triangles,
               CASE WHEN d.degree >= 2 THEN {coeff}
                    ELSE CAST(0 AS DOUBLE) END AS clustering_coeff
        FROM deg d LEFT JOIN per_node p ON d.id = p.id
        ORDER BY n_triangles DESC, d.id
    """


ORACLES["od_triangles"] = _od_triangles_oracle()


#: strong-flow backbone: top out-edges kept per station
BACKBONE_TOPK = 3

#: BFS hop cap — fixed, so the Spark loop has a bounded plan and the
#: recursive oracle has a finite frontier
REACH_MAX_HOPS = 6


def od_reach_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop reachability (BFS min-hop distance) from the
    busiest station over the STRONG-FLOW BACKBONE — the top-
    BACKBONE_TOPK outgoing edges per station by flow.

    The raw OD graph is near-complete (mean out-degree ~19 at
    sf0.01), making unweighted distance trivially <=2; the backbone
    is the standard sparsification (keep each node's strongest
    edges) under which hop distance measures how traffic actually
    chains between hubs. Reference analog: none — the reference's
    OD page (`streamlit_app.py:242`) renders single edges only.

    Scale shape: Pregel-style frontier expansion — each of the
    REACH_MAX_HOPS rounds is ONE equi join (frontier x backbone,
    shuffled on the station key) plus ONE anti join against the
    settled set, both lineage-truncated by a lazy localCheckpoint,
    so the plan depth is constant in rounds and the per-round cost
    tracks the frontier, not the graph. The backbone itself is a
    per-key top-k window (rank over flow), out-degree-capped, so
    frontier fan-out is bounded by BACKBONE_TOPK regardless of hub
    skew. No driver-side convergence probe: the hop cap is fixed,
    and an exhausted frontier makes the remaining rounds empty
    joins (cost ~0) rather than a .count() round-trip per level.

    Determinism: the seed is (max total outflow, min id); backbone
    ties break by (flow DESC, d ASC); hops are set-wise minima."""
    from .od import infer_flows

    flows = infer_flows(spark, sf_dir, minutes=10).filter(
        F.col("o") != F.col("d")
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("o").orderBy(F.desc("flow"), F.asc("d"))
    )
    edges = (
        flows.withColumn("rn", rn)
        .filter(F.col("rn") <= BACKBONE_TOPK)
        .select("o", "d")
        .localCheckpoint(eager=False)
    )
    seed = (
        flows.groupBy("o")
        .agg(F.sum("flow").alias("t"))
        .orderBy(F.desc("t"), F.asc("o"))
        .limit(1)
        .select(F.col("o").alias("station"), F.lit(0).alias("hops"))
    )
    dist = seed.localCheckpoint(eager=False)
    frontier = dist
    for i in range(1, REACH_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier["station"] == edges["o"])
            .select(F.col("d").alias("station"))
            .distinct()
            .join(dist, "station", "left_anti")
            .withColumn("hops", F.lit(i))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return dist.orderBy("hops", "station")


QUERIES["od_reach_hops"] = od_reach_hops


def _od_reach_hops_oracle() -> str:
    from .od import FLOWS_CTE_SQL

    return f"""
        WITH RECURSIVE {FLOWS_CTE_SQL},
        e AS MATERIALIZED (
            SELECT o, d FROM (
                SELECT o, d, row_number() OVER (
                    PARTITION BY o ORDER BY flow DESC, d
                ) AS rn
                FROM flows WHERE o <> d
            ) WHERE rn <= {BACKBONE_TOPK}
        ),
        seed AS MATERIALIZED (
            SELECT o AS station FROM flows WHERE o <> d
            GROUP BY o ORDER BY sum(flow) DESC, o LIMIT 1
        ),
        reach(station, hops) AS (
            SELECT station, 0 FROM seed
            UNION
            SELECT e.d, r.hops + 1
            FROM reach r JOIN e ON e.o = r.station
            WHERE r.hops < {REACH_MAX_HOPS}
        )
        SELECT station, CAST(min(hops) AS INT) AS hops
        FROM reach GROUP BY station
        ORDER BY hops, station
    """


ORACLES["od_reach_hops"] = _od_reach_hops_oracle()


#: k-core threshold percentile of the degree distribution (corpus-
#: scaled: a fixed k is degenerate — the OD graph's density grows
#: with SF, so p5 keeps the peel non-trivial at every scale) and the
#: fixed unroll bound (measured convergence <= 5 rounds at every SF;
#: the Spark loop ASSERTS the fixpoint, the oracle's extra rounds
#: are no-ops by monotonicity)
KCORE_PCT = 5
KCORE_MAX_ROUNDS = 7


def od_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the undirected OD graph at the
    corpus-scaled threshold k = p{KCORE_PCT} of the initial degree
    distribution: iteratively peel nodes with degree < k until the
    fixpoint; emit the surviving core's per-node degree.

    The fourth iterative graph algorithm (CC, PageRank, BFS):
    peeling is the one whose per-round work SHRINKS — each
    round is one degree aggregate + two semi joins against the
    survivors, all on the previous round's (checkpointed) edge set.
    The loop runs a FIXED KCORE_MAX_ROUNDS (no per-round driver
    probe — the pagerank discipline) and asserts convergence with
    ONE post-loop peel; the oracle unrolls the same bound inside a
    recursive CTE whose extra rounds are no-ops (peeling is
    monotone). k itself is the exact integer p{KCORE_PCT} order
    statistic of the degree histogram (ceil-rank integer math).

    Reference analog: none — completes graph.py's inventory with
    the standard community-density pruning primitive.
    """
    from .od import infer_flows

    flows = infer_flows(spark, sf_dir, minutes=10)
    edges = (
        flows.filter(F.col("o") != F.col("d"))
        .select(
            F.least("o", "d").alias("u"), F.greatest("o", "d").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _deg(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("id"))
            .unionAll(e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("dg"))
        )

    deg0 = _deg(edges)
    from pyspark.sql import Window

    # k = exact integer p{KCORE_PCT} order statistic, computed over
    # the degree HISTOGRAM (bounded by distinct degree values), never
    # a per-vertex global window: the vertex at ceil-rank R in
    # (dg, id) order has the minimum dg whose cumulative histogram
    # count reaches R, so the two forms are identical — but the
    # histogram survives a user-keyed graph where a vertex-global
    # total order would single-partition the vertex set (the
    # stats.py robust_outliers / profile.py idiom).
    hist = deg0.groupBy("dg").agg(F.count(F.lit(1)).alias("cnt"))
    tot = hist.agg(F.sum("cnt").alias("tot"))
    kval = (
        hist.withColumn("cum", F.sum("cnt").over(Window.orderBy("dg")))
        .crossJoin(F.broadcast(tot))
        .where(F.expr(f"cum >= ({KCORE_PCT} * tot + 99) div 100"))
        .agg(F.min("dg").alias("k"))
    ).localCheckpoint(eager=False)

    def _peel(e: DataFrame) -> DataFrame:
        live = (
            _deg(e)
            .crossJoin(F.broadcast(kval))
            .where(F.col("dg") >= F.col("k"))
            .select("id")
        )
        return (
            e.join(
                live.withColumnRenamed("id", "u"), "u", "left_semi"
            ).join(live.withColumnRenamed("id", "v"), "v", "left_semi")
        )

    for _ in range(KCORE_MAX_ROUNDS):
        edges = _peel(edges).localCheckpoint(eager=False)
    n = edges.count()
    assert _peel(edges).count() == n, (
        f"k-core failed to converge within {KCORE_MAX_ROUNDS} rounds"
    )
    return (
        _deg(edges)
        .crossJoin(F.broadcast(kval))
        .select("id", F.col("dg").alias("core_degree"), "k")
        .orderBy("id")
    )


QUERIES["od_kcore"] = od_kcore


def _od_kcore_oracle() -> str:
    from .od import FLOWS_CTE_SQL

    return f"""
        WITH RECURSIVE {FLOWS_CTE_SQL},
        e AS MATERIALIZED (
            SELECT DISTINCT least(o, d) AS u, greatest(o, d) AS v
            FROM flows WHERE o <> d
        ),
        deg0 AS (
            SELECT id, count(*) AS dg FROM (
                SELECT u AS id FROM e UNION ALL SELECT v FROM e)
            GROUP BY id
        ),
        kval AS MATERIALIZED (
            SELECT CAST(min(dg) AS BIGINT) AS k FROM (
                SELECT dg,
                       row_number() OVER (ORDER BY dg, id) AS cum,
                       count(*) OVER () AS kk
                FROM deg0
            ) WHERE cum >= ({KCORE_PCT} * kk + 99) // 100
        ),
        core(iter, u, v) AS (
            SELECT 0, u, v FROM e
            UNION ALL
            (
                WITH it AS (SELECT max(iter) AS i FROM core),
                live AS (
                    SELECT id FROM (
                        SELECT u AS id FROM core
                        UNION ALL SELECT v FROM core)
                    GROUP BY id
                    HAVING count(*) >= (SELECT k FROM kval)
                )
                SELECT it.i + 1, c.u, c.v
                FROM core c, it
                WHERE it.i < {KCORE_MAX_ROUNDS}
                  AND c.u IN (SELECT id FROM live)
                  AND c.v IN (SELECT id FROM live)
            )
        ),
        final AS (
            SELECT u, v FROM core WHERE iter = {KCORE_MAX_ROUNDS}
        )
        SELECT id, count(*) AS core_degree,
               (SELECT k FROM kval) AS k
        FROM (SELECT u AS id FROM final UNION ALL SELECT v FROM final)
        GROUP BY id
        ORDER BY id
    """


ORACLES["od_kcore"] = _od_kcore_oracle()

#: inverse-flow friction scale: edge cost = FRICTION div flow, an
#: exact positive-integer division both engines truncate identically
SP_FRICTION = 1_000_000

#: Bellman-Ford unroll bound OVER THE SQUARED BACKBONE (each round
#: covers 2 original hops). Measured hop-convergence on the top-3
#: backbone: 4 rounds at sf0.001, 9 at sf0.01, 13 at sf0.1 — ~+4 per
#: data decade (the backbone diameter grows logarithmically), so 12
#: squared rounds = 24 hops cover ~sf100 with margin while paying
#: half the per-round scheduling overhead. The Spark loop ASSERTS
#: the fixpoint (loud failure, never a silent wrong answer); the
#: oracle's extra rounds are no-ops by monotonicity of min().
SP_MAX_ROUNDS = 12


def od_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths from the busiest
    station over the strong-flow backbone (`od_reach_hops`'s graph),
    with integer edge cost = SP_FRICTION div flow — strong flows are
    cheap, weak ones expensive — so the distance measures traffic
    FRICTION where `od_reach_hops` measures hops: the two disagree
    exactly where a 2-hop chain of heavy flows beats a direct trickle.

    Distributed Bellman-Ford (the Pregel form) over the MIN-PLUS
    SQUARED backbone: one self-join builds the 2-hop closure (edge
    count stays bounded — out-degree <= BACKBONE_TOPK + TOPK^2 = 12
    per node by construction), so every round covers TWO original
    hops and the unroll halves. Each of the SP_MAX_ROUNDS rounds is
    ONE equi join (dist x closure, shuffled on the station key) +
    ONE min-aggregate, lineage-truncated by a lazy localCheckpoint,
    so the plan depth is constant in rounds and per-round cost
    tracks the reachable set. No per-round driver probe; ONE
    post-loop relaxation asserts convergence (the kcore
    discipline). Costs are exact integers (<= 2 * rounds *
    SP_FRICTION, no overflow anywhere), so min() ties are
    value-identical and the result is deterministic without
    tiebreaks.

    Reference analog: none — completes the graph inventory (CC,
    PageRank, triangles, BFS, k-core) with the weighted-distance
    primitive.
    """
    from .od import infer_flows

    flows = infer_flows(spark, sf_dir, minutes=10).filter(
        F.col("o") != F.col("d")
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("o").orderBy(F.desc("flow"), F.asc("d"))
    )
    edges = (
        flows.withColumn("rn", rn)
        .filter(F.col("rn") <= BACKBONE_TOPK)
        .select(
            F.col("o").alias("eo"),
            F.col("d").alias("ed"),
            F.expr(f"{SP_FRICTION} div flow").alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    # min-plus square: shortest cost using <= 2 backbone edges.
    # Renamed sides — the self-join alias trap is real.
    a = edges.select(
        F.col("eo").alias("ao"), F.col("ed").alias("am"), F.col("w").alias("aw")
    )
    b = edges.select(
        F.col("eo").alias("bm"), F.col("ed").alias("bd"), F.col("w").alias("bw")
    )
    two_hop = (
        a.join(b, F.col("am") == F.col("bm"))
        .where(F.col("ao") != F.col("bd"))
        .select(
            F.col("ao").alias("eo"),
            F.col("bd").alias("ed"),
            (F.col("aw") + F.col("bw")).alias("w"),
        )
    )
    # no repartition("eo") before the checkpoint: the checkpointed
    # scan reports UnknownPartitioning, so each round's relax join
    # re-exchanges edges on eo either way; a pre-repartition only
    # added one REPARTITION_BY_COL exchange and one job
    edges = (
        edges.unionAll(two_hop)
        .groupBy("eo", "ed")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    dist = (
        flows.groupBy("o")
        .agg(F.sum("flow").alias("t"))
        .orderBy(F.desc("t"), F.asc("o"))
        .limit(1)
        .select(
            F.col("o").alias("station"),
            F.lit(0).cast("long").alias("cost"),
        )
        .localCheckpoint(eager=False)
    )

    def _relax(dd: DataFrame) -> DataFrame:
        step = dd.join(edges, dd["station"] == edges["eo"]).select(
            F.col("ed").alias("station"),
            (F.col("cost") + F.col("w")).alias("cost"),
        )
        return (
            dd.unionAll(step)
            .groupBy("station")
            .agg(F.min("cost").alias("cost"))
        )

    # checkpoint every SECOND round: lineage depth stays constant (two
    # rounds) while half the materialization barriers disappear; the
    # round COUNT is untouched (it is a correctness parameter asserted
    # by the fixpoint check below). SP_MAX_ROUNDS is even, so the
    # final round is always a checkpoint boundary.
    for r in range(SP_MAX_ROUNDS):
        dist = _relax(dist)
        if r % 2 == 1:
            dist = dist.localCheckpoint(eager=False)
    # fixpoint check: one more relaxation must change nothing —
    # per-side RENAMES before the join (relaxed shares lineage with
    # dist, the classic self-join alias misresolution trap)
    relaxed = _relax(dist).select(
        F.col("station").alias("rs"), F.col("cost").alias("rc")
    )
    prev = dist.select(
        F.col("station").alias("s2"), F.col("cost").alias("c2")
    )
    n_changed = (
        relaxed.join(prev, F.col("rs") == F.col("s2"), "full_outer")
        .where(
            F.col("rs").isNull()
            | F.col("s2").isNull()
            | (F.col("rc") != F.col("c2"))
        )
        .count()
    )
    assert n_changed == 0, (
        f"Bellman-Ford failed to converge within {SP_MAX_ROUNDS} rounds"
    )
    return dist.orderBy("cost", "station")


QUERIES["od_shortest_path"] = od_shortest_path


def _od_shortest_path_oracle() -> str:
    from .od import FLOWS_CTE_SQL

    return f"""
        WITH RECURSIVE {FLOWS_CTE_SQL},
        e1 AS MATERIALIZED (
            SELECT o AS eo, d AS ed, {SP_FRICTION} // flow AS w
            FROM (
                SELECT o, d, flow, row_number() OVER (
                    PARTITION BY o ORDER BY flow DESC, d
                ) AS rn
                FROM flows WHERE o <> d
            ) WHERE rn <= {BACKBONE_TOPK}
        ),
        e AS MATERIALIZED (
            SELECT eo, ed, min(w) AS w FROM (
                SELECT eo, ed, w FROM e1
                UNION ALL
                SELECT a.eo, b.ed, a.w + b.w
                FROM e1 a JOIN e1 b ON a.ed = b.eo
                WHERE a.eo <> b.ed
            ) GROUP BY eo, ed
        ),
        seed AS MATERIALIZED (
            SELECT o AS station FROM flows WHERE o <> d
            GROUP BY o ORDER BY sum(flow) DESC, o LIMIT 1
        ),
        bf(iter, station, cost) AS (
            SELECT 0, station, CAST(0 AS BIGINT) FROM seed
            UNION ALL
            (
                WITH it AS (SELECT max(iter) AS i FROM bf)
                SELECT it.i + 1, station, min(cost)
                FROM (
                    SELECT station, cost FROM bf
                    UNION ALL
                    SELECT e.ed, b.cost + e.w
                    FROM bf b JOIN e ON e.eo = b.station
                ), it
                WHERE it.i < {SP_MAX_ROUNDS}
                GROUP BY it.i, station
            )
        )
        SELECT station, cost FROM bf
        WHERE iter = {SP_MAX_ROUNDS}
        ORDER BY cost, station
    """


ORACLES["od_shortest_path"] = _od_shortest_path_oracle()


# -------------------------------------------- link prediction

#: per-node neighbor-list cap for the wedge join (top edges by
#: weight): bounds every node's wedge fan-out at CAP^2 regardless of
#: hub in-degree skew — the fuzzy.py block-cap discipline
LP_NEIGHBOR_CAP = 16

#: Adamic-Adar quantization: one micro-unit round of 1e6/ln(deg_w)
#: per NODE (deg_w is an exact integer, so both engines evaluate the
#: identical IEEE divide/ln — the bm25 idf discipline)
LP_UNIT = 1_000_000

#: ranked head emitted
LP_TOPK = 20

_AA_CONTRIB = (
    f"CAST(round(CAST({LP_UNIT} AS DOUBLE)"
    " / ln(CAST(deg AS DOUBLE))) AS BIGINT)"
)


def od_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors + Adamic-Adar link prediction over the
    strong-flow backbone (`od_reach_hops`'s graph, undirected): the
    top-LP_TOPK station pairs that are NOT connected yet share the
    most (rarity-weighted) neighbors — "which route should exist
    next?", the candidate generator behind network-expansion
    planning and the standard missing-link benchmark.

    AA(a,b) = sum over common neighbors w of 1/ln(deg(w)) — a hub
    neighbor says little (everyone routes through it), a low-degree
    shared neighbor is strong evidence. deg(w) >= 2 for any common
    neighbor by construction, so ln never vanishes. The per-node
    contribution is quantized ONCE to integer LP_UNIT-ths; pair
    scores are exact integer sums of those quanta (partition-order
    invariant), ranked on (aa, cn, pair) — fully deterministic.

    Scale shape: backbone out-degree is BACKBONE_TOPK by
    construction, but undirected degree is unbounded under hub skew
    (in-edges), so adjacency lists are capped at the top-
    LP_NEIGHBOR_CAP neighbors by (weight, neighbor) — a per-key
    window over keys with bounded fan-in cost, after which every
    node's wedge fan-out is <= CAP^2 (the capped-block discipline of
    fuzzy.py — never all-pairs). The wedge self-join shuffles the
    capped adjacency on its node key; existing edges leave via one
    broadcast-sized anti join; TakeOrderedAndProject bounds the head.
    """
    from .od import infer_flows

    flows = infer_flows(spark, sf_dir, minutes=10).filter(
        F.col("o") != F.col("d")
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("o").orderBy(F.desc("flow"), F.asc("d"))
    )
    bb = (
        flows.withColumn("rn", rn)
        .filter(F.col("rn") <= BACKBONE_TOPK)
        .select("o", "d", "flow")
    )
    und = (
        bb.select(
            F.least("o", "d").alias("u"),
            F.greatest("o", "d").alias("v"),
            "flow",
        )
        .groupBy("u", "v")
        .agg(F.max("flow").alias("w"))
        .localCheckpoint(eager=False)
    )
    adj = und.select(
        F.col("u").alias("node"), F.col("v").alias("nbr"), "w"
    ).unionAll(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"), "w")
    )
    rk = F.row_number().over(
        Window.partitionBy("node").orderBy(F.desc("w"), F.asc("nbr"))
    )
    capped = (
        adj.withColumn("rk", rk)
        .filter(F.col("rk") <= LP_NEIGHBOR_CAP)
        .select("node", "nbr")
        .localCheckpoint(eager=False)
    )
    # deg-1 nodes cannot be a COMMON neighbor (no wedge exists), and
    # dropping them keeps ln(deg) away from ln(1) = 0 in both engines
    deg = (
        capped.groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= 2)
    )
    contrib = capped.join(deg, "node").selectExpr(
        "node", "nbr", f"{_AA_CONTRIB} AS aa_w"
    )
    left = contrib.select("node", F.col("nbr").alias("s1"), "aa_w")
    right = contrib.select("node", F.col("nbr").alias("s2"))
    pairs = (
        left.join(right, "node")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("aa_w").alias("aa_unats"),
        )
    )
    return (
        pairs.join(
            und.select(F.col("u").alias("s1"), F.col("v").alias("s2")),
            ["s1", "s2"],
            "left_anti",
        )
        .selectExpr(
            "s1 AS station_a",
            "s2 AS station_b",
            "common_neighbors",
            "aa_unats",
            f"CAST(aa_unats AS DOUBLE) / CAST({LP_UNIT} AS DOUBLE)"
            " AS aa_score",
        )
        .orderBy(
            F.desc("aa_unats"),
            F.desc("common_neighbors"),
            "station_a",
            "station_b",
        )
        .limit(LP_TOPK)
    )


QUERIES["od_link_prediction"] = od_link_prediction


def _od_link_prediction_oracle() -> str:
    from .od import FLOWS_CTE_SQL

    return f"""
        WITH RECURSIVE {FLOWS_CTE_SQL},
        bb AS MATERIALIZED (
            SELECT o, d, flow FROM (
                SELECT o, d, flow, row_number() OVER (
                    PARTITION BY o ORDER BY flow DESC, d
                ) AS rn
                FROM flows WHERE o <> d
            ) WHERE rn <= {BACKBONE_TOPK}
        ),
        und AS MATERIALIZED (
            SELECT least(o, d) AS u, greatest(o, d) AS v,
                   max(flow) AS w
            FROM bb GROUP BY 1, 2
        ),
        adj AS (
            SELECT u AS node, v AS nbr, w FROM und
            UNION ALL
            SELECT v AS node, u AS nbr, w FROM und
        ),
        capped AS MATERIALIZED (
            SELECT node, nbr FROM (
                SELECT node, nbr, row_number() OVER (
                    PARTITION BY node ORDER BY w DESC, nbr
                ) AS rk
                FROM adj
            ) WHERE rk <= {LP_NEIGHBOR_CAP}
        ),
        degt AS (
            -- deg-1 nodes cannot be a common neighbor; dropping them
            -- keeps ln(deg) away from ln(1) = 0
            SELECT node, count(*) AS deg FROM capped GROUP BY node
            HAVING count(*) >= 2
        ),
        contrib AS (
            SELECT c.node, c.nbr, {_AA_CONTRIB} AS aa_w
            FROM capped c JOIN degt USING (node)
        ),
        pairs AS (
            SELECT a.nbr AS s1, b.nbr AS s2,
                   CAST(count(*) AS BIGINT) AS common_neighbors,
                   CAST(sum(a.aa_w) AS BIGINT) AS aa_unats
            FROM contrib a
            JOIN contrib b ON a.node = b.node AND a.nbr < b.nbr
            GROUP BY 1, 2
        )
        SELECT s1 AS station_a, s2 AS station_b,
               common_neighbors, aa_unats,
               CAST(aa_unats AS DOUBLE)
                   / CAST({LP_UNIT} AS DOUBLE) AS aa_score
        FROM pairs p
        WHERE NOT EXISTS (
            SELECT 1 FROM und e
            WHERE e.u = p.s1 AND e.v = p.s2
        )
        ORDER BY aa_unats DESC, common_neighbors DESC,
                 station_a, station_b
        LIMIT {LP_TOPK}
    """


ORACLES["od_link_prediction"] = _od_link_prediction_oracle()


#: synchronous LPA rounds — fixed (bounded plan + finite recursive
#: twin); on the degree-capped backbone label flow stabilizes in a
#: handful of rounds, and both engines run the SAME rounds, so even a
#: not-yet-converged labeling is gate-exact
LPA_ROUNDS = 4


def od_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the OD backbone via SYNCHRONOUS label
    propagation (Raghavan et al. 2007, the deterministic synchronous
    variant): every station starts as its own label; each round every
    station adopts the label with the largest incoming FLOW-WEIGHTED
    vote over the symmetrized backbone, ties to the smallest label.
    Complements the existing graph set: connected components find
    reachability islands, k-core finds density shells — LPA finds
    flow communities (who trades traffic with whom).

    Determinism: votes are exact integer flow sums; the argmax is a
    per-station window ordered (votes DESC, lab ASC); rounds are
    fixed — no convergence probe, no randomized tie-break (the
    classic async LPA is randomized; the synchronous min-label form
    is the reproducible one, and the DuckDB twin replays it
    round-for-round).

    Scale shape: per round ONE equi join (edges x labels, shuffled on
    the station key) + ONE bounded-fanout window (partition = a
    station's candidate labels, <= its degree <= 2*BACKBONE_TOPK) +
    the label update join, lineage-truncated per round by a lazy
    checkpoint — the pagerank loop's shape with an argmax instead of
    a weighted sum. Label state is one row per station; votes are
    degree-bounded; nothing is corpus-sized."""
    from pyspark.sql import Window

    from .od import infer_flows

    flows = infer_flows(spark, sf_dir, minutes=10).filter(
        F.col("o") != F.col("d")
    )
    rn = F.row_number().over(
        Window.partitionBy("o").orderBy(F.desc("flow"), F.asc("d"))
    )
    bb = (
        flows.withColumn("rn", rn)
        .filter(F.col("rn") <= BACKBONE_TOPK)
        .select("o", "d", "flow")
    )
    # symmetrize with weights (parallel edges collapse by flow sum)
    e = (
        bb.select(F.col("o").alias("u"), F.col("d").alias("v"), "flow")
        .unionAll(
            bb.select(F.col("d").alias("u"), F.col("o").alias("v"), "flow")
        )
        .groupBy("u", "v")
        .agg(F.sum("flow").alias("w"))
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("u").alias("id")).distinct().localCheckpoint(
        eager=False
    )
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
        # every node has in-edges in the symmetric graph, but keep the
        # own-label fallback so the operator stays total on any input
        labels = (
            labels.join(best, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("new_lab"), F.col("lab")).alias("lab"),
            )
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("id").alias("station"), F.col("lab").alias("community")
    ).orderBy("community", "station")


QUERIES["od_label_propagation"] = od_label_propagation


def _od_label_propagation_oracle() -> str:
    from .od import FLOWS_CTE_SQL

    return f"""
        WITH RECURSIVE {FLOWS_CTE_SQL},
        bb AS MATERIALIZED (
            SELECT o, d, flow FROM (
                SELECT o, d, flow, row_number() OVER (
                    PARTITION BY o ORDER BY flow DESC, d
                ) AS rn
                FROM flows WHERE o <> d
            ) WHERE rn <= {BACKBONE_TOPK}
        ),
        e AS MATERIALIZED (
            SELECT u, v, CAST(sum(flow) AS BIGINT) AS w FROM (
                SELECT o AS u, d AS v, flow FROM bb
                UNION ALL
                SELECT d AS u, o AS v, flow FROM bb
            ) GROUP BY u, v
        ),
        nodes AS MATERIALIZED (SELECT DISTINCT u AS id FROM e),
        lpa(iter, id, lab) AS (
            SELECT 0, id, id FROM nodes
            UNION ALL
            (
                WITH votes AS (
                    SELECT e.v AS id, p.lab, sum(e.w) AS votes
                    FROM e JOIN lpa p ON e.u = p.id
                    GROUP BY e.v, p.lab
                ),
                it AS (SELECT max(iter) AS i FROM lpa),
                best AS (
                    SELECT id, lab FROM (
                        SELECT id, lab, row_number() OVER (
                            PARTITION BY id ORDER BY votes DESC, lab
                        ) AS rn FROM votes
                    ) WHERE rn = 1
                )
                SELECT it.i + 1, n.id, coalesce(b.lab, p2.lab)
                FROM nodes n
                LEFT JOIN best b ON b.id = n.id
                JOIN lpa p2 ON p2.id = n.id
                CROSS JOIN it
                WHERE it.i < {LPA_ROUNDS}
            )
        )
        SELECT id AS station, lab AS community
        FROM lpa WHERE iter = {LPA_ROUNDS}
        ORDER BY community, station
    """


ORACLES["od_label_propagation"] = _od_label_propagation_oracle()
