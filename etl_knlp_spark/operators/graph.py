"""Iterative graph operators over DataFrames (SURVEY.md §2.12).

Near-dup PAIRS are only half a dedup pipeline — production dedup keeps
one representative per connected component of the similarity graph.
`connected_components` is minimum-label propagation as a driver loop
over distributed joins: each iteration is a full DataFrame plan, the
driver only checks the (scalar) convergence condition.

100 TB notes: label propagation converges in O(graph diameter)
iterations; near-dup graphs are shallow (dup clusters are cliques-ish),
so 3-5 iterations dominate. Each iteration shuffles edges once on src
and once on dst. For adversarially deep graphs use the large-star/
small-star variant (alternating contraction halves the diameter per
round). `localCheckpoint` every iteration truncates the lineage so
plans don't grow unboundedly — the classic iterative-Spark failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """Connected components by min-label propagation.

    Input: undirected edges (src long, dst long). Output:
    (node, component) where component = min node id in the component.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iter`` rounds — silently returning unconverged labels would
    hand the caller wrong components with no signal. Convergence needs
    O(graph diameter) rounds; raise ``max_iter`` for deep graphs.
    """
    # Checkpoint the edge table too (r11 review): each propagation
    # round's join re-derives its edge input otherwise — for
    # near_dup_clusters that re-runs the full shingle-Jaccard corpus
    # join once PER ROUND (the kcore_users lesson, graph.py k-core:
    # measured ~3x the join cost when left uncached). Lazy: nothing
    # materializes until round 1 consumes it.
    sym = (
        edges.selectExpr(f"{src} AS a", f"{dst} AS b")
        .unionByName(edges.selectExpr(f"{dst} AS a", f"{src} AS b"))
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()  # truncate lineage every iteration
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        f"(labels still changing) — increase max_iter for deep graphs"
    )


# Shared CTE chain: raw text → 3-gram shingles → exact-Jaccard edges
# (≥ 0.7) → recursive transitive closure → (node, component). Both
# cluster oracles append their own final SELECT; the near_dup_clusters
# oracle string is byte-identical to its pre-factoring form, so its
# snapshot oracle_md5 (and staleness bar) did not move.
_CLUSTER_CTE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM toks WHERE len(t) >= 3
    ), inv AS (
      SELECT doc_id, unnest(g) AS gram FROM sh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ns
      FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), edges AS (
      SELECT doc_a, doc_b
      FROM shared
      JOIN sizes sa ON sa.doc_id = shared.doc_a
      JOIN sizes sb ON sb.doc_id = shared.doc_b
      WHERE ns * 1.0 / (sa.n + sb.n - ns) >= 0.7
    ), sym AS (
      SELECT doc_a AS a, doc_b AS b FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ), reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ), comp AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
    )"""


@query(
    "near_dup_clusters",
    oracle=_CLUSTER_CTE
    + """
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS cluster_rep,
           d.doc_id = COALESCE(c.component, d.doc_id) AS is_kept
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering end-to-end: exact shingle-Jaccard edges
    (≥ 0.7) → connected components → one representative (min doc_id)
    per cluster. The output is the dedup decision table:
    (doc_id, cluster_rep, is_kept).

    Upgraded from rows-only to a FULL oracle in round 5 by sourcing
    the edges from the deterministic exact-Jaccard path
    (`shingle_jaccard_exact` — same pair set the MinHash contract
    measures recall against) instead of seed-dependent LSH
    candidates: the DuckDB oracle recomputes the edges from raw text
    and resolves components with a recursive-CTE transitive closure,
    so every cluster assignment hash-verifies — including that the
    min-label propagation actually CONVERGED (an early-stopped run
    splits a component and mismatches). The LSH candidate route
    remains the 100 TB edge generator (`dedup_minhash`); component
    resolution is identical either way whenever LSH recall is 1.0,
    which the MinHash contract tracks."""
    from .dedup import shingle_jaccard_exact

    docs = load_table(spark, sf_dir, "documents")
    edges = shingle_jaccard_exact(docs, 0.7, pair_budget=2**26).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(edges)
    all_docs = docs.select("doc_id")
    return (
        all_docs.join(comp, all_docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_rep"),
        )
        .withColumn("is_kept", F.col("doc_id") == F.col("cluster_rep"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge DataFrame → (node, rank).

    Power iteration as a driver loop of distributed plans (same
    pattern as `connected_components`): each round joins ranks to
    edges on src (one shuffle), sums contributions per dst (second
    shuffle — at scale, pre-partitioning edges by src and caching
    makes the first a zero-exchange join). Dangling-node mass (nodes
    with no out-edges) is redistributed uniformly via a ONE-ROW
    aggregate crossJoined back — never a driver collect.
    `localCheckpoint` truncates lineage per round, the iterative-Spark
    requirement. Fixed iteration count keeps the op deterministic;
    ranks sum to 1 every round (pytest-pinned vs a numpy reference).
    """
    # lazy checkpoint: every power-iteration round joins e; without
    # it each round re-derives the caller's edge construction (an
    # orders⋈lineitem distinct for the trade graph) from scratch
    e = edges.selectExpr(f"{src} AS e_src", f"{dst} AS e_dst").localCheckpoint(
        eager=False
    )
    nodes = (
        e.select(F.col("e_src").alias("node"))
        .unionByName(e.select(F.col("e_dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()  # scalar: needed in every closed-form term
    out_deg = e.groupBy(F.col("e_src").alias("od_node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes)).localCheckpoint()
    for _ in range(n_iter):
        with_deg = ranks.join(out_deg, ranks.node == out_deg.od_node, "left")
        dangling = with_deg.filter(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass")
        )
        contrib = (
            with_deg.filter(F.col("out_deg").isNotNull())
            .join(e, F.col("node") == F.col("e_src"))
            .groupBy(F.col("e_dst").alias("c_node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("in_mass"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == F.col("c_node"), "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + damping
                    * (
                        F.coalesce(F.col("in_mass"), F.lit(0.0))
                        + F.col("dangling_mass") / n_nodes
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def pagerank_trade_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier trade graph (an edge per
    distinct customer/supplier pair observed in orders⋈lineitem).
    Suppliers have no out-edges, so ~6% of nodes are dangling every
    iteration — the uniform-redistribution path is genuinely
    exercised, not a corner case. The analog in a crawl-curation
    pipeline is link-graph authority scoring as a document quality
    signal (what the reference's warehouse cannot express at all).
    Ranks round at 6dp for run-to-run stability (shuffled double
    sums); correctness vs a numpy power iteration is pytest-pinned
    on a fixed fixture."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            # supplier ids NEGATED out of the customer key space —
            # disjoint at ANY scale (keys are ≥ 1 on both sides). The
            # previous +10^7 offset silently ALIASED customer
            # 10,000,001 with supplier 1 at TPC-H SF ≥ 67 (merged
            # node, wrong is_supplier label), and the oracle encoded
            # the identical offset, so the hash gate verified the
            # collision as correct (r11 review — the minmax_by
            # packed-key class).
            (-F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    pr = pagerank(edges, damping=0.85, n_iter=8)
    return pr.select(
        "node",
        "rank",
        F.round("rank", 6).alias("rank_6dp"),
        (F.col("node") < 0).alias("is_supplier"),
    )


@query(
    "pagerank_links",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS src, -l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN node < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suppliers,
           TRUE AS rank_sum_ok,
           TRUE AS ranks_positive
    FROM nodes
    """,
)
def pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract over `pagerank_trade_ranks` (upgraded from
    rows-only in round 5): the iterated shuffled double sums are not
    bit-reproducible in SQL, but the graph's shape and the power
    iteration's invariants are — the oracle independently derives the
    node/supplier counts from orders⋈lineitem, and pins TRUE on mass
    conservation (|Σrank − 1| < 1e-6 — the dangling-redistribution
    term is exactly what breaks first if that path rots) and strict
    rank positivity (every node keeps its (1−d)/n floor). Per-node
    rank values vs a numpy power iteration stay pytest-pinned on a
    fixed fixture."""
    ranks = pagerank_trade_ranks(spark, sf_dir)
    return ranks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.col("is_supplier").cast("bigint")).cast("bigint").alias("n_suppliers"),
        # the UNROUNDED ranks conserve mass to float residue; the 6dp
        # display column would accumulate n·5e-7 of rounding error
        (F.abs(F.sum("rank") - 1.0) < 1e-6).alias("rank_sum_ok"),
        (F.min("rank") > 0).alias("ranks_positive"),
    )


@query(
    "dedup_keep_best",
    oracle=_CLUSTER_CTE
    + """
    , assigned AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.component, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT doc_id, cluster_rep, keep_id, doc_id = keep_id AS is_kept
    FROM (
      SELECT doc_id, cluster_rep,
             FIRST_VALUE(doc_id) OVER (
               PARTITION BY cluster_rep
               ORDER BY n_chars DESC, doc_id) AS keep_id
      FROM assigned
    )
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster dedup: same similarity clusters as
    `near_dup_clusters`, but the survivor of each cluster is the
    HIGHEST-QUALITY member (longest text, doc_id tiebreak), not the
    lowest id. This is what production corpus dedup actually ships —
    near-dup clusters mix truncated/mangled copies with the full
    document, and keep-first throws away the good one whenever the
    fragment has the smaller id. Swap `n_chars` for any scalar quality
    column (`quality_score`, a perplexity filter) without touching the
    plan shape.

    Plan: the component table (iterative min-label propagation, O(dup-
    cluster diameter) rounds) left-joins back to documents — singleton
    docs keep themselves via the coalesce — then ONE window per
    cluster picks the argmax. The window shuffles on cluster_rep:
    bounded by cluster sizes (dup clusters are small-cardinality by
    nature), and the same shuffle the rep-assignment already did, so
    AQE coalesces them. The oracle re-derives clusters from raw text
    via the shared recursive-CTE closure and pins every keep decision
    bit-for-bit."""
    from .dedup import shingle_jaccard_exact

    docs = load_table(spark, sf_dir, "documents")
    edges = shingle_jaccard_exact(docs, 0.7, pair_budget=2**26).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(edges)
    assigned = (
        docs.select("doc_id", "n_chars")
        .join(comp, F.col("doc_id") == comp.node, "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_rep"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_rep").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        assigned.withColumn("keep_id", F.first("doc_id").over(w))
        .withColumn("is_kept", F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "cluster_rep", "keep_id", "is_kept")
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts and local clustering coefficients over
    an undirected edge set — the graph-structure metric behind
    community/spam detection on link and co-occurrence graphs.

    Output: (node, degree, n_triangles, clustering_6dp) for every node
    with degree >= 1, where clustering_6dp = 2T / (d·(d-1)) (0.0 when
    d < 2), rounded at 6dp on both engines (single double division of
    exact integers — deterministic cross-engine).

    Scale design — degree-ordered orientation (Schank & Wagner 2005;
    the MapReduce formulation is Suri & Vassilvitskii, WWW'11 "the
    curse of the last reducer"): orient every edge from its lower
    endpoint to its higher endpoint under the total order
    (degree, node). Every triangle then has exactly one source node
    (its π-minimum), so one wedge join (out-neighbors paired per
    source) + one edge-existence join counts each triangle once — and
    the wedge fan-out is bounded by the ORIENTED out-degree, which the
    degree ordering caps at O(√E) even when a hub's raw degree is
    O(N): a celebrity node's million followers generate no wedges at
    the hub because nearly all its edges point INTO it. Without the
    ordering, wedge count is Σ deg² (last-reducer death on skewed
    graphs); with it, O(E^1.5) worst case and far less on real
    graphs. Three shuffles total (degree count, wedge join,
    existence join), all keyed on node/edge ids.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)  # consumed by degree + orientation + closure
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e = (
        und.join(deg.select(F.col("node").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("degree").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=False)
    wedges = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    tri = wedges.join(
        oriented.alias("e3"),
        (F.col("e3.u") == F.col("x")) & (F.col("e3.v") == F.col("z")),
    ).select("x", "y", "z")
    tcnt = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return deg.join(tcnt, "node", "left").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.lit(2.0)
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_6dp"),
    )


_TRIANGLE_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(floor(date_part('epoch', ts) / 300) AS BIGINT) AS bkt
      FROM events
    ), und AS (
      SELECT DISTINCT a.user_id AS a, b.user_id AS b
      FROM ev a JOIN ev b
        ON a.bkt = b.bkt AND a.event_type = b.event_type
       AND a.user_id < b.user_id
    ), deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY node
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ), tcnt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    )
    SELECT d.node AS user_id,
           CAST(d.degree AS BIGINT) AS degree,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN round(2.0 * COALESCE(t.n_triangles, 0)
                           / (d.degree * (d.degree - 1)), 6)
                ELSE 0.0 END AS clustering_6dp
    FROM deg d LEFT JOIN tcnt t ON t.node = d.node
    """


def cooccurrence_edges(
    events: DataFrame,
    bucket_seconds: int = 300,
    pair_budget: int = 2**28,
) -> DataFrame:
    """User co-activity edges: (src, dst) with src < dst whenever two
    users emit the same event_type inside the same ``bucket_seconds``
    epoch bucket.

    The self-join is QUADRATIC in per-(bucket, type) user cardinality
    by definition — the graph genuinely has those edges — so, like the
    dedup family's pair emitters (`jaccard_prefix_pairs`,
    `lcs_span_pairs`), the builder prices the join before running it:
    one linear aggregation computes Σ n_users·(n_users−1)/2 over the
    distinct (bucket, type, user) keys and REFUSES over
    ``pair_budget`` with the estimate and the hottest keys in the
    error, instead of dying in the exchange. Measured on the 100×
    shared-clock probe corpus (every copy lands in the same buckets):
    pre-flight estimate ~2.2e9 pairs, refusal in seconds where the
    unguarded join OOMed the executor pool. Widen buckets, split by
    another dimension, or raise the budget deliberately."""
    b = events.select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts") / bucket_seconds).alias("bkt"),
    ).distinct()
    per_key = b.groupBy("bkt", "event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    est_row = per_key.agg(
        F.sum(F.col("n_users") * (F.col("n_users") - 1) / 2).alias("est"),
        F.max("n_users").alias("hottest"),
    ).collect()[0]
    est = int(est_row["est"] or 0)
    if est > pair_budget:
        raise RuntimeError(
            f"cooccurrence_edges: pre-flight estimate {est:,} candidate "
            f"pairs exceeds pair_budget={pair_budget:,} (hottest "
            f"(bucket, event_type) key has {est_row['hottest']:,} users "
            f"→ ~{est_row['hottest'] * (est_row['hottest'] - 1) // 2:,} "
            f"pairs alone). The co-activity graph genuinely has this "
            f"many edges — widen bucket_seconds, add a co-key, or raise "
            f"pair_budget deliberately."
        )
    return (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.bkt") == F.col("y.bkt"))
            & (F.col("x.event_type") == F.col("y.event_type"))
            & (F.col("x.user_id") < F.col("y.user_id")),
        )
        .select(
            F.col("x.user_id").alias("src"), F.col("y.user_id").alias("dst")
        )
        .distinct()
    )


@query(
    "triangle_clustering",
    oracle=_TRIANGLE_ORACLE,
)
def triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for `triangle_counts` on the user co-activity
    graph: users linked when they emit the same event_type inside the
    same 5-minute epoch bucket (1,050 edges / 495 triangles at sf0.01
    — non-trivial structure, not a clique and not a forest). The
    oracle recomputes the graph from raw events and counts triangles
    by plain id-orientation (a<b) — a DIFFERENT orientation than the
    engine's degree ordering, so the driver also pins that triangle
    counts are orientation-invariant. Both `unix_timestamp` and
    `date_part('epoch')` floor-truncate microsecond timestamps to
    seconds, so the bucket keys agree cross-engine. The edge builder's
    pre-flight pair budget (see `cooccurrence_edges`) is inert at
    graded SFs (≈11k pairs at sf0.1) and refuses the quadratic
    shared-clock regime measured at the 100× probe."""
    e = load_table(spark, sf_dir, "events")
    return triangle_counts(cooccurrence_edges(e)).withColumnRenamed(
        "node", "user_id"
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 200,
    edge_budget: int = 2**26,
) -> DataFrame:
    """k-core of an undirected graph by iterative peeling: repeatedly
    delete nodes whose degree within the surviving subgraph is < k,
    until a fixpoint. Returns (u, core_degree) for the nodes of the
    (possibly empty) k-core, with core_degree ≥ k their degree INSIDE
    the core.

    Dense-subgraph extraction is the link-graph analog of the dedup
    family's cluster steps: spam farms, mutual-citation rings, and
    bot cliques all live in high cores, and coreness is the standard
    cheap proxy for graph density at crawl scale (Seidman 1983;
    peeling is the textbook O(E)-work algorithm). Each round is one
    degree aggregate plus two semi-joins, all hash-keyed on node id —
    no driver state beyond the scalar edge count that detects the
    fixpoint, and `localCheckpoint` truncates lineage per round (the
    iterative-Spark requirement, same as `connected_components`).
    Round count is the peel DEPTH (number of onion layers ≤ k), not
    the diameter — small for real graphs; `max_iter` guards the
    adversarial chain-of-layers construction.

    ``edge_budget`` prices the peel before running it (the
    `cooccurrence_edges` pre-flight philosophy one layer up, for
    callers whose edge source has no guard of its own): the
    symmetrized edge list is checkpointed once and re-joined every
    round, so its size bounds peak storage — the measured failure
    mode past the budget on a single 8g JVM is a mid-peel executor
    OOM (round-9 25×-density probe), which a deliberate refusal
    with remedies strictly dominates. On a real cluster, raise it."""
    # Pre-flight BEFORE the checkpoint materializes anything: 2×|edges|
    # upper-bounds the symmetrized distinct set, and counting the input
    # is one cheap scan. Refusing here beats refusing after caching a
    # hundred-million-row edge list.
    n_in = edges.count()
    if 2 * n_in > edge_budget:
        raise RuntimeError(
            f"k_core: up to {2 * n_in:,} directed edges exceeds "
            f"edge_budget={edge_budget:,}. The graph genuinely has this "
            f"many edges — peeling re-joins the full edge set every "
            f"round, so either raise edge_budget deliberately (cluster "
            f"memory permitting), pre-filter trivially-peelable nodes "
            f"(degree < k in one aggregate) before calling, or densify "
            f"the blocking key upstream (see cooccurrence_edges)."
        )
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    cur = sym
    prev_edges = cur.count()
    for _ in range(max_iter):
        keep = (
            cur.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("u")
        )
        pruned = cur.join(keep, "u", "semi").join(
            keep.withColumnRenamed("u", "v"), "v", "semi"
        )
        nxt = pruned.localCheckpoint()
        n = nxt.count()  # scalar fixpoint probe over the checkpoint
        if n == prev_edges:
            break
        prev_edges = n
        cur = nxt
    else:
        raise RuntimeError(f"k_core: no fixpoint within {max_iter} rounds")
    return cur.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


@query(
    "kcore_users",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_type,
             CAST(floor(date_part('epoch', ts) / 300) AS BIGINT) AS bkt
      FROM events
    ), und AS (
      SELECT DISTINCT a.user_id AS a, b.user_id AS b
      FROM ev a JOIN ev b
        ON a.bkt = b.bkt AND a.event_type = b.event_type
       AND a.user_id < b.user_id
    ), sym AS (
      SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
    ), kk AS (
      SELECT CAST(GREATEST(2, MIN(d) + CEIL((MAX(d) - MIN(d)) / 8.0))
                  AS BIGINT) AS k
      FROM (SELECT COUNT(*) AS d FROM sym GROUP BY u)
    ), core(nodes) AS (
      -- working state = ONE row holding the sorted surviving-node
      -- list; UNION (distinct) recursion terminates at the first
      -- repeated list, i.e. the peeling fixpoint
      SELECT list_sort(list(DISTINCT u)) FROM sym
      UNION
      SELECT list_sort(COALESCE(list(u), [])) FROM (
        SELECT s.u FROM sym s, core c, kk
        WHERE list_contains(c.nodes, s.u) AND list_contains(c.nodes, s.v)
        GROUP BY s.u, kk.k
        HAVING COUNT(*) >= kk.k
      )
    ), final AS (
      SELECT nodes FROM core ORDER BY len(nodes) ASC LIMIT 1
    )
    SELECT CAST(s.u AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS core_degree,
           CAST(kk.k AS BIGINT) AS k
    FROM sym s, final f, kk
    WHERE list_contains(f.nodes, s.u) AND list_contains(f.nodes, s.v)
    GROUP BY s.u, kk.k
    """,
)
def kcore_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the user co-activity graph (same edges as
    `triangle_clustering`): the dense nucleus of users whose in-core
    co-activity degree stays ≥ k after everyone more peripheral is
    peeled away. k adapts to the graph — min_deg + ceil(range/8),
    floored at 2 — because the co-activity graph's density scales
    with SF (integer-exact on both engines, so the adaptive choice
    can't drift). The oracle is a true FIXPOINT in SQL: a recursive
    CTE whose working state is the sorted surviving-node list,
    terminating via UNION-distinct when peeling repeats a state —
    an independent construction of the same fixpoint the Spark
    driver loop reaches by edge-count convergence, hash-compared on
    every surviving node's in-core degree."""
    import math

    e = load_table(spark, sf_dir, "events")
    # checkpoint the (quadratic) co-activity join ONCE: it feeds three
    # consumers — k_core's pre-flight count, the adaptive-k degree
    # stats, and the peel itself — and would otherwise recompute per
    # action (measured ~3x the join cost at sf0.1)
    edges = cooccurrence_edges(e).localCheckpoint(eager=False)
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    row = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
        .collect()[0]
    )  # two scalars: the adaptive-k inputs
    if row["mn"] is None:  # edgeless graph: the k-core is empty, not a crash
        return spark.createDataFrame(
            [], "user_id long, core_degree bigint, k bigint"
        )
    k = max(2, int(row["mn"]) + math.ceil((int(row["mx"]) - int(row["mn"])) / 8))
    return k_core(edges, k).select(
        F.col("u").alias("user_id"), "core_degree", F.lit(k).cast("bigint").alias("k")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, 'Connected
    Components in MapReduce and Beyond'): every node links its
    STRICTLY-LARGER neighbors to the minimum of its closed
    neighborhood. Each round is one symmetrize + one min-aggregate +
    one join — all keyed on node ids."""
    sym = edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    m = sym.groupBy("a").agg(F.min("b").alias("mn"))
    m = m.select("a", F.least("a", "mn").alias("m"))
    return (
        sym.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge toward its larger
    endpoint, then link every smaller neighbor (and the node itself)
    to the neighborhood minimum."""
    directed = (
        edges.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        directed.join(m, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )
    self_edge = m.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return nbr.union(self_edge).distinct()


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction — the O(log² n)-round algorithm that replaces
    min-label propagation when the graph is DEEP: propagation moves
    labels one hop per round (O(diameter) rounds — a 3000-node path
    graph needs 3000), while star contraction halves component height
    per alternation, so path graphs, comment chains, and adversarial
    link farms converge in tens of rounds regardless of diameter.
    Same output contract as `connected_components`: (node, component)
    with component = the component's minimum node id. Each round is
    two aggregate+join plans over the shrinking edge set,
    localCheckpointed (lineage truncation, the iterative-Spark rule);
    convergence = the small-star edge set reaching fixpoint (checked
    with one exceptAll count per round — star edges at fixpoint ARE
    the (node, root) assignment)."""
    cur = (
        edges.selectExpr(f"{src} AS a", f"{dst} AS b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    nodes = cur.select(F.col("a").alias("node")).union(
        cur.select(F.col("b").alias("node"))
    ).distinct()
    for _ in range(max_iter):
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        changed = (
            nxt.exceptAll(cur).count() + cur.exceptAll(nxt).count()
        )
        cur = nxt
        if changed == 0:
            assigned = cur.select(
                F.col("a").alias("node"), F.col("b").alias("component")
            )
            return nodes.join(assigned, "node", "left").select(
                "node", F.coalesce("component", F.col("node")).alias("component")
            )
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} "
        f"alternations — raise max_iter (expected O(log^2 n))"
    )


@query(
    "near_dup_clusters_star",
    # BYTE-IDENTICAL oracle to near_dup_clusters: the driver pins the
    # star-contraction and min-label-propagation algorithms to the
    # same answer as the recursive-CTE closure — three independent
    # constructions of the same components.
    oracle=_CLUSTER_CTE
    + """
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS cluster_rep,
           d.doc_id = COALESCE(c.component, d.doc_id) AS is_kept
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
)
def near_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`near_dup_clusters` resolved by large-star/small-star
    contraction instead of min-label propagation — identical output
    (same exact-Jaccard edges, same min-id representative), different
    algorithm, same oracle string. Propagation remains the cheap
    choice for shallow dup clusters; contraction is the one that
    survives deep graphs (path-graph test in test_layout_graph)."""
    from .dedup import shingle_jaccard_exact

    docs = load_table(spark, sf_dir, "documents")
    edges = shingle_jaccard_exact(docs, 0.7, pair_budget=2**26).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components_star(edges)
    all_docs = docs.select("doc_id")
    return (
        all_docs.join(comp, all_docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_rep"),
        )
        .withColumn("is_kept", F.col("doc_id") == F.col("cluster_rep"))
    )


_TRUSS_K = 4


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    edge_budget: int = 2**26,
) -> DataFrame:
    """k-truss of an undirected graph: the maximal subgraph where
    every surviving EDGE sits in ≥ k−2 triangles formed by surviving
    edges — the edge-level strengthening of the k-core (a k-truss is
    always inside the (k−1)-core, but demands actual triangle
    cohesion, which cuts chains and stars that degree alone keeps).
    Iterative support peeling, the standard algorithm (Cohen 2008):
    each round recomputes per-edge support as a wedge join — edge
    (a,b) ⋈ neighbors(a) ⋈ neighbors(b) matched on the shared third
    vertex — drops edges under k−2, and repeats to the fixpoint,
    detected by the scalar edge count. Returns (u, v, support) with
    u < v and support ≥ k−2 counted INSIDE the truss.

    Scale: each round is two hash joins + one aggregate keyed on node
    ids; the wedge intermediate is Σ deg(a) over edges — the quantity
    the `edge_budget` pre-flight bounds (same refusal contract as
    `k_core`, measured there). Rounds = support peel depth (6 on the
    graded co-activity graph)."""
    n_in = edges.count()
    if 2 * n_in > edge_budget:
        raise RuntimeError(
            f"k_truss: up to {2 * n_in:,} directed edges exceeds "
            f"edge_budget={edge_budget:,} — see k_core's remedies."
        )
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    cur = und
    prev_n = cur.count()
    for _ in range(max_iter):
        sym = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        s1 = sym.select(F.col("u").alias("a1"), F.col("v").alias("w1"))
        s2 = sym.select(F.col("u").alias("b2"), F.col("v").alias("w2"))
        sup = (
            cur.join(s1, cur.a == s1.a1)
            .join(s2, (cur.b == s2.b2) & (F.col("w1") == F.col("w2")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        # the round's support rides in its checkpoint: at the fixpoint
        # it is the support counted inside the converged truss
        nxt = (
            cur.join(sup, ["a", "b"], "left")
            .filter(F.coalesce("support", F.lit(0)) >= k - 2)
            .localCheckpoint()
        )
        n = nxt.count()  # scalar fixpoint probe over the checkpoint
        if n == prev_n:
            break
        prev_n = n
        cur = nxt.select("a", "b")
    else:
        raise RuntimeError(f"k_truss: no fixpoint within {max_iter} rounds")
    # an edge in no triangle (kept only when k <= 2) has NULL support;
    # it is not part of the result, as the inner-join count never saw it
    return nxt.filter(F.col("support").isNotNull()).select(
        "a", "b", F.col("support").cast("bigint").alias("support")
    )


@query(
    "ktruss_users",
    oracle=f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_type,
             CAST(floor(date_part('epoch', ts) / 300) AS BIGINT) AS bkt
      FROM events
    ), und AS (
      SELECT DISTINCT a.user_id AS a, b.user_id AS b
      FROM ev a JOIN ev b
        ON a.bkt = b.bkt AND a.event_type = b.event_type
       AND a.user_id < b.user_id
    ), truss(es) AS (
      SELECT list_sort(list({{'a': a, 'b': b}})) FROM und
      UNION
      SELECT list_sort(COALESCE(list({{'a': e.a, 'b': e.b}}), []))
      FROM (
        WITH cur AS (SELECT unnest(t.es, recursive := true) FROM truss t),
        sym AS (SELECT a AS u, b AS v FROM cur UNION ALL SELECT b, a FROM cur),
        sup AS (
          SELECT c.a, c.b, COUNT(*) AS s
          FROM cur c
          JOIN sym s1 ON s1.u = c.a
          JOIN sym s2 ON s2.u = c.b AND s2.v = s1.v
          GROUP BY c.a, c.b
        )
        SELECT c.a, c.b
        FROM cur c LEFT JOIN sup ON sup.a = c.a AND sup.b = c.b
        WHERE COALESCE(sup.s, 0) >= {_TRUSS_K - 2}
      ) e
    ), final AS (
      SELECT es FROM truss ORDER BY len(es) ASC LIMIT 1
    ), fe AS (
      SELECT CAST(e.a AS BIGINT) AS a, CAST(e.b AS BIGINT) AS b
      FROM (SELECT unnest(f.es, recursive := true) FROM final f) e
    ), fsym AS (
      SELECT a AS u, b AS v FROM fe UNION ALL SELECT b, a FROM fe
    )
    SELECT c.a AS user_a, c.b AS user_b,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM fe c
    JOIN fsym s1 ON s1.u = c.a
    JOIN fsym s2 ON s2.u = c.b AND s2.v = s1.v
    GROUP BY c.a, c.b
    """,
)
def ktruss_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_TRUSS_K}-truss of the user co-activity graph (same edges as
    `kcore_users`/`triangle_clustering`): the triangle-cohesive
    nucleus — six support-peel rounds at the graded SF (1,050 → 127
    edges), against the k-core's two degree rounds, so the edge-level
    fixpoint machinery is genuinely exercised. The oracle is the
    second SQL FIXPOINT construction: the recursive CTE's working
    state is the sorted surviving-EDGE list, each step recomputing
    in-truss support with a decorrelated wedge join over the unnested
    state and terminating by UNION-distinct repetition."""
    e = load_table(spark, sf_dir, "events")
    edges = cooccurrence_edges(e).localCheckpoint(eager=False)
    return k_truss(edges, _TRUSS_K).select(
        F.col("a").alias("user_a"), F.col("b").alias("user_b"), "support"
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge set: every node starts labeled with its own id;
    each round every node simultaneously adopts the most frequent
    label among its neighbors, ties broken by the SMALLEST label —
    the deterministic variant (classic LPA breaks ties randomly,
    which no cross-engine oracle could pin). Returns (node, lab)
    after ``rounds`` rounds.

    Community detection is the graph sibling of dedup clustering:
    connected components over-merge through single spurious edges,
    while LPA needs local majority support, so it splits
    bridge-joined blobs — the standard cheap community pass on
    co-activity / link graphs before per-community stats.

    Scale shape per round: one shuffle join of the directed edge
    list against the node→label table (keyed on the neighbor id),
    one (node, label) hash aggregate with map-side partials, and a
    per-node top-1 window that WindowGroupLimit reduces to
    per-partition heaps. State between rounds is one row per node —
    never materialized on the driver — and `localCheckpoint`
    truncates the growing lineage (the iterative-Spark requirement,
    same as `connected_components`). Rounds are FIXED, not run to
    convergence: synchronous LPA can 2-cycle on bipartite-ish
    structure, so production runs pick a small round budget (3-5);
    the round count is part of the operator's contract and the
    oracle replays the identical number."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    dirs = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint(eager=False)
    )
    labels = dirs.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    from pyspark.sql import Window

    for _ in range(rounds):
        counts = (
            dirs.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("u").orderBy(F.col("c").desc(), F.col("lab"))
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node"), "lab")
            .localCheckpoint(eager=False)
        )
    return labels


_LPA_ROUND = """
    , {out} AS (
      SELECT u AS node, lab FROM (
        SELECT d.u AS u, l.lab AS lab, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY d.u
                                  ORDER BY COUNT(*) DESC, l.lab) AS rn
        FROM dir d JOIN {prev} l ON l.node = d.v
        GROUP BY d.u, l.lab
      ) WHERE rn = 1
    )"""


@query(
    "labelprop_users",
    oracle=(
        """
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(floor(date_part('epoch', ts) / 300) AS BIGINT) AS bkt
      FROM events
    ), und AS (
      SELECT DISTINCT a.user_id AS a, b.user_id AS b
      FROM ev a JOIN ev b
        ON a.bkt = b.bkt AND a.event_type = b.event_type
       AND a.user_id < b.user_id
    ), dir AS (
      SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
    ), l0 AS (
      SELECT DISTINCT u AS node, u AS lab FROM dir
    )"""
        + _LPA_ROUND.format(out="r1", prev="l0")
        + _LPA_ROUND.format(out="r2", prev="r1")
        + _LPA_ROUND.format(out="r3", prev="r2")
        + """
    SELECT CAST(node AS BIGINT) AS user_id, CAST(lab AS BIGINT) AS community
    FROM r3
    """
    ),
)
def labelprop_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities of the user co-activity graph (same edge builder
    as `kcore_users`/`ktruss_users`, incl. its pre-flight pair
    budget) by 3 rounds of deterministic synchronous label
    propagation. The oracle replays the identical 3 rounds as
    unrolled CTEs — same majority + min-label tiebreak — so every
    node's final community is value-pinned, not just counted."""
    e = load_table(spark, sf_dir, "events")
    edges = cooccurrence_edges(e)
    return label_propagation(edges, rounds=3).select(
        F.col("node").alias("user_id"), F.col("lab").alias("community")
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 32,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source BFS over an undirected edge set: exact hop
    distance from every source to every node within ``max_depth``.
    Returns (source_id, node, dist).

    Per round: one join of the frontier against the directed edge
    list (keyed on the frontier node) and one anti-join against the
    visited set — the textbook iterative-Spark BFS, frontier and
    visited both (source, node) grained, localCheckpointed so
    lineage stays flat. Round count = eccentricity ≤ ``max_depth``,
    the shared cap that makes the recursive-CTE oracle's
    walk-unrolling finite too."""
    dirs = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionAll(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v")).filter(
                F.col(src) != F.col(dst)
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontier = sources.select(
        F.col(sources.columns[0]).alias("source_id"),
        F.col(sources.columns[0]).alias("node"),
        F.lit(0).alias("dist"),
    ).localCheckpoint(eager=False)
    visited = frontier
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(dirs, frontier.node == dirs.u)
            .select("source_id", F.col("v").alias("node"), F.lit(depth).alias("dist"))
            .distinct()
            .join(
                visited.select(
                    F.col("source_id").alias("vs"), F.col("node").alias("vn")
                ),
                (F.col("source_id") == F.col("vs")) & (F.col("node") == F.col("vn")),
                "left_anti",
            )
            .localCheckpoint(eager=False)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return visited


@query(
    "bfs_user_distances",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_type,
             CAST(floor(date_part('epoch', ts) / 300) AS BIGINT) AS bkt
      FROM events
    ), und AS (
      SELECT DISTINCT a.user_id AS a, b.user_id AS b
      FROM ev a JOIN ev b
        ON a.bkt = b.bkt AND a.event_type = b.event_type
       AND a.user_id < b.user_id
    ), dir AS (
      SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
    ), srcs AS (
      SELECT DISTINCT u AS s FROM dir ORDER BY s LIMIT 4
    ), walk(s, node, d) AS (
      SELECT s, s, 0 FROM srcs
      UNION
      SELECT w.s, e.v, w.d + 1
      FROM walk w JOIN dir e ON e.u = w.node
      WHERE w.d < 32
    )
    SELECT CAST(s AS BIGINT) AS source_id,
           CAST(node AS BIGINT) AS user_id,
           CAST(MIN(d) AS BIGINT) AS dist
    FROM walk GROUP BY s, node
    """,
)
def bfs_user_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hop distances from the 4 lowest-id users to everyone
    reachable in the co-activity graph (same edges as the rest of the
    graph family, incl. the pre-flight pair budget) — the plain
    graph-traversal primitive (reachability, influence radius,
    degrees-of-separation) the CC/PageRank/k-core family skips over.

    The oracle is a THIRD SQL-fixpoint style: a recursive CTE that
    unrolls all depth-capped walks — UNION-distinct on (source, node,
    depth) bounds the state at nodes × depth even through cycles —
    and takes MIN(depth) per node, which equals BFS distance by
    construction. Both sides share the depth cap 32 (≫ the graph's
    eccentricity at graded SFs), so outputs are identical even on an
    adversarial deep chain."""
    e = load_table(spark, sf_dir, "events")
    edges = cooccurrence_edges(e)
    dirs = edges.select(F.col("src").alias("n")).unionAll(
        edges.select(F.col("dst").alias("n"))
    )
    srcs = dirs.distinct().orderBy("n").limit(4)
    return bfs_distances(edges, srcs).select(
        "source_id", F.col("node").alias("user_id"), F.col("dist").cast("bigint").alias("dist")
    )
