"""Graph analytics over the materialized knowledge graph (SURVEY.md §2.10
extension): entity-salience PageRank, triangle/clustering statistics, and
bounded min-label propagation. The KG pipeline (graph.py) materializes
nodes/edges tables; these operators are the queries a KG consumer runs on
them — ranking entities, measuring community structure, sketching
components.

Design decisions, all scale-driven:

- **Integer mass arithmetic.** PageRank is usually done in doubles, but
  floating-point addition is not associative, so a double-summed rank
  depends on partition count and task order — the same job at local[4] vs
  a 1000-executor cluster produces different low-order bits, which breaks
  reproducible lineage AND the cross-engine oracle. We scale total rank
  mass to an integer (10^12 "mass units") and use only integer ops
  (floor-div, bigint sums): exact, partition-order-independent, identical
  in Spark and DuckDB. Same rationale as the decimal(38,10) k-means oracle
  (datapipe.py) — determinism is a feature at 100 TB, not a test trick.

- **Relational iteration, never adjacency arrays.** Each PageRank /
  label-propagation round is groupBy(min|sum) + equi-join — the same
  skew-safe shape as graph.py's CC star steps: a celebrity hub's 10^8
  edges stream through a shuffle-hash join against the one-row-per-node
  rank table instead of materializing as one collect_set array.

- **Bounded-iteration contract keys.** Convergent CC (graph.py) cannot be
  oracle-checked (unbounded loop). PageRank and min-label propagation with
  a FIXED iteration count unroll into pure SQL, so the driver's DuckDB
  gate certifies the per-round relational core bit-for-bit — evidence that
  also covers the loop body CC reuses.

Contract keys build deterministic graphs from the driver's TPC-H tables:
`kg_pagerank` uses the supplier↔part bipartite graph (lineitem distinct
pairs, symmetrized — 100 suppliers × 2000 parts at sf0.01 gives genuine
hub skew: supplier degree ~500 vs part degree ~25), `graph_triangles` and
`graph_minlabel` use the part co-purchase graph (parts sharing an order;
per-order fanout is bounded by order size, so the pair explosion is
O(orders × max_items²), never quadratic in parts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# total rank mass in integer units; 10^12 over ≤10^9 nodes still leaves
# ≥10^3 units per node of resolution
PR_TOTAL_MASS = 10**12
PR_DAMPING_PCT = 85  # damping as integer percent (0.85)
PR_ITERS = 3         # contract-key iteration count (unrolled in the oracle)
MINLABEL_ITERS = 3
MINLABEL_ORDER_MOD = 50  # sparsify the propagation graph (see _copurchase_edges)


# ------------------------------------------------------------ production --

def pagerank_exact(
    edges: DataFrame,
    iters: int = PR_ITERS,
    damping_pct: int = PR_DAMPING_PCT,
    total_mass: int = PR_TOTAL_MASS,
    checkpoint_every: int = 8,
    weight_col: str | None = None,
    rank_join_hint: str | None = None,
) -> DataFrame:
    """Integer-mass PageRank over a directed edge list (src, dst).

    Every node must appear as a src (symmetrize first for undirected
    salience — that also removes dangling nodes, whose mass would
    otherwise leak). Per iteration: one equi-join of the edge list against
    the one-row-per-node (rank, outdeg) table + one map-side-combinable
    bigint sum — two shuffles, hub-skew streams through the join (AQE
    skew-split applies). Lineage is truncated every `checkpoint_every`
    rounds via localCheckpoint, same policy as graph.py's CC loop.

    `weight_col` names an integer edge-weight column (e.g. the KG's
    n_support): a node's mass splits proportionally to edge weight
    instead of evenly. pr*w stays within int64 for total_mass=10^12 and
    weights up to ~10^6 (the KG's support counts); unweighted is the
    weight≡1 special case and produces bit-identical results to the
    unweighted formula.

    Returns (src, pr) with pr in integer mass units; sum(pr) ≈ total_mass
    (floor-division rounding loses at most n_nodes + n_edges units per
    round — deterministic, identical across engines and partitionings)."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    # the edge list and degree table are loop-invariant but re-read every
    # iteration — without persist, a lazily-derived edge list (e.g. a
    # distinct over a fact table) recomputes its whole lineage per round
    # (measured 4x wall on the bench bipartite graph). MEMORY_AND_DISK
    # (persist default) spills gracefully at scale.
    edges = edges.select("src", "dst", w.cast("long").alias("_w")).persist()
    deg = edges.groupBy("src").agg(F.sum("_w").alias("outdeg")).persist()
    # the node count n rides a one-row broadcast join instead of a driver
    # .count() — that barrier was a whole extra job per invocation; with a
    # joined scalar the count computes inside the same DAG (empty deg →
    # zero rows everywhere, so the n==0 division never evaluates)
    nn = deg.agg(F.count(F.lit(1)).alias("_n")).withColumn("_k", F.lit(1))
    pr = (
        deg.withColumn("_k", F.lit(1))
        .join(F.broadcast(nn), "_k")
        .select("src", F.expr(f"{total_mass} div _n").alias("pr"))
    )
    base = (
        f"(({100 - damping_pct} * cast({total_mass} as bigint))"
        f" div (100 * _n))"
    )
    # rank_join_hint: None (default) lets AQE pick the edge⋈rank strategy
    # from runtime sizes — it broadcasts the one-row-per-node rank table
    # whenever it fits (measured 1.8x on the sf0.1 bench graph: the 1.2M-row
    # edge list never shuffles), and falls back to a shuffled join when it
    # doesn't. For billion-node graphs where the rank table can NEVER
    # broadcast, pass "shuffle_hash": sorting the edge list every iteration
    # is the dominant SMJ cost at that scale (the 10M-edge CC experiment
    # measured 2.4x for hash over merge on exactly this join shape).
    for i in range(iters):
        rank_side = pr.join(deg, "src")
        if rank_join_hint:
            rank_side = rank_side.hint(rank_join_hint)
        incoming = (
            edges.join(rank_side, "src")
            .select(
                F.col("dst").alias("src"),
                F.expr("(pr * _w) div outdeg").alias("c"),
            )
            .groupBy("src")
            .agg(F.sum("c").alias("inc"))
        )
        pr = (
            deg.join(incoming, "src", "left")
            .withColumn("_k", F.lit(1))
            .join(F.broadcast(nn), "_k")
            .select(
                "src",
                F.expr(
                    f"cast({base} + ({damping_pct} * coalesce(inc, 0L))"
                    " div 100 as long)"
                ).alias("pr"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            pr = pr.localCheckpoint(eager=True)
    return pr


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected simple graph given as
    oriented edges (u < v, distinct): edge count, wedge count (paths of
    length 2), triangle count, and global clustering coefficient in parts
    per million (integer — see module docstring on why no doubles).

    The triangle join is the standard oriented formulation: each triangle
    u<v<w is counted exactly once as e(u,v) ⋈ e(v,w) ⋈ e(u,w). Cost is
    Σ_v deg⁺(v)² on the oriented graph — the textbook bound; at web scale
    you additionally orient by (degree, id) instead of raw id to flatten
    hubs, which this formulation permits without changing the count."""
    e = edges.select("u", "v")
    deg = (
        e.select(F.col("u").alias("x"))
        .unionByName(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges")
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    counts = e.agg(F.count(F.lit(1)).alias("n_edges"))
    k = F.lit(1).alias("_k")
    out = (
        counts.select(k, "n_edges")
        .join(wedges.select(k, "n_wedges"), "_k")
        .join(tri.select(k, "n_triangles"), "_k")
    )
    return out.select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CASE WHEN n_wedges > 0 THEN (3 * n_triangles * 1000000)"
            " div n_wedges ELSE 0 END"
        ).alias("clustering_ppm"),
    )


def minlabel_propagate(
    edges: DataFrame,
    iters: int = MINLABEL_ITERS,
    checkpoint_every: int = 8,
    label_join_hint: str | None = None,
) -> DataFrame:
    """Bounded hash-min label propagation over symmetric edges (src, dst):
    every node starts labeled with itself; each round takes the min of its
    own label and its neighbors' labels. After enough rounds this IS
    connected components (graph.py's CC accelerates it with star
    contractions); truncated at `iters` it is the oracle-checkable
    per-round core. Returns (src, label)."""
    edges = edges.select("src", "dst").persist()  # loop-invariant
    nodes = edges.select("src").distinct()
    lab = nodes.select("src", F.col("src").alias("label"))
    # label_join_hint: same contract as pagerank_exact's rank_join_hint —
    # default None lets AQE broadcast the per-node label table when it
    # fits; "shuffle_hash" for graphs whose node table never can.
    for i in range(iters):
        lab_side = lab.withColumnRenamed("src", "_s")
        if label_join_hint:
            lab_side = lab_side.hint(label_join_hint)
        nbr_min = (
            edges.join(
                lab_side,
                F.col("src") == F.col("_s"),
            )
            .groupBy("dst")
            .agg(F.min("label").alias("nl"))
            .withColumnRenamed("dst", "src")
        )
        lab = (
            lab.join(nbr_min, "src", "left")
            .select(
                "src",
                F.least(
                    "label", F.coalesce("nl", "label")
                ).alias("label"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            lab = lab.localCheckpoint(eager=True)
    return lab


def kg_salience(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    iters: int = 10,
    top_k: int = 100,
) -> DataFrame:
    """Entity salience over the pipeline's materialized KG: support-weighted
    integer PageRank on the symmetrized (subj, obj, n_support) edge list,
    top-k entities, enriched with the nodes table's type and surface forms
    when provided (broadcast when small, else shuffle join on canon_id).

    This is the consumer query the KG exists for — 'which entities matter' —
    run as a post-pass on the pipeline's parquet output."""
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj").alias("src"),
                    F.col("obj").alias("dst"),
                    F.col("n_support"),
                ),
                F.struct(
                    F.col("obj").alias("src"),
                    F.col("subj").alias("dst"),
                    F.col("n_support"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.n_support")
    pr = pagerank_exact(sym, iters=iters, weight_col="n_support")
    top = (
        pr.select(F.col("src").alias("canon_id"), "pr")
        .orderBy(F.col("pr").desc(), "canon_id")
        .limit(top_k)
    )
    if nodes is not None:
        top = top.join(
            nodes.select("canon_id", "etype", "n_mentions", "surface_forms"),
            "canon_id",
            "left",
        ).orderBy(F.col("pr").desc(), "canon_id")
    return top


def kg_components(edges: DataFrame) -> DataFrame:
    """Component census of the KG: convergent connected components
    (graph.py's star-contraction CC) over the symmetrized subj/obj graph,
    returning component sizes (top-100) — the canonicalization sanity
    query ('did CC over-merge?')."""
    from mxsparkg.graph import connected_components

    und = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).distinct()
    cc = connected_components(und)  # (entity_id, canon_id)
    return (
        cc.groupBy("canon_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), "canon_id")
        .limit(100)
    )


# ---------------------------------------------------------- contract keys --

def _lineitem(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/lineitem.parquet")


def _symmetrize(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(a, b) pairs → both edge directions as (src, dst). Explode of a
    2-struct array instead of unionByName of two projections: a union
    re-executes the (expensive: distinct/join) pair-producing subtree once
    PER BRANCH — explode computes it once and emits two rows per pair
    (measured 2x on the sf0.1 bipartite graph)."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _bipartite_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric supplier↔part edges from distinct lineitem pairs; string
    node ids 's<k>' / 'p<k>' keep the two key spaces disjoint."""
    pairs = (
        _lineitem(spark, sf)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("p"),
        )
        .distinct()
    )
    return _symmetrize(pairs, "s", "p")


def _copurchase_edges(
    spark: SparkSession, sf: str, order_mod: int = 1
) -> DataFrame:
    """Oriented part–part edges (u < v, distinct): two parts are linked if
    some order contains both. Per-order fanout is bounded by order size.
    `order_mod` keeps every `order_mod`-th order — the full graph is a
    dense expander on which min-label floods to one cluster in 2 rounds,
    so the propagation key uses a 1-in-50 sparsification that leaves a
    real component structure (92 clusters at sf0.01) to discriminate on."""
    li = (
        _lineitem(spark, sf)
        .filter(F.col("l_orderkey") % order_mod == 0)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    return (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def kg_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Entity salience: 3-iteration integer PageRank on the supplier↔part
    graph; top-25. Hub skew is real here (supplier degree ~20× part
    degree), exercising the join shape the production KG ranking uses."""
    pr = pagerank_exact(_bipartite_edges(spark, sf), iters=PR_ITERS)
    return (
        pr.select(F.col("src").alias("node"), "pr")
        .orderBy(F.col("pr").desc(), "node")
        .limit(25)
    )


def kg_pagerank_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Entity salience with edge CONFIDENCE: the same 3-iteration integer
    PageRank but each supplier↔part edge weighted by its lineitem
    multiplicity (the KG's n_support shape — how many observations back
    the edge), so a node's mass splits proportionally to support instead
    of evenly. This is the weight_col path the production ranking uses
    (pagerank_exact weight_col='n_support'); this key certifies the
    weighted split cross-engine — per-edge (pr·w) div outdeg floor
    included — which the unweighted kg_pagerank cannot see."""
    li = _lineitem(spark, sf).select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("p"),
    )
    pairs = li.groupBy("s", "p").agg(
        F.count(F.lit(1)).cast("long").alias("_w"))
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("src"), F.col("p").alias("dst"),
                    F.col("_w"),
                ),
                F.struct(
                    F.col("p").alias("src"), F.col("s").alias("dst"),
                    F.col("_w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e._w")
    pr = pagerank_exact(edges, iters=PR_ITERS, weight_col="_w")
    return (
        pr.select(F.col("src").alias("node"), "pr")
        .orderBy(F.col("pr").desc(), "node")
        .limit(25)
    )


def kg_pagerank_weighted_sql() -> str:
    total, dpct, n_it = PR_TOTAL_MASS, PR_DAMPING_PCT, PR_ITERS
    iters = []
    prev = "pr0"
    for i in range(1, n_it + 1):
        iters.append(
            f"""inc{i} AS (
        SELECT e.dst AS src, sum((p.pr * e.w) // d.outdeg) AS inc
        FROM edges e JOIN {prev} p ON p.src = e.src
        JOIN deg d ON d.src = e.src GROUP BY e.dst),
      pr{i} AS (
        SELECT d.src,
               CAST(({100 - dpct} * {total}) // (100 * (SELECT n FROM nn))
                    + ({dpct} * coalesce(i.inc, 0)) // 100 AS BIGINT) AS pr
        FROM deg d LEFT JOIN inc{i} i ON i.src = d.src)"""
        )
        prev = f"pr{i}"
    chain = ",\n      ".join(iters)
    return f"""
      WITH pairs AS (
        SELECT 's' || l_suppkey AS s, 'p' || l_partkey AS p,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2),
      edges AS (
        SELECT s AS src, p AS dst, w FROM pairs
        UNION ALL SELECT p AS src, s AS dst, w FROM pairs),
      deg AS (SELECT src, sum(w) AS outdeg FROM edges GROUP BY src),
      nn AS (SELECT count(*) AS n FROM deg),
      pr0 AS (
        SELECT src, CAST({total} // (SELECT n FROM nn) AS BIGINT) AS pr
        FROM deg),
      {chain}
      SELECT src AS node, pr FROM {prev}
      ORDER BY pr DESC, node LIMIT 25
    """


def kg_pagerank_sql() -> str:
    total, dpct, n_it = PR_TOTAL_MASS, PR_DAMPING_PCT, PR_ITERS
    iters = []
    prev = "pr0"
    for i in range(1, n_it + 1):
        iters.append(
            f"""inc{i} AS (
        SELECT e.dst AS src, sum(p.pr // d.outdeg) AS inc
        FROM edges e JOIN {prev} p ON p.src = e.src
        JOIN deg d ON d.src = e.src GROUP BY e.dst),
      pr{i} AS (
        SELECT d.src,
               CAST(({100 - dpct} * {total}) // (100 * (SELECT n FROM nn))
                    + ({dpct} * coalesce(i.inc, 0)) // 100 AS BIGINT) AS pr
        FROM deg d LEFT JOIN inc{i} i ON i.src = d.src)"""
        )
        prev = f"pr{i}"
    chain = ",\n      ".join(iters)
    return f"""
      WITH pairs AS (
        SELECT DISTINCT 's' || l_suppkey AS s, 'p' || l_partkey AS p
        FROM lineitem),
      edges AS (
        SELECT s AS src, p AS dst FROM pairs
        UNION ALL SELECT p AS src, s AS dst FROM pairs),
      deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      nn AS (SELECT count(*) AS n FROM deg),
      pr0 AS (
        SELECT src, CAST({total} // (SELECT n FROM nn) AS BIGINT) AS pr
        FROM deg),
      {chain}
      SELECT src AS node, pr FROM {prev}
      ORDER BY pr DESC, node LIMIT 25
    """


def ppr_exact(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = PR_ITERS,
    damping_pct: int = PR_DAMPING_PCT,
    total_mass: int = PR_TOTAL_MASS,
    checkpoint_every: int = 8,
    rank_join_hint: str | None = None,
) -> DataFrame:
    """Personalized PageRank (seed-restart): salience of every node WITH
    RESPECT TO a topic, where `seeds` (one column `src`) defines the
    topic. Same exact-integer-mass machinery as pagerank_exact — the one
    change is where restart mass lands: instead of total/n to every node,
    (100−d)% of the mass returns to the SEEDS each round (total/|S| per
    seed), so rank decays with distance from the seed set. This answers
    the KG query global PageRank can't: "which entities matter *for this
    topic*" (query-time entity salience, RWR in the literature).

    Per iteration: the identical two shuffles as pagerank_exact (one
    edge⋈rank equi-join + one map-side-combinable bigint sum) plus a
    broadcast-friendly left-semi seed flag computed ONCE outside the
    loop. Deterministic: floor-div integer mass, no floats anywhere.
    Returns (src, pr); mass conservation: sum(pr) ≈ total_mass with the
    same ≤ n+|E| units/round floor-div loss as the global variant."""
    edges = edges.select("src", "dst").persist()
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # seed flag + |S| ride the degree table (computed once, loop-invariant)
    deg = deg.join(
        seeds.select("src").distinct().withColumn("_s", F.lit(1)),
        "src", "left",
    ).select("src", "outdeg", F.coalesce("_s", F.lit(0)).alias("_s")).persist()
    ns = deg.agg(F.sum("_s").alias("_ns")).withColumn("_k", F.lit(1))
    pr = (
        deg.withColumn("_k", F.lit(1))
        .join(F.broadcast(ns), "_k")
        .select("src", F.expr(f"(_s * {total_mass}) div _ns").alias("pr"))
    )
    base = (
        f"((_s * {100 - damping_pct} * cast({total_mass} as bigint))"
        f" div (100 * _ns))"
    )
    for i in range(iters):
        rank_side = pr.join(deg, "src")
        if rank_join_hint:
            rank_side = rank_side.hint(rank_join_hint)
        incoming = (
            edges.join(rank_side, "src")
            .select(
                F.col("dst").alias("src"),
                F.expr("pr div outdeg").alias("c"),
            )
            .groupBy("src")
            .agg(F.sum("c").alias("inc"))
        )
        pr = (
            deg.join(incoming, "src", "left")
            .withColumn("_k", F.lit(1))
            .join(F.broadcast(ns), "_k")
            .select(
                "src",
                F.expr(
                    f"cast({base} + ({damping_pct} * coalesce(inc, 0L))"
                    " div 100 as long)"
                ).alias("pr"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            pr = pr.localCheckpoint(eager=True)
    return pr


PPR_SEED_NATION = 1  # topic for the contract key: nation-1 suppliers


def kg_ppr(spark: SparkSession, sf: str) -> DataFrame:
    """Topic-conditioned entity salience: personalized PageRank on the
    supplier↔part graph, restarting at the suppliers of nation
    PPR_SEED_NATION — "which parts/suppliers matter for this nation's
    supply base". Top-25 by rank; a disjoint result set from global
    kg_pagerank by construction (global hubs outside the seed
    neighborhood drop)."""
    seeds = (
        spark.read.parquet(f"{sf}/supplier.parquet")
        .filter(F.col("s_nationkey") == PPR_SEED_NATION)
        .select(F.concat(F.lit("s"), F.col("s_suppkey")).alias("src"))
    )
    pr = ppr_exact(_bipartite_edges(spark, sf), seeds, iters=PR_ITERS)
    return (
        pr.filter(F.col("pr") > 0)
        .select(F.col("src").alias("node"), "pr")
        .orderBy(F.col("pr").desc(), "node")
        .limit(25)
    )


def kg_ppr_sql() -> str:
    total, dpct, n_it = PR_TOTAL_MASS, PR_DAMPING_PCT, PR_ITERS
    iters = []
    prev = "pr0"
    for i in range(1, n_it + 1):
        iters.append(
            f"""inc{i} AS (
        SELECT e.dst AS src, sum(p.pr // d.outdeg) AS inc
        FROM edges e JOIN {prev} p ON p.src = e.src
        JOIN deg d ON d.src = e.src GROUP BY e.dst),
      pr{i} AS (
        SELECT d.src,
               CAST((d._s * {100 - dpct} * {total})
                      // (100 * (SELECT ns FROM nn))
                    + ({dpct} * coalesce(i.inc, 0)) // 100 AS BIGINT) AS pr
        FROM deg d LEFT JOIN inc{i} i ON i.src = d.src)"""
        )
        prev = f"pr{i}"
    chain = ",\n      ".join(iters)
    return f"""
      WITH pairs AS (
        SELECT DISTINCT 's' || l_suppkey AS s, 'p' || l_partkey AS p
        FROM lineitem),
      edges AS (
        SELECT s AS src, p AS dst FROM pairs
        UNION ALL SELECT p AS src, s AS dst FROM pairs),
      seeds AS (
        SELECT DISTINCT 's' || s_suppkey AS src FROM supplier
        WHERE s_nationkey = {PPR_SEED_NATION}),
      deg AS (
        SELECT e.src, count(*) AS outdeg,
               CASE WHEN max(s.src) IS NOT NULL THEN 1 ELSE 0 END AS _s
        FROM edges e LEFT JOIN seeds s ON s.src = e.src
        GROUP BY e.src),
      nn AS (SELECT sum(_s) AS ns FROM deg),
      pr0 AS (
        SELECT src, CAST((_s * {total}) // (SELECT ns FROM nn) AS BIGINT)
               AS pr
        FROM deg),
      {chain}
      SELECT src AS node, pr FROM {prev}
      WHERE pr > 0
      ORDER BY pr DESC, node LIMIT 25
    """


def graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the part co-purchase graph: one row of exact
    integer statistics (edges, wedges, triangles, clustering in ppm)."""
    return triangle_stats(_copurchase_edges(spark, sf))


def graph_triangles_sql() -> str:
    return """
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      deg AS (
        SELECT x, count(*) AS d FROM (
          SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        GROUP BY x),
      w AS (SELECT sum((d * (d - 1)) // 2) AS n_wedges FROM deg),
      t AS (
        SELECT count(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e2.u = e1.v
        WHERE EXISTS (
          SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)),
      c AS (SELECT count(*) AS n_edges FROM e)
      SELECT c.n_edges, w.n_wedges, t.n_triangles,
             CAST(CASE WHEN w.n_wedges > 0
                  THEN (3 * t.n_triangles * 1000000) // w.n_wedges
                  ELSE 0 END AS BIGINT) AS clustering_ppm
      FROM c, w, t
    """


def graph_minlabel(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded min-label propagation on the (symmetrized) co-purchase
    graph (1-in-50 order sparsification — see _copurchase_edges):
    label-cluster sizes after 3 rounds, top-20 by size. The convergent
    version of this loop is G1 connected components — this key puts its
    per-round relational core under the cross-engine gate."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    lab = minlabel_propagate(_symmetrize(und, "u", "v"), iters=MINLABEL_ITERS)
    return (
        lab.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), "label")
        .limit(20)
    )


def _copurchase_ctes() -> str:
    """The shared sparsified co-purchase CTEs (li → e → sym), `e`
    MATERIALIZED (consumers reference it 2-3 times, and DuckDB
    re-evaluates inlined multi-reference CTEs) — composed by the
    minlabel/modularity chain and graph_linkpred_sql."""
    return f"""li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {MINLABEL_ORDER_MOD} = 0),
      e AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      sym AS (
        SELECT u AS src, v AS dst FROM e
        UNION ALL SELECT v AS src, u AS dst FROM e)"""


def _minlabel_ctes() -> tuple[str, str]:
    """The shared sparsified-co-purchase + unrolled-propagation CTE chain
    (li → e → sym → l0 → rounds), returned as (ctes, final_label_cte) —
    composed by graph_minlabel_sql and graph_modularity_sql (the same
    named-helper discipline as _bpe_train_ctes). `e` and the final round
    are MATERIALIZED: the modularity oracle references each 2-3 times,
    and DuckDB re-evaluates inlined multi-reference CTEs — for the
    history-dependent propagation chain that is exponential (the
    graph_scc lesson)."""
    rounds = []
    prev = "l0"
    for i in range(1, MINLABEL_ITERS + 1):
        mat = " MATERIALIZED" if i == MINLABEL_ITERS else ""
        rounds.append(
            f"""nm{i} AS (
        SELECT e.dst AS src, min(p.label) AS nl
        FROM sym e JOIN {prev} p ON p.src = e.src GROUP BY e.dst),
      l{i} AS{mat} (
        SELECT p.src, least(p.label, coalesce(m.nl, p.label)) AS label
        FROM {prev} p LEFT JOIN nm{i} m ON m.src = p.src)"""
        )
        prev = f"l{i}"
    chain = ",\n      ".join(rounds)
    ctes = f"""{_copurchase_ctes()},
      nodes AS (SELECT DISTINCT src FROM sym),
      l0 AS (SELECT src, src AS label FROM nodes),
      {chain}"""
    return ctes, prev


def graph_minlabel_sql() -> str:
    ctes, fin = _minlabel_ctes()
    return f"""
      WITH {ctes}
      SELECT label, count(*) AS n_members FROM {fin}
      GROUP BY label ORDER BY n_members DESC, label LIMIT 20
    """


def modularity_stats(
    edges: DataFrame, labels: DataFrame, top_k: int = 20
) -> DataFrame:
    """Exact integer Newman modularity of a community assignment over
    oriented distinct (u, v) edges — the quality score that turns G5's
    label propagation into a MEASURED community detector (is this
    partition better than that one?).

    Q = Σ_c [e_c/m − (d_c/2m)²] is all ratios, and float division is
    engine- and partition-order-dependent — so, as with the integer-mass
    PageRank, the score is kept EXACT by multiplying through by 4m²:
    per community q_num_4m2 = 4·m·e_c − d_c² (bigint), and
    Q = Σ q_num_4m2 / 4m² whenever a human wants the decimal. No
    floating point, no division (q_num can be negative, and Spark's div
    truncates toward zero while DuckDB's // floors — another reason the
    quotient never appears in gated output), bit-identical at any
    parallelism.

    Scale posture: intra-edge counts are one edge⋈label⋈label hash join
    (labels broadcast when they fit, AQE decides) + a map-side-combinable
    groupBy; degree sums ride _endpoint_degrees' explode; m and the
    global total come back to the driver as ONE bigint each and re-enter
    as literals — a constant-key 1-row ride-along join constant-folds
    its condition away and plans the INTERPRETED
    BroadcastNestedLoopJoin over every probe row (the join_bloom
    lifecycle lesson; the community table is node-scale in the
    all-singletons worst case). `edges`/`labels`/the per-community table
    are persisted: each is referenced 2-3 times downstream. The caches
    must outlive the returned lazy plan (single-shot-per-session by
    design; long-lived sessions should clearCache() between calls)."""
    e = edges.select("u", "v").persist()
    lab = labels.persist()
    lu = lab.select(F.col("src").alias("u"), F.col("label").alias("lu"))
    lv = lab.select(F.col("src").alias("v"), F.col("label").alias("lv"))
    intra = (
        e.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    deg = _endpoint_degrees(e)
    comm = (
        lab.join(deg, lab["src"] == deg["x"])
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d").cast("bigint").alias("degree_sum"),
        )
    )
    m_edges = int(e.agg(F.count(F.lit(1))).first()[0])
    per = (
        comm.join(intra, "label", "left")
        .select(
            "label", "n_members", "degree_sum",
            F.coalesce("intra_edges", F.lit(0).cast("bigint")).alias(
                "intra_edges"),
        )
        .select(
            "label", "n_members", "degree_sum", "intra_edges",
            F.lit(m_edges).cast("bigint").alias("m_edges"),
            F.expr(
                f"4 * cast({m_edges} as bigint) * intra_edges"
                " - degree_sum * degree_sum"
            ).alias("q_num_4m2"),
        )
        .persist()
    )
    q_total = int(per.agg(F.sum("q_num_4m2")).first()[0] or 0)
    return (
        per.withColumn("q_total_4m2", F.lit(q_total).cast("bigint"))
        .orderBy(F.col("n_members").desc(), "label")
        .limit(top_k)
    )


def graph_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: integer modularity of the 3-round min-label communities
    on the sparsified co-purchase graph — top-20 communities by size with
    their exact per-community numerators plus the partition-wide total
    (computed over ALL communities BEFORE the limit, so the value hash
    certifies the full sum, not just the visible rows)."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    lab = minlabel_propagate(_symmetrize(und, "u", "v"), iters=MINLABEL_ITERS)
    return modularity_stats(und, lab)


def graph_modularity_sql() -> str:
    ctes, fin = _minlabel_ctes()
    return f"""
      WITH {ctes},
      deg AS (SELECT src AS x, count(*) AS d FROM sym GROUP BY src),
      comm AS (
        SELECT p.label, CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(d.d) AS BIGINT) AS degree_sum
        FROM {fin} p JOIN deg d ON d.x = p.src GROUP BY p.label),
      intra AS (
        SELECT a.label, CAST(count(*) AS BIGINT) AS intra_edges
        FROM e JOIN {fin} a ON a.src = e.u JOIN {fin} b ON b.src = e.v
        WHERE a.label = b.label GROUP BY a.label),
      m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM e),
      per AS MATERIALIZED (
        SELECT c.label, c.n_members, c.degree_sum,
               CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
               m.m_edges,
               4 * m.m_edges * CAST(COALESCE(i.intra_edges, 0) AS BIGINT)
                 - c.degree_sum * c.degree_sum AS q_num_4m2
        FROM comm c LEFT JOIN intra i ON i.label = c.label CROSS JOIN m)
      SELECT p.label, p.n_members, p.degree_sum, p.intra_edges, p.m_edges,
             p.q_num_4m2, t.q_total_4m2
      FROM per p CROSS JOIN (
        SELECT CAST(sum(q_num_4m2) AS BIGINT) AS q_total_4m2 FROM per) t
      ORDER BY n_members DESC, label LIMIT 20
    """


def assortativity_sums(edges: DataFrame) -> DataFrame:
    """Degree-assortativity moment sums over oriented distinct (u, v)
    edges — the one-row diagnostic that says whether a graph wires
    hub-to-hub (social, r>0) or hub-to-leaf (web/biology, r<0), which
    decides salting and partitioning strategy before any iterative op.

    Newman's r is a Pearson correlation = pure ratios of sums, so (the
    modularity move) only the EXACT bigint moments are emitted, over the
    symmetrized edge list where each directed copy contributes
    (deg(src), deg(dst)): m_sym = 2m, s_x = Σ deg(src) (= Σ deg(dst) by
    symmetry), s_xx = Σ deg(src)² (= Σ deg(dst)²), s_xy = Σ
    deg(src)·deg(dst), plus the assembled r_num = m_sym·s_xy − s_x² and
    r_den = m_sym·s_xx − s_x² (r = r_num/r_den, possibly negative — so
    no in-engine division, ever: Spark div truncates, DuckDB // floors).
    Scale shape: one degree groupBy (map-side combined) + two joins of
    the degree table back onto the edges + one global sum — all hash
    equi-joins, no window, no sort."""
    sym = _symmetrize(edges, "u", "v")
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    j = (
        sym.join(deg.select(F.col("src").alias("_s"),
                            F.col("d").alias("dx")),
                 F.col("src") == F.col("_s"))
        .join(deg.select(F.col("src").alias("_t"), F.col("d").alias("dy")),
              F.col("dst") == F.col("_t"))
    )
    sums = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("m_sym"),
        F.sum("dx").cast("bigint").alias("s_x"),
        F.sum(F.expr("dx * dx")).cast("bigint").alias("s_xx"),
        F.sum(F.expr("dx * dy")).cast("bigint").alias("s_xy"),
    )
    return sums.select(
        "m_sym", "s_x", "s_xx", "s_xy",
        F.expr("m_sym * s_xy - s_x * s_x").alias("r_num"),
        F.expr("m_sym * s_xx - s_x * s_x").alias("r_den"),
    )


def graph_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: exact degree-assortativity moments of the sparsified
    co-purchase graph (one row; r = r_num/r_den offline)."""
    return assortativity_sums(
        _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    )


def graph_assortativity_sql() -> str:
    return f"""
      WITH {_copurchase_ctes()},
      deg AS MATERIALIZED (
        SELECT src, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY src),
      j AS (
        SELECT dx.d AS dx, dy.d AS dy
        FROM sym s
        JOIN deg dx ON dx.src = s.src
        JOIN deg dy ON dy.src = s.dst),
      sums AS (
        SELECT CAST(count(*) AS BIGINT) AS m_sym,
               CAST(sum(dx) AS BIGINT) AS s_x,
               CAST(sum(dx * dx) AS BIGINT) AS s_xx,
               CAST(sum(dx * dy) AS BIGINT) AS s_xy
        FROM j)
      SELECT m_sym, s_x, s_xx, s_xy,
             m_sym * s_xy - s_x * s_x AS r_num,
             m_sym * s_xx - s_x * s_x AS r_den
      FROM sums
    """


LINKPRED_WEDGE_CAP = 64
LINKPRED_TOP = 50


def linkpred_common_neighbors(
    edges: DataFrame,
    wedge_cap: int | None = LINKPRED_WEDGE_CAP,
    top_k: int = LINKPRED_TOP,
) -> DataFrame:
    """Structural link prediction over oriented distinct (u, v) edges —
    the classic common-neighbors / Jaccard heuristic: score every
    NON-edge pair at distance 2 by how many neighbors it shares. The
    structural complement to the TransE link predictor (X6): no training,
    and the two disagree exactly where embeddings add value.

    Candidate generation is the wedge join (same Σ deg(w)² shape as the
    triangle census), with the house hub discipline: wedges CENTERED on
    nodes with degree > wedge_cap are dropped via a map-side-combinable
    degree count + broadcast anti-join before the self-join — a single
    celebrity node would otherwise contribute deg² candidate rows while
    adding near-zero signal (a shared hub neighbor is weak evidence by
    definition). cn therefore counts common NON-HUB neighbors (documented
    estimator, cap-tunable); deg_u/deg_v are true degrees, so jac_ppm =
    cn·10⁶ div (deg_u + deg_v − cn) is a deterministic integer
    lower-bound score. Existing edges are removed with a LEFT ANTI join
    against the edge table itself. Persisted frames feed the returned
    lazy plan 2-3x each — intentionally not unpersisted (single-shot-
    per-session; clearCache() between calls in long-lived sessions)."""
    sym = _symmetrize(edges, "u", "v").persist()
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .persist()
    )
    wsrc = sym
    if wedge_cap is not None:
        hot = deg.filter(F.col("d") > wedge_cap).select("src")
        wsrc = sym.join(F.broadcast(hot), "src", "left_anti")
    e1 = wsrc.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    e2 = wsrc.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    cand = (
        e1.join(e2, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
        .join(edges.select("u", "v"), ["u", "v"], "left_anti")
    )
    return (
        cand.join(
            deg.select(F.col("src").alias("u"), F.col("d").alias("deg_u")),
            "u",
        )
        .join(
            deg.select(F.col("src").alias("v"), F.col("d").alias("deg_v")),
            "v",
        )
        .select(
            "u", "v", "cn", "deg_u", "deg_v",
            F.expr("cn * 1000000 div (deg_u + deg_v - cn)").alias("jac_ppm"),
        )
        .orderBy(F.col("cn").desc(), "u", "v")
        .limit(top_k)
    )


def graph_linkpred(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: top-{LINKPRED_TOP} predicted links (non-edges ranked by
    common non-hub neighbors, Jaccard in exact ppm) on the sparsified
    co-purchase graph."""
    return linkpred_common_neighbors(
        _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    )


def graph_linkpred_sql() -> str:
    return f"""
      WITH {_copurchase_ctes()},
      deg AS MATERIALIZED (
        SELECT src, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY src),
      cold AS MATERIALIZED (
        SELECT s.src, s.dst FROM sym s
        JOIN deg d ON d.src = s.src AND d.d <= {LINKPRED_WEDGE_CAP}),
      cand AS (
        SELECT a.dst AS u, b.dst AS v, CAST(count(*) AS BIGINT) AS cn
        FROM cold a JOIN cold b ON a.src = b.src AND a.dst < b.dst
        GROUP BY a.dst, b.dst),
      nonedge AS (
        SELECT c.u, c.v, c.cn FROM cand c
        LEFT JOIN e ON e.u = c.u AND e.v = c.v
        WHERE e.u IS NULL)
      SELECT n.u, n.v, n.cn, du.d AS deg_u, dv.d AS deg_v,
             n.cn * 1000000 // (du.d + dv.d - n.cn) AS jac_ppm
      FROM nonedge n
      JOIN deg du ON du.src = n.u
      JOIN deg dv ON dv.src = n.v
      ORDER BY cn DESC, u, v LIMIT {LINKPRED_TOP}
    """


KCORE_K = 3
KCORE_ROUNDS = 3


def _endpoint_degrees(e: DataFrame) -> DataFrame:
    """(x, d) degree table from oriented edges — explode of a 2-element
    array, NOT unionByName of two projections: a union re-executes the
    edge-producing subtree once per branch (in an iterative loop that
    compounds per round), explode scans it once and emits both endpoints."""
    return (
        e.select(F.explode(F.array("u", "v")).alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def kcore_peel(
    edges: DataFrame,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Bounded k-core peeling over oriented (u < v) distinct edges: each
    round drops every node whose CURRENT degree is < k, then drops edges
    touching a dropped node. Run to fixpoint this is the k-core
    decomposition (the standard density screen before community detection /
    triangle work on web graphs); truncated at `rounds` it unrolls into
    pure SQL for the cross-engine gate, same bounded-iteration contract as
    minlabel_propagate.

    Relational shape per round: one map-side-combinable degree groupBy +
    two left_semi joins against the (small, shrinking) alive-node set —
    never an adjacency buffer, so a 10^8-degree hub streams. The surviving
    edge list is localCheckpoint-truncated every round by default (same
    policy as graph.py's CC loop): each round's plan references the
    previous round's output several times, so without truncation the
    lineage re-evaluates prior rounds multiplicatively (measured 29s → 9s
    on the sf0.01 gate key at 3 rounds). Returns (node, degree) in the
    surviving subgraph."""
    e = edges.select("u", "v")
    for i in range(rounds):
        alive = _endpoint_degrees(e).filter(F.col("d") >= k).select("x")
        e = (
            e.join(alive.withColumnRenamed("x", "u"), "u", "left_semi")
            .join(alive.withColumnRenamed("x", "v"), "v", "left_semi")
            .select("u", "v")
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < rounds:
            e = e.localCheckpoint(eager=True)
    return _endpoint_degrees(e).select(
        F.col("x").alias("node"), F.col("d").alias("degree")
    )


KTRUSS_K = 4        # every surviving edge must sit in >= k-2 = 2 triangles
KTRUSS_ROUNDS = 2   # bounded unroll for the cross-engine gate


def ktruss_peel(
    edges: DataFrame,
    k: int = KTRUSS_K,
    rounds: int = KTRUSS_ROUNDS,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Bounded k-truss peeling over oriented (u < v) distinct edges: each
    round computes every edge's SUPPORT (the number of triangles it
    closes) and drops edges with support < k−2; removals cascade because
    a dropped edge destroys the triangles it participated in. The truss
    is the edge-analogue of the k-core and the standard stronger density
    screen (cores keep hub-and-spoke noise a truss rejects — a star has
    arbitrarily high core number but zero triangles). Run to fixpoint
    it's the k-truss; truncated at `rounds` it unrolls into pure SQL for
    the gate, the kcore_peel contract.

    Relational shape per round: the oriented triangle enumeration
    (e⋈e⋈e, each triangle a<b<c found exactly once — Σ deg⁺² cost, the
    triangle_stats bound), one explode of each triangle into its three
    edges, one map-side-combinable (u,v) support rollup, one inner join
    back to the edge list. Zero-support edges vanish via the join (no
    supp row ⇒ no output row) — the semantics, not an accident.
    localCheckpoint truncates lineage per round (the kcore_peel policy:
    each round references the previous round's output three times in the
    triangle join — untruncated lineage re-evaluates multiplicatively).
    Returns the surviving oriented edges with their final support."""
    e = edges.select("u", "v")
    for i in range(rounds):
        e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
        e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
        tri = e1.join(e2, "b").join(e3, ["a", "c"])
        supp = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                        F.struct(F.col("b").alias("u"), F.col("c").alias("v")),
                        F.struct(F.col("a").alias("u"), F.col("c").alias("v")),
                    )
                ).alias("t")
            )
            .groupBy("t.u", "t.v")
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        e = (
            e.select("u", "v")  # drop the previous round's sup column
            .join(supp, ["u", "v"])
            .filter(F.col("sup") >= k - 2)
            .select("u", "v", "sup")
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < rounds:
            e = e.localCheckpoint(eager=True)
    return e


def graph_ktruss(spark: SparkSession, sf: str) -> DataFrame:
    """2-round 4-truss peel on the 1-in-50-sparsified co-purchase graph:
    per-node degree + summed edge support inside the surviving truss,
    top-20. The sparsified graph's per-order cliques carry real triangle
    structure while its bridges/pendants have none, so round 1 removes
    triangle-poor edges and round 2's support RECOMPUTATION (on the
    shrunken graph) removes more — the cascade the unrolled oracle
    certifies round-by-round."""
    e = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    truss = ktruss_peel(e, k=KTRUSS_K, rounds=KTRUSS_ROUNDS)
    both = truss.select(F.col("u").alias("x"), "sup").unionByName(
        truss.select(F.col("v").alias("x"), "sup")
    )
    return (
        both.groupBy(F.col("x").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("degree"),
            F.sum("sup").cast("bigint").alias("support_sum"),
        )
        .orderBy(F.col("degree").desc(), F.col("support_sum").desc(), "node")
        .limit(20)
    )


def graph_ktruss_sql() -> str:
    k, rounds = KTRUSS_K, KTRUSS_ROUNDS
    steps = []
    prev = "e0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""t{i} AS (
        SELECT x1.u AS a, x1.v AS b, x2.v AS c
        FROM {prev} x1 JOIN {prev} x2 ON x1.v = x2.u
        JOIN {prev} x3 ON x3.u = x1.u AND x3.v = x2.v),
      s{i} AS (
        SELECT u, v, count(*) AS sup FROM (
          SELECT a AS u, b AS v FROM t{i}
          UNION ALL SELECT b, c FROM t{i}
          UNION ALL SELECT a, c FROM t{i})
        GROUP BY u, v),
      e{i} AS (
        SELECT e.u, e.v, s.sup FROM {prev} e
        JOIN s{i} s ON s.u = e.u AND s.v = e.v
        WHERE s.sup >= {k - 2})"""
        )
        prev = f"e{i}"
    chain = ",\n      ".join(steps)
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {MINLABEL_ORDER_MOD} = 0),
      e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      {chain}
      SELECT node, CAST(degree AS BIGINT) AS degree,
             CAST(support_sum AS BIGINT) AS support_sum FROM (
        SELECT x AS node, count(*) AS degree, sum(sup) AS support_sum
        FROM (SELECT u AS x, sup FROM {prev}
              UNION ALL SELECT v AS x, sup FROM {prev})
        GROUP BY x)
      ORDER BY degree DESC, support_sum DESC, node LIMIT 20
    """


def graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """3-round k-core peel (k=3) on the 1-in-50-sparsified part
    co-purchase graph: surviving-subgraph degrees, top-20. The sparsified
    graph has real pendant/low-degree structure (92 clusters), so each
    round genuinely removes nodes and recomputed degrees cascade — the
    property the unrolled oracle certifies per round."""
    e = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    return (
        kcore_peel(e, k=KCORE_K, rounds=KCORE_ROUNDS)
        .orderBy(F.col("degree").desc(), "node")
        .limit(20)
    )


def graph_kcore_sql() -> str:
    k, rounds = KCORE_K, KCORE_ROUNDS
    steps = []
    prev = "e0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""d{i} AS (
        SELECT x, count(*) AS d FROM (
          SELECT u AS x FROM {prev} UNION ALL SELECT v AS x FROM {prev})
        GROUP BY x),
      a{i} AS (SELECT x FROM d{i} WHERE d >= {k}),
      e{i} AS (
        SELECT u, v FROM {prev}
        WHERE u IN (SELECT x FROM a{i}) AND v IN (SELECT x FROM a{i}))"""
        )
        prev = f"e{i}"
    chain = ",\n      ".join(steps)
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {MINLABEL_ORDER_MOD} = 0),
      e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      {chain}
      SELECT x AS node, CAST(d AS BIGINT) AS degree FROM (
        SELECT x, count(*) AS d FROM (
          SELECT u AS x FROM {prev} UNION ALL SELECT v AS x FROM {prev})
        GROUP BY x)
      ORDER BY degree DESC, node LIMIT 20
    """


BFS_ROUNDS = 3
BFS_SEED_MOD = 100


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = BFS_ROUNDS,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Multi-source bounded BFS over symmetric edges (src, dst): min-hop
    distance from the seed set, truncated at `iters` hops. The KG-consumer
    query this serves is neighborhood expansion — "every entity within k
    hops of these seed entities" (entity-context harvesting, blast-radius
    queries) — and bounded-frontier BFS is also the per-round core of any
    shortest-path job.

    Relational shape per round: one equi-join of the edge list against the
    current distance table + one map-side-combinable groupBy(min) — the
    same skew-safe iteration as pagerank_exact/minlabel_propagate (a
    celebrity hub's fanout streams through the join; no adjacency arrays,
    no frontier ever collected to the driver). The distance table is
    monotone (min of a growing union), so each round's output is bounded
    by the reachable node set, not the frontier × degree product.
    Lineage truncates every `checkpoint_every` rounds like the CC loop.

    seeds: one column `node`. Returns (node, dist) for every node within
    `iters` hops; dist 0 = seed. Unreached nodes are absent (at web scale
    the reached set is the small output; materializing "unreached" would
    be a full node-table anti-join the caller can do if wanted)."""
    edges = edges.select("src", "dst").persist()  # loop-invariant
    dist = seeds.select("node", F.lit(0).alias("dist"))
    for i in range(iters):
        nbr = (
            edges.join(
                dist.withColumnRenamed("node", "_s"),
                F.col("src") == F.col("_s"),
            )
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            dist = dist.localCheckpoint(eager=True)
    return dist


def graph_bfs(spark: SparkSession, sf: str) -> DataFrame:
    """3-hop multi-source BFS on the 1-in-50-sparsified co-purchase graph
    (the graph with real component structure — see _copurchase_edges):
    seeds = every part key divisible by BFS_SEED_MOD that appears in the
    graph. Certifies the frontier-join + groupBy(min) round core the
    unrolled oracle expresses per hop."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    sym = _symmetrize(und, "u", "v")
    seeds = (
        sym.select(F.col("src").alias("node"))
        .filter(F.col("node") % BFS_SEED_MOD == 0)
        .distinct()
    )
    return bfs_hops(sym, seeds, iters=BFS_ROUNDS)


def shortest_paths_traced(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = BFS_ROUNDS,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Bounded multi-source shortest paths WITH path reconstruction —
    the provenance query G7's hop counts can't answer: not just how far
    an entity is from the seed set but THROUGH WHAT ('why are these two
    connected' is the first question a KG UI gets). Returns (node, dist,
    path) where path is the '>'-joined node chain from the nearest seed.

    Distributed path choice must be deterministic or two runs (or two
    engines) return different valid paths and every hash gate breaks.
    The trick: encode the per-node state as ONE string key
    `lpad(dist, 2, '0') || '|' || path` — min(key) is then exactly the
    (dist, path)-lexicographic minimum (zero-padded dist compares
    numerically; ties broken by path string, arbitrary but total), and
    string min is a map-side-combinable aggregate with identical
    byte-wise semantics in Spark and DuckDB. Same round shape as
    bfs_hops: edge⋈state equi-join + groupBy(min) — no frontier on the
    driver, no adjacency arrays; path strings grow with hop count
    (bounded by iters), not graph size."""
    if iters >= 100:  # 2-char zero-padded dist prefix: lpad TRUNCATES at
        # length 2, so dist>=100 would silently corrupt the min-key order.
        raise ValueError(
            f"shortest_paths_traced supports iters < 100 (got {iters}): "
            "the dist prefix is 2 zero-padded chars; widen the pad to go "
            "deeper")
    # loop-invariant edge cache; must outlive the returned lazy plan
    # (single-shot-per-session — see modularity_stats' note)
    edges = edges.select("src", "dst").persist()
    cur = seeds.select(
        "node",
        F.concat(F.lit("00|"), F.col("node").cast("string")).alias("k"),
    )
    for i in range(iters):
        nbr = (
            edges.join(
                cur.withColumnRenamed("node", "_s"),
                F.col("src") == F.col("_s"),
            )
            .select(
                F.col("dst").alias("node"),
                F.concat(
                    F.lpad(
                        (F.substring("k", 1, 2).cast("int") + 1).cast(
                            "string"), 2, "0"),
                    F.lit("|"),
                    F.expr("substring(k, 4)"),
                    F.lit(">"),
                    F.col("dst").cast("string"),
                ).alias("k"),
            )
        )
        cur = (
            cur.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("k").alias("k"))
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            cur = cur.localCheckpoint(eager=True)
    return cur.select(
        "node",
        F.substring("k", 1, 2).cast("int").alias("dist"),
        F.expr("substring(k, 4)").alias("path"),
    )


def graph_path(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: traced shortest paths from the graph_bfs seed set on the
    sparsified co-purchase graph — every reached node's distance AND its
    deterministic witness path under one value hash (a wrong frontier,
    a lost tie-break, or a corrupted path string anywhere fails it)."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    sym = _symmetrize(und, "u", "v")
    seeds = (
        sym.select(F.col("src").alias("node"))
        .filter(F.col("node") % BFS_SEED_MOD == 0)
        .distinct()
    )
    return shortest_paths_traced(sym, seeds, iters=BFS_ROUNDS).orderBy(
        "node")


def graph_path_sql() -> str:
    rounds, mod = BFS_ROUNDS, BFS_SEED_MOD
    steps = []
    prev = "p0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""n{i} AS (
        SELECT e.dst AS node,
               min(lpad(CAST(CAST(substr(p.k, 1, 2) AS INT) + 1 AS VARCHAR),
                        2, '0')
                   || '|' || substr(p.k, 4) || '>' || CAST(e.dst AS VARCHAR))
               AS k
        FROM edges e JOIN {prev} p ON p.node = e.src GROUP BY e.dst),
      p{i} AS (
        SELECT node, min(k) AS k FROM (
          SELECT node, k FROM {prev}
          UNION ALL SELECT node, k FROM n{i})
        GROUP BY node)"""
        )
        prev = f"p{i}"
    chain = ",\n      ".join(steps)
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {MINLABEL_ORDER_MOD} = 0),
      e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      edges AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM e0
        UNION ALL SELECT v AS src, u AS dst FROM e0),
      seeds AS (
        SELECT DISTINCT src AS node FROM edges WHERE src % {mod} = 0),
      p0 AS (
        SELECT node, '00|' || CAST(node AS VARCHAR) AS k FROM seeds),
      {chain}
      SELECT node, CAST(substr(k, 1, 2) AS INT) AS dist,
             substr(k, 4) AS path
      FROM {prev} ORDER BY node
    """


def graph_bfs_sql() -> str:
    rounds, mod = BFS_ROUNDS, BFS_SEED_MOD
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""c{i} AS (
        SELECT e.dst AS node, min(p.dist) + 1 AS dist
        FROM edges e JOIN {prev} p ON p.node = e.src GROUP BY e.dst),
      d{i} AS (
        SELECT node, min(dist) AS dist FROM (
          SELECT node, dist FROM {prev}
          UNION ALL SELECT node, dist FROM c{i})
        GROUP BY node)"""
        )
        prev = f"d{i}"
    chain = ",\n      ".join(steps)
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {MINLABEL_ORDER_MOD} = 0),
      e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      edges AS (
        SELECT u AS src, v AS dst FROM e0
        UNION ALL SELECT v AS src, u AS dst FROM e0),
      d0 AS (
        SELECT DISTINCT src AS node, 0 AS dist FROM edges
        WHERE src % {mod} = 0),
      {chain}
      SELECT node, dist FROM {prev}
    """


PMI_MIN_SUPPORT = 3
PMI_TOP = 50


def edge_pmi(inc: DataFrame) -> DataFrame:
    """Integer-PMI edge-confidence weighting for co-occurrence edges —
    the scoring step that separates informative KG links from hub noise:
    raw support favors promiscuous entities (a part in every order
    co-occurs with everything), while PMI = log p(x,y)/(p(x)p(y))
    normalizes by both marginals. Quantized to WHOLE BITS via exact
    integer log2 (length(bin(n)) — identical Spark/DuckDB), the same
    partition-order-proof move as txt_lm_score and the integer-mass
    PageRank: pmi_bits = bits(n_xy·N) − bits(n_x·n_y), exact bigint end
    to end (negative ⇒ anti-correlated beyond hub expectation).

    Input `inc`: the distinct (g, e) group↔entity incidence. Scale
    shape: pair support and entity marginals are map-side-combinable
    counts; the marginal table joins back twice on its own key; the
    scalar N comes back to the driver as one bigint and re-enters the
    pmi expression as a literal (a 1-row ride-along join constant-folds
    into the interpreted BroadcastNestedLoopJoin over the pair-support
    table — the Σ|group|²-scale side). Pair generation is the per-group
    self-join (Σ|group|² — bounded by group size here; cap heavy groups
    first with the er_jaccard_candidates df-cap mechanics when groups
    can be hot). Returns (x, y, n_xy, pmi_bits), x < y."""
    pairs = (
        inc.select("g", F.col("e").alias("x"))
        .join(inc.select("g", F.col("e").alias("y")), "g")
        .filter(F.col("x") < F.col("y"))
    )
    sup = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_xy"))
    deg = inc.groupBy("e").agg(F.count(F.lit(1)).alias("d"))
    n = int(inc.select("g").distinct().count())
    return (
        sup.join(deg.select(F.col("e").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("e").alias("y"), F.col("d").alias("dy")), "y")
        .select(
            "x", "y", "n_xy",
            F.expr(
                f"length(bin(n_xy * cast({n} as bigint)))"
                " - length(bin(dx * dy))"
            ).alias("pmi_bits"),
        )
    )


def kg_edge_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 co-purchase edges by integer-PMI over the full (unsparsified)
    order↔part incidence, min support 3: the edge-confidence ranking the
    materialized KG stores alongside raw support (A3)."""
    li = (
        _lineitem(spark, sf)
        .select(F.col("l_orderkey").alias("g"), F.col("l_partkey").alias("e"))
        .distinct()
    )
    return (
        edge_pmi(li)
        .filter(F.col("n_xy") >= PMI_MIN_SUPPORT)
        .orderBy(F.desc("pmi_bits"), F.desc("n_xy"), "x", "y")
        .limit(PMI_TOP)
    )


def kg_edge_pmi_sql() -> str:
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS p FROM lineitem),
      pairs AS (
        SELECT a.g, a.p AS x, b.p AS y
        FROM li a JOIN li b ON a.g = b.g AND a.p < b.p),
      sup AS (
        SELECT x, y, count(*) AS n_xy FROM pairs GROUP BY x, y),
      degx AS (
        SELECT p AS x, count(*) AS d FROM li GROUP BY p),
      ntot AS (SELECT count(DISTINCT g) AS n FROM li)
      SELECT s.x, s.y, s.n_xy,
             length(bin(s.n_xy * ntot.n)) - length(bin(d1.d * d2.d))
               AS pmi_bits
      FROM sup s
      JOIN degx d1 ON d1.x = s.x
      JOIN degx d2 ON d2.x = s.y
      CROSS JOIN ntot
      WHERE s.n_xy >= {PMI_MIN_SUPPORT}
      ORDER BY pmi_bits DESC, s.n_xy DESC, s.x, s.y
      LIMIT {PMI_TOP}
    """


SSSP_ROUNDS = 3
SSSP_SEED_MOD = 100
SSSP_WEIGHT_MOD = 5


def sssp_relax(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = SSSP_ROUNDS,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Bounded Bellman-Ford over weighted edges (src, dst, w): min-cost
    distance from the seed set, truncated at `iters` relaxation rounds
    (exact for every node whose shortest path uses ≤ iters edges — the
    bounded-neighborhood contract bfs_hops has, generalized to weights).
    The KG query this serves is weighted proximity: "cheapest association
    path from these seed entities" where edge cost encodes link strength
    or traversal penalty, which hop-count BFS cannot rank.

    Relational shape per round is IDENTICAL to bfs_hops — one equi-join of
    the loop-invariant edge list against the one-row-per-node distance
    table, then one map-side-combinable groupBy(min) over the union with
    the previous round (monotone non-increasing per node, so the table is
    bounded by the reachable set). Hub fanout streams through the join;
    AQE skew-split applies; no adjacency arrays, nothing to the driver.
    Integer weights ⇒ exact bigint arithmetic, partition-order-proof.

    seeds: one column `node`. Returns (node, dist)."""
    edges = edges.select("src", "dst", "w").persist()  # loop-invariant
    dist = seeds.select("node", F.lit(0).alias("dist"))
    for i in range(iters):
        nbr = (
            edges.join(
                dist.withColumnRenamed("node", "_s"),
                F.col("src") == F.col("_s"),
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            dist = dist.localCheckpoint(eager=True)
    return dist


def graph_sssp(spark: SparkSession, sf: str) -> DataFrame:
    """3-round multi-source Bellman-Ford on the sparsified co-purchase
    graph with deterministic integer weights w = 1 + (u+v) % 5 (symmetric
    in (u,v), so both directions of an undirected edge cost the same);
    seeds = BFS's seed rule. Distinct from graph_bfs on the same graph:
    a 2-edge path of weight 2 beats a 1-edge path of weight 5, so the
    weighted ranks genuinely differ from hop counts."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    wund = und.select(
        "u", "v",
        (F.lit(1) + (F.col("u") + F.col("v")) % SSSP_WEIGHT_MOD).alias("w"),
    )
    sym = wund.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e"),
        "w",
    ).select("e.src", "e.dst", "w")
    seeds = (
        sym.select(F.col("src").alias("node"))
        .filter(F.col("node") % SSSP_SEED_MOD == 0)
        .distinct()
    )
    return sssp_relax(sym, seeds, iters=SSSP_ROUNDS)


def graph_sssp_sql() -> str:
    rounds, mod = SSSP_ROUNDS, SSSP_SEED_MOD
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""c{i} AS (
        SELECT e.dst AS node, min(p.dist + e.w) AS dist
        FROM edges e JOIN {prev} p ON p.node = e.src GROUP BY e.dst),
      d{i} AS (
        SELECT node, min(dist) AS dist FROM (
          SELECT node, dist FROM {prev}
          UNION ALL SELECT node, dist FROM c{i})
        GROUP BY node)"""
        )
        prev = f"d{i}"
    chain = ",\n      ".join(steps)
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {MINLABEL_ORDER_MOD} = 0),
      e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      ew AS (
        SELECT u, v, 1 + (u + v) % {SSSP_WEIGHT_MOD} AS w FROM e0),
      edges AS (
        SELECT u AS src, v AS dst, w FROM ew
        UNION ALL SELECT v AS src, u AS dst, w FROM ew),
      d0 AS (
        SELECT DISTINCT src AS node, 0 AS dist FROM edges
        WHERE src % {mod} = 0),
      {chain}
      SELECT node, dist FROM {prev}
    """


# ---------------------------------------------------------------- registry --

HITS_ITERS = 2
HITS_TOP = 20


def hits_exact(
    edges: DataFrame,
    iters: int = HITS_ITERS,
    total_mass: int = PR_TOTAL_MASS,
) -> DataFrame:
    """Integer-mass HITS (hubs & authorities) over a DIRECTED edge list
    (src, dst). PageRank ranks by random-walk visitation; HITS answers the
    complementary KG question — which entities point at the important ones
    (hubs: aggregator pages, prolific suppliers) vs which are pointed AT
    (authorities). Kleinberg's formulation normalizes with an L2 norm
    (floats — partition-order-dependent, see module docstring); we use the
    L1 integer analogue: after each matvec every score is rescaled to
    floor(raw * total_mass / sum(raw)), so the vector sums back to
    total_mass up to n units of floor loss. The product needs 128-bit
    intermediates (raw * total_mass <= maxdeg * 10^24): decimal(38,0) in
    Spark and HUGEINT in DuckDB compute it exactly and identically
    (verified bit-equal), keeping the result partition-order-independent
    with headroom up to maxdeg ~ 10^13.

    Per half-iteration: one equi-join of the edge list against the
    one-row-per-node score table + one map-side-combinable bigint sum +
    one broadcast one-row scalar join — the same two-shuffle skew-safe
    shape as pagerank_exact (hub edges stream; AQE skew-split applies).

    Lineage policy differs from pagerank_exact (checkpoint every 8):
    HITS's normalizer is recomputed per half-iteration and references its
    input twice (once for the scalar sum, once for the rescale join), so
    the plan DOUBLES per half-iteration — 2^(2·iters) subtree copies by
    the end (measured 92s vs 2s at sf0.01 for iters=2). Each raw-sum
    table is persisted for the duration of its two consumers and each
    normalized score vector is eagerly localCheckpoint'd (a one-row-per-
    node table, the same materialization size pagerank's checkpoints
    carry), keeping both plan and recompute linear in iters.

    Returns (node, role, score): role 'hub' for src-side scores, 'auth'
    for dst-side, score in integer mass units."""
    edges = edges.select("src", "dst").persist()
    hubs = edges.select("src").distinct()
    nh = hubs.agg(F.count(F.lit(1)).alias("_n")).withColumn("_k", F.lit(1))
    h = (
        hubs.withColumn("_k", F.lit(1))
        .join(F.broadcast(nh), "_k")
        .select("src", F.expr(f"{total_mass} div _n").alias("score"))
    )

    def _renorm(raw: DataFrame, key: str) -> DataFrame:
        raw = raw.persist()
        tot = raw.agg(F.sum("raw").alias("_t")).withColumn("_k", F.lit(1))
        out = (
            raw.withColumn("_k", F.lit(1))
            .join(F.broadcast(tot), "_k")
            .select(
                key,
                F.expr(
                    f"cast(cast(raw as decimal(38,0)) * {total_mass}"
                    " div _t as bigint)"
                ).alias("score"),
            )
            .localCheckpoint(eager=True)
        )
        raw.unpersist()
        return out

    a = None
    for _ in range(iters):
        a_raw = (
            edges.join(h, "src")
            .groupBy("dst")
            .agg(F.sum("score").alias("raw"))
        )
        a = _renorm(a_raw, "dst")
        h_raw = (
            edges.join(a, "dst")
            .groupBy("src")
            .agg(F.sum("score").alias("raw"))
        )
        h = _renorm(h_raw, "src")
    return h.select(
        F.col("src").alias("node"), F.lit("hub").alias("role"), "score"
    ).unionByName(
        a.select(
            F.col("dst").alias("node"), F.lit("auth").alias("role"), "score"
        )
    )


def graph_hits(spark: SparkSession, sf: str) -> DataFrame:
    """Hubs & authorities of the DIRECTED supplier→part graph (2-iteration
    integer HITS): top-20 hubs (suppliers whose parts are widely sourced)
    and top-20 authorities (parts carried by the strongest suppliers).
    The bipartite direction makes the two roles genuinely different
    rankings — the property global PageRank on the symmetrized graph
    cannot express."""
    from pyspark.sql import Window

    pairs = (
        _lineitem(spark, sf)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
        )
        .distinct()
    )
    scores = hits_exact(pairs, iters=HITS_ITERS)
    w = Window.partitionBy("role").orderBy(F.col("score").desc(), "node")
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HITS_TOP)
        .select("node", "role", "score")
        .orderBy("role", F.col("score").desc(), "node")
    )


def graph_hits_sql() -> str:
    total, n_it = PR_TOTAL_MASS, HITS_ITERS
    rounds = []
    prev_h = "h0"
    for i in range(1, n_it + 1):
        rounds.append(
            f"""ar{i} AS (
        SELECT e.dst, sum(p.score) AS raw
        FROM edges e JOIN {prev_h} p ON p.src = e.src GROUP BY e.dst),
      a{i} AS (
        SELECT dst,
               CAST(CAST(raw AS HUGEINT) * {total}
                    // (SELECT sum(raw) FROM ar{i}) AS BIGINT) AS score
        FROM ar{i}),
      hr{i} AS (
        SELECT e.src, sum(p.score) AS raw
        FROM edges e JOIN a{i} p ON p.dst = e.dst GROUP BY e.src),
      h{i} AS (
        SELECT src,
               CAST(CAST(raw AS HUGEINT) * {total}
                    // (SELECT sum(raw) FROM hr{i}) AS BIGINT) AS score
        FROM hr{i})"""
        )
        prev_h = f"h{i}"
    chain = ",\n      ".join(rounds)
    return f"""
      WITH edges AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
        FROM lineitem),
      hubs AS (SELECT DISTINCT src FROM edges),
      h0 AS (
        SELECT src,
               CAST({total} // (SELECT count(*) FROM hubs) AS BIGINT)
               AS score
        FROM hubs),
      {chain},
      both_roles AS (
        SELECT src AS node, 'hub' AS role, score FROM h{n_it}
        UNION ALL
        SELECT dst AS node, 'auth' AS role, score FROM a{n_it}),
      ranked AS (
        SELECT node, role, score,
               row_number() OVER (PARTITION BY role
                                  ORDER BY score DESC, node) AS rn
        FROM both_roles)
      SELECT node, role, score FROM ranked WHERE rn <= {HITS_TOP}
      ORDER BY role, score DESC, node
    """


ER_PART_CAP = 40   # drop parts stocked by more than this many suppliers
ER_TOP = 25


def er_jaccard_candidates(
    sp: DataFrame,
    cap: int = ER_PART_CAP,
    jac_scale: int = 1_000_000,
) -> DataFrame:
    """Entity-resolution candidate pairs by neighborhood overlap: two
    left-side entities (suppliers) are merge candidates when the Jaccard
    similarity of their right-side neighbor sets (parts) is high — the KG
    alias-discovery op for entities the explicit alias table misses (two
    crawled storefronts stocking near-identical catalogs are likely the
    same merchant). Input `sp` is the distinct bipartite incidence list
    (s, p).

    Scale shape: the pair generation self-joins on p, so the intermediate
    is Σ_p |suppliers(p)|² — quadratic in the hottest neighbor. The cap
    drops neighbors hotter than `cap` BEFORE pairing (a part every
    supplier carries is as uninformative for identity as a stopword, the
    same signal/scale argument as the df-cap in dedup_ngram_jaccard), via
    one map-side-combinable count + join — bounding the blowup at
    cap²·n_parts regardless of skew. Degrees are recomputed on the capped
    graph so the Jaccard stays internally consistent. Integer ppm output
    (floor-div), no floats. Returns (s1, s2, n_shared, jac_ppm), s1 < s2."""
    sp = sp.select("s", "p").distinct()
    keep = (
        sp.groupBy("p")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") <= cap)
        .select("p")
    )
    capped = sp.join(keep, "p", "left_semi").persist()
    deg = capped.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    inter = (
        capped.select("p", F.col("s").alias("s1"))
        .join(capped.select("p", F.col("s").alias("s2")), "p")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(deg.select(F.col("s").alias("s1"), F.col("d").alias("d1")), "s1")
        .join(deg.select(F.col("s").alias("s2"), F.col("d").alias("d2")), "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            F.expr(
                f"(n_shared * cast({jac_scale} as bigint))"
                " div (d1 + d2 - n_shared)"
            ).alias("jac_ppm"),
        )
    )


ER_EDIT_MAX_LEV = 2
ER_EDIT_BLOCK_CAP = 1000
ER_EDIT_PLANT_OFFSET = 1_000_000  # same never-alias rule as the dedup plants


def er_edit_candidates(
    names: DataFrame,
    max_lev: int = ER_EDIT_MAX_LEV,
    block_cap: int = ER_EDIT_BLOCK_CAP,
) -> DataFrame:
    """Entity-resolution candidates by STRING similarity — the fuzzy-
    match tier next to X9's neighborhood Jaccard (two surface forms a
    typo or morphological variant apart are alias candidates even when
    their neighborhoods haven't converged yet). Classic blocked edit
    distance: block on (head noun = last token, first char) so only
    plausibly-same entities are compared — never all pairs — then exact
    Levenshtein ≤ max_lev inside the block (textbook DP, bit-identical
    integers in Spark and DuckDB). Hot blocks (a vocabulary collapse —
    every product named 'item') are removed with the house
    map-side-count + broadcast anti-join before the self-join; Σ|block|²
    is bounded by cap²·n_blocks regardless of skew.

    `names`: (id, name). Returns (a_id, b_id, lev, block), a_id < b_id,
    ordered (lev, a_id, b_id)."""
    blocked = names.select(
        "id", "name",
        F.concat(
            F.element_at(F.split("name", " "), -1),
            F.lit("|"),
            F.substring("name", 1, 1),
        ).alias("block"),
    )
    hot = (
        blocked.groupBy("block")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > block_cap)
        .select("block")
    )
    blocked = blocked.join(F.broadcast(hot), "block", "left_anti")
    a = blocked.select(
        "block", F.col("id").alias("a_id"), F.col("name").alias("a_name"))
    b = blocked.select(
        "block", F.col("id").alias("b_id"), F.col("name").alias("b_name"))
    return (
        a.join(b, "block")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id",
            F.levenshtein("a_name", "b_name").cast("bigint").alias("lev"),
            "block",
        )
        .filter(F.col("lev") <= max_lev)
        .orderBy("lev", "a_id", "b_id")
    )


def kg_er_edit(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: blocked edit-distance ER over part surface forms plus
    deterministic in-query plants (every 29th part gets a 'zz'-injected
    variant at id+offset — edit distance 2, same block by construction),
    so the blocking, the cap mechanics, and the DP distance all do real
    work under the value hash."""
    p = spark.read.parquet(f"{sf}/part.parquet").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name"))
    plants = p.filter(F.col("id") % 29 == 0).select(
        (F.col("id") + ER_EDIT_PLANT_OFFSET).alias("id"),
        F.concat(
            F.substring("name", 1, 2), F.lit("zz"),
            F.expr("substring(name, 3)"),
        ).alias("name"),
    )
    return er_edit_candidates(p.unionByName(plants))


def kg_er_edit_sql() -> str:
    return f"""
      WITH names AS (
        SELECT p_partkey AS id, p_name AS name FROM part
        UNION ALL
        SELECT p_partkey + {ER_EDIT_PLANT_OFFSET} AS id,
               substr(p_name, 1, 2) || 'zz' || substr(p_name, 3) AS name
        FROM part WHERE p_partkey % 29 = 0),
      blocked AS MATERIALIZED (
        SELECT id, name,
               string_split(name, ' ')[-1] || '|' || substr(name, 1, 1)
                 AS block
        FROM names),
      ok AS (SELECT block FROM blocked GROUP BY block
             HAVING count(*) <= {ER_EDIT_BLOCK_CAP})
      SELECT a.id AS a_id, b.id AS b_id,
             CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev,
             a.block
      FROM blocked a
      JOIN ok ON ok.block = a.block
      JOIN blocked b ON b.block = a.block AND a.id < b.id
      WHERE levenshtein(a.name, b.name) <= {ER_EDIT_MAX_LEV}
      ORDER BY lev, a_id, b_id
    """


def kg_er_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier merge candidates by catalog overlap: top-25 supplier pairs
    by part-set Jaccard (ppm) on the capped supplier↔part incidence."""
    sp = _lineitem(spark, sf).select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    )
    return (
        er_jaccard_candidates(sp)
        .orderBy(F.col("jac_ppm").desc(), "s1", "s2")
        .limit(ER_TOP)
    )


def kg_er_jaccard_sql() -> str:
    return f"""
      WITH sp AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
      keep AS (
        SELECT p FROM sp GROUP BY p HAVING count(*) <= {ER_PART_CAP}),
      capped AS (
        SELECT sp.s, sp.p FROM sp JOIN keep ON keep.p = sp.p),
      deg AS (SELECT s, count(*) AS d FROM capped GROUP BY s),
      inter AS (
        SELECT a.s AS s1, b.s AS s2, count(*) AS n_shared
        FROM capped a JOIN capped b ON a.p = b.p AND a.s < b.s
        GROUP BY a.s, b.s)
      SELECT i.s1, i.s2, i.n_shared,
             (i.n_shared * CAST(1000000 AS BIGINT))
               // (d1.d + d2.d - i.n_shared) AS jac_ppm
      FROM inter i
      JOIN deg d1 ON d1.s = i.s1
      JOIN deg d2 ON d2.s = i.s2
      ORDER BY jac_ppm DESC, s1, s2 LIMIT {ER_TOP}
    """


# ------------------------------------------- strongly connected components -

# log-doubling: Rₖ covers paths of ≤ 2^k hops, so 4 rounds ≥ the gate
# digraph's provable 15-hop diameter — 4 shuffle rounds instead of 15
# (the linear-step form measured 66s under the gate; doubling ~4x less)
SCC_ROUNDS = 4


def scc_bounded(edges: DataFrame, rounds: int = SCC_ROUNDS) -> DataFrame:
    """Strongly connected components by reflexive bounded transitive
    closure with path doubling: R₀ = identity ∪ edges; Rₖ₊₁ = Rₖ ∪
    (Rₖ ∘ Rₖ) — Rₖ covers all paths of ≤ 2^k hops. Once the
    closure has converged (2^rounds ≥ graph diameter), two nodes have the
    SAME forward-reachable set iff they are in the same SCC — u ∈ R(u) =
    R(v) means v reaches u, and v ∈ R(v) = R(u) means u reaches v, so
    equal sets ⇒ mutual reachability, and mutual reachability trivially
    equalizes the sets. The SCC id is therefore min(node) over the group
    of nodes sharing a reachable-set fingerprint (md5 of the sorted id
    list — the same partition-order-proof collect that evt_sequence_match
    certifies).

    The bounded unroll is the oracle-checkable anchor (house precedent:
    minlabel_propagate, bfs_hops, sssp_relax are all fixed-iteration).
    Production SCC at 10^12 edges does NOT materialize closures — it runs
    FW-BW coloring (pick pivot, intersect forward/backward reachability,
    recurse on the three remainders) or Orzan's coloring, both iterative
    join+min-agg rounds with frontier deltas, O(m·diam) work instead of
    O(n·reach). This closure form is exact and cheap when per-node reach
    is bounded (here ≤ ~220 nodes by the leveled construction below).
    Returns (node, scc_id, scc_size)."""
    edges = edges.select("src", "dst").distinct().persist()  # loop-invariant
    nodes = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    r = nodes.select(
        F.col("v").alias("src"), F.col("v").alias("dst")
    ).union(edges).distinct().persist()
    n_prev = r.count()
    for _ in range(rounds):
        step = (
            r.join(
                r.withColumnRenamed("src", "_m").withColumnRenamed(
                    "dst", "_d"),
                F.col("dst") == F.col("_m"),
            )
            .select("src", F.col("_d").alias("dst"))
        )
        nxt = r.union(step).distinct().persist()
        # Rₖ grows monotonically, so equal count ⟺ equal set ⟺ converged:
        # a sound early exit (dense graphs converge in 2-3 rounds — the
        # count itself is ~free, it forces the materialization the next
        # round's self-join needs anyway) AND a runtime witness that the
        # final fingerprints are computed on a true fixpoint.
        n_nxt = nxt.count()
        r.unpersist()
        r = nxt
        if n_nxt == n_prev:
            break
        n_prev = n_nxt
    fp = r.groupBy(F.col("src").alias("node")).agg(
        F.md5(
            F.array_join(
                F.sort_array(F.collect_set("dst")).cast("array<string>"),
                ",",
            ).cast("binary")
        ).alias("f")
    )
    w = Window.partitionBy("f")
    return fp.select(
        "node",
        F.min("node").over(w).alias("scc_id"),
        F.count(F.lit(1)).over(w).alias("scc_size"),
    )


# Gate digraph with a PROVABLE diameter bound: 4 levels × 64 nodes.
# DAG edges only go level L → L+1 (≤ 3 hops); ring edges stay inside a
# 4-node block of one level (≤ 3 non-repeating hops per level). Any simple
# path therefore uses ≤ 3 ring steps per level × 4 levels + 3 level hops
# = 15 hops, so SCC_ROUNDS = 4 doubling rounds (2⁴ = 16-hop cover) are
# ALWAYS converged — the bound is by construction, not by luck of the
# data. Which order-derived ring edges exist is data-dependent (which
# (level, block) slots urgent orders hit), so complete ring blocks become
# size-4 SCCs and broken ones decompose into singletons; the region table
# additionally plants the four x∈[60,63] blocks as ALWAYS-complete rings
# (region is 5 rows at every sf), so multi-node SCCs exist at any scale.
_SCC_LVL = "(o_orderkey % 4)"
_SCC_X = "(o_custkey % 64)"


def _scc_edges(spark: SparkSession, sf: str) -> DataFrame:
    o = spark.read.parquet(f"{sf}/orders.parquet")
    dag = (
        o.filter(F.expr(f"{_SCC_LVL} < 3"))
        .select(
            F.expr(f"{_SCC_LVL} * 64 + {_SCC_X}").alias("src"),
            F.expr(
                f"({_SCC_LVL} + 1) * 64 + (o_custkey * 7 + o_orderkey) % 64"
            ).alias("dst"),
        )
    )
    ring = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderkey") % 7 == 0)
        )
        .select(
            F.expr(f"{_SCC_LVL} * 64 + {_SCC_X}").alias("src"),
            F.expr(
                f"{_SCC_LVL} * 64 + ({_SCC_X} - o_custkey % 4)"
                f" + ({_SCC_X} + 1) % 4"
            ).alias("dst"),
        )
    )
    planted = (
        spark.read.parquet(f"{sf}/region.parquet")
        .select(
            (F.col("r_regionkey") % 4).alias("lvl"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
        )
        .select(
            (F.col("lvl") * 64 + 60 + F.col("j")).alias("src"),
            (F.col("lvl") * 64 + 60 + (F.col("j") + 1) % 4).alias("dst"),
        )
    )
    return dag.union(ring).union(
        planted.select(
            F.col("src").cast("long"), F.col("dst").cast("long")
        )
    ).distinct()


def graph_scc(spark: SparkSession, sf: str) -> DataFrame:
    """SCC decomposition of the leveled order digraph (see scc_bounded)."""
    return scc_bounded(_scc_edges(spark, sf), rounds=SCC_ROUNDS)


def graph_scc_sql() -> str:
    # each rᵢ is referenced twice (union + join), so MATERIALIZED is
    # load-bearing: DuckDB inlines CTEs by default and the re-evaluation
    # goes exponential in the unroll depth without it
    rounds = ",\n      ".join(
        f"r{i} AS MATERIALIZED (SELECT src, dst FROM r{i - 1} UNION "
        f"SELECT a.src, b.dst FROM r{i - 1} a JOIN r{i - 1} b"
        f" ON a.dst = b.src)"
        for i in range(1, SCC_ROUNDS + 1)
    )
    return f"""
      WITH dag AS (
        SELECT DISTINCT {_SCC_LVL} * 64 + {_SCC_X} AS src,
               ({_SCC_LVL} + 1) * 64 + (o_custkey * 7 + o_orderkey) % 64
                 AS dst
        FROM orders WHERE {_SCC_LVL} < 3),
      ring AS (
        SELECT DISTINCT {_SCC_LVL} * 64 + {_SCC_X} AS src,
               {_SCC_LVL} * 64 + ({_SCC_X} - o_custkey % 4)
                 + ({_SCC_X} + 1) % 4 AS dst
        FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 7 = 0),
      planted AS (
        SELECT (r_regionkey % 4) * 64 + 60 + j AS src,
               (r_regionkey % 4) * 64 + 60 + (j + 1) % 4 AS dst
        FROM region, (SELECT unnest(range(0, 4)) AS j) js),
      e AS MATERIALIZED (
        SELECT src, dst FROM dag UNION SELECT src, dst FROM ring
        UNION SELECT src, dst FROM planted),
      nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
      r0 AS MATERIALIZED (
        SELECT v AS src, v AS dst FROM nodes UNION SELECT src, dst FROM e),
      {rounds},
      fp AS (
        SELECT src AS node,
               md5(string_agg(CAST(dst AS VARCHAR), ',' ORDER BY dst)) AS f
        FROM r{SCC_ROUNDS} GROUP BY src)
      SELECT node, min(node) OVER (PARTITION BY f) AS scc_id,
             count(*) OVER (PARTITION BY f) AS scc_size
      FROM fp
    """



DIAM_SWEEP_ROUNDS = 3   # per-sweep hop budget (lower-bound semantics)


def diameter_2sweep(sym_edges: DataFrame, rounds: int) -> DataFrame:
    """Double-sweep diameter LOWER BOUND (the standard BFS heuristic,
    bounded): sweep 1 runs BFS from the graph's min node; the farthest
    node found (max dist, min node on ties — a deterministic argmax via
    one orderBy-limit on the node-level distance table) seeds sweep 2,
    whose eccentricity-within-budget is the reported bound. Exact
    diameter is all-pairs and does not exist at 10^12 edges; the
    two-sweep bound is what real systems report, and with a bounded hop
    budget the semantics stay honest: a diameter >= the bound whenever
    the second sweep still reached a frontier at the last round.

    The sweep-2 seed crosses to the driver as ONE ROW and re-enters as a
    literal — the constant-key ride-along join plans as an interpreted
    BNLJ (the bpe-merges lesson), so the collect is the fast AND the
    plan-clean path. Per round both sweeps are the bfs_hops equi-join +
    groupBy(min): skew-safe, frontier never collected."""
    from mxsparkg.mining import guarded_collect

    src_row = guarded_collect(
        sym_edges.select(F.min("src").alias("node")), "diameter seed")
    seed1 = F.lit(src_row[0]["node"])
    d1 = bfs_hops(
        sym_edges,
        sym_edges.select(F.col("src").alias("node")).distinct()
        .filter(F.col("node") == seed1),
        iters=rounds,
    )
    far = guarded_collect(
        d1.orderBy(F.col("dist").desc(), F.col("node")).limit(1),
        "diameter far node",
    )
    seed2 = far[0]["node"]
    d2 = bfs_hops(
        sym_edges,
        sym_edges.select(F.col("src").alias("node")).distinct()
        .filter(F.col("node") == F.lit(seed2)),
        iters=rounds,
    )
    return d2.agg(
        F.lit(src_row[0]["node"]).alias("sweep1_seed"),
        F.lit(seed2).alias("sweep2_seed"),
        F.max("dist").alias("diameter_lb"),
        F.count(F.lit(1)).alias("n_reached"),
    )


def graph_diameter(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: bounded double-sweep diameter lower bound on the
    sparsified co-purchase graph (graph_bfs's graph)."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    sym = _symmetrize(und, "u", "v")
    return diameter_2sweep(sym, rounds=DIAM_SWEEP_ROUNDS)


def _bfs_chain_sql(prefix: str, seed_cte: str,
                   rounds: int) -> tuple[str, str]:
    """Unrolled bounded-BFS CTE chain from a 1-node seed CTE (the
    graph_bfs oracle's builder, parameterized so two sweeps can share
    one WITH clause)."""
    steps = []
    prev = f"{prefix}0"
    out = [f"""{prefix}0 AS (
        SELECT node, 0 AS dist FROM {seed_cte})"""]
    for i in range(1, rounds + 1):
        out.append(f"""{prefix}c{i} AS (
        SELECT e.dst AS node, min(p.dist) + 1 AS dist
        FROM edges e JOIN {prev} p ON p.node = e.src GROUP BY e.dst)""")
        out.append(f"""{prefix}{i} AS (
        SELECT node, min(dist) AS dist FROM (
          SELECT node, dist FROM {prev}
          UNION ALL SELECT node, dist FROM {prefix}c{i})
        GROUP BY node)""")
        prev = f"{prefix}{i}"
    return ",\n      ".join(out), prev


def graph_walk_pairs_sql() -> str:
    # reuse the walk chain verbatim, then split each path and pair
    # positions through a constant index table (DuckDB unnest has no
    # ordinality here)
    walk_core = graph_walk_sql()
    body = walk_core[walk_core.index("WITH") + 4:]
    body = body[: body.rindex("SELECT walk_id")].rstrip() + ","
    last = "w" + str(WALK_STEPS)
    n_pos = WALK_STEPS + 1
    return f"""
      WITH {body}
      idx AS (SELECT unnest(range(1, {n_pos + 1})) AS i),
      toks AS (
        SELECT walk_id, string_split(path, '>') AS l FROM {last}),
      nodes AS (
        SELECT t.walk_id, i.i - 1 AS pos, CAST(t.l[i.i] AS BIGINT) AS node
        FROM toks t JOIN idx i ON i.i <= len(t.l)),
      pairs AS (
        SELECT a.walk_id, a.node AS center, b.node AS context,
               b.pos - a.pos AS "offset"
        FROM nodes a JOIN nodes b ON a.walk_id = b.walk_id
        WHERE a.pos <> b.pos AND abs(a.pos - b.pos) <= {WALK_WINDOW})
      SELECT center, context, "offset",
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY 1, 2, 3
    """


def graph_diameter_sql() -> str:
    c1, last1 = _bfs_chain_sql("da", "seed1", DIAM_SWEEP_ROUNDS)
    c2, last2 = _bfs_chain_sql("db", "seed2", DIAM_SWEEP_ROUNDS)
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {MINLABEL_ORDER_MOD} = 0),
      e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      edges AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM e0
        UNION ALL SELECT v AS src, u AS dst FROM e0),
      seed1 AS (SELECT min(src) AS node FROM edges),
      {c1},
      seed2 AS (
        SELECT node FROM {last1} ORDER BY dist DESC, node LIMIT 1),
      {c2}
      SELECT (SELECT node FROM seed1) AS sweep1_seed,
             (SELECT node FROM seed2) AS sweep2_seed,
             max(dist) AS diameter_lb,
             CAST(count(*) AS BIGINT) AS n_reached
      FROM {last2}
    """


WALK_STEPS = 4       # walk length (edges) — DeepWalk-corpus scale: 40-80
WALK_SEED_MOD = 10   # every 10th graph node starts one walk


def random_walks(sym_edges: DataFrame, seeds: DataFrame,
                 steps: int) -> DataFrame:
    """Deterministic DeepWalk-style random-walk corpus: one walk per seed,
    `steps` hops, next hop = nbrs[md5(walk_id|step|cur) % degree] over the
    SORTED adjacency list — so the "random" walk is a pure function of
    (graph, seed), reproducible across engines, partitionings and reruns
    (F.rand is none of those). This is the sampling pass node2vec/DeepWalk
    embeddings train on; the existing TransE stack (X5) consumes triples,
    this emits the walk corpus for the word2vec-style alternative.

    Scale shape: adjacency is ONE groupBy of the edge list; each hop is
    one equi-join of the walk frontier (|seeds| rows, constant) against
    it, AQE-broadcast when the frontier is small. The adjacency row for a
    hub is its full neighbor list — the standard materialized-adjacency
    trade; at 10^12 edges the hub rows swap for alias-table samples or a
    degree cap (the kg_er_jaccard cap discipline) without changing the
    walk semantics on non-hub nodes."""
    adj = sym_edges.groupBy(F.col("src").alias("node")).agg(
        F.sort_array(F.collect_set("dst")).alias("nbrs"),
    ).withColumn("deg", F.size("nbrs"))
    w = seeds.select(
        F.col("node").alias("walk_id"),
        F.col("node").alias("cur"),
        F.col("node").cast("string").alias("path"),
    )
    for t in range(1, steps + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("walk_id").cast("string"),
                        F.lit(str(t)),
                        F.col("cur").cast("string"),
                    ).cast("binary")
                ),
                1, 6,
            ),
            16, 10,
        ).cast("long")
        nxt = F.element_at(
            "nbrs", (h % F.col("deg")).cast("int") + 1
        )
        w = (
            w.join(adj, w["cur"] == adj["node"])
            .select(
                "walk_id",
                nxt.alias("cur"),
                F.concat_ws(">", "path", nxt.cast("string")).alias("path"),
            )
        )
    return w.select(
        "walk_id", F.col("cur").alias("last_node"), "path",
        F.md5(F.col("path").cast("binary")).alias("path_fp"),
    )


def graph_walk(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: WALK_STEPS-hop deterministic walks from every
    WALK_SEED_MOD-th node of the sparsified co-purchase graph (graph_bfs's
    graph, so component structure is real and walks can't teleport)."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    sym = _symmetrize(und, "u", "v")
    seeds = (
        sym.select(F.col("src").alias("node"))
        .filter(F.col("node") % WALK_SEED_MOD == 0)
        .distinct()
    )
    return random_walks(sym, seeds, WALK_STEPS)


WALK_WINDOW = 2   # skip-gram context window over walk positions


def walk_skipgram_pairs(walks: DataFrame, window: int) -> DataFrame:
    """Skip-gram training pairs from a walk corpus — the materialization
    step between G16's walks and any word2vec-style trainer (the
    training itself is the certified kg_transe integer-SGD shape; this
    key certifies the DATA it would consume): for every walk, all
    (center, context) node pairs within +-window positions, with the
    offset kept (a trainer that down-weights far contexts needs it).

    Scale shape: posexplode the path once, then ONE self-equi-join on
    walk_id with the |pos difference| predicate — per-walk fanout is
    (steps+1)·2·window, a constant; the join key is walk_id so pair
    generation never shuffles more than the walk corpus itself."""
    nodes = walks.select(
        "walk_id",
        F.posexplode(F.split("path", ">")).alias("pos", "node"),
    )
    a = nodes.select(
        "walk_id", F.col("pos").alias("p1"),
        F.col("node").cast("long").alias("center"),
    )
    b = nodes.select(
        "walk_id", F.col("pos").alias("p2"),
        F.col("node").cast("long").alias("context"),
    )
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("p1") != F.col("p2"))
            & (F.abs(F.col("p1") - F.col("p2")) <= window)
        )
        .select(
            "walk_id", "center", "context",
            (F.col("p2") - F.col("p1")).alias("offset"),
        )
    )


def graph_walk_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: per-(center, context, offset) pair counts of the
    skip-gram corpus derived from G16's walks (counts rather than raw
    pairs keep the gate table canonical — raw pairs are certified by the
    count anyway since every (walk, p1, p2) contributes exactly once)."""
    w = graph_walk(spark, sf)
    return (
        walk_skipgram_pairs(w, WALK_WINDOW)
        .groupBy("center", "context", "offset")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def graph_walk_sql() -> str:
    steps = []
    prev = "w0"
    for t in range(1, WALK_STEPS + 1):
        h = (f"('0x' || substr(md5(CAST(walk_id AS VARCHAR) || '|{t}|'"
             f" || CAST(cur AS VARCHAR)), 1, 6))::BIGINT")
        steps.append(
            f"""w{t} AS (
        SELECT walk_id,
               nbrs[CAST(({h}) % deg AS INT) + 1] AS cur,
               path || '>' || CAST(
                 nbrs[CAST(({h}) % deg AS INT) + 1] AS VARCHAR) AS path
        FROM w{t - 1} JOIN adj ON adj.node = w{t - 1}.cur)"""
        )
        prev = f"w{t}"
    chain = ",\n      ".join(steps)
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {MINLABEL_ORDER_MOD} = 0),
      e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      edges AS (
        SELECT u AS src, v AS dst FROM e0
        UNION ALL SELECT v AS src, u AS dst FROM e0),
      adj AS MATERIALIZED (
        SELECT src AS node, list(dst ORDER BY dst) AS nbrs,
               CAST(count(*) AS BIGINT) AS deg
        FROM edges GROUP BY src),
      w0 AS (
        SELECT node AS walk_id, node AS cur, CAST(node AS VARCHAR) AS path
        FROM (SELECT DISTINCT node FROM adj WHERE node % {WALK_SEED_MOD} = 0)),
      {chain}
      SELECT walk_id, cur AS last_node, path, md5(path) AS path_fp
      FROM {prev}
    """


def louvain_move(
    edges: DataFrame, labels: DataFrame, m_edges: int
) -> DataFrame:
    """One synchronized Louvain phase-1 local-move pass: every node
    evaluates, against the CURRENT assignment, the exact modularity gain
    of moving into each neighboring community and takes the best strictly
    positive move (ties → min community label). Synchronized evaluation —
    all gains computed against the old labels, then applied at once — is
    what makes the pass deterministic and partition-invariant, unlike
    classic sequential Louvain whose result depends on visit order (the
    reason vanilla Louvain can't be a cross-engine gate op).

    Gain is kept EXACT by the modularity_stats trick — multiply ΔQ
    through by 2m² so it's pure bigint:
      gain(u: D→C) = 2m·(k_uC − k_uD) − k_u·(Σ_C − Σ_D + k_u)
    (k_uX = edges from u into X, Σ_X = degree mass of X; u's own degree
    leaves D, hence the +k_u). No floats, no division anywhere.

    Scale posture: k_uC is ONE sym-edge⋈label hash join + a map-side-
    combinable (u, C) rollup — the same shape as a min-label round, so it
    scales like one; Σ rides a community-count-sized table; the argmax is
    a per-u window over a few candidate rows (bounded by u's distinct
    neighbor communities). `edges` is symmetric (src, dst); `labels` is
    (src, label); returns (src, label, moved)."""
    deg = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        .withColumnRenamed("src", "x")
    )
    sig = (
        labels.join(deg, labels["src"] == deg["x"])
        .groupBy("label").agg(F.sum("d").cast("bigint").alias("s"))
    )
    lab_dst = labels.select(F.col("src").alias("dst"),
                            F.col("label").alias("c"))
    nbr = (
        edges.join(lab_dst, "dst")
        .groupBy(F.col("src").alias("u"), "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k_uc"))
    )
    own = nbr.select(F.col("u").alias("src"), F.col("c").alias("dlab"),
                     F.col("k_uc").alias("k_ud"))
    base = (
        labels.join(deg, labels["src"] == deg["x"])
        .join(sig.select(F.col("label").alias("dlab_s"),
                         F.col("s").alias("sig_d")),
              labels["label"] == F.col("dlab_s"))
        .join(own, (labels["src"] == own["src"])
              & (labels["label"] == own["dlab"]), "left")
        .select(labels["src"].alias("u"), labels["label"].alias("dlab"),
                F.col("d").cast("bigint").alias("ku"), "sig_d",
                F.coalesce("k_ud", F.lit(0).cast("bigint")).alias("k_ud"))
    )
    cand = (
        base.join(nbr, "u")
        .filter(F.col("c") != F.col("dlab"))
        .join(sig.select(F.col("label").alias("c"),
                         F.col("s").alias("sig_c")), "c")
        .select(
            "u", "c",
            (F.lit(2 * m_edges).cast("bigint")
             * (F.col("k_uc") - F.col("k_ud"))
             - F.col("ku") * (F.col("sig_c") - F.col("sig_d")
                              + F.col("ku"))).alias("gain"),
        )
    )
    w = Window.partitionBy("u").orderBy(F.col("gain").desc(), "c")
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("gain") > 0))
        .select(F.col("u").alias("src"), F.col("c").alias("new_label"))
    )
    return (
        labels.join(best, "src", "left")
        .select(
            "src",
            F.coalesce("new_label", F.col("label")).alias("label"),
            F.col("new_label").isNotNull().alias("moved"),
        )
    )


def louvain_aggregate(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Louvain phase-2 coarsening: collapse a community assignment into
    its supernode graph — one weighted edge per community pair (ca ≤ cb,
    weight = inter-community edge count; ca == cb rows carry the
    intra-community self-loop weight the next move pass needs). With
    louvain_move this completes the Louvain loop: move until no gain,
    coarsen, recurse on a graph that is communities-sized, not
    nodes-sized — the property that makes hierarchical community
    detection tractable at 10^9 nodes.

    Scale shape: two label hash joins (broadcast when the assignment
    fits, AQE decides) + ONE map-side-combinable groupBy on the
    normalized (least, greatest) pair — the canonical orientation means
    both directions of an inter-community edge combine map-side instead
    of surviving as two rows. Input `edges` is oriented distinct (u, v);
    output is oriented distinct (ca, cb, weight)."""
    lu = labels.select(F.col("src").alias("u"), F.col("label").alias("cu"))
    lv = labels.select(F.col("src").alias("v"), F.col("label").alias("cv"))
    return (
        edges.join(lu, "u")
        .join(lv, "v")
        .select(
            F.least("cu", "cv").alias("ca"),
            F.greatest("cu", "cv").alias("cb"),
        )
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )


def graph_coarsen(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: the supernode graph of the 3-round min-label partition
    on the sparsified co-purchase graph — top-30 super-edges by weight.
    Self-loops (intra-community mass) and inter-community edges both
    appear, so the hash certifies the full phase-2 contract, not just
    the cut."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    lab = minlabel_propagate(_symmetrize(und, "u", "v"),
                             iters=MINLABEL_ITERS)
    return (
        louvain_aggregate(und, lab)
        .orderBy(F.col("weight").desc(), "ca", "cb")
        .limit(30)
    )


def graph_coarsen_sql() -> str:
    ctes, fin = _minlabel_ctes()
    return f"""
      WITH {ctes}
      SELECT least(a.label, b.label) AS ca,
             greatest(a.label, b.label) AS cb,
             CAST(count(*) AS BIGINT) AS weight
      FROM e JOIN {fin} a ON a.src = e.u JOIN {fin} b ON b.src = e.v
      GROUP BY 1, 2
      ORDER BY weight DESC, ca, cb LIMIT 30
    """


def graph_louvain(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: one synchronized Louvain refinement pass over the
    3-round min-label partition of the sparsified co-purchase graph —
    the local-move machinery that turns G5/G12's
    label-propagation-plus-score stack into an actual modularity
    OPTIMIZER. Output: post-move community census (top-20 by size) with
    the number of arrivals per community, so the hash certifies both
    which moves fired and where they landed."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    sym = _symmetrize(und, "u", "v").persist()
    lab = minlabel_propagate(sym, iters=MINLABEL_ITERS)
    m_edges = int(und.agg(F.count(F.lit(1))).first()[0])
    moved = louvain_move(sym, lab, m_edges)
    return (
        moved.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("moved").cast("long")).alias("n_moved_in"),
        )
        .orderBy(F.col("n_members").desc(), "label")
        .limit(20)
    )


def graph_louvain_sql() -> str:
    ctes, fin = _minlabel_ctes()
    return f"""
      WITH {ctes},
      deg AS (SELECT src AS x, CAST(count(*) AS BIGINT) AS d
              FROM sym GROUP BY src),
      m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM e),
      sig AS (
        SELECT p.label, CAST(sum(d.d) AS BIGINT) AS s
        FROM {fin} p JOIN deg d ON d.x = p.src GROUP BY p.label),
      nbr AS MATERIALIZED (
        SELECT e2.src AS u, pl.label AS c, CAST(count(*) AS BIGINT) AS k_uc
        FROM sym e2 JOIN {fin} pl ON pl.src = e2.dst
        GROUP BY e2.src, pl.label),
      base AS (
        SELECT p.src AS u, p.label AS dlab, d.d AS ku, sd.s AS sig_d,
               COALESCE(nd.k_uc, 0) AS k_ud
        FROM {fin} p
        JOIN deg d ON d.x = p.src
        JOIN sig sd ON sd.label = p.label
        LEFT JOIN nbr nd ON nd.u = p.src AND nd.c = p.label),
      cand AS (
        SELECT b.u, n.c,
               2 * m.m_edges * (n.k_uc - b.k_ud)
                 - b.ku * (sc.s - b.sig_d + b.ku) AS gain
        FROM base b
        JOIN nbr n ON n.u = b.u AND n.c <> b.dlab
        JOIN sig sc ON sc.label = n.c
        CROSS JOIN m),
      best AS (
        SELECT u, c FROM (
          SELECT u, c, gain, row_number() OVER (
                   PARTITION BY u ORDER BY gain DESC, c) AS rn
          FROM cand) WHERE rn = 1 AND gain > 0),
      newlab AS (
        SELECT p.src, COALESCE(mv.c, p.label) AS label,
               (mv.u IS NOT NULL) AS moved
        FROM {fin} p LEFT JOIN best mv ON mv.u = p.src)
      SELECT label, CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved_in
      FROM newlab GROUP BY label
      ORDER BY n_members DESC, label LIMIT 20
    """


def message_pass_mean(edges_sym: DataFrame, feats: DataFrame) -> DataFrame:
    """One GNN-style mean-aggregation message-passing round (the
    GraphSAGE-mean / GCN layer DATA shape, before any learned weights):
    h1(u) = (h0(u) + Σ_{v∈N(u)} h0(v)) div (1 + deg(u)) — the node's own
    feature folded in as a self-loop, integer mean so the result is
    exact and partition-order-independent (the integer-mass PageRank
    discipline; a float mean would hash-drift on summation order).

    `edges_sym`: symmetric (src, dst); `feats`: (node, h0 bigint).
    Scale shape: ONE edge⋈feature equi-join on dst (the feature table
    rides broadcast while it fits, hash-partitioned when it doesn't) +
    one map-side-combinable (sum, count) rollup on src — the exact cost
    of a min-label round; k layers = k such passes. Learned weights
    would multiply AFTER the rollup (|nodes|-sized), never on messages."""
    msg = edges_sym.join(
        feats.select(F.col("node").alias("dst"), F.col("h0").alias("h_nbr")),
        "dst",
    )
    acc = msg.groupBy(F.col("src").alias("node")).agg(
        F.sum("h_nbr").alias("h_sum"),
        F.count(F.lit(1)).alias("deg"),
    )
    return (
        feats.join(acc, "node", "left")
        .select(
            "node",
            F.coalesce("deg", F.lit(0)).cast("bigint").alias("deg"),
            F.expr(
                "(h0 + coalesce(h_sum, 0)) div (1 + coalesce(deg, 0))"
            ).alias("h1"),
        )
    )


def graph_msgpass(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: one integer mean-aggregation message-passing layer over
    the sparsified co-purchase graph (isolated nodes impossible here —
    every node has an edge — so the left-join null arm is exercised by
    the pytest, the div-exactness by the gate). h0(v) = v % 1000 + 1:
    a deterministic nonconstant feature, so unequal neighborhoods give
    unequal means and the value hash discriminates real mixing."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    sym = _symmetrize(und, "u", "v")
    nodes = (
        sym.select(F.col("src").alias("node")).distinct()
    )
    feats = nodes.select("node", (F.col("node") % 1000 + 1).alias("h0"))
    return message_pass_mean(sym, feats).orderBy("node")


def graph_msgpass_sql() -> str:
    return f"""
      WITH {_copurchase_ctes()},
      nodes AS (SELECT DISTINCT src AS node FROM sym),
      feats AS (SELECT node, node % 1000 + 1 AS h0 FROM nodes),
      acc AS (
        SELECT s.src AS node, sum(f.h0) AS h_sum,
               CAST(count(*) AS BIGINT) AS deg
        FROM sym s JOIN feats f ON f.node = s.dst
        GROUP BY s.src)
      SELECT f.node, COALESCE(a.deg, 0) AS deg,
             (f.h0 + COALESCE(a.h_sum, 0)) // (1 + COALESCE(a.deg, 0)) AS h1
      FROM feats f LEFT JOIN acc a ON a.node = f.node
      ORDER BY f.node
    """


# ------------------------------------------- landmark harmonic centrality --

HARMONIC_SEED_MOD = 100  # landmark sample: every 100th part key
HARMONIC_SCALE = 6       # LCM(1..BFS_ROUNDS): 6/d is integer for d<=3


def bfs_hops_per_seed(
    edges: DataFrame, seeds: DataFrame, iters: int = BFS_ROUNDS
) -> DataFrame:
    """Per-seed bounded BFS: (seed, node, dist) for every node within
    `iters` hops of each seed INDIVIDUALLY — bfs_hops collapses the seed
    set to a nearest-seed min, this keeps the per-landmark distances the
    centrality estimators need. Same round shape (edge equi-join +
    groupBy(min), map-side combined), state keyed on (seed, node) so the
    working set is |landmarks| x reach, linear in the landmark count —
    the knob that makes this a SAMPLING method at web scale."""
    edges = edges.select("src", "dst").persist()
    dist = seeds.select(
        F.col("node").alias("seed"), F.col("node"), F.lit(0).alias("dist"))
    for _ in range(iters):
        nbr = (
            edges.join(
                dist.withColumnRenamed("node", "_s"),
                F.col("src") == F.col("_s"),
            )
            .select(
                "seed", F.col("dst").alias("node"),
                (F.col("dist") + 1).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(nbr)
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist


def harmonic_centrality(
    edges: DataFrame, seeds: DataFrame, iters: int = BFS_ROUNDS,
    scale: int = HARMONIC_SCALE,
) -> DataFrame:
    """Landmark harmonic centrality (Eppstein-Wang sampling estimator,
    bounded to `iters` hops): for each node, sum scale/d(s, node) over
    the landmark set — harmonic (not classic closeness) because it is
    well-defined on disconnected graphs (unreached landmarks contribute
    0, no infinite-distance special case). `scale` must be divisible by
    every d in 1..iters so the per-landmark contribution is an exact
    integer in both engines — the integer-PageRank discipline; with the
    default 3 hops the terms are 6, 3, 2. Self-distances (d=0) are
    excluded. Output is (node, n_src, harmonic_x6): rank by harmonic_x6
    for 'most central entities', the KG triage query."""
    for d in range(1, iters + 1):
        if scale % d:
            raise ValueError(f"scale {scale} not divisible by hop {d}")
    pairs = bfs_hops_per_seed(edges, seeds, iters)
    return (
        pairs.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_src"),
            F.sum(F.lit(scale).cast("bigint") / F.col("dist"))
            .cast("bigint").alias("harmonic_x6"),
        )
    )


def graph_harmonic(spark: SparkSession, sf: str) -> DataFrame:
    """G16 landmark harmonic centrality on the sparsified co-purchase
    graph: landmarks = part keys divisible by HARMONIC_SEED_MOD, 3 hops.
    Certifies the per-seed BFS state (seed, node) and the exact-integer
    1/d rollup against the unrolled oracle."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    sym = _symmetrize(und, "u", "v")
    seeds = (
        sym.select(F.col("src").alias("node"))
        .filter(F.col("node") % HARMONIC_SEED_MOD == 0)
        .distinct()
    )
    return harmonic_centrality(sym, seeds)


def graph_harmonic_sql() -> str:
    rounds, mod, scale = BFS_ROUNDS, HARMONIC_SEED_MOD, HARMONIC_SCALE
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""c{i} AS (
        SELECT p.seed, e.dst AS node, min(p.dist) + 1 AS dist
        FROM edges e JOIN {prev} p ON p.node = e.src GROUP BY 1, 2),
      d{i} AS (
        SELECT seed, node, min(dist) AS dist FROM (
          SELECT seed, node, dist FROM {prev}
          UNION ALL SELECT seed, node, dist FROM c{i})
        GROUP BY 1, 2)"""
        )
        prev = f"d{i}"
    chain = ",\n      ".join(steps)
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {MINLABEL_ORDER_MOD} = 0),
      e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      edges AS (
        SELECT u AS src, v AS dst FROM e0
        UNION ALL SELECT v AS src, u AS dst FROM e0),
      d0 AS (
        SELECT DISTINCT src AS seed, src AS node, 0 AS dist FROM edges
        WHERE src % {mod} = 0),
      {chain}
      SELECT node, CAST(count(*) AS BIGINT) AS n_src,
             CAST(sum({scale} // dist) AS BIGINT) AS harmonic_x6
      FROM {prev} WHERE dist > 0 GROUP BY node
    """


# ------------------------------------------ stress centrality ------

STRESS_SEED_MOD = 100   # landmark sample, same density as harmonic


def stress_centrality(
    edges: DataFrame, seeds: DataFrame, iters: int = BFS_ROUNDS
) -> DataFrame:
    """Landmark stress centrality (Shimbel), bounded to `iters` hops —
    the betweenness-family measure that stays EXACT-INTEGER: stress(v) =
    Σ_{s,t} σ_st(v) counts the shortest s→t paths THROUGH v without
    Brandes' σ_st(v)/σ_st division (fractional dependencies would be the
    one float in the graph family — the integer-PageRank discipline says
    no). Same two passes as Brandes:

    - forward, per landmark: level-synchronous BFS carrying σ (number of
      shortest paths from s) — σ(w)@d = Σ σ(v)@d−1 over edges v→w, with
      already-visited (seed, node) pairs anti-joined away before they
      can re-enter;
    - backward, depth iters−1 … 1: g(v) = Σ over shortest-path-DAG
      successors w of (1 + g(w)) = number of DAG paths from v to ANY
      strictly-deeper target, so σ_s(v)·g_s(v) = Σ_t σ_st(v) exactly
      (σ_st(v) = σ_s(v) · #DAG-paths(v→t), both integers).

    Per node: n_src = landmarks for which v is interior to some shortest
    path, stress_paths = Σ_s σ_s(v)·g_s(v). Nodes never interior (g=0
    everywhere, e.g. every node of a triangle) are absent — stress 0.

    Scale shape: forward is the bfs_hops_per_seed round (edge equi-join
    + map-side-combinable sum + anti-join), state |landmarks| × reach;
    backward joins LEVEL d against LEVEL d+1 only (never the full state)
    — at web scale both passes shuffle on the same (seed, node) key and
    the landmark count is the sampling knob (Eppstein-Wang posture, as
    graph_harmonic)."""
    edges = edges.select("src", "dst").persist()
    l0 = seeds.select(
        F.col("node").alias("seed"), F.col("node"),
        F.lit(1).cast("long").alias("sigma"),
    )
    levels = [l0]
    visited = l0.select("seed", "node")
    for _ in range(iters):
        frontier = levels[-1]
        nxt = (
            edges.join(
                frontier.withColumnRenamed("node", "_s"),
                F.col("src") == F.col("_s"),
            )
            .groupBy("seed", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, ["seed", "node"], "left_anti")
            .persist()
        )
        levels.append(nxt)
        visited = visited.unionByName(nxt.select("seed", "node"))
    # backward: g over the shortest-path DAG, deepest level has g = 0
    out = None
    g_next = None  # (seed, node, g) at depth d+1
    for d in range(iters - 1, 0, -1):
        deeper = levels[d + 1].select(
            "seed", F.col("node").alias("_t"),
        )
        if g_next is not None:
            deeper = deeper.join(
                g_next.select("seed", F.col("node").alias("_t"), "g"),
                ["seed", "_t"], "left",
            ).select("seed", "_t", F.coalesce("g", F.lit(0)).alias("g"))
        else:
            deeper = deeper.withColumn("g", F.lit(0).cast("long"))
        deeper = deeper.withColumnRenamed("seed", "_seed")
        g_here = (
            levels[d]
            .join(edges, F.col("node") == F.col("src"))
            .join(
                deeper,
                (F.col("dst") == F.col("_t"))
                & (F.col("seed") == F.col("_seed")),
            )
            .groupBy("seed", "node", "sigma")
            .agg(F.sum(F.lit(1) + F.col("g")).alias("g"))
        )
        contrib = g_here.select(
            "seed", "node", (F.col("sigma") * F.col("g")).alias("c")
        )
        out = contrib if out is None else out.unionByName(contrib)
        g_next = g_here.select("seed", "node", "g")
    return (
        out.groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_src"),
            F.sum("c").cast("bigint").alias("stress_paths"),
        )
    )


def graph_stress(spark: SparkSession, sf: str) -> DataFrame:
    """G17 landmark stress centrality on the sparsified co-purchase
    graph (landmarks = part keys % STRESS_SEED_MOD == 0, 3 hops) —
    certifies σ propagation, the visited anti-join, and the backward
    DAG-path accumulation against the unrolled oracle."""
    und = _copurchase_edges(spark, sf, order_mod=MINLABEL_ORDER_MOD)
    sym = _symmetrize(und, "u", "v")
    seeds = (
        sym.select(F.col("src").alias("node"))
        .filter(F.col("node") % STRESS_SEED_MOD == 0)
        .distinct()
    )
    return stress_centrality(sym, seeds)


def graph_stress_sql() -> str:
    # deeper-level joins reference l1..l3 multiple times (next level,
    # g accumulation) — MATERIALIZED, or DuckDB re-inlines the whole
    # history-dependent prefix per reference (the graph_scc lesson)
    mod = STRESS_SEED_MOD
    steps = []
    prev_levels = ["l0"]
    for i in range(1, BFS_ROUNDS + 1):
        prev = prev_levels[-1]
        vis = " UNION ALL ".join(
            f"SELECT seed, node FROM {x}" for x in prev_levels)
        steps.append(f"""l{i} AS MATERIALIZED (
        SELECT p.seed, e.dst AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
        FROM edges e JOIN {prev} p ON p.node = e.src
        WHERE NOT EXISTS (
          SELECT 1 FROM ({vis}) x
          WHERE x.seed = p.seed AND x.node = e.dst)
        GROUP BY 1, 2)""")
        prev_levels.append(f"l{i}")
    # backward: g at depth BFS_ROUNDS is 0; accumulate downward
    gsteps = []
    for d in range(BFS_ROUNDS - 1, 0, -1):
        if d == BFS_ROUNDS - 1:
            gexpr = "0"
            gjoin = ""
        else:
            gexpr = f"COALESCE(gg{d + 1}.g, 0)"
            gjoin = (f"LEFT JOIN gg{d + 1} ON gg{d + 1}.seed = b.seed"
                     f" AND gg{d + 1}.node = b.node")
        gsteps.append(f"""gg{d} AS MATERIALIZED (
        SELECT a.seed, a.node, a.sigma,
               CAST(sum(1 + {gexpr}) AS BIGINT) AS g
        FROM l{d} a
        JOIN edges e ON e.src = a.node
        JOIN l{d + 1} b ON b.seed = a.seed AND b.node = e.dst
        {gjoin}
        GROUP BY 1, 2, 3)""")
    contrib = " UNION ALL ".join(
        f"SELECT seed, node, sigma * g AS c FROM gg{d}"
        for d in range(1, BFS_ROUNDS))
    chain = ",\n      ".join(steps + gsteps)
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {MINLABEL_ORDER_MOD} = 0),
      e0 AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      edges AS (
        SELECT u AS src, v AS dst FROM e0
        UNION ALL SELECT v AS src, u AS dst FROM e0),
      l0 AS MATERIALIZED (
        SELECT DISTINCT src AS seed, src AS node, CAST(1 AS BIGINT) AS sigma
        FROM edges WHERE src % {mod} = 0),
      {chain}
      SELECT node, CAST(count(*) AS BIGINT) AS n_src,
             CAST(sum(c) AS BIGINT) AS stress_paths
      FROM ({contrib}) GROUP BY node
    """


# ------------------------------------------ sorted-neighborhood ER --

SNM_WINDOW = 3        # compare each name to its 3 sort-successors
SNM_MAX_LEV = 6       # candidate pairs must be within this edit distance
SNM_PLANT_MOD = 31    # every 31st part gets a sort-adjacent variant
SNM_PLANT_OFFSET = 9000000


def er_sorted_neighborhood(
    names: DataFrame, window: int = SNM_WINDOW, max_lev: int = SNM_MAX_LEV
) -> DataFrame:
    """Sorted-neighborhood-method ER blocking (Hernandez-Stolfo): rank
    every surface form in ONE global lexicographic order, then compare
    each record only to its `window` sort-successors — O(n * w) pairs
    regardless of how skewed the name distribution is, the complement
    to key-blocking (kg_er_edit), which collapses when one block is hot.
    The window join is an EQUI-join: explode rank+k for k in 1..w on one
    side and match rank exactly — never a theta-join/BNLJ.

    The rank is a row_number over (name, id) — a total order, so ranks
    and therefore pairs are deterministic cross-engine. At gate scale a
    single window sort is honest; at 10^12 names the global rank comes
    from the DataFrame-only two-phase range-partitioned prefix sum this
    repo already ships (jobs/kg_tools.py:64-77) — same ranks, no
    single-partition window.

    Returns (a_id, b_id, rank_dist, lev) for neighbors within max_lev,
    ordered (lev, a_id, b_id)."""
    r = names.select(
        "id", "name",
        F.row_number().over(Window.orderBy("name", "id")).alias("rk"),
    )
    probes = r.select(
        F.col("id").alias("a_id"), F.col("name").alias("a_name"),
        F.col("rk").alias("a_rk"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("_d"),
    ).select(
        "a_id", "a_name", "a_rk", (F.col("a_rk") + F.col("_d")).alias("rk"),
    )
    cand = probes.join(
        r.select(F.col("id").alias("b_id"),
                 F.col("name").alias("b_name"), "rk"),
        "rk",
    )
    return (
        cand.select(
            "a_id", "b_id",
            (F.col("rk") - F.col("a_rk")).cast("bigint").alias("rank_dist"),
            F.levenshtein("a_name", "b_name").cast("bigint").alias("lev"),
        )
        .filter(F.col("lev") <= max_lev)
        .orderBy("lev", "a_id", "b_id")
    )


def kg_er_sortednbr(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: sorted-neighborhood ER over part surface forms with
    deterministic plants — every SNM_PLANT_MOD-th part gets a variant
    whose name appends ' zz' (sorts immediately after the original, edit
    distance 3), so real merge pairs exist at rank_dist 1 and the
    window, the equi-join, and the edit filter all discriminate under
    the value hash."""
    p = spark.read.parquet(f"{sf}/part.parquet").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name"))
    plants = p.filter(F.col("id") % SNM_PLANT_MOD == 0).select(
        (F.col("id") + SNM_PLANT_OFFSET).alias("id"),
        F.concat(F.col("name"), F.lit(" zz")).alias("name"),
    )
    return er_sorted_neighborhood(p.unionByName(plants))


def kg_er_sortednbr_sql() -> str:
    return f"""
      WITH names AS (
        SELECT p_partkey AS id, p_name AS name FROM part
        UNION ALL
        SELECT p_partkey + {SNM_PLANT_OFFSET}, p_name || ' zz'
        FROM part WHERE p_partkey % {SNM_PLANT_MOD} = 0),
      r AS (
        SELECT id, name,
               row_number() OVER (ORDER BY name, id) AS rk
        FROM names),
      k AS (SELECT unnest(range(1, {SNM_WINDOW} + 1)) AS dist)
      SELECT a.id AS a_id, b.id AS b_id,
             CAST(k.dist AS BIGINT) AS rank_dist,
             CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
      FROM r a JOIN k ON true JOIN r b ON b.rk = a.rk + k.dist
      WHERE levenshtein(a.name, b.name) <= {SNM_MAX_LEV}
      ORDER BY lev, a_id, b_id
    """


# ------------------------------------------- per-node local clustering --

LCC_ORDER_MOD = 50  # sparsified co-purchase graph (the minlabel choice)


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient — G4's triangle census
    answers 'how clustered is the GRAPH'; downstream entity triage needs
    'how clustered is THIS node's neighborhood' (a mention whose
    neighbors all know each other is a tight community core; a hub with
    LCC ~0 is a disambiguation page / boilerplate artifact). For each
    node: lcc_ppm = 10^6 · 2·tri(v) / (deg(v)·(deg(v)−1)), exact integer
    floor; deg-1 nodes are emitted with lcc_ppm 0 (their wedge count is
    0 — emitting them beats dropping them because the consumer is a
    filter, and absent != zero). edges: oriented u < v, distinct.

    Scale shape: the triangle enumeration is the oriented e⋈e⋈e join
    (cost Σ deg⁺² — the G4/G20 bound, hub-capped upstream where the
    graph is scale-free); per-node credit is one explode of each found
    triangle's 3 corners + a map-side-combinable rollup; degrees are one
    more rollup and the final assembly a left join at node-table size."""
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"], "left_semi")
        .select(
            F.explode(F.array("a", "b", "c")).alias("node"),
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    return (
        deg.join(tri, "node", "left")
        .withColumn("n_tri", F.coalesce("n_tri", F.lit(0).cast("bigint")))
        .select(
            "node", "deg", "n_tri",
            # exact integral `div` (the cross-engine floor trap: a
            # double quotient can round UP over an integer boundary)
            F.when(
                F.col("deg") >= 2,
                F.expr("(2000000 * n_tri) div (deg * (deg - 1))"),
            ).otherwise(F.lit(0)).cast("bigint").alias("lcc_ppm"),
        )
    )


def graph_clustering_local(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: per-node LCC on the 1-in-50-sparsified co-purchase
    graph (the full graph is a dense expander where every LCC saturates;
    the sparsified one has real variance to discriminate on)."""
    return local_clustering(
        _copurchase_edges(spark, sf, order_mod=LCC_ORDER_MOD))


def graph_clustering_local_sql() -> str:
    return f"""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey % {LCC_ORDER_MOD} = 0),
      e AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      tr AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e2.u = e1.v
        WHERE EXISTS (
          SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)),
      cr AS (
        SELECT unnest([a, b, c]) AS node FROM tr),
      tri AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        FROM cr GROUP BY node),
      deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node)
      SELECT d.node, d.deg, coalesce(t.n_tri, 0) AS n_tri,
             CAST(CASE WHEN d.deg >= 2
                  THEN (2000000 * coalesce(t.n_tri, 0))
                       // (d.deg * (d.deg - 1))
                  ELSE 0 END AS BIGINT) AS lcc_ppm
      FROM deg d LEFT JOIN tri t ON t.node = d.node
    """


# --------------------------------------------------------------- MSF -----

def minimum_spanning_forest(
    edges: DataFrame,
    max_rounds: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed Borůvka minimum spanning forest over edges(u, v, w):
    per round, every component picks its minimum outgoing edge under the
    GLOBAL total order (w, u, v) — normalized u < v makes the key unique,
    which is the classic cycle-freedom argument — the picked edges join
    the forest, and the picked component-graph is contracted via the
    repo's own connected_components (the comp graph at least halves per
    round, so rounds ≤ log₂ n; the comp graph is also far smaller than
    the input, which is exactly the regime CC's hybrid driver/
    distributed strategy exists for). Certified in
    tests/test_graphquery.py against a pure-Python Kruskal on seeded
    random graphs, a closed-form ring (forest = all but the heaviest
    edge), and under input repartitioning; weighted-graph consumers:
    alias graphs with edit-distance weights, host graphs with latency
    weights.

    Scale shape per round: two comp-map equi-joins onto the edge list
    (the SSSP/PageRank join pattern — shuffle on node id, AQE handles
    hub skew), one map-side-combinable min-struct groupBy per component,
    and a CC run on the ≤|components|/2-edge picked graph. The comp map
    is localCheckpointed per round (lineage truncation, the iterative-op
    house rule). Forest edges accumulate as a union of per-round picks
    (≤ log n frames, each already deduplicated)."""
    wtype = dict(edges.dtypes)["w"]
    if wtype not in ("tinyint", "smallint", "int", "bigint"):
        # a silent cast would TRUNCATE fractional weights and return a
        # wrong forest; latency-style weights should arrive as integer
        # ms/us (the repo-wide integer-weight discipline)
        raise ValueError(
            f"minimum_spanning_forest needs an integral weight column, "
            f"got w: {wtype} — quantize to integer units first"
        )
    e0 = (
        edges.select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
            F.col("w").cast("long").alias("w"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .persist()
    )
    comp = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("c"))
        .localCheckpoint(eager=True)
    )
    from mxsparkg.graph import connected_components

    picked_frames = []
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        cu = comp.select(F.col("node").alias("u"), F.col("c").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("c").alias("cv"))
        live = (
            e0.join(cu, "u").join(cv, "v")
            .filter(F.col("cu") != F.col("cv"))
        )
        pick = F.struct("w", "u", "v", "cu", "cv").alias("p")
        sym = (
            live.select(F.col("cu").alias("c"), pick)
            .unionByName(live.select(F.col("cv").alias("c"), pick))
        )
        # chosen is empty iff no live cross-component edge remains, so
        # the eager checkpoint doubles as the termination probe — ONE
        # pass over the two comp joins per round, not a probe + a
        # recompute
        chosen = (
            sym.groupBy("c").agg(F.min("p").alias("p"))
            .select("p.w", "p.u", "p.v", "p.cu", "p.cv")
            .distinct()          # both endpoints may pick the same edge
            .localCheckpoint(eager=True)
        )
        if chosen.limit(1).count() == 0:
            converged = True
            break
        rounds += 1
        picked_frames.append(chosen.select("u", "v", "w"))
        cm = connected_components(
            chosen.select(F.col("cu").alias("src"), F.col("cv").alias("dst"))
        )
        comp = (
            comp.join(
                cm.select(F.col("entity_id").alias("c"),
                          F.col("canon_id").alias("c_new")),
                "c", "left",
            )
            .select("node", F.coalesce("c_new", "c").alias("c"))
            .localCheckpoint(eager=True)
        )
    e0.unpersist()
    if not converged:
        # a silently truncated partial forest would LOOK valid to every
        # caller; Borůvka halves components per round, so hitting the
        # cap means a real bug or an absurd max_rounds
        raise RuntimeError(
            f"minimum_spanning_forest did not converge in {max_rounds} "
            "rounds (components at least halve per round — raise "
            "max_rounds only if log2(n) genuinely exceeds it)"
        )
    if stats is not None:
        stats["rounds"] = rounds
    if not picked_frames:
        return e0.select("u", "v", "w").limit(0)
    out = picked_frames[0]
    for f in picked_frames[1:]:
        out = out.unionByName(f)
    return out.distinct()


def graphquery_queries() -> dict:
    return {
        "kg_pagerank": kg_pagerank,
        "kg_pagerank_weighted": kg_pagerank_weighted,
        "kg_ppr": kg_ppr,
        "graph_triangles": graph_triangles,
        "graph_minlabel": graph_minlabel,
        "graph_modularity": graph_modularity,
        "graph_linkpred": graph_linkpred,
        "graph_assortativity": graph_assortativity,
        "graph_kcore": graph_kcore,
        "graph_bfs": graph_bfs,
        "graph_walk": graph_walk,
        "graph_diameter": graph_diameter,
        "graph_harmonic": graph_harmonic,
        "graph_stress": graph_stress,
        "kg_er_sortednbr": kg_er_sortednbr,
        "graph_clustering_local": graph_clustering_local,
        "graph_walk_pairs": graph_walk_pairs,
        "graph_path": graph_path,
        "graph_sssp": graph_sssp,
        "kg_edge_pmi": kg_edge_pmi,
        "graph_hits": graph_hits,
        "kg_er_jaccard": kg_er_jaccard,
        "kg_er_edit": kg_er_edit,
        "graph_scc": graph_scc,
        "graph_louvain": graph_louvain,
        "graph_coarsen": graph_coarsen,
        "graph_msgpass": graph_msgpass,
        "graph_ktruss": graph_ktruss,
    }


def graphquery_oracle_sql() -> dict[str, str]:
    return {
        "kg_pagerank": kg_pagerank_sql(),
        "kg_pagerank_weighted": kg_pagerank_weighted_sql(),
        "kg_ppr": kg_ppr_sql(),
        "graph_triangles": graph_triangles_sql(),
        "graph_minlabel": graph_minlabel_sql(),
        "graph_modularity": graph_modularity_sql(),
        "graph_linkpred": graph_linkpred_sql(),
        "graph_assortativity": graph_assortativity_sql(),
        "graph_kcore": graph_kcore_sql(),
        "graph_bfs": graph_bfs_sql(),
        "graph_walk": graph_walk_sql(),
        "graph_diameter": graph_diameter_sql(),
        "graph_harmonic": graph_harmonic_sql(),
        "graph_stress": graph_stress_sql(),
        "kg_er_sortednbr": kg_er_sortednbr_sql(),
        "graph_clustering_local": graph_clustering_local_sql(),
        "graph_walk_pairs": graph_walk_pairs_sql(),
        "graph_path": graph_path_sql(),
        "graph_sssp": graph_sssp_sql(),
        "kg_edge_pmi": kg_edge_pmi_sql(),
        "graph_hits": graph_hits_sql(),
        "kg_er_jaccard": kg_er_jaccard_sql(),
        "kg_er_edit": kg_er_edit_sql(),
        "graph_scc": graph_scc_sql(),
        "graph_louvain": graph_louvain_sql(),
        "graph_coarsen": graph_coarsen_sql(),
        "graph_msgpass": graph_msgpass_sql(),
        "graph_ktruss": graph_ktruss_sql(),
    }
