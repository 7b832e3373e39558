"""Graph-analytics queries over the customer↔supplier trade graph.

The graph: an undirected bipartite link between a customer and every
supplier they bought from (distinct (o_custkey, l_suppkey) pairs through
orders⋈lineitem), suppliers offset by +10,000,000 to disjointify the two
key spaces. Symmetric edges → no dangling nodes → PageRank mass is
conserved up to integer truncation (see operators/graph.py).

Both queries are oracle-checked value-for-value: PageRank via the
generated unrolled-CTE oracle (same integer constants as the Spark
recurrence — the kmeans/BPE generated-oracle pattern), the degree
distribution via plain SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph
from ..queries import query
from ..sources.tables import load_table

_SUPP_OFFSET = 10_000_000
_PR_ITERS = 4

_EDGES_CTE = f"""pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT c AS src, {_SUPP_OFFSET} + s AS dst FROM pairs
  UNION ALL
  SELECT {_SUPP_OFFSET} + s AS src, c AS dst FROM pairs
)"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (src, dst) edge list of the trade graph — fixed-width
    bigint rows from the moment of creation; at scale the distinct() is
    the only fact-sized shuffle and everything downstream is node-sized."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    fwd = pairs.select(
        F.col("c").alias("src"), (F.lit(_SUPP_OFFSET) + F.col("s")).alias("dst")
    )
    rev = pairs.select(
        (F.lit(_SUPP_OFFSET) + F.col("s")).alias("src"), F.col("c").alias("dst")
    )
    return fwd.unionByName(rev)


_PAGERANK_ORACLE = graph.pagerank_oracle_sql(_EDGES_CTE, iters=_PR_ITERS)


@query("graph_pagerank_trade", sql=_PAGERANK_ORACLE)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier trade graph — 4 power-iteration
    rounds of the integer-scaled recurrence (operators/graph.py), every
    round value-checked by the generated unrolled-CTE DuckDB oracle built
    from the SAME constants. The iterative complement to
    dedup_components: components answers "which nodes connect", PageRank
    answers "which nodes matter" — the two classic Pregel workloads. At
    scale: one fact-sized distinct to build edges, then O(iters) shuffles
    of node-sized bigint rows; lineage cut per round keeps the plan flat
    (kmeans_fit device), pinned by the plan-depth gate in
    tests/test_graph.py."""
    return graph.pagerank(_trade_edges(spark, sf_dir), iters=_PR_ITERS)


_DEGREE_ORACLE = f"""
WITH {_EDGES_CTE},
deg AS (SELECT src AS node, count(*) AS degree FROM edges GROUP BY src)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
"""


@query("graph_degree_distribution", sql=_DEGREE_ORACLE)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the trade graph (how many distinct partners
    each participant trades with, histogrammed) — the count-of-counts
    shape over graph edges; two stacked aggregations, second one over at
    most max-degree distinct rows."""
    return graph.degree_stats(_trade_edges(spark, sf_dir))


_LPA_ITERS = 4
_LPA_ORACLE = graph.lpa_oracle_sql(_EDGES_CTE, iters=_LPA_ITERS)


# ---------------------------------------------------------------------------
# Triangle counting / local clustering coefficient — over the PART
# co-purchase projection (the trade graph is bipartite, hence triangle-free
# by construction): parts are linked when they appear together in ≥2 ORDERS.
# Order-level baskets, not customer-level: an order holds ≤ a handful of
# lines, so each basket emits ~6 pairs instead of the ~800 per customer
# basket (measured 11× cheaper at sf0.1 for a graph of the same order of
# magnitude), and "bought in the same order" is the standard market-basket
# granularity anyway. Spark builds each order's part set with one group-by
# and explodes the pairs inside the set's row; the oracle spells the same
# set as DISTINCT + window count + self-join. Hot baskets >256 distinct
# items are dropped before pairing (the DIMSUM cap — a no-op on TPC-H
# order shapes, the guard a 100 TB bot-order needs).
# ---------------------------------------------------------------------------

_COPURCHASE_EDGES_CTE = """basket0 AS (
  SELECT DISTINCT l_orderkey AS bid, l_partkey AS part FROM lineitem
),
capped AS (
  SELECT bid, part FROM (
    SELECT bid, part, count(*) OVER (PARTITION BY bid) AS bk FROM basket0
  ) WHERE bk <= 256
),
edges AS (
  SELECT a.part AS a, b.part AS b
  FROM capped a JOIN capped b ON a.bid = b.bid AND a.part < b.part
  GROUP BY 1, 2
  HAVING count(*) >= 2
)"""

_TRIANGLE_ORACLE = graph.triangle_oracle_sql(_COPURCHASE_EDGES_CTE)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b) part-part co-purchase edges: parts sharing ≥2
    orders, basket cap 256 — the undirected projection the triangle /
    k-core / Adamic-Adar queries run on. One basket group-by (the set of
    distinct parts per order), each capped set exploded into its a < b
    pairs in place (bounded per-order fan-out), then one grouped count:
    two shuffles, no sort, no cross join — the DIMSUM shape."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey").isNotNull())
    baskets = li.groupBy(F.col("l_orderkey").alias("bid")).agg(
        F.collect_set("l_partkey").alias("parts"),
        # the oracle's cap counts a NULL part as one more distinct row
        F.max(F.col("l_partkey").isNull().cast("int")).alias("__null"),
    )
    pairs = (
        baskets.where(F.size("parts") + F.col("__null") <= 256)
        .select(F.explode("parts").alias("a"), "parts")
        .select("a", F.explode("parts").alias("b"))
        .where(F.col("a") < F.col("b"))
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= 2)
        .select("a", "b")
    )


@query("graph_triangle_count", sql=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    part co-purchase graph — THE graph-quality statistic components/LPA
    can't see (a chain and a clique have identical components; only
    triangles tell them apart). Spark runs the degree-oriented
    wedge-closure algorithm (O(m^1.5) bound, hot-node-proof — see
    operators/graph.py:triangle_counts); the oracle re-counts every
    triangle independently via the id-ordered 3-way join. Output is
    node-sized: (node, degree, triangles, clustering)."""
    return graph.triangle_counts(_copurchase_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Multi-source BFS levels over the trade graph: minimum hop distance from a
# fixed seed set (customers 1–5) within 4 hops. Bipartite structure means
# odd levels are suppliers, even levels customers — reachability itself is
# what's being checked.
# ---------------------------------------------------------------------------

_BFS_MAX_LEVEL = 4
_SEEDS_CTE = "seeds AS (SELECT c_custkey AS node FROM customer WHERE c_custkey <= 5)"
_BFS_ORACLE = graph.bfs_oracle_sql(_EDGES_CTE, _SEEDS_CTE, max_level=_BFS_MAX_LEVEL)


@query("graph_bfs_levels", sql=_BFS_ORACLE)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS from customers 1–5 over the trade graph: (node,
    level) = minimum hop distance, 4 unrolled frontier rounds, every
    frontier value-checked by the generated hop-per-CTE DuckDB oracle.
    The fourth Pregel workload next to PageRank/LPA/components —
    reachability with distance, the shape behind influence radii, fraud
    rings, and link-graph crawl-depth audits. Per round: one frontier ⋈
    edges equi-join + distinct + anti-join against visited; all relations
    node-sized bigints, lineage cut per round."""
    seeds = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 5)
        .select(F.col("c_custkey").alias("node"))
    )
    return graph.bfs_levels(
        _trade_edges(spark, sf_dir), seeds, max_level=_BFS_MAX_LEVEL
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed k, unrolled peels) and Adamic–Adar link
# prediction — both over the part co-purchase projection (cores and shared
# neighborhoods need a non-bipartite graph).
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 6
# e0 is referenced twice by peel round 1 (and references `edges` twice
# itself) — materialized for the same exponential-reinline reason as the
# per-round CTEs in graph.kcore_oracle_sql (r12; execution hint only)
_KCORE_SYM_CTE = f"""{_COPURCHASE_EDGES_CTE},
e0 AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b AS src, a AS dst FROM edges
)"""
_KCORE_ORACLE = graph.kcore_oracle_sql(_KCORE_SYM_CTE, k=_KCORE_K, rounds=_KCORE_ROUNDS)


@query("graph_kcore", sql=_KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the co-purchase graph after 6 unrolled peel rounds (the
    measured peel depth is 0/3/5 at sf0.001/0.01/0.1, so 6 rounds IS the
    true 2-core at every tested scale — convergence pytest-pinned): the
    density filter that strips hairs and chains off a graph before
    community/centrality work, and the classic "engaged subgraph" cut.
    Per round: one shuffle of the shrinking degree-carrying edge rows,
    every peel value-checked by the generated unrolled oracle."""
    canon = _copurchase_edges(spark, sf_dir)
    sym = canon.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return graph.kcore(sym, k=_KCORE_K, rounds=_KCORE_ROUNDS)


_AA_ORACLE = graph.adamic_adar_oracle_sql(_COPURCHASE_EDGES_CTE)


@query("graph_adamic_adar", sql=_AA_ORACLE)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the co-purchase graph: for every
    non-linked part pair sharing ≥2 neighbors, Σ 1/ln(deg) over the shared
    neighbors — "parts that should co-sell but don't yet", the
    completion-suggestion primitive. Hub centers above degree 64 are
    capped out BEFORE the wedge join (the engine's standard hot-key
    discipline); the weight sum is decimal-exact with ONE rounded
    transcendental per center (zipf portability device)."""
    return graph.adamic_adar(_copurchase_edges(spark, sf_dir))


@query("graph_lpa_communities", sql=_LPA_ORACLE)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the trade graph —
    4 deterministic rounds (neighbor-label mode, min-label ties), every
    node's final label value-checked against the generated unrolled-CTE
    oracle. The third Pregel workload next to PageRank and connected
    components: communities expose denser-than-chance neighborhoods
    (here: customer-supplier cliques) that components' reachability and
    PageRank's importance both miss. Same scale contract as pagerank:
    node-sized label relation per round, checkpointed edges, flat plans."""
    return graph.label_propagation(_trade_edges(spark, sf_dir), iters=_LPA_ITERS)


# ---------------------------------------------------------------------------
# Degree assortativity (r08): Pearson correlation of endpoint degrees over
# the symmetric edge relation — do hubs link to hubs (assortative, r > 0)
# or to leaves (disassortative, r < 0)? The one-number "mixing" summary
# next to the degree histogram. Decimal-exact power sums over exact bigint
# degrees, one fixed IEEE combination at the end (the moment-stats device).
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = f"""
WITH {_COPURCHASE_EDGES_CTE},
sym AS (
  SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b AS src, a AS dst FROM edges
),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY src),
pairs AS (
  SELECT da.d AS x, db.d AS y
  FROM sym s JOIN deg da ON da.node = s.src JOIN deg db ON db.node = s.dst
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy,
         CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE) AS syy
  FROM pairs
)
SELECT n AS n_directed_edges,
       round((n * sxy - sx * sy)
             / sqrt(greatest((n * sxx - sx * sx) * (n * syy - sy * sy), 1e-300)),
             9) AS assortativity
FROM sums
"""


@query("graph_assortativity", sql=_ASSORT_ORACLE)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Pearson r of the
    (deg(src), deg(dst)) pairs over the symmetric edge relation. All five
    power sums accumulate order-independently in exact DECIMAL; the final
    correlation is one fixed IEEE expression rounded to 9 — identical on
    both engines. Cost: the edge projection + two node-sized joins + one
    single-row aggregate."""
    canon = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    sym = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    pairs = sym.join(da, "src").join(db, "dst")
    sums = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        F.greatest(
            (n * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (n * F.col("syy") - F.col("sy") * F.col("sy")),
            F.lit(1e-300),
        )
    )
    return sums.select(
        F.col("n").alias("n_directed_edges"), F.round(r, 9).alias("assortativity")
    )
