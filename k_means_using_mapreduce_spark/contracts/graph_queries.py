"""Graph contracts (operators/graph.py): event-transition edges and a
fixed-iteration PageRank whose oracle unrolls the same 3 damped
iterations in CTEs — the iterative driver loop checked value-for-value
against pure SQL, like kmeans_one_step before it."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.loaders import k_row_df as _k_row_df

from ..sources.loaders import load_table

DAMPING = 0.85
ITERS = 3

_EDGES_CTE = """
seq AS (
  SELECT user_id, event_id, event_type AS dst,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS src
  FROM events
), edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2
)
"""


def event_transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted what-follows-what navigation graph per user stream."""
    from ..operators.graph import transition_edges

    return transition_edges(load_table(spark, sf_dir, "events"))


TRANSITION_EDGES_SQL = (
    "WITH " + _EDGES_CTE.strip() + "\nSELECT src, dst, n FROM edges"
)


def _iter_cte(k: int) -> str:
    """One unrolled PageRank iteration: r{k-1} -> r{k}."""
    return f"""d{k} AS (
  SELECT coalesce(sum(rank), 0) AS dm FROM r{k - 1}
  WHERE node NOT IN (SELECT src FROM norm)
), c{k} AS (
  SELECT dst, sum(p * rank) AS c FROM norm JOIN r{k - 1} ON norm.src = r{k - 1}.node
  GROUP BY 1
), r{k} AS (
  SELECT node, (1 - {DAMPING}) / n + {DAMPING} * (coalesce(c, 0) + dm / n) AS rank
  FROM nodes CROSS JOIN nn CROSS JOIN d{k} LEFT JOIN c{k} ON node = dst
)"""


def event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, exactly 3 iterations) over the event
    transition graph — which event types the navigation flow
    concentrates on."""
    from ..operators.graph import pagerank, transition_edges

    edges = transition_edges(load_table(spark, sf_dir, "events"))
    return pagerank(
        edges, weight_col="n", damping=DAMPING, max_iter=ITERS, tol=0.0
    )


PAGERANK_SQL = (
    "WITH " + _EDGES_CTE.strip()
    + """, nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
  )
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), outw AS (
  SELECT src, CAST(sum(n) AS DOUBLE) AS ow FROM edges GROUP BY 1
), norm AS (
  SELECT src, dst, n / ow AS p FROM edges JOIN outw USING (src)
), r0 AS (
  SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn
), """
    + ", ".join(_iter_cte(k) for k in range(1, ITERS + 1))
    + f"\nSELECT node, rank FROM r{ITERS}"
)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "event_transition_edges": event_transition_edges,
    "event_pagerank": event_pagerank,
}

ORACLE_SQL: dict[str, str] = {
    "event_transition_edges": TRANSITION_EDGES_SQL,
    "event_pagerank": PAGERANK_SQL,
}


def frequent_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most frequent 3-step event-type paths — k-step
    sequential patterns over the same per-user ordering as the
    transition graph."""
    from ..operators.graph import event_paths

    return event_paths(load_table(spark, sf_dir, "events"), steps=3, top=20)


FREQUENT_PATHS_SQL = """
WITH seq AS (
  SELECT lag(event_type, 2) OVER w AS step_1,
         lag(event_type, 1) OVER w AS step_2,
         event_type AS step_3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT step_1, step_2, step_3, CAST(count(*) AS BIGINT) AS n
FROM seq WHERE step_1 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, step_1 ASC, step_2 ASC, step_3 ASC
LIMIT 20
"""

QUERIES["frequent_event_paths"] = frequent_event_paths
ORACLE_SQL["frequent_event_paths"] = FREQUENT_PATHS_SQL


from pyspark.sql import functions as F

_MINUTE_NS = 60_000_000_000
_COOC_CAP = 20


def _user_cooc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import cooccurrence_edges

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("ts") - F.col("ts") % _MINUTE_NS).alias("minute_ns"),
        "event_type",
    )
    return cooccurrence_edges(
        ev, "user_id", ["minute_ns", "event_type"],
        max_group_size=_COOC_CAP,
    )


def user_cooccurrence_triangles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user degree / triangle count / local clustering over the
    minute-level co-activity graph (operators/graph.py::
    cooccurrence_edges + triangle_stats)."""
    from ..operators.graph import triangle_stats

    return triangle_stats(_user_cooc_edges(spark, sf_dir))


def cooccurrence_graph_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row graph census: nodes, edges, triangles, global clustering
    (operators/graph.py::triangle_summary)."""
    from ..operators.graph import triangle_summary

    return triangle_summary(_user_cooc_edges(spark, sf_dir))


_TRI_CORE = f"""
WITH base AS (
  SELECT DISTINCT user_id AS id,
         epoch_ns(ts) - epoch_ns(ts) % {_MINUTE_NS} AS g1,
         event_type AS g2
  FROM events
),
ok AS (SELECT g1, g2 FROM base GROUP BY 1, 2 HAVING count(*) <= {_COOC_CAP}),
b2 AS (SELECT base.* FROM base JOIN ok USING (g1, g2)),
edges AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM b2 a JOIN b2 b USING (g1, g2) WHERE a.id < b.id
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM edges e1
  JOIN edges e2 ON e1.dst = e2.src
  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
pern AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
  ) GROUP BY 1
),
stats AS (
  SELECT deg.node,
    CAST(degree AS BIGINT) AS degree,
    CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
    CASE WHEN degree >= 2
         THEN 2.0 * CAST(coalesce(triangles, 0) AS DOUBLE)
              / (CAST(degree AS DOUBLE) * (CAST(degree AS DOUBLE) - 1.0))
         ELSE 0.0 END AS clustering
  FROM deg LEFT JOIN pern USING (node)
)
"""

TRIANGLES_SQL = _TRI_CORE + """
SELECT * FROM stats
"""

TRI_SUMMARY_SQL = _TRI_CORE + """
SELECT
  CAST(count(*) AS BIGINT) AS n_nodes,
  CAST(CAST(sum(degree) AS DOUBLE) / 2 AS BIGINT) AS n_edges,
  CAST(CAST(sum(triangles) AS DOUBLE) / 3 AS BIGINT) AS n_triangles,
  CASE WHEN sum(CAST(degree AS DOUBLE) * (CAST(degree AS DOUBLE) - 1.0)
               / 2.0) > 0
       THEN CAST(sum(triangles) AS DOUBLE)
            / sum(CAST(degree AS DOUBLE) * (CAST(degree AS DOUBLE) - 1.0)
                  / 2.0)
       ELSE 0.0 END AS global_clustering
FROM stats
"""

QUERIES["user_cooccurrence_triangles"] = user_cooccurrence_triangles
ORACLE_SQL["user_cooccurrence_triangles"] = TRIANGLES_SQL
QUERIES["cooccurrence_graph_summary"] = cooccurrence_graph_summary
ORACLE_SQL["cooccurrence_graph_summary"] = TRI_SUMMARY_SQL


def user_markov_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Markov-chain surprisal/perplexity under the corpus's
    own transition model (operators/graph.py::markov_sequence_scores)."""
    from ..operators.graph import markov_sequence_scores

    return markov_sequence_scores(load_table(spark, sf_dir, "events"))


MARKOV_SQL = """
WITH seq AS (
  SELECT user_id AS user, event_type AS dst,
    lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY epoch_us(ts), event_id) AS src
  FROM events
),
trans AS (SELECT * FROM seq WHERE src IS NOT NULL),
counts AS (SELECT src, dst, count(*) AS n FROM trans GROUP BY 1, 2),
marg AS (SELECT src, sum(n) AS n_src FROM counts GROUP BY 1),
ptab AS (
  SELECT src, dst, CAST(n AS DOUBLE) / CAST(n_src AS DOUBLE) AS p
  FROM counts JOIN marg USING (src)
)
SELECT t.user,
  CAST(count(*) AS BIGINT) AS n_transitions,
  sum(ln(p)) AS logprob_sum,
  avg(ln(p)) AS avg_logprob,
  exp(-avg(ln(p))) AS perplexity
FROM trans t JOIN ptab USING (src, dst)
GROUP BY t.user
"""

QUERIES["user_markov_surprisal"] = user_markov_surprisal
ORACLE_SQL["user_markov_surprisal"] = MARKOV_SQL


def user_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar / neighbor-Jaccard link prediction over the
    co-activity graph: scores for non-adjacent user pairs with common
    neighbors (operators/graph.py::link_prediction_scores)."""
    from ..operators.graph import link_prediction_scores

    return link_prediction_scores(_user_cooc_edges(spark, sf_dir))


LINK_PREDICTION_SQL = f"""
WITH base AS (
  SELECT DISTINCT user_id AS id,
         epoch_ns(ts) - epoch_ns(ts) % {_MINUTE_NS} AS g1,
         event_type AS g2
  FROM events
),
ok AS (SELECT g1, g2 FROM base GROUP BY 1, 2 HAVING count(*) <= {_COOC_CAP}),
b2 AS (SELECT base.* FROM base JOIN ok USING (g1, g2)),
edges AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM b2 a JOIN b2 b USING (g1, g2) WHERE a.id < b.id
),
adj AS (
  SELECT src AS node, dst AS nbr FROM edges
  UNION ALL SELECT dst, src FROM edges
),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
adj2 AS (
  SELECT a.node, a.nbr, d.deg AS nbr_deg
  FROM adj a JOIN deg d ON a.nbr = d.node
),
wedges AS (
  SELECT a.node AS node_a, b.node AS node_b, a.nbr_deg
  FROM adj2 a JOIN adj2 b USING (nbr)
  WHERE a.node < b.node
),
scored AS (
  SELECT node_a, node_b, CAST(count(*) AS BIGINT) AS common,
         sum(1.0 / ln(CAST(nbr_deg AS DOUBLE))) AS adamic_adar
  FROM wedges GROUP BY 1, 2
),
non_adj AS (
  SELECT s.* FROM scored s
  WHERE NOT EXISTS (SELECT 1 FROM edges e
                    WHERE e.src = s.node_a AND e.dst = s.node_b)
)
SELECT n.node_a, n.node_b, n.common, da.deg AS deg_a, db.deg AS deg_b,
  n.adamic_adar,
  CAST(n.common AS DOUBLE) / (da.deg + db.deg - n.common) AS jaccard_nbrs
FROM non_adj n
JOIN deg da ON n.node_a = da.node
JOIN deg db ON n.node_b = db.node
"""

QUERIES["user_link_prediction"] = user_link_prediction
ORACLE_SQL["user_link_prediction"] = LINK_PREDICTION_SQL


K_CORE_K = 2
K_CORE_ROUNDS = 20


def user_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the co-activity graph: the stable highly-connected
    community after iteratively peeling low-degree users
    (operators/graph.py::k_core_nodes)."""
    from ..operators.graph import k_core_nodes

    return k_core_nodes(
        _user_cooc_edges(spark, sf_dir), K_CORE_K, max_rounds=K_CORE_ROUNDS
    )


# The oracle carries the symmetric ADJACENCY through a recursive CTE:
# in a symmetric adjacency the window count over nbr IS nbr's degree,
# so one self-reference-free recursive term peels a full round. Fixed
# K_CORE_ROUNDS rounds; once the peel converges the rows replicate
# unchanged, so round = K_CORE_ROUNDS is the fixpoint the engine's
# early-exit loop reaches (tests/test_kcore.py pins depth < rounds).
K_CORE_SQL = f"""
WITH RECURSIVE base AS (
  SELECT DISTINCT user_id AS id,
         epoch_ns(ts) - epoch_ns(ts) % {_MINUTE_NS} AS g1,
         event_type AS g2
  FROM events
),
ok AS (SELECT g1, g2 FROM base GROUP BY 1, 2 HAVING count(*) <= {_COOC_CAP}),
b2 AS (SELECT base.* FROM base JOIN ok USING (g1, g2)),
edges AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM b2 a JOIN b2 b USING (g1, g2) WHERE a.id < b.id
),
adj AS (
  SELECT src AS node, dst AS nbr FROM edges
  UNION ALL SELECT dst, src FROM edges
),
peel AS (
  SELECT node, nbr, 0 AS r FROM adj
  UNION ALL
  SELECT node, nbr, r + 1 FROM (
    SELECT node, nbr, r,
           count(*) OVER (PARTITION BY node) AS d_node,
           count(*) OVER (PARTITION BY nbr) AS d_nbr
    FROM peel
  ) WHERE r < {K_CORE_ROUNDS}
    AND d_node >= {K_CORE_K} AND d_nbr >= {K_CORE_K}
)
SELECT node, CAST(count(*) AS BIGINT) AS deg
FROM peel WHERE r = {K_CORE_ROUNDS}
GROUP BY 1
"""

QUERIES["user_k_core"] = user_k_core
ORACLE_SQL["user_k_core"] = K_CORE_SQL


HITS_ITERS = 3


def event_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted HITS (3 iterations, L1-normalized) over the event
    transition graph — entry-screen hubs vs destination authorities
    (operators/graph.py::hits)."""
    from ..operators.graph import hits, transition_edges

    edges = transition_edges(load_table(spark, sf_dir, "events"))
    return hits(edges, weight_col="n", max_iter=HITS_ITERS)


def _hits_iter_cte(k: int) -> str:
    """One unrolled HITS iteration: h{k-1} -> a{k} -> h{k}."""
    # MATERIALIZED: each CTE is referenced more than once down the
    # unrolled chain; letting DuckDB inline them re-evaluates the
    # whole prefix per reference (~65 s at sf0.1 vs ~1 s materialized)
    return f"""au{k} AS MATERIALIZED (
  SELECT dst AS node, sum(w * hub) AS un
  FROM we JOIN h{k - 1} ON we.src = h{k - 1}.node GROUP BY 1
), ta{k} AS (SELECT sum(un) AS t FROM au{k}),
a{k} AS MATERIALIZED (
  SELECT hnodes.node, coalesce(un, 0.0) / t AS auth
  FROM hnodes CROSS JOIN ta{k} LEFT JOIN au{k} USING (node)
), hu{k} AS MATERIALIZED (
  SELECT src AS node, sum(w * auth) AS un
  FROM we JOIN a{k} ON we.dst = a{k}.node GROUP BY 1
), th{k} AS (SELECT sum(un) AS t FROM hu{k}),
h{k} AS MATERIALIZED (
  SELECT hnodes.node, coalesce(un, 0.0) / t AS hub
  FROM hnodes CROSS JOIN th{k} LEFT JOIN hu{k} USING (node)
)"""


HITS_SQL = (
    "WITH "
    + _EDGES_CTE.strip()
    + """,
we AS (SELECT src, dst, CAST(n AS DOUBLE) AS w FROM edges),
hnodes AS (SELECT DISTINCT node FROM
  (SELECT src AS node FROM we UNION ALL SELECT dst FROM we)),
hcnt AS (SELECT count(*) AS nn FROM hnodes),
h0 AS (SELECT node, 1.0 / nn AS hub FROM hnodes CROSS JOIN hcnt),
"""
    + ",\n".join(_hits_iter_cte(k) for k in range(1, HITS_ITERS + 1))
    + f"""
SELECT h{HITS_ITERS}.node, hub, auth
FROM h{HITS_ITERS} JOIN a{HITS_ITERS} ON h{HITS_ITERS}.node = a{HITS_ITERS}.node
"""
)

QUERIES["event_hits"] = event_hits
ORACLE_SQL["event_hits"] = HITS_SQL


LPA_ROUNDS = 4


def user_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (4 fixed rounds)
    over the co-activity graph, plus each community's size
    (operators/graph.py::label_propagation)."""
    from ..operators.graph import label_propagation

    labels = label_propagation(
        _user_cooc_edges(spark, sf_dir), rounds=LPA_ROUNDS
    )
    return labels.groupBy("label").agg(
        F.count("*").cast("long").alias("size")
    )


LPA_SQL = f"""
WITH RECURSIVE base AS (
  SELECT DISTINCT user_id AS id,
         epoch_ns(ts) - epoch_ns(ts) % {_MINUTE_NS} AS g1,
         event_type AS g2
  FROM events
),
ok AS (SELECT g1, g2 FROM base GROUP BY 1, 2 HAVING count(*) <= {_COOC_CAP}),
b2 AS (SELECT base.* FROM base JOIN ok USING (g1, g2)),
edges AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM b2 a JOIN b2 b USING (g1, g2) WHERE a.id < b.id
),
adj AS (
  SELECT src AS node, dst AS nbr FROM edges
  UNION ALL SELECT dst, src FROM edges
),
lnodes AS (SELECT DISTINCT node FROM adj),
lp AS (
  SELECT node, node AS label, 0 AS r FROM lnodes
  UNION ALL
  SELECT node, label, r + 1 FROM (
    SELECT a.node, l.label, l.r, count(*) AS c
    FROM adj a JOIN lp l ON a.nbr = l.node
    WHERE l.r < {LPA_ROUNDS}
    GROUP BY 1, 2, 3
  ) QUALIFY row_number() OVER (PARTITION BY node, r ORDER BY c DESC, label) = 1
)
SELECT label, CAST(count(*) AS BIGINT) AS size
FROM lp WHERE r = {LPA_ROUNDS}
GROUP BY 1
"""

QUERIES["user_communities"] = user_communities
ORACLE_SQL["user_communities"] = LPA_SQL


BFS_MAX_HOPS = 6


def user_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distances from the lowest-id user over the co-activity
    graph (operators/graph.py::bfs_hops) — frontier BFS with minimal
    hop counts, 6-hop horizon."""
    from ..operators.graph import bfs_hops

    # pinned for its two consumers (the symmetrized edge list and the
    # start node), which would otherwise each re-run events -> edges;
    # the returned levels are checkpointed, so the pin ends here
    edges = _user_cooc_edges(spark, sf_dir).persist()
    try:
        start = edges.agg(F.min("src").alias("node"))
        return bfs_hops(edges, start, max_hops=BFS_MAX_HOPS)
    finally:
        edges.unpersist()


BFS_SQL = f"""
WITH RECURSIVE base AS (
  SELECT DISTINCT user_id AS id,
         epoch_ns(ts) - epoch_ns(ts) % {_MINUTE_NS} AS g1,
         event_type AS g2
  FROM events
),
ok AS (SELECT g1, g2 FROM base GROUP BY 1, 2 HAVING count(*) <= {_COOC_CAP}),
b2 AS (SELECT base.* FROM base JOIN ok USING (g1, g2)),
edges AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM b2 a JOIN b2 b USING (g1, g2) WHERE a.id < b.id
),
es AS (
  SELECT src AS u, dst AS v FROM edges
  UNION SELECT dst, src FROM edges
),
hops(node, hop) AS (
  SELECT min(src), 0 FROM edges
  UNION
  SELECT es.v, hops.hop + 1
  FROM hops JOIN es ON es.u = hops.node
  WHERE hops.hop < {BFS_MAX_HOPS}
)
SELECT node, CAST(min(hop) AS INTEGER) AS hop FROM hops GROUP BY 1
"""

QUERIES["user_bfs_hops"] = user_bfs_hops
ORACLE_SQL["user_bfs_hops"] = BFS_SQL


def purchase_distance_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest navigation distance from 'purchase' to every
    event type over the transition graph (edge cost 1/n: frequent
    hops are cheap), 4 Bellman-Ford rounds
    (operators/graph.py::sssp_weighted)."""
    from ..operators.graph import sssp_weighted, transition_edges

    ev = load_table(spark, sf_dir, "events")
    edges = transition_edges(ev).select(
        "src", "dst", (F.lit(1.0) / F.col("n").cast("double")).alias("w")
    )
    sources = _k_row_df(spark, [("purchase",)], "node string")
    return sssp_weighted(edges, sources, rounds=4)


def _sssp_sql(rounds: int = 4) -> str:
    parts = [
        _EDGES_CTE.strip(),
        """we AS MATERIALIZED (
  SELECT src, dst, 1.0 / CAST(n AS DOUBLE) AS w FROM edges
)""",
        "d0 AS (SELECT 'purchase' AS node, 0.0 AS dist)",
    ]
    for k in range(1, rounds + 1):
        parts.append(f"""d{k} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{k - 1}
    UNION ALL
    SELECT we.dst AS node, d{k - 1}.dist + we.w AS dist
    FROM d{k - 1} JOIN we ON we.src = d{k - 1}.node
  ) t GROUP BY 1
)""")
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, dist FROM d{rounds}"


QUERIES["purchase_distance_sssp"] = purchase_distance_sssp
ORACLE_SQL["purchase_distance_sssp"] = _sssp_sql(4)


def user_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the user co-activity graph — do heavy
    co-occurrers attach to each other?
    (operators/graph.py::degree_assortativity)."""
    from ..operators.graph import degree_assortativity

    return degree_assortativity(_user_cooc_edges(spark, sf_dir))


# reuse the triangle contracts' edge construction verbatim, swap the
# analysis CTEs
ASSORTATIVITY_SQL = _TRI_CORE.split("tri AS")[0] + """sym AS (
  SELECT src AS u, dst AS v FROM edges
  UNION
  SELECT dst AS u, src AS v FROM edges
),
deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS d FROM sym GROUP BY 1),
paired AS (
  SELECT s.u, du.d AS du, dv.d AS dv
  FROM sym s
  JOIN deg du ON du.u = s.u
  JOIN deg dv ON dv.u = s.v
)
SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_nodes,
  CAST(CAST(count(*) AS DOUBLE) / 2.0 AS BIGINT) AS n_edges,
  (CAST(count(*) AS DOUBLE) * sum(du * dv) - sum(du) * sum(dv))
    / nullif(sqrt(
        (CAST(count(*) AS DOUBLE) * sum(du * du) - sum(du) * sum(du))
        * (CAST(count(*) AS DOUBLE) * sum(dv * dv) - sum(dv) * sum(dv))
      ), 0.0) AS assortativity
FROM paired
"""

QUERIES["user_graph_assortativity"] = user_graph_assortativity
ORACLE_SQL["user_graph_assortativity"] = ASSORTATIVITY_SQL


def transition_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the event-type transition graph — do navigation
    hops run both ways? (operators/graph.py::reciprocity)."""
    from ..operators.graph import reciprocity, transition_edges

    return reciprocity(
        transition_edges(load_table(spark, sf_dir, "events"))
    )


RECIPROCITY_SQL = (
    "WITH "
    + _EDGES_CTE.strip()
    + """,
e AS (SELECT DISTINCT src AS u, dst AS v FROM edges
      WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
m AS (
  SELECT count(*) AS n_reciprocal
  FROM e WHERE EXISTS (
    SELECT 1 FROM e r WHERE r.u = e.v AND r.v = e.u
  )
)
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
  CAST(n_reciprocal AS BIGINT) AS n_reciprocal,
  CAST(n_reciprocal AS DOUBLE) / (SELECT count(*) FROM e)
    AS reciprocity
FROM m
"""
)

QUERIES["transition_reciprocity"] = transition_reciprocity
ORACLE_SQL["transition_reciprocity"] = RECIPROCITY_SQL


_HMM_EMIT = {
    "view": (0.35, 0.10),
    "click": (0.35, 0.15),
    "signup": (0.10, 0.20),
    "error": (0.10, 0.15),
    "purchase": (0.10, 0.40),
}
_HMM_TRANS = ((0.85, 0.15), (0.25, 0.75))
_HMM_INIT = (0.7, 0.3)
_HMM_FLOOR = 1e-3


def hmm_viterbi_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-parameter 2-state HMM Viterbi decode of each user's
    event sequence (operators/graph.py::hmm_viterbi_scores): final
    state scores, the Viterbi log-probability, and the decoded final
    state under a literal browse/transact emission model. Emission
    log-probs fold in as a JVM CASE projection; only the sequential
    max-recursion runs in a per-user Arrow kernel, replayed by the
    oracle as a recursive CTE with GREATEST over the exact same
    log literals."""
    from ..operators.graph import hmm_viterbi_scores

    return hmm_viterbi_scores(
        load_table(spark, sf_dir, "events"),
        emissions=_HMM_EMIT,
        transitions=_HMM_TRANS,
        initial=_HMM_INIT,
        floor=_HMM_FLOOR,
    )


def _hmm_sql() -> str:
    import math

    ln = math.log
    (a00, a01), (a10, a11) = _HMM_TRANS
    pi0, pi1 = _HMM_INIT

    def case(state: int) -> str:
        whens = " ".join(
            f"WHEN '{sym}' THEN CAST({ln(probs[state])!r} AS DOUBLE)"
            for sym, probs in sorted(_HMM_EMIT.items())
        )
        return (
            f"CASE event_type {whens} "
            f"ELSE CAST({ln(_HMM_FLOOR)!r} AS DOUBLE) END"
        )

    return f"""
WITH RECURSIVE seq AS (
  SELECT user_id AS user,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS idx,
    {case(0)} AS e0,
    {case(1)} AS e1
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
vt AS (
  SELECT user, idx,
         CAST({ln(pi0)!r} AS DOUBLE) + e0 AS v0,
         CAST({ln(pi1)!r} AS DOUBLE) + e1 AS v1
  FROM seq WHERE idx = 1
  UNION ALL
  SELECT s.user, s.idx,
    s.e0 + greatest(vt.v0 + CAST({ln(a00)!r} AS DOUBLE),
                    vt.v1 + CAST({ln(a10)!r} AS DOUBLE)) AS v0,
    s.e1 + greatest(vt.v0 + CAST({ln(a01)!r} AS DOUBLE),
                    vt.v1 + CAST({ln(a11)!r} AS DOUBLE)) AS v1
  FROM vt JOIN seq s ON s.user = vt.user AND s.idx = vt.idx + 1
),
fin AS (
  SELECT user, idx, v0, v1,
         row_number() OVER (PARTITION BY user ORDER BY idx DESC) AS rk
  FROM vt
)
SELECT user, CAST(idx AS BIGINT) AS n, v0, v1,
       greatest(v0, v1) AS logp,
       CAST(CASE WHEN v1 > v0 THEN 1 ELSE 0 END AS INT) AS best_state
FROM fin WHERE rk = 1
"""


QUERIES["hmm_viterbi_users"] = hmm_viterbi_users
ORACLE_SQL["hmm_viterbi_users"] = _hmm_sql()
