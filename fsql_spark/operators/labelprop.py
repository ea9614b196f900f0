"""Semi-supervised label propagation over an embedding kNN graph.

A labeling pipeline rarely has labels for the whole corpus: a small seeded
subset (human labels, a teacher model run on a budget) must be spread to
the rest. Label propagation (Zhu & Ghahramani 2002) does exactly that:
build a similarity graph, clamp the seeds, and let every unlabeled node
take the weight-dominant label among its neighbors for a fixed number of
rounds — the classic cheap auto-labeler / teacher-label densifier in
training-data pipelines (and the same machinery as community detection).

Determinism across engines (what makes the FULL SQL replica possible):

- the kNN graph reuses the sampled-centroid IVF quantizer
  (``ivf_assign(iterations=0)`` — md5-ordered centroid sample, argmax
  assignment with ties to the lowest centroid id), already replicated in
  SQL by ``Q_EMB_IVF_ANN_SQL``; neighbors are ranked within cluster;
- edge weights are cosine in 1e-4 PIPS (``round(cos * 10000)`` as INT),
  so per-(node, label) vote sums are EXACT integers — argmax between two
  labels can never flip on float summation-order noise (the one place a
  double formulation would be cross-engine fragile); ranking uses the
  same integer, ties break on ascending neighbor id;
- seeds are the engine-portable md5-prefix sample
  (:func:`~fsql_spark.operators.sampling.fraction_to_hex_threshold`).

Scale shape (the 100 TB story): the graph build rides the IVF cost model
— assignment is map-only (Arrow-batched argmax against a KB centroid
matrix), candidate generation is an equi-join on centroid_id, and the
quadratic term is bounded per cluster with ``n_centroids`` as the knob
(the SemDeDup posture; NN-Descent is the drop-in refinement if cluster
sizes must shrink further). Each propagation round is one join of the
(corpus x k)-row edge list against the node-sized label table plus one
integer-sum aggregate — one exchange per round, rounds fixed and small.
Seeds stay clamped, so a round can only ever ADD labels; convergence is
not required for the contract (rounds is part of the spec, as in the
fixed-K PageRank).

No reference counterpart (the reference delegates all row-level compute,
`/root/reference/src/fsql/deser.py:30-31`); driver-mandated extension
surface (SURVEY §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import pinned
from .sampling import fraction_to_hex_threshold
from .similarity import ivf_assign


def knn_graph(
    vectors: DataFrame,
    key_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Directed in-cluster kNN graph: (node, nbr, wgt) with ``wgt`` =
    cosine(node, nbr) in 1e-4 pips (INT — see module docstring) and at most
    ``k`` out-edges per node (ranked by wgt desc NULLS LAST, nbr asc).
    Quadratic only within IVF clusters; assignment never shuffles the
    corpus.

    Plan (r14): ONE exchange — ``groupBy(centroid_id).applyInPandas`` runs
    the whole in-cluster score+rank as a tiled float64 GEMM per cluster
    (the ``_query_matrix`` lesson: the interpreted zip_with/aggregate
    cosine paid per candidate pair measured 25 s vs <1 s for 2k x 2k x 64,
    and the r12 SemDeDup GEMM A/B replayed the same 3.3x on this corpus).
    The r11-r13 formulation — a two-sided self-join on ``centroid_id``
    plus a per-node ``row_number`` window — carried three exchanges and,
    worse, hash-partitioned the quadratic work over at most
    ``n_centroids`` distinct keys, so AQE's size-based coalescing (which
    sees the compact pre-join rows, not the pair explosion) packed the
    whole corpus-squared scoring into ONE task at sf scale. Values are
    identical: same sampled-centroid assignment, pip = HALF_UP round of
    cosine x 1e4 (NULL when either norm is 0, ranked last like the
    window's desc-NULLS-LAST), same (wgt desc, nbr asc) tie order.

    Cluster-size posture matches :func:`~.similarity._cluster_dropped_keys`:
    the GEMM block is tiled (~134 MB cap), cluster ROW data is O(size x
    dim) per task, and ``n_centroids`` is the knob that bounds it. Keys
    duplicated across rows merge per key within a cluster (the window
    semantics); rows sharing a key that embed into DIFFERENT clusters are
    ranked per cluster — embedding tables are uniquely keyed, so the
    declared entries never reach that edge."""
    import numpy as np  # noqa: F401 (kernel import check at build time)

    from pyspark.sql.types import IntegerType, StructField, StructType

    assigned, _ = ivf_assign(
        vectors, key_col, vec_col, n_centroids=n_centroids, iterations=0, seed=seed
    )
    schema = StructType(
        [
            StructField("node", assigned.schema["k"].dataType),
            StructField("nbr", assigned.schema["k"].dataType),
            StructField("wgt", IntegerType()),
        ]
    )
    return (
        assigned.select("centroid_id", "k", "v")
        .groupBy("centroid_id")
        .applyInPandas(_cluster_knn_edges(k), schema)
    )


#: finite NULL-weight sentinel inside the kNN kernel: below the pip range
#: [-1e4, 1e4] so NULLs rank after every real weight, finite so the
#: composite (weight, col) tie-break stays total over the NULL block
_NULL_W = -20001.0


def _cluster_knn_edges(k: int, tile: int = 4096):
    """Per-cluster kNN scoring kernel: tiled GEMM + per-node top-k.

    Emits, for every distinct key in the cluster, its best ``k`` edges
    ordered by (pip weight desc, nbr asc) with NULL-weight candidates
    (zero-norm on either side — cosine undefined) ranked after every
    real weight, exactly the window formulation's ``desc`` NULLS LAST.
    Pip = Spark's HALF_UP: ``sign(c) * floor(|c| * 1e4 + 0.5)``. Row
    tiles bound the materialized similarity block at ``tile**2 * 8``
    bytes (~134 MB) regardless of cluster size."""

    def run(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        empty = pd.DataFrame(
            {
                "node": pd.Series([], dtype=pdf["k"].dtype),
                "nbr": pd.Series([], dtype=pdf["k"].dtype),
                "wgt": pd.array([], dtype="Int32"),
            }
        )
        if n < 2:
            return empty
        keys = pdf["k"].to_numpy()
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        norms = np.sqrt((mat * mat).sum(axis=1))
        nonzero = norms != 0.0

        # candidate columns sorted by nbr key once: per-row stable sorts on
        # the filled weight alone then preserve nbr-ascending among ties
        order = np.argsort(keys, kind="stable")
        keys_o = keys[order]
        mat_o = mat[order]
        norms_o = norms[order]
        nz_o = nonzero[order]

        out_node, out_nbr, out_wgt = [], [], []
        unique_keys = len(np.unique(keys)) == n
        # composite tie-break offsets, built once per cluster (see below)
        _col_offs = np.arange(n) * (1.0 / (2 * n))
        for lo in range(0, n, tile):
            rows = slice(lo, min(lo + tile, n))
            sims = mat_o[rows] @ mat_o.T  # (r, n) — r <= tile
            denom = np.outer(norms_o[rows], norms_o)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = sims / denom
            pip = np.sign(cos) * np.floor(np.abs(cos) * 10000.0 + 0.5)
            # NULL weight (either norm zero) ranks after every real pip:
            # the -20001.0 sentinel sits below the pip range [-1e4, 1e4]
            # (a finite sentinel, not -inf, so the composite tie-break
            # below stays total over the NULL block too)
            filled = np.where(np.outer(nz_o[rows], nz_o), pip, _NULL_W)
            r = filled.shape[0]
            if unique_keys:
                # top-k via per-row argpartition (advice find: the old loop
                # allocated an n-mask and full-argsorted all n candidates —
                # O(n^2 log n) on top of the GEMM; selecting k then sorting
                # only the survivors is 5x faster on the 4000-row cluster
                # microbench). Composite float key value - col/(2n) gives
                # exactly the loop's (weight desc, nbr asc) total order —
                # distinct pips differ by >= 1 while the col offsets stay
                # under 0.5 — and the self column pins to -inf so it can
                # never enter the top-(n-1).
                take = min(k, n - 1)
                for i in range(r):
                    comp = filled[i] - _col_offs
                    comp[lo + i] = -np.inf
                    part = np.argpartition(-comp, take - 1)[:take]
                    top = part[np.argsort(-comp[part])]
                    out_node.extend([keys_o[lo + i]] * take)
                    out_nbr.extend(keys_o[top])
                    out_wgt.extend(
                        int(pip[i, t]) if filled[i, t] != _NULL_W else None
                        for t in top
                    )
                continue
            for i in range(r):
                gi = lo + i
                mask = keys_o != keys_o[gi]
                cand = np.nonzero(mask)[0]
                if not len(cand):
                    continue
                # stable sort on filled weight desc keeps the nbr-ascending
                # pre-order among exact ties AND among the NULL block
                top = cand[np.argsort(-filled[i, cand], kind="stable")[:k]]
                m = len(top)
                out_node.extend([keys_o[gi]] * m)
                out_nbr.extend(keys_o[top])
                out_wgt.extend(
                    int(pip[i, t]) if filled[i, t] != _NULL_W else None
                    for t in top
                )
        if not out_node:
            return empty
        if not unique_keys:
            # duplicate keys: the window merges candidates of ALL rows of a
            # key; re-rank the per-row top-k unions and keep k per key
            df = pd.DataFrame({"node": out_node, "nbr": out_nbr, "wgt": out_wgt})
            df["_wfill"] = [
                -np.inf if w is None or w != w else float(w) for w in df["wgt"]
            ]
            df = df.sort_values(
                ["node", "_wfill", "nbr"],
                ascending=[True, False, True],
                kind="stable",
            )
            df = df.groupby("node", sort=False).head(k)
            out_node = df["node"].tolist()
            out_nbr = df["nbr"].tolist()
            out_wgt = df["wgt"].tolist()
        return pd.DataFrame(
            {
                "node": pd.Series(out_node, dtype=pdf["k"].dtype),
                "nbr": pd.Series(out_nbr, dtype=pdf["k"].dtype),
                "wgt": pd.array(
                    [None if w is None or w != w else int(w) for w in out_wgt],
                    dtype="Int32",
                ),
            }
        )

    return run


def _seed_hash(key) -> "F.Column":
    """md5-prefix seed selector, salted so seed membership is independent
    of every other hash-sample in the engine."""
    return F.substring(F.md5(F.concat_ws("-", key.cast("string"), F.lit("lp"))), 1, 8)


def propagate_labels(
    nodes: DataFrame,
    graph: DataFrame,
    key_col: str,
    label_col: str,
    seed_fraction: float = 0.3,
    rounds: int = 2,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(key, label_pred, is_seed): spread seed labels over ``graph`` for
    ``rounds`` rounds. Seeds (md5-prefix sample of ``seed_fraction``, or an
    explicit ``seeds`` (key, label) table) keep their true label every
    round (clamped); every other node takes the label with the largest
    integer vote sum among its labeled neighbors (ties -> smallest label),
    or NULL while no neighbor is labeled."""
    if seeds is not None:
        base = nodes.select(F.col(key_col).alias("node")).join(
            seeds.select(
                F.col(key_col).alias("node"), F.col(label_col).alias("_seed_label")
            ),
            "node",
            "left",
        )
    else:
        thr = fraction_to_hex_threshold(seed_fraction)
        base = nodes.select(
            F.col(key_col).alias("node"),
            F.when(
                _seed_hash(F.col(key_col)) < thr, F.col(label_col)
            ).alias("_seed_label"),
        )
    lab = base.select("node", F.col("_seed_label").alias("label"))
    pick = Window.partitionBy("node").orderBy(F.desc("_s"), F.asc("label"))
    for _ in range(rounds):
        votes = (
            graph.join(
                lab.where(F.col("label").isNotNull()).withColumnRenamed("node", "nbr"),
                "nbr",
            )
            .groupBy("node", "label")
            .agg(F.sum("wgt").alias("_s"))
        )
        picked = (
            votes.withColumn("_rn", F.row_number().over(pick))
            .where(F.col("_rn") == 1)
            .select("node", F.col("label").alias("_picked"))
        )
        lab = (
            base.join(picked, "node", "left")
            .select("node", F.coalesce("_seed_label", "_picked").alias("label"))
        )
    return (
        base.join(lab, "node")
        .select(
            F.col("node").alias(key_col),
            F.col("label").alias("label_pred"),
            F.col("_seed_label").isNotNull().alias("is_seed"),
        )
    )


# --------------------------------------------------------------------------
# catalog entry + oracle
# --------------------------------------------------------------------------

_LP_K = 5
_LP_CENTROIDS = 32
_LP_SEED_FRACTION = 0.3
_LP_ROUNDS = 2


def _q_label_propagation_frame(spark: SparkSession, sf: str, graph: DataFrame) -> DataFrame:
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    out = propagate_labels(
        emb, graph, "vec_id", "label",
        seed_fraction=_LP_SEED_FRACTION, rounds=_LP_ROUNDS,
    )
    truth = emb.select("vec_id", F.col("label").alias("_true"))
    # NULL-free output (nullable ints/booleans hash as None-vs-NaN across
    # pandas paths): -1 = still unlabeled after the rounds, which never
    # collides with real labels and never "matches"
    return (
        out.join(truth, "vec_id")
        .select(
            "vec_id",
            F.coalesce("label_pred", F.lit(-1)).alias("label_pred"),
            "is_seed",
            F.coalesce(
                F.col("label_pred") == F.col("_true"), F.lit(False)
            ).alias("matches_true"),
        )
        .orderBy("vec_id")
    )


def q_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Auto-label the embeddings table from a 30% md5-sampled seed set: two
    clamped propagation rounds over the in-cluster k=5 cosine graph,
    reporting per vector the propagated label, seed membership, and
    agreement with the held-back true label (the self-evaluation an
    auto-labeling run ships with). On THIS synthetic corpus the labels are
    uncorrelated with the vectors (max pairwise cosine ~0.49, no cluster
    structure), so non-seed agreement sits at the 1/n_labels chance floor
    (~10%) by construction — the entry's contract is exactness of the
    propagation semantics, pinned on structured graphs in
    tests/test_labelprop.py, not accuracy on random data.

    The two rounds reference the edge list twice, so it is persisted for
    the call and the node-sized result materialized driver-side so the
    cache releases per call — the q_source_js_divergence pattern."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    graph = knn_graph(emb, "vec_id", "embedding", k=_LP_K, n_centroids=_LP_CENTROIDS)
    with pinned(graph):
        out = _q_label_propagation_frame(spark, sf, graph=graph)
        pdf = out.toPandas()  # one row per vector: 4 scalars
    return spark.createDataFrame(pdf, schema=out.schema)


_LP_THRESHOLD_HEX = fraction_to_hex_threshold(_LP_SEED_FRACTION)

# full replica: the sampled-centroid IVF assignment block is the proven
# Q_EMB_IVF_ANN_SQL convention (md5-ordered centroid sample, argmax with
# ties to the lowest cid); kNN ranking and votes use the integer pip
# weight; two unrolled propagation rounds with clamped seeds.
Q_LABEL_PROPAGATION_SQL = f"""
WITH ex AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id),
cent AS (
  SELECT vec_id AS cid_key,
         CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '-42'), vec_id) AS INTEGER) - 1 AS cid
  FROM embeddings
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '-42'), vec_id) <= {_LP_CENTROIDS}
),
cvec AS (
  SELECT c.cid, e.i, e.v / GREATEST(n.nrm, 1e-12) AS cv
  FROM cent c JOIN ex e ON e.vec_id = c.cid_key JOIN norms n ON n.vec_id = c.cid_key
),
uvec AS (
  SELECT e.vec_id, e.i, e.v / GREATEST(n.nrm, 1e-12) AS uv
  FROM ex e JOIN norms n ON n.vec_id = e.vec_id
),
sim AS (
  SELECT u.vec_id, c.cid, SUM(u.uv * c.cv) AS s
  FROM uvec u JOIN cvec c ON u.i = c.i
  GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM sim) WHERE rn = 1
),
dots AS (
  SELECT a.vec_id AS node, b.vec_id AS nbr, SUM(ea.v * eb.v) AS d
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id != b.vec_id
  JOIN ex ea ON ea.vec_id = a.vec_id
  JOIN ex eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
  GROUP BY 1, 2
),
knn AS (
  SELECT node, nbr, wgt FROM (
    SELECT node, nbr,
           CAST(ROUND(10000.0 * d / (na.nrm * nb.nrm), 0) AS INTEGER) AS wgt,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY CAST(ROUND(10000.0 * d / (na.nrm * nb.nrm), 0) AS INTEGER) DESC,
                                       nbr ASC) AS rn
    FROM dots
    JOIN norms na ON node = na.vec_id
    JOIN norms nb ON nbr = nb.vec_id
  ) WHERE rn <= {_LP_K}
),
base AS (
  SELECT vec_id AS node,
         CASE WHEN substring(md5(CAST(vec_id AS VARCHAR) || '-lp'), 1, 8)
                   < '{_LP_THRESHOLD_HEX}'
              THEN label END AS seed_label
  FROM embeddings
),
v1 AS (
  SELECT k.node, l.seed_label AS label, SUM(k.wgt) AS s
  FROM knn k JOIN base l ON l.node = k.nbr
  WHERE l.seed_label IS NOT NULL
  GROUP BY 1, 2
),
p1 AS (
  SELECT node, label FROM (
    SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node ORDER BY s DESC, label ASC) AS rn
    FROM v1) WHERE rn = 1
),
lab1 AS (
  SELECT b.node, COALESCE(b.seed_label, p.label) AS label
  FROM base b LEFT JOIN p1 p ON p.node = b.node
),
v2 AS (
  SELECT k.node, l.label, SUM(k.wgt) AS s
  FROM knn k JOIN lab1 l ON l.node = k.nbr
  WHERE l.label IS NOT NULL
  GROUP BY 1, 2
),
p2 AS (
  SELECT node, label FROM (
    SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node ORDER BY s DESC, label ASC) AS rn
    FROM v2) WHERE rn = 1
),
lab2 AS (
  SELECT b.node, COALESCE(b.seed_label, p.label) AS label
  FROM base b LEFT JOIN p2 p ON p.node = b.node
)
SELECT e.vec_id,
       COALESCE(l.label, -1) AS label_pred,
       (b.seed_label IS NOT NULL) AS is_seed,
       COALESCE(l.label = e.label, FALSE) AS matches_true
FROM embeddings e
JOIN lab2 l ON l.node = e.vec_id
JOIN base b ON b.node = e.vec_id
ORDER BY e.vec_id
"""


LABELPROP_QUERIES = {"q_label_propagation": q_label_propagation}
LABELPROP_ORACLES = {"q_label_propagation": Q_LABEL_PROPAGATION_SQL}
