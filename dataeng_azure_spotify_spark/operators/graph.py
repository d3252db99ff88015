"""Distributed connected components — the clustering step a dedup
pipeline needs AFTER pair generation (reference parity: the reference's
dedup stops at per-key ``dropDuplicates``; near-dup *clusters* are part
of the beyond-reference LLM-curation surface, composing with
``ngram_jaccard_pairs`` / ``minhash_lsh_pairs`` / ``simhash_neardup``).

Two algorithms, both pure DataFrame algebra:

1. **Min-label propagation** (Pregel-style). Every node starts labeled
   with its own id; each round replaces a node's label with the minimum
   over its own and its neighbors' labels. Converges in *diameter*
   rounds — ideal for near-dup graphs, which are piles of small dense
   clusters (diameter 2-4), with one shuffled join + one groupBy per
   round.

2. **Large-star / small-star edge rewriting** (Kiveris et al.,
   "Connected Components in MapReduce and Beyond", SoCC'14). Each round
   rewires edges toward component minima:

   - *large-star*: for every node u, connect each strictly-larger
     neighbor v to the minimum of u's closed neighborhood.
   - *small-star*: for every node u (edges oriented larger→smaller),
     connect u and each smaller neighbor to the minimum of that set.

   The edge set converges in O(log² n) rounds to a star forest whose
   centers are the component minima — diameter-independent, so
   chain-shaped components (templated spam, boilerplate gradients at
   100 TB) cannot blow the round budget.

Scale notes (100 TB):

- Default ``method="auto"`` runs propagation first (cheapest on the
  common dense-cluster shape) and, if the diameter budget is exhausted,
  *contracts* the graph by the partial labels (every label after r
  rounds is the min id within r hops, so chains shrink ~r×) and
  finishes with large/small-star on the contracted remainder — no work
  is thrown away and no input shape can hard-fail.
- Every round of either algorithm is join+groupBy on (long, long)
  pairs — partition-parallel, nothing corpus-sized on the driver or in
  a broadcast.
- Lineage is truncated each round with an eager ``localCheckpoint``
  (executor-side, no driver round-trip) — without it round k recomputes
  rounds 1..k-1 and the plan grows quadratically.
- Convergence probes are fused into the per-round materialization via
  ``observe`` (changed-label / fresh-edge counters collected by the
  eager checkpoint job itself) — ONE Spark job per round, no separate
  ``count``/``exceptAll`` re-scan of the round's output.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

#: Rounds taken by the most recent :func:`star_components` call —
#: diagnostic only (read by the job-count regression test).
_LAST_STAR_ROUNDS = 0

#: Physical plan of the most recent :func:`pagerank` call's FIRST
#: iteration contrib stage — diagnostic only (the edge-side
#: exchange-free regression test reads it; capturing one plan string
#: per call costs planning, not execution).
_LAST_PR_ROUND_PLAN = ""

#: pagerank iteration layout: edge rows per partition. ~16 B/row of
#: (long, long, double) columnar → ~2M rows ≈ tens of MB per task, the
#: guide's 100 MB-1 GB shuffle-partition band once join/agg state is
#: counted. The width is derived from the EXACT edge count at call time
#: (scale-adaptive: 1 partition for a toy graph, thousands at 100 TB) —
#: never from the session conf or an inherited upstream partitioning.
_PR_EDGE_ROWS_PER_PARTITION = 2_000_000


def _cross_session(df: DataFrame, target) -> DataFrame:
    """Re-bind ``df``'s logical plan to ``target`` (a sibling
    SparkSession on the same SparkContext). Works for checkpointed
    lineages — LogicalRDD leaves carry their RDD, schema, AND captured
    output partitioning as plain fields, so the transfer preserves the
    partitioning capture pagerank depends on. Raises if the (internal)
    classic Dataset.ofRows entry point is gone: pagerank's AQE-off
    window must never fall back to mutating the caller's session
    conf."""
    try:
        jdf = df.sparkSession._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            target._jsparkSession, df._jdf.logicalPlan()
        )
    except (TypeError, Py4JError) as e:  # class or method gone
        raise RuntimeError(
            "pagerank: cannot move a plan to a private child session "
            "(org.apache.spark.sql.classic.Dataset.ofRows failed) — this "
            "PySpark build is unsupported"
        ) from e
    return DataFrame(jdf, target)


def _large_star(directed: DataFrame) -> DataFrame:
    """One large-star round.

    Input/output edges are oriented (src > dst). For each node u over
    its *symmetrized* neighborhood, every strictly-larger neighbor v is
    re-pointed at m = min(closed neighborhood of u). Output edges
    (v, m) keep the src > dst orientation because m <= u < v.
    """
    sym = directed.union(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """One small-star round.

    Input edges oriented (src > dst): node src sees only its smaller
    neighbors. All of them, plus src itself, are pointed at the minimum
    of the set; self-loops are dropped. Output stays src > dst.
    """
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    rewired = (
        directed.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    centers = mins.select(F.col("src"), F.col("m").alias("dst"))
    return rewired.union(centers).distinct()


def star_components(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Component labels via alternating large-star/small-star.

    ``edges``: (src, dst) long pairs, any orientation, duplicates fine.
    Returns (node, component) for every node incident to an edge;
    component is the smallest node id in the connected component.

    O(log² n) rounds regardless of diameter (Kiveris et al. SoCC'14);
    ``max_rounds=50`` is therefore unreachable for any realistic n and
    exists only as an infinite-loop guard.

    Cost per round is exactly ONE Spark job: the eager
    ``localCheckpoint`` that truncates lineage also carries an
    ``observe`` metric (count + edges-not-in-previous-set via a fused
    left join), so the fixpoint probe rides the materialization job
    instead of re-scanning with separate ``count``/``exceptAll``
    actions. Fixpoint ⟺ no fresh edge and same cardinality (both edge
    sets are distinct, so ⊆ plus equal count ⟹ equality).
    """
    global _LAST_STAR_ROUNDS
    obs0 = Observation()
    e = (
        edges.select(
            F.greatest(F.col("src"), F.col("dst")).alias("src"),
            F.least(F.col("src"), F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    prev_cnt = obs0.get["cnt"]
    for rounds in range(1, max_rounds + 1):
        obs = Observation()
        nxt = (
            _small_star(_large_star(e))
            .join(e.withColumn("__old", F.lit(True)), ["src", "dst"], "left")
            .observe(
                obs,
                F.coalesce(
                    F.sum(F.when(F.col("__old").isNull(), 1).otherwise(0)),
                    F.lit(0),
                ).alias("fresh"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .drop("__old")
            .localCheckpoint(eager=True)
        )
        m = obs.get
        e = nxt
        if m["fresh"] == 0 and m["cnt"] == prev_cnt:
            _LAST_STAR_ROUNDS = rounds
            break
        prev_cnt = m["cnt"]
    else:  # pragma: no cover - O(log² n) bound makes this unreachable
        raise RuntimeError(
            f"star_components did not converge in {max_rounds} rounds"
        )
    # Converged edge set is a star forest: (member, center) with center =
    # component min. Centers label themselves.
    return (
        e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
        .union(
            e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
    max_iters: int = 25,
    method: str = "auto",
) -> DataFrame:
    """Component labels for an undirected graph.

    ``edges``: (src, dst) pairs, any orientation, duplicates fine.
    ``nodes``: optional (id_col) universe — isolated nodes (no edges)
    appear in the output as singleton components; defaults to the nodes
    present in ``edges``.

    ``method``:

    - ``"auto"`` (default): min-label propagation for up to
      ``max_iters`` rounds; if the fixpoint is not reached (diameter >
      budget), contract the graph by the partial labels and finish with
      :func:`star_components` — never fails, never wastes the rounds
      already run.
    - ``"propagation"``: propagation only; raises ``RuntimeError`` on
      budget exhaustion (the pre-round-4 behavior, kept for tests and
      for callers that want the diameter bound enforced).
    - ``"star"``: large/small-star only — diameter-independent.

    Returns (``id_col``, component) where component is the smallest node
    id in the connected component — deterministic, engine-independent.
    """
    if method not in ("auto", "propagation", "star"):
        raise ValueError(f"unknown method {method!r}")
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    # symmetrize once; self-loops are harmless but add join volume — drop
    und = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if nodes is not None:
        universe = nodes.select(F.col(id_col).cast("long").alias("node")).distinct()
    else:
        universe = (
            und.select(F.col("src").alias("node"))
            .union(und.select(F.col("dst").alias("node")))
            .distinct()
        )

    if method == "star":
        return _finalize(star_components(und), universe, id_col)

    und = und.localCheckpoint(eager=True)
    labels = universe.select("node", F.col("node").alias("component"))
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iters):
        # min incoming neighbor label per node, then fold in own label
        msgs = (
            und.join(labels, und["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(msgs, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("nbr_min"), F.col("component")) < F.col("component"))
                .alias("__changed"),
            )
        )
        # The eager checkpoint both truncates lineage and (via observe)
        # reports the changed-label count — one job per round, no
        # separate agg action.
        obs = Observation()
        new_labels = (
            new_labels.observe(
                obs,
                F.coalesce(
                    F.sum(F.col("__changed").cast("long")), F.lit(0)
                ).alias("n"),
            )
            .drop("__changed")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["n"]
        labels = new_labels
        if not changed:
            return labels.withColumnRenamed("node", id_col)
    if method == "propagation":
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "graph diameter exceeds the propagation budget — use "
            "method='auto' or 'star' for chain-heavy graphs"
        )
    # Auto fallback: contract by partial labels, finish with star rounds.
    # After r propagation rounds label(u) = min id within r hops, so the
    # quotient graph shrinks chains ~r×; its components are exactly the
    # original components, and the true component min x keeps label(x)=x,
    # so star roots on the quotient ARE the original minima.
    lbl_src = labels.select(
        F.col("node").alias("src"), F.col("component").alias("lsrc")
    )
    lbl_dst = labels.select(
        F.col("node").alias("dst"), F.col("component").alias("ldst")
    )
    contracted = (
        und.join(lbl_src, "src")
        .join(lbl_dst, "dst")
        .select(F.col("lsrc").alias("src"), F.col("ldst").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    roots = star_components(contracted).select(
        F.col("node").alias("component"), F.col("component").alias("root")
    )
    resolved = (
        labels.join(roots, "component", "left")
        .select("node", F.coalesce("root", "component").alias("component"))
    )
    return _finalize(resolved, universe, id_col)


def _finalize(labels: DataFrame, universe: DataFrame, id_col: str) -> DataFrame:
    """Attach singleton self-labels for nodes absent from ``labels``."""
    return (
        universe.join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("component"),
        )
    )


def component_sizes(labels: DataFrame, id_col: str = "node") -> DataFrame:
    """Attach per-component cardinality: (id_col, component, size)."""
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return labels.join(sizes, "component").select(id_col, "component", "size")


def component_representatives(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "node",
    score_col: str = "score",
) -> DataFrame:
    """One survivor per component: the member with the highest score,
    ties broken by smallest id — the keep-one selection a dedup pipeline
    applies after clustering (detect → cluster → keep best).

    ``scores``: (id_col, score_col). The ``rank()<=1`` filter plans as
    ``WindowGroupLimit``, so each map task forwards one candidate per
    component it sees before the shuffle. Returns
    (id_col, component, score_col) — one row per component.
    """
    joined = labels.join(scores, id_col)
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select(id_col, "component", score_col)
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over an edge list → ``(node, rank)``.

    Classic damped formulation with dangling-mass redistribution: each
    iteration is one equi-join (ranks ⋈ edges on src) plus one groupBy
    on dst — partition-parallel, nothing corpus-sized on the driver.
    ONE Spark job per round: the new rank table is eagerly
    ``localCheckpoint``-ed (depth-1 lineage — no cross-round DAG
    re-execution), and the next round's dangling mass
    ``Σ_{out-degree-0} rank`` rides that same job as an ``observe``
    metric (the star_components fixpoint-probe discipline) instead of a
    separate scalar query. Fixed ``iters`` (no convergence probe): at
    damping 0.85 ten rounds bound the error by 0.85^10 ≈ 0.2% of total
    mass, and a fixed budget keeps the job count deterministic.

    Ranks sum to 1 (within float round-off). For near-dup curation,
    feed the undirected pair list both ways (u→v and v→u) and the rank
    orders documents by how centrally duplicated they are.

    Session note: the setup materializations AND the per-round jobs
    need ``spark.sql.adaptive.enabled`` off at checkpoint time (the
    partitioning capture — see the inline comment) and run with
    ``spark.sql.shuffle.partitions`` pinned to the size-derived
    iteration width. Both live on a PRIVATE child session
    (``spark.newSession()`` shares the SparkContext but owns its
    SQLConf), so the caller's session conf is never touched and queries
    planned concurrently on other threads keep AQE; the final rank
    table transfers back to the caller's session via its logical plan,
    partitioning capture intact. If the cross-session transfer entry
    point is unavailable, pagerank raises rather than flip the
    caller's conf.
    """
    # one materialization of the (possibly expensive) edge lineage —
    # nodes/degrees/rounds all derive from this checkpoint, so upstream
    # pair generation never re-executes (and still runs adaptively)
    spark = edges.sparkSession
    e0 = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).localCheckpoint(eager=True)
    # The iteration structures are HASH-PARTITIONED ON the join key and
    # re-checkpointed: Dataset.localCheckpoint captures the physical
    # output partitioning into the LogicalRDD, so the per-round
    # ``ed ⋈ ranks ON s = node`` join never re-exchanges the edge side —
    # only the (much smaller, on real graphs) rank table moves each
    # round. The capture only works with AQE OFF at checkpoint time
    # (AdaptiveSparkPlan hides its final partitioning from the capture),
    # so the setup materializations AND the rounds run non-adaptively on
    # the child session; the expensive upstream lineage above keeps AQE.
    # Pinned edge-exchange-free by tests/test_graph.py.
    # Layout width follows the DATA VOLUME, not an inherited partition
    # count (r13): e0's own partitioning reflects whatever upstream
    # produced it — a lazy-checkpointed pair list hands down its full
    # map-side width even when the edge list is tiny, and every one of
    # the ~3·iters per-stage task waves then pays that width in pure
    # scheduling overhead (measured at bench scale: a 167k-edge graph
    # inherited 64 partitions and spent ~5s of its 12.6s in near-empty
    # tasks). Deriving n_part from the exact edge count (the count is
    # one cheap job over the just-materialized checkpoint) gives a toy
    # graph 1 partition and a 100 TB graph thousands — the same rows/
    # partition target either way.
    n_edges = e0.count()
    n_part = max(1, -(-n_edges // _PR_EDGE_ROWS_PER_PARTITION))
    def _setup(e_in):
        e = e_in.repartition(n_part, "s").localCheckpoint(eager=True)
        srcs = e.select("s").distinct().withColumn("has_out", F.lit(True))
        # node table carries the FIXED dangling flag (no out-edges):
        # the per-round dangling mass is then just Σ rank over flagged
        # rows — observable on the round's own checkpoint job instead
        # of a per-round anti-join or a separate scalar query
        nodes = (
            e.select(F.col("s").alias("node"))
            .union(e.select(F.col("d").alias("node")))
            .distinct()
            .join(srcs, F.col("node") == F.col("s"), "left")
            .select("node", F.col("has_out").isNull().alias("dang"))
            .localCheckpoint(eager=True)
        )
        deg = e.groupBy("s").agg(
            F.count(F.lit(1)).cast("double").alias("deg")
        )
        # freeze edges+degrees once, partitioned on s (the e-side layout
        # makes this join itself exchange-free): every iteration joins
        # against this fixed layout instead of re-shuffling the edge side
        ed = e.join(deg, on="s").localCheckpoint(eager=True)
        return nodes, ed

    # AQE-off lives on a PRIVATE child session — the shared conf is
    # never mutated, concurrent planning keeps AQE. The child also pins shuffle.partitions to the derived n_part so every
    # setup shuffle (distinct/groupBy) lands directly on the iteration
    # layout, and the ROUNDS run on the child too (r13): under AQE each
    # round's one exchange paid 2-3 adaptive stage re-plannings of
    # trivially-sized stages, and the per-round checkpoint lost its
    # partitioning capture (AdaptiveSparkPlan hides it), re-exchanging
    # the rank side every round. Non-adaptive rounds at n_part width
    # are exchange-free on BOTH join inputs.
    child = spark.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", str(n_part))
    nodes, ed = _setup(_cross_session(e0, child))
    # one scalar job for BOTH counts (the two separate count() jobs were
    # pure per-job overhead at bench scale)
    stats = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("dang"), 1).otherwise(0)).alias("nd"),
    ).first()
    n = int(stats["n"])
    if n == 0:
        out = nodes.select("node").withColumn("rank", F.lit(0.0))
        return _cross_session(out, spark)
    n_dang = int(stats["nd"] or 0)
    # Join strategy (r13): SHUFFLED-HASH with the rank side as build, at
    # every scale. LogicalRDD sources carry no size stats and the
    # exchange-free per-round joins give AQE no stage boundary to
    # measure at, so the driver decides — and the r13 A/B retired the
    # old broadcast path: each broadcast round paid two driver
    # collect+broadcast builds of fixed latency (~1s/round at bench
    # scale, 2.3× slower per round than the co-partitioned join), while
    # the hash-hinted join re-exchanges ONLY the O(nodes) rank table
    # into the edge layout — the checkpointed 100 TB edge side is read
    # in place, unshuffled AND unsorted (SHJ needs no sort, unlike the
    # old past-threshold sort-merge fallback), and the per-partition
    # build table is O(nodes / n_part). Pinned by
    # tests/test_graph.py::test_pagerank_round_join_is_edge_side_exchange_free.
    sess = nodes.sparkSession  # child when the transfer worked
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    # dangling mass carried as a PYTHON float between rounds: round k's
    # checkpoint job observes Σ_{dang} rank_k, which round k+1 folds in
    # — no per-round collect, no extra job. It enters the plan as DATA
    # (a broadcast 1-row local relation), not as a literal (r13): a
    # changing literal makes every round's generated code unique, so
    # each of the ``iters`` rounds paid a fresh whole-stage-codegen
    # compile; with the scalar as data the round plan's code text is
    # identical every round and across calls, and the broadcast of a
    # LocalTableScan builds driver-side without launching a job.
    dm = n_dang * (1.0 / n)
    global _LAST_PR_ROUND_PLAN
    if n_dang == 0:
        # DANGLING-FREE FAST PATH (r13): n_dang is exact (from the
        # setup stats job), and with no dangling nodes the dangling
        # mass is identically 0.0 in every round — so nothing forces a
        # per-round materialization, and all ``iters`` rounds chain
        # into ONE lazy plan executed as a SINGLE job (the closing
        # checkpoint). An undirected/both-ways graph — the near-dup
        # curation shape — always lands here. Adding the scalar 0.0
        # keeps the float arithmetic bit-identical to the general
        # path's ``contrib + dm/n``.
        for it in range(iters):
            rk = ranks.hint("shuffle_hash")
            contribs = (
                ed.join(rk, ed["s"] == rk["node"])
                .select("d", (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("d")
                .agg(F.sum("c").alias("contrib"))
            )
            if it == 0:
                _LAST_PR_ROUND_PLAN = (
                    contribs._jdf.queryExecution().executedPlan().toString()
                )
            cb = contribs.hint("shuffle_hash")
            ranks = nodes.join(cb, nodes["node"] == cb["d"], "left").select(
                "node",
                "dang",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.lit(0.0))
                ).alias("rank"),
            )
        # materialize ONCE: callers (e.g. the self-certifying entry
        # query) re-read the result several times
        out = ranks.select("node", "rank").localCheckpoint(eager=True)
        return _cross_session(out, spark)
    for it in range(iters):
        rk = ranks.hint("shuffle_hash")
        contribs = (
            ed.join(rk, ed["s"] == rk["node"])
            .select("d", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("contrib"))
        )
        if it == 0:
            _LAST_PR_ROUND_PLAN = (
                contribs._jdf.queryExecution().executedPlan().toString()
            )
        cb = contribs.hint("shuffle_hash")
        dmn = sess.createDataFrame(
            [(dm / float(n),)], "dmn double"
        )
        nxt = (
            nodes.join(cb, nodes["node"] == cb["d"], "left")
            .crossJoin(F.broadcast(dmn))
            .select(
                "node",
                "dang",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.col("dmn"))
                ).alias("rank"),
            )
        )
        obs = Observation()
        nxt = nxt.observe(
            obs,
            F.sum(
                F.when(F.col("dang"), F.col("rank")).otherwise(F.lit(0.0))
            ).alias("dm"),
        )
        # eager checkpoint = the round's ONE job; it also fills the
        # observation above, so next round's dangling scalar is free
        ranks = nxt.localCheckpoint(eager=True)
        dm = float(obs.get["dm"] or 0.0)
    out = ranks.select("node", "rank")
    # hand the result back on the CALLER's session (the rounds may have
    # run on the private child)
    return _cross_session(out, spark)
