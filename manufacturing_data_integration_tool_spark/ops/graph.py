"""Distributed connected components and dedup-cluster assignment.

Greenfield LLM-pipeline capability (no reference counterpart; SURVEY.md
§7.0). Near-dup detection (``ops.dedup``) emits *pairs*; an actual
deduplication pass needs *clusters* — the transitive closure of the pair
graph — and one survivor per cluster. This module closes that gap.

Algorithm: the alternating **large-star / small-star** method of Kiveris
et al., "Connected Components in MapReduce and Beyond" (ACM SoCC 2014) —
a public, shuffle-friendly algorithm that converges in O(log^2 n) rounds
on any graph (and 1-2 rounds on the tiny, dense clusters near-dup graphs
actually produce). No GraphFrames / graphx dependency: each phase is a
plain groupBy + join, so it inherits AQE, codegen, and tungsten for free.

Scale notes (100 TB posture):

* Each round is ONE groupBy (min over neighbors) + ONE equi-join, both
  hash-partitioned on node id — no global sort; the graph only comes to
  the driver on the explicit small-graph fast path (union-find below
  ``driver_threshold`` edges, where one bounded collect beats the fixed
  point's per-round probe actions).
* The per-round convergence check is a 1-row aggregate — in CC a count +
  xor of ``xxhash64`` over edges, in kcore the minimum of the degree table
  it already builds — a driver action per round is inherent to any
  fixed-point algorithm; CC rounds are O(log^2 n) bounded.
* ``localCheckpoint`` truncates the iterative lineage so the plan does not
  grow with rounds (re-derivable state would otherwise recompute the whole
  chain each action).
* Near-dup graphs are small relative to the corpus (edges exist only for
  near-duplicates), so this runs over the *pair table*, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._materialize import (
    checkpoint_round,
    checkpoint_round_eager,
    materialize_once,
)

__all__ = ["connected_components", "dedup_clusters", "kcore", "pagerank",
    "hits_scores", "triangle_counts", "link_prediction_scores",
    "degree_assortativity"]


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    """(count, order-independent xor-hash) of an edge set — one tiny action."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent and can't overflow (a SUM of 64-bit
        # hashes overflows BIGINT almost immediately); edges are distinct,
        # so no duplicate self-cancellation either
        F.coalesce(F.bit_xor(F.xxhash64(F.col("src"), F.col("dst"))), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u})."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("__m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges (big -> small); connect all small neighbors + self to the min."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst")).distinct()
    mins = oriented.groupBy("src").agg(F.min("dst").alias("__m"))
    nbrs = oriented.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("__m").alias("dst")
    )
    selves = mins.select("src", F.col("__m").alias("dst"))
    return nbrs.union(selves).filter(F.col("src") != F.col("dst")).distinct()


def _driver_components(edges: DataFrame) -> DataFrame:
    """Union-find over a driver-sized edge set, min-id canonical labels.

    Byte-identical output to the distributed star rounds (both label each
    node with its component's minimum id)."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edges.collect():
        a, b = r["src"], r["dst"]
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups: dict = {}
    for v in parent:
        groups.setdefault(find(v), []).append(v)
    out = []
    for members in groups.values():
        m = min(members)
        out.extend((v, m) for v in members)
    node_t = edges.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("component", node_t)]
    )
    return edges.sparkSession.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Connected components of an undirected pair graph.

    Returns ``(node, component)`` for every node that appears in ``pairs``,
    where ``component`` is the MINIMUM node id in the node's component (the
    canonical representative — deterministic, so oracle-able against a
    recursive-CTE min-reachable query). Isolated nodes never appear in a
    pair table; callers join back to the corpus and ``coalesce`` (see
    ``dedup_clusters``).

    HYBRID execution: the first convergence probe materializes the
    deduped edge set and reports its exact size for free. At or below
    ``driver_threshold`` edges (default 100k ≈ a few MB of id pairs) the
    transitive closure is a driver-sized problem — union-find on the
    driver costs ONE bounded collect, strictly cheaper than the 2+ probe
    actions the distributed fixed point needs even on a trivial graph.
    Above it, the alternating star rounds run unchanged (pair tables on
    boilerplate-heavy corpora can reach billions of edges — the driver
    path is a small-graph fast path, never the scale path; pass
    ``driver_threshold=0`` to force the distributed rounds). Both paths
    emit byte-identical (node, min-id component) rows.

    Node ids must be orderable (int/long/string all work).
    """
    # Lazy checkpoints: the per-round checksum action is the thing that
    # materializes the round's edges, so each round costs ONE job, not two
    # (an eager checkpoint would run its own job first).
    edges = (
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(checkpoint_round)
    )
    prev = _edge_checksum(edges)
    if prev[0] == 0:
        return edges.select(
            F.col("src").alias("node"), F.col("dst").alias("component")
        ).limit(0)
    if driver_threshold and prev[0] <= driver_threshold:
        return _driver_components(edges)
    converged = False
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).transform(checkpoint_round)
        cur = _edge_checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # an unconverged edge set is NOT a star forest: the same node can
        # carry two component labels, and downstream joins fan out rows.
        # Refusing loudly beats silently corrupting a dedup pass.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "alternating rounds; raise max_iter (components this deep are rare "
            "— alternation contracts diameter roughly logarithmically)"
        )
    # at the fixed point the edge set is a star forest: node -> component min
    comp = edges.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = edges.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return comp.union(roots).distinct()


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Assign every document a near-dup cluster id and survivor flag.

    ``pairs`` is any near-dup pair table (``ngram_jaccard_pairs``,
    ``minhash_candidates``, ``simhash_near_dups``, ``embedding_near_dups``
    output — anything with two id columns). The cluster id is the minimum
    doc id in the connected component; ``is_survivor`` marks the one kept
    document per cluster (and every singleton). Downstream dedup is then
    ``filter(is_survivor)`` — or group by ``cluster_id`` to pick survivors
    under a different policy (longest doc, highest quality, ...).

    The component join is on ids only (never text/payload columns), and the
    left join keeps singleton docs without a shuffle of the pair graph per
    doc — the pair/component side is small by construction.
    """
    comp = connected_components(
        pairs, src, dst, max_iter=max_iter, driver_threshold=driver_threshold
    )
    joined = docs.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    )
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return joined.select(
        F.col(id_col),
        cluster.alias("cluster_id"),
        (cluster == F.col(id_col)).alias("is_survivor"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 8,
    damping: float = 0.85,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list (Page et al. 1999; the
    power-iteration form every distributed graph engine ships).

    Fully deterministic across partitionings and engines: ranks live as
    exact integers in units of ``1/scale`` (1e-12 by default). Each
    iteration a node's rank splits evenly over its out-edges with integer
    division (the deterministic remainder stays with the node's dangling
    mass), contributions are summed exactly (LongType — order-free), and
    dangling + teleport mass redistributes uniformly. Two shuffles per
    iteration (contribution groupBy on dst + rank join), both
    hash-partitioned on node id. The dangling/teleport residue is a 1-row
    aggregate folded into the SAME job via a broadcast cross-join — there
    is NO driver action inside the loop (the whole fixed-iteration plan is
    one lazy DAG; AQE exchange reuse dedupes the shared scan), unlike the
    convergence-probed ``connected_components``. ``localCheckpoint``
    (eager, every 4 rounds) bounds plan depth.

    Output: ``(node, rank)`` with rank as DOUBLE summing to ~1.0.
    """
    # lazy-checkpoint the iteration-invariant tables: e feeds one join
    # per iteration, nodes (with outdeg folded in) one — without the
    # checkpoints every iteration re-runs the scan + distinct chains
    # (measured ~16 s -> ~7 s at sf0.1). The n_nodes count materializes
    # e+nodes.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .transform(checkpoint_round)
    )
    # r12 opt: fold outdeg INTO the node table once, outside the loop —
    # the per-iteration ranks⋈outdeg left join (one shuffle pair per
    # iteration) disappears because every rebuilt `ranks` carries its
    # outdeg along. Same integer arithmetic, one fewer join per iteration.
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(
            e.groupBy(F.col("src").alias("node")).agg(
                F.count(F.lit(1)).alias("outdeg")
            ),
            "node",
            "left",
        )
        .transform(checkpoint_round)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node").withColumn("rank", F.lit(0.0))
    # damping as an exact rational: damp_num / damp_den
    damp_num = int(round(damping * 1_000_000))
    damp_den = 1_000_000
    ranks = nodes.withColumn("r", F.lit(int(scale // n_nodes)).cast("long"))
    for it in range(iterations):
        # per-edge integer share; dangling nodes (no out-edges) and integer
        # remainders contribute to the uniformly-redistributed residue
        shared = ranks.select(
            "node",
            "r",
            "outdeg",
            # `div` is exact integer division on LongType — a double `/`
            # would round at 2^53 and drift from the pure-Python twin
            F.when(F.col("outdeg").isNotNull(), F.expr("r div outdeg"))
            .otherwise(F.lit(0))
            .alias("share"),
        )
        contrib = (
            e.join(shared.select(F.col("node").alias("src"), "share"), "src")
            .groupBy("dst")
            .agg(F.sum("share").alias("in_mass"))
        )
        # exact residue: scale - damped total distributed mass, as a 1-row
        # broadcast (stays inside the job — no per-iteration collect)
        residue = shared.agg(
            F.expr(
                f"(({scale}L - (coalesce(sum(share * outdeg), 0L) * {damp_num}L)"
                f" div {damp_den}L)) div {n_nodes}L"
            ).alias("__residue")
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(residue))
            .select(
                "node",
                "outdeg",
                (
                    F.expr(f"(coalesce(in_mass, 0L) * {damp_num}L) div {damp_den}L")
                    + F.col("__residue")
                ).alias("r"),
            )
        )
        if (it + 1) % 4 == 0:
            ranks = ranks.transform(checkpoint_round_eager)
    # publish as floor(r/1000 + 0.5)/1e9 (exact half-up on the integer
    # grid) rather than native round(): r % 1000 == 500 boundaries are
    # common on an integer lattice and Spark/DuckDB native round() tie
    # behavior differs there (the q188 lesson).
    return ranks.select(
        "node",
        (
            F.floor(F.col("r").cast("double") / F.lit(1000.0) + F.lit(0.5))
            / F.lit(float(scale) / 1000.0)
        ).alias("rank"),
    )


def triangle_counts(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts of an undirected pair graph — the
    cluster-cohesion signal for near-duplicate graphs: a node whose
    neighbors all know each other (many triangles) sits in a dense dup
    cluster; a high-degree node with no triangles is a hub/boilerplate
    artifact that chaining-style dedup would over-merge.

    Node-iterator with DEGREE ORIENTATION (Schank & Wagner '05; the
    MapReduce form in Suri & Vassilvitskii WWW'11): every edge is
    oriented from the (degree, id)-smaller endpoint to the larger, wedges
    are built only at each edge's LOW-degree end, and a wedge closes into
    a triangle iff its outer pair is an edge. Orientation bounds the
    per-node wedge fanout by the node's *oriented* out-degree ~ O(√m) on
    any graph, so one corpus-hot node (degree d) generates O(m) wedges,
    never the O(d²) a naive neighbor self-join produces — that is the
    difference between a skewed-but-linear shuffle and a quadratic
    blow-up at 100 TB. Each triangle is counted exactly once.

    Output: ``(node, degree, n_triangles)`` for every node in the pair
    table (zero-triangle nodes included).
    """
    # r12 opt: edges is referenced four times below (degree union x2,
    # orientation join, closing-edge join) and `pairs` is usually an
    # expensive candidate pipeline — materialize the normalized edge list
    # once instead of recomputing the upstream per reference.
    edges = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize_once)
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    ranked = edges.join(da, "a").join(db, "b")
    # orient low (degree, id) -> high: 'u' is the cheap end
    oriented = ranked.select(
        F.when(
            (F.col("deg_a") < F.col("deg_b"))
            | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
            F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
        )
        .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
        .alias("e")
    ).select("e.u", "e.v").transform(materialize_once)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # wedges at u: two out-neighbors v < w (by id — dedups the wedge pair)
    wedges = o1.join(
        o2, (F.col("o1.u") == F.col("o2.u")) & (F.col("o1.v") < F.col("o2.v"))
    ).select(
        F.col("o1.u").alias("u"),
        F.col("o1.v").alias("v"),
        F.col("o2.v").alias("w"),
    )
    closing = edges.select(F.col("a").alias("v"), F.col("b").alias("w"))
    tri = wedges.join(closing, ["v", "w"])  # v < w already normalized
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
    )


def kcore(
    pairs: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    k: int = 3,
    max_iter: int = 30,
) -> DataFrame:
    """K-core decomposition for a fixed ``k``: iteratively peel nodes of
    degree < k until the remaining subgraph is stable — the dense-cluster
    extractor for near-dup pair graphs (a chain of borderline matches
    falls out of the 3-core; a true template cluster survives).

    The peeling fixed point is unique regardless of removal order
    (Batagelj & Zaversnik 2003), so the result is deterministic even
    though it is iterative (rows-only correctness check; semantics pinned
    by the pure-Python twin in tests).

    Per round: one degree groupBy, probed by ONE 1-row action
    (``min(core_degree)``), then two anti-joins on the peeled-off node
    set — all equi-joins on node ids; the edge set only shrinks. The
    deduped input is checkpointed before anything reads it, so the pair
    pipeline upstream runs once; each peel is checkpointed to truncate
    lineage. The degree table stays lazy: when its minimum is NULL (no
    edges) or >= k it IS the k-core and is returned as is. Every peel
    removes at least one edge and the fixed point is unique, so no
    "nothing changed" round is needed to detect convergence.
    ``max_iter`` bounds the number of peel rounds.

    Output: ``(node, core_degree)`` for nodes in the k-core, with their
    degree inside the core.
    """
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(checkpoint_round)
    )
    for peels in range(max_iter + 1):
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = sym.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("bigint").alias("core_degree")
        )
        low = deg.agg(F.min("core_degree")).collect()[0][0]
        if low is None or low >= k:
            return deg
        if peels == max_iter:
            break
        # r12 opt: drop edges touching the REMOVED nodes (deg < k) via
        # anti-joins instead of semi-joining against the survivors. Every
        # node incident to an edge appears in deg, so {removed} is the
        # exact complement of {kept} and the surviving edge set is
        # identical — but the join's small side is now the per-round
        # peel-off (typically a sliver of the graph, trivially broadcast)
        # rather than the whole surviving node set, so the big edge side
        # needs no shuffle on rounds where AQE broadcasts the peel-off.
        removed = deg.filter(F.col("core_degree") < k).select("node")
        edges = (
            edges.join(removed.withColumnRenamed("node", "src"), "src", "left_anti")
            .join(removed.withColumnRenamed("node", "dst"), "dst", "left_anti")
            .select("src", "dst")
            .transform(checkpoint_round)
        )
    # exiting on max_iter without a fixed point would silently return a
    # subgraph that still contains degree<k nodes — not a k-core.
    # Pathological chain-heavy graphs can need >max_iter peel rounds;
    # fail loudly rather than hand back a wrong answer.
    raise RuntimeError(
        f"kcore: peeling did not reach the fixed point in {max_iter} "
        "rounds; raise max_iter"
    )


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 4,
    scale: int = 1_000_000_000_000,
) -> "tuple[DataFrame, DataFrame]":
    """Fixed-iteration HITS (Kleinberg, JACM 1999) over a DIRECTED edge
    list: hubs (sources that point at good authorities) and authorities
    (targets pointed at by good hubs) — the link-analysis complement to
    :func:`pagerank` for bipartite trade/citation graphs.

    Same determinism contract as ``pagerank``: scores are exact
    integers in ``1/scale`` units; each half-iteration is one edge join
    + one SUM, then L1 normalization back to ``scale`` via
    ``(raw * scale) div total`` computed in DECIMAL(38,0) (raw ~1e15,
    x1e12 = 1e27 — far inside 38 digits; the quotient is <= scale so it
    fits BIGINT; DuckDB mirrors it with HUGEINT ``//``). L1 replaces
    the textbook L2 norm — same ranking fixed point, zero sqrt, exact
    on any engine. No driver action inside the loop; lineage truncated
    with localCheckpoint every 2 rounds. (The r12-verdict rollup-fused
    L1 variant was tried in r13 and measured 1.30x slower — see the
    negative-result note inside ``_l1_norm``.)

    Returns ``(hubs, authorities)`` DataFrames, each ``(node, score)``
    with score BIGINT in 1/scale units.
    """
    # lazy-checkpoint the deduped edge list: it feeds TWO joins per
    # iteration (8 references at the default 4), and without the
    # checkpoint every reference re-runs the scan + distinct — measured
    # 22 s -> ~8 s at sf0.1. The n_hubs count below materializes it.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .transform(checkpoint_round)
    )
    hubs = e.select(F.col("src").alias("node")).distinct()
    n_hubs = hubs.count()
    if n_hubs == 0:
        empty = hubs.withColumn("score", F.lit(0).cast("bigint"))
        return empty, empty
    h = hubs.withColumn("score", F.lit(int(scale // n_hubs)).cast("bigint"))

    def _l1_norm(df: DataFrame) -> DataFrame:
        # the raw-score table is referenced TWICE (the 1-row total and
        # the normalizing projection) — checkpoint so the half-iteration
        # aggregation runs once, not once per reference.
        #
        # r13 NEGATIVE RESULT (kept for the record): the r12-verdict
        # "rollup-fused L1" (one rollup computing the per-node sums and
        # the grand total together, saving the separate 1-row agg per
        # half-step) was implemented and measured 1.30x SLOWER in a
        # back-to-back worktree A/B (5.96 -> 7.73 s at sf0.1): rollup's
        # Expand doubles the agg input at EDGE level and drags the
        # DECIMAL(38,0) summation down from the node-sized table to 2x
        # every edge row — the saved stage is tiny (a 1-row agg over a
        # checkpointed node table), the added per-row decimal work is
        # not, locally or at 100 TB. The bigint-sum-then-decimal-total
        # split below is the right shape at every scale.
        df = df.transform(checkpoint_round)
        tot = df.agg(F.sum(F.col("score").cast("decimal(38,0)")).alias("__t"))
        return df.crossJoin(F.broadcast(tot)).select(
            "node",
            F.expr(
                f"CAST((CAST(score AS DECIMAL(38,0)) * {scale}) div "
                "CAST(__t AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("score"),
        )

    a = None
    for it in range(iterations):
        a = _l1_norm(
            e.join(
                h.select(F.col("node").alias("src"), "score"), "src"
            )
            .groupBy("dst")
            .agg(F.sum("score").alias("score"))
            .withColumnRenamed("dst", "node")
        )
        h = _l1_norm(
            e.join(
                a.select(F.col("node").alias("dst"), "score"), "dst"
            )
            .groupBy("src")
            .agg(F.sum("score").alias("score"))
            .withColumnRenamed("src", "node")
        )
        if (it + 1) % 2 == 0:
            h = h.transform(checkpoint_round)
            a = a.transform(checkpoint_round)
    return h, a


def link_prediction_scores(
    inv: DataFrame,
    item_col: str,
    node_col: str,
    *,
    hot_item_cap: int = 256,
    min_common: int = 2,
    top_k: int = 100,
    ln_round: int = 9,
    scale: int = 1_000_000,
) -> DataFrame:
    """Link prediction over a bipartite incidence list (Liben-Nowell &
    Kleinberg, CIKM 2003): for node pairs sharing items, the Jaccard
    common-neighbors score ``|N(a) ∩ N(b)| / |N(a) ∪ N(b)|`` and the
    Adamic-Adar score ``Σ_{item ∈ common} 1 / ln(deg(item))`` — which
    rare shared items predict a real relationship, with ubiquitous
    items discounted (AA) or merely normalized away (Jaccard).

    ``inv`` carries distinct (item, node) incidences. Candidate pairs
    come from an item-keyed self-join — the q26 shape — with items
    touching more than ``hot_item_cap`` nodes EXCLUDED first (a hot
    item contributes ~cap² pair instances and near-zero AA weight; the
    cap is the documented no-all-pairs guard, loudly parameterized).

    Determinism: Jaccard publishes as ``(inter * scale) div union``
    (pure BIGINT); each AA term is ``floor(1e9 / round(ln(deg), 9)
    + 0.5)`` — ln rounded onto the 1e-9 lattice first (the one libm op
    that may differ between engines), then ONE fixed float tree per
    term, floored to an exact BIGINT, summed exactly. ``deg >= 2`` for
    every item that generates a pair, so ln never sees 1.

    Scale posture: distinct → groupBy degrees → capped equi-self-join →
    groupBy pairs; the final top-k is ``orderBy().limit()``
    (TakeOrderedAndProject) — no global sort materializes.

    Output: top ``top_k`` pairs by (jaccard desc, node_a, node_b) —
    ``node_a, node_b, n_common, deg_a, deg_b, jaccard_x1e6, aa_x1e9``.
    ``deg_a``/``deg_b`` count SCORING-ELIGIBLE items only (deg in
    [2, hot_item_cap]) so Jaccard's union never double-counts a shared
    excluded item.
    """
    # r12 opt: materialize the deduped incidence list once — it feeds the
    # item-degree aggregate AND the capped join below, and `inv` is often
    # an expensive upstream pipeline that would otherwise re-run per
    # reference. (item, node) metadata rows only.
    pairs_src = (
        inv.select(F.col(item_col).alias("__i"), F.col(node_col).alias("__n"))
        .distinct()
        .transform(materialize_once)
    )
    ideg = pairs_src.groupBy("__i").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ideg")
    )
    # deg >= 2 is structural, not just documented: a 1-node item can't
    # form a pair, and its AA term would be 1/ln(1) — an ANSI
    # divide-by-zero whenever the optimizer evaluates the term before
    # the pair join filters the row out (plan-dependent, so it MUST be
    # excluded here, not relied on downstream)
    # referenced three times below (node degrees + both self-join sides):
    # materialize the capped incidence once.
    cool = pairs_src.join(
        ideg.filter(
            (F.col("__ideg") >= 2) & (F.col("__ideg") <= hot_item_cap)
        ),
        "__i",
    ).transform(materialize_once)
    # node degrees count SCORING-ELIGIBLE items only (post-cap, post
    # deg>=2) so the Jaccard union |N(a)| + |N(b)| - |N(a) ∩ N(b)| is
    # computed over ONE consistent universe — degrees over the raw list
    # would double-count a shared-but-excluded item in the union
    # r13: ndeg feeds BOTH scored joins (deg_a, deg_b) — materialize the
    # (node, degree) table once so the degree aggregation over the capped
    # incidence runs a single time, not per join side. Locally
    # bench-neutral (A/B min 4.65 -> 4.44 s, inside noise); at 100 TB it
    # removes one full aggregation pass over the node-sized table.
    ndeg = cool.groupBy("__n").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ndeg")
    ).transform(materialize_once)
    aa_term = (
        F.floor(
            F.lit(1e9)
            / F.round(F.log(F.col("__ideg").cast("double")), ln_round)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("__aat")
    )
    a = cool.select("__i", F.col("__n").alias("__a"), aa_term)
    b = cool.select("__i", F.col("__n").alias("__b"))
    cand = (
        a.join(b, "__i")
        .filter(F.col("__a") < F.col("__b"))
        .groupBy("__a", "__b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("__aat").cast("bigint").alias("aa_x1e9"),
        )
        .filter(F.col("n_common") >= min_common)
    )
    scored = (
        cand.join(ndeg.select(F.col("__n").alias("__a"),
                              F.col("__ndeg").alias("deg_a")), "__a")
        .join(ndeg.select(F.col("__n").alias("__b"),
                          F.col("__ndeg").alias("deg_b")), "__b")
        .select(
            F.col("__a").alias("node_a"),
            F.col("__b").alias("node_b"),
            "n_common",
            "deg_a",
            "deg_b",
            F.expr(f"(n_common * {int(scale)}) div "
                   "(deg_a + deg_b - n_common)")
            .cast("bigint")
            .alias("jaccard_x1e6"),
            "aa_x1e9",
        )
    )
    return scored.orderBy(
        F.desc("jaccard_x1e6"), F.asc("node_a"), F.asc("node_b")
    ).limit(top_k)


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    correlation of the degrees at the two ends of an edge — positive
    means hubs attach to hubs (social-network shape), negative means
    hubs attach to leaves (hub-and-spoke / bipartite shape). The one-row
    structural profile you read BEFORE trusting degree-based caps
    (hot-shingle, hot-item) on a new graph.

    Exactness: symmetrize the edge list (each undirected edge counted in
    both directions, M directed rows). Then the edge-end degree sums
    obey Sy = Sx and Sy2 = Sx2 by symmetry, so

        ``r = (M*Sxy - Sx^2) / (M*Sx2 - Sx^2)``

    with ``Sx = sum deg(u)``, ``Sxy = sum deg(u)*deg(v)``,
    ``Sx2 = sum deg(u)^2`` over directed edges — numerator and
    denominator EXACT decimal(38,0) integers, ONE division,
    floor-published at 1e9 (NULL when the denominator is 0: the graph is
    degree-regular, r undefined).

    Scale posture: one groupBy for degrees, two hash equi-joins to stamp
    them on the edge ends, one aggregate — no windows, no iteration.

    Output: one row — ``n_nodes, m_directed, r_x1e9``.
    """
    e = edges.select(
        F.col(src_col).cast("bigint").alias("__u"),
        F.col(dst_col).cast("bigint").alias("__v"),
    ).filter(F.col("__u").isNotNull() & F.col("__v").isNotNull())
    sym = (
        e.unionByName(
            e.select(F.col("__v").alias("__u"), F.col("__u").alias("__v"))
        )
        .filter(F.col("__u") != F.col("__v"))
        .distinct()
    )
    deg = sym.groupBy("__u").agg(
        F.count(F.lit(1)).cast("bigint").alias("__d")
    )
    du = deg.select(F.col("__u"), F.col("__d").alias("__du"))
    dv = deg.select(
        F.col("__u").alias("__v"), F.col("__d").alias("__dv")
    )
    stamped = sym.join(du, "__u").join(dv, "__v")
    dec = "decimal(38,0)"
    agg = stamped.agg(
        F.count(F.lit(1)).cast("bigint").alias("m_directed"),
        F.sum(F.col("__du").cast(dec)).cast(dec).alias("__sx"),
        F.sum(F.col("__du").cast(dec) * F.col("__dv")).cast(dec).alias("__sxy"),
        F.sum(F.col("__du").cast(dec) * F.col("__du")).cast(dec).alias("__sx2"),
    )
    nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    g = agg.crossJoin(F.broadcast(nodes))
    m = F.col("m_directed").cast(dec)
    num = (m * F.col("__sxy") - F.col("__sx") * F.col("__sx")).cast(dec)
    den = (m * F.col("__sx2") - F.col("__sx") * F.col("__sx")).cast(dec)
    return g.select(
        "n_nodes",
        "m_directed",
        F.when(
            (F.col("m_directed") < 1) | (den == F.lit(0).cast(dec)),
            F.lit(None).cast("bigint"),
        )
        .otherwise(
            F.floor(
                num.cast("double") / den.cast("double") * F.lit(float(scale))
                + F.lit(0.5)
            ).cast("bigint")
        )
        .alias("r_x1e9"),
    )


def label_propagation(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    over an undirected pair graph, made fully deterministic so a
    SQL-unrolled twin reproduces it bit-for-bit.

    Connected components answers "which docs are transitively linked";
    LPA answers the finer question "which docs sit in the same DENSE
    region" — on a near-dup graph that separates template families that
    a long weak chain would otherwise merge into one component. The
    classic algorithm is nondeterministic (random visit order, random
    tie-breaks); this variant pins every choice: all nodes update
    SIMULTANEOUSLY each round from their neighbors' previous-round
    labels (no visit order exists), the new label is the neighbor-mode
    with ties broken by SMALLEST label, isolated nodes keep their own
    id, and the round count is FIXED (no convergence probe, no driver
    round-trips — one lazy DAG like ``pagerank``).

    Scale posture: each round is one hash-shuffle join of the edge list
    against the (node, label) table plus two map-side-combinable
    aggregations — ``(node, label)`` counts, then the per-node argmax as
    ``min(struct(-n, label))`` (the r12-verdict rewrite: a ``min`` of a
    2-field struct partially aggregates on the map side and never sorts,
    where the previous ``row_number`` window shuffled every (node,
    label, n) row into a per-node sort). The tie-break is IDENTICAL by
    construction: lexicographic min over (-n, label) == max count, then
    smallest label. Everything partitions by node id, no window, no
    driver state. ``localCheckpoint`` per round bounds plan depth like
    the other iterative ops. O(rounds × |E|) shuffled rows, the same
    budget as ``pagerank``.

    Output: ``(<id_col>, community)`` for EVERY node in ``nodes``.
    """
    sym = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .transform(checkpoint_round)
    )
    base = nodes.select(F.col(id_col).alias("node")).distinct().transform(checkpoint_round)
    labels = base.select("node", F.col("node").alias("label"))
    for _ in range(rounds):
        neigh = sym.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label")
        best = (
            neigh.groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("n")).alias("negn"),
                        F.col("label").alias("l"),
                    )
                ).alias("__top")
            )
            .select("node", F.col("__top.l").alias("new_label"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .transform(checkpoint_round)
        )
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("community")
    )
