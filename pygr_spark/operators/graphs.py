"""Graph layer: edge-DataFrame utilities (J4/J5/U6/U8), splice-graph
construction (J11), and iterative analytics — the "GraphX for
analytics" directive of BASELINE.json realized as DataFrame
iterations (no GraphFrames dependency in this container; the
algorithms are the standard Pregel-style message rounds expressed as
join+groupBy, which is exactly what GraphX compiles to):

  - ``pagerank_exact``: integer PageRank, optionally personalized;
  - ``connected_components``: min-label propagation with pointer
    jumping;
  - ``relax_k``: one frontier-relaxation loop for every k-hop path
    query — BFS levels (min-plus, unit weights), cheapest path
    (min-plus) and longest chain (max-plus);
  - ``kcore_peel`` / ``ktruss_peel``: bounded synchronized peels with
    a driver-side finish for the small tail.

Reference mapping:
  - graph[src][dst] = edge over dict/shelve/SQL (mapping.py:137-195,
    sqlgraph.py:1391-1554) → one DataFrame (src, dst, edge);
  - inversion __invert__ (sqlgraph.py:1466-1480, mapping.py:521-529)
    → column swap;
  - ForeignKeyGraph (sqlgraph.py:1797-1881) → equi-join on the FK;
  - splice graph (apps/splicegraph.py:6-48, 83-204) → coordinate
    equi-joins; alt5/alt3 = self-joins on shared start (end).

Scale: each analytics iteration is one shuffle keyed on node id;
lineage is truncated with localCheckpoint every few rounds so plans
stay bounded; AQE handles hub-node skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def invert(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """U8: transpose the graph (pygr ~graph)."""
    cols = [c for c in edges.columns if c not in (src, dst)]
    return edges.select(
        F.col(dst).alias(src), F.col(src).alias(dst), *cols
    )


def foreign_key_graph(
    source: DataFrame,
    target: DataFrame,
    source_key: str,
    target_fk: str,
    how: str = "inner",
) -> DataFrame:
    """J4: 1:many edge-less graph source → target rows whose FK matches
    (ForeignKeyGraph, sqlgraph.py:1797-1881). ``how='left'`` keeps
    sources with no targets (the None case)."""
    return source.join(target, source[source_key] == target[target_fk], how)


def degrees(edges: DataFrame) -> DataFrame:
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return out_deg.join(in_deg, "node", "full").select(
        "node",
        F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
        F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
    )


def nodes_of(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


#: PageRank damping num/den and the unit of the exact integer ranks;
#: the catalog's SQL oracle unrolls the same arithmetic from these.
PAGERANK_DAMPING = (85, 100)
PAGERANK_SCALE = 10**12


def pagerank_exact(
    edges: DataFrame, n_iter: int = 6, seed_expr: str | None = None
) -> DataFrame:
    """PageRank in exact scaled-integer arithmetic: ranks are bigints
    in units of 1/scale (scale = PAGERANK_SCALE, num/den =
    PAGERANK_DAMPING), per-edge contributions use truncating integer
    division (``rank DIV deg``), and the damping mix is
    ``((den-num)*scale) DIV den + (num·Σcontrib) DIV den``. Every
    operation is order-independent integer math, so the result is
    bit-identical on any engine and checkable against a SQL unroll:
    rank_{t+1}(v) = (1-d) + d·Σ rank_t(u)/out_deg(u) over in-edges,
    one join + groupBy per round, sparse lineage cuts.

    Bounds: total rank mass ≤ n·scale; with n ≤ 2000 and scale=1e12
    the ``num·Σ`` intermediate stays < 2e17, inside int64.

    ``seed_expr``: optional SQL boolean expression over ``node`` —
    personalized PageRank: the teleport mass (the base term) and the
    initial rank go ONLY to nodes where it holds, so rank measures
    proximity to the seed set rather than global centrality. The
    seed flag is a projection on the node table (ppr_seeds:
    ``node % 37 = 0``), not a membership join.
    """
    num, den = PAGERANK_DAMPING
    base = ((den - num) * PAGERANK_SCALE) // den
    e = edges.select("src", "dst").distinct()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    e = e.join(out_deg, "src").localCheckpoint(eager=False)
    nodes = nodes_of(e)
    seeded = seed_expr is not None
    # per-iteration zero rows for every node: unioned INTO the
    # contribution aggregate (below) instead of a nodes LEFT JOIN
    # after it — same semantics (a node with no in-edges sums to 0,
    # exactly what coalesce(_sum, 0) produced), one less exchange +
    # join stage per round (r11 job-floor cut: the 6-round entries
    # ran ~3 exchanges/round; this removes the node-sized one)
    if seeded:
        nodes = nodes.select(
            "node", F.expr(seed_expr).cast("int").alias("_is_seed")
        )
        ranks = nodes.select(
            "node", (F.col("_is_seed") * PAGERANK_SCALE).cast("long").alias("rank")
        )
        zero_rows = nodes.select(
            "node", "_is_seed", F.lit(0).cast("long").alias("_c")
        )
    else:
        ranks = nodes.withColumn("rank", F.lit(PAGERANK_SCALE).cast("long"))
        zero_rows = nodes.select("node", F.lit(0).cast("long").alias("_c"))
    for i in range(n_iter):
        edge_c = e.join(ranks, e["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            F.expr("rank DIV _deg").alias("_c"),
        )
        if seeded:
            # _is_seed rides the zero rows only (one exact row per
            # node); max() recovers it after the union — edge rows
            # carry NULL there and never override
            contribs = (
                edge_c.withColumn("_is_seed", F.lit(None).cast("int"))
                .unionByName(zero_rows)
                .groupBy("node")
                .agg(
                    F.sum("_c").alias("_sum"),
                    F.max("_is_seed").alias("_is_seed"),
                )
            )
            base_col = (F.col("_is_seed") * base).cast("long")
        else:
            contribs = (
                edge_c.unionByName(zero_rows)
                .groupBy("node")
                .agg(F.sum("_c").alias("_sum"))
            )
            base_col = F.lit(base).cast("long")
        ranks = contribs.select(
            "node",
            (
                base_col
                + F.expr(f"({num} * _sum) DIV {den}")
            ).alias("rank"),
        )
        # sparse lineage cuts: a checkpoint materialization splits the
        # run into extra jobs, pure overhead at small n_iter — a
        # 16-join plan is still cheap for Catalyst (measured -25% at
        # sf0.1 for the 6-round entry)
        if (i + 1) % 8 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Min-label propagation with path shortcutting (pointer jumping)
    to fixpoint: each round every node takes the min of its own label,
    its neighbors' labels, AND its label's label. The shortcut step
    doubles the propagation distance per round, so convergence is
    O(log diameter) rounds instead of O(diameter) — the difference
    between 10 and 1000 shuffle rounds on a long-chain graph at scale.
    The fixpoint is identical (component = min reachable node id), so
    the recursive-CTE oracle is unchanged."""
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # seed labels from the checkpointed undirected view (it already
    # holds every endpoint): deriving them from `edges` would replay
    # the full upstream lineage — e.g. a MinHash near-dup pipeline
    # feeding dedup clustering — a second time
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und["a"] == labels["node"])
            .select(F.col("b").alias("node"), F.col("component").alias("_nc"))
            .groupBy("node")
            .agg(F.min("_nc").alias("_nmin"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("_nmin", F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: component <- component's component. One
        # extra keyed join per round buys exponential convergence.
        hop = labels.select(
            F.col("node").alias("_ln"), F.col("component").alias("_lc")
        )
        new_labels = (
            stepped.join(hop, stepped["component"] == hop["_ln"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("_lc", F.col("component"))
                ).alias("component"),
            )
            # cut lineage every round: each round's labels are
            # evaluated twice (convergence probe + next round's join)
            # and would fold all prior rounds' joins into their
            # lineage otherwise
            .localCheckpoint(eager=False)
        )
        # The per-round probe is LOAD-BEARING beyond early exit: its
        # action materializes new_labels' lazy checkpoint before the
        # next round's THREE sibling consumers (neighbor join, hop
        # legs) can race to compute it concurrently. An r11 attempt
        # to fire it every other round (the kcore batching) measured
        # MORE jobs (54 vs 20 at sf0.01): each unmaterialized round
        # re-ran per sibling stage. Probe every round.
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def splice_graph(exons: DataFrame, splices: DataFrame) -> dict[str, DataFrame]:
    """J11 (apps/splicegraph.py:6-48): exon→splice→exon coordinate
    equi-joins build the splice graph; alt5/alt3 = exon pairs sharing
    genomic_start (genomic_end) with distinct ids.

    exons: (exon_id, cluster_id, genomic_start, genomic_end)
    splices: (splice_id, cluster_id, ver_gen_start, ver_gen_end)
    """
    e1 = exons.select(
        F.col("exon_id").alias("from_exon"),
        F.col("cluster_id"),
        F.col("genomic_end").alias("_donor"),
    )
    e2 = exons.select(
        F.col("exon_id").alias("to_exon"),
        F.col("cluster_id").alias("_c2"),
        F.col("genomic_start").alias("_acceptor"),
    )
    sp = splices.select(
        "splice_id",
        F.col("cluster_id").alias("_cs"),
        F.col("ver_gen_start").alias("_ss"),
        F.col("ver_gen_end").alias("_se"),
    )
    splice_edges = (
        e1.join(
            sp, (F.col("cluster_id") == F.col("_cs")) & (F.col("_donor") == F.col("_ss"))
        )
        .join(e2, (F.col("_c2") == F.col("_cs")) & (F.col("_acceptor") == F.col("_se")))
        .select("cluster_id", "from_exon", "splice_id", "to_exon")
    )

    def _alt(col: str, out: str) -> DataFrame:
        a = exons.select(
            F.col("exon_id").alias("exon_a"), F.col("cluster_id"), F.col(col).alias("_p")
        )
        b = exons.select(
            F.col("exon_id").alias("exon_b"),
            F.col("cluster_id").alias("_cb"),
            F.col(col).alias("_pb"),
        )
        return (
            a.join(
                b,
                (F.col("cluster_id") == F.col("_cb"))
                & (F.col("_p") == F.col("_pb"))
                & (F.col("exon_a") < F.col("exon_b")),
            )
            .select("cluster_id", "exon_a", "exon_b", F.col("_p").alias(out))
        )

    return {
        "splice_edges": splice_edges,
        "alt5": _alt("genomic_start", "shared_start"),
        "alt3": _alt("genomic_end", "shared_end"),
    }


def relax_k(
    edges: DataFrame,
    init: DataFrame,
    k: int,
    better: str = "min",
) -> DataFrame:
    """Best path value per node within <= ``k`` hops: level-synchronous
    relaxation over the (min,+) or (max,+) semiring — the frontier walk
    the reference does per-object through weighted edge dicts
    (mapping.py:688-750 ``g[src]`` chains).

    ``edges(src, dst, w)`` and ``init(node, value)`` in, ``(node,
    value)`` out. Each round relaxes every frontier edge once (a
    candidate ``value(src) + w`` per dst) and keeps the ``better`` of
    candidate and standing value: "min" is cheapest path, or BFS level
    with unit weights; "max" is longest chain, only safe on a DAG or
    with a bound k. Only IMPROVED nodes stay on the frontier; k bounds
    the rounds for the oracle (a depth-bounded recursive CTE). Integer
    weights keep the gate exact. Edges with a null src, dst or w and
    init rows with a null node or value carry no path and are dropped.

    Scale shape (r11, the pagerank union-agg discipline): the
    node-sized frontier BROADCASTS into the edge scan (edges are never
    shuffled) and the standing values ride the SAME union-aggregate as
    the candidates — ONE exchange per round where frontier⋈edges +
    groupBy + full_outer merge ran four (r11 job audit:
    transcript_chain 44 → 22 jobs, cheapest_path 26 → 18 at sf0.1).

    Size switch ``spark.pygr.smallPath.broadcastBytes``
    (tuning.small_path): the frontier broadcasts while the exact
    materialized bytes of the checkpointed frontier
    (tuning.materialized_bytes — a driver-side block lookup, no job)
    stay within the bound. ``init`` is checkpointed eagerly so its size
    is known before round 0 ships it; the size is re-read at every
    probe round, and once over the bound the loop flips PERMANENTLY to
    the keyed join (same semantics, the frontier is exchanged instead
    of shipped to every executor).
    """
    from pygr_spark.tuning import materialized_bytes, small_path

    if better == "min":
        agg, pick, worst = F.min, F.least, F.lit(2**62)
        gains = F.col("_cand") < F.col("_old")
    elif better == "max":
        agg, pick, worst = F.max, F.greatest, F.lit(-(2**62))
        gains = F.col("_cand") > F.col("_old")
    else:
        raise ValueError(f"better must be 'min' or 'max', not {better!r}")
    spark = init.sparkSession
    dist = (
        init.select(
            F.col("node").cast("long").alias("node"),
            F.col("value").cast("long").alias("value"),
        )
        .dropna()
        .localCheckpoint()
    )
    use_broadcast = small_path(spark, "broadcastBytes", materialized_bytes(dist))
    # edge list is consumed once per round: cut its lineage so the
    # caller's edge-build plan runs once, not once per round
    e = (
        edges.select(
            F.col("src").cast("long").alias("_s"),
            F.col("dst").cast("long").alias("_d"),
            F.col("w").cast("long").alias("_w"),
        )
        .dropna()
        .localCheckpoint(eager=False)
    )
    frontier = dist
    for r in range(k):
        # relax candidates (leg 1) and standing values (leg 0) meet
        # in ONE map-side-combinable exchange
        f_side = F.broadcast(frontier) if use_broadcast else frontier
        cand_rows = (
            e.join(f_side, e._s == frontier.node)
            .select(
                F.col("_d").alias("node"),
                (F.col("value") + F.col("_w")).alias("_v"),
                F.lit(1).alias("_leg"),
            )
        )
        merged = (
            dist.select("node", F.col("value").alias("_v"), F.lit(0).alias("_leg"))
            .unionByName(cand_rows)
            .groupBy("node")
            .agg(
                agg(F.when(F.col("_leg") == 0, F.col("_v"))).alias("_old"),
                agg(F.when(F.col("_leg") == 1, F.col("_v"))).alias("_cand"),
            )
            .select(
                "node",
                pick(
                    F.coalesce(F.col("_old"), worst),
                    F.coalesce(F.col("_cand"), worst),
                ).alias("value"),
                (F.col("_old").isNull() | gains).alias("_improved"),
            )
        )
        # Probe every OTHER round on the BROADCAST path: a probe's
        # full-scan aggregate materializes the lazy checkpoint, and on
        # the other rounds the next round's broadcast build does —
        # exactly one action lands the blocks before the dist leg
        # reuses them. The KEYED path has no broadcast build, so it
        # probes EVERY round. A skipped probe only delays early exit
        # past a no-op round (relaxing a converged graph changes
        # nothing), so the result equals the per-round-probe unroll.
        merged = merged.localCheckpoint(eager=False)
        frontier = merged.filter(F.col("_improved")).select("node", "value")
        dist = merged.select("node", "value")
        if (not use_broadcast) or r % 2 == 1 or r == k - 1:
            any_improved = merged.agg(
                F.max(F.col("_improved").cast("int")).alias("i")
            ).first()[0]
            if not any_improved:
                break
            if use_broadcast:
                # the probe just materialized merged: its exact bytes
                # are now registered — flip to the keyed form the
                # moment the frontier outgrows the safe-broadcast band
                use_broadcast = small_path(
                    spark, "broadcastBytes", materialized_bytes(merged)
                )
    return dist


def kcore_peel(edges: DataFrame, k: int = 2, max_rounds: int = 8) -> DataFrame:
    """Bounded synchronized k-core peel: repeatedly drop nodes with
    degree < ``k`` from an undirected graph given as a DIRECTED edge
    list containing both (u,v) and (v,u) rows. Returns the surviving
    directed edge rows (u, v) — group on ``u`` for in-core degrees.
    Edges with a null endpoint name no node and are dropped.

    Round-budget contract (the knob the oracle unroll mirrors): the
    loop runs at most ``max_rounds`` synchronized rounds with early
    exit at fixpoint, so the result is well-defined even PRE-fixpoint
    — any engine running the identical bounded unroll produces the
    identical edge set (tests/test_peel_knobs.py pins this on a path
    graph, the k=2 worst case where rounds-to-fixpoint grows as n/2).
    Rounds-to-fixpoint is a structure property (the graph's peeling
    depth / degeneracy ordering length), NOT a row-count property:
    replicating a graph 64x leaves the round count unchanged
    (SCALING.md peel-rounds probe), while adversarially deep graphs
    (paths, long threads) need a larger budget — size ``max_rounds``
    to the expected peeling depth, not to |E|.

    Scale shape per round: one partial-agg degree count + two
    semi-joins on the shrinking edge set, localCheckpointed so plans
    stay flat (reference analog: pygr prunes per-object through dict
    degree lookups, mapping.py:688-750).

    Size switch ``spark.pygr.smallPath.peelRows`` (tuning.small_path,
    r12 guide §5 job-floor): peeling typically collapses the graph in
    the first round or two and then trickles through a long tail of
    near-empty rounds — each a fixed ~4-5 Spark jobs (degree agg +
    probe + two broadcast-built semi-joins) on a few hundred surviving
    rows. When a probe sees the surviving DIRECTED edge count within
    the bound, the remaining rounds of the SAME bounded unroll run on
    the driver over the collected edge list — identical early-exit
    rule, identical final edge set (tests/test_size_switches.py forces
    both paths). At scales where the core never shrinks below the
    bound, every round stays distributed."""
    from pygr_spark.tuning import small_path

    spark = edges.sparkSession
    # null endpoints drop AFTER the checkpoint: pushed into the input
    # plan, the filter splits the reused exchange of a self-union
    # input (q_kcore_decomp's both-directions edge list: +1 job)
    e = (
        edges.select("u", "v")
        .localCheckpoint(eager=True)
        .dropna()
    )
    for r in range(max_rounds):
        # deg is lazily checkpointed and materialized by the
        # min-degree probe action (its ONLY consumer at that point,
        # so the sibling-stage double-materialization hazard doesn't
        # apply); the probe's 1-row answer doubles as the early-exit
        # check, and the two join legs then reuse the materialized
        # blocks. r11: the probe now fires every OTHER round — two
        # peel rounds compose lazily into one materialization, so the
        # fixed scheduler floor is paid max_rounds/2 times instead of
        # max_rounds (the skipped probe only delays early exit past a
        # no-op round, which peels nothing — the surviving edge set
        # per round is IDENTICAL to the probe-every-round unroll, and
        # both are the oracle's full unroll; tests/test_peel_knobs.py
        # pins the equivalence).
        deg = (
            e.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .localCheckpoint(eager=False)
        )
        if r % 2 == 1 or r == max_rounds - 1:
            probe = deg.agg(
                F.min("d").alias("_m"), F.sum("d").alias("_s")
            ).first()
            min_d, n_rows = probe[0], probe[1]
            # early exit when a round removes nothing: the remaining
            # rounds are no-ops, so the result is IDENTICAL to the
            # full unroll the oracle runs — this just skips their
            # fixed job overhead (rounds don't shrink with data size)
            if min_d is None or min_d >= k:
                break
            # the probe's sum(d) IS the surviving directed edge count
            # (no extra job): at or below the bound, finish the
            # bounded unroll on the driver — rounds r..max_rounds-1,
            # same every-round early exit (checking more often than
            # the distributed alternation only skips no-op rounds)
            if small_path(spark, "peelRows", n_rows):
                from collections import Counter

                local = [(row[0], row[1]) for row in e.collect()]
                for _ in range(r, max_rounds):
                    degs = Counter(u for u, _v in local)
                    if not local or min(degs.values()) >= k:
                        break
                    alive = {u for u, d in degs.items() if d >= k}
                    local = [
                        (u, v)
                        for u, v in local
                        if u in alive and v in alive
                    ]
                return spark.createDataFrame(local, schema=e.schema)
        keep = deg.filter(F.col("d") >= k).select("u")
        # lazy: materialized by the NEXT probe (or the caller's first
        # action), whose scan covers all of e
        e = (
            e.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return e


def _truss_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support on a u<v oriented edge set: wedge
    (a,b)+(b,c) joined against the closing edge (a,c), each triangle
    credited to its three edges."""
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    return (
        tri.select(F.expr("stack(3, a, b, b, c, a, c) AS (u, v)"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )


def _local_truss_support(edge_set: set) -> dict:
    """Per-edge triangle support of an oriented u<v edge set, driver
    side: support(a,b) = |N(a) ∩ N(b)| over the UNDIRECTED adjacency
    of the set — each common neighbor closes one surviving triangle
    (both closing edges are set members by construction of N)."""
    from collections import defaultdict

    nbr = defaultdict(set)
    for a, b in edge_set:
        nbr[a].add(b)
        nbr[b].add(a)
    return {(a, b): len(nbr[a] & nbr[b]) for a, b in edge_set}


def ktruss_peel(edges: DataFrame, k: int = 3, max_rounds: int = 4) -> DataFrame:
    """Bounded synchronized k-truss peel on a u<v ORIENTED edge list
    (duplicate rows count once, edges with a null endpoint are
    dropped): an edge survives iff it participates
    in >= k-2 triangles among surviving edges. Returns the surviving
    oriented edges WITH their in-truss support column. ``k`` must be
    at least 3 (ValueError otherwise).

    Same round-budget contract as :func:`kcore_peel`: at most
    ``max_rounds`` rounds, early exit at fixpoint, pre-fixpoint
    results well-defined because any engine running the identical
    bounded unroll peels the identical edges
    (tests/test_peel_knobs.py). Truss peeling cascades at most
    (initial_max_support - (k-2)) rounds on adversarial strips of
    shared triangles; like the core peel, the depth is structural,
    not row-count-driven.

    Scale shape per round: two self-equi-joins (wedge + closure) and
    one partial agg on the shrinking edge set, checkpointed BEFORE
    the count action so the triangle subtree runs once per round.

    r12: each round's checkpoint CARRIES the support column, so when
    the early exit fires (n_kept == n_edges — nothing removed) the
    final answer IS that round's rows: support computed on an edge
    set that lost nothing equals support on the surviving set, and
    every kept row already passed the >= k−2 filter. The closing
    full triangle pass (wedge join + closure join + agg — the most
    expensive stage in the plan) now runs only on the
    budget-exhausted-pre-fixpoint path, where the oracle's trailing
    sup_f pass genuinely requires it.

    Size switch ``spark.pygr.smallPath.trussRows`` (tuning.small_path,
    the same discipline as kcore_peel): the per-round count action
    already knows the surviving edge count for free; within the bound
    the remaining rounds of the identical bounded unroll run on the
    driver. Each distributed truss round is two self-joins + an agg
    (~6-8 fixed jobs) regardless of how few edges survive — the tail
    rounds are where the entry's job floor lives."""
    from pygr_spark.tuning import small_path

    if k < 3:
        # support joins keep only edges IN a triangle, so a k whose
        # bound admits zero-support edges has no distributed form
        raise ValueError(f"ktruss_peel: k must be >= 3, not {k}")
    t = k - 2
    spark = edges.sparkSession
    # duplicate rows would each count toward support on the
    # distributed path while the driver finish sees a set, and a null
    # endpoint never joins but does sit in a set: drop both once so
    # both paths peel the same edge set
    e = (
        edges.select("u", "v")
        .dropna()
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()
    for r in range(max_rounds):
        if small_path(spark, "trussRows", n_edges):
            local = {(row[0], row[1]) for row in e.collect()}
            for _ in range(r, max_rounds):
                sup = _local_truss_support(local)
                kept_l = {ed for ed in local if sup[ed] >= t}
                if kept_l == local:
                    rows = [(a, b, sup[(a, b)]) for a, b in local]
                    break
                local = kept_l
            else:
                # budget exhausted pre-fixpoint: trailing support pass
                # on the surviving set, exactly the distributed tail
                sup = _local_truss_support(local)
                rows = [
                    (a, b, s) for (a, b), s in sup.items() if s >= t
                ]
            schema = e.schema.add("support", "long", False)
            return spark.createDataFrame(rows, schema=schema)
        # ONE job per round: the count action that follows is the
        # lazy checkpoint's only consumer at that point, so it
        # materializes kept exactly once and the next round's support
        # joins reuse the blocks (eager + count was 2 jobs/round of
        # scheduler floor)
        kept = (
            e.join(_truss_support(e), ["u", "v"])
            .filter(F.col("support") >= t)
            .localCheckpoint(eager=False)
        )
        n_kept = kept.count()
        if n_kept == n_edges:
            return kept
        e = kept.select("u", "v")
        n_edges = n_kept
    return e.join(_truss_support(e), ["u", "v"]).filter(
        F.col("support") >= t
    )
