"""Graph pattern match (subgraph isomorphism, J7) — pygr's graph query
compiled to a DataFrame join chain.

Reference: graphquery.py — the generic backtracking interpreter
(GraphQuery.__iter__, graphquery.py:773-789), injective node mapping
via dataMatch marking (577-587), cyclic closure checks (465-472),
per-edge filters (579-581), and two code generators (GraphQueryCompiler
57-226, GraphQueryPyrex 239-421) that specialize the query to nested
loops. Spark replaces both code generators with Catalyst: each query
edge becomes one self-join of the edge table, closure edges become
equality predicates on already-bound columns, injectivity becomes
pairwise != predicates, and whole-stage codegen emits the nested
loops pygr generated by hand.

Contract fixtures: reference tests/graph_test.py:88-159 (basic,
cyclic×cyclic, cyclic×acyclic-empty, symmetric, filtered, headless) —
reproduced verbatim in tests/test_motif.py.

Scale: the join chain shuffles on node ids; Catalyst/AQE pick
broadcast vs SMJ per step and reorder via CBO — the BFS-from-
low-fanout heuristic pygr hand-codes (graphquery.py:733-755) is the
planner's job here. Injectivity predicates are post-join filters and
do not affect the shuffle keys.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, Mapping
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: per-edge filter: (src_col, dst_col, edge_col|None) -> boolean Column
EdgeFilter = Callable[[Column, Column, Column | None], Column]


def graph_from_dict(spark, adjacency: Mapping) -> DataFrame:
    """Build an edge DataFrame from a pygr-style adjacency dict
    ``{src: {dst: edge, ...}, ...}`` (reference dictGraph,
    mapping.py:137-195). Nodes with no out-edges contribute no rows —
    node existence is derivable from the union of endpoints (U8). The
    ``edge`` column is NULL: only the adjacency is kept, not the edge
    values."""
    rows = [(src, dst) for src, targets in adjacency.items() for dst in (targets or {})]

    def sqltype(values) -> str:
        for v in values:
            if isinstance(v, bool):
                return "boolean"
            if isinstance(v, int):
                return "long"
            if isinstance(v, float):
                return "double"
            if isinstance(v, str):
                return "string"
        return "string"  # all-NULL column (edge-less graphs)

    schema = (
        f"src {sqltype(r[0] for r in rows)}, "
        f"dst {sqltype(r[1] for r in rows)}, edge string"
    )
    return spark.createDataFrame([(s, d, None) for s, d in rows], schema)


def _query_edges(query: Mapping) -> list[tuple[Hashable, Hashable]]:
    out = []
    for a, targets in query.items():
        for b in (targets or {}):
            out.append((a, b))
    return out


#: per-edge candidate generator: () -> DataFrame with the same
#: (src, dst[, edge]) columns as the data edge table
EdgeGenerator = Callable[[], DataFrame]


def motif_query(
    edges: DataFrame,
    query: Mapping,
    filters: Mapping[tuple[Hashable, Hashable], EdgeFilter] | None = None,
    injective: bool = True,
    src: str = "src",
    dst: str = "dst",
    edge: str | None = "edge",
    generators: Mapping[tuple[Hashable, Hashable], EdgeGenerator | DataFrame]
    | None = None,
) -> DataFrame:
    """Match ``query`` (pygr-style adjacency mapping, values ignored
    except for per-edge ``filters``) against the ``edges`` DataFrame.

    Returns one row per match with one column per query node, named
    ``q_<node>`` — the data node bound to it. Semantics are the
    reference's: injective node mapping, non-induced (extra data edges
    allowed), cycles closed by equality predicates.

    ``generators`` maps a query edge to a DataFrame (or a no-arg
    callable returning one) that REPLACES the data edge table for that
    edge — the reference's ``CallableGQI``/``CallableContainerGQI``
    (graphquery.py:636-658), where a user function enumerates the
    candidate (node, edge) pairs for one query edge. The per-node
    Python generator becomes its relational closure: one DataFrame of
    all (src, dst[, edge]) candidate pairs, which the join chain binds
    exactly like a data edge (the ``fromDataNode`` argument of the
    reference callable is the join key here). A generator without an
    ``edge`` column models CallableContainerGQI's no-edge-info form.
    """
    filters = filters or {}
    generators = generators or {}
    qedges = _query_edges(query)
    qnodes: list[Hashable] = []
    for a, targets in query.items():
        if a not in qnodes:
            qnodes.append(a)
        for b in (targets or {}):
            if b not in qnodes:
                qnodes.append(b)
    if not qedges:
        raise ValueError("query graph has no edges")

    colname = {n: f"q_{n}" for n in qnodes}

    bound: set[Hashable] = set()
    result: DataFrame | None = None
    # order query edges so each new edge touches a bound node when
    # possible (keeps joins keyed, avoids accidental cross joins)
    remaining = list(qedges)
    ordered: list[tuple[Hashable, Hashable]] = []
    seen: set[Hashable] = set()
    while remaining:
        pick = next(
            (e for e in remaining if e[0] in seen or e[1] in seen), remaining[0]
        )
        remaining.remove(pick)
        ordered.append(pick)
        seen.update(pick)

    for i, (a, b) in enumerate(ordered):
        leg = generators.get((a, b), edges)
        if callable(leg) and not isinstance(leg, DataFrame):
            leg = leg()
        e = leg.select(
            F.col(src).alias(f"_s{i}"),
            F.col(dst).alias(f"_d{i}"),
            *([F.col(edge).alias(f"_e{i}")] if edge in leg.columns else []),
        )
        flt = filters.get((a, b))
        if flt is not None:
            e = e.filter(
                flt(
                    F.col(f"_s{i}"),
                    F.col(f"_d{i}"),
                    F.col(f"_e{i}") if f"_e{i}" in e.columns else None,
                )
            )
        if result is None:
            result = e
        else:
            cond = F.lit(True)
            keyed = False
            if a in bound:
                cond = cond & (F.col(colname[a]) == F.col(f"_s{i}"))
                keyed = True
            if b in bound:
                cond = cond & (F.col(colname[b]) == F.col(f"_d{i}"))
                keyed = True
            result = result.join(e, cond) if keyed else result.crossJoin(e)
        if a not in bound:
            result = result.withColumn(colname[a], F.col(f"_s{i}"))
            bound.add(a)
        if b not in bound:
            result = result.withColumn(colname[b], F.col(f"_d{i}"))
            bound.add(b)

    assert result is not None
    if injective:
        for x, y in combinations(qnodes, 2):
            result = result.filter(F.col(colname[x]) != F.col(colname[y]))
    return result.select(*[F.col(colname[n]).alias(colname[n]) for n in qnodes])
