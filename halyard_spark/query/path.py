"""Property-path operators: transitive closure via iterative frontier joins.

Halyard evaluates ``p+`` / ``p*`` with RDF4J's pull PathIteration
re-entering the strategy per step
(strategy/.../HalyardTupleExprEvaluation.java:1073-1098) — a row-at-a-time
nested loop whose work grows with the reachable subgraph.  Two
distributed forms, chosen by what the seeds are and how far they reach:

- Seeds known on the driver (the constant of ``<s> p* ?o``): up to two
  per-hop probes.  Each hop reads the edges leaving the frontier from
  the lazy edge scan with an IN-list filter and a bounded collect; the
  frontier and the seen pairs stay on the driver, where they are
  exactly counted.  Nothing is checkpointed, and the probe starts no
  Python worker.
- Seeds in a DataFrame, or a probe that outgrew its bounds: the edge set
  is deduped and checkpointed once, then BFS rounds of up to 32 fused
  hash-join hops each, with dedup against the seen set and a
  ``localCheckpoint`` per round to keep the plan bounded.  Same shape
  as the connected-components stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halyard_spark.session import local_frame


def _round_sql_array(hops: int, broadcast: bool) -> str:
    """One dedup-free BFS round as a single SQL statement over the
    frontier ``{f}`` and the edge set ``{e}``: a flat chain of ``hops``
    LEFT JOINs whose per-row node sequence is collected with
    ``array(...)`` + ``filter(not null)`` — once a path ends its join key
    is NULL and every later hop stays NULL, so the filtered array is
    exactly the hop-by-hop history the old iterative builder appended.
    posexplode + min(position) then keeps each (root, node)'s FIRST-reached
    depth, identical to the union-of-arms semantics.

    Built as ONE statement because classic DataFrame methods analyze
    eagerly: the old per-hop ``join(...).select(...)`` loop re-analyzed a
    deepening plan 32 times per round — measured ~1 s of driver time per
    round at sf0.1, more than the round's own execution.  One SQL string
    is parsed and analyzed once (~60-100 ms)."""
    hint = (
        "/*+ BROADCAST(" + ", ".join(f"e{i}" for i in range(1, hops + 1)) + ") */ "
        if broadcast
        else ""
    )
    joins = ["LEFT JOIN {e} e1 ON s.node = e1.src"]
    joins += [
        f"LEFT JOIN {{e}} e{i} ON e{i - 1}.dst = e{i}.src" for i in range(2, hops + 1)
    ]
    arr = ", ".join(f"e{i}.dst" for i in range(1, hops + 1))
    return (
        f"WITH chain AS (\n"
        f"  SELECT {hint}s.root,\n"
        f"         filter(array({arr}), x -> x IS NOT NULL) AS hist\n"
        "  FROM {f} s\n  " + "\n  ".join(joins) + "\n)\n"
        "SELECT root, __n AS node, min(__p) + 1 AS __h\n"
        "FROM chain LATERAL VIEW posexplode(hist) t AS __p, __n\n"
        "GROUP BY root, __n"
    )


def _round_sql_distinct(hops: int, broadcast: bool) -> str:
    """One high-fanout BFS round over ``{f}`` and ``{e}``: per-hop
    DISTINCT CTEs (bounding row growth mid-round, which the array form
    cannot) unioned with their hop depth, then min(__h) per pair — the
    same plan the old per-hop DataFrame loop built, constructed in one
    analyzed statement."""
    hint = "/*+ BROADCAST(e) */ " if broadcast else ""
    ctes = [
        f"h1 AS (SELECT {hint}DISTINCT s.root, e.dst AS node "
        "FROM {f} s JOIN {e} e ON s.node = e.src)"
    ]
    ctes += [
        f"h{i} AS (SELECT {hint}DISTINCT p.root, e.dst AS node "
        f"FROM h{i - 1} p JOIN {{e}} e ON p.node = e.src)"
        for i in range(2, hops + 1)
    ]
    arms = "\n  UNION ALL ".join(
        f"SELECT root, node, {i} AS __h FROM h{i}" for i in range(1, hops + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT root, node, min(__h) AS __h FROM (\n  " + arms + "\n) GROUP BY root, node"
    )


def transitive_closure(
    edges: DataFrame,
    min_length: int = 1,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """edges(src, dst) -> all (src, dst) pairs connected by a directed
    path of length >= min_length (min_length=0 adds the identity pairs,
    i.e. ZeroLengthPath semantics, HTEE:1046-1065).

    ``nodes`` (one column ``n``): the identity-pair domain for
    min_length=0.  W3C ZeroLengthPath matches every term IN THE GRAPH,
    not just nodes adjacent to this path's predicate — pass the store's
    term set for spec semantics; default (None) falls back to the edge
    endpoints.

    Only min_length in {0, 1} is supported here (the SPARQL 1.1 ``p*`` /
    ``p+`` forms); for a bound-source query or min_length >= 2, use
    :func:`reachable_from`, which seeds from the bound side instead of
    materializing the whole-graph closure.

    Algorithm: frontier BFS seeded from EVERY source node (the same
    batched-hop engine as :func:`reachable_from`), NOT closure-squaring
    path doubling.  Doubling looks attractive (log2(diameter) rounds)
    but its self-join emits every pair once per midpoint — on the sf1.0
    rehearsal's 50-chains that was ~50M duplicate rows per late round
    (O(n·d²) intermediate volume), measured 63x the sf0.1 wall for 10x
    the input, dominated by shuffle-write + GC of rows the distinct
    then discarded.  BFS discovers each closure pair exactly ONCE
    (anti-join against the accumulated result), so total join volume is
    O(|closure|); ceil(diameter / hops per round) driver actions buy
    that linearity — the right trade at any scale where the closure
    itself is materializable.
    """
    if min_length not in (0, 1):
        raise ValueError(
            f"transitive_closure supports min_length in {{0, 1}}; got {min_length} "
            "(use reachable_from for longer minimum paths)"
        )
    edges = _normalize(edges)
    # the frontier is the src column, one row per out-edge: _fused_rounds
    # dedups it unless the max out-degree is 1 (each src then appears
    # once); a distinct here as well became a second aggregation exchange
    # in every closure's first round
    frontier = edges.select(F.col("src").alias("root"), F.col("src").alias("node"))
    closure = _fused_rounds(
        edges, frontier, result=None, result_rows=0, advance=0, hops_left=-1,
        dedup_frontier=True, frontier_is_edge_srcs=True,
    )
    if min_length == 0:
        if nodes is None:
            nodes = edges.select(F.col("src").alias("n")).union(
                edges.select(F.col("dst").alias("n"))
            )
        identity = nodes.select(F.col("n").alias("src"), F.col("n").alias("dst")).distinct()
        closure = closure.union(identity).distinct()
    return closure


def _normalize(edges: DataFrame) -> DataFrame:
    """The deduped, materialized (src, dst) edge set the fused rounds join
    against: checkpointed once so every round reads it, not its lineage."""
    return edges.select("src", "dst").distinct().localCheckpoint(eager=True)


# Bounds of the bound-seed probe (_probe): a traversal from driver-side
# seeds stays on the driver while each hop reads at most _PROBE_ROWS edges,
# the pairs found stay within _PROBE_ROWS and it needs at most _PROBE_HOPS
# edge scans.  Past any bound it hands its state to the fused rounds.
# Measured on 4 cores over a 611k-quad store: a probe hop is a scan of the
# store, ~100 ms wall on 1-4 partitions and ~210 ms on 32, while the
# fused rounds cost ~750-830 ms once.  Two hops cover a constant's
# neighbourhood plus the hop that proves it closed (the star shape of
# `?x p* <c>`).  A deeper traversal pays its probe hops on top of the
# rounds, so the bound stays low: on 32 partitions a 12-node chain took
# 1.23 s with 2 hops, 1.43 s with 3 and 2.58 s with 8.  At the row bound
# the wasted 4097-row collect costs about one hop.
_PROBE_HOPS = 2
_PROBE_ROWS = 4096


def _probe(edges: DataFrame, roots: list[str], advance: int, hops_left: int):
    """Driver-side BFS from ``roots``: per hop, the lazy ``edges`` scan
    is filtered by ``src IN (...)`` over the not-yet-expanded frontier
    nodes (an IN-list built from the exactly counted frontier) and read
    with ``limit(_PROBE_ROWS + 1).collect()``; the join with the
    frontier, the dedup against the seen pairs and the count happen on
    the driver.  A hop is one job on a one-partition scan; on a wider one
    Spark's incremental ``limit`` runs more (measured 2 jobs on 4
    partitions, 4 on 32).  Adjacency read once is reused, so cycles back
    into expanded nodes cost no scan.  ``advance`` exact steps come first
    (the min_length seed advance of :func:`reachable_from`), then BFS
    hops while ``hops_left != 0`` (-1 = to convergence).

    Returns ``(frontier, seen, advance, hops_left, done)``: with ``done``
    the pairs in ``seen`` are the whole answer; otherwise a bound was hit
    and the four values are the state to resume from."""
    adj: dict[str, set[str]] = {}
    scans = 0

    def step(pairs: set) -> set | None:
        nonlocal scans
        todo = sorted({n for _, n in pairs} - adj.keys())
        if todo:
            if scans == _PROBE_HOPS:
                return None
            scans += 1
            got = (
                edges.where(F.col("src").isin(todo) & F.col("dst").isNotNull())
                .select("src", "dst")
                .limit(_PROBE_ROWS + 1)
                .collect()
            )
            if len(got) > _PROBE_ROWS:
                return None
            adj.update((n, set()) for n in todo)
            for src, dst in got:
                adj[src].add(dst)
        out = {(r, d) for r, n in pairs for d in adj[n]}
        return out if len(out) <= _PROBE_ROWS else None

    frontier = {(r, r) for r in roots}
    seen: set = set()
    while frontier and hops_left != 0:
        nxt = step(frontier)
        if nxt is None:
            return frontier, seen, advance, hops_left, False
        if advance:
            frontier, advance = nxt, advance - 1
            continue
        frontier = nxt - seen
        seen |= frontier
        if hops_left > 0:
            hops_left -= 1
        if len(seen) > _PROBE_ROWS:
            return frontier, seen, advance, hops_left, False
    return frontier, seen, advance, hops_left, True


def reachable_from(
    edges: DataFrame,
    sources: DataFrame | list[str],
    min_length: int = 1,
    max_length: int | None = None,
) -> DataFrame:
    """Bound-source property path: all (src, dst) with a directed path of
    length >= min_length from each src in ``sources`` — a one-column
    DataFrame named ``src``, or a list of terms known on the driver (the
    constant of ``<s> p* ?o``).

    This is the ``<s> p+ ?o`` shape.  The reference evaluates it
    per-binding so the scan narrows (RDF4J PathIteration re-entering the
    strategy, strategy/.../HalyardTupleExprEvaluation.java:1073-1098);
    computing the whole-graph closure first — quadratic in component
    diameter — would be a scale-killer.  Distributed form: frontier BFS
    seeded from the bound side, carrying (root, node) pairs, so work is
    proportional to the reachable subgraph, not the whole graph.

    Driver-side seeds start with :func:`_probe`: per hop one bounded
    collect of an IN-list filter on the LAZY edge scan, with the frontier
    and the seen pairs kept on the driver.  A traversal that converges
    within its bounds (a constant's one-hop neighbourhood, a star) never
    materializes the edge set and returns a JVM-local frame.  Once the
    traversal outgrows those hops, or when ``sources`` is a DataFrame,
    the fused rounds (:func:`_fused_rounds`) run, resuming from the
    probe's frontier and seen pairs.

    min_length >= 2 advances the seeds exactly (min_length - 1) steps
    before collecting — {o : path(s, o) >= k} = {o : s ->^(k-1) m and
    m ->+ o} — so e.g. ``p{2,}`` is exact, not approximated by the >= 1
    closure.  min_length = 0 adds the identity pair for every source
    (ZeroLengthPath binds o = s regardless of graph membership).

    ``max_length`` is an intentional path-length CAP (``p?`` passes 1),
    counted in hops after the min_length seed advance; ``None`` (the
    default) runs the BFS to convergence — termination is guaranteed
    because every round's anti-join only admits never-seen (root, node)
    pairs from a finite space.
    """
    if min_length < 0:
        raise ValueError(f"min_length must be >= 0; got {min_length}")
    spark = edges.sparkSession
    advance = max(min_length - 1, 0)
    hops_left = max_length if max_length is not None else -1
    pair_schema = "src string, dst string"
    from_frame = isinstance(sources, DataFrame)
    if from_frame:
        frontier = sources.select(F.col("src").alias("root"), F.col("src").alias("node"))
        seen, seen_rows = None, 0
    else:
        roots = sorted(set(sources))
        ids = {(r, r) for r in roots} if min_length == 0 else set()
        state, seen_set, advance, hops_left, done = _probe(edges, roots, advance, hops_left)
        if done:
            return local_frame(spark, sorted(seen_set | ids), pair_schema)
        frontier = local_frame(spark, sorted(state), "root string, node string")
        seen = local_frame(spark, sorted(seen_set), "root string, node string") if seen_set else None
        seen_rows = len(seen_set)
    pairs = _fused_rounds(
        _normalize(edges), frontier, seen, seen_rows, advance, hops_left,
        dedup_frontier=from_frame, frontier_is_edge_srcs=False,
    )
    if min_length == 0:
        identity = (
            sources.select(F.col("src"), F.col("src").alias("dst")).distinct()
            if from_frame
            else local_frame(spark, sorted(ids), pair_schema)
        )
        pairs = pairs.union(identity).distinct()
    return pairs


def _round_shape(max_deg: int) -> tuple[int, bool]:
    """``(depth, dedup_free)`` of every fused round over edges whose max
    out-degree is ``max_deg``.  Within a dedup-free round a (root, node)
    pair is carried once per distinct path, at most ``max_deg**depth``
    times, so the round is the deepest of at most 32 hops whose carriage
    stays <= 256; below 4 hops, rounds of 4 per-hop-DISTINCT hops run
    instead.  Degree 1 gives 32, 2 gives 8, 3 gives 5, 4 gives 4, and 5
    or more 4 DISTINCT hops.

    Dedup-free hops fuse the whole round into one codegen stage, so
    deeper is cheaper per hop: degree-1 chains measured 7.1 s at 32 hops
    against 8.7 s at 16 (sf0.1).  A dense graph (1k near-complete nodes,
    fanout ~500) would carry 500**4 duplicate rows per frontier row;
    there each hop pays its DISTINCT, and deeper rounds only defer the
    convergence check."""
    depth = max((d for d in range(1, 33) if max_deg**d <= 256), default=0)
    return (depth, True) if depth >= 4 else (4, False)


def _fused_rounds(
    edges: DataFrame,
    frontier: DataFrame,
    result: DataFrame | None,
    result_rows: int,
    advance: int,
    hops_left: int,
    dedup_frontier: bool,
    frontier_is_edge_srcs: bool,
) -> DataFrame:
    """The materialized-edge BFS: ``advance`` exact steps from
    ``frontier`` (root, node) over the normalized ``edges``
    (:func:`_normalize`), then fused rounds while ``hops_left != 0``
    (-1 = to convergence).  ``result`` holds pairs already found
    (``result_rows`` of them), which later rounds exclude and the answer
    includes.  ``dedup_frontier`` dedups the seed pairs, except when
    ``frontier_is_edge_srcs`` (the frontier is the edge set's own src
    column) and the max out-degree is 1, where each src appears once.
    Returns the (src, dst) pairs.

    Each round joins several hops as ONE Spark job before its
    convergence action (:func:`_round_shape` picks the depth), so a
    diameter-D traversal costs about ceil(D / depth) driver actions
    instead of D.  Revisits across the round are dropped at the
    round-end anti-join, so cyclic graphs stay bounded.

    Join strategy: a checkpointed edge RDD carries NO size statistics, so
    Catalyst would default every hop to a sort-merge join — two exchanges
    + two sorts per hop.  The edge count is known, so hops BROADCAST the
    edge table whenever its estimated size fits the session's
    autoBroadcastJoinThreshold; above it, the hops shuffle."""
    # ONE action sizes the edge set and probes its max out-degree, which
    # picks the round builder and depth.  The degree is probed whether or
    # not the edges broadcast: on a shuffle-joined chain it buys 32-hop
    # rounds (sf0.01 chain closure, broadcast off, 4 cores: 83 jobs /
    # 11.2 s median against 212 jobs / 15.2 s at 4 hops per round), and on
    # shuffle-joined degree 2-4 graphs dedup-free rounds beat 4-hop
    # per-hop-DISTINCT ones although every shuffled hop carries duplicate
    # paths (600-node random DAGs from 10 seeds, 4 cores: degree 2 at 8
    # hops 12.9 s vs 21.5 s, degree 4 at 4 hops 17.6 s vs 27.7 s median
    # wall).
    n_edges, max_deg = (
        edges.groupBy("src").count()
        .agg(F.sum("count"), F.max("count"))
        .first()
    )
    n_edges, max_deg = n_edges or 0, max_deg or 0
    spark = edges.sparkSession
    bcast_limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    # ~128 B/row covers a pair of typical IRI terms; err toward NOT
    # broadcasting (a too-big broadcast OOMs, a missed one just shuffles)
    broadcast_edges = 0 <= n_edges * 128 <= bcast_limit
    hop_edges = F.broadcast(edges) if broadcast_edges else edges
    depth, dedup_free = _round_shape(max_deg)
    build = _round_sql_array if dedup_free else _round_sql_distinct
    if dedup_frontier and not (frontier_is_edge_srcs and max_deg == 1):
        # seed dedup costs an exchange in round 1's critical path; skip it
        # only when uniqueness is PROVEN
        frontier = frontier.distinct()
    for _ in range(advance):
        frontier = (
            frontier.join(hop_edges, frontier.node == edges.src)
            .select("root", F.col("dst").alias("node"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    # BFS terminates on its own: each round's anti-join keeps only pairs
    # never seen before, and the (root, node) space is finite — so the
    # default is run-to-convergence.  max_length is an INTENTIONAL
    # path-length cap — `p?` passes 1 — counted in hops after the
    # min_length seed advance, not a convergence budget.
    while hops_left != 0:
        this_round = depth if hops_left < 0 else min(depth, hops_left)
        if hops_left > 0:
            hops_left -= this_round
        # spark.sql registers each DataFrame argument under a fresh view
        # name and drops it once the statement is analyzed
        acc = spark.sql(build(this_round, broadcast_edges), f=frontier, e=edges)
        if result is not None:
            # the accumulated result's exact row count is known (summed
            # fresh counts), so the seen-set side of the anti-join is
            # BROADCAST whenever it fits — a checkpointed RDD carries no
            # stats, and Catalyst would otherwise sort-merge every round
            # (two exchanges + sorts on the latency-critical loop path);
            # oversized closures fall back to the shuffled anti-join
            seen = (
                F.broadcast(result)
                if 0 <= result_rows * 128 <= bcast_limit
                else result
            )
            acc = acc.join(seen, ["root", "node"], "left_anti")
        fresh = acc.localCheckpoint(eager=False)
        # ONE action per round: count + max depth together (the agg
        # materializes the lazy checkpoint exactly like a count would)
        stats = fresh.agg(
            F.count(F.lit(1)).alias("n"), F.max("__h").alias("maxh")
        ).first()
        n_fresh = stats["n"]
        if n_fresh == 0:
            break
        result_rows += n_fresh
        frontier = fresh.where(F.col("__h") == this_round).drop("__h")
        new_pairs = fresh.drop("__h")
        # accumulate WITHOUT re-checkpointing: every union arm is already
        # a materialized checkpoint (`fresh`), so lineage depth stays
        # O(rounds) while an eager checkpoint here would rewrite the
        # ENTIRE accumulated result each round (quadratic total work)
        result = new_pairs if result is None else result.union(new_pairs)
        if stats["maxh"] < this_round:
            # no fresh pair sits at this round's boundary depth, so the
            # next frontier is PROVABLY empty — skip the verify round
            # (a whole plan+schedule cycle) the count==0 exit would cost
            break
    if result is None:
        result = frontier.limit(0)
    return result.select(F.col("root").alias("src"), F.col("node").alias("dst"))


def zero_or_one_path(edges: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """``p?`` — identity union one hop (HTEE ZeroLengthPath :1046-1065).
    ``nodes`` (one column ``n``) is the identity domain; pass the store's
    full term set for W3C semantics (zero-length matches every graph
    term), default falls back to this path's edge endpoints."""
    if nodes is None:
        nodes = edges.select(F.col("src").alias("n")).union(edges.select(F.col("dst").alias("n")))
    identity = nodes.select(F.col("n").alias("src"), F.col("n").alias("dst")).distinct()
    return identity.union(edges.select("src", "dst")).distinct()
