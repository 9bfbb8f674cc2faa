"""Bulk graph analytics over (vertices, edges) DataFrames.

The reference delegates querying to Neo4j/Cypher; per the north star
("GraphX for analytics, not OLTP traversal") we provide the bulk
algorithms directly on DataFrames — no GraphFrames dependency, the same
join-iterate shape GraphX/Pregel uses, expressed in Spark SQL so AQE
handles sizing.

Inputs: vertices(id: string), edges(src: string, dst: string).
Edges are treated as undirected for CC/degrees; PageRank is directed.

Iterative algorithms run on one superstep loop, :func:`_supersteps`
(BFS and shortest paths on its frontier twin in ``motif``): a round is
one templated SQL statement — vertex state joined with the aggregated
messages, Pregelix's dataflow — followed by one lineage cut
(``operators.pin.cut``, which also carries the local-vs-reliable
checkpoint note); without the cut the plan doubles every round.
Convergence probes are counts over the round's output, which AQE runs
as a cheap partial aggregate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vmware_graph_spark.operators.pin import cut


def degrees(edges: DataFrame) -> DataFrame:
    """Undirected degree per vertex id (parallel edges count once each)."""
    both = edges.select(F.col("src").alias("id")).unionAll(
        edges.select(F.col("dst").alias("id"))
    )
    return both.groupBy("id").agg(F.count("*").alias("degree"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle count (GraphFrames ``triangleCount`` analog).

    Edges are canonicalized to ``u < v`` and deduplicated, then each
    triangle ``u < v < w`` is found once by the two-join wedge-closure:
    (u,v)⋈(v,w) forms wedges, closed by probing (u,w). Each vertex of a
    found triangle contributes 1. Scale: two equi-joins on vertex keys —
    the standard distributed formulation; for skewed degree
    distributions the high-degree side can additionally be handled by
    degree-ordering the canonicalization (each edge is directed from
    the lower-degree endpoint), which bounds wedge fan-out.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    per_vertex = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    return per_vertex


def _sym(edges: DataFrame) -> DataFrame:
    # Emit both directions from ONE pass over the input instead of a
    # two-branch unionAll: the union shape executes the caller's edge
    # lineage twice (the branches canonicalize differently, so no
    # exchange reuse fires). Identical output multiset, half the
    # upstream compute.
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _parts(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _supersteps(name, state, step, *, rounds, probe=None, carry=None, **tables):
    """Run up to ``rounds`` supersteps from ``state``; return the last state.

    ``step`` is a templated SQL statement over ``{state}`` and the named
    ``tables`` (or a function of the state); each round runs it once
    and cuts its output once. Without ``probe`` the loop runs exactly
    ``rounds`` rounds and cuts eagerly. With ``probe(old, new) -> bool``
    the cut is lazy and the probe's action materialises it (a full
    count computes every partition, so no block is left behind); the
    loop stops at the first round the probe reports converged, and
    raises ``RuntimeError`` if none does — a silent partial result
    would be wrong. ``carry`` names the output columns the next round
    reads (default: all)."""
    spark = state.sparkSession
    for _ in range(rounds):
        new = step(state) if callable(step) else spark.sql(step, state=state, **tables)
        new = cut(new, eager=probe is None)
        done = probe is not None and probe(state, new)
        state = new.select(*carry) if carry else new
        if done:
            return state
    if probe is not None:
        raise RuntimeError(f"{name} did not converge in {rounds} rounds")
    return state


def _repeats(signal, last):
    """A :func:`_supersteps` probe: converged once ``signal(new)``
    equals the previous round's signal (``last`` before round 1). The
    signal is carried, so no round re-reads the previous state."""

    def probe(old, new):
        nonlocal last
        prev, last = last, signal(new)
        return last == prev

    return probe


def _same_rows(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality as one job: a two-sided ``exceptAll``."""
    diff = a.exceptAll(b).limit(1).unionAll(b.exceptAll(a).limit(1)).limit(1)
    return diff.count() == 0


def connected_components(
    vertices: DataFrame, edges: DataFrame, *, max_iters: int = 20
) -> DataFrame:
    """Min-label propagation: component id = min vertex id (lexicographic).

    Returns (id, component). Deterministic: labels are ids, min is total.
    Raises if the label propagation has not converged within
    ``max_iters`` — a silent partial result would be wrong for any graph
    whose diameter exceeds the cap. (:func:`connected_components_star`
    needs O(log n) rounds instead of O(diameter).)

    Contract: ``vertices`` must cover every edge endpoint (both in-tree
    callers derive it that way); output rows are anchored on the vertex
    table.
    """
    # CO-PARTITIONED round shape (guide §2.4 — establish the
    # partitioning once, reuse it every round): sym hashes on src
    # (which also satisfies the edge dedup's clustering) and labels on
    # id, and cuts preserve the layout. Each round then needs exactly
    # ONE exchange (the neighbor-min aggregation re-keys src→dst). The
    # old label rides the merge row, so the changed-label count — the
    # round's one action — needs no second old-vs-new join.
    p = _parts(vertices)
    sym = cut(_sym(edges).repartition(p, "src").dropDuplicates(), eager=False)
    labels = cut(
        vertices.select("id", F.col("id").alias("component")).repartition(p, "id"),
        eager=False,
    )
    return _supersteps(
        "connected_components",
        labels,
        """
        SELECT l.id, l.component AS __old,
               least(l.component, coalesce(m.__nbr, l.component)) AS component
        FROM {state} l LEFT JOIN (
          SELECT s.dst AS id, min(l2.component) AS __nbr
          FROM {sym} s JOIN {state} l2 ON s.src = l2.id
          GROUP BY s.dst
        ) m ON l.id = m.id
        """,
        rounds=max_iters,
        probe=lambda old, new: new.filter(F.col("component") != F.col("__old")).count() == 0,
        carry=("id", "component"),
        sym=sym,
    )


def label_propagation(
    vertices: DataFrame, edges: DataFrame, *, iters: int = 3
) -> DataFrame:
    """Synchronous label-propagation community detection. Returns
    (id, label) after exactly ``iters`` rounds (GraphFrames
    ``labelPropagation`` analog, made deterministic).

    Each round every vertex adopts the label most frequent among its
    neighbors (undirected; the vertex's own label does NOT vote),
    breaking count ties by the smaller label — the standard LPA vote
    with a total tie order, so the result is a pure function of the
    graph, independent of partitioning and retries (GraphFrames uses
    hash-based tie-breaks and warns its output is nondeterministic;
    a fixed iteration count is the convention since LPA does not
    converge in general — it oscillates on bipartite structures).

    Scale: per round one shuffle keyed on (vertex, label) for the vote
    count and one window per vertex for the arg-max — the same
    join-aggregate skeleton as PageRank, lineage-cut per round.
    Isolated vertices keep their own label.
    """
    # Co-partitioned loop layout (the connected_components shape): sym
    # hash(dst) — the vote probe's join key — and labels hash(id). Per
    # round the single exchange is the vote repartition to hash(src)
    # (the REPARTITION hint), behind which the (src, label) count, the
    # per-id window and the arg-max all run partition-local.
    p = _parts(vertices)
    sym = cut(_sym(edges).repartition(p, "dst").dropDuplicates(), eager=True)
    labels = cut(
        vertices.select("id", F.col("id").alias("label")).repartition(p, "id"),
        eager=True,
    )
    return _supersteps(
        "label_propagation",
        labels,
        f"""
        SELECT l.id, coalesce(w.label, l.label) AS label
        FROM {{state}} l LEFT JOIN (
          SELECT id, label FROM (
            SELECT id, label,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY c DESC, label ASC) AS __rn
            FROM (
              SELECT src AS id, label, count(*) AS c FROM (
                SELECT /*+ REPARTITION({p}, src) */ s.src, l2.label
                FROM {{sym}} s JOIN {{state}} l2 ON s.dst = l2.id
              ) GROUP BY src, label
            )
          ) WHERE __rn = 1
        ) w ON l.id = w.id
        """,
        rounds=iters,
        sym=sym,
    )


_HITS_AUTHORITY = """
    SELECT e.dst AS id, sum(h.hub) AS authority
    FROM {e} e JOIN {state} h ON e.src = h.id
    GROUP BY e.dst
"""


def hits(
    vertices: DataFrame, edges: DataFrame, *, iters: int = 2
) -> DataFrame:
    """HITS hubs-and-authorities, unnormalized integer power iteration.
    Returns (id, hub, authority) after exactly ``iters`` rounds.

    Classic HITS normalizes each round; for a FIXED iteration count the
    normalization only rescales (the ranking is unchanged), so this
    implementation keeps pure bigint accumulation — h₀=1,
    aᵢ = Σ_incoming hᵢ₋₁, hᵢ = Σ_outgoing aᵢ — which is exactly
    reproducible in any engine (no float summation order to pin) and
    lets the oracle unroll the rounds in SQL. Scale: two shuffles per
    round keyed on vertex id (the same join-aggregate skeleton as
    PageRank), lineage-cut per round; isolated vertices carry 0s.
    """
    e = cut(edges.select("src", "dst"), eager=True)
    hub_round = f"""
        SELECT e.src AS id, sum(a.authority) AS hub
        FROM {{e}} e JOIN ({_HITS_AUTHORITY}) a ON e.dst = a.id
        GROUP BY e.src
    """
    h = vertices.select("id", F.lit(1).cast("bigint").alias("hub"))
    h = _supersteps("hits", h, hub_round, rounds=iters - 1, e=e)
    # the output's authorities are the last round's, read from h_{iters-1}
    a = vertices.sparkSession.sql(_HITS_AUTHORITY, e=e, state=h)
    h = _supersteps("hits", h, hub_round, rounds=1, e=e)
    return (
        vertices.select("id")
        .join(h, "id", "left")
        .join(a, "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0)).cast("bigint").alias("hub"),
            F.coalesce("authority", F.lit(0)).cast("bigint").alias("authority"),
        )
    )


def k_core(
    edges: DataFrame, k: int, *, rounds: int | None = None, max_iters: int = 50
) -> DataFrame:
    """The k-core of an undirected graph: iteratively peel vertices of
    degree < k until none remain. Returns surviving (id, core_degree).

    Two modes:
    - ``rounds=None`` (library default): peel to the fixpoint, raising
      if ``max_iters`` rounds don't reach it (a silent partial peel
      would overstate the core).
    - ``rounds=R``: exactly R synchronous peel rounds — the
      deterministic finite unrolling an external oracle can replay.

    Scale: each round is one degree aggregation plus two semi-joins
    (both endpoints must survive), lineage-cut per round — the standard
    distributed k-core; the number of rounds is bounded by the
    degeneracy ordering depth, typically ≪ vertex count. Parallel
    edges/self-loops are removed up front (degree = distinct
    neighbors).
    """
    e = cut(
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        eager=True,
    )
    # the fixpoint is reached when a round peels no edge
    probe = _repeats(lambda df: df.count(), e.count()) if rounds is None else None
    e = _supersteps(
        "k_core",
        e,
        f"""
        WITH deg AS (
          SELECT id, count(*) AS degree FROM (
            SELECT u AS id FROM {{state}} UNION ALL SELECT v AS id FROM {{state}}
          ) GROUP BY id
        ),
        keep AS (SELECT id FROM deg WHERE degree >= {int(k)})
        SELECT u, v FROM {{state}} e
        LEFT SEMI JOIN keep k1 ON e.u = k1.id
        LEFT SEMI JOIN keep k2 ON e.v = k2.id
        """,
        rounds=max_iters if rounds is None else rounds,
        probe=probe,
    )
    return (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("core_degree"))
    )


def _pagerank_loop(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    iters: int,
    init,
    out_agg,
    contrib_sql: str,
    update,
    dangling_sql: str = "CAST(coalesce(sum(r2.rank), 0) AS LONG)",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """The PageRank family's shared loop; returns (id, rank).

    ``init`` is the initial rank column, ``out_agg`` the per-source
    out-degree (or out-weight) aggregate, and the SQL fragments fill
    one round: ``contrib_sql`` per edge (aliases e/r/o), ``dangling_sql``
    over the ranks of sinks (r2), ``update(n)`` per vertex (v/c/dg),
    where ``n`` is the number of teleport targets — every vertex, or
    with ``seeds`` the distinct seed ids that are vertices (flagged
    ``v.__seed``).

    The loop invariants are pinned once: vertices, edges and the
    out-degree table sit in EVERY round's plan, so without the pins
    each round re-runs the caller's graph-build lineage. The n-count
    materialises the vertex pin and the out-degree count both the edge
    pin (its input) and itself. Layout (guide §2.4): edges hash on src,
    vertices/ranks on id, preserved by every round's cut — the
    edges⋈ranks probe, the out-degree join, the dangling anti-join and
    the vertices⟕contribs merge are exchange-free; the one per-round
    exchange is the contribution aggregation re-keying src→dst.
    Dangling mass stays in the plan as a 1-row broadcast (no driver
    collect): one job per round."""
    p = _parts(vertices)
    v = vertices.repartition(p, "id")
    if seeds is not None:
        flags = seeds.select("id").distinct().withColumn("__seed", F.lit(True))
        v = v.join(F.broadcast(flags), "id", "left")
    v = cut(v, eager=False)
    n = (v if seeds is None else v.filter(F.col("__seed"))).count()
    if seeds is not None and n == 0:
        raise ValueError("personalized_pagerank_fixed needs a seed that is a vertex")
    edges = cut(edges.repartition(p, "src"), eager=False)
    out = cut(edges.groupBy("src").agg(out_agg), eager=False)
    out.count()
    ranks = cut(v.select("id", init.alias("rank")), eager=True)
    return _supersteps(
        "pagerank",
        ranks,
        f"""
        SELECT /*+ BROADCAST(dg) */ v.id, {update(n)} AS rank
        FROM {{v}} v
        LEFT JOIN (
          SELECT e.dst AS id, sum({contrib_sql}) AS in_sum
          FROM {{e}} e JOIN {{state}} r ON e.src = r.id
          JOIN {{out}} o ON e.src = o.src
          GROUP BY e.dst
        ) c ON v.id = c.id
        CROSS JOIN (
          SELECT {dangling_sql} AS __dangling
          FROM {{state}} r2 LEFT ANTI JOIN {{out}} o2 ON r2.id = o2.src
        ) dg
        """,
        rounds=iters,
        v=v,
        e=edges,
        out=out,
    )


def _fixed_update(damping_pct: int, scale: int):
    """The fixed-point update: base + (d * (in_sum + dangling div n)) div 100."""
    base = (100 - damping_pct) * scale // 100
    return lambda n: (
        f"CAST({base} + (({damping_pct} * "
        f"(coalesce(c.in_sum, cast(0 as long))"
        f" + (dg.__dangling div {n}))) div 100) AS LONG)"
    )


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Classic iterative PageRank on directed edges. Returns (id, rank).

    Dangling mass is redistributed uniformly each round so ranks sum to
    |V| (GraphX convention is un-normalized; we normalize to sum=|V|).
    """
    return _pagerank_loop(
        vertices,
        edges,
        iters=iters,
        init=F.lit(1.0),
        out_agg=F.count("*").alias("out_deg"),
        contrib_sql="r.rank / o.out_deg",
        dangling_sql="coalesce(sum(r2.rank), 0.0D)",
        update=lambda n: (
            f"{1.0 - damping!r}D + {damping!r}D * "
            f"(coalesce(c.in_sum, 0.0D) + dg.__dangling / {float(n)!r}D)"
        ),
    )


def pagerank_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic fixed-point PageRank: (id, rank_micros: bigint).

    Same dataflow as :func:`pagerank` (one shuffle per iteration,
    dangling mass as an in-plan 1-row broadcast, no driver collect) but
    ALL arithmetic is scaled 64-bit integer with floor division, so the
    result is bit-identical regardless of engine, partitioning, or
    summation order — float PageRank's per-partition sum order wiggles
    the low bits, which makes exact cross-engine verification
    impossible; this variant is the auditable twin. Update rule:

        r' = (100-d)*scale/100 + (d * (in_sum + dangling div n)) div 100
        where in_sum = sum over in-neighbors of (r div out_deg)

    Integer headroom: ranks stay O(scale·n/|dangling-free|); with
    scale=1e6 the 64-bit budget holds past 10^9 vertices.
    """
    ranks = _pagerank_loop(
        vertices,
        edges,
        iters=iters,
        init=F.lit(scale).cast("long"),
        out_agg=F.count("*").alias("out_deg"),
        contrib_sql="r.rank div o.out_deg",
        update=_fixed_update(damping_pct, scale),
    )
    return ranks.select("id", F.col("rank").alias("rank_micros"))


def pagerank_weighted_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Edge-WEIGHTED fixed-point PageRank: (id, rank_micros), where a
    vertex splits its rank over out-edges proportionally to integer
    edge weight ``w`` (≥1) instead of uniformly — importance flows
    along interaction volume (order counts, traffic, bytes), the
    variant real infrastructure/behavior graphs need.

    Same integer discipline as :func:`pagerank_fixed`: per-edge
    ``(rank * w) div out_w`` floor contributions, dangling mass as a
    1-row broadcast, one shuffle per iteration. Headroom: rank ≤
    n·scale, so rank·w stays in int64 while n·scale·w_max < 2^63."""
    ranks = _pagerank_loop(
        vertices,
        edges,
        iters=iters,
        init=F.lit(scale).cast("long"),
        out_agg=F.sum("w").cast("long").alias("out_w"),
        contrib_sql="(r.rank * e.w) div o.out_w",
        update=_fixed_update(damping_pct, scale),
    )
    return ranks.select("id", F.col("rank").alias("rank_micros"))


def transitive_closure(
    edges: DataFrame, *, max_depth: int = 32, max_pairs: int | None = None
) -> DataFrame:
    """All (src, dst, dist) reachability pairs with minimum hop count,
    by iterative DOUBLING: after round r every path of length ≤ 2^r is
    known, so a depth-D hierarchy closes in ⌈log2 D⌉ self-joins — the
    ancestor/descendant expansion for folder and resource-pool trees
    (SURVEY §2.10), where naive one-hop iteration pays D shuffles.

    Each round self-joins the closure with itself (join on the
    midpoint), unions, and keeps the MIN distance per pair —
    duplicate-path explosion is pruned every round, which is what keeps
    doubling viable on DAGs. Cycles would fixpoint (dist stops
    shrinking) but cost O(n·cycle) pairs; intended for hierarchies.
    The closure is complete when a round adds no pair, which takes at
    most ⌈log2 max_depth⌉ + 1 rounds on a graph whose shortest paths
    are ≤ ``max_depth`` hops; raises otherwise (no silent partials).

    ``max_pairs`` is the dense-graph circuit breaker (round-2 ADVICE):
    the closure of a dense/cyclic graph is O(n·reach) pairs, and on a
    graph that isn't hierarchy-shaped that explodes long before the
    doubling budget trips. Each round already counts the closure, so
    the guard is free; when the running pair count exceeds it, raise
    predictably instead of melting the cluster.
    See DEPLOY.md "Sizing the graph algorithms"."""

    def pairs(closure: DataFrame) -> int:
        n = closure.count()
        if max_pairs is not None and n > max_pairs:
            raise RuntimeError(
                f"transitive_closure pair count {n} exceeds "
                f"max_pairs={max_pairs}: the graph is denser than a "
                "hierarchy — use connected_components / pagerank-style "
                "iteration instead, or raise the budget deliberately"
            )
        return n

    closure = cut(
        edges.select("src", "dst", F.lit(1).alias("dist")).distinct(), eager=True
    )
    rounds = max(1, math.ceil(math.log2(max_depth)) if max_depth > 1 else 1)
    return _supersteps(
        "transitive_closure",
        closure,
        """
        SELECT src, dst, min(dist) AS dist FROM (
          SELECT src, dst, dist FROM {state}
          UNION ALL
          SELECT a.src AS src, b.dst AS dst, a.dist + b.dist AS dist
          FROM {state} a JOIN {state} b ON a.dst = b.src
        ) GROUP BY src, dst
        """,
        rounds=rounds + 1,
        probe=_repeats(pairs, closure.count()),
    )


def personalized_pagerank_fixed(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Personalized PageRank (fixed-point): (id, rank_micros) where the
    teleport/restart vector is the ``seeds`` set — proximity to the
    seeds, not global centrality. The neighborhood-expansion primitive
    (seed-biased recommendations, related-entity discovery, local
    community scoring).

    Same integer discipline as :func:`pagerank_fixed` — scaled 64-bit
    floor arithmetic, one shuffle per iteration, dangling mass as a
    1-row broadcast — with the restart differences: initial mass and
    the (1-d) base land ONLY on seeds, and dangling mass teleports back
    to the seeds (split evenly over the distinct seed ids that are
    vertices; duplicate or unknown seed ids change nothing), never
    uniformly. Raises ``ValueError`` if no seed is a vertex.
    Bit-identical across engines/partitionings, so an unrolled-CTE
    oracle can replay it.
    """
    base = (100 - damping_pct) * scale // 100
    ranks = _pagerank_loop(
        vertices,
        edges,
        iters=iters,
        init=F.when(F.col("__seed"), F.lit(scale)).otherwise(F.lit(0)).cast("long"),
        out_agg=F.count("*").alias("out_deg"),
        contrib_sql="r.rank div o.out_deg",
        update=lambda n: (
            f"CAST((CASE WHEN v.__seed THEN {base} ELSE 0 END) + "
            f"(({damping_pct} * (coalesce(c.in_sum, cast(0 as long))"
            f" + (case when v.__seed then dg.__dangling div {n}"
            f" else cast(0 as long) end))) div 100) AS LONG)"
        ),
        seeds=seeds,
    )
    return ranks.select("id", F.col("rank").alias("rank_micros"))


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every neighbor v > u re-parents to
    min(N(u) ∪ {u}). Pure join+groupBy — no per-node neighbor lists
    materialize, so hub nodes never blow a task."""
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("__mn"))
    m = m.select("u", F.least(F.col("__mn"), F.col("u")).alias("__m"))
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small; all small neighbors
    (and the center) re-parent to the minimum neighbor."""
    o = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = o.groupBy("u").agg(F.min("v").alias("__m"))
    re_pointed = (
        o.join(m, "u")
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    centers = m.select(F.col("u"), F.col("__m").alias("v"))
    return re_pointed.unionAll(centers).distinct()


def _unionfind_labels(pairs: list[tuple]) -> dict:
    """Min-id component labels for a small collected edge list —
    path-compressed union-find, used by the star-CC local finish."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent} | {
        u: find(u) for uv in pairs for u in uv
    }


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_iters: int = 25,
    local_finish_edges: int = 100_000,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Alternates the two star contractions until the edge set reaches its
    fixpoint — O(log n) rounds regardless of graph diameter, which is
    the property that makes this the 100 TB path where min-label
    propagation (``connected_components``) needs O(diameter) shuffles.
    Returns (id, component) with component = min vertex id, identical
    labeling to ``connected_components``. Raises if not converged.

    Once the (distinct, contracted) edge set fits ``local_finish_edges``
    — at entry for LSH-sparse pair graphs, or after a round or two of
    contraction otherwise — the remainder finishes as a driver-side
    union-find instead of paying ~4 jobs per further round: each star
    round costs checkpoint+count actions that dominate wall-clock when
    the frontier is small relative to the cluster, and the bound keeps
    the collect at ≤ ``local_finish_edges`` pairs (~MBs) by
    construction. Labeling is identical (min id per component). Set
    ``local_finish_edges=0`` to force pure dataflow to the fixpoint.
    """
    # Lazy cut materialised by the count (one job, not two).
    e = cut(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        eager=False,
    )
    e_cnt = e.count()

    def probe(old: DataFrame, new: DataFrame) -> bool:
        # Cheap gate first: distinct edge SETS can't be equal if their
        # counts differ, and early contraction rounds always shrink the
        # set — the exact check only runs in count-stable rounds. Both
        # sides read materialised cut blocks.
        nonlocal e_cnt
        prev, e_cnt = e_cnt, new.count()
        return e_cnt <= local_finish_edges or (e_cnt == prev and _same_rows(new, old))

    if e_cnt > local_finish_edges:
        e = _supersteps(
            "connected_components_star",
            e,
            lambda s: _small_star(_large_star(s)),
            rounds=max_iters,
            probe=probe,
        )
    if 0 < e_cnt <= local_finish_edges:
        comp = _unionfind_labels([(r.u, r.v) for r in e.collect()])
        id_type = e.schema["u"].dataType
        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("component", id_type)]
        )
        labels = F.broadcast(vertices.sparkSession.createDataFrame(list(comp.items()), schema))
    else:
        # Fixpoint edges form stars (node → component root). Roots and
        # isolated vertices label themselves.
        labels = e.groupBy("u").agg(F.min("v").alias("component")).select(
            F.col("u").alias("id"), "component"
        )
    return (
        vertices.join(labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def strongly_connected_components(
    edges: DataFrame, *, max_depth: int = 512, max_pairs: int | None = None
) -> DataFrame:
    """SCC labels — GraphFrames ``stronglyConnectedComponents`` parity:
    ``(id, scc_id)`` where ``scc_id`` is the minimum vertex mutually
    reachable with ``id`` (singleton components label themselves).

    Built on the doubling transitive closure: mutual reachability is
    closure ⋈ reversed-closure on the pair, so the label is one
    aggregation over that join — no Tarjan-style sequential stack, which
    cannot be expressed as bounded dataflow. Intended for graphs whose
    closure fits the doubling budget (hierarchies with back-edges,
    functional graphs, bounded-diameter machine graphs); pair count is
    O(n·reach) and the cycle fixpoint is what the closure's min-dist
    dedup already bounds. Pass ``max_pairs`` (forwarded to the closure)
    to make dense-graph misuse fail predictably instead of exploding —
    see DEPLOY.md "Sizing the graph algorithms" (round-2 ADVICE)."""
    tc = transitive_closure(edges, max_depth=max_depth, max_pairs=max_pairs).select(
        "src", "dst"
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    mutual = tc.join(
        tc.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
    )
    m = mutual.groupBy(F.col("src").alias("id")).agg(F.min("dst").alias("mu"))
    return nodes.join(m, "id", "left").select(
        "id", F.least(F.col("id"), F.coalesce("mu", F.col("id"))).alias("scc_id")
    )


def _labelled_edges(edges: DataFrame, membership: DataFrame):
    """The membership as (id, com) and each edge labelled with both
    endpoints' communities, (src, dst, cs, cd): the shared input of
    :func:`modularity` and :func:`conductance`."""
    mem = membership.select(F.col(membership.columns[0]).alias("id"),
                            F.col(membership.columns[1]).alias("com"))
    lab = (
        edges.select("src", "dst")
        .join(mem.withColumnRenamed("id", "src").withColumnRenamed("com", "cs"), "src")
        .join(mem.withColumnRenamed("id", "dst").withColumnRenamed("com", "cd"), "dst")
    )
    return mem, lab


def modularity(edges: DataFrame, membership: DataFrame) -> DataFrame:
    """Newman modularity Q of a node partition over an undirected
    simple graph: Q = intra/m − Σ_c (d_c / 2m)².

    ``edges``: distinct undirected pairs ``(src, dst)``, src != dst
    (each edge once — orientation irrelevant). ``membership``:
    ``(id, community)``, one row per node.

    Everything up to the last step is exact integer aggregation
    (m, intra-community edge count, Σ d_c²); the final expression is
    two IEEE-double divisions and one subtraction — each correctly
    rounded, so the result hash-matches the SQL oracle bit-for-bit.
    Returns one row: (m, intra_edges, modularity) rounded to 9 dp.

    Scale: two equi-joins on node id + one endpoint-explode count —
    no all-pairs, no windows; membership is a normal shuffled join
    (it is corpus-sized, not broadcastable).
    """
    mem, lab = _labelled_edges(edges, membership)
    tot = lab.agg(
        F.count("*").alias("m"),
        F.sum(F.when(F.col("cs") == F.col("cd"), 1).otherwise(0)).alias("intra_edges"),
    )
    ends = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    deg = ends.groupBy("id").agg(F.count("*").alias("d")).join(mem, "id")
    dsq = (
        deg.groupBy("com").agg(F.sum("d").alias("dcom"))
        .agg(F.sum(F.col("dcom") * F.col("dcom")).alias("sum_dsq"))
    )
    return tot.crossJoin(dsq).select(
        "m",
        "intra_edges",
        F.round(
            F.col("intra_edges").cast("double") / F.col("m")
            - F.col("sum_dsq").cast("double") / (F.lit(4) * F.col("m") * F.col("m")).cast("double"),
            9,
        ).alias("modularity"),
    )


def conductance(edges: DataFrame, membership: DataFrame) -> DataFrame:
    """Per-community conductance φ(c) = cut(c) / min(vol(c), 2m−vol(c))
    over an undirected simple graph — the boundary-quality companion to
    ``modularity`` (same inputs: distinct ``(src, dst)`` pairs and an
    ``(id, community)`` map). vol(c) = 2·intra(c) + cut(c); everything
    is exact integer aggregation until the one final IEEE division.
    Returns (community, vol, cut, conductance) — conductance NULL for a
    community that is the whole graph (min volume 0).

    Scale: the same two id-joins as modularity plus one union-explode
    count; no windows, no all-pairs.
    """
    mem, lab = _labelled_edges(edges, membership)
    intra = (
        lab.filter(F.col("cs") == F.col("cd"))
        .groupBy(F.col("cs").alias("com"))
        .agg(F.count("*").alias("intra"))
    )
    inter = lab.filter(F.col("cs") != F.col("cd"))
    cut = (
        inter.select(F.col("cs").alias("com"))
        .unionByName(inter.select(F.col("cd").alias("com")))
        .groupBy("com")
        .agg(F.count("*").alias("cut"))
    )
    m = lab.agg(F.count("*").alias("m"))
    per = (
        intra.join(cut, "com", "full_outer")
        .select(
            "com",
            F.coalesce(F.col("intra"), F.lit(0)).alias("intra"),
            F.coalesce(F.col("cut"), F.lit(0)).alias("cut"),
        )
        .crossJoin(F.broadcast(m))
        .withColumn("vol", (F.lit(2) * F.col("intra") + F.col("cut")).cast("bigint"))
    )
    denom = F.least(F.col("vol"), F.lit(2) * F.col("m") - F.col("vol"))
    return per.select(
        F.col("com").alias("community"),
        "vol",
        F.col("cut").cast("bigint").alias("cut"),
        F.when(
            denom > 0, F.round(F.col("cut").cast("double") / denom.cast("double"), 9)
        ).alias("conductance"),
    )


def weighted_sssp(
    edges: DataFrame, sources: DataFrame, *, max_iters: int = 40
) -> DataFrame:
    """Multi-source weighted shortest paths — Bellman–Ford min-plus
    relaxation rounds (the weighted sibling of ``motif.shortest_paths``'
    hop-count BFS). ``edges`` is (src, dst, w) with INTEGER weights
    (min-plus over bigints stays exact — no float accumulation order to
    worry about); ``sources`` is (id, landmark), so per-landmark
    distance maps come out of one run, GraphFrames-``shortestPaths``
    style; repeated source rows count once. Returns (id, landmark, dist)
    for REACHABLE pairs only.

    Each round is one equi-join + one min-aggregate, both hashed on the
    vertex id — O(longest-shortest-path) rounds, the same tradeoff as
    min-label CC (use it on bounded-diameter graphs; raise
    ``max_iters`` for long chains). Convergence is checked exactly
    (``exceptAll`` fixpoint, like connected_components_star), and
    non-convergence raises instead of returning wrong distances —
    negative-weight cycles can never converge and are therefore
    surfaced, not silently looped over."""
    # Co-partitioned layout (the connected_components shape): edges
    # hash(src), dist hash(id) — the relaxation probe is exchange-free,
    # the relaxed candidates take ONE repartition to hash(id) (the
    # REPARTITION hint; the (id, landmark) min-agg runs partition-local
    # behind it), and the merge with the previous state is a
    # co-partitioned full-outer join.
    p = _parts(edges)
    e = cut(
        edges.select("src", "dst", F.col("w").cast("bigint").alias("w")).repartition(p, "src"),
        eager=False,
    )
    # hash(id) also clusters (id, landmark): the source dedup runs
    # partition-local behind the one exchange
    dist = cut(
        sources.select("id", "landmark")
        .repartition(p, "id")
        .dropDuplicates()
        .withColumn("dist", F.lit(0).cast("bigint")),
        eager=False,
    )

    def stats(d: DataFrame) -> tuple:
        return tuple(d.agg(F.count("*"), F.sum("dist")).first())

    # Cheap gate first: the reachable pair set only GROWS and each
    # pair's dist only DECREASES, so no fixpoint is possible unless the
    # pair count and the distance total both repeat — one aggregate per
    # round; the exact check runs only in (count, sum)-stable rounds.
    stable = _repeats(stats, stats(dist))
    return _supersteps(
        "weighted_sssp",
        dist,
        f"""
        SELECT id, landmark,
               least(coalesce(o.dist, r.dist),
                     coalesce(r.dist, o.dist)) AS dist
        FROM {{state}} o FULL OUTER JOIN (
          SELECT id, landmark, min(dist) AS dist FROM (
            SELECT /*+ REPARTITION({p}, id) */
                   e.dst AS id, d.landmark, d.dist + e.w AS dist
            FROM {{state}} d JOIN {{edges}} e ON d.id = e.src
          ) GROUP BY id, landmark
        ) r USING (id, landmark)
        """,
        rounds=max_iters,
        probe=lambda old, new: stable(old, new) and _same_rows(new, old),
        edges=e,
    )
