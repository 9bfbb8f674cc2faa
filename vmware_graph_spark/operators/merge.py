"""MERGE-family operators — the reference's defining primitive.

The reference issues ~247 Cypher MERGE clauses (node upsert by natural
key, SURVEY §2.4) and ~110 relationship MERGEs, many in the *undirected*
form ``(a)-[:T]-(b)`` which matches either direction. Re-expressed for
Spark's immutable, snapshot-oriented model:

- node MERGE  → ``merge_batches``: the existing table and any number of
  update batches reduced in one keyed pass, deterministic on duplicates
  (never bare dropDuplicates — SURVEY "hard parts").
- MERGE…SET   → a batch overwrites the properties it carries.
- MERGE…ON CREATE SET → a batch counts only for the keys it creates.
- rel MERGE   → append + distinct on (src, rel_type, dst), with
  undirected types canonicalized by sorted endpoint pair so the same
  edge asserted in both directions dedups to one row.

Scale notes: all shapes are single-shuffle on the key columns; at 100 TB
the vertex tables are written bucketed by key so repeated refreshes
reuse the layout, and the window dedup becomes a per-bucket local sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PICK = "__merge_pick"
_ORD = "__merge_ord"


def _bt(name: str) -> str:
    """Backtick-quote an identifier for SQL-string expression building
    (RVTools column names carry spaces and '#')."""
    return "`" + name.replace("`", "``") + "`"


def _drop_null_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Cypher MERGE on a null key property fails that row; we drop (not
    insert) null-keyed rows (SURVEY §7 hard parts). Built as ONE SQL
    string: these helpers run per merge per label per batch, and the
    column-object chains were the largest driver-side plan-construction
    cost in a full ingest (round-6 VERDICT #6)."""
    if not keys:
        return df
    return df.filter(" AND ".join(f"{_bt(k)} IS NOT NULL" for k in keys))


def _dedup_one_per_key(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """One row per key, deterministically: duplicates within a batch are
    resolved by a total ordering over all non-key columns (the
    reference's row order is spreadsheet order, which Spark must not
    depend on). One SQL-string window (see _drop_null_keys note)."""
    value_cols = [c for c in df.columns if c not in keys]
    if not value_cols:
        return df.distinct()
    part = ", ".join(_bt(k) for k in keys)
    order = ", ".join(f"{_bt(c)} ASC NULLS LAST" for c in value_cols)
    rn = F.expr(f"row_number() OVER (PARTITION BY {part} ORDER BY {order})")
    return df.withColumn(_PICK, rn).filter(F.col(_PICK) == 1).drop(_PICK)


def merge_batches(
    existing: DataFrame | None,
    batches: Sequence[tuple[DataFrame, bool]],
    keys: Sequence[str],
) -> DataFrame:
    """Node MERGE of ``existing`` and any number of ``(updates,
    on_create_only)`` batches, applied in order, in ONE keyed pass.

    ``on_create_only=False`` → MERGE … SET (refresh-vmware.cypher:35,
    39-40): for a matched key, every property the batch *carries* (every
    column of its schema) is overwritten — including with null, matching
    Cypher ``SET n.x = null`` — while properties the batch does not carry
    keep their values (earlier stages' writes on the same node survive).

    ``on_create_only=True`` → MERGE … ON CREATE SET (cypher:284-287): the
    batch counts only for keys it creates; matched keys keep every
    property.

    Shape (Pregelix's state update: one group-by over a tagged union of
    the old state and the incoming batches): every source is tagged with
    its position, ``existing`` first. One window on the key orders each
    key's rows by position, then by the source's own value columns ASC
    NULLS LAST — so duplicates inside a batch resolve exactly as
    ``_dedup_one_per_key`` resolves them — and keeps each source's first
    row. One aggregate on the same key then takes, per column, the value
    of the latest source that carries the column and counts for the key.
    Both hash on the key, so the whole merge is one exchange.
    """
    sources = ([(existing, False)] if existing is not None else []) + list(batches)
    if len(sources) == 1:
        return _dedup_one_per_key(_drop_null_keys(sources[0][0], keys), keys)
    keys = list(keys)
    cols: list[str] = []  # value columns in order of first appearance
    ties: list[str] = []  # one tie-order struct per source with values
    both = None
    for i, (df, _) in enumerate(sources):
        vals = [c for c in df.columns if c not in keys]
        cols += [c for c in vals if c not in cols]
        # (IS NULL, value) pairs sort each column ASC NULLS LAST; the
        # other sources' structs are null on this source's rows
        fields = ", ".join(
            f"'n{j}', {_bt(c)} IS NULL, 'v{j}', {_bt(c)}" for j, c in enumerate(vals)
        )
        extra = [f"named_struct({fields}) AS __merge_tie{i}"] if vals else []
        ties += [f"__merge_tie{i}"] if vals else []
        df = _drop_null_keys(df, keys).selectExpr("*", f"{i} AS {_ORD}", *extra)
        both = df if both is None else both.unionByName(df, allowMissingColumns=True)
    # output order: a lone batch schema (all sources alike, no existing)
    # keeps its own column order; otherwise keys lead
    alike = existing is None and len({(frozenset(d.columns), o) for d, o in batches}) == 1
    out = [_bt(c) for c in (batches[0][0].columns if alike else keys + cols)]
    if not cols:
        return both.selectExpr(*out).distinct()
    part = ", ".join(_bt(k) for k in keys)
    w = f"OVER (PARTITION BY {part} ORDER BY {', '.join([_ORD, *ties])})"
    heads = both.selectExpr(
        "*",
        f"NOT (lag({_ORD}) {w} <=> {_ORD}) AS __merge_head",
        f"first_value({_ORD}) {w} AS __merge_first",
    ).filter("__merge_head")

    def counts(c: str) -> str:  # does this row's source set c for its key?
        on = [(i, oco) for i, (df, oco) in enumerate(sources) if c in df.columns]
        sets = ", ".join(str(i) for i, oco in on if not oco) or "-1"
        creates = ", ".join(str(i) for i, oco in on if oco) or "-1"
        return f"{_ORD} IN ({sets}) OR ({_ORD} IN ({creates}) AND {_ORD} = __merge_first)"

    merged = heads.groupBy(*[F.col(_bt(k)) for k in keys]).agg(
        *[
            F.expr(f"max_by({_bt(c)}, CASE WHEN {counts(c)} THEN {_ORD} END) AS {_bt(c)}")
            for c in cols
        ]
    )
    return merged.selectExpr(*out)


def upsert_last_writer_wins(
    existing: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    *,
    updates_win: bool = True,
) -> DataFrame:
    """One-batch :func:`merge_batches`: ``updates_win=True`` is MERGE …
    SET, ``False`` is MERGE … ON CREATE SET."""
    return merge_batches(existing, [(updates, not updates_win)], keys)


def merge_nodes(
    existing: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    *,
    on_create_only: bool = False,
) -> DataFrame:
    """Node MERGE (M1-M3, SURVEY §2.4): one-batch :func:`merge_batches`."""
    return merge_batches(existing, [(updates, on_create_only)], keys)


# Relationship types the reference merges with the undirected pattern
# ``(a)-[:T]-(b)`` (refresh-vmware.cypher:41,76,173-174,248,251,257,259,276
# et al.). For these, (A)->(B) and (B)->(A) are the SAME edge.
EDGE_COLS = ["src_label", "src_key", "rel_type", "dst_label", "dst_key"]


def canonical_edges(edges: DataFrame, undirected_types: Sequence[str] = ()) -> DataFrame:
    """Canonicalize undirected-merged edges by sorted endpoint pair.

    For rel types in ``undirected_types``, swap endpoints when
    (dst_label, dst_key) < (src_label, src_key) so both assertions of the
    same undirected edge collapse under distinct. Directed types pass
    through untouched.
    """
    if not undirected_types:
        return edges
    # Native ordered struct comparison — field-wise, no string render
    # (a cast-to-string compare would collide on keys containing ', ').
    # ONE selectExpr: swap condition + the four CASEs as SQL strings
    # (see _drop_null_keys note on plan-construction cost).
    types = ", ".join("'" + t.replace("'", "''") + "'" for t in undirected_types)
    swap = (
        f"rel_type IN ({types}) AND "
        "struct(dst_label, dst_key) < struct(src_label, src_key)"
    )
    others = [
        c
        for c in edges.columns
        if c not in ("src_label", "src_key", "rel_type", "dst_label", "dst_key")
    ]
    return edges.selectExpr(
        f"CASE WHEN {swap} THEN dst_label ELSE src_label END AS src_label",
        f"CASE WHEN {swap} THEN dst_key ELSE src_key END AS src_key",
        "rel_type",
        f"CASE WHEN {swap} THEN src_label ELSE dst_label END AS dst_label",
        f"CASE WHEN {swap} THEN src_key ELSE dst_key END AS dst_key",
        *[_bt(c) for c in others],
    )


def merge_edges(
    existing: DataFrame | None,
    updates: DataFrame,
    *,
    undirected_types: Sequence[str] = (),
    prop_cols: Sequence[str] = (),
    spread: bool = False,
) -> DataFrame:
    """Relationship MERGE (M4): distinct edge per (endpoints, type).

    Edge properties (only ``HW_VERSION.upgradestatus`` in the reference,
    refresh-vmware.cypher:187,212) ride along; when the same edge is
    asserted twice with different props, last-writer-wins applies.

    ``spread=True`` (opt-in — the partition-count probe plans the
    updates lineage, so it must stay off the driver-planning-bound
    GraphStore path): when the updates scan yields fewer partitions
    than cores, repartition the CANONICALIZED edges on the endpoint
    keys before the dedup. hashpartitioning(src_key, dst_key) satisfies
    the distinct's clustering on the full 5-tuple, so the spread
    exchange IS the dedup exchange — one shuffle of the edge rows total
    instead of a generic rebalance plus the distinct's ENSURE exchange
    (2 Exchange → 1 in the plan; identical rows, exceptAll-checked both
    ways). Planning-only no-op at production scale.
    """
    # Null-filter BEFORE canonicalization: {canon_src_key, canon_dst_key}
    # is always a permutation of {src_key, dst_key}, so the conjunction
    # of IS NOT NULL over the pair is permutation-invariant — identical
    # rows survive. Ordered the other way, the pushed-down filter
    # re-evaluated the whole canonicalization CASE chain below the
    # exchange (the plan carried the swap expression twice per row).
    updates = _drop_null_keys(updates, ["src_key", "dst_key"])
    updates = canonical_edges(updates, undirected_types)
    if spread:
        target = updates.sparkSession.sparkContext.defaultParallelism
        if updates.rdd.getNumPartitions() < target:
            updates = updates.repartition(
                target, F.col("src_key"), F.col("dst_key")
            )
    if existing is not None:
        existing = canonical_edges(existing, undirected_types)
    if not prop_cols:
        cur = updates.select(*EDGE_COLS).distinct()
        if existing is None:
            return cur
        return existing.select(*EDGE_COLS).unionByName(cur).distinct()
    return upsert_last_writer_wins(existing, updates, EDGE_COLS)


PROPS_COL = "props"
_EMPTY_PROPS = "cast(map() as map<string,string>)"


def _norm_props(df: DataFrame, keep: Sequence[str] = ()) -> DataFrame:
    """Project to EDGE_COLS (+ ``keep``) + a normalized ``props`` map
    (never null)."""
    if PROPS_COL in df.columns:
        p = F.coalesce(F.col(PROPS_COL).cast("map<string,string>"), F.expr(_EMPTY_PROPS))
    else:
        p = F.expr(_EMPTY_PROPS)
    return df.select(*EDGE_COLS, *keep, p.alias(PROPS_COL))


ORDER_COL = "__batch_ord"


def merge_edges_with_props(
    existing: DataFrame | None,
    updates: DataFrame,
    *,
    undirected_types: Sequence[str] = (),
    order_col: str | None = None,
) -> DataFrame:
    """M4 with first-class edge properties as a ``props`` string map.

    The reference stores one edge property in the whole graph
    (``HW_VERSION.upgradestatus``, refresh-vmware.cypher:187,212); the
    generic map keeps the canonical edge schema fixed while any rel
    type can carry typed ride-alongs. Merge discipline: edge identity
    is the 5-tuple; per PROPERTY the LAST batch to assert a value wins
    (Cypher ``SET`` is last-writer-wins) — ``existing`` is ordered
    before all ``updates``, and within ``updates`` an optional
    ``order_col`` carries the batch sequence (GraphStore tags each
    ``add_edges`` call, see ``_union_edge_batches``). Within one batch,
    ties break on the greatest value so the result is deterministic —
    in the reference each edge prop is asserted by exactly one ingest
    statement, so that tie-break never fires on real workbooks.

    Scale shape: ``explode_outer`` emits zero extra rows for the
    (overwhelmingly common) empty-map edges, so the per-property dedup
    shuffle is proportional to prop-carrying assertions only; both
    groupBys hash on the edge 5-tuple — one logical repartition, AQE
    coalesces the second exchange. ``max_by`` over a (batch, value)
    struct is a single agg buffer, same cost as the plain ``max``.
    """
    if order_col:
        if order_col not in updates.columns:
            # a typo'd/dropped order column would silently demote
            # last-writer-wins to greatest-value-wins — fail loudly
            raise ValueError(
                f"order_col {order_col!r} not in updates columns "
                f"{updates.columns}"
            )
        updates = updates.withColumn(ORDER_COL, F.col(order_col).cast("long"))
    else:
        updates = updates.withColumn(ORDER_COL, F.lit(0).cast("long"))
    # Null-filter first — permutation-invariant over the endpoint pair
    # (see merge_edges); keeps the pushed-down filter off the
    # canonicalization CASE chain.
    updates = _drop_null_keys(updates, ["src_key", "dst_key"])
    updates = _norm_props(canonical_edges(updates, undirected_types), keep=(ORDER_COL,))
    if existing is not None:
        existing = _norm_props(canonical_edges(existing, undirected_types))
        updates = existing.withColumn(ORDER_COL, F.lit(-1).cast("long")).unionByName(
            updates
        )
    kv = updates.select(
        *EDGE_COLS, ORDER_COL, F.explode_outer(PROPS_COL).alias("pk", "pv")
    )
    kv = kv.groupBy(*EDGE_COLS, "pk").agg(
        F.max_by("pv", F.struct(F.col(ORDER_COL), F.col("pv"))).alias("pv")
    )
    entry = F.when(F.col("pk").isNotNull(), F.struct("pk", "pv"))
    return kv.groupBy(*EDGE_COLS).agg(
        F.map_from_entries(F.array_sort(F.collect_list(entry))).alias(PROPS_COL)
    )
