"""Refresh orchestration: the mark-and-sweep protocol, Spark-native.

The reference (refresh-vmware.cypher:26-31,527-530) marks every node of
the refreshed vCenter ``unverified``, deletes their relationships,
re-asserts from the new export, and DETACH-DELETEs what stayed marked.
Equivalent dataflow without mutable flags (SURVEY §2.9):

1. build the CURRENT snapshot purely from this run's sheets;
2. tenants := distinct ``VI SDK UUID`` in the input;
3. per label: orphans = tenant-scoped anti-join(prev, curr) on the
   natural key; survivors = per-column merge(prev, curr) minus orphans
   (re-asserted nodes keep properties the new run didn't set — exactly
   Cypher MERGE…SET on a pre-existing node);
4. edges: ALL prev edges incident to a marked (tenant-owned) node are
   dropped — the reference deletes every relationship of marked nodes,
   not just orphans' (cypher:30-31) — then current edges are merged in.

Labels without a ``managedby`` column (dimension nodes, Vfolder,
Virtualdisk, Vmadapter, Vpartition, Vsnapshot) are never swept, exactly
as the reference's ``n.managedby=vc.uid`` mark can't see them; their
stale rows persist node-only (edge-less) — same observable behavior.

Everything is anti-joins/upserts hash-partitioned on natural keys —
embarrassingly parallel, no driver iteration, 100 TB-safe.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vmware_graph_spark.ingest.stages import STAGE_SHEETS, STAGES, UID
from vmware_graph_spark.operators.merge import merge_nodes
from vmware_graph_spark.operators.snapshot import snapshot_diff, sweep_edges
from vmware_graph_spark.store.graph import LABEL_KEYS, GraphStore, node_key

SEED_LABELS = {"clientdomain": "Clientdomain", "company": "Company", "jumboframes": "Jumboframes"}


def load_seeds(store: GraphStore, seeds: Mapping[str, DataFrame]) -> None:
    """Pre-seed the MATCH-only labels (SURVEY §0.2.7): Clientdomain,
    Company, Jumboframes and the Clientdomain—Company edges."""
    for table, label in SEED_LABELS.items():
        if table in seeds:
            store.upsert_nodes(label, seeds[table].select(F.col("name")))
    if "seed_edges" in seeds:
        store.add_edges(seeds["seed_edges"])


def run_ingest(
    spark: SparkSession,
    sheets: Mapping[str, DataFrame],
    seeds: Mapping[str, DataFrame] | None = None,
) -> GraphStore:
    """One full snapshot build: seeds, then the 15 per-sheet stages in
    reference statement order. Stages whose sheet the workbook doesn't
    carry are skipped — the reference's per-sheet apoc.load.xls
    statements likewise just load nothing for an absent sheet."""
    store = GraphStore(spark)
    if seeds:
        load_seeds(store, seeds)
    for stage in STAGES:
        if STAGE_SHEETS[stage] in sheets:
            stage(store, sheets)
    return store


@dataclass(frozen=True)
class RefreshResult:
    """Refresh outcome: the post-sweep store plus the orphan id set."""

    store: GraphStore
    orphans: DataFrame  # (label, key) removed by the sweep


def _empty_ids(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "label string, key string")


def refresh(
    spark: SparkSession,
    sheets: Mapping[str, DataFrame],
    seeds: Mapping[str, DataFrame] | None = None,
    prev: GraphStore | None = None,
) -> RefreshResult:
    curr = run_ingest(spark, sheets, seeds)
    if prev is None:
        return RefreshResult(curr, _empty_ids(spark))

    # tenant scope: the vCluster sheet names the vCenters being
    # refreshed (cypher:26-28); tiny driver-side list by construction.
    tenants = [r[0] for r in sheets["vCluster"].select(UID).distinct().collect()]

    final = GraphStore(spark)
    orphan_parts: list[DataFrame] = []
    marked_parts: list[DataFrame] = []

    for label in sorted(set(prev.labels()) | set(curr.labels())):
        keys = LABEL_KEYS[label]
        p, c = prev.vertices(label), curr.vertices(label)
        if p is None:
            final._vertices[label] = c
            continue
        swept = "managedby" in p.columns
        if swept:
            marked = p.filter(F.col("managedby").isin(tenants))
            marked_parts.append(
                marked.select(F.lit(label).alias("label"), node_key(*keys).alias("key"))
            )
            if c is None:
                orphans_l = marked
            else:
                orphans_l = snapshot_diff(
                    marked, c, keys, tenant_col="managedby", tenants=tenants
                )
            orphan_parts.append(
                orphans_l.select(F.lit(label).alias("label"), node_key(*keys).alias("key"))
            )
            merged = merge_nodes(p, c, keys) if c is not None else p
            final._vertices[label] = merged.join(
                orphans_l.select(*keys).distinct(), list(keys), "left_anti"
            )
        else:
            final._vertices[label] = merge_nodes(p, c, keys) if c is not None else p

    orphans = _empty_ids(spark)
    for part in orphan_parts:
        orphans = orphans.unionByName(part)
    marked = _empty_ids(spark)
    for part in marked_parts:
        marked = marked.unionByName(part)

    # edge refresh: drop every prev edge incident to a marked node
    # (cypher:30-31), then queue this run's raw edge batches after it, so
    # the final store merges the edges once, at write time. Props ride
    # along (sweep_edges anti-joins preserve every edge column).
    final.add_edges(sweep_edges(prev.edges_with_props(), marked))
    final._edge_batches += curr._edge_batches
    return RefreshResult(final, orphans)
