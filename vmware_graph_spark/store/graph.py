"""Property-graph store: vertex-table-per-label + one canonical edge table.

Replaces the reference's Neo4j storage + DDL (refresh-vmware.cypher:2-20):
there are no indexes in Spark — every MERGE key lookup becomes an
equi-join, and the unique constraints become the merge discipline (one
row per natural key, enforced by ``operators.merge``).

Design for 100 TB:
- vertex tables are columnar parquet, one directory per label; the big
  labels (Virtualmachine, Virtualdisk) dominate and get hash layout on
  their key via bucketed writes; dimension labels are tiny and always
  broadcast into joins.
- the edge table is ONE DataFrame ``(src_label, src_key, rel_type,
  dst_label, dst_key)`` partitioned by rel_type on disk, so motif/hop
  queries prune to the relationship types they touch.
- node identity in the edge table is the label + a single string key:
  ``concat_ws(US, natural key cols)`` (US = unit separator, cannot occur
  in RVTools cell values), keeping the edge schema fixed while labels
  keep composite natural keys.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vmware_graph_spark.operators.merge import (
    EDGE_COLS,
    PROPS_COL,
    merge_batches,
    merge_edges,
    merge_edges_with_props,
)
from vmware_graph_spark.operators.pin import cut

# Unit separator joins composite natural keys into the edge-table key.
US = "\x1f"

EDGE_SCHEMA = (
    "src_label string, src_key string, rel_type string, "
    "dst_label string, dst_key string"
)
EDGE_SCHEMA_PROPS = EDGE_SCHEMA + ", props map<string,string>"

# Natural key per label (SURVEY §1.3; MERGE patterns in
# refresh-vmware.cypher cited per stage in ingest/stages.py).
LABEL_KEYS: dict[str, tuple[str, ...]] = {
    # core entities
    "Vcenterserver": ("uid",),
    "Vcentercluster": ("name", "managedby"),
    "Vspheredatacenter": ("name", "managedby"),
    "Vresourcepool": ("vc", "path"),  # documented divergence, see stages.py
    "Vspherehost": ("objid", "managedby"),
    "Vswitch": ("name", "host"),
    "Vportgroup": ("name", "managedby"),
    "Vhostportgroup": ("name", "host", "managedby"),
    "Vmnic": ("name", "host"),
    "Virtualmachine": ("uuid", "managedby"),
    "Vfolder": ("path",),
    "Vdatastore": ("url",),
    "Virtualdisk": ("path",),
    "Vmadapter": ("mac", "vmuuid"),
    "Vpartition": ("disk", "vmuuid"),
    "Vsnapshot": ("name", "vmuuid"),
    # dimension labels (dedup-by-MERGE, global, broadcast-sized)
    "Vcenterversion": ("name",),
    "Vcenterbuild": ("build",),
    "Vconfigstatus": ("name",),
    "Vspherecpupwrmgpol": ("name",),
    "Vspherehostpwrmgpol": ("name",),
    "Cpumodel": ("name",),
    "Vsphereesxversion": ("name",),
    "Vsphereesxbuild": ("build",),
    "Crmmanufacturer": ("name",),
    "Crmmodel": ("name",),
    "Biosversion": ("version", "date"),
    "Ntpserver": ("kind", "address"),  # ip/fqdn key split, cypher:111,120
    "Dnsserver": ("kind", "address"),
    "Vlbpolicy": ("name",),
    "Vmnicdriver": ("name",),
    "Vmnicspeed": ("name",),
    "Vcpus": ("name",),
    "Vhwver": ("name",),
    "Vconnectionstate": ("name",),
    "Vmpwrstate": ("name",),
    "Vmpgueststate": ("name",),
    "Vmheartbeat": ("name",),
    "Vmos": ("name",),
    "Vdatastoretype": ("name",),
    "Vmadaptertype": ("name",),
    "Vmportgroup": ("name", "managedby"),
    # externally seeded (MATCH-only in the reference, SURVEY §0.2.7)
    "Clientdomain": ("name",),
    "Company": ("name",),
    "Jumboframes": ("name",),
}

# Relationship types the reference merges with the undirected pattern
# (a)-[:T]-(b): both assertion directions are the same edge.
UNDIRECTED_TYPES: tuple[str, ...] = (
    "CONTROLLED_BY_VC",  # :41,:76 (also asserted directed at :62 — canonicalized)
    "LINK_SPEED",  # :173
    "PNIC_OF_HOST",  # :174
    "OS_VIA_TOOLS",  # :202
    "OS_VIA_CONFIG",  # :203
    "VDISK_FOR_VM",  # :248
    "ON_DATASTORE",  # :251
    "ADAPTER_FOR",  # :257
    "ADAPTER_TYPE",  # :259
    "PARTITION_FOR",  # :269
    "SNAPSHOT_OF",  # :276
)


def node_key(*cols) -> F.Column:
    """Composite natural key → single edge-table key string.

    NULL if ANY component is null (concat_ws would silently skip nulls
    and fabricate a phantom key; Cypher MERGE on a null key property
    fails the row instead — the null key propagates to the edge rows,
    which operators.merge then drops). ``concat`` (unlike concat_ws)
    already returns NULL when any argument is NULL, so interleaving the
    separator gives the exact semantics in one expression — ~3× fewer
    py4j roundtrips than the former isNull-chain + CASE (this helper is
    the hottest plan-construction site in a full ingest; round-6
    VERDICT #6)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    parts: list[F.Column] = []
    for i, c in enumerate(cs):
        if i:
            parts.append(F.lit(US))
        parts.append(c.cast("string"))
    return F.concat(*parts)


class GraphStore:
    """In-memory (DataFrame) snapshot of the property graph.

    Ingest stages call ``upsert_nodes``/``add_edges``; the store keeps
    one DataFrame per label plus a list of edge batches that
    ``edges()`` merges/canonicalizes on demand. Upserts queue per label
    and merge at the label's first read-back; each merged table is a
    lineage cut (see ``checkpoint``).
    """

    def __init__(self, spark: SparkSession, *, checkpoint: bool = True):
        """``checkpoint=True`` cuts the lineage (``pin.cut``) of
        each merged label table and edge table. Without the cuts the
        plan for a label after stage N embeds every prior stage, and
        the cut tables are shared subtrees of later stages' plans. Under
        AQE a cut runs its upstream shuffle stages when it is taken, so
        ``checkpoint=False`` moves that work to write time but repeats
        it per consumer: on a 7-sheet refresh (4 shared cores) it cut
        refresh build jobs from 118 to 2 but raised publish jobs from
        100 to 357 and executor time from 47.6 to 100.6 s, and wall time
        did not improve. Isolated one- or two-stage runs (the registry's
        ``ingest_*_stage`` queries) have few shared subtrees and run
        fastest uncut: cutting them added 0-2.4 s per query."""
        self.spark = spark
        self._vertices: dict[str, DataFrame] = {}
        # label → [(updates, on_create_only)] not yet merged: the whole
        # queue merges in one pass (merge_batches) and is cut ONCE at
        # the label's first read-back (vertices/write/counts), not per
        # upsert. A full refresh issues ~247 upserts but only ~45 label
        # read-backs.
        self._pending: dict[str, list[tuple[DataFrame, bool]]] = {}
        self._edge_batches: list[DataFrame] = []
        self._edges_cache: DataFrame | None = None
        self._edges_props_cache: DataFrame | None = None
        self._checkpoint = checkpoint
        # Lazy cuts handed to CALLERS (edge_pairs) get embedded in
        # multiple downstream plans — several label chains plus the
        # edge union. write()'s concurrent fan-out materializes those
        # plans from 8 threads at once, and a still-unmaterialized
        # shared cut would be computed racily/redundantly by whichever
        # threads hit it first (round-8 ADVICE #3). Tracked here so
        # write() can materialize each one ONCE, serially, pre-fan-out.
        self._shared_cuts: list[DataFrame] = []

    def _cut(self, df: DataFrame) -> DataFrame:
        return cut(df, eager=False) if self._checkpoint else df

    # -- vertices ----------------------------------------------------------

    def upsert_nodes(
        self, label: str, updates: DataFrame, *, on_create_only: bool = False
    ) -> None:
        """MERGE ``updates`` into the label table (M1-M3 semantics).

        The update is queued; the label's queue merges in order at its
        first read-back (``vertices``, ``write``, ``counts``…)."""
        self._pending.setdefault(label, []).append((updates, on_create_only))

    def _flush(self, label: str) -> None:
        pend = self._pending.pop(label, None)
        if pend:
            merged = merge_batches(self._vertices.get(label), pend, LABEL_KEYS[label])
            self._vertices[label] = self._cut(merged)

    def vertices(self, label: str) -> DataFrame | None:
        self._flush(label)
        return self._vertices.get(label)

    def labels(self) -> list[str]:
        return sorted(set(self._vertices) | set(self._pending))

    def vertex_keys(self, label: str) -> DataFrame:
        """(label, key) pairs for a label — the edge-table id space."""
        self._flush(label)
        keys = LABEL_KEYS[label]
        return self._vertices[label].select(
            F.lit(label).alias("label"), node_key(*keys).alias("key")
        )

    def all_vertex_keys(self) -> DataFrame:
        out = None
        for label in self.labels():
            part = self.vertex_keys(label)
            out = part if out is None else out.unionByName(part)
        return out

    # -- edges -------------------------------------------------------------

    def add_edges(self, edges: DataFrame) -> None:
        """Queue an edge batch (src_label, src_key, rel_type, dst_label,
        dst_key [, props | ride-along prop columns]). Null-keyed
        endpoints are dropped (Cypher MERGE on a null property fails
        the row). Any column beyond the 5-tuple that isn't already a
        ``props`` map is packed into one (null values dropped) — the
        M4 edge-property path (refresh-vmware.cypher:187,212)."""
        cols = edges.columns
        if PROPS_COL in cols:
            props = f"cast({PROPS_COL} AS map<string,string>)"
        else:
            extra = [c for c in cols if c not in EDGE_COLS]
            if extra:
                from vmware_graph_spark.operators.merge import _bt

                pairs = ", ".join(
                    "'" + c.replace("'", "''") + f"', cast({_bt(c)} AS string)"
                    for c in extra
                )
                props = f"map_filter(map({pairs}), (k, v) -> v IS NOT NULL)"
            else:
                props = "cast(map() as map<string,string>)"
        self._edge_batches.append(
            edges.selectExpr(*EDGE_COLS, f"{props} AS {PROPS_COL}")
        )
        self._edges_cache = None
        self._edges_props_cache = None

    def _union_edge_batches(self) -> DataFrame | None:
        """Union of all ``add_edges`` batches, each tagged with its
        append index as ``__batch_ord`` so per-property merges honor
        last-writer-wins (Cypher SET semantics) across batches."""
        if not self._edge_batches:
            return None
        tagged = [
            b.withColumn("__batch_ord", F.lit(i).cast("long"))
            for i, b in enumerate(self._edge_batches)
        ]
        batch = tagged[0]
        for b in tagged[1:]:
            batch = batch.unionByName(b)
        return batch

    def edges(self) -> DataFrame:
        """The canonical, deduplicated edge table (5-tuple identity)."""
        if self._edges_cache is not None:
            return self._edges_cache
        batch = self._union_edge_batches()
        if batch is None:
            self._edges_cache = self.spark.createDataFrame([], EDGE_SCHEMA)
            return self._edges_cache
        self._edges_cache = self._cut(
            merge_edges(None, batch.select(*EDGE_COLS), undirected_types=UNDIRECTED_TYPES)
        )
        return self._edges_cache

    def edge_pairs(self, a_label: str, b_label: str) -> DataFrame:
        """Distinct (a_key, b_key) pairs connected by ANY edge between
        the two labels, in EITHER direction — the J3 edge-hop MATCH
        ``(x:A)--(y:B)`` shape (refresh-vmware.cypher:143,156,168,250).

        Reads the RAW batch union with a label-pair filter + distinct
        instead of the canonical :meth:`edges` merge: the hop's own
        symmetrize+distinct collapses exactly the duplicates (and
        undirected canonicalization differences) the global merge
        would, so the pair set is identical — while skipping a
        full-edge-table dedup per calling stage. Four ingest stages
        (vSwitch/vPort/vNIC/vDisk) each re-ran that dedup before this
        existed because every ``add_edges`` invalidates the edges()
        cache. Null-keyed endpoints pass through; they join nothing
        downstream, exactly as the merged path dropped them."""
        batch = self._union_edge_batches()
        if batch is None:
            return self.spark.createDataFrame([], "a_key string, b_key string")
        fwd = batch.filter(
            (F.col("src_label") == a_label) & (F.col("dst_label") == b_label)
        ).select(F.col("src_key").alias("a_key"), F.col("dst_key").alias("b_key"))
        rev = batch.filter(
            (F.col("src_label") == b_label) & (F.col("dst_label") == a_label)
        ).select(F.col("dst_key").alias("a_key"), F.col("src_key").alias("b_key"))
        # CUT before returning: the caller's edge batch EMBEDS this
        # plan, and without a cut every later edges()/edge_pairs call
        # would re-execute the whole batch union nested inside it —
        # measured 3× slower on the vDisk stage than the canonical
        # edges() path this method replaces.
        out = self._cut(fwd.unionByName(rev).distinct())
        if self._checkpoint:  # plain plans need no pre-materialization
            self._shared_cuts.append(out)
        return out

    def edges_with_props(self) -> DataFrame:
        """The canonical edge table WITH its ``props`` string map —
        same rows as ``edges()`` plus per-edge properties merged
        per-key across batches (operators.merge.merge_edges_with_props).
        This is the surface the snapshot writer persists."""
        if getattr(self, "_edges_props_cache", None) is not None:
            return self._edges_props_cache
        batch = self._union_edge_batches()
        if batch is None:
            self._edges_props_cache = self.spark.createDataFrame([], EDGE_SCHEMA_PROPS)
            return self._edges_props_cache
        self._edges_props_cache = self._cut(
            merge_edges_with_props(
                None,
                batch,
                undirected_types=UNDIRECTED_TYPES,
                order_col="__batch_ord",
            )
        )
        return self._edges_props_cache

    # -- GraphFrames-style analytics views ---------------------------------

    def analytics_views(self) -> tuple[DataFrame, DataFrame]:
        """(vertices(id,label,key), edges(src,dst,rel_type)) with a
        stable surrogate id = label + US + key — directly consumable by
        analytics.algos (degrees/CC/PageRank) and motif joins."""
        v = self.all_vertex_keys().select(
            F.concat_ws(US, "label", "key").alias("id"), "label", "key"
        )
        e = self.edges().select(
            F.concat_ws(US, "src_label", "src_key").alias("src"),
            F.concat_ws(US, "dst_label", "dst_key").alias("dst"),
            "rel_type",
        )
        return v, e

    # -- snapshot persistence (S4) -----------------------------------------

    def write(
        self,
        path: str,
        *,
        partition_vertices_by: Sequence[str] = (),
        cluster_by_key: bool = False,
    ) -> None:
        """Snapshot writer: one parquet dir per label + edges partitioned
        by rel_type (partition pruning for per-type hop queries).

        ``partition_vertices_by`` (typically ``("managedby",)``) adds
        hive-style partitioning to every label that carries those
        columns — the tenancy layout for scale: a per-vCenter refresh
        or sweep then scans ONLY that tenant's directories (partition
        pruning, asserted in tests/test_plans.py), instead of filtering
        a full-corpus scan. Labels without the columns (global
        dimension labels) write unpartitioned as before.

        ``cluster_by_key`` additionally repartitions each label on its
        natural key and sorts within partitions, so every parquet file
        covers a tight, non-overlapping key range and its row-group
        min/max statistics turn key lookups into file/row-group skips —
        the sorted-layout half of what the reference's 17 ``CREATE
        INDEX`` statements bought (refresh-vmware.cypher:2-20); the
        hash half is ``sources/bucketed.py``. Pay the sort once at
        publish, skip on every read after.
        """
        # flush serially (mutates shared state), then submit the ~42
        # per-label write JOBS concurrently: each is tiny, so serial
        # submission is pure scheduler latency — concurrent submission
        # is the standard Spark pattern (jobs from multiple threads
        # share the scheduler; FAIR/FIFO both fine for write-only jobs
        # with disjoint outputs). Measured at sf0.01: publish 17 s → ~6 s.
        from concurrent.futures import ThreadPoolExecutor, as_completed

        jobs = []
        for label in self.labels():
            self._flush(label)
            df = self._vertices[label]
            if cluster_by_key:
                keys = [k for k in LABEL_KEYS[label] if k in df.columns]
                if keys:
                    df = df.repartition(*keys).sortWithinPartitions(*keys)
            cols = [c for c in partition_vertices_by if c in df.columns]
            jobs.append((label, df, cols))
        edges = self.edges_with_props()

        # Materialize cuts that MULTIPLE fan-out plans embed (the
        # edge_pairs hop outputs) once, serially, before the threads
        # start — first-touch from 8 threads at once would compute the
        # same shared subtree racily/redundantly (round-8 ADVICE #3).
        # These frames are small (distinct key pairs), so the count is
        # cheap; after it, every thread reads the checkpoint blocks.
        for shared in self._shared_cuts:
            shared.count()
        self._shared_cuts.clear()

        def _write_label(job):
            label, df, cols = job
            w = df.write.mode("overwrite")
            if cols:
                w = w.partitionBy(*cols)
            w.parquet(os.path.join(path, "vertices", label))

        def _write_edges():
            edges.write.mode("overwrite").partitionBy("rel_type").parquet(
                os.path.join(path, "edges")
            )

        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [pool.submit(_write_label, j) for j in jobs]
            futs.append(pool.submit(_write_edges))
            try:
                # as_completed + cancel-on-first-failure: a failing
                # publish aborts the still-queued writes instead of
                # burning the full fan-out cost before surfacing the
                # error (round-8 ADVICE #3). Already-running jobs
                # finish (Spark jobs aren't interruptible from here);
                # queued ones never start.
                for f in as_completed(futs):
                    f.result()
            except BaseException:
                for f in futs:
                    f.cancel()
                raise

    def publish(self, path: str) -> None:
        """Write the snapshot to a staging dir, then swap it into place.

        Required when this graph's lineage still reads the *previous*
        snapshot at ``path`` (the rebuild-refresh case, refresh-vmware
        .cypher:26-31): ``write(path)`` would delete the input parquet
        files mid-scan. On a cluster the same pattern is a new snapshot
        prefix plus a pointer flip — never overwrite-in-place.
        """
        staging = path.rstrip("/") + ".staging"
        backup = path.rstrip("/") + ".old"
        for d in (staging, backup):
            if os.path.isdir(d):
                shutil.rmtree(d)
        self.write(staging)
        if os.path.isdir(path):
            os.rename(path, backup)
        os.rename(staging, path)
        if os.path.isdir(backup):
            shutil.rmtree(backup)

    @classmethod
    def read(cls, spark: SparkSession, path: str) -> "GraphStore":
        store = cls(spark)
        vdir = os.path.join(path, "vertices")
        if os.path.isdir(vdir):
            for label in sorted(os.listdir(vdir)):
                store._vertices[label] = spark.read.parquet(os.path.join(vdir, label))
        edir = os.path.join(path, "edges")
        if os.path.isdir(edir):
            # Explicit schema: a snapshot written from an edge-less graph
            # has no parquet data files to infer from. Pre-props
            # snapshots simply yield an all-null props column, which
            # add_edges normalizes to empty maps.
            store.add_edges(spark.read.schema(EDGE_SCHEMA_PROPS).parquet(edir))
        return store

    # -- versioned snapshots (time travel) ---------------------------------

    @staticmethod
    def versions(base: str) -> list[int]:
        """Published snapshot versions under ``base``, ascending."""
        if not os.path.isdir(base):
            return []
        out = []
        for d in os.listdir(base):
            if d.startswith("v=") and d[2:].isdigit():
                out.append(int(d[2:]))
        return sorted(out)

    def publish_version(self, base: str) -> int:
        """Append-only versioned publish: write the snapshot to
        ``base/v=N`` (N = latest + 1) via a staging rename, then flip
        the ``_LATEST`` pointer file atomically (write-temp + rename).
        Old versions stay readable — time travel — until ``vacuum``.
        On a cluster the same protocol is a new object-store prefix
        plus a pointer object swap; readers resolve the pointer first,
        so a crashed publish leaves at worst an unreferenced prefix,
        never a torn snapshot."""
        os.makedirs(base, exist_ok=True)
        n = (self.versions(base) or [0])[-1] + 1
        vdir = os.path.join(base, f"v={n}")
        staging = vdir + ".staging"
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        self.write(staging)
        os.rename(staging, vdir)
        ptr_tmp = os.path.join(base, "_LATEST.tmp")
        with open(ptr_tmp, "w") as f:
            f.write(str(n))
        os.rename(ptr_tmp, os.path.join(base, "_LATEST"))
        return n

    @classmethod
    def read_version(
        cls, spark: SparkSession, base: str, version: int | None = None
    ) -> "GraphStore":
        """Read a published version; ``None`` resolves the ``_LATEST``
        pointer (falling back to the highest directory if the pointer
        is missing). Raises if the version doesn't exist."""
        if version is None:
            ptr = os.path.join(base, "_LATEST")
            if os.path.isfile(ptr):
                version = int(open(ptr).read().strip())
            else:
                vs = cls.versions(base)
                if not vs:
                    raise FileNotFoundError(f"no published versions under {base}")
                version = vs[-1]
        vdir = os.path.join(base, f"v={version}")
        if not os.path.isdir(vdir):
            raise FileNotFoundError(f"snapshot version {version} not found in {base}")
        return cls.read(spark, vdir)

    @staticmethod
    def vacuum(base: str, *, keep: int = 2) -> list[int]:
        """Drop all but the newest ``keep`` versions (never the one the
        ``_LATEST`` pointer names). Returns the removed version ids."""
        if keep < 1:
            raise ValueError("vacuum: keep must be >= 1")
        vs = GraphStore.versions(base)
        ptr = os.path.join(base, "_LATEST")
        latest = int(open(ptr).read().strip()) if os.path.isfile(ptr) else None
        removed = []
        for v in vs[:-keep] if keep < len(vs) else []:
            if v == latest:
                continue
            shutil.rmtree(os.path.join(base, f"v={v}"))
            removed.append(v)
        return removed

    # -- counts (S5 progress sink) -----------------------------------------

    def counts(self) -> dict[str, int]:
        """Per-label node counts + edge count (the reference's RETURN
        count(…) progress lines, cypher:54,224) in ONE Spark job: each
        table contributes a 1-row aggregate and the union collects
        once — label subtrees execute in parallel instead of serially
        (round-2 VERDICT minor: one-job-per-label)."""
        parts = [
            self.vertices(label)
            .agg(F.count("*").alias("n"))
            .select(F.lit(f"v:{label}").alias("metric"), "n")
            for label in self.labels()
        ]
        parts.append(
            self.edges().agg(F.count("*").alias("n")).select(
                F.lit("edges").alias("metric"), "n"
            )
        )
        allc = parts[0]
        for p in parts[1:]:
            allc = allc.unionByName(p)
        return {r["metric"]: r["n"] for r in allc.collect()}
