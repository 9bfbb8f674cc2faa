"""The benchmark's workloads: set-up, one timed iteration, output checks.

Every workload runs as a closed loop with one client: the benchmark
process issues the next iteration only after the previous one returned.
Engine layers are always called through their module attributes, so a
traced run sees every call (see ``tracer.py``).
"""

from __future__ import annotations

import hashlib
import importlib
import os
import shutil
import time
from dataclasses import dataclass

import duckdb
import pandas as pd

import gen
from tracer import disk_usage, parquet_rows

# Unit separator the store uses to join composite node keys.
US = "\x1f"

# Scale factor of the generated tables (TESTDATA.md ratios). Run time is
# set by Spark job count, plan construction and JVM warm-up, not by data
# size: a refresh iteration launches ~380 Spark jobs at any scale.
SF = 0.001

DUCKDB_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclass
class Context:
    spark: object
    tracer: object
    root: str  # checkout root
    work: str  # scratch directory of this run, removed at exit
    tables: str  # where a workload generates its TPC-H-shaped tables
    seed: int
    input_s: float = 0.0  # time spent generating inputs, not set-up


def import_registry(ctx: Context):
    """Import the query registry (timed as ``queries.import`` when traced)."""
    with ctx.tracer.span("queries.import", "queries"):
        import vmware_graph_spark.queries as registry
    return registry


def oracle_db(ctx: Context, tables: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(ctx.work, 'duckdb')}'")
    for t in DUCKDB_TABLES:
        path = os.path.join(tables, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalise(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, stringified, row-sorted frame: the same compare
    the repository's oracle self-check applies."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(
            lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v)
        )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    g, w = normalise(got), normalise(want)
    if list(g.columns) != list(w.columns):
        return f"{name}: columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"{name}: {len(g)} rows vs {len(w)} in the oracle"
    if not g.equals(w):
        return f"{name}: {int((g != w).any(axis=1).sum())}/{len(g)} rows differ"
    return None


def package_sha256(root: str) -> str:
    """Digest of the engine's sources in this checkout."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "vmware_graph_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


# Sheets of the refreshed workbook: every sheet the sweep's orphan set
# depends on (hosts, VMs, host and VM portgroups) and the sheets their
# stages read back. The vNIC, vDatastore, vDisk, vPartition and vSnapshot
# stages are left out to keep a run near one minute.
REFRESH_SHEETS = ("vCluster", "vRP", "vHost", "vInfo", "vSwitch", "vPort", "vNetwork")


def _cache_key(root: str) -> str:
    """Hash of everything snapshot A depends on: the engine's sources, the
    input generator, the scale and the sheet list."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"), "rb") as f:
        gen_src = f.read()
    h = hashlib.sha256(repr((package_sha256(root), SF, REFRESH_SHEETS)).encode() + gen_src)
    return h.hexdigest()[:16]


class Refresh:
    """The CLI ``refresh`` sequence (``__main__._refresh``) against a
    previous snapshot: read workbook A', refresh snapshot A, count the
    orphans, publish to a fresh directory, read the counts back.

    Workbook A and snapshot A do not depend on the seed. The first run in
    a checkout builds them with the checkout's own engine (the CLI's
    first build into an empty snapshot directory) under
    ``.perfbench_cache/``; later runs only read them. Each run derives
    its own A' from the seed and publishes to a fresh directory, so
    nothing a run reads is ever overwritten."""

    name = "refresh"

    def setup(self, ctx: Context) -> None:
        cache = os.path.join(ctx.root, ".perfbench_cache", f"refresh-{_cache_key(ctx.root)}")
        if not os.path.isdir(cache):
            self._build_cache(ctx, cache)
        self.tables = os.path.join(cache, "tables")
        self.snap_a = os.path.join(cache, "snapshot_A")
        self.wb_b = os.path.join(ctx.work, "workbook_A1")
        t = time.perf_counter()
        self.gone_hosts, self.gone_vms = gen.derive_refreshed_workbook(
            os.path.join(cache, "workbook_A"), self.wb_b, ctx.seed
        )
        ctx.input_s += time.perf_counter() - t
        vdir = os.path.join(self.snap_a, "vertices")
        self.rows_a = {label: parquet_rows(os.path.join(vdir, label)) for label in os.listdir(vdir)}
        self.snapshot_mb: list[float] = []

    def _build_cache(self, ctx: Context, cache: str) -> None:
        refresh_mod = importlib.import_module("vmware_graph_spark.ingest.refresh")
        from vmware_graph_spark.sources import workbook

        staging = f"{cache}.{os.getpid()}"
        tables = os.path.join(staging, "tables")
        gen.make_tables(tables, SF, gen.DEFAULT_SEED)
        wb_a = os.path.join(staging, "workbook_A")
        registry = import_registry(ctx)
        for sheet, df in registry._workbook(ctx.spark, tables).items():
            if sheet in REFRESH_SHEETS:
                df.write.parquet(os.path.join(wb_a, f"{sheet}.parquet"))
        res = refresh_mod.refresh(ctx.spark, workbook.read_workbook_dir(ctx.spark, wb_a))
        res.store.publish(os.path.join(staging, "snapshot_A"))
        try:
            os.rename(staging, cache)
        except OSError:  # another run finished the same cache first
            shutil.rmtree(staging)

    def iteration(self, ctx: Context, i: int) -> dict:
        refresh_mod = importlib.import_module("vmware_graph_spark.ingest.refresh")
        from vmware_graph_spark.sources import workbook
        from vmware_graph_spark.store.graph import GraphStore

        spark = ctx.spark
        out_dir = os.path.join(ctx.work, f"snapshot_run{i}")
        sheets = workbook.read_workbook_dir(spark, self.wb_b)
        prev = GraphStore.read(spark, self.snap_a)
        res = refresh_mod.refresh(spark, sheets, prev=prev if prev.labels() else None)
        with ctx.tracer.span("refresh.orphans", "refresh") as sp:
            n_orphans = res.orphans.count()
            sp["orphans"] = n_orphans
        res.store.publish(out_dir)
        counts = GraphStore.read(spark, out_dir).counts()
        return {"result": res, "orphans": n_orphans, "counts": counts, "dir": out_dir}

    def check(self, ctx: Context, out: dict) -> list[str]:
        """Host and VM orphans are exactly the dropped keys, node counts read
        back match, and at the default seed the whole orphan set equals the
        registry's DuckDB oracle. Removes the run's published snapshot."""
        errs = []
        orphans = {(r["label"], r["key"]) for r in out["result"].orphans.collect()}
        if len(orphans) != out["orphans"]:
            errs.append(f"orphan count {out['orphans']} but {len(orphans)} distinct orphans")
        for label, want in (("Vspherehost", self.gone_hosts), ("Virtualmachine", self.gone_vms)):
            got = {k.split(US)[0] for lab, k in orphans if lab == label}
            if got != want:
                errs.append(f"{label} orphans: {len(got ^ want)} keys differ from the dropped set")
            n = out["counts"].get(f"v:{label}")
            if n != self.rows_a[label] - len(want):
                errs.append(f"{label}: {n} nodes read back, expected {self.rows_a[label] - len(want)}")
        if ctx.seed == gen.DEFAULT_SEED:
            from vmware_graph_spark.queries import ORACLE

            con = oracle_db(ctx, self.tables)
            want = {tuple(r) for r in con.execute(ORACLE["ingest_refresh_sweep"]).fetchall()}
            if orphans != want:
                errs.append(f"orphan set differs from the oracle in {len(orphans ^ want)} rows")
        self.snapshot_mb.append(disk_usage(out["dir"])[0] / 1024 / 1024)
        shutil.rmtree(out["dir"])
        return errs

    def extra_metrics(self) -> dict:
        s = sorted(self.snapshot_mb)
        return {"snapshot_mb": {"value": s[len(s) // 2], "unit": "MB"}} if s else {}


class HeadlineQueries:
    """One pass over the pinned ``bench.HEADLINE`` queries on tables
    generated from the seed, each followed by ``release_pins()`` as
    ``bench.py`` does. Each query is forced by collecting its rows, which
    the check then compares with the query's DuckDB oracle twin."""

    name = "headline_queries"

    def setup(self, ctx: Context) -> None:
        from bench import HEADLINE

        t = time.perf_counter()
        gen.make_tables(ctx.tables, SF, ctx.seed)
        ctx.input_s += time.perf_counter() - t
        self.registry = import_registry(ctx)
        self.names = list(HEADLINE)
        self.want: dict[str, pd.DataFrame] = {}

    def iteration(self, ctx: Context, i: int) -> dict[str, pd.DataFrame]:
        from vmware_graph_spark.operators import pin

        outputs = {}
        for name in self.names:
            with ctx.tracer.span("queries.build", "queries", query=name):
                df = self.registry.QUERIES[name](ctx.spark, ctx.tables)
            with ctx.tracer.span("queries.exec", "queries", query=name):
                outputs[name] = df.toPandas()
            pin.release_pins()
        return outputs

    def check(self, ctx: Context, out: dict[str, pd.DataFrame]) -> list[str]:
        """Each query's rows equal its DuckDB oracle twin's."""
        if not self.want:
            con = oracle_db(ctx, ctx.tables)
            self.want = {n: con.execute(self.registry.ORACLE[n]).fetchdf() for n in self.names}
        return [e for n in self.names if (e := compare(n, out[n], self.want[n]))]

    def extra_metrics(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Refresh, HeadlineQueries)}
