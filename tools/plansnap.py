"""Dump .explain("formatted") for registry queries to plans/<tag>/.

Usage: python tools/plansnap.py <tag> [suffix] [query ...]

Writes plans/<tag>/<query>_<suffix>.txt (suffix defaults to "before").
With no query names, snapshots the bench HEADLINE set. The snapshot is
the round's evidence trail: an optimization claim ("2 Exchange -> 1",
"SortMergeJoin -> BroadcastHashJoin") must be checkable by diffing the
_before/_after files.

An iterative query's final plan is a bare ``Scan ExistingRDD``: its
rounds ran while the query was built. So the tool also writes
plans/<tag>/<query>_<suffix>_cuts.txt, every plan handed to a lineage
cut (``DataFrame.localCheckpoint``) during the build, in call order.
Expression ids (``#<n>``), RDD ids, exchange plan ids and temporary
directory names are normalised in both files, so two checkouts'
snapshots diff cleanly.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_IDS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\]\s,]+"), "<tmpdir>"),
)


def _explain(df) -> str:
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    for pat, rep in _IDS:
        plan = pat.sub(rep, plan)
    return plan


def _record_cuts(cuts: list[str]):
    """Wrap ``DataFrame.localCheckpoint`` so each call appends its
    input plan to ``cuts``; returns the undo function."""
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.localCheckpoint

    def recording(df, eager=True, storageLevel=None):
        cuts.append(f"== cut {len(cuts) + 1} (eager={eager}) ==\n{_explain(df)}")
        return orig(df, eager, storageLevel)

    DataFrame.localCheckpoint = recording
    return lambda: setattr(DataFrame, "localCheckpoint", orig)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    from bench import HEADLINE
    from vmware_graph_spark.queries import QUERIES
    from vmware_graph_spark.session import get_spark

    names = sys.argv[3:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plansnap")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        cuts: list[str] = []
        undo = _record_cuts(cuts)
        try:
            df = QUERIES[name](spark, sf_dir)
        finally:
            undo()
        plan = _explain(df)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        with open(os.path.join(out_dir, f"{name}_{suffix}_cuts.txt"), "w") as f:
            f.write("\n".join(cuts))
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs, {len(cuts)} cuts)")


if __name__ == "__main__":
    main()
