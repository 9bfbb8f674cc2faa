"""Registry integrity: fast structural checks on the driver contract
(no SparkSession needed — these run in milliseconds and catch contract
drift before the oracle gate does)."""

from __future__ import annotations

import re

from vmware_graph_spark.queries import ORACLE, QUERIES


def test_every_oracle_key_has_a_query():
    assert set(ORACLE) <= set(QUERIES), set(ORACLE) - set(QUERIES)


def test_rows_only_queries_are_the_documented_four():
    # Anything without an oracle must be one of the engine-specific-by-
    # design set (each of which is machine-checked against an exact
    # reference by a tools/selfcheck.py BOUND instead). Growing this
    # set silently would erode the correctness gate.
    rows_only = set(QUERIES) - set(ORACLE)
    assert rows_only == {
        "approx_distinct_users_per_type",
        "approx_percentile_value",
        "pagerank_customer_nation",
        "knn_label_noise_audit_nn_descent",
    }, rows_only


def test_rows_only_queries_all_have_selfcheck_bounds():
    """Every oracle-less query must carry a machine-checked BOUND in
    tools/selfcheck.py — 'rows-only' must never mean 'unchecked'."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "selfcheck",
        os.path.join(os.path.dirname(__file__), "..", "tools", "selfcheck.py"),
    )
    sc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sc)
    assert set(QUERIES) - set(ORACLE) <= set(sc.BOUNDS)


def test_query_names_are_snake_case_and_documented():
    for name, fn in QUERIES.items():
        assert re.fullmatch(r"[a-z][a-z0-9_]+", name), name
        assert fn.__doc__ and len(fn.__doc__.strip()) > 20, name


def test_oracle_sql_is_nonempty_ansi():
    for name, sql in ORACLE.items():
        assert sql.strip().upper().startswith(("SELECT", "WITH")), name
        assert "spark" not in sql.lower(), name  # pure ANSI/DuckDB side


def test_cli_rejects_bad_args(capsys):
    """__main__.main is the advertised entry point; malformed argv must
    exit 2 with usage on stderr, not start a SparkSession."""
    from vmware_graph_spark.__main__ import main

    assert main([]) == 2
    assert main(["refresh", "only-one-arg"]) == 2
    assert main(["not-a-command", "a", "b"]) == 2
    assert "refresh WORKBOOK_DIR SNAPSHOT_DIR" in capsys.readouterr().err


def test_registry_served_in_deterministic_round_rotation():
    """Round-8 VERDICT #5 (supersedes the ADVICE-r3 plain-order rule):
    the entry point exposes the registry in a deterministic, UNCURATED
    per-round rotation — sorted by md5(name || round) — so the driver's
    prefix sample walks different operator families each round while
    remaining bias-free (no human or heuristic picks the order). The
    serving must be a permutation of the registry, follow the md5 rule
    exactly, and change with the round number."""
    import hashlib

    import __spark_entry__ as m

    served = list(m.queries())
    rnd = m._round_number()
    expected = sorted(
        QUERIES, key=lambda n: hashlib.md5(f"{n}|{rnd}".encode()).hexdigest()
    )
    assert served == expected
    assert set(served) == set(QUERIES)  # permutation, nothing dropped
    other = sorted(
        QUERIES, key=lambda n: hashlib.md5(f"{n}|{rnd + 1}".encode()).hexdigest()
    )
    assert other != expected  # the sample genuinely rotates per round

    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "breadth_suite",
        os.path.join(os.path.dirname(__file__), "..", "tools", "breadth_suite.py"),
    )
    bs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bs)
    oracles = m.oracle_sql()
    for name in bs.FAMILY_REPRESENTATIVES:
        assert name in QUERIES, name
        assert name in oracles, name


def test_cli_query_and_list_subcommands(capsys):
    """The query/explain/list CLI resolves registry names, rejects
    unknowns with suggestions, and list filters by substring —
    arg-parsing only (no SparkSession started on the failure paths)."""
    from vmware_graph_spark.__main__ import main

    assert main(["list", "lang_mismatch"]) == 0
    out = capsys.readouterr().out
    assert "lang_mismatch_audit_by_source" in out

    assert main(["query", "no_such_query_zzz"]) == 2
    assert main(["query"]) == 2
    assert main(["query", "q1_pricing_summary", "sf", "extra"]) == 2
    assert main(["query", "q1_pricing_summary", "--limit", "nope"]) == 2


def test_tune_sets_only_runtime_modifiable_confs(spark):
    """session.tune() sets every key with no error guard, so each one
    must be settable on a live session."""
    from vmware_graph_spark.session import ENGINE_CONF, tune

    keys = [*ENGINE_CONF, "spark.sql.shuffle.partitions"]
    assert all(spark.conf.isModifiable(k) for k in keys), [
        k for k in keys if not spark.conf.isModifiable(k)
    ]
    assert tune(spark) is spark
