"""Unit tests for the MERGE family (SURVEY §2.4) on tiny DataFrames."""

from __future__ import annotations

from pyspark.sql import functions as F

from vmware_graph_spark.operators.merge import (
    canonical_edges,
    merge_edges,
    merge_nodes,
)


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_merge_set_updates_win(spark):
    existing = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["k", "status", "price"]
    )
    updates = spark.createDataFrame([(2, "U", 99.0), (3, "c", 30.0)], ["k", "status", "price"])
    out = merge_nodes(existing, updates, ["k"])
    assert rows(out, "k", "status", "price") == [
        (1, "a", 10.0),
        (2, "U", 99.0),
        (3, "c", 30.0),
    ]


def test_merge_on_create_existing_wins(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    updates = spark.createDataFrame([(2, "U"), (3, "c")], ["k", "v"])
    out = merge_nodes(existing, updates, ["k"], on_create_only=True)
    assert rows(out, "k", "v") == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_per_column_preserves_untouched_props(spark):
    """MERGE…SET only overwrites properties the update batch carries:
    columns absent from updates keep their existing values
    (refresh-vmware.cypher:39-40 semantics — earlier stages' writes
    survive later stages touching the same node)."""
    existing = spark.createDataFrame([(1, "keep", 1.5)], ["k", "early_prop", "price"])
    updates = spark.createDataFrame([(1, 9.9)], ["k", "price"])
    out = merge_nodes(existing, updates, ["k"])
    assert rows(out, "k", "early_prop", "price") == [(1, "keep", 9.9)]


def test_merge_null_keys_dropped(spark):
    existing = spark.createDataFrame([(1, "a")], ["k", "v"])
    updates = spark.createDataFrame([(None, "x"), (2, "b")], ["k", "v"])
    out = merge_nodes(existing, updates, ["k"])
    assert rows(out, "k", "v") == [(1, "a"), (2, "b")]


def test_merge_intra_batch_duplicates_deterministic(spark):
    updates = spark.createDataFrame([(1, "z"), (1, "a")], ["k", "v"])
    out = merge_nodes(None, updates, ["k"])
    assert rows(out, "k", "v") == [(1, "a")]  # total order over value cols


def test_merge_idempotent(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    once = merge_nodes(existing, existing, ["k"])
    twice = merge_nodes(once, existing, ["k"])
    assert rows(once, "k", "v") == rows(twice, "k", "v") == [(1, "a"), (2, "b")]


def _edge(spark, src, rel, dst):
    return spark.createDataFrame(
        [("L", src, rel, "L", dst)],
        ["src_label", "src_key", "rel_type", "dst_label", "dst_key"],
    )


def test_undirected_edge_canonicalizes_both_directions(spark):
    e = _edge(spark, "a", "T", "b").unionByName(_edge(spark, "b", "T", "a"))
    out = merge_edges(None, e, undirected_types=["T"])
    assert out.count() == 1
    assert rows(out, "src_key", "dst_key") == [("a", "b")]


def test_directed_edge_keeps_both_directions(spark):
    e = _edge(spark, "a", "T", "b").unionByName(_edge(spark, "b", "T", "a"))
    out = merge_edges(None, e)
    assert out.count() == 2


def test_canonical_edges_comma_keys_do_not_collide(spark):
    """Struct comparison is field-wise: keys containing ', ' must not
    merge distinct edges (the string-render collision from ADVICE r1)."""
    e = spark.createDataFrame(
        [
            ("L", "a, b", "T", "L", "c"),
            ("L", "a", "T", "L", "b, c"),
        ],
        ["src_label", "src_key", "rel_type", "dst_label", "dst_key"],
    )
    out = canonical_edges(e, ["T"])
    assert out.distinct().count() == 2


def test_edge_props_last_writer_wins(spark):
    e1 = _edge(spark, "vm", "HW_VERSION", "v7").withColumn("upgradestatus", F.lit("none"))
    e2 = _edge(spark, "vm", "HW_VERSION", "v7").withColumn("upgradestatus", F.lit("pending"))
    out = merge_edges(e1, e2, prop_cols=["upgradestatus"])
    assert rows(out, "src_key", "upgradestatus") == [("vm", "pending")]


def test_merge_edges_with_props_dedups_and_merges_maps(spark):
    from vmware_graph_spark.operators.merge import merge_edges_with_props

    # same edge asserted three times: bare, with one prop, with another —
    # ONE edge row whose map is the per-key union (greatest value wins).
    e = (
        _edge(spark, "vm", "HW_VERSION", "v7")
        .unionByName(
            _edge(spark, "vm", "HW_VERSION", "v7")
            .withColumn("props", F.create_map(F.lit("upgradestatus"), F.lit("None")))
        , allowMissingColumns=True)
        .unionByName(
            _edge(spark, "vm", "HW_VERSION", "v7")
            .withColumn(
                "props",
                F.create_map(
                    F.lit("upgradestatus"), F.lit("Pending"),
                    F.lit("checked"), F.lit("true"),
                ),
            )
        , allowMissingColumns=True)
    )
    out = merge_edges_with_props(None, e).collect()
    assert len(out) == 1
    assert out[0]["props"] == {"upgradestatus": "Pending", "checked": "true"}


def test_merge_edges_with_props_undirected_canonicalizes(spark):
    from vmware_graph_spark.operators.merge import merge_edges_with_props

    e = (
        _edge(spark, "a", "T", "b")
        .withColumn("props", F.create_map(F.lit("w"), F.lit("1")))
        .unionByName(
            _edge(spark, "b", "T", "a").withColumn(
                "props", F.create_map(F.lit("w"), F.lit("2"))
            )
        )
    )
    out = merge_edges_with_props(None, e, undirected_types=["T"]).collect()
    assert len(out) == 1
    assert (out[0]["src_key"], out[0]["dst_key"]) == ("a", "b")
    assert out[0]["props"] == {"w": "2"}


def test_merge_edges_with_props_empty_map_for_bare_edges(spark):
    from vmware_graph_spark.operators.merge import merge_edges_with_props

    out = merge_edges_with_props(None, _edge(spark, "a", "T", "b")).collect()
    assert out[0]["props"] == {}


def test_merge_edges_with_props_last_batch_wins(spark):
    """ADVICE r3: per-property conflict resolution is LAST-writer-wins
    (Cypher SET), not lexicographic max — a later batch's 'None' must
    replace an earlier batch's 'Pending' even though 'Pending' > 'None'."""
    from vmware_graph_spark.operators.merge import merge_edges_with_props

    batches = (
        _edge(spark, "vm", "HW_VERSION", "v7")
        .withColumn("props", F.create_map(F.lit("upgradestatus"), F.lit("Pending")))
        .withColumn("__batch_ord", F.lit(0))
        .unionByName(
            _edge(spark, "vm", "HW_VERSION", "v7")
            .withColumn("props", F.create_map(F.lit("upgradestatus"), F.lit("None")))
            .withColumn("__batch_ord", F.lit(1))
        )
    )
    out = merge_edges_with_props(None, batches, order_col="__batch_ord").collect()
    assert len(out) == 1
    assert out[0]["props"] == {"upgradestatus": "None"}


def test_merge_edges_with_props_updates_beat_existing(spark):
    """``existing`` is the older snapshot: an update asserting a
    lexicographically-smaller value still replaces it."""
    from vmware_graph_spark.operators.merge import merge_edges_with_props

    prev = _edge(spark, "vm", "HW_VERSION", "v7").withColumn(
        "props", F.create_map(F.lit("upgradestatus"), F.lit("Pending"))
    )
    curr = _edge(spark, "vm", "HW_VERSION", "v7").withColumn(
        "props", F.create_map(F.lit("upgradestatus"), F.lit("None"))
    )
    out = merge_edges_with_props(prev, curr).collect()
    assert out[0]["props"] == {"upgradestatus": "None"}


def test_graphstore_edge_props_last_add_wins(spark):
    """Through the store: two add_edges calls asserting the same edge
    prop — edges_with_props carries the LATER call's value (batches are
    order-tagged by _union_edge_batches)."""
    from vmware_graph_spark.store.graph import GraphStore

    gs = GraphStore(spark)
    gs.add_edges(
        _edge(spark, "vm", "HW_VERSION", "v7").withColumn(
            "upgradestatus", F.lit("Pending")
        )
    )
    gs.add_edges(
        _edge(spark, "vm", "HW_VERSION", "v7").withColumn(
            "upgradestatus", F.lit("None")
        )
    )
    out = gs.edges_with_props().collect()
    assert len(out) == 1
    assert out[0]["props"] == {"upgradestatus": "None"}


def test_salted_join_matches_plain_join(spark):
    from vmware_graph_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(200)], ["k", "payload"]
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "dim"])
    got = sorted(map(tuple, salted_join(big, small, ["k"], salts=4).collect()))
    want = sorted(map(tuple, big.join(small, "k").collect()))
    assert got == want


def test_salted_join_spreads_hot_key(spark):
    """All rows share one key; the salt must split them across >1 value."""
    from pyspark.sql import functions as F
    from vmware_graph_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, f"p{i}") for i in range(100)], ["k", "payload"])
    small = spark.createDataFrame([(1, "dim")], ["k", "d"])
    b = big.withColumn("__salt", F.pmod(F.hash("payload"), F.lit(8)))
    assert b.select("__salt").distinct().count() > 1
    assert salted_join(big, small, ["k"], salts=8).count() == 100


def test_merge_batches_same_schema_equals_sequential_merges(spark):
    """Three same-schema batches reduced in one pass are BIT-identical
    to merging them one at a time, for both MERGE…SET and ON CREATE
    SET, including intra-batch dup resolution and cross-batch override
    order."""
    from vmware_graph_spark.operators.merge import merge_batches

    keys = ["k"]
    b1 = spark.createDataFrame(
        [(1, "a1", 10), (2, "b1", 20), (2, "b1x", 21), (3, "c1", 30)],
        ["k", "name", "v"],
    )
    b2 = spark.createDataFrame(
        [(2, "b2", 22), (4, "d2", 40)], ["k", "name", "v"]
    )
    b3 = spark.createDataFrame(
        [(1, "a3", 11), (4, "d3", 41), (5, "e3", 50)], ["k", "name", "v"]
    )
    want = {
        False: [(1, "a3", 11), (2, "b2", 22), (3, "c1", 30), (4, "d3", 41), (5, "e3", 50)],
        True: [(1, "a1", 10), (2, "b1", 20), (3, "c1", 30), (4, "d2", 40), (5, "e3", 50)],
    }
    for oco in (False, True):
        pend = [(b, oco) for b in (b1, b2, b3)]
        seq = None
        for updates, flag in pend:
            seq = merge_nodes(seq, updates, keys, on_create_only=flag)
        one = merge_batches(None, pend, keys)
        assert one.columns == seq.columns == ["k", "name", "v"]
        assert sorted(tuple(r) for r in one.collect()) == want[oco]
        assert sorted(tuple(r) for r in seq.collect()) == want[oco]


def test_merge_batches_mixed_flags_and_schemas(spark):
    """Flag and schema changes between batches: each column takes the
    latest batch that carries it and counts for the key (an ON CREATE
    batch counts only for keys it creates) — equal to sequential
    merges."""
    from vmware_graph_spark.operators.merge import merge_batches

    s1 = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "name"])
    s1b = spark.createDataFrame([(1, "x2")], ["k", "name"])
    s2 = spark.createDataFrame([(1, 9), (3, 7)], ["k", "v"])
    pend = [(s1, False), (s1b, False), (s1, True), (s2, True), (s1b, False)]
    seq = None
    for updates, flag in pend:
        seq = merge_nodes(seq, updates, ["k"], on_create_only=flag)
    one = merge_batches(None, pend, ["k"])
    want = [(1, "x2", None), (2, "y", None), (3, None, 7)]
    assert one.columns == seq.columns == ["k", "name", "v"]
    assert sorted(tuple(r) for r in one.collect()) == want
    assert sorted(tuple(r) for r in seq.collect()) == want


def test_node_key_null_propagation_and_int_rendering(spark):
    """node_key is built from one null-propagating concat (round-7
    rewrite): NULL when ANY component is null — never a phantom key
    from concat_ws's null-skipping — and non-string components render
    exactly as cast-to-string."""
    from vmware_graph_spark.store.graph import US, node_key

    df = spark.createDataFrame(
        [("a", "b", 17), ("a", None, 17), (None, "b", 17), (None, None, None)],
        "x string, y string, z int",
    )
    rows = df.select(
        node_key("x", "y").alias("k2"),
        node_key(F.col("z")).alias("k1"),
        node_key("x", F.col("z")).alias("km"),
    ).collect()
    assert rows[0].k2 == f"a{US}b" and rows[0].k1 == "17" and rows[0].km == f"a{US}17"
    assert rows[1].k2 is None and rows[1].k1 == "17"
    assert rows[2].k2 is None
    assert rows[3].k2 is None and rows[3].k1 is None and rows[3].km is None


def test_merge_edges_spread_identical_rows_single_exchange(spark):
    """merge_edges(spread=True) on an under-parallel input must (a)
    return EXACTLY the rows of the unspread form (two-sided exceptAll)
    and (b) plan ONE exchange total — the canonical-key repartition
    satisfies the distinct's clustering, so no ENSURE_REQUIREMENTS
    exchange follows it."""
    import re

    from vmware_graph_spark.operators.merge import merge_edges

    rows = [
        ("a", f"k{i % 7}", "REL", "b", f"m{i % 5}") if i % 2 == 0
        else ("b", f"m{i % 5}", "REL", "a", f"k{i % 7}")  # reversed assertion
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "src_label string, src_key string, rel_type string, dst_label string, dst_key string"
    ).coalesce(1)
    plain = merge_edges(None, df, undirected_types=["REL"])
    spread = merge_edges(None, df, undirected_types=["REL"], spread=True)
    assert spread.exceptAll(plain).count() == 0
    assert plain.exceptAll(spread).count() == 0
    plan = spread._jdf.queryExecution().executedPlan().toString()
    n_exchanges = len(re.findall(r"\bExchange (hash|range|Single)", plan))
    assert n_exchanges == 1, plan[:2000]


def test_refresh_result_is_a_value(spark):
    """RefreshResult is a frozen dataclass: equal fields, equal results."""
    from vmware_graph_spark.ingest.refresh import RefreshResult
    from vmware_graph_spark.store.graph import GraphStore

    s, o = GraphStore(spark), spark.createDataFrame([], "label string, key string")
    assert RefreshResult(s, o) == RefreshResult(s, o)
    assert RefreshResult(store=s, orphans=o).store is s
