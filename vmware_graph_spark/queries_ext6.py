"""Round-5 extensions, batch 4: k-truss dense-subgraph peeling, AMS
second-moment sketching as a self-join-size predictor, reciprocal
best-match entity alignment, and the exact two-sample KS statistic.

Same registry/oracle discipline as ``queries.py``; see
``queries_ext3.py`` for the shared numeric-determinism rules.

Scale notes (100 TB):

- ``k_truss_part_cooccurrence`` peels the co-occurrence graph to its
  k-truss (every surviving edge closes >= k-2 triangles) with a fixed
  budget of unrolled peel rounds; each round is the oriented
  wedge-join triangle count (the same kernel as
  ``triangle_counts_cooccurrence``) + one filter. Support counting is
  bounded by triangle count, never pairs².
- ``ams_selfjoin_size_events`` predicts the self-join blow-up
  Σ f_k² (the second frequency moment) from a 32-estimator AMS sketch
  — one pass, integer-only ±1 signs from md5 bits — and audits it
  against the exact histogram value. The sketch answers "how big would
  this self-join be?" BEFORE you pay for the shuffle; this is the
  estimator behind skew-aware planning.
- ``reciprocal_best_match_linkage`` runs two rank windows over the
  blocked candidate pairs (each side's argmax) and keeps mutual bests —
  the alignment step after Fellegi-Sunter scoring; never more than one
  survivor per entity per side.
- ``ks_statistic_value_cohorts`` computes the exact two-sample
  Kolmogorov-Smirnov distance as INTEGER cross-multiplied cumulative
  counts (max |cumA·nB − cumB·nA|), one sort over the merged sample —
  distribution-shift detection with zero float accumulation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from vmware_graph_spark.operators.pin import cut
from vmware_graph_spark.queries import query
from vmware_graph_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# k-truss of the part co-occurrence graph
# ---------------------------------------------------------------------------

_TRUSS_K = 4  # every surviving edge must close >= k-2 = 2 triangles
_TRUSS_ROUNDS = 3
_TRUSS_MIN_CNT = 2  # co-occurrence support prune before any triangle work


def _truss_sql() -> str:
    """Unrolled k-truss peel: e0 = pruned co-occurrence edges (a < b),
    each round recounts per-edge triangle support on the survivors and
    drops edges below k-2."""
    ctes = [
        """items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS oid, l_partkey AS pid FROM lineitem
    )""",
        f"""e0 AS MATERIALIZED (
      SELECT a.pid AS a, b.pid AS b
      FROM items a JOIN items b ON a.oid = b.oid AND a.pid < b.pid
      GROUP BY a.pid, b.pid HAVING count(*) >= {_TRUSS_MIN_CNT}
    )""",
    ]
    for r in range(_TRUSS_ROUNDS):
        e, t, s, n = f"e{r}", f"t{r}", f"s{r}", f"e{r + 1}"
        ctes.append(
            f"""{t} AS MATERIALIZED (
      SELECT xy.a AS x, xy.b AS y, xz.b AS z
      FROM {e} xy JOIN {e} xz ON xy.a = xz.a AND xy.b < xz.b
      JOIN {e} yz ON yz.a = xy.b AND yz.b = xz.b
    )"""
        )
        ctes.append(
            f"""{s} AS MATERIALIZED (
      SELECT a, b, count(*) AS sup FROM (
        SELECT x AS a, y AS b FROM {t}
        UNION ALL SELECT x, z FROM {t}
        UNION ALL SELECT y, z FROM {t}
      ) GROUP BY a, b
    )"""
        )
        ctes.append(
            f"""{n} AS MATERIALIZED (
      SELECT {e}.a, {e}.b FROM {e} JOIN {s}
        ON {e}.a = {s}.a AND {e}.b = {s}.b
      WHERE sup >= {_TRUSS_K - 2}
    )"""
        )
    last = f"e{_TRUSS_ROUNDS}"
    # final support readout on the surviving truss
    ctes.append(
        f"""tf AS MATERIALIZED (
      SELECT xy.a AS x, xy.b AS y, xz.b AS z
      FROM {last} xy JOIN {last} xz ON xy.a = xz.a AND xy.b < xz.b
      JOIN {last} yz ON yz.a = xy.b AND yz.b = xz.b
    )""",
    )
    ctes.append(
        """sf AS MATERIALIZED (
      SELECT a, b, count(*) AS support FROM (
        SELECT x AS a, y AS b FROM tf
        UNION ALL SELECT x, z FROM tf
        UNION ALL SELECT y, z FROM tf
      ) GROUP BY a, b
    )"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT {last}.a AS part_a, {last}.b AS part_b,"
        f" coalesce(sf.support, 0) AS support"
        f"\nFROM {last} LEFT JOIN sf ON {last}.a = sf.a AND {last}.b = sf.b"
        f"\nORDER BY part_a, part_b"
    )


@query("k_truss_part_cooccurrence", _truss_sql())
def k_truss_part_cooccurrence(spark, sf_dir):
    """k-truss dense-subgraph peel (k=4) of the part co-occurrence
    graph: iteratively drop edges closing fewer than k-2 triangles.
    Each unrolled round is the oriented wedge join (a<b<c) counting
    each triangle once per edge — the standard distributed truss
    round; the fixed round budget is the same bounded-fixpoint
    discipline as ``k_core_supplier_part``. Basket-bounded pair
    generation + support prune keep the edge set feasible before any
    triangle work."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("pid"))
        .distinct()
    )
    a = items.select(F.col("oid"), F.col("pid").alias("a"))
    b = items.select(F.col("oid").alias("oid2"), F.col("pid").alias("b"))
    edges = (
        a.join(b, (a.oid == b.oid2) & (a.a < b.b))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= _TRUSS_MIN_CNT)
        .select("a", "b")
    )

    def support(e):
        xy = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        xz = e.select(F.col("a").alias("x2"), F.col("b").alias("z"))
        yz = e.select(F.col("a").alias("y2"), F.col("b").alias("z2"))
        tri = (
            xy.join(xz, (xy.x == xz.x2) & (xy.y < xz.z))
            .join(yz, (F.col("y") == F.col("y2")) & (F.col("z") == F.col("z2")))
            .select("x", "y", "z")
        )
        per_edge = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
            .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .groupBy("a", "b")
            .agg(F.count("*").alias("sup"))
        )
        return per_edge

    e = edges
    for _ in range(_TRUSS_ROUNDS):
        sup = support(e)
        e = (
            e.join(sup, ["a", "b"])
            .filter(F.col("sup") >= _TRUSS_K - 2)
            .select("a", "b")
        )
        e = cut(e, eager=True)
    final_sup = support(e)
    return (
        e.join(final_sup, ["a", "b"], "left")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.coalesce(F.col("sup"), F.lit(0)).alias("support"),
        )
        .orderBy("part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# AMS F2 sketch as a self-join-size predictor
# ---------------------------------------------------------------------------

_AMS_K = 32  # independent ±1 estimators


def _ams_sign_sql(j: int) -> str:
    # low bit of an md5-derived integer → ±1, engine-identical
    return (
        f"(CASE WHEN ('0x' || substr(md5('ams{j}:' || user_id), 1, 8))::BIGINT"
        f" % 2 = 0 THEN 1 ELSE -1 END)"
    )


def _ams_sql() -> str:
    xs = ", ".join(
        f"sum({_ams_sign_sql(j)}) AS x{j}" for j in range(_AMS_K)
    )
    est = " + ".join(f"x{j} * x{j}" for j in range(_AMS_K))
    return f"""
    WITH per_event AS (
      SELECT CAST(user_id AS VARCHAR) AS user_id FROM events
    ), sk AS (
      SELECT {xs} FROM per_event
    ), exact AS (
      SELECT sum(f * f) AS f2 FROM (
        SELECT count(*) AS f FROM events GROUP BY user_id
      )
    )
    SELECT CAST(exact.f2 AS BIGINT) AS f2_exact,
           round(({est})::DOUBLE / {_AMS_K}, 6) AS f2_estimate,
           round(abs(({est})::DOUBLE / {_AMS_K} - exact.f2)
                 / exact.f2, 6) AS rel_error
    FROM sk, exact
"""


@query("ams_selfjoin_size_events", _ams_sql())
def ams_selfjoin_size_events(spark, sf_dir):
    """AMS (Alon-Matias-Szegedy) second-moment sketch: F2 = Σ f_k² IS
    the output size of a self-join on the key, so the sketch predicts
    self-join/skew blow-up in ONE streaming pass — 32 ±1-signed
    integer sums (md5 low bit), estimate = mean of squares, audited
    against the exact histogram F2. All integer until the final
    division; at 100 TB the sketch is 32 counters per partition merged
    map-side."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id")
    )

    def sign(j):
        return F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"ams{j}:"), F.col("user_id"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % 2
            == 0,
            1,
        ).otherwise(-1)

    sk = ev.agg(*[F.sum(sign(j)).alias(f"x{j}") for j in range(_AMS_K)])
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("bigint").alias("f2_exact"))
    )
    est = None
    for j in range(_AMS_K):
        term = F.col(f"x{j}") * F.col(f"x{j}")
        est = term if est is None else est + term
    return (
        sk.crossJoin(F.broadcast(exact))
        .select(
            "f2_exact",
            F.round(est.cast("double") / _AMS_K, 6).alias("f2_estimate"),
            F.round(
                F.abs(est.cast("double") / _AMS_K - F.col("f2_exact"))
                / F.col("f2_exact"),
                6,
            ).alias("rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# Reciprocal best match over the linkage candidates
# ---------------------------------------------------------------------------

_RBM_SQL = """
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS cid,
             round(c_acctbal, 2)::DECIMAL(18,2) AS cbal
      FROM customer
    ), s AS (
      SELECT s_suppkey, s_nationkey,
             CAST(regexp_extract(s_name, '([0-9]+)$', 1) AS BIGINT) AS sid,
             round(s_acctbal, 2)::DECIMAL(18,2) AS sbal
      FROM supplier
    ), scored AS (
      SELECT c_custkey, s_suppkey,
             (CASE WHEN cid % 100 = sid % 100 THEN 4.2::DECIMAL(5,1)
                   ELSE -0.1::DECIMAL(5,1) END
              + CASE WHEN abs(cbal - sbal) < 50 THEN 2.6::DECIMAL(5,1)
                     ELSE -0.3::DECIMAL(5,1) END
              + CASE WHEN cid % 7 = sid % 7 THEN 1.7::DECIMAL(5,1)
                     ELSE -0.2::DECIMAL(5,1) END) AS score
      FROM c JOIN s ON c_nationkey = s_nationkey
    ), rc AS (
      SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY score DESC, s_suppkey) AS rnc
      FROM scored
    ), rs AS (
      SELECT c_custkey, s_suppkey,
             row_number() OVER (PARTITION BY s_suppkey
                                ORDER BY score DESC, c_custkey) AS rns
      FROM scored
    )
    SELECT rc.c_custkey, rc.s_suppkey, rc.score
    FROM rc JOIN rs ON rc.c_custkey = rs.c_custkey
                   AND rc.s_suppkey = rs.s_suppkey
    WHERE rc.rnc = 1 AND rs.rns = 1
    ORDER BY rc.c_custkey
"""


@query("reciprocal_best_match_linkage", _RBM_SQL)
def reciprocal_best_match_linkage(spark, sf_dir):
    """Reciprocal best match: from the blocked Fellegi-Sunter candidate
    pairs (same scoring as ``record_linkage_customer_supplier``), keep
    only pairs where each side is the other's argmax — the standard
    alignment filter that guarantees at most one partner per entity.
    Two rank windows over the per-block candidates, one join of the two
    rank-1 sets."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.regexp_extract("c_name", r"([0-9]+)$", 1).cast("bigint").alias("cid"),
        F.round("c_acctbal", 2).cast("decimal(18,2)").alias("cbal"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.regexp_extract("s_name", r"([0-9]+)$", 1).cast("bigint").alias("sid"),
        F.round("s_acctbal", 2).cast("decimal(18,2)").alias("sbal"),
    )

    def w(agree, a, d):
        return F.when(agree, F.lit(a).cast("decimal(5,1)")).otherwise(
            F.lit(d).cast("decimal(5,1)")
        )

    scored = c.join(s, c.c_nationkey == s.s_nationkey).select(
        "c_custkey",
        "s_suppkey",
        (
            w(F.col("cid") % 100 == F.col("sid") % 100, "4.2", "-0.1")
            + w(F.abs(F.col("cbal") - F.col("sbal")) < 50, "2.6", "-0.3")
            + w(F.col("cid") % 7 == F.col("sid") % 7, "1.7", "-0.2")
        ).alias("score"),
    )
    rnc = F.row_number().over(
        Window.partitionBy("c_custkey").orderBy(F.desc("score"), "s_suppkey")
    )
    rns = F.row_number().over(
        Window.partitionBy("s_suppkey").orderBy(F.desc("score"), "c_custkey")
    )
    both = scored.withColumn("rnc", rnc).withColumn("rns", rns)
    return (
        both.filter((F.col("rnc") == 1) & (F.col("rns") == 1))
        .select("c_custkey", "s_suppkey", "score")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov statistic (integer cross products)
# ---------------------------------------------------------------------------

_KS_SQL = """
    WITH assigned AS (
      SELECT round(value, 2)::DECIMAL(18,2) AS v,
             CASE WHEN ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
                        1, 15))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS cohort
      FROM events WHERE value IS NOT NULL
    ), counts AS (
      SELECT sum(CASE WHEN cohort = 'A' THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN cohort = 'B' THEN 1 ELSE 0 END) AS nb
      FROM assigned
    ), by_v AS (
      SELECT v,
             sum(CASE WHEN cohort = 'A' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN cohort = 'B' THEN 1 ELSE 0 END) AS cb
      FROM assigned GROUP BY v
    ), cum AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      FROM by_v
    )
    SELECT CAST(counts.na AS BIGINT) AS n_a, CAST(counts.nb AS BIGINT) AS n_b,
           CAST(max(abs(cuma * counts.nb - cumb * counts.na)) AS BIGINT)
             AS ks_scaled,
           round(max(abs(cuma * counts.nb - cumb * counts.na))::DOUBLE
                 / (counts.na::DOUBLE * counts.nb), 6) AS ks_stat
    FROM cum, counts GROUP BY counts.na, counts.nb
"""


@query("ks_statistic_value_cohorts", _KS_SQL)
def ks_statistic_value_cohorts(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov distance between the A/B
    cohorts' value distributions (same md5 experiment assignment as the
    z-test/CUPED family): KS = max_x |F_A(x) - F_B(x)|, computed as
    INTEGER cross-multiplied cumulative counts max|cumA·nB − cumB·nA| —
    zero float accumulation, one sort over the distinct-value
    histogram (already reduced from raw events). The
    distribution-shift detector a mean-based z-test can't see."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cohort = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    assigned = ev.select(
        F.round("value", 2).cast("decimal(18,2)").alias("v"),
        cohort.alias("cohort"),
    )
    counts = assigned.agg(
        F.sum(F.when(F.col("cohort") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("cohort") == "B", 1).otherwise(0)).alias("nb"),
    )
    by_v = assigned.groupBy("v").agg(
        F.sum(F.when(F.col("cohort") == "A", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("cohort") == "B", 1).otherwise(0)).alias("cb"),
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = by_v.select(
        "v",
        F.sum("ca").over(wcum).alias("cuma"),
        F.sum("cb").over(wcum).alias("cumb"),
    )
    return (
        cum.crossJoin(F.broadcast(counts))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
            )
            .cast("bigint")
            .alias("ks_scaled"),
            F.round(
                F.max(
                    F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
                ).cast("double")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("ks_stat"),
        )
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            "ks_scaled",
            "ks_stat",
        )
    )
