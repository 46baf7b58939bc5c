"""Focused pins for the r12 optimization-round internals.

Each r12 change claims value-equivalence under a different execution
strategy (broadcast-vs-shuffle gate in the CC loop, the thresholded
banded-DP levenshtein, the moment-identity assortativity rewrite's
symmetry assumption). These tests pin each claim directly, so a future
edit that breaks the equivalence fails HERE, not in a driver round.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pac_spark.cache import release_caches


@pytest.fixture(autouse=True)
def _sweep():
    yield
    release_caches(all_generations=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_connected_components_invariant_to_broadcast_gate(
    spark, sf_dir, gate_decisions
):
    """CC-loop results must be identical with loop broadcasts disabled
    (threshold -1 forces the shuffle-join fallback path) — the
    byte-gated broadcast of the endpoint-sized label frame into the
    per-round edge join and the pointer-doubling self-join. The
    recorded gate decisions prove the default run took the broadcast
    path and the -1 run never did."""
    from pac_spark.operators.graph import trade_graph_components
    from pac_spark.session import scoped_conf

    with_bcast = _rows(trade_graph_components(spark, sf_dir))
    assert True in gate_decisions, "default threshold never broadcast"
    release_caches(all_generations=True)
    gate_decisions.clear()
    with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", -1):
        without = _rows(trade_graph_components(spark, sf_dir))
    assert gate_decisions and not any(gate_decisions), "broadcast at threshold -1"
    release_caches(all_generations=True)
    assert with_bcast == without, "connected_components gate-variant"


def test_levenshtein_threshold_algebra(spark):
    """The banded-DP publish bound: for integer distances, k =
    max_len div 5 makes ``thresholded >= 0`` exactly equivalent to
    ``full_distance * 5 <= max_len`` — the filter the operator keeps.
    Crafted rows straddle the boundary in both directions."""
    rows = [
        # (t1, t2) with known distance d and max_len L: keep iff 5d<=L
        ("a" * 50, "a" * 50, 0, 50),          # d=0, keep
        ("a" * 50, "a" * 40 + "b" * 10, 10, 50),   # 5*10=50<=50, keep
        ("a" * 50, "a" * 39 + "b" * 11, 11, 50),   # 55>50, drop
        ("a" * 44 + "b" * 6, "a" * 50, 6, 50),     # 30<=50, keep
    ]
    df = spark.createDataFrame(
        [(t1, t2, d, L) for t1, t2, d, L in rows], ["t1", "t2", "d", "L"]
    )
    out = df.selectExpr(
        "d",
        "L",
        "levenshtein(t1, t2) AS full",
        "levenshtein(t1, t2, cast(L div 5 as int)) AS banded",
    ).collect()
    for r in out:
        assert r["full"] == r["d"], "crafted distance wrong"
        keep_full = r["full"] * 5 <= r["L"]
        keep_banded = r["banded"] >= 0
        assert keep_full == keep_banded
        if keep_banded:
            # published distances must be the TRUE distance
            assert r["banded"] == r["full"]


def test_levenshtein_neardup_pairs_matches_full_verify(spark, sf_dir):
    """The operator with the r12 thresholded verify must publish the
    exact rows and distances of an un-thresholded per-pair verify
    recomputed independently over its own candidate blocks."""
    from pac_spark.operators.dedup import (
        ED_MAX_BLOCK,
        ED_MIN_LEN,
        ED_PREFIX,
        ED_SIM_DEN,
        levenshtein_neardup_pairs,
    )
    from pac_spark import catalog

    got = _rows(
        levenshtein_neardup_pairs(spark, sf_dir).select(
            "d1", "d2", "dist", "max_len"
        )
    )
    t = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    base = (
        catalog.load(spark, sf_dir, "documents")
        .select("doc_id", "lang", t.alias("t"))
        .withColumn("L", F.length("t"))
        .where(F.col("L") >= ED_MIN_LEN)
        .withColumn("pre", F.substring("t", 1, ED_PREFIX))
    )
    ok = (
        base.groupBy("lang", "pre")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= ED_MAX_BLOCK)
        .select("lang", "pre")
    )
    docs = base.join(ok, ["lang", "pre"])
    a = docs.select(
        F.col("doc_id").alias("d1"), "lang", "pre",
        F.col("t").alias("t1"), F.col("L").alias("l1"),
    )
    b = docs.select(
        F.col("doc_id").alias("d2"), "lang", "pre",
        F.col("t").alias("t2"), F.col("L").alias("l2"),
    )
    max_l = F.greatest("l1", "l2")
    want = _rows(
        a.join(b, ["lang", "pre"])
        .where(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            F.levenshtein("t1", "t2").alias("dist"),  # FULL 2-arg verify
            max_l.cast("long").alias("max_len"),
        )
        .where(F.col("dist") * ED_SIM_DEN <= F.col("max_len"))
    )
    assert got == want


def test_assortativity_moment_identity_and_edge_symmetry(spark, sf_dir):
    """The r11 assortativity rewrite assumes trade_edges is symmetric
    (fwd ∪ rev of distinct pairs). This pin goes red two ways if that
    ever stops holding: (1) the edge set itself must equal its own
    reversal; (2) the operator's value must equal the PER-EDGE Newman
    form computed directly — the moment identity Σ_edges deg(src)^k =
    Σ_nodes deg^(k+1) only holds on a symmetric edge set, so an
    asymmetric derivation diverges here before any driver round."""
    from pac_spark.operators.graph import degree_assortativity, trade_edges

    edges = trade_edges(spark, sf_dir)
    pairs = [(r.src, r.dst) for r in edges.collect()]
    assert sorted(pairs) == sorted((d, s) for s, d in pairs), (
        "trade_edges lost its symmetric closure"
    )

    # per-edge Newman form, exact integer moments in Python
    deg: dict = {}
    for s, _ in pairs:
        deg[s] = deg.get(s, 0) + 1
    n_edges = len(pairs)
    sx = sum(deg[s] for s, _ in pairs)
    sy = sum(deg[d] for _, d in pairs)
    sxx = sum(deg[s] * deg[s] for s, _ in pairs)
    syy = sum(deg[d] * deg[d] for _, d in pairs)
    sxy = sum(deg[s] * deg[d] for s, d in pairs)
    assert sx == sy and sxx == syy  # the symmetry consequences used
    dxx = n_edges * sxx - sx * sx
    dxy = n_edges * sxy - sx * sy
    want_r = (dxy / (dxx * dxx) ** 0.5) if dxx > 0 else None

    row = degree_assortativity(spark, sf_dir).collect()[0]
    assert row["n_edges"] == n_edges
    assert row["n_nodes"] == len(deg)
    if want_r is None:
        assert row["assortativity"] is None
    else:
        assert row["assortativity"] == pytest.approx(want_r, abs=1e-12)


def test_sssp_hub_and_nodecount_from_degree_frame(spark, sf_dir):
    """The r12 sssp restructure reads the hub AND the node count off
    one pinned degree frame. Pin the count identity the gate relies
    on: |degree rows| == |distinct src| on the actual edge set, and
    the query result is unchanged vs the r11-shape oracle (covered by
    parity) — here just the structural identity."""
    # structural identity on the symmetric trade edge set
    from pac_spark.operators.graph import trade_edges

    edges = trade_edges(spark, sf_dir)
    n_distinct_src = edges.select("src").distinct().count()
    n_deg_rows = edges.groupBy("src").agg(F.count(F.lit(1))).count()
    assert n_distinct_src == n_deg_rows
