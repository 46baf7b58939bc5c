"""Entity resolution — the reference's crown jewel, distributed.

The reference (executive_review_tool.py) pulls every executive record
into driver memory, scores all O(n^2) pairs with rapidfuzz, greedily
groups by insertion order, consolidates each group, and uploads
person + person→company link rows. This module re-expresses each stage
Spark-first:

=====================  =============================================
reference stage        Spark restatement
=====================  =============================================
pairwise O(n^2) loop   blocked self-join: records shuffle once on a
(:304-324)             cheap blocking key, pairs scored JVM-side;
                       at 100 TB the same pipeline takes MinHash-LSH
                       buckets as blocks (see operators.dedup)
greedy single-link     iterative min-label propagation to a fixpoint
grouping (:326-342)    (= connected components). Deterministic,
                       order-independent — documented deviation from
                       the reference's insertion-order grouping
confidence banding     avg pairwise score per cluster, bands
(:347-377)             low < 75 <= uncertain < 85 <= high
consolidation          window argmax for best record, collect_set
(:513-605)             for companies/titles, explode for link rows
=====================  =============================================

Records are derived deterministically from the ``customer`` table
(base + fuzzed variants per customer) so the whole pipeline — scores,
clusters, consolidation — is reproducible in ANSI SQL for the DuckDB
oracle. Variant construction is tuned to exercise every score band:
``Jr Xy`` variants land in the review band [75, 85), letter-swap
variants in auto-approve (>= 85), and cross-role "Supplier" records
score below 75 (no edge — stay singletons).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pac_spark import catalog, session
from pac_spark.cache import checkpoint, pin
from pac_spark.functions.exact import exact_avg
from pac_spark.functions.fuzzy import (
    levenshtein_ratio,
    token_sort_key,
    weighted_similarity,
)
from pac_spark.functions.normalize import normalize_string

__all__ = [
    "executive_records",
    "candidate_pairs",
    "candidate_pairs_lsh",
    "er_clusters",
    "er_consolidated",
    "er_approved",
    "er_links",
    "records_stringified",
]

GROUP_THRESHOLD = 75.0  # ref: executive_review_tool.py:276
HIGH_THRESHOLD = 85.0  # ref: executive_review_tool.py:277

_TITLE_BY_SEGMENT = {
    "AUTOMOBILE": "VP Operations",
    "BUILDING": "Director",
    "FURNITURE": "Chief Officer",
    "HOUSEHOLD": "Analyst",
    "MACHINERY": "Manager",
}


def _title_expr():
    expr = F.lit(None).cast("string")
    for seg, title in _TITLE_BY_SEGMENT.items():
        expr = F.when(F.col("c_mktsegment") == seg, F.lit(title)).otherwise(expr)
    return expr


def executive_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic executive-shaped records: one base row per
    customer plus fuzzed variants for keys divisible by 3/5/7.

    record_id = custkey*10 + variant ordinal, so clustering output is
    stable and the DuckDB oracle can derive the identical table.
    """
    cust = catalog.load(spark, sf_dir, "customer")
    nation = catalog.load(spark, sf_dir, "nation")
    base = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.col("n_name").alias("company_src"),
    )

    def rec(ordinal: int, modulus: int | None, name, title, company, address):
        keep = (
            F.lit(True)
            if modulus is None
            else F.col("c_custkey") % modulus == 0
        )
        return F.struct(
            F.lit(ordinal).alias("ord"),
            keep.alias("keep"),
            name.cast("string").alias("name"),
            title.cast("string").alias("title"),
            company.cast("string").alias("company"),
            address.cast("string").alias("address"),
        )

    addr = F.concat(
        F.lit("addr_"), (F.col("c_custkey") % 97).cast("string"), F.lit(" "), F.col("company_src")
    )
    addr2 = F.concat(
        F.lit("addr_"),
        ((F.col("c_custkey") % 97) + 1).cast("string"),
        F.lit(" "),
        F.col("company_src"),
    )
    null_s = F.lit(None).cast("string")

    # ONE scan, explode-of-variants: the pre-r8 4-way projection union
    # re-scanned customer ⋈ nation once PER VARIANT (the plan audit
    # read 8 scans for the records frame, 16 through the pairing
    # self-join — at 100 TB that is 4x the fact I/O the data needs;
    # plan-audit campaign r8). Each variant is a struct with its own
    # keep predicate; rows explode then filter, so the emitted rows —
    # and record_id = custkey*10 + ordinal — are exactly the union's.
    variants = F.array(
        rec(0, None, F.col("c_name"), _title_expr(), F.col("company_src"), addr),
        # review-band variant: name + ' Jr Xy', no title/address
        rec(
            1,
            3,
            F.concat(F.col("c_name"), F.lit(" Jr Xy")),
            null_s,
            F.col("company_src"),
            null_s,
        ),
        # auto-approve variant: leading letter swap, shifted address
        rec(
            2,
            5,
            F.concat(F.lit("K"), F.substring(F.col("c_name"), 2, 17)),
            _title_expr(),
            F.lower(F.col("company_src")),
            addr2,
        ),
        # non-match decoy sharing the digit block: different role entirely
        rec(
            3,
            7,
            F.regexp_replace(F.col("c_name"), "Customer", "Supplier"),
            F.lit("Supplier Rep"),
            F.col("company_src"),
            null_s,
        ),
    )
    return (
        base.select("c_custkey", F.explode(variants).alias("v"))
        .filter(F.col("v.keep"))
        .select(
            (F.col("c_custkey") * 10 + F.col("v.ord")).alias("record_id"),
            F.col("v.name").alias("name"),
            F.col("v.title").alias("title"),
            F.col("v.company").alias("company"),
            F.col("v.address").alias("address"),
        )
    )


def _block_key(name_col):
    """Blocking key: the digit string of the name. The scalable analog
    is an LSH bucket id — the join shape (shuffle both sides on the
    key, pair within key) is identical."""
    return F.regexp_replace(name_col, "[^0-9]", "")


def _with_scoring_keys(records: DataFrame) -> DataFrame:
    """Append the per-record canonical scoring keys
    (``<field>_skey``): token-sorted normalization for name/address/
    title, plain normalization for company.

    Keying ONCE per record instead of inside the per-pair scorer is
    load-bearing twice over: (1) normalize+split+sort runs O(records),
    not O(candidate pairs) — with blocked pairs Σblock² ≫ n at scale;
    (2) the per-pair projection shrinks to plain ``levenshtein`` over
    key columns, which is what kept the whole scoring stage under
    janino's 64 KB method limit — the fused token_sort_ratio trees
    (normalize inlined ~3× per side per field) pushed the
    ``er_candidate_pairs_lsh`` hash-aggregate output into INTERPRETED
    fallback ("Code grows beyond 64 KB", rotation r9 perf queue)."""
    out = records
    for field in ("name", "address", "title"):
        out = out.withColumn(f"{field}_skey", token_sort_key(F.col(field)))
    return out.withColumn("company_skey", normalize_string(F.col("company")))


def _score_aliased_pairs(pairs: DataFrame) -> DataFrame:
    """Weighted fuzzy scoring of a pairs frame carrying ``a``/``b``
    aliased record columns — the one scoring implementation every
    blocking strategy (digit key, MinHash-LSH buckets) feeds into.

    CONTRACT: both sides must already carry the ``_with_scoring_keys``
    columns. A field is PRESENT iff its NORMALIZED form is non-empty —
    the reference's ``if name1 and name2:`` rule where ``name1`` is
    already ``normalize_string(...)`` (executive_review_tool.py:
    200-231). The old guard read the RAW field through Spark's
    ``trim`` (strips 0x20 only), so a tab-only or NBSP-only field
    counted as present here but absent in the reference; the scoring
    keys normalize with the exact Python whitespace set, so key
    emptiness IS the reference's presence test (code-review r8)."""

    def both_present(field):
        ka, kb = F.col(f"a.{field}_skey"), F.col(f"b.{field}_skey")
        # NULL key (NULL raw field) compares as NULL -> when() falsy,
        # matching pd.isna -> "" -> absent
        return (ka != "") & (kb != "")

    raw = {}
    for field in ("name", "address", "title", "company"):
        raw[field] = F.when(
            both_present(field),
            levenshtein_ratio(
                F.col(f"a.{field}_skey"), F.col(f"b.{field}_skey")
            ),
        ).otherwise(F.lit(None))

    # materialize per-field scores as columns FIRST: the weighted blend
    # then references cheap column reads instead of re-inlining the
    # levenshtein expression tree ~20x into one codegen function
    field_scores = pairs.select(
        F.col("a.record_id").alias("id_a"),
        F.col("b.record_id").alias("id_b"),
        raw["name"].alias("ns"),
        raw["address"].alias("addrs"),
        raw["title"].alias("ts"),
        raw["company"].alias("cs"),
    )
    scores = {
        "name": F.col("ns"),
        "address": F.col("addrs"),
        "title": F.col("ts"),
        "company": F.col("cs"),
    }
    return field_scores.select(
        "id_a",
        "id_b",
        F.round(F.col("ns"), 6).alias("name_score"),
        F.round(F.col("ts"), 6).alias("title_score"),
        F.round(F.col("addrs"), 6).alias("address_score"),
        F.round(F.col("cs"), 6).alias("company_score"),
        F.round(weighted_similarity(scores), 6).alias("overall_score"),
    )


def candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked self-join + weighted fuzzy scores for every candidate
    pair (id_a < id_b). This replaces the reference's O(n^2) driver
    loop with a key-partitioned pair generation whose cost is
    sum(block_size^2), not n^2.

    NOT pinned — a measured decision (VERDICT r9 next-#5). The frame
    feeds both sides of the blocked self-join, so recomputing costs a
    second map-side derivation (customer scan + codegen keying, no
    shuffle — each side derives in place before its own block
    exchange), while pinning costs one full serialize-to-storage of
    the keyed frame plus cache reads. Same-JVM interleaved A/B
    (release_caches between runs, warm, min over interleaved reps;
    r10 session): sf0.1 pinned 1.904s vs unpinned 1.704s (1.12x);
    synthetic 10x customer blow-up pinned 5.815s vs unpinned 4.542s
    (1.28x) — identical 12,287-row / 122,858-row outputs. Recompute
    wins at BOTH points and the gap GROWS with scale, so the r9
    docstring's "flips toward the pin at scale" claim is refuted:
    the derivation is cheap columnar-scan codegen and the pin's
    materialization scales with the very rows it was meant to save.
    (_cluster_labels still pins the SCORED pairs output — that stage
    is the expensive one with two genuine consumers.)"""
    records = (
        _with_scoring_keys(executive_records(spark, sf_dir))
        .withColumn("block", _block_key(F.col("name")))
        .select(
            "record_id",
            "block",
            "name_skey",
            "address_skey",
            "title_skey",
            "company_skey",
        )
    )
    a = records.alias("a")
    b = records.alias("b")
    pairs = a.join(b, on="block").filter(F.col("a.record_id") < F.col("b.record_id"))
    return _score_aliased_pairs(pairs)


def candidate_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production blocking path, exercised end-to-end: candidate
    pairs from the MinHash-LSH band bucketer (``operators.dedup``), not
    the digit-string key, rescored with the same weighted fuzzy blend
    and kept at overall >= GROUP_THRESHOLD — the edge list ER
    clustering would consume at 100 TB (VERDICT r3 #4; the module
    header's claim at :12-15, now actually run).

    The shingle universe is the name's digit-run tokens. That choice is
    what makes this fixture's hash check meaningful: these synthetic
    names differ only in their digit block, so character n-grams are
    NEAR-IDENTICAL across different customers (measured: cross-customer
    char-3-gram Jaccard ~0.85 vs 0.73 for true variant pairs — the
    geometry is inverted vs real names, and any char-gram LSH
    degenerates to near-all-pairs). Digit-run tokens give variants of
    one customer Jaccard 1 (same runs → same signature → same band
    keys, recall provably 100%) and unrelated customers Jaccard 0 — on
    real-entropy names the same pipeline runs char-grams with the
    banded recall dial instead (``similarity.py`` documents that math).
    The DuckDB oracle re-derives signatures, banding, candidate join,
    and scoring, so the whole blocking pipeline is hash-verified like
    ``minhash_lsh_dedup``; the property test additionally proves the
    LSH blocks recover exactly the digit-block >= threshold pairs.
    """
    from pac_spark.operators.dedup import (
        _band_rows,
        _lsh_candidates,
        _rowlocal_signatures,
    )

    # pinned: consumed three times below (shingle arrays + both sides
    # of the candidate rescoring join) — unpinned, the records
    # derivation over customer×nation would replay per consumer.
    # Scoring keys are folded INSIDE the pin so they are computed once
    # per record and stored, not re-derived per candidate pair; only
    # the columns the three consumers read are stored (name feeds the
    # shingle arrays, the keys feed the rescoring).
    records = pin(
        _with_scoring_keys(executive_records(spark, sf_dir)).select(
            "record_id",
            "name",
            "name_skey",
            "address_skey",
            "title_skey",
            "company_skey",
        )
    )
    # signatures row-locally over each record's digit-run array — zero
    # shuffle (duplicate runs cannot change an array_min, so no
    # distinct needed; records without digit runs drop out exactly as
    # they produced no rows on the r4 explode+groupBy path)
    shingle_arrays = records.select(
        F.col("record_id").alias("doc_id"),
        F.regexp_extract_all("name", F.lit("[0-9]+"), 0).alias("sh"),
    )
    cands = _lsh_candidates(_band_rows(_rowlocal_signatures(shingle_arrays))).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    a = records.alias("a")
    b = records.alias("b")
    pairs = (
        cands.join(a, F.col("id_a") == F.col("a.record_id"))
        .join(b, F.col("id_b") == F.col("b.record_id"))
    )
    return (
        _score_aliased_pairs(pairs)
        .filter(F.col("overall_score") >= GROUP_THRESHOLD)
        .orderBy("id_a", "id_b")
    )


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Each round every node adopts the minimum label among itself and its
    neighbors; fixpoint = components labeled by their minimum node id.
    Deterministic (unlike the reference's insertion-order greedy
    grouping — SURVEY.md §7.7.1). Locally checkpointed each round to
    keep lineage bounded; rounds = graph diameter (tiny for blocked ER
    graphs).

    Shaped for scale three ways:

    - only edge-endpoint nodes iterate — isolated nodes (the vast
      majority of a near-dup corpus) can never change label, so they
      never enter a round's shuffle and are unioned back label=id at
      the end;
    - self-loops folded into the edge list make each round one
      join + one groupBy (min over neighbors∪self), instead of
      join + groupBy + a second left join to re-attach own labels;
    - convergence is read off the monotone invariant sum(label):
      labels only ever decrease, so the round changed nothing iff the
      checksum is unchanged — an O(1)-result aggregate on the frame
      the round already materialized, no old-vs-new comparison join;
    - deep graphs get pointer doubling: blocked near-dup graphs are
      near-cliques (1-2 rounds), so early rounds are plain single-hop
      propagation, but from round 2 each iteration also jumps
      label := label(label) — path halving, making convergence
      O(log diameter) instead of O(diameter) for chain-shaped
      components. Non-convergence inside the round cap raises instead
      of silently returning partial labels.

    ``nodes``: one column ``id``; ``edges``: columns ``id_a``, ``id_b``.
    ``id`` must be numeric (the checksum relies on it). Returns
    (id, label).
    """
    # dup-tolerant symmetric closure with self-loops: min-aggregation
    # doesn't care about duplicate edges, so no distinct pass anywhere.
    # One explode pass (not a 4-way union — which would multiply the
    # map-task count by 4) then hash-partition by the per-round join
    # key; AQE right-sizes the partition count for the data volume
    a, b = F.col("id_a"), F.col("id_b")
    und = checkpoint(
        edges.select(
            F.explode(
                F.array(
                    F.struct(a.alias("src"), b.alias("dst")),
                    F.struct(b.alias("src"), a.alias("dst")),
                    F.struct(a.alias("src"), a.alias("dst")),
                    F.struct(b.alias("src"), b.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("src")
    )

    def _checksum(frame):
        return frame.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    # round 0 is a bare groupBy — every endpoint's first label is the
    # min over neighbors∪self, no join against an init frame needed
    labels = checkpoint(
        und.groupBy("dst")
        .agg(F.min("src").alias("label"))
        .select(F.col("dst").alias("id"), "label")
    )
    checksum = _checksum(labels)

    # every frame in the propagation loop is endpoint-sized (one row
    # per edge endpoint, constant across rounds); below the gate the
    # label frame broadcasts into the per-round edge join and the
    # doubling self-join, so the checkpointed edge frame — whose hash
    # partitioning does NOT survive localCheckpoint — is probed in
    # place instead of re-exchanged and sorted every round
    spark = edges.sparkSession
    n_endpoints = labels.count()
    parts = session.loop_partitions(spark, -(-n_endpoints // 250_000))
    bcast_labels = session.fits_broadcast(spark, n_endpoints)
    converged = False
    with session.scoped_conf(spark, session.SHUFFLE_PARTITIONS, parts):
        for rnd in range(24):  # doubling: covers diameter ~2^22 chains
            label_side = F.broadcast(labels) if bcast_labels else labels
            stepped = (
                und.join(label_side, und.src == labels.id)
                .groupBy("dst")
                .agg(F.min("label").alias("label"))
                .select(F.col("dst").alias("id"), "label")
            )
            if rnd >= 2:
                # pointer doubling — adaptive like the ngram skew
                # guard: pay the extra self-join only when the graph is
                # provably not a near-clique (it didn't converge in 2
                # plain rounds). Every label value is itself an
                # endpoint id (labels start as ids and propagate), so
                # the left join always hits.
                x, y = stepped.alias("x"), stepped.alias("y")
                y_side = F.broadcast(y) if bcast_labels else y
                stepped = x.join(
                    y_side, F.col("x.label") == F.col("y.id"), "left"
                ).select(
                    F.col("x.id").alias("id"),
                    F.least(
                        F.col("x.label"),
                        F.coalesce(F.col("y.label"), F.col("x.label")),
                    ).alias("label"),
                )
            labels = checkpoint(stepped)
            stepped_sum = _checksum(labels)
            if stepped_sum == checksum:
                converged = True
                break
            checksum = stepped_sum
    if not converged:
        raise RuntimeError(
            "connected_components did not converge within the round cap"
        )
    # isolated nodes: own component — anti-join against the (small,
    # materialized) endpoint labels, which the planner broadcasts
    isolated = nodes.join(labels, "id", "left_anti").select(
        "id", F.col("id").alias("label")
    )
    return labels.union(isolated)


def _cluster_labels(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(records, pairs, cluster labels) computed once — pairs carry the
    blocked fuzzy-scoring self-join (the expensive stage), so they are
    persisted: consolidation consumes them twice (edges for CC, scores
    for confidence banding) and would otherwise run the scoring twice.
    The propagation labels are materialized by CC's checkpoints, but
    the returned clusters frame also carries the isolated-node
    anti-join against ``records`` — so records is pinned too: it feeds
    CC's node set, that anti-join (replayed per clusters consumer —
    er_consolidated reads clusters three times), and er_consolidated's
    own record join, and each unpinned read would replay the
    customer×nation 4-way projection union (code-review r8)."""
    records = pin(executive_records(spark, sf_dir))
    pairs = pin(candidate_pairs(spark, sf_dir))
    edges = pairs.filter(F.col("overall_score") >= GROUP_THRESHOLD)
    labels = connected_components(
        records.select(F.col("record_id").alias("id")), edges
    )
    clusters = labels.select(
        F.col("id").alias("record_id"), F.col("label").alias("cluster_id")
    )
    return records, pairs, clusters


def er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment for every record (cluster_id = min record_id
    reachable through edges with overall_score >= 75)."""
    _, _, clusters = _cluster_labels(spark, sf_dir)
    return clusters.orderBy("record_id")


def completeness_count(
    cols: tuple[str, ...] = ("name", "title", "company", "address"),
):
    """Best-record completeness: the count of RAW-truthy fields — the
    reference's ``max(records, key=lambda r: sum(1 for v in r.values()
    if v and not pd.isna(v)))`` (executive_review_tool.py:540). A
    whitespace-only field is PRESENT here (truthy string), unlike the
    scoring/collection presence rule — the r9 presence decision
    record; oracle twin: ``er_plans._NONNULL``."""
    return sum(
        F.when(F.col(c).isNotNull() & (F.col(c) != ""), 1).otherwise(0)
        for c in cols
    )


def collect_normalized_present(col):
    """Sorted distinct normalized values of ``col``, '|'-joined,
    keeping only values whose NORMALIZED form is non-empty — the
    reference's ``if company:`` after normalize_string (:330-333) and
    stripped-title truthiness (:560-562). Oracle twin:
    ``er_plans._collect_present``.

    Documented deviations from the reference (r9 presence decision
    record): (1) the reference's raw values keep literal 'nan'/'none'
    strings, this engine's normalized-emptiness rule drops only
    actually-empty normalizations; (2) CASING — the reference collects
    titles RAW-stripped, case-preserved (:560-562), while this column
    stores the lowercased/normalized form for both companies and
    titles. The presence rule matches the reference either way, and
    BOTH engines (this function and the oracle twin) state the same
    normalized form, so hash parity is unaffected (ADVICE r9)."""
    normed = normalize_string(col)
    return F.array_join(
        F.array_sort(F.collect_set(F.when(normed != "", normed))), "|"
    )


def er_consolidated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster consolidation with reference semantics:

    - best record = most non-null fields, ties to lowest record_id
      (ref: ``max(records, key=non-null count)`` :540);
    - companies/titles = sorted distinct normalized values (:546-562),
      emitted as '|'-joined strings so the result is hash-comparable;
    - grouped_from = cluster size (:550);
    - all_variations = every original record as JSON array-of-struct
      (:564-572), sorted by record_id;
    - confidence = banding over the mean pairwise score of the cluster
      (:353-377), where singletons have no pairs → 'high' score 100
      (the reference only bands multi-record groups; singletons upload
      directly).
    """
    records, pairs, clusters = _cluster_labels(spark, sf_dir)
    clustered = records.join(clusters, "record_id")
    # PRESENCE DECISION RECORD (code-review r9, ADVICE r8): the
    # consolidation stages follow the reference rule-by-rule rather
    # than one blanket rule, because the reference itself uses two:
    # - best-record completeness counts RAW truthiness — ``if v and
    #   not pd.isna(v)`` (executive_review_tool.py:540) — so a
    #   whitespace-only field counts as PRESENT here (the pre-r9
    #   trim() guard counted it absent, ASCII-space-only at that);
    # - companies/titles collect by NORMALIZED non-emptiness — ``if
    #   company:`` after normalize_string (:330-333) and the stripped
    #   title truthiness (:560-562), the same rule pair scoring uses.
    # Both stated identically in the DuckDB oracle (er_plans._NONNULL
    # / the companies+titles FILTERs). Documented deviation: the
    # reference also drops title strings spelling 'nan'/'none' — a
    # pandas stringification artifact; in a typed engine NULL is NULL
    # and a literal 'nan' title is data.
    nonnull_cnt = completeness_count()
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("nonnull_cnt"), F.asc("record_id")
    )
    best = (
        clustered.withColumn("nonnull_cnt", nonnull_cnt)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("name").alias("best_name"),
            F.col("title").alias("best_title"),
        )
    )
    members = clustered.groupBy("cluster_id").agg(
        F.count("*").alias("grouped_from"),
        collect_normalized_present(F.col("company")).alias("companies"),
        collect_normalized_present(F.col("title")).alias("titles"),
        # A8: every original record the group was consolidated from,
        # kept as an array of structs (ref executive_review_tool.py:
        # 564-572) — serialized to JSON (sorted by unique record_id)
        # so the column stays hash-comparable across engines
        F.to_json(
            F.sort_array(
                F.collect_list(
                    F.struct("record_id", "name", "title", "company", "address")
                )
            ),
            {"ignoreNullFields": "false"},
        ).alias("all_variations"),
    )
    # exact_avg over the 6-decimal scores: order-independent, so the
    # cluster mean is bit-identical to the oracle's. Only pairs whose
    # BOTH endpoints landed in the same cluster contribute. NOTE:
    # that is NOT the same set as pairs >= GROUP_THRESHOLD — a
    # transitively-clustered pair can score BELOW the threshold (A-B
    # 80, B-C 80, A-C 60: all one component, and A-C's 60 counts) and
    # must still contribute, matching the reference's all-in-group-
    # pairs average (executive_review_tool.py:347-377; code-review r8
    # corrected the earlier comment that claimed sub-threshold pairs
    # always cross clusters).
    pair_scores = (
        pairs.join(
            clusters.select(
                F.col("record_id").alias("id_a"), F.col("cluster_id").alias("cluster_a")
            ),
            "id_a",
        )
        .join(
            clusters.select(
                F.col("record_id").alias("id_b"), F.col("cluster_id").alias("cluster_b")
            ),
            "id_b",
        )
        .filter(F.col("cluster_a") == F.col("cluster_b"))
        .groupBy(F.col("cluster_a").alias("cluster_id"))
        .agg(exact_avg(F.col("overall_score"), scale=6).alias("avg_similarity"))
    )
    out = (
        members.join(best, "cluster_id")
        .join(pair_scores, "cluster_id", "left")
        .select(
            "cluster_id",
            "best_name",
            "best_title",
            "grouped_from",
            "companies",
            "titles",
            "all_variations",
            F.coalesce(F.col("avg_similarity"), F.lit(100.0)).alias("avg_similarity"),
        )
        .withColumn(
            "confidence",
            F.when(F.col("avg_similarity") >= HIGH_THRESHOLD, "high")
            .when(F.col("avg_similarity") >= GROUP_THRESHOLD, "uncertain")
            .otherwise("low"),
        )
    )
    return out.orderBy("cluster_id")


def records_stringified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 stringify-all projection (ref executive_review_tool.py:422):
    each record rendered as a JSON object containing only its non-null
    fields, every value a string — ``to_json``'s default null-skipping
    is exactly the reference's ``if not isna(v)`` filter."""
    records = executive_records(spark, sf_dir)
    return records.select(
        "record_id",
        F.to_json(F.struct("name", "title", "company", "address")).alias(
            "record_json"
        ),
    ).orderBy("record_id")


def er_approved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approved-group gate (P7, ref executive_review_tool.py:531-532):
    only groups present in an approvals table survive to upload.

    The reference's approvals come from an interactive review; here the
    approvals table is derived deterministically (every 'high' group
    auto-approves; the reviewer approves every other 'uncertain' group
    by customer-key parity), and the gate itself is the operator under
    test: a LEFT SEMI join, which at scale streams the consolidation
    output against a broadcast of the (small) approvals table without
    duplicating or widening rows.

    The parity rule keys on ``cluster_id // 10`` (= the customer key,
    since cluster labels are min record ids and record_id =
    custkey*10 + ordinal). r2's rule keyed on ``cluster_id % 2``,
    which is ALWAYS 0 for multiples of 10 — a gate that provably never
    dropped a row (VERDICT r2 #7). This one rejects every
    odd-customer uncertain cluster, asserted by a property test.
    """
    # persist: the semi join consumes the consolidation output twice
    # (probe side + approvals build side) — without this the whole ER
    # pipeline would execute twice
    consolidated = pin(er_consolidated(spark, sf_dir))
    approvals = consolidated.filter(
        (F.col("confidence") == "high")
        | (
            (F.col("confidence") == "uncertain")
            & (F.floor(F.col("cluster_id") / 10) % 2 == 0)
        )
    ).select("cluster_id")
    return consolidated.join(
        F.broadcast(approvals), "cluster_id", "left_semi"
    ).orderBy("cluster_id")


def er_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Person → company link fan-out (ref :578-586): one row per
    (consolidated person, associated company) via explode — the
    Spark-native replacement for the reference's per-person HTTP loop."""
    consolidated = er_consolidated(spark, sf_dir)
    return (
        consolidated.select(
            "cluster_id",
            "best_name",
            F.explode(F.split("companies", r"\|")).alias("company"),
        )
        .filter(F.col("company") != "")
        .orderBy("cluster_id", "company")
    )
