"""End-to-end corpus curation for training-data pipelines: the
composition queries a user actually runs over a 100 TB corpus —
quality gate -> exact-dup keeper selection -> near-dup loser removal,
and deterministic per-language stratified sampling.

Both stay oracle-checkable: every stage (quality score, md5 keeper
window, n-gram Jaccard pairs, hex-digit hash buckets) is reproducible
in ANSI SQL, so the driver hash-verifies the full composition, not
just the pieces.

Scale shape:

- the quality gate is the narrow zero-shuffle projection from
  ``operators.text`` — it streams through whole-stage codegen and is
  the first thing to run so later shuffles see only survivors;
- exact-dup keeper selection is one hash-shuffle on md5(text) (window
  min over the hash group);
- near-dup losers come from the LSH-bounded pair generator
  (``operators.dedup``) — a tiny frame (pairs above threshold), so the
  anti-join broadcasts;
- stratified sampling is stateless per-row arithmetic on a salted
  md5 bucket: no shuffle, no RNG, reproducible on any cluster layout,
  and rerunning with a different salt draws an independent sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pac_spark import catalog
from pac_spark.operators.dedup import ngram_jaccard_pairs
from pac_spark.operators.text import stats_frame

__all__ = [
    "contrastive_negatives",
    "NEGATIVES_SQL",
    "corpus_curation",
    "stratified_sample",
    "token_budget_mix",
    "decontaminate",
    "training_shards",
    "sequence_packing",
    "source_overlap_matrix",
    "SOURCE_OVERLAP_SQL",
    "epoch_interleave_positions",
    "priority_sample_docs",
    "PRIORITY_SAMPLE_SQL",
    "PRIORITY_SAMPLE_K",
    "EPOCH_INTERLEAVE_SQL",
    "source_budget_waterfill",
    "WATERFILL_SQL_TAIL",
    "corpus_split_assignment",
    "SPLIT_SQL",
    "hrw_shard_rebalance",
    "HRW_SQL",
    "HRW_SHARDS",
]

# quality gate: keeps ~75% at the synthetic corpus' quality
# distribution (median 0.64) — chosen so the gate provably drops rows
# at every test SF (non-vacuity asserted in test_properties)
CURATION_MIN_QUALITY = 0.6

# per-language sampling rates, permille. en is ~40% of the corpus —
# downsample it 2.5x; everything else keeps 80%. Unlisted languages
# pass through untouched.
SAMPLE_PERMILLE = {"de": 800, "en": 400, "es": 800, "fr": 800, "zh": 800}
SAMPLE_DEFAULT_PERMILLE = 1000
SAMPLE_SALT = "corpus_sample_v1"


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated training corpus: quality-gated, exact-dup-deduplicated,
    near-dup-deduplicated document set.

    Keep a document iff
    - quality_score >= CURATION_MIN_QUALITY and not is_short,
    - it is the minimum doc_id of its exact-text (md5) group,
    - it has no near-duplicate (n-gram Jaccard >= threshold) with a
      smaller doc_id — for a dup chain (1,2),(2,3) this keeps only 1:
      any doc with a smaller near-dup partner is a loser.

    One pass over ``text``: the content hash is fused into the same
    scan as the quality stats, the gate filters at the scan, and the
    keeper window shuffles only the narrow gated stats frame — never
    an O(N) keeper list through a join. Gating before keeper selection
    is exact: quality is a pure function of text, so every member of
    an exact-dup group passes or fails together and the group minimum
    among survivors equals the overall group minimum whenever any
    member survives.
    """
    base = catalog.load(spark, sf_dir, "documents").withColumn(
        "text_hash", F.md5(F.encode("text", "UTF-8"))
    )
    gated = stats_frame(base, extra=("text_hash",)).filter(
        (F.col("quality_score") >= CURATION_MIN_QUALITY) & (~F.col("is_short"))
    )
    keepers = gated.withColumn(
        "keep_id", F.min("doc_id").over(W.partitionBy("text_hash"))
    ).filter(F.col("doc_id") == F.col("keep_id"))
    neardup_losers = (
        ngram_jaccard_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        keepers.join(neardup_losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_tokens", "quality_score")
        .orderBy("doc_id")
    )


# decontamination: a training doc sharing >= this fraction of its
# distinct 3-gram shingles with the eval set is contaminated. The
# synthetic corpus' near-dups of eval docs sit at containment >= 0.95
# at every SF; unrelated docs stay under ~0.25.
CONTAMINATION_THRESHOLD = 0.5
EVAL_SET_MOD = 50  # doc_id % 50 == 0 plays the held-out benchmark
# broadcast guard: distinct eval shingles above this count take the
# shuffle join instead — an unconditional broadcast of a "benchmark"
# that turns out corpus-sized would OOM every executor (VERDICT r3 #6).
# 2M shingle strings ~ a few hundred MB serialized: safely inside a
# multi-GB executor, safely above any real benchmark suite.
EVAL_BROADCAST_MAX_SHINGLES = 2_000_000


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training doc, the fraction of its
    distinct 3-gram shingles that appear anywhere in the eval set
    (n-gram containment — the standard train/test overlap check).

    Scale shape: the eval side is a *benchmark* — tiny next to the
    corpus — so its distinct shingles broadcast; the training side is
    one explode + broadcast-join + per-doc count, a single shuffle on
    doc_id. The broadcast is guarded, not assumed: the eval shingle
    set is persisted and counted (one cheap job over the already-
    shuffled distinct), and an eval side above
    ``EVAL_BROADCAST_MAX_SHINGLES`` falls back to an ordinary shuffle
    join — same rows, no executor OOM. Docs too short to shingle
    (< 3 tokens) have no containment defined and are excluded,
    mirroring the oracle.
    """
    from pac_spark.cache import pin
    from pac_spark.operators.dedup import _shingle_sets

    sets = pin(_shingle_sets(spark, sf_dir))
    is_eval = F.col("doc_id") % EVAL_SET_MOD == 0
    train = sets.filter(~is_eval).filter(F.size("sh") > 0)
    eval_shingles = pin(
        sets.filter(is_eval).select(F.explode("sh").alias("shingle")).distinct()
    )
    small_enough = eval_shingles.count() <= EVAL_BROADCAST_MAX_SHINGLES
    eval_side = F.broadcast(eval_shingles) if small_enough else eval_shingles
    shared = (
        train.select("doc_id", F.explode("sh").alias("shingle"))
        .join(eval_side, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_with_eval"))
    )
    containment = F.col("shared_with_eval") / F.col("n_shingles")
    return (
        train.select("doc_id", F.size("sh").alias("n_shingles"))
        .join(shared, "doc_id", "left")
        .withColumn(
            "shared_with_eval", F.coalesce("shared_with_eval", F.lit(0).cast("long"))
        )
        .select(
            "doc_id",
            "n_shingles",
            "shared_with_eval",
            F.round(containment, 8).alias("containment"),
            (containment >= CONTAMINATION_THRESHOLD).alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


# per-language token budget for the training-mix query; the synthetic
# corpus carries 3.5k-12k tokens per language at every test SF, so the
# budget provably cuts inside each language (non-vacuity tested)
TOKEN_BUDGET_PER_LANG = 2000


def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix selection: per language, keep the highest-quality
    documents until a token budget fills (running inclusive sum over
    (quality desc, doc_id asc) order stays <= budget).

    The semantic spec is a per-language ordered cumulative sum — but a
    window partitioned by language puts an entire language in ONE task,
    the textbook scale killer for corpus-sized data. The plan here is
    the two-pass histogram-threshold equivalent:

    1. aggregate token sums per (lang, quality bin) — a map-side-combine
       shuffle down to a tiny frame (langs x ~30 bins);
    2. running-sum the BIN frame (window over the tiny aggregate) to
       split bins into fully-funded ones and the single boundary bin
       per language;
    3. keep fully-funded bins via a broadcast semi-join (no sort of the
       big frame anywhere), and resolve only the boundary bin's docs
       with a doc-level window — a per-language handful of rows.

    Because quality bins are monotone in quality, the kept set is
    IDENTICAL to the naive per-doc window — the DuckDB oracle states
    the naive spec, so the hash check proves the scale-safe plan
    implements it exactly.
    """
    from pac_spark.cache import pin

    budget = F.lit(TOKEN_BUDGET_PER_LANG)
    stats = stats_frame(
        catalog.load(spark, sf_dir, "documents")
    ).select("doc_id", "lang", "n_tokens", "quality_score")
    # pinned: the tokenize+quality scan feeds THREE consumers (the bin
    # aggregate, the funded-bin semi-join, the boundary resolve) —
    # without the pin each one re-runs the corpus scan (code-review r7)
    binned = pin(stats.withColumn("qbin", F.round("quality_score", 2)))

    bin_agg = binned.groupBy("lang", "qbin").agg(
        F.sum("n_tokens").alias("bin_tokens")
    )
    wb = W.partitionBy("lang").orderBy(F.desc("qbin"))
    bin_cum = bin_agg.withColumn(
        "cum_before", F.sum("bin_tokens").over(wb) - F.col("bin_tokens")
    )
    full_bins = bin_cum.filter(
        F.col("cum_before") + F.col("bin_tokens") <= budget
    ).select("lang", "qbin")
    boundary = bin_cum.filter(
        (F.col("cum_before") < budget)
        & (F.col("cum_before") + F.col("bin_tokens") > budget)
    ).select("lang", "qbin", "cum_before")

    kept_full = binned.join(F.broadcast(full_bins), ["lang", "qbin"], "left_semi")
    wd = W.partitionBy("lang").orderBy(F.desc("quality_score"), F.asc("doc_id"))
    kept_boundary = (
        binned.join(F.broadcast(boundary), ["lang", "qbin"])
        .withColumn("cum", F.col("cum_before") + F.sum("n_tokens").over(wd))
        .filter(F.col("cum") <= budget)
    )
    cols = ["doc_id", "lang", "n_tokens", "quality_score"]
    return (
        kept_full.select(*cols)
        .unionByName(kept_boundary.select(*cols))
        .orderBy("doc_id")
    )


def _sample_bucket(doc_id_col, salt: str = SAMPLE_SALT):
    """Deterministic bucket 0..999: first 4 hex digits of a salted md5
    of the doc id, mod 1000. Pure column arithmetic — identical on any
    partitioning, and exactly reproducible digit-wise in the oracle.
    Distinct salts draw independent samples (stratified sampling and
    the IVF index fit must not share one)."""
    h = F.md5(
        F.encode(F.concat(doc_id_col.cast("string"), F.lit(":" + salt)), "UTF-8")
    )
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 1000).alias("bucket")


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling: keep a doc iff its
    salted hash bucket falls under its language's permille rate."""
    docs = catalog.load(spark, sf_dir, "documents")
    rate = F.lit(SAMPLE_DEFAULT_PERMILLE)
    for lang, permille in sorted(SAMPLE_PERMILLE.items()):
        rate = F.when(F.col("lang") == lang, F.lit(permille)).otherwise(rate)
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            _sample_bucket(F.col("doc_id")),
            rate.cast("int").alias("rate_permille"),
        )
        .filter(F.col("bucket") < F.col("rate_permille"))
        .orderBy("doc_id")
    )


# shard count is a layout dial: O(cluster write parallelism), not a
# constant — at 100 TB you'd run thousands; 32 keeps the per-shard row
# streams non-trivial at the test scale factors
N_TRAINING_SHARDS = 32
SHARD_SALT = "training_shards_v1"


def _with_shard_layout(docs: DataFrame) -> DataFrame:
    """Append the deterministic shard layout columns ``_h`` (salted
    md5 of doc_id) and ``shard_id`` — ONE spelling of the hash both
    :func:`training_shards` and :func:`sequence_packing` order by
    (code-review r7: they carried byte-identical copies whose
    required equality was only a comment). The per-shard order is
    (_h, doc_id); editing this function changes BOTH layouts
    together, which is the contract."""
    h = F.md5(
        F.encode(
            F.concat(F.col("doc_id").cast("string"), F.lit(":" + SHARD_SALT)),
            "UTF-8",
        )
    )
    return docs.withColumn("_h", h).withColumn(
        "shard_id",
        (F.conv(F.substring("_h", 1, 4), 16, 10).cast("int") % N_TRAINING_SHARDS),
    )


def training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-ready shard layout: assign every document a
    deterministic shard and a deterministic position within it — the
    "global shuffle" a training run reads, reproducible bit-for-bit
    on any cluster layout (no rand(), no partition-index dependence).

    Shard = salted-md5 bucket of doc_id (uniform, stateless); position
    = rank of the full hash within the shard (hash order ≈ shuffled
    order, which is the point: adjacent source documents land far
    apart). The plan is exactly the writer's shape — one shuffle on
    shard_id, sort within shard — expressed as a window so the oracle
    can check it. One shard is one task's sort (externally spillable);
    shard count scales with the cluster, so no task ever holds more
    than (corpus / shards) rows."""
    docs = catalog.load(spark, sf_dir, "documents")
    with_hash = _with_shard_layout(docs.select("doc_id", "lang", "source"))
    order = W.partitionBy("shard_id").orderBy("_h", "doc_id")
    return (
        with_hash.withColumn("position", F.row_number().over(order).cast("int"))
        .select("doc_id", "lang", "source", "shard_id", "position")
        .orderBy("shard_id", "position")
    )


SEQ_LEN = 512


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing: the layout step between
    a curated corpus and a training run. Documents are laid head-to-
    tail along each shard's deterministic order and cut into fixed
    ``SEQ_LEN``-token training sequences; every document gets the
    (sequence, offset) where its tokens BEGIN — the index map a data
    loader needs to reassemble batches (documents may span sequence
    boundaries, the GPT-style packing that wastes zero pad tokens).

    Deterministic by construction: shard and order are the salted-md5
    layout of :func:`training_shards` (no rand(), partition-count
    invariant), and the pack arithmetic is one per-shard running-sum
    window — ``start = cum - n_tokens``, ``seq = start div SEQ_LEN``,
    ``offset = start % SEQ_LEN`` — exact BIGINT everywhere, so the
    DuckDB oracle replays it bit-for-bit. Scale: one shuffle on
    shard_id (the same one the shard writer pays), spillable
    per-shard window; shard count scales with the cluster.
    """
    from pac_spark.operators.text_core import tokens

    docs = catalog.load(spark, sf_dir, "documents")
    with_hash = _with_shard_layout(
        docs.select(
            "doc_id",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        )
    )
    run = (
        W.partitionBy("shard_id")
        .orderBy("_h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = with_hash.withColumn(
        "_start", F.sum("n_tokens").over(run) - F.col("n_tokens")
    )
    return packed.select(
        "doc_id",
        "shard_id",
        "n_tokens",
        F.expr(f"_start div {SEQ_LEN}").cast("int").alias("seq_in_shard"),
        (F.col("_start") % SEQ_LEN).cast("int").alias("seq_offset"),
    ).orderBy("shard_id", "seq_in_shard", "seq_offset", "doc_id")


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive training pairs)

NEG_K = 4  # negatives per anchor
# candidate hash buckets: a tuning knob, NOT adaptive — per-anchor join
# work is K * |D| / NEG_BUCKETS, so a 100 TB deployment raises it in
# proportion to the corpus (keeping each bucket at a target row count),
# exactly like shuffle-partition sizing; 16 matches the test corpus
NEG_BUCKETS = 16


def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K deterministic, DISTINCT negative examples per anchor vector
    for contrastive training: each anchor draws up to ``NEG_K``
    pseudo-random candidates with a DIFFERENT label — reproducible on
    any cluster layout, no RNG, no all-pairs join.

    The salted-md5 bucket idiom (``functions.hashing``) is applied
    twice:

    - every candidate lands in exactly ONE of ``NEG_BUCKETS`` hash
      buckets (a zero-shuffle projection);
    - each anchor hashes ``NEG_K`` slot salts to target buckets,
      collapsed to the DISTINCT bucket set before the join (one
      shuffle of at most |A|·K bucket-probe rows against |D|/B-sized
      buckets — never anchors × corpus). The pooled candidates are
      ranked by ONE anchor-salted hash and the first K kept by a
      bounded window — so the K negatives are distinct rows of the
      pool BY CONSTRUCTION (a slot-wise argmin could hand two slots
      the same winner when their buckets coincide).

    An anchor whose pooled buckets hold fewer than K different-label
    candidates yields fewer rows — stated semantics, pinned by the
    crafted test.
    """
    from pac_spark.functions.hashing import md5_bucket

    emb = catalog.load(spark, sf_dir, "embeddings").select("vec_id", "label")
    cands = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        md5_bucket(
            F.concat(F.lit("neg|"), F.col("vec_id").cast("string")), NEG_BUCKETS
        ).alias("bucket"),
    )
    probes = (
        emb.select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.explode(F.array(*[F.lit(j) for j in range(NEG_K)])).alias("j"),
        )
        .select(
            "anchor_id",
            "anchor_label",
            md5_bucket(
                F.concat(
                    F.lit("slot|"),
                    F.col("anchor_id").cast("string"),
                    F.lit("|"),
                    F.col("j").cast("string"),
                ),
                NEG_BUCKETS,
            ).alias("bucket"),
        )
        .distinct()
    )
    joined = probes.join(cands, "bucket").filter(
        (F.col("cand_label") != F.col("anchor_label"))
        & (F.col("cand_id") != F.col("anchor_id"))
    )
    rh = F.md5(
        F.encode(
            F.concat(
                F.lit("rank|"),
                F.col("anchor_id").cast("string"),
                F.lit("|"),
                F.col("cand_id").cast("string"),
            ),
            "UTF-8",
        )
    )
    w = W.partitionBy("anchor_id").orderBy("rh", "cand_id")
    return (
        joined.withColumn("rh", rh)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= NEG_K)
        .select(
            "anchor_id",
            (F.col("rn") - 1).alias("neg_slot"),
            F.col("cand_id").alias("neg_id"),
            F.col("cand_label").alias("neg_label"),
        )
        .orderBy("anchor_id", "neg_slot")
    )


def NEGATIVES_SQL() -> str:
    """Registered in the r7 rotation (gate: tests/test_staged_specs.py):
    identical double-salted bucket/rank md5 arithmetic, digit-wise
    (emitted by the same ``functions.hashing`` module the Spark side
    uses, so the two forms cannot drift)."""
    from pac_spark.functions.hashing import md5_bucket_sql

    cand_b = md5_bucket_sql("'neg|' || CAST(vec_id AS VARCHAR)", NEG_BUCKETS)
    slot_b = md5_bucket_sql(
        "'slot|' || CAST(anchor_id AS VARCHAR) || '|' || CAST(j AS VARCHAR)",
        NEG_BUCKETS,
    )
    return f"""
WITH cands AS (
    SELECT vec_id AS cand_id, label AS cand_label, {cand_b} AS bucket
    FROM embeddings
),
slots AS (
    SELECT e.vec_id AS anchor_id, e.label AS anchor_label, j.j
    FROM embeddings e
    CROSS JOIN (SELECT UNNEST(RANGE({NEG_K})) AS j) j
),
probes AS (
    SELECT DISTINCT anchor_id, anchor_label, {slot_b} AS bucket FROM slots
),
joined AS (
    SELECT p.anchor_id, c.cand_id, c.cand_label,
           md5('rank|' || CAST(p.anchor_id AS VARCHAR) || '|'
               || CAST(c.cand_id AS VARCHAR)) AS rh
    FROM probes p JOIN cands c USING (bucket)
    WHERE c.cand_label <> p.anchor_label AND c.cand_id <> p.anchor_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                 ORDER BY rh, cand_id) AS rn
    FROM joined
)
SELECT anchor_id, CAST(rn - 1 AS INT) AS neg_slot,
       cand_id AS neg_id, cand_label AS neg_label
FROM ranked WHERE rn <= {NEG_K}
ORDER BY anchor_id, neg_slot
"""


# ---------------------------------------------------------------------------
# Cross-source overlap matrix


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle-set Jaccard between corpus SOURCES — the
    contamination/provenance readout run before mixing sources into a
    training corpus (is src7 a mirror of src3?).

    Set algebra on exact integers: per source the distinct 3-gram
    shingle set; ``|A∩B|`` from an inverted shingle index (per-shingle
    fan-out bounded by the SOURCE count squared, never data-sized);
    ``|A∪B| = |A| + |B| - |A∩B|``; one double division at the end.

    Scale shape: documents shuffle once to build distinct
    (source, shingle) rows; the equi-self-join on shingle is the same
    inverted-index pattern as ``dedup.ngram_jaccard_pairs``; source
    sizes are a SOURCE-count-sized frame that broadcasts twice. With
    thousands of sources the pair frame grows quadratically in sources
    only — at 20 sources it is 190 rows at any corpus size.
    """
    from pac_spark.operators.text_core import distinct_shingled

    from pac_spark.cache import pin

    docs = catalog.load(spark, sf_dir, "documents")
    # pinned: the data-sized distinct feeds sizes AND both self-join
    # sides — without the pin the shingle scan runs three times
    # explode_outer, not explode: plain explode over the attribute
    # makes Catalyst infer size(sh) > 0 and push it below the
    # projection with the whole shingle expression re-inlined — every
    # row would tokenize+shingle twice (the dedup._doc_shingles
    # lesson; code-review r7 caught this copy missing it)
    sh = pin(
        distinct_shingled(docs.select("source", "text"), "text")
        .select("source", F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sz = lambda side: F.broadcast(  # noqa: E731
        sizes.select(
            F.col("source").alias(f"src_{side}"),
            F.col("n_shingles").alias(f"n_{side}"),
        )
    )
    return (
        inter.join(sz("a"), "src_a")
        .join(sz("b"), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


SOURCE_OVERLAP_SQL = """
WITH toks AS (
    SELECT source, string_split(text, ' ') AS t FROM documents
), sh AS (
    SELECT DISTINCT source,
           t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
    FROM toks, UNNEST(range(1, GREATEST(len(t) - 1, 1))) AS u(i)
    WHERE len(t) >= 3
), sizes AS (
    SELECT source, COUNT(*) AS n_shingles FROM sh GROUP BY source
), inter AS (
    SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2
)
SELECT src_a, src_b,
       CAST(sa.n_shingles AS BIGINT) AS n_a,
       CAST(sb.n_shingles AS BIGINT) AS n_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE)
           / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# Deterministic epoch ordering (shuffle + balanced source interleave)

EPOCH_SALT = "epoch1|"


def epoch_interleave_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document its position in a training epoch:
    shuffled WITHIN each source by a salted hash (deterministic,
    replayable — no RNG state), and sources interleaved round-robin
    by taking each source's r-th shuffled doc before any source's
    (r+1)-th. A model trained off this order sees every source
    continuously instead of in corpus-concatenation clumps, and a
    restarted job reproduces the exact order from the salt alone.

    The epoch position is a dense global rank over the lexicographic
    (within_pos, source) order. Ranking by a global window is the
    single-task scale-killer, so the rank is decomposed exactly like
    ``text._quantile_normalize``: docs strictly ahead = the two-phase
    prefix sum of per-within_pos counts (``functions/prefix.py``),
    plus the doc's tie-rank among sources sharing its within_pos (a
    window over ≤ n_sources rows). The ORACLE deliberately uses the
    naive global ROW_NUMBER — formulation-diverse proof that the
    decomposition is the same total order.
    """
    from pac_spark.cache import pin
    from pac_spark.functions.prefix import global_running_sums

    # NULL-source docs excluded in BOTH engines: a doc with no source
    # has no round-robin lane, and the engines disagree on where a
    # NULL source sorts in the (within_pos, source) interleave order
    docs = (
        catalog.load(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .filter(F.col("source").isNotNull())
    )
    k = F.md5(
        F.encode(F.concat(F.lit(EPOCH_SALT), F.col("doc_id").cast("string")), "UTF-8")
    )
    ws = W.partitionBy("source").orderBy("k", "doc_id")
    base = pin(
        docs.select("doc_id", "source", k.alias("k"))
        .select(
            "doc_id",
            "source",
            F.row_number().over(ws).cast("long").alias("within_pos"),
        )
    )
    cnt = base.groupBy("within_pos").agg(F.count(F.lit(1)).alias("cnt"))
    pref = global_running_sums(
        cnt,
        "within_pos",
        ["cnt"],
        bucket=F.floor(F.col("within_pos") / 1024).cast("long"),
    )
    before = pref.select(
        "within_pos", (F.col("run_cnt") - F.col("cnt")).alias("n_before")
    )
    wr = W.partitionBy("within_pos").orderBy("source")
    return (
        base.withColumn("tie", F.row_number().over(wr).cast("long"))
        .join(before, "within_pos")
        .select(
            "doc_id",
            "source",
            "within_pos",
            (F.col("n_before") + F.col("tie")).alias("epoch_pos"),
        )
        .orderBy("doc_id")
    )


EPOCH_INTERLEAVE_SQL = f"""
WITH d AS (
    SELECT doc_id, source,
           md5('{EPOCH_SALT}' || CAST(doc_id AS VARCHAR)) AS k
    FROM documents WHERE source IS NOT NULL
),
rr AS (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY k, doc_id)
               AS within_pos
    FROM d
)
SELECT doc_id, source, within_pos,
       ROW_NUMBER() OVER (ORDER BY within_pos, source) AS epoch_pos
FROM rr ORDER BY doc_id
"""


# priority-sample size per source: small enough that estimation is
# genuinely sub-linear at every test SF (sf0.001 has ~25 docs/source,
# so some groups sample everything — the exact-when-exhaustive branch
# is exercised — while sf0.01+ estimate from a strict subset)
PRIORITY_SAMPLE_K = 16
_P60 = "CAST('1152921504606846976' AS DECIMAL(38,0))"  # 2^60


def priority_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sample per source (Duffield,
    Lund & Thorup, JACM'07) + the subset-sum total-weight estimator:
    every doc draws priority ``q = w / u`` with weight ``w`` its byte
    length and ``u`` a uniform hash draw; the k highest-priority docs
    per source are THE sample, and ``Σ max(w_i, τ)`` over them — with
    ``τ`` the (k+1)-th priority — is an unbiased estimate of the
    source's total bytes. One sampling scheme answers arbitrary
    subset-sum queries later, which is why priority sampling (not
    uniform rows) is the right reservoir for corpus accounting.

    Determinism: ``u = (h+1)/2^60`` from a salted 60-bit md5 of
    doc_id, so ``q = floor(w·2^60/(h+1))`` is exact DECIMAL(38,0)
    arithmetic via the remainder-subtracted division (numerator
    ~2^75 — far past :func:`~pac_spark.functions.exact.int_div`'s
    2^53 long contract); the oracle mirrors it digit-for-digit in
    HUGEINT. No RNG, no seed, any cluster layout.

    Scale shape: the ``row_number() <= k+1`` filter compiles to
    WindowGroupLimit (asserted in test_plans), so every input
    partition keeps only its own top-(k+1) heap BEFORE the one
    source-keyed shuffle — the sort never sees the corpus. The exact
    totals branch is a separate map-side-combined aggregate; both
    reductions are source-cardinality-sized, so the final join
    broadcasts.
    """
    docs = catalog.load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.octet_length(F.coalesce("text", F.lit(""))).cast("long").alias("w"),
    )
    from pac_spark.cache import pin

    # pinned: the projection feeds the exact totals AND the top-(k+1)
    # window scan (code-review r7 — one parquet pass, two consumers)
    docs = pin(docs)
    totals = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("w").alias("total_bytes")
    )
    dec = "decimal(38,0)"
    # the ONE engine-wide 60-bit md5 (functions.hashing — its SQL
    # emitter builds the oracle side, so the pair cannot drift; this
    # operator had inlined a private copy, code-review r7)
    from pac_spark.functions.hashing import md5_u60

    h = md5_u60(F.concat(F.lit("ps|"), F.col("doc_id").cast("string")))
    num = F.col("w").cast(dec) * F.expr(_P60)
    den = (h + F.lit(1)).cast(dec)
    q = ((num - num % den) / den).cast(dec)
    k = PRIORITY_SAMPLE_K
    rn_w = W.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id"))
    top = (
        docs.withColumn("q", q)
        .withColumn("rn", F.row_number().over(rn_w))
        .filter(F.col("rn") <= k + 1)
    )
    tau = F.max(F.when(F.col("rn") == k + 1, F.col("q")).otherwise(F.lit(0).cast(dec)))
    est = top.groupBy("source").agg(
        F.sum(F.when(F.col("rn") <= k, 1).otherwise(0)).alias("n_sampled"),
        tau.alias("_tau"),
    )
    # max(w, tau) needs tau on each sampled row: re-join the two tiny
    # per-source frames (both <= (k+1) rows/source), then one more agg
    contrib = (
        top.filter(F.col("rn") <= k)
        .join(F.broadcast(est), "source")
        .groupBy("source", "n_sampled")
        .agg(
            F.sum(F.greatest(F.col("w").cast(dec), F.col("_tau")))
            .cast(dec)
            .alias("_est")
        )
    )
    return (
        totals.join(F.broadcast(contrib), "source")
        .select(
            "source",
            "n_docs",
            "total_bytes",
            F.col("n_sampled").cast("long").alias("n_sampled"),
            F.col("_est").cast("double").alias("est_total_bytes"),
        )
        .orderBy("source")
    )


PRIORITY_SAMPLE_SQL = f"""
WITH d AS (
    SELECT doc_id, source,
           CAST(strlen(COALESCE(text, '')) AS HUGEINT) AS w,
           {{h}} AS h
    FROM documents
), pri AS (
    SELECT doc_id, source, w,
           (w * CAST('1152921504606846976' AS HUGEINT))
               // (CAST(h AS HUGEINT) + 1) AS q
    FROM d
), ranked AS (
    SELECT source, w, q,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY q DESC, doc_id ASC) AS rn
    FROM pri
), top AS (
    SELECT * FROM ranked WHERE rn <= {PRIORITY_SAMPLE_K} + 1
), est AS (
    SELECT source,
           SUM(CASE WHEN rn <= {PRIORITY_SAMPLE_K} THEN 1 ELSE 0 END)
               AS n_sampled,
           MAX(CASE WHEN rn = {PRIORITY_SAMPLE_K} + 1 THEN q
                    ELSE CAST(0 AS HUGEINT) END) AS tau
    FROM top GROUP BY source
), contrib AS (
    SELECT t.source, e.n_sampled,
           SUM(CASE WHEN t.w > e.tau THEN t.w ELSE e.tau END) AS est_bytes
    FROM top t JOIN est e ON t.source = e.source
    WHERE t.rn <= {PRIORITY_SAMPLE_K}
    GROUP BY t.source, e.n_sampled
), totals AS (
    SELECT source, COUNT(*) AS n_docs,
           SUM(strlen(COALESCE(text, ''))) AS total_bytes
    FROM documents GROUP BY source
)
SELECT t.source,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(t.total_bytes AS BIGINT) AS total_bytes,
       CAST(c.n_sampled AS BIGINT) AS n_sampled,
       CAST(c.est_bytes AS DOUBLE) AS est_total_bytes
FROM totals t JOIN contrib c ON t.source = c.source
ORDER BY t.source
"""


# ---------------------------------------------------------------------------
# Water-filling source budget allocation (max-min fair under caps;
# STAGED for the r11 rotation — gate in tests/test_staged_specs.py)

# the global budget as an exact fraction of total corpus tokens:
# B = (total * NUM) div DEN — 60%, the stated training-mix target
WATERFILL_BUDGET_NUM = 6
WATERFILL_BUDGET_DEN = 10


def source_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair (water-filling) allocation of a global token
    budget across sources, capped by each source's available tokens —
    the budget-SETTING step upstream of ``token_budget_mix`` (which
    SPENDS a given per-group budget on the best documents): small
    sources are fully funded, the remainder splits equally among the
    big ones, so no source is starved by a proportional split and no
    allocation exceeds supply.

    Exact integer semantics (every step engine-portable):

    - supply_i = Σ doc tokens per source (the shared ``tokens()``
      splitter; NULL-source / NULL-text docs excluded up front in
      BOTH engines);
    - B = (total · 6) div 10;
    - sort sources ascending by (supply, source); source at rank r is
      SATURATED iff ``supply_r · (K−r+1) + prefix_{r−1} ≤ B`` — the
      division-free form of "supply below the water line", and a
      PREFIX property (the left side is nondecreasing in r, proof in
      the r10 notes), so the saturated set needs no fixpoint loop;
    - unsaturated sources get base = pool div m (pool = B − Σ
      saturated supplies, m = count unsaturated), with the ``pool mod
      m`` leftover distributed +1 to the m smallest-(supply, source)
      unsaturated sources — the deterministic largest-remainder
      tie-break the budget-allocation operator established.

    Scale shape: ONE map-side-combined groupBy(source) over the scan;
    everything after runs on the K-row source frame (two windows over
    ≤ K rows — the documented domain-bounded kind — and a 1-row
    broadcast of the global constants). Products accumulate in
    decimal(38,0): supply × K overflows BIGINT at real corpus sizes.
    """
    from pac_spark.operators.text_core import tokens

    dec = "decimal(38,0)"
    docs = catalog.load(spark, sf_dir, "documents")
    sup = (
        docs.filter(F.col("source").isNotNull() & F.col("text").isNotNull())
        .select("source", F.size(tokens(F.col("text"))).cast("long").alias("t"))
        .groupBy("source")
        .agg(F.sum(F.col("t").cast(dec)).alias("supply"))
    )
    # r12 (guide §2.4 / VERDICT r11 next-#8 sweep): the corpus-scale
    # tokenize behind ``sup`` used to run once per downstream path (4
    # parquet scans of documents in the before-plan) because sup fed a
    # separate global-constants aggregate AND the ranked frame, and
    # ranked itself fed both a saturated-set aggregate and the final
    # read-off. EVERYTHING global (B, K, and the saturated set's
    # n_sat/sat_sum) is now an unbounded-frame aggregate inside the
    # SAME single-partition window chain ranked already pays (the
    # domain-bounded K-row window — one sort, chained WindowExecs, no
    # extra exchange), so sup — and therefore the corpus scan — is
    # consumed exactly once and nothing needs a pin or a crossJoin.
    # (Two rejected intermediates, both same-JVM A/B'd at sf0.1:
    # pin(sup) 0.77 -> 1.18 s and pin(ranked)+separate totals
    # 0.79 -> 1.00 s — the persist's fixed local cost outweighed the
    # saved scans at this SF; this shape wins at BOTH scales.)
    # Arithmetic is unchanged: the same exact-decimal expressions over
    # the same values, now per-row instead of via broadcast joins.
    asc = W.orderBy("supply", "source")
    full = asc.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    total = F.sum("supply").over(full)
    b10 = (
        (total * WATERFILL_BUDGET_NUM)
        - (total * WATERFILL_BUDGET_NUM) % WATERFILL_BUDGET_DEN
    ).cast(dec)
    ranked = (
        sup.withColumn("rn", F.row_number().over(asc))
        .withColumn(
            "prefix",
            F.sum("supply").over(asc.rowsBetween(W.unboundedPreceding, 0)),
        )
        .withColumn("k", F.count(F.lit(1)).over(full))
        .withColumn("b", (b10 / WATERFILL_BUDGET_DEN).cast(dec))
        .withColumn(
            "sat",
            (
                F.col("supply") * (F.col("k") - F.col("rn") + 1)
                + (F.col("prefix") - F.col("supply"))
            )
            <= F.col("b"),
        )
        .withColumn(
            "n_sat", F.sum(F.when(F.col("sat"), 1).otherwise(0)).over(full)
        )
        .withColumn(
            "sat_sum",
            F.coalesce(
                F.sum(F.when(F.col("sat"), F.col("supply"))).over(full),
                F.lit(0).cast(dec),
            ),
        )
    )
    pool = (F.col("b") - F.col("sat_sum")).cast(dec)
    m = (F.col("k") - F.col("n_sat")).cast(dec)
    # CASE keeps the m=0 (all-saturated) branch unevaluated, so the
    # divisions never see a zero divisor
    base = ((pool - pool % m) / m).cast(dec)
    rem = (pool % m).cast(dec)
    return (
        ranked
        .select(
            "source",
            F.col("supply").cast("long").alias("supply_tokens"),
            F.when(F.col("sat"), F.col("supply"))
            .otherwise(
                base
                + F.when(
                    (F.col("rn") - F.col("n_sat")).cast(dec) <= rem, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("alloc_tokens"),
            F.col("sat").alias("saturated"),
        )
        .orderBy("source")
    )


def WATERFILL_SQL_TAIL() -> str:
    """Composes after a ``stats`` CTE carrying doc-level (source,
    n_tokens) — the spearman pattern; the full oracle is
    ``f"WITH stats AS ({_TEXT_STATS}){WATERFILL_SQL_TAIL()}"``."""
    return f"""
, sup AS (
    SELECT source, SUM(CAST(n_tokens AS HUGEINT)) AS supply
    FROM stats WHERE source IS NOT NULL AND n_tokens IS NOT NULL
    GROUP BY source
),
g AS (
    SELECT CAST(SUM(supply) * {WATERFILL_BUDGET_NUM} AS HUGEINT)
               // {WATERFILL_BUDGET_DEN} AS b,
           COUNT(*) AS k
    FROM sup
),
r AS (
    SELECT source, supply,
           ROW_NUMBER() OVER (ORDER BY supply, source) AS rn,
           SUM(supply) OVER (
               ORDER BY supply, source ROWS UNBOUNDED PRECEDING
           ) AS prefix
    FROM sup
),
f AS (
    SELECT r.*, b, k,
           (supply * (k - rn + 1) + (prefix - supply) <= b) AS sat
    FROM r, g
),
s AS (
    SELECT COUNT(*) FILTER (WHERE sat) AS n_sat,
           COALESCE(SUM(supply) FILTER (WHERE sat), 0) AS sat_sum
    FROM f
)
SELECT source,
       CAST(supply AS BIGINT) AS supply_tokens,
       CAST(CASE WHEN sat THEN supply
            ELSE (b - sat_sum) // (k - n_sat)
                 + CASE WHEN CAST(rn - n_sat AS HUGEINT)
                             <= (b - sat_sum) % (k - n_sat)
                        THEN 1 ELSE 0 END
       END AS BIGINT) AS alloc_tokens,
       sat AS saturated
FROM f, s
ORDER BY source
"""


SPLIT_SALT = "corpus_split_v1"
SPLIT_TRAIN_PERMILLE = 950
SPLIT_VALID_PERMILLE = 975  # valid = [950, 975), test = [975, 1000)


def corpus_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split census: every document is
    assigned by its salted md5 bucket (950/25/25 permille) and the
    readout is the per-(lang, split) document and character count —
    the pre-training bookkeeping that proves the split is DISJOINT and
    EXHAUSTIVE by construction (one bucket, three half-open ranges)
    and surfaces stratum imbalance (a language whose test slice went
    thin) before a run burns compute.

    The salt is its own namespace (``SPLIT_SALT``): reusing the
    sampling salt would correlate the split with the downsample — a
    doc sampled out of training could never reach the test slice.
    NULL-language docs are excluded in both engines (no stratum);
    NULL n_chars carries no mass under SUM in either engine.

    Scale shape: pure row-local hash arithmetic then ONE map-side-
    combined groupBy on the (lang, split) key — the smallest plan an
    operator can have; the census frame is strata-bounded.
    """
    docs = catalog.load(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    bucket = _sample_bucket(F.col("doc_id"), salt=SPLIT_SALT)
    split = (
        F.when(F.col("bucket") < SPLIT_TRAIN_PERMILLE, F.lit("train"))
        .when(F.col("bucket") < SPLIT_VALID_PERMILLE, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", "n_chars", bucket)
        .select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang", "split")
    )


def SPLIT_SQL() -> str:
    """Oracle: the identical digit-wise salted-md5 bucket + range
    CASE + census rollup."""
    hexd = (
        "strpos('0123456789abcdef', "
        "substring(md5(CAST(doc_id AS VARCHAR) || ':{salt}'), {i}, 1)) - 1"
    )
    digits = " + ".join(
        f"({hexd.format(salt=SPLIT_SALT, i=i + 1)}) * {16 ** (3 - i)}"
        for i in range(4)
    )
    return f"""
WITH b AS (
    SELECT lang, n_chars, (({digits}) % 1000) AS bucket
    FROM documents WHERE lang IS NOT NULL
),
s AS (
    SELECT lang, n_chars,
           CASE WHEN bucket < {SPLIT_TRAIN_PERMILLE} THEN 'train'
                WHEN bucket < {SPLIT_VALID_PERMILLE} THEN 'valid'
                ELSE 'test' END AS split
    FROM b
)
SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY lang, split ORDER BY lang, split
"""


HRW_SHARDS = 8


def hrw_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding of the corpus with
    the RESIZE readout — the distribution primitive a pipeline uses
    when shard count must grow without reshuffling the world: under
    HRW, adding a shard moves ONLY the keys the new shard wins
    (≈ n/(N+1)), where mod-hashing (``training_shards``'s layout)
    would move ≈ n·N/(N+1). One row per current shard: its corpus
    share and exactly how many of its documents a grow-to-{N+1}
    rebalance would take (the move-fraction ≈ 1/(N+1) read off
    directly as milli units).

    Exactness: a document's owner is argmax over shards of the
    shared 60-bit salted md5 (``md5_u60``, the HLL/HyperBall hash),
    ties to the larger shard id — in Spark a ROW-LOCAL
    ``array_max`` over (hash, shard) structs; the oracle states the
    SAME argmax as a window rank over the unnested (doc, shard)
    spine — formulation-diverse, value-identical. All counts exact;
    the move share is the shared truncating division. NULL doc_ids
    are excluded in both engines.

    Scale shape: owner assignment is pure row-local codegen (N + N+1
    hash evaluations per row, no join, no shuffle); the readout is
    one map-side-combined groupBy onto the N-key shard space. The
    oracle's windowed spine is N·corpus rows — the ORACLE's cost, not
    the engine's.
    """
    from pac_spark.functions.hashing import md5_u60

    n = HRW_SHARDS
    docs = (
        catalog.load(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id").isNotNull())
    )

    def owner(n_shards: int) -> F.Column:
        return F.array_max(
            F.array(
                *[
                    F.struct(
                        md5_u60(
                            F.concat(
                                F.lit(f"hrw|{s}|"),
                                F.col("doc_id").cast("string"),
                            )
                        ).alias("h"),
                        F.lit(s).alias("s"),
                    )
                    for s in range(n_shards)
                ]
            )
        ).getField("s")

    assigned = docs.select(
        owner(n).alias("shard"), owner(n + 1).alias("shard_after")
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("shard") != F.col("shard_after"), 1).otherwise(0)
            ).alias("n_moved"),
        )
        .select(
            F.col("shard").cast("int").alias("shard"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_moved").cast("long").alias("n_moved"),
            F.expr("CAST((n_moved * 1000) div n_docs AS BIGINT)").alias(
                "moved_milli"
            ),
        )
        .orderBy("shard")
    )


def HRW_SQL(n: int = HRW_SHARDS) -> str:
    """DuckDB oracle: the argmax stated as a window rank over the
    unnested (doc, shard) spine — a different formulation of the same
    owner rule."""
    from pac_spark.functions.hashing import md5_u60_sql

    hv = md5_u60_sql(
        "'hrw|' || CAST(u.s AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)"
    )

    def owner_cte(label: str, n_shards: int) -> str:
        return f"""
{label} AS (
    SELECT doc_id, s AS shard FROM (
        SELECT doc_id, u.s AS s,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY {hv} DESC, u.s DESC
               ) AS rn
        FROM d, UNNEST(range(0, {n_shards})) u(s)
    ) WHERE rn = 1
)"""

    return f"""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL),
{owner_cte('o_now', n)},
{owner_cte('o_after', n + 1)}
SELECT CAST(o_now.shard AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN o_now.shard <> o_after.shard THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved,
       CAST((SUM(CASE WHEN o_now.shard <> o_after.shard THEN 1 ELSE 0 END)
             * 1000) // COUNT(*) AS BIGINT) AS moved_milli
FROM o_now JOIN o_after USING (doc_id)
GROUP BY 1 ORDER BY shard
"""
