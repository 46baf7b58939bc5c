"""Property tests for operators whose outputs have no SQL oracle:
approximate similarity search, SimHash, streaming/batch equivalence,
clustering invariants."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    """Sign-LSH ANN must be a subset-ranked approximation: every hit it
    returns appears in the brute-force ranking with the same score."""
    from pac_spark.operators.similarity import ann_lsh_topk, knn_bruteforce

    exact = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in knn_bruteforce(spark, sf_dir).collect()
    }
    # brute force truncates at top-10; rebuild full scores for checking
    approx = ann_lsh_topk(spark, sf_dir).collect()
    assert len(approx) > 0
    for r in approx:
        if (r["query_id"], r["vec_id"]) in exact:
            assert abs(exact[(r["query_id"], r["vec_id"])] - r["score"]) < 1e-9


def test_ivf_scores_match_bruteforce(spark, sf_dir):
    """IVF results must be exact-scored: every (query, hit) it returns
    that brute force also ranked must carry the identical cosine."""
    from pac_spark.operators.similarity import TOP_K, ann_ivf_topk, knn_bruteforce

    exact = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in knn_bruteforce(spark, sf_dir).collect()
    }
    approx = ann_ivf_topk(spark, sf_dir).collect()
    assert approx, "IVF probe must return candidates"
    per_query: dict[int, int] = {}
    for r in approx:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
        if (r["query_id"], r["vec_id"]) in exact:
            assert abs(exact[(r["query_id"], r["vec_id"])] - r["score"]) < 1e-9
    assert all(n <= TOP_K for n in per_query.values())


def test_ivf_fit_sample_bounded_and_deterministic(spark, sf_dir):
    """The index-build sample must stay near IVF_FIT_TARGET regardless
    of collection size, be deterministic (hash bucket, not RNG), and
    pass small collections through whole."""
    from pac_spark.operators.similarity import IVF_FIT_TARGET, _fit_sample

    big = spark.range(0, 20000).withColumnRenamed("id", "vec_id")
    n1 = _fit_sample(big).count()
    n2 = _fit_sample(big).count()
    assert n1 == n2, "hash-bucket sample must be deterministic"
    assert 0 < n1 < 20000
    assert n1 < 3 * IVF_FIT_TARGET, f"sample {n1} far off target {IVF_FIT_TARGET}"

    small = spark.range(0, IVF_FIT_TARGET).withColumnRenamed("id", "vec_id")
    assert _fit_sample(small).count() == IVF_FIT_TARGET


def test_custom_sessions_cap_invariant(spark, sf_dir):
    """Every emitted session respects the cap; cap-closed sessions have
    exactly SESSION_CAP events; all sessions fit inside their bounds."""
    from pac_spark.streaming.stateful import SESSION_CAP, streaming_user_sessions_custom

    rows = streaming_user_sessions_custom(spark, sf_dir).collect()
    assert rows, "testdata must produce at least one closed session"
    for r in rows:
        assert 1 <= r["n_events"] <= SESSION_CAP
        assert (r["n_events"] == SESSION_CAP) == (r["close_reason"] == "cap")
        assert r["session_start"] <= r["session_end"]


def test_simhash_flags_minhash_dups(spark, sf_dir):
    """SimHash is an independent tier over the same raw LSH candidate
    buckets: minhash-confirmed dups (jaccard >= 0.8) should almost all
    sit at hamming <= 3. The alignment is PROBABILISTIC — a 16-bit
    fingerprint of a pair at jaccard ~0.8 has expected hamming ~2-3
    with real tail mass at 4+ — so the bound is a small miss fraction,
    not set inclusion (the sf0.01 sweep produced a legitimate
    hamming-4 pair at jaccard 0.8; same tolerance shape as the LSH
    recall test below)."""
    from pac_spark.operators.dedup import minhash_lsh_dedup, simhash_neardup

    mh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_dedup(spark, sf_dir).collect()}
    sh = {(r["doc_a"], r["doc_b"]) for r in simhash_neardup(spark, sf_dir).collect()}
    assert sh, "simhash should flag the planted near-dups"
    missed = mh - sh
    assert len(missed) <= max(1, len(mh) // 10), (
        f"simhash missed too many minhash dups: {missed}"
    )


def test_ngram_df_cap_loses_no_pairs(spark, sf_dir):
    """The shingle document-frequency cap bounds candidate-generation
    skew without changing results: pair set and scores are identical
    to the uncapped run at test scale."""
    from pac_spark.operators import dedup

    capped = {tuple(r) for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()}
    original = dedup.MAX_SHINGLE_DF
    try:
        dedup.MAX_SHINGLE_DF = 10**9
        uncapped = {tuple(r) for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()}
    finally:
        dedup.MAX_SHINGLE_DF = original
    assert capped == uncapped


def test_minhash_agrees_with_exact_jaccard(spark, sf_dir):
    """LSH candidate filtering must not lose any pair the exact
    inverted-index join finds at the same threshold (4 bands x 2 rows
    catches jaccard 0.8+ with overwhelming probability)."""
    from pac_spark.operators.dedup import minhash_lsh_dedup, ngram_jaccard_pairs

    exact = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(spark, sf_dir).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_dedup(spark, sf_dir).collect()}
    assert lsh <= exact, "rescoring must enforce the same threshold"
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed too many: {missed}"


def test_connected_components_multi_round_convergence(spark, sf_dir):
    """Blocked ER graphs converge in one join round, so the fixture
    never exercises the propagation loop's depth. A 60-node path has
    diameter 59 — far beyond the round cap for single-hop propagation
    — so this converges only if pointer doubling works; it also guards
    the checksum-convergence logic against premature exit."""
    from pac_spark.operators.entity_resolution import connected_components

    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n + 5)], "id long")
    # one long path + a disjoint triangle + isolated nodes n+3, n+4
    edges = [(i, i + 1) for i in range(n - 1)] + [
        (n, n + 1),
        (n + 1, n + 2),
        (n, n + 2),
    ]
    edges_df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["label"] for r in connected_components(nodes, edges_df).collect()}
    assert len(got) == n + 5
    assert all(got[i] == 0 for i in range(n)), "path must collapse to min label"
    assert all(got[i] == n for i in (n, n + 1, n + 2))
    assert got[n + 3] == n + 3 and got[n + 4] == n + 4, "isolated keep own label"


def test_er_clusters_are_valid_components(spark, sf_dir):
    """Every edge >= 75 joins records in the same cluster; cluster ids
    are the minimum member id (canonical labeling)."""
    from pac_spark.operators.entity_resolution import (
        GROUP_THRESHOLD,
        candidate_pairs,
        er_clusters,
    )

    labels = {r["record_id"]: r["cluster_id"] for r in er_clusters(spark, sf_dir).collect()}
    edges = [
        (r["id_a"], r["id_b"])
        for r in candidate_pairs(spark, sf_dir).collect()
        if r["overall_score"] is not None and r["overall_score"] >= GROUP_THRESHOLD
    ]
    for a, b in edges:
        assert labels[a] == labels[b], f"edge ({a},{b}) split across clusters"
    # canonical labels: every cluster id is a member of its own cluster
    by_cluster: dict[int, list[int]] = {}
    for rec, cl in labels.items():
        by_cluster.setdefault(cl, []).append(rec)
    for cl, members in by_cluster.items():
        assert cl == min(members)


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    from pac_spark.streaming.stream_exec import streaming_tumbling_1h
    from pac_spark.streaming.windows import tumbling_1h_by_type

    batch = {tuple(r) for r in tumbling_1h_by_type(spark, sf_dir).collect()}
    stream = {tuple(r) for r in streaming_tumbling_1h(spark, sf_dir).collect()}
    assert batch == stream


def test_multimodal_decode_stub_is_gated(spark, sf_dir):
    import pytest as _pytest

    from pac_spark.operators.multimodal import decode_image_batch

    with _pytest.raises(NotImplementedError):
        next(decode_image_batch(iter([])))


def test_interval_overlap_nonempty(spark, sf_dir):
    """The 0-row-green guard (VERDICT r2 #3): a hash match on an empty
    result proves nothing — the fixture must produce overlapping
    attribution windows at every test SF."""
    from pac_spark.operators.temporal import interval_overlap_join

    rows = interval_overlap_join(spark, sf_dir)
    assert rows.limit(1).count() == 1


def test_q22_idle_customers_nonempty(spark, sf_dir):
    """Same guard for the recency-cutoff anti-join."""
    from pac_spark.operators.relational import q22_idle_customers

    df = q22_idle_customers(spark, sf_dir)
    assert df.agg({"n_customers": "sum"}).collect()[0][0] > 0


def test_ngram_skew_branch_loses_no_pairs(spark, sf_dir):
    """Force the hot-shingle (skew) plan with a tiny df cap and check
    it returns the identical pair set + scores as the uncapped plan —
    the bounds/rescore machinery must be exact whenever it runs."""
    from pac_spark.operators import dedup

    original = dedup.MAX_SHINGLE_DF
    try:
        dedup.MAX_SHINGLE_DF = 5
        capped = {tuple(r) for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()}
        dedup.MAX_SHINGLE_DF = 10**9
        uncapped = {tuple(r) for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()}
    finally:
        dedup.MAX_SHINGLE_DF = original
    assert capped == uncapped


import os as _os

import pytest as _pytest


@_pytest.mark.parametrize(
    "emb_dir",
    [None, "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
    ids=["sf_small", "sf0.01", "sf0.1"],
)
def test_banding_recall_at_production_threshold(spark, sf_dir, emb_dir):
    """The (4-bit x 16-band) production dial must lose no pair at
    cosine >= 0.8 (bound: miss <= (1 - p^4)^16 = 2.9e-4 per pair,
    p = 1 - acos(0.8)/pi — see similarity.py). Run at both the small
    fixture and sf0.1 (2000 vectors — VERDICT r3 #8: the dial must
    hold as planted-pair count grows 4x).

    The synthetic embeddings carry no within-label pair above cosine
    0.7 (checked below), so raw data would make this test vacuously
    green; instead plant deterministic near-dups: for every 7th vector
    add a copy perturbed orthogonally so the planted pair sits at a
    known cosine ~0.95, well above threshold but far from identical.
    """
    import math

    import numpy as np

    from pac_spark.operators.similarity import (
        EMB_PAIR_BANDS_PROD,
        EMB_PAIR_BITS_PROD,
        similar_pairs_banded,
    )

    path = emb_dir or sf_dir
    if not _os.path.isdir(path):
        _pytest.skip(f"{path} not present")
    pdf = spark.read.parquet(f"{path}/embeddings.parquet").toPandas()
    vecs = {int(r.vec_id): (np.asarray(r.embedding, dtype=float), r.label) for r in pdf.itertuples()}

    rows = [(i, [float(x) for x in v], lab) for i, (v, lab) in vecs.items()]
    planted = {}
    for i, (v, lab) in vecs.items():
        if i % 7 != 0:
            continue
        # deterministic orthogonalized perturbation: roll by 17 dims,
        # project out the parallel component, scale for cos ~ 0.95
        w = np.roll(v, 17)
        w = w - (w @ v) / (v @ v) * v
        w = w / np.linalg.norm(w) * np.linalg.norm(v) * math.tan(math.acos(0.95))
        v2 = v + w
        planted[(i, i + 1_000_000)] = float(
            (v @ v2) / (np.linalg.norm(v) * np.linalg.norm(v2))
        )
        rows.append((i + 1_000_000, [float(x) for x in v2], lab))
    assert planted, "fixture must plant at least one near-dup pair"
    assert all(s >= 0.9 for s in planted.values())

    emb = spark.createDataFrame(rows, "vec_id long, v array<double>, label string")
    got = {
        (r["vec_a"], r["vec_b"]): r["score"]
        for r in similar_pairs_banded(
            emb, 0.8, bits=EMB_PAIR_BITS_PROD, bands=EMB_PAIR_BANDS_PROD
        ).collect()
    }
    # exhaustive truth at >= 0.8: exactly the planted pairs (raw data
    # maxes out below 0.7 within-label — assert so this stays
    # non-vacuous). Vectorized per label: normalize rows, gram matrix,
    # max off-diagonal entry.
    by_label: dict[str, list[int]] = {}
    for i, (v, lab) in vecs.items():
        by_label.setdefault(lab, []).append(i)
    raw_max = -1.0
    for ids in by_label.values():
        if len(ids) < 2:
            continue
        m = np.stack([vecs[i][0] for i in ids])
        n = m / np.linalg.norm(m, axis=1, keepdims=True)
        gram = n @ n.T
        np.fill_diagonal(gram, -1.0)
        raw_max = max(raw_max, float(gram.max()))
    assert raw_max < 0.8, "raw data grew a >=0.8 pair; planted truth is stale"
    missed = set(planted) - set(got)
    assert not missed, f"banding lost planted near-dups: {missed}"
    for pair, true_score in planted.items():
        assert abs(got[pair] - true_score) < 1e-6
    # and nothing below threshold leaks through the rescore
    assert all(s >= 0.8 for s in got.values())


def test_corpus_curation_gates_discriminate(spark, sf_dir):
    """Every curation stage must provably act on the fixture: the
    quality gate drops docs, the near-dup stage drops docs, and the
    curated set is non-empty (0-row green guard)."""
    from pac_spark.operators.curation import CURATION_MIN_QUALITY, corpus_curation
    from pac_spark.operators.dedup import ngram_jaccard_pairs
    from pac_spark.operators.text import text_stats

    total = text_stats(spark, sf_dir).count()
    gated = text_stats(spark, sf_dir).filter(
        (F.col("quality_score") >= CURATION_MIN_QUALITY) & (~F.col("is_short"))
    )
    n_gated = gated.count()
    assert 0 < n_gated < total, "quality gate must drop some docs, not all"
    curated = corpus_curation(spark, sf_dir)
    n_curated = curated.count()
    assert 0 < n_curated < n_gated, "dedup stages must drop some gated docs"
    # the near-dup losers must actually be absent
    losers = {r["doc_b"] for r in ngram_jaccard_pairs(spark, sf_dir).collect()}
    kept = {r["doc_id"] for r in curated.collect()}
    assert losers and not (losers & kept)


def test_stratified_sample_rates(spark, sf_dir):
    """The sampler keeps roughly rate_permille/1000 of each language
    (binomial tolerance) and is deterministic across runs."""
    from pac_spark.operators.curation import (
        SAMPLE_PERMILLE,
        stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sampled = {
        r["lang"]: r["n"]
        for r in stratified_sample(spark, sf_dir).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, total in totals.items():
        rate = SAMPLE_PERMILLE.get(lang, 1000) / 1000.0
        got = sampled.get(lang, 0) / total
        # 4-sigma binomial band — deterministic data, so this either
        # holds forever or flags a broken bucket function
        sigma = (rate * (1 - rate) / total) ** 0.5
        assert abs(got - rate) < max(4 * sigma, 0.02), (lang, got, rate)
    again = {
        r["lang"]: r["n"]
        for r in stratified_sample(spark, sf_dir).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert again == sampled


def test_token_budget_cuts_every_language(spark, sf_dir):
    """The budget must bind in every language (0-row/keep-all guard):
    each language keeps some docs, drops some docs, and stays within
    budget; kept docs are a quality-ranked prefix."""
    from pac_spark.operators.curation import TOKEN_BUDGET_PER_LANG, token_budget_mix
    from pac_spark.operators.text import text_stats

    totals = {
        r["lang"]: r["n"]
        for r in text_stats(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    mix = token_budget_mix(spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in mix:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == set(totals)
    for lang, rows in by_lang.items():
        assert 0 < len(rows) < totals[lang], f"budget must bind for {lang}"
        assert sum(r["n_tokens"] for r in rows) <= TOKEN_BUDGET_PER_LANG


def test_doc_chunks_tile_documents(spark, sf_dir):
    """Chunking invariants against a third, pure-Python implementation
    (independent of both the Spark expressions and the SQL oracle):
    chunk i is exactly toks[i*stride : i*stride+size], the chunk count
    matches the ceil formula, and every token is covered."""
    import math

    from pac_spark.operators.text import CHUNK_SIZE, CHUNK_STRIDE, doc_chunks

    toks_by_doc = {
        r["doc_id"]: r["text"].split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    chunks: dict[int, dict[int, str]] = {}
    for r in doc_chunks(spark, sf_dir).collect():
        chunks.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"]
    assert set(chunks) == {d for d, t in toks_by_doc.items() if len(t) > 0}
    for doc_id, toks in toks_by_doc.items():
        n = len(toks)
        if n == 0:
            continue
        want_n = 1 if n <= CHUNK_SIZE else math.ceil((n - CHUNK_SIZE) / CHUNK_STRIDE) + 1
        got = chunks[doc_id]
        assert len(got) == want_n, (doc_id, n, want_n, len(got))
        for i, text in got.items():
            assert text == " ".join(toks[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_SIZE])
        # coverage: the final chunk reaches the last token
        assert (want_n - 1) * CHUNK_STRIDE + CHUNK_SIZE >= n


def test_decontamination_flags_planted_overlap(spark, sf_dir):
    """The contamination gate must discriminate: the corpus' planted
    near-dups of eval docs are flagged, the background is not."""
    from pac_spark.operators.curation import decontaminate

    rows = decontaminate(spark, sf_dir).collect()
    assert rows
    flagged = [r for r in rows if r["is_contaminated"]]
    assert 0 < len(flagged) < len(rows)
    assert all(r["containment"] >= 0.5 for r in flagged)
    assert all(r["doc_id"] % 50 != 0 for r in rows), "eval docs excluded"


def test_decontaminate_broadcast_guard_fallback(spark, sf_dir, monkeypatch):
    """With the broadcast ceiling forced to 0, decontaminate must take
    the shuffle-join path and still produce identical rows — the guard
    changes the physical plan, never the answer."""
    from pac_spark.operators import curation

    base = {tuple(r) for r in curation.decontaminate(spark, sf_dir).collect()}
    monkeypatch.setattr(curation, "EVAL_BROADCAST_MAX_SHINGLES", 0)
    guarded_df = curation.decontaminate(spark, sf_dir)
    guarded = {tuple(r) for r in guarded_df.collect()}
    assert guarded == base


def test_semantic_dedup_clusters_nontrivial(spark, sf_dir):
    """Semantic dedup must actually group something at the diffuse
    threshold (0-row-green guard) and keepers must be cluster minima."""
    from pac_spark.operators.similarity import semantic_dedup

    rows = semantic_dedup(spark, sf_dir).collect()
    assert rows
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
    assert any(len(m) > 1 for m in by_cluster.values()), "no near-dup group formed"
    for cl, members in by_cluster.items():
        assert cl == min(members)
    keepers = {r["vec_id"] for r in rows if r["is_keeper"]}
    assert keepers == set(by_cluster)


def test_lsh_blocking_recovers_digit_block_pairs(spark, sf_dir):
    """On this fixture the LSH-blocked ER path must lose NO pair the
    digit-string blocking scores >= GROUP_THRESHOLD: variants of one
    customer share their digit runs, so their MinHash band keys are
    identical — recall is structural, not probabilistic. Spurious
    extra pairs (md5 band collisions across customers) are allowed by
    LSH semantics but must rescore below threshold or be genuine."""
    from pac_spark.operators.entity_resolution import (
        GROUP_THRESHOLD,
        candidate_pairs,
        candidate_pairs_lsh,
    )

    digit = {
        (r["id_a"], r["id_b"])
        for r in candidate_pairs(spark, sf_dir).collect()
        if r["overall_score"] >= GROUP_THRESHOLD
    }
    lsh = {
        (r["id_a"], r["id_b"]) for r in candidate_pairs_lsh(spark, sf_dir).collect()
    }
    assert digit, "fixture must produce threshold pairs"
    missed = digit - lsh
    assert not missed, f"LSH blocking lost {len(missed)} pairs: {sorted(missed)[:5]}"


def test_er_approved_gate_drops_rows(spark, sf_dir):
    """The approval gate must discriminate: some consolidated groups
    are rejected (r2's parity rule keyed on cluster_id % 2, which is
    always 0 for min-record labels = custkey*10 — a vacuous gate)."""
    from pac_spark.operators.entity_resolution import er_approved, er_consolidated

    n_all = er_consolidated(spark, sf_dir).count()
    n_approved = er_approved(spark, sf_dir).count()
    assert 0 < n_approved < n_all


def test_training_shards_match_independent_python(spark, sf_dir):
    """Re-derive every shard assignment and within-shard position with
    hashlib — an implementation sharing zero code with the Spark plan
    (and none with the DuckDB oracle's hex-digit arithmetic)."""
    import hashlib

    from pac_spark.operators.curation import (
        N_TRAINING_SHARDS,
        SHARD_SALT,
        training_shards,
    )

    rows = training_shards(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").collect()
    expect = {}
    by_shard = {}
    for (doc_id,) in docs:
        h = hashlib.md5(f"{doc_id}:{SHARD_SALT}".encode()).hexdigest()
        shard = int(h[:4], 16) % N_TRAINING_SHARDS
        by_shard.setdefault(shard, []).append((h, doc_id))
    for shard, members in by_shard.items():
        for pos, (_, doc_id) in enumerate(sorted(members), start=1):
            expect[doc_id] = (shard, pos)
    assert len(rows) == len(docs)
    for r in rows:
        assert (r.shard_id, r.position) == expect[r.doc_id], r.doc_id
    # layout sanity: every shard is populated at this corpus size
    assert len(by_shard) == N_TRAINING_SHARDS


def test_unigram_prob_bounds_and_mass(spark, sf_dir):
    """Scores are probabilities of observed tokens: each in (0, 1],
    and the token-mass identity holds — sum over docs of
    n_tokens * avg_token_prob * total_tokens equals the sum over
    distinct terms of cnt² (both count co-occurrence mass)."""
    from pac_spark.operators.text import unigram_prob_score

    rows = unigram_prob_score(spark, sf_dir).collect()
    total = sum(r.n_tokens for r in rows)
    assert total > 0
    for r in rows:
        assert 0.0 < r.avg_token_prob <= 1.0
    mass_lhs = round(sum(r.avg_token_prob * r.n_tokens * total for r in rows))
    import collections

    texts = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text").collect()
    cnt = collections.Counter(tok for (t,) in texts for tok in t.split(" "))
    assert mass_lhs == sum(c * c for c in cnt.values())


def test_funnel_stage_ordering_and_monotone_counts(spark, sf_dir):
    """Funnel invariants: stage timestamps strictly increase where
    present, a later stage implies the earlier one, and stage user
    counts are monotone non-increasing. Non-vacuity: the fixture must
    actually contain users reaching the final stage."""
    from pac_spark.operators.temporal import funnel_view_click_purchase

    rows = funnel_view_click_purchase(spark, sf_dir).collect()
    assert rows
    n_view = len(rows)
    n_click = sum(1 for r in rows if r["reached_click"])
    n_purchase = sum(1 for r in rows if r["reached_purchase"])
    assert n_view >= n_click >= n_purchase
    assert n_purchase > 0, "fixture has no completed funnel - vacuous"
    for r in rows:
        if r["reached_purchase"]:
            assert r["reached_click"], r
            assert r["view_ts"] < r["click_ts"] < r["purchase_ts"], r
            assert r["view_to_purchase_micros"] > 0
        elif r["reached_click"]:
            assert r["view_ts"] < r["click_ts"], r
            assert r["purchase_ts"] is None
        else:
            assert r["click_ts"] is None and r["purchase_ts"] is None


def test_funnel_plan_no_cartesian_and_pushed_filters(spark, sf_dir):
    from pac_spark.cache import release_caches
    from pac_spark.operators.temporal import funnel_view_click_purchase
    from pac_spark.plans.audit import plan_audit

    try:
        df = funnel_view_click_purchase(spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "CartesianProduct" not in plan
        full = qe.toString()
        assert "PushedFilters" in full and "PushedFilters: []" not in full
        # one pushed event-type scan PER STAGE, end-to-end including
        # the pinned stage frames' builds: the un-pinned cascade
        # re-scanned the view slice 3x and click 2x (plan-audit
        # campaign r8 — also pins the auditor's handling of
        # triply-nested cached builds)
        df.count()
        a = plan_audit(df)
        assert a.scans == 3, a
        assert a.cartesian_products == 0
    finally:
        release_caches(all_generations=True)


def test_rowlocal_signatures_match_grouped(spark, sf_dir):
    """The row-local (streaming) minhash signature must be
    byte-identical to the groupBy (batch index) signature for every
    document — the property that makes stream band keys collide with
    the stored index at all."""
    from pyspark.sql import functions as F

    from pac_spark.operators.dedup import (
        _rowlocal_signature_cols,
        _shingle_sets,
        _signatures_from_shingle_rows,
    )

    doc_sets = _shingle_sets(spark, sf_dir)
    rows = doc_sets.select("doc_id", F.explode_outer("sh").alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )
    grouped = _signatures_from_shingle_rows(rows)
    rowlocal = doc_sets.filter(F.size("sh") > 0).select(
        "doc_id", *_rowlocal_signature_cols("sh")
    )
    assert grouped.exceptAll(rowlocal).count() == 0
    assert rowlocal.exceptAll(grouped).count() == 0


def test_pagerank_mass_and_partition_invariance(spark, sf_dir):
    """Exact-integer PageRank: total mass stays within the truncation
    bound (each edge and each damping step can only LOSE micro-units,
    never create them), ranks are identical under a different
    partitioning (associativity of the integer sums), and suppliers —
    the high-degree side of the bipartite trade graph — hold the top
    ranks."""
    from pac_spark.operators.graph import (
        PR_ITERATIONS,
        RANK_SCALE,
        pagerank,
        trade_edges,
    )

    edges = trade_edges(spark, sf_dir)
    r1 = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    total = sum(r1.values())
    n_edges = edges.count()
    # per iteration: <= E lost to contribution division, <= N+1 to the
    # damping/teleport divisions; loose upper bound on total loss
    max_loss = PR_ITERATIONS * (n_edges + len(r1) + 1) * 100
    assert 0 < RANK_SCALE - total < max_loss, (total, RANK_SCALE, max_loss)
    r2 = {
        r["node"]: r["rank"]
        for r in pagerank(edges.repartition(7, "dst")).collect()
    }
    assert r1 == r2, "integer pagerank must be partition-invariant"
    top_role = max(r1.items(), key=lambda kv: kv[1])[0]
    assert top_role % 4 == 2, "a supplier should top the trade graph"


def test_scd2_change_counts_match_construction(spark, sf_dir):
    """The derived-snapshot diff must classify exactly the keys the
    modular construction changed: inserts = keys ≡0 (mod 11), deletes
    = ghost keys from ≡0 (mod 13), updates = ≡0 (mod 7) minus those
    already counted as inserts."""
    from pac_spark.operators.scd import (
        GHOST_OFFSET,
        MOD_DELETE,
        MOD_INSERT,
        MOD_UPDATE,
        scd2_customer_diff,
    )

    keys = [
        r["c_custkey"]
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey")
        .collect()
    ]
    rows = scd2_customer_diff(spark, sf_dir).collect()
    got = {}
    for r in rows:
        got.setdefault(r["change_type"], set()).add(r["c_custkey"])
    want_insert = {k for k in keys if k % MOD_INSERT == 0}
    want_delete = {k + GHOST_OFFSET for k in keys if k % MOD_DELETE == 0}
    want_update = {k for k in keys if k % MOD_UPDATE == 0 and k % MOD_INSERT != 0}
    assert got.get("insert", set()) == want_insert
    assert got.get("delete", set()) == want_delete
    assert got.get("update", set()) == want_update
    for r in rows:
        if r["change_type"] == "update":
            assert r["old_c_acctbal"] != r["new_c_acctbal"]


def test_generic_funnel_alternate_stages(spark, sf_dir):
    """The generic funnel must work for any stage list: run the
    signup → view → purchase ordering and check the same invariants
    (monotone stage counts, strictly increasing stage timestamps)."""
    from pac_spark import catalog
    from pac_spark.operators.temporal import funnel

    rows = funnel(
        catalog.load(spark, sf_dir, "events"), ["signup", "view", "purchase"]
    ).collect()
    assert rows
    n1 = len(rows)
    n2 = sum(1 for r in rows if r["reached_view"])
    n3 = sum(1 for r in rows if r["reached_purchase"])
    assert n1 >= n2 >= n3 > 0
    for r in rows:
        if r["reached_purchase"]:
            assert r["signup_ts"] < r["view_ts"] < r["purchase_ts"]
            assert r["signup_to_purchase_micros"] > 0


def test_profile_counts_nulls_and_distincts_on_crafted_frame(spark):
    """The orders fixture carries no NULLs, so the fixture parity row
    exercises n_nulls only as zeros. Craft a frame with nulls, dupes,
    and a double column and check every profile statistic by hand."""
    from pac_spark.operators.profile import profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, 2.5), (4, "b", 2.5), (4, "b", 2.5)],
        "id long, tag string, score double",
    )
    rows = {r["column"]: r for r in profile(df).collect()}
    assert rows["id"]["n_rows"] == 5
    assert rows["id"]["n_nulls"] == 0 and rows["id"]["n_distinct"] == 4
    assert rows["tag"]["n_nulls"] == 1 and rows["tag"]["n_distinct"] == 2
    assert rows["tag"]["min_value"] == "a" and rows["tag"]["max_value"] == "b"
    assert rows["score"]["n_nulls"] == 1 and rows["score"]["n_distinct"] == 2
    # doubles stringify as integer micro-units
    assert rows["score"]["min_value"] == "1500000"
    assert rows["score"]["max_value"] == "2500000"


def test_skew_report_surfaces_planted_hot_key(spark, sf_dir, tmp_path):
    """On a crafted fact where one key holds half the rows, the report
    must rank it first with share ~500 permille and a uniform-ratio
    far above 100."""
    import os

    from pyspark.sql import functions as F

    from pac_spark.operators.scale import key_skew_report

    n = 2000
    ts = F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts")
    hot = spark.range(n).select(F.lit(7).alias("user_id"), ts)
    cold = spark.range(n).select((F.col("id") % 100 + 100).alias("user_id"), ts)
    skew_dir = str(tmp_path / "skewed")
    os.makedirs(skew_dir, exist_ok=True)
    hot.unionByName(cold).write.mode("overwrite").parquet(
        os.path.join(skew_dir, "events.parquet")
    )
    top = key_skew_report(spark, skew_dir).collect()
    assert top[0]["user_id"] == 7
    assert abs(top[0]["share_permille"] - 500) <= 1
    # 101 keys, half the table on one: ratio ~ 50x the uniform key
    assert top[0]["uniform_ratio_pct"] > 1000
    assert all(r["uniform_ratio_pct"] < 200 for r in top[1:])


def test_pagerank_rejects_empty_graph(spark):
    import pytest

    from pac_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="non-empty"):
        pagerank(empty)


def test_lifetime_cents_rounding_half_away_from_zero():
    from pac_spark.streaming.stateful import _cents

    assert _cents(1.125) == 113  # python round() would give 112
    assert _cents(-1.125) == -113  # int(v*100+0.5) would give -112
    # -1.005's double is -100.4999..., so -100 IS the cross-engine answer
    assert _cents(-1.005) == -100
    assert _cents(-0.125) == -13  # python round(-12.5) would give -12
    assert _cents(0.0) == 0


def test_funnel_rejects_duplicate_stages(spark, sf_dir):
    import pytest

    from pac_spark import catalog
    from pac_spark.operators.temporal import funnel

    ev = catalog.load(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="unique"):
        funnel(ev, ["view", "click", "view"])
    with pytest.raises(ValueError, match="two stages"):
        funnel(ev, ["view"])


def test_funnel_rejects_non_identifier_stage_names(spark, sf_dir):
    import pytest

    from pac_spark import catalog
    from pac_spark.operators.temporal import funnel

    ev = catalog.load(spark, sf_dir, "events")
    for bad in ("a.b", "a b", "a`b", ""):
        with pytest.raises(ValueError, match="identifier-safe"):
            funnel(ev, ["view", bad])
    # digit-leading stages are safe (generated names are prefixed) and
    # must stay accepted — the review found the first guard rejected them
    assert funnel(ev, ["view", "404_click"]).columns[0] == "user_id"


def test_pagerank_ranks_dst_only_nodes(spark):
    """A non-symmetric edge set must rank sink-only nodes instead of
    silently dropping the mass sent to them (ADVICE r4): node 3 below
    never appears as src, yet receives 1's and 2's contributions."""
    from pac_spark.operators.graph import RANK_SCALE, pagerank

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, None)], "src long, dst long"
    ).filter("dst IS NOT NULL")
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    assert set(ranks) == {1, 2, 3}
    assert ranks[3] > ranks[1] == ranks[2]
    # dangling mass is redistributed, so only integer-truncation dust
    # is lost; total stays <= initial
    assert sum(ranks.values()) <= RANK_SCALE


def test_pagerank_asymmetric_redistributes_dangling_mass(spark):
    """VERDICT r5 next-#7: on an asymmetric graph with a dangling sink,
    the engine must match a serial reference of the SAME integer
    recurrence (with uniform dangling redistribution) bit-for-bit,
    and total mass must stay within integer-truncation dust of
    RANK_SCALE instead of draining into the sink."""
    from pac_spark.operators.graph import (
        DAMPING_PCT,
        RANK_SCALE,
        pagerank,
    )

    # 1→2, 1→3, 2→3, 4→1: node 3 is a dangling sink, 4 is source-only
    edge_list = [(1, 2), (1, 3), (2, 3), (4, 1)]
    iters = 6
    nodes = sorted({u for e in edge_list for u in e})
    n = len(nodes)
    out = {u: [v for a, v in edge_list if a == u] for u in nodes}
    ranks = {u: RANK_SCALE // n for u in nodes}
    teleport = (100 - DAMPING_PCT) * RANK_SCALE // (100 * n)
    for _ in range(iters):
        mass = {u: 0 for u in nodes}
        for u in nodes:
            for v in out[u]:
                mass[v] += ranks[u] // len(out[u])
        dmass = sum(ranks[u] for u in nodes if not out[u])
        ranks = {
            u: teleport + DAMPING_PCT * (mass[u] + dmass // n) // 100
            for u in nodes
        }

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r["node"]: r["rank"] for r in pagerank(edges, iterations=iters).collect()
    }
    assert got == ranks, "engine diverged from the serial reference"
    # truncation loses < (E + 2N + 100) micro-units per iteration; at
    # RANK_SCALE=1e12 the conserved total must stay essentially intact
    loss = RANK_SCALE - sum(got.values())
    assert 0 <= loss <= iters * (len(edge_list) + 2 * n + 100)


def test_cms_never_undercounts_and_is_partition_invariant(spark, sf_dir):
    """The count-min guarantee, for EVERY key (the registered query
    only reports the top-N): est >= exact. And the sketch table must
    be identical under different partitionings — elementwise integer
    adds commute, which is what makes it cluster-mergeable."""
    from pac_spark.operators.sketch import cms_build, cms_estimate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
    sketch3 = cms_build(ev.repartition(3), "user_id")
    sketch7 = cms_build(ev.repartition(7), "user_id")
    t3 = {(r["row"], r["col"]): r["cnt"] for r in sketch3.collect()}
    t7 = {(r["row"], r["col"]): r["cnt"] for r in sketch7.collect()}
    assert t3 == t7, "sketch differs across partitionings"

    from pyspark.sql import functions as F

    exact = ev.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    est = cms_estimate(sketch3, exact, "user_id").collect()
    assert est, "no keys estimated"
    under = [r for r in est if r["est"] < r["n_rows"]]
    assert not under, f"CMS undercounted: {under[:3]}"


def test_ivf_centroids_partition_invariant(spark, sf_dir):
    """The deterministic quantizer's whole claim: centroids are built
    from exact BIGINT sums, so ANY partitioning of the fit sample
    yields byte-identical centroids (and hence an identical index +
    identical search results)."""
    from pac_spark.operators.similarity import _dvec, _ivf_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", _dvec("embedding").alias("v")
    )
    c3 = {
        r["centroid_id"]: tuple(r["c"])
        for r in _ivf_centroids(emb.repartition(3)).collect()
    }
    c11 = {
        r["centroid_id"]: tuple(r["c"])
        for r in _ivf_centroids(emb.repartition(11)).collect()
    }
    assert c3.keys() == c11.keys() and len(c3) > 0
    for k in c3:
        assert c3[k] == c11[k], f"centroid {k} differs across partitionings"


def test_diff_then_merge_is_identity(spark, sf_dir):
    """The CDC loop closes exactly: applying snapshot_diff(old, new)
    to old must reproduce new row-for-row — diff ∘ merge = identity,
    the strongest possible oracle for both operators at once. Also
    asserts the duplicate-change guard raises."""
    import pytest as _pt

    from pac_spark.operators.scd import (
        _old_snapshot,
        merge_changeset,
        snapshot_diff,
    )

    new = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    old = _old_snapshot(new)
    diff = snapshot_diff(old, new, "c_custkey")
    changes = diff.select(
        "c_custkey",
        "change_type",
        *[
            F.col(f"new_{c}").alias(c)
            for c in ("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        ],
    )
    merged = merge_changeset(old, changes, "c_custkey")
    assert merged.count() == new.count()
    assert merged.exceptAll(new).count() == 0
    assert new.exceptAll(merged).count() == 0

    dup = changes.limit(1).unionByName(changes.limit(1))
    with _pt.raises(ValueError, match="duplicate change rows"):
        merge_changeset(old, dup, "c_custkey")


def test_cms_unseen_keys_estimate_zero_or_low(spark, sf_dir):
    """Generic-contract check: keys never inserted must still come back
    (left join + zero-filled cells), with est >= 0 and est = 0 whenever
    any of their cells was untouched — not silently dropped."""
    from pac_spark.operators.sketch import cms_build, cms_estimate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
    sketch = cms_build(ev, "user_id")
    unseen = spark.range(10**9, 10**9 + 20).withColumnRenamed("id", "user_id")
    est = cms_estimate(sketch, unseen, "user_id").collect()
    assert len(est) == 20, "unseen keys must not vanish from estimates"
    assert all(r["est"] >= 0 for r in est)


def test_merge_changeset_rejects_unknown_ops(spark, sf_dir):
    import pytest as _pt

    from pac_spark.operators.scd import merge_changeset

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    bad = spark.createDataFrame([(3, "upsert", "c")], "k long, change_type string, v string")
    with _pt.raises(ValueError, match="unknown change_type"):
        merge_changeset(base, bad, "k")


def test_group_percentiles_disc_matches_serial_reference(spark):
    """percentile_disc semantics on a crafted frame WITH ties: for each
    p, the smallest value whose cumulative count reaches p% — checked
    against a serial computation, including the all-equal group."""
    from pac_spark.operators.stats import group_percentiles_disc

    data = [("a", v) for v in [1.0, 1.0, 2.0, 3.0, 3.0, 3.0, 9.0]] + [
        ("b", 5.0)
    ] * 4
    df = spark.createDataFrame(data, "g string, v double")
    got = {
        r["g"]: r
        for r in group_percentiles_disc(df, ["g"], "v", (25, 50, 75, 99)).collect()
    }

    def ref(vals, p):
        vals = sorted(vals)
        n = len(vals)
        for i, v in enumerate(vals, start=1):
            if i * 100 >= p * n:
                return v

    a_vals = [v for g, v in data if g == "a"]
    for p in (25, 50, 75, 99):
        assert got["a"][f"p{p}"] == ref(a_vals, p)
        assert got["b"][f"p{p}"] == 5.0
    assert got["a"]["n_values"] == 7 and got["b"]["n_values"] == 4


def test_gapfill_fills_gaps_and_carries_forward(spark, tmp_path):
    """One user with events at hours 0 and 3: the grid must contain all
    four hours, zero-fill 1 and 2, and carry hour 0's total forward."""
    import datetime as dt

    from pac_spark.operators.temporal import timeseries_gapfill_hourly

    rows = [
        (1, 10, dt.datetime(2024, 1, 1, 0, 15), 2.0),
        (1, 11, dt.datetime(2024, 1, 1, 0, 45), 3.0),
        (1, 12, dt.datetime(2024, 1, 1, 3, 5), 7.0),
    ]
    src = str(tmp_path / "sf_mini")
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    ).write.parquet(src + "/events.parquet")
    out = {
        r["hour_str"]: r for r in timeseries_gapfill_hourly(spark, src).collect()
    }
    assert sorted(out) == [
        "2024-01-01 00:00",
        "2024-01-01 01:00",
        "2024-01-01 02:00",
        "2024-01-01 03:00",
    ]
    assert out["2024-01-01 00:00"]["hour_value"] == 5.0
    assert out["2024-01-01 01:00"]["n_events"] == 0
    assert out["2024-01-01 01:00"]["hour_value"] == 0.0
    assert out["2024-01-01 01:00"]["carry_value"] == 5.0
    assert out["2024-01-01 02:00"]["carry_value"] == 5.0
    assert out["2024-01-01 03:00"]["carry_value"] == 7.0


def test_rfm_scores_partition_the_customers(spark, sf_dir):
    """Every score lands in 1..4, the lowest-metric customers score 1,
    and monotonicity holds: a customer with strictly higher monetary
    than another never has a lower m_score."""
    from pac_spark.operators.stats import rfm_customer_segments

    rows = rfm_customer_segments(spark, sf_dir).collect()
    assert rows, "no customers scored"
    for r in rows:
        assert 1 <= r["r_score"] <= 4
        assert 1 <= r["f_score"] <= 4
        assert 1 <= r["m_score"] <= 4
        assert r["rfm_cell"] == r["r_score"] * 100 + r["f_score"] * 10 + r["m_score"]
    by_monetary = sorted(rows, key=lambda r: r["monetary"])
    scores = [r["m_score"] for r in by_monetary]
    assert scores == sorted(scores), "m_score not monotone in monetary"


def test_maintain_sum_count_handles_group_moves(spark):
    """The IVM delta algebra on a crafted changeset covering all four
    shapes at once: insert into a NEW group, delete emptying a group,
    update moving a row ACROSS groups, and an in-place value update —
    maintained view must equal a full recompute of the new table."""
    from pac_spark.operators.scd import maintain_sum_count, snapshot_diff

    old_rows = [
        (1, "a", 100),
        (2, "a", 200),
        (3, "b", 50),
        (4, "c", 70),  # group c has exactly one row; deleting empties it
    ]
    new_rows = [
        (1, "a", 100),  # unchanged
        (2, "b", 200),  # moved a -> b
        (3, "b", 75),   # value updated in place
        (5, "d", 30),   # inserted into brand-new group d
    ]
    old = spark.createDataFrame(old_rows, "id long, g string, cents long")
    new = spark.createDataFrame(new_rows, "id long, g string, cents long")
    from pyspark.sql import functions as F

    base_agg = old.groupBy("g").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents")
    )
    changes = snapshot_diff(old, new, "id").select(
        "change_type",
        "old_g",
        "new_g",
        F.coalesce("old_cents", F.lit(0)).alias("_oc"),
        F.coalesce("new_cents", F.lit(0)).alias("_nc"),
    )
    got = {
        r["g"]: (r["n"], r["cents"])
        for r in maintain_sum_count(base_agg, changes, "g", "_oc", "_nc").collect()
    }
    want = {
        r["g"]: (r["n"], r["cents"])
        for r in new.groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        .collect()
    }
    assert got == want
    assert "c" not in got, "emptied group must drop out of the view"


def test_sequence_packing_is_gapless_and_bounded(spark, sf_dir):
    """Within every shard the packed layout must be gapless: documents
    tile the token stream head-to-tail (each start = previous start +
    previous n_tokens), every offset < SEQ_LEN, and sequence ids are
    non-decreasing along the shard order."""
    from pac_spark.operators.curation import SEQ_LEN, sequence_packing

    rows = sequence_packing(spark, sf_dir).collect()
    assert rows
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r["seq_offset"] < SEQ_LEN
        by_shard.setdefault(r["shard_id"], []).append(r)
    for shard, docs in by_shard.items():
        # rows come back ordered by (seq_in_shard, seq_offset, doc_id),
        # which equals the packing order within a shard
        expected_start = 0
        for r in docs:
            start = r["seq_in_shard"] * SEQ_LEN + r["seq_offset"]
            assert start == expected_start, (
                f"shard {shard}: doc {r['doc_id']} starts at {start}, "
                f"expected {expected_start} (gap or overlap)"
            )
            expected_start += r["n_tokens"]


def test_butterfly_counts_on_crafted_bipartite_graphs(spark, tmp_path):
    """K_{2,2} holds exactly one butterfly; K_{3,3} holds C(3,2)=3 per
    supplier pair across 3 pairs. Checked end-to-end through a crafted
    lineitem table (with duplicate rows to prove the distinct)."""
    from pac_spark.operators.graph import butterfly_supplier_pairs

    rows = []
    # K_{2,2}: parts 1,2 x suppliers 1,2 (each pair duplicated)
    for p in (1, 2):
        for s in (1, 2):
            rows += [(p, s), (p, s)]
    # K_{3,3} on disjoint ids: parts 10,11,12 x suppliers 10,11,12
    for p in (10, 11, 12):
        for s in (10, 11, 12):
            rows.append((p, s))
    src = str(tmp_path / "mini")
    spark.createDataFrame(
        rows, "l_partkey long, l_suppkey long"
    ).write.parquet(src + "/lineitem.parquet")
    got = {
        (r["s1"], r["s2"]): (r["shared_parts"], r["butterflies"])
        for r in butterfly_supplier_pairs(spark, src).collect()
    }
    assert got[(1, 2)] == (2, 1)
    for pair in [(10, 11), (10, 12), (11, 12)]:
        assert got[pair] == (3, 3)
    assert len(got) == 4


def test_mad_outliers_on_crafted_distribution(spark, tmp_path):
    """MAD robustness end-to-end on a crafted table: a tight cluster at
    10.00 +- 0.02 with two extreme points. The median and MAD must
    ignore the extremes (which mean/stddev would not), and exactly the
    two extremes must be flagged."""
    from pac_spark.operators.stats import mad_outliers_by_flag

    vals = [10.00, 10.01, 9.99, 10.02, 9.98, 10.00, 10.01, 500.0, -40.0]
    rows = [("A", v) for v in vals]
    src = str(tmp_path / "mini")
    spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double"
    ).write.parquet(src + "/lineitem.parquet")
    r = mad_outliers_by_flag(spark, src).collect()[0]
    assert r["n_items"] == 9
    assert r["median_price"] == 10.00
    assert r["mad_price"] == 0.01
    assert r["n_outliers"] == 2


def test_scd2_history_motifs(spark):
    """build_scd2_history on a crafted series covering every motif:
    stable, update, delete, late insert, and delete+reinsert with an
    IDENTICAL payload (the gap must still split versions)."""
    from pac_spark.operators.scd import build_scd2_history

    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    g0 = mk([(1, "a"), (2, "x"), (3, "d"), (5, "s")])
    g1 = mk([(1, "a"), (2, "y")])
    g2 = mk([(1, "a"), (2, "y"), (4, "n"), (5, "s")])
    out = [
        tuple(r)
        for r in build_scd2_history([(0, g0), (1, g1), (2, g2)], "k")
        .orderBy("k", "valid_from")
        .collect()
    ]
    assert out == [
        (1, "a", 0, None, True),      # stable: one current version
        (2, "x", 0, 1, False),        # updated at gen 1
        (2, "y", 1, None, True),
        (3, "d", 0, 1, False),        # deleted after gen 0
        (4, "n", 2, None, True),      # inserted at gen 2
        (5, "s", 0, 1, False),        # delete+reinsert, equal payload:
        (5, "s", 2, None, True),      # the gap still splits versions
    ]


def test_scd2_pointintime_reconstructs_every_generation(spark, sf_dir):
    """The full closed loop: snapshots -> history -> as-of filter must
    reproduce EVERY generation exactly (the registered row checks only
    gen 1 against its oracle)."""
    from pac_spark.cache import pin
    from pac_spark.operators.scd import (
        _COLS,
        _hist_snapshots,
        build_scd2_history,
        scd2_snapshot_at,
    )
    from pac_spark import catalog

    new = pin(catalog.load(spark, sf_dir, "customer").select(*_COLS))
    snaps = _hist_snapshots(new)
    history = pin(build_scd2_history(snaps, "c_custkey"))
    for gen, snap in snaps:
        got = {tuple(r) for r in scd2_snapshot_at(history, gen).collect()}
        want = {tuple(r) for r in snap.select(*_COLS).collect()}
        assert got == want, f"generation {gen} not reconstructed"


def test_banded_oracle_states_actual_candidate_rule(spark, tmp_path):
    """Adversarial all-bands-missed pair (VERDICT r7 wrong-#2): the
    embedding_similar_pairs / semantic_dedup oracles state the BANDED
    candidate rule, not an exhaustive within-label enumeration — so a
    true pair (cosine >= threshold) that collides in NO band must be
    absent from BOTH engines, hash-identically. The pre-r8 exhaustive
    oracle would have disagreed with the plan on exactly this data.

    The pair is found by seeded vectorized search, then re-verified
    with the exact left-fold dot (the accumulation order both engines
    run) with a sign margin >> 1 ulp on every plane, so the crafted
    property cannot flake across engines. A control near-identical
    pair (cosine 1.0, shares every band) proves non-vacuity.
    """
    import math

    import duckdb
    import numpy as np
    import pandas as pd

    from pac_spark.operators.similarity import (
        EMB_PAIR_BANDS,
        EMB_PAIR_BITS,
        _hyperplanes,
        embedding_similar_pairs,
        semantic_dedup,
    )
    from pac_spark.plans.llm_plans import _SEMANTIC_DEDUP, _similar_pairs_sql
    from tests.conftest import assert_oracle_match

    planes = _hyperplanes(EMB_PAIR_BITS * EMB_PAIR_BANDS)
    P = np.array(planes)

    def fold_dot(a, b) -> float:  # the engines' exact left fold
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    rng = np.random.default_rng(20260815)
    v = rng.standard_normal(64)
    sv = (P @ v) >= 0
    vu = v / np.linalg.norm(v)
    t = 0.38
    G = rng.standard_normal((20_000, 64))
    G = G - np.outer(G @ vu, vu)
    G = G / np.linalg.norm(G, axis=1, keepdims=True)
    W = t * vu[None, :] + math.sqrt(1 - t * t) * G
    SW = (P @ W.T) >= 0
    diff = sv[:, None] != SW
    bands_diff = diff.reshape(EMB_PAIR_BANDS, EMB_PAIR_BITS, -1).any(axis=1)
    hits = np.nonzero(bands_diff.all(axis=0))[0]
    w = None
    for k in hits:  # exact-fold re-verification with sign margins
        cand = W[k]
        dots_v = [fold_dot(v, p) for p in planes]
        dots_w = [fold_dot(cand, p) for p in planes]
        if min(abs(d) for d in dots_v + dots_w) < 1e-6:
            continue
        bits_v = ["1" if d >= 0 else "0" for d in dots_v]
        bits_w = ["1" if d >= 0 else "0" for d in dots_w]
        shares_band = any(
            bits_v[b * EMB_PAIR_BITS : (b + 1) * EMB_PAIR_BITS]
            == bits_w[b * EMB_PAIR_BITS : (b + 1) * EMB_PAIR_BITS]
            for b in range(EMB_PAIR_BANDS)
        )
        cos = fold_dot(v, cand) / math.sqrt(fold_dot(v, v) * fold_dot(cand, cand))
        if not shares_band and cos >= 0.36:
            w = cand
            break
    assert w is not None, "seeded search found no verifiable adversarial pair"

    control = v * 1.01  # cosine 1.0 with v -> identical signs, all bands shared
    pd.DataFrame(
        {
            "vec_id": [0, 1, 2],
            "embedding": [list(map(float, x)) for x in (v, w, control)],
            "label": ["L", "L", "L"],
        }
    ).to_parquet(tmp_path / "embeddings.parquet")

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{tmp_path / 'embeddings.parquet'}'"
    )
    got = embedding_similar_pairs(spark, str(tmp_path))
    pairs = {(r["vec_a"], r["vec_b"]) for r in got.collect()}
    # the control pair survives; the true-but-all-bands-missed pair is
    # absent — the STATED candidate semantics, in both engines
    assert (0, 2) in pairs and (0, 1) not in pairs, pairs
    assert_oracle_match(got, con.sql(_similar_pairs_sql()))
    # and the clustering built on those candidates agrees end-to-end:
    # 0+2 cluster together, 1 stays its own keeper
    sd = semantic_dedup(spark, str(tmp_path))
    clusters = {r["vec_id"]: r["cluster_id"] for r in sd.collect()}
    assert clusters == {0: 0, 1: 1, 2: 0}, clusters
    assert_oracle_match(sd, con.sql(_SEMANTIC_DEDUP))
    con.close()


def test_export_envelope_empty_corpus_matches_oracle(spark, sf_dir, tmp_path):
    """Empty corpus: every derived envelope field (as_of, the guarded
    average) is NULL — Spark's to_json must RENDER the nulls like
    DuckDB's to_json does, not omit the keys (Spark's default
    ignoreNullFields=true). The registry-wide empty sweep only proves
    the Spark side runs; this pins the cross-engine JSON bytes for the
    one spec whose output embeds its own serialization."""
    import duckdb
    import pyarrow.parquet as pq

    from pac_spark.operators.issues import export_envelope
    from pac_spark.plans.issues_plans import _ENVELOPE_ORACLE
    from tests.conftest import assert_oracle_match

    con = duckdb.connect()
    for name in ("orders", "customer"):
        path = tmp_path / f"{name}.parquet"
        pq.write_table(
            pq.read_table(f"{sf_dir}/{name}.parquet").slice(0, 0), path
        )
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    got = export_envelope(spark, str(tmp_path))
    info = got.collect()[0]["export_info"]
    # all five keys present, nulls rendered
    assert '"as_of":null' in info and '"avg_issues_per_company":null' in info
    assert_oracle_match(got, con.sql(_ENVELOPE_ORACLE))
    con.close()


def test_quantile_normalize_excludes_null_quality_in_both_engines(
    spark, tmp_path
):
    """A NULL-text doc has NULL quality — Spark windows would rank it
    FIRST, DuckDB LAST, shifting every other doc's rank differently
    per engine. The stated contract excludes it from normalization on
    BOTH sides; this pins the crafted divergence case the real
    fixtures never exercise (they carry no NULL text)."""
    import duckdb
    import pandas as pd

    from pac_spark.operators.text import quantile_normalized_quality
    from pac_spark.plans.llm_plans import QNORM_SQL
    from tests.conftest import assert_oracle_match

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta " * 4,
        "one two three four five six seven eight nine ten " * 3,
        None,  # the doc whose rank position the engines disagree on
        "lorem ipsum dolor sit amet consectetur adipiscing elit " * 5,
        "red green blue yellow purple orange cyan magenta " * 2,
    ]
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["a", "a", "a", "b", "b"],
            "n_chars": [len(t) if t else 0 for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{tmp_path / 'documents.parquet'}'"
    )
    got = quantile_normalized_quality(spark, str(tmp_path))
    ids = {r["doc_id"] for r in got.collect()}
    assert 2 not in ids and len(ids) == 4, ids
    assert_oracle_match(got, con.sql(QNORM_SQL))
    con.close()


def test_blank_as_absent_scoring_parity(spark):
    """The reference's presence rule: a field participates in the
    weighted blend iff its NORMALIZED form is non-empty (``if name1
    and name2:`` AFTER normalize_string — executive_review_tool.py:
    200-231). Whitespace-only fields (including non-ASCII whitespace:
    NBSP, tab, ideographic space) must therefore be ABSENT in both
    engines; the pre-r8 raw-trim guard counted them present in Spark
    only. Cross-engine: _score_aliased_pairs vs the er_plans
    field-scored CTE over the identical crafted pair set."""
    import duckdb

    import pandas as pd
    from pac_spark.operators.entity_resolution import (
        _score_aliased_pairs,
        _with_scoring_keys,
    )
    from pac_spark.plans.er_plans import _FIELD_SCORED_CTE, _PAIR_COLS
    from tests.conftest import assert_oracle_match

    recs = pd.DataFrame(
        {
            "record_id": [1, 2, 3, 4],
            "name": ["John  Smith", "Smith　John", " ", "Jane Doe"],
            "title": ["VP\tOps", "\t\t", "VP Ops", None],
            "address": ["addr 1", "addr 1", "", "addr 2"],
            "company": ["Acme Corp", "acme corp", "X", " "],
        }
    )
    sdf = _with_scoring_keys(
        spark.createDataFrame(
            recs, "record_id long, name string, title string, "
            "address string, company string"
        )
    )
    pairs = (
        sdf.alias("a")
        .join(sdf.alias("b"), F.col("a.record_id") < F.col("b.record_id"))
    )
    got = _score_aliased_pairs(pairs)

    by_pair = {(r["id_a"], r["id_b"]): r for r in got.collect()}
    # record 2's title and record 3's name are whitespace/empty-only:
    # absent from every pairing; record 1 vs 2 match on token-sorted
    # name exactly (unicode whitespace collapsed identically)
    assert by_pair[(1, 2)]["title_score"] is None
    assert by_pair[(1, 2)]["name_score"] == 100.0
    assert by_pair[(1, 3)]["name_score"] is None
    assert by_pair[(3, 4)]["company_score"] is None  # rec 4 company = ogham space
    assert by_pair[(2, 3)]["address_score"] is None  # rec 3 address = ''

    con = duckdb.connect()
    con.register("crafted_records", recs)
    oracle = f"""
    WITH raw_pairs AS (
        SELECT {_PAIR_COLS}
        FROM crafted_records a JOIN crafted_records b
          ON a.record_id < b.record_id
    ),
    {_FIELD_SCORED_CTE.strip().lstrip(',')}
    SELECT * FROM scored ORDER BY id_a, id_b
    """
    assert_oracle_match(got, con.sql(oracle))
    con.close()


def test_consolidation_presence_rules_parity(spark):
    """The r9 presence decision record (ADVICE r8): best-record
    completeness counts RAW truthiness (whitespace-only PRESENT —
    ref :540), while companies/titles collect by NORMALIZED
    non-emptiness (whitespace-only ABSENT — ref :330/:560). Crafted
    NBSP/tab/ideographic-space fields, cross-engine: the Spark helper
    pair vs the er_plans SQL twins over identical clustered rows."""
    import duckdb
    import pandas as pd

    from pac_spark.operators.entity_resolution import (
        collect_normalized_present,
        completeness_count,
    )
    from pac_spark.plans.er_plans import _NONNULL, _collect_present
    from pyspark.sql.window import Window as W
    from tests.conftest import assert_oracle_match

    recs = pd.DataFrame(
        {
            "record_id": [1, 2, 3, 4, 5],
            "cluster_id": [1, 1, 1, 4, 4],
            # the completeness rule DISCRIMINATES on rec 2's
            # space-only company: raw truthiness counts it (rec 2 = 4
            # fields, beats rec 1's 3 — rec 2 wins the cluster), while
            # the pre-r9 trim()-based count saw 3 and rec 1 won on the
            # record_id tiebreak; rec 3's tab-only title and NBSP
            # company count for completeness but are dropped from the
            # collections (normalized-emptiness)
            "name": ["Ann Lee", "Ann  Lee", None, "Bo Ix", "Bo　Ix"],
            "title": [None, "VP Ops", "\t\t", None, " "],
            "company": ["Acme", " ", " ", "", "Zed Co"],
            "address": ["a st", "b st", "", "c st", None],
        }
    )
    sdf = spark.createDataFrame(
        recs,
        "record_id long, cluster_id long, name string, title string, "
        "company string, address string",
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("nonnull_cnt"), F.asc("record_id")
    )
    best = (
        sdf.withColumn("nonnull_cnt", completeness_count())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("name").alias("best_name"))
    )
    members = sdf.groupBy("cluster_id").agg(
        collect_normalized_present(F.col("company")).alias("companies"),
        collect_normalized_present(F.col("title")).alias("titles"),
    )
    got = members.join(best, "cluster_id").orderBy("cluster_id")

    # rec 2 wins cluster 1 ONLY under raw truthiness (4 > 3; the old
    # trim rule tied 3-3 and rec 1 won on record_id) — this assertion
    # fails if the completeness rule regresses to trim(); the
    # whitespace-only title/companies are dropped from the collections
    rows = {r["cluster_id"]: r for r in got.collect()}
    assert rows[1]["best_name"] == "Ann  Lee"
    assert rows[1]["titles"] == "vp ops"
    assert rows[1]["companies"] == "acme"
    assert rows[4]["titles"] == ""

    con = duckdb.connect()
    con.register("crafted_clustered", recs)
    oracle = f"""
    WITH clustered AS (SELECT * FROM crafted_clustered),
    best AS (
        SELECT cluster_id, name AS best_name
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY cluster_id
                ORDER BY ({_NONNULL}) DESC, record_id ASC) AS rn
            FROM clustered
        ) WHERE rn = 1
    ),
    members AS (
        SELECT cluster_id,
               {_collect_present('company')} AS companies,
               {_collect_present('title')} AS titles
        FROM clustered GROUP BY cluster_id
    )
    SELECT m.cluster_id, m.companies, m.titles, b.best_name
    FROM members m JOIN best b USING (cluster_id)
    ORDER BY cluster_id
    """
    assert_oracle_match(got, con.sql(oracle))
    con.close()
