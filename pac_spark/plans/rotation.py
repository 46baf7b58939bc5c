"""Mechanized driver-cap rotation (VERDICT r6 next-#3).

The external driver hash-checks exactly the FIRST ``DRIVER_CAP`` specs
of :func:`registry.all_specs` each round, so the hoist list IS the
round's driver-evidence budget. Through r6 that list was hand-curated
from a 260-line comment; this module derives it from the recorded
evidence itself (``CORRECTNESS_r*.json``), and
``tests/test_registry_policy.py`` asserts the committed hoist equals
this tool's output — a drifting or stale hand edit now fails the
build.

Policy, in priority order (all deterministic):

1. **Mandatory**: every registered spec WITHOUT two consecutive career
   driver hash-greens. This automatically captures brand-new
   registrations (zero greens) and specs whose only greens are
   non-consecutive — exactly the set the tail-legality test
   (``test_tail_specs_have_two_consecutive_driver_greens``) would
   reject from the tail.
2. **Forced**: specs whose implementation materially changed this
   round ("changed code never rides the tail"). Evidence files cannot
   know this, so it is the one hand-maintained input
   (:data:`FORCE_HOIST`), reset each round.
3. **Staleness fill**: remaining slots go to tail-legal specs ordered
   by (oldest last-green round, name) — the spec whose newest
   evidence is oldest refreshes first, ties broken alphabetically so
   reruns are reproducible.

Run ``python -m pac_spark.plans.rotation`` to print the list for the
next round's registry edit, plus a staleness report.
"""

from __future__ import annotations

import glob
import json
import os

__all__ = [
    "FORCE_HOIST",
    "STAGED_QUEUE",
    "career_greens",
    "compute_hoist",
    "has_two_consecutive",
]

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Hand-maintained per round: registered specs whose IMPLEMENTATION
# changed since their tail evidence was recorded (the r6
# bucketed_orders_join case). Correctness history cannot see code
# churn, so this stays an explicit input.
#
# CLASSIFICATION POLICY (made explicit in r12 — ADVICE r11 #3): a spec
# is FORCED when its own LOGICAL PLAN or published values changed
# (join strategy, operator shape, new/changed expressions — even
# value-identical ones). A spec is NOT forced for a pure SUBSTRATE
# change: an execution-knob override (scoped shuffle-partition /
# state-store count), a log-only or error-path guard, or a shared
# helper refactor proven plan-identical — those ride the full local
# oracle gates (drive_contract at 2 SFs + pytest parity), because
# forcing every downstream spec of a shared knob would evict the whole
# stale fill the cap exists to rotate. Precedents: language_id r11
# (body moved into a helper -> FORCED, plan-identical or not, because
# the spec's own body changed); streaming_sessions_10m /
# streaming_tumbling_1h r11 (run_to_memory parts argument -> NOT
# forced: the drain's logical plan is byte-identical, only the
# state-store count differs, and partition-count invariance is
# oracle-proven at 2 SFs). The line is "did the spec's DECLARED
# computation change shape", not "did any line in its call graph
# change". Reset to () at the top of
# r8, then re-grown as the queued r7-review fixes landed — each entry
# is a spec with a MATERIAL plan change this round whose cap slot the
# history would not otherwise grant (specs the r8 fill already covers
# — two_hop_reach_top_customers and the mandatory-tier r8
# registrations — are deliberately NOT repeated here;
# streaming_dedup_events took a docstring-only contract record this
# round, so it legitimately rides the tail). The
# equivalence-preserving refactors of shared substrate
# (catalog.normalize_events_ts, cache.checkpoint_with_handles) ride
# the full local oracle gate instead — forcing every downstream spec
# of catalog.load would evict the whole stale fill.
# r8 entries:
# - pagerank_trade_graph: role-multiplicative node encode (key*4+role
#   — the additive cust+1e9 encode collided at custkey >= 1e9),
#   edge-scaled loop partitions, dangling-path pins, RANK_SCALE
#   resolution guard;
# - q17_small_quantity_revenue: brand semi-join pushed below the
#   per-part threshold aggregate + pinned brand slice;
# - unigram_prob_score: corpus token total now SUMs the vocab-sized
#   tf frame; toks/tf pinned;
# - cms_user_heavy_hitters + streaming_cms_heavy_hitters: shared
#   cms_top_report tail; batch ev projection pinned;
# - incremental_neardup_filter: bands + doc_sets pinned;
# - minhash_signatures / minhash_lsh_dedup / simhash_neardup:
#   _shingle_sets pin moved to multi-consumer call sites;
# - streaming_neardup_admission: stream shingling now goes through
#   text_core.distinct_shingled (drift-proof vs the stored index);
# - streaming_user_lifetime_stats: hardened _ts_to_us (explicit
#   ns/us/ms/s or raise) + plain first/last assignments under the
#   refuse-out-of-order guard;
# - embedding_similar_pairs + semantic_dedup: oracles restated as
#   banded-candidate + exact-rescore (the stated candidate rule —
#   VERDICT r7 wrong-#2) + pinned banded/normed frames; adversarial
#   all-bands-missed test added (test_properties.py);
# - token_budget_mix: corpus-sized binned frame pinned (3 consumers);
# - decontaminate: shingle-set frame pinned (train + eval consumers);
# - flagship_roles_resolved: name_parts single-token parity fix —
#   last token is now '' for one-token names, the reference's
#   extract_name_parts len==1 branch (VALUE-changing on TPC-H c_name,
#   which is always single-token; oracle restated identically;
#   code-review r8);
# - bucketed_orders_join + compaction_roundtrip + zorder_roundtrip:
#   sources/ review batch (catalog entry validated against location +
#   bucket spec before the ensure_bucketed early return; DDL quoting;
#   Z-order bucket fold uses __-prefixed lambda vars + backticked
#   column + finite-boundary guard; source_fingerprint raises on a
#   nonexistent path — code-review r8);
# - er_clusters + er_consolidated: _cluster_labels now pins records
#   (the returned clusters frame carries an isolated-node anti-join
#   that replayed the executive_records union per consumer;
#   code-review r8);
# - streaming_user_sessions_custom: in FORCE only because the r8
#   forced set would otherwise evict it from the fill — its
#   sessionizer gained the cross-batch order guard this round;
# - timeseries_gapfill_hourly: r7 rollup pin REMOVED on measurement
#   (VERDICT r7 next-#6: sf0.1 3-run min 1.15 s pinned vs 0.37 s
#   unpinned) — span bounds now come straight off the pruned events
#   scan; measured 0.475 s after the change.
FORCE_HOIST: tuple[str, ...] = (
    # r12 starter list: RESET at the top of the round (the r11 entries
    # all sat inside the r11 cap and came back hash-green, so their
    # newest driver evidence post-dates their change and they may
    # legally ride the r12 tail). Grown in-round as r12 changes land;
    # every addition names the change that voids the spec's tail
    # evidence.
    #
    # r12 OPTIMIZATION round, CC-loop broadcast (VERDICT r11 top item):
    # connected_components now byte-gates a broadcast of the endpoint-
    # sized label frame into the per-round edge join and the pointer-
    # doubling self-join — a physical-plan change in every consumer of
    # the shared CC loop, so ALL of them are forced (the r11 verdict's
    # stated done-criterion for this change):
    "er_clusters",
    "er_consolidated",
    "er_approved",
    "er_links",
    "dedup_canonical_docs",
    # trade_graph_components is STAGED, not registered — it cannot take
    # a cap slot; its CC-loop change is gated by the staged 3-SF local
    # oracle (tests/test_staged_specs.py) like every queued operator.
    "semantic_dedup",
    # r12: sssp_from_hub's pre-loop jobs restructured — the hub and
    # the node count now both read one pinned degree frame instead of
    # paying a separate edge-wide distinct exchange (VERDICT r11
    # what's-wrong-#2). Plan changed -> forced.
    "sssp_from_hub",
    # r12: levenshtein_neardup_pairs verify switched to the 3-arg
    # thresholded (banded-DP early-exit) levenshtein with k =
    # max_len div 5 — expression/plan change, published rows proven
    # identical (test_r12_optimizations + oracle drive) -> forced.
    "levenshtein_neardup_pairs",
    # r12 substrate, NOT forced per the classification policy above:
    # the shuffle-partition guard in the graph/CC/IVF loops and
    # stream_shuffle_parts is an execution-knob guard with no
    # logical-plan change; the atomic BENCH_DETAIL write is
    # bench-file-only.
)

# r9 VERIFIED DRAINED (VERDICT r8 next-#6): the ER-LSH janino 64 KB
# interpreted fallback — a full candidate_pairs_lsh drive this round
# logged ZERO "Code grows beyond 64 KB" warnings; the r8 per-record
# scoring keys were the fix, no further split needed.
#
# R10 FORCE_HOIST STARTER LIST: EMPTY as of r9 end — every spec whose
# plan or value contract changed in r9 (the ER family incl.
# er_clusters/er_consolidated, pagerank) is in the r9 cap, so its
# newest driver evidence post-dates the change and it may legally ride
# the r10 tail. r9 substrate changes that deliberately ride the local
# gates instead (the r8 precedent for equivalence-preserving
# substrate): the stale-source cache guard (cache.guard_source_snapshot
# + catalog._guard_snapshot — metadata-only, no plan change, pinned by
# test_cache.py), the cramers_v empty-corpus COALESCE (staged spec,
# value-identical on non-empty), and the bench anchor fields. r10
# step 1: reset FORCE_HOIST to () plus r10's own changes, run the
# tool, paste. r9 ultimately registered 17 (the 13 queue heads plus
# decile_lift/kcore/canonical-docs/assortativity when late-round cap
# capacity allowed), so r10 carries 17 mandatory 2nd-green slots —
# register ~13 more (queue head table_fingerprint_by_nation ..
# cramers_v_lang_source) and the backlog drops to ~21, one round from
# the <=26 bar that re-opens new-operator work.
#
# R10 APPLIED: hoist regenerated from the committed r1-r9 history with
# FORCE_HOIST=() (first commit), then 13 queue heads
# (table_fingerprint_by_nation .. streaming_kmv_distinct_users)
# registered (second commit), then — after the in-round forces landed
# at only 6 (pagerank + the ER family) and the null sweep came back
# clean on all 13 — a LATE registration of the next 13
# (cramers_v_lang_source .. conversion_latency_by_hour), the r9
# precedent for using freed cap capacity. Cap now 43 mandatory
# (17 r9 2nd-greens + 26 r10 registrations) + 6 forced + 1 staleness
# fill. Staged backlog 34 -> 8; every r7-aged spec from the VERDICT r9
# next-#4 list except user_growth_accounting (+ streaming twin) and
# weighted_percentiles_price_by_flag is now registered — those three
# sit at queue positions 6/2-from-last/last of the remaining 8 and are
# inside r11's capacity (r11 mandatory = 26 2nd-greens, so the whole
# 8-spec backlog fits and the queue EMPTIES in r11, re-opening
# new-operator work). Every queued spec stays under the identical
# local 3-SF value-hash gate while it waits. Late r10 added five NEW
# operators (the re-open bar was reached mid-round): halflife decay
# (+ streaming twin), LPA communities, streaming TWA, water-filling
# source budgets, frequency-octave Zipf histogram — backlog ends at
# 14; r11 can register all 14 (26 + 14 = 40 mandatory <= 50) and
# empty the queue.
#
# R11 FORCE_HOIST STARTER LIST: EMPTY as of r10 end — every spec whose
# plan changed in r10 (pagerank via the broadcast-threshold fallback,
# the 5-spec ER family via the measured candidate_pairs pin removal)
# is in the r10 cap, so its newest driver evidence post-dates the
# change. (A frontier-pruned sssp_from_hub was measured 1.12x SLOWER
# at sf0.1 and REVERTED same-session — decision record in the
# operator docstring; the shipped plan is byte-identical to its r10
# in-cap evidence.) r10 substrate changes that ride the local gates instead (the
# established equivalence-preserving precedent): the
# guard_source_snapshot error-message enrichment (message-only) and
# the collect_normalized_present casing decision record
# (docstring-only). r11 step 1: reset FORCE_HOIST to () plus r11's own
# changes, run the tool, paste.
#
# R11 APPLIED (first r11 commit): FORCE_HOIST reset to (), hoist
# regenerated from the committed r1-r10 history and pasted — 26
# mandatory (the 26 r10 first-greens take their 2nd consecutive green)
# + 24 staleness fill (q6_forecast/range_band/streaming trio up
# through the r5-aged q-family block). CORRECTNESS_r10.json /
# BENCH_r10.json committed in the same change, per the ADVICE r10
# low-#1 ordering note (the policy test derives mandatory from the
# committed evidence, so evidence and hoist must land together).
#
# R11 IN-ROUND STATE: the 14-spec registration (2nd r11 commit)
# emptied the queue; 29 NEW operators then staged (heaps_vocab_growth
# .. hrw_shard_rebalance, incl. both VERDICT r10 next-#3
# items), each
# 3-SF-oracle-green from birth, all 16 batch ops NULL-lace clean, all
# plan-shape pinned (tests/test_plans.py::test_r11_new_ops_scale_legal).
# FORCE stayed EMPTY all round: the only registered-code change was
# the broadcast-threshold warn-once (log-only, pagerank/lpa/sssp
# re-driven green through drive_contract anyway); the
# attribution_position_weighted plan churn (trim, then the measured
# UNPIN at two scale points) and the trade_graph_components oracle
# fixpoint fix (caught by the sf0.1 sweep) predate any driver
# evidence (staged), so no force applies.
#
# R12 FORCE_HOIST STARTER LIST: EMPTY as of r11 end, by the same
# argument. r12 step 1: commit CORRECTNESS_r11/BENCH_r11 + reset
# FORCE_HOIST to () + regenerate + paste. Mandatory = only the 14
# r11-intake specs (their single r11 green needs its 2nd consecutive;
# the 26 r10-intake specs reach two-consecutive with the r11 run and
# ride the tail); step 2: register the whole 29-spec queue
# (14 mandatory + 1 forced language_id + 29 = 44 <= 50, the queue
# empties again) and use the ~6 remaining slots as staleness fill
# (the r4-aged knn/multimodal/text_stats block heads the list).

# R9 FORCE_HOIST STARTER LIST — APPLIED as the first r9 commit (the
# tuple below IS this list plus the in-round r9 growth). Kept for the
# audit trail. MUST (plan or value contract changed on a tail spec
# in r8):
#   er_candidate_pairs, er_candidate_pairs_lsh, er_approved, er_links,
#   er_records, er_records_stringified          (skeys + explode + ws)
#   pq_topk, ann_ivf_topk                       (NULL contract; Lloyd cut)
#   lang_quality_quantiles, window_distribution_stats   (NULL lace)
#   q12_ship_delay_priority, q21_last_to_ship   (value-affecting parity)
#   scalar_functions_showcase, token_counts     (VT regex class)
#   funnel_view_click_purchase                  (stage-frame pins)
#   set_ops_customers, semi_anti_customers      (shared-base pins)
# = 17 forced; with ~26 mandatory (13 r8-registration 2nd greens +
# ~13 r9 registrations) that leaves ~7 fill slots. SHOULD-force on
# next natural churn (value-identical, lower priority): the q-family
# broadcast-hint batch, mad_outliers_by_flag, pii_scrub_docs + the
# multimodal family (r4-stale fill head anyway).
#
# Queued tail work for r9 (the r8 cap is FULL — 26 mandatory + 24
# forced; apply the fix THEN force-hoist the spec in r9):
# - ALREADY APPLIED in late r8 (code-review over tpch/issues/evaluate/
#   recommend/quality), value-identical on driver fixtures, so they
#   ride the tail this round but r9 SHOULD force-hoist the q-family
#   batch on its next churn: tpch.py dropped every broadcast hint on
#   part/supplier-derived frames (q2/q7/q8/q9/q11/q14/q15/q16/q19/
#   q20 — those tables SCALE; join strategy cannot change values);
#   q12 counts NULL priority as LOW in both engines (was: skipped
#   from both sums in Spark only); q21 re-aggregates on s_name like
#   its oracle (names are not schema-unique; key-only grouping emits
#   split rows on duplicate names) -> FORCE q12_ship_delay_priority +
#   q21_last_to_ship in r9; export_envelope now renders NULL JSON
#   fields (ignoreNullFields=false, divergent only on an empty
#   corpus — parity pinned by
#   test_properties.py::test_export_envelope_empty_corpus_matches_oracle).
# - ALSO APPLIED late r8 (stats/relational/temporal-plans + substrate
#   review), value-identical on fixtures, same non-force rationale:
#   percentiles/MAD NULL-price exclusion stated in BOTH engines
#   (fixture prices are non-null); semi_anti_customers null-safe
#   full-outer recombine (fixture segments non-null); session-gap
#   constant unified (windows.SESSION_GAP_MIN is the source,
#   temporal re-exports); shingles_of_tokens NULL-toks -> empty
#   array (fixture text non-null); catalog paths through
#   table_path + Hadoop-FS existence probe; defensive
#   SPARK_GRAFT_CPUS parse -> r9 may force mad_outliers_by_flag +
#   semi_anti_customers on their next natural staleness turn.
# - NULL-LACED SWEEP catch list (late r8, null_sweep.py + pinned in
#   tests/test_null_lace.py): Spark-side NULL-contract fixes landed
#   for pq_topk (NULL-embedding filter), ks_test + winsorized
#   (NULL-price exclusion), lang_quality_quantiles (NULL-lang/-quality
#   exclusion), window_distribution_stats (NULL-priority/-price
#   exclusion); oracle-only restatements for token_budget_mix,
#   er_consolidated/er_approved (COALESCE empty variation sets),
#   and the PQ/quantiles/window-dist oracles. All value-identical on
#   driver fixtures (which carry no NULLs). In-cap specs (ks_test,
#   winsorized, token_budget_mix, er_consolidated) get driver
#   re-proof THIS round; r9 must FORCE the touched tail specs:
#   pq_topk, lang_quality_quantiles, window_distribution_stats,
#   er_approved.
# - Lloyd-loop lineage cut (late r8, plan-audit campaign): the
#   per-round pin in _ivf_centroids kept the whole unrolled loop in
#   every downstream plan (7 MB plan text, ~300 lineage exchanges
#   through pq_topk's 8 per-subspace loops); per-round
#   checkpoint() keeps plans flat at any iteration count and measured
#   FASTER (sf0.1 warm: pq_topk 10.1s -> 6.6s, ann_ivf_topk 4.1s ->
#   3.2s — driver planning dominated). Values unchanged (parity
#   green); r9 must FORCE ann_ivf_topk too (pq_topk already queued).
# - name_slug \s divergence — APPLIED late r8: Java's \s includes
#   \x0B (vertical tab), RE2's does not; scalar_functions_showcase
#   now states the explicit ASCII class in both engines (crafted VT
#   check run in both; fixture part names carry no VT, values
#   unchanged, parity green) -> r9 force scalar_functions_showcase.
#   Same class restated in token_counts' bpe-ish regex (crafted VT
#   token parity run in both engines) -> r9 force token_counts.
# - funnel stage-frame pins (late r8, plan-audit campaign): each
#   per-user stage frame has two consumers (next stage's join + the
#   final cascade) — un-pinned, the view slice scanned 3x and click
#   2x per run; now one pushed scan per stage (plan-asserted in
#   test_funnel_plan_no_cartesian_and_pushed_filters). Values
#   unchanged (both funnel parities green). funnel_within_1h is in
#   the r8 cap; r9 must FORCE funnel_view_click_purchase.
# - shared-base pins in set_ops_customers (6 fact scans -> 1) and
#   semi_anti_customers (4 -> 2) + the daily_event_mix_drift dt pin
#   (staged, 4 -> 1) — same campaign, values unchanged, parities
#   green. r9 must FORCE set_ops_customers + semi_anti_customers.
# - normalize_string whitespace parity — APPLIED late r8: both
#   engines now use the explicit Python-split whitespace class
#   (normalize.PY_SPLIT_WS, validated exhaustively against
#   str.isspace(); er_plans._norm + the flagship oracle interpolate
#   the same constant). Values unchanged on the ASCII fixtures;
#   pinned by test_function_properties.py::
#   test_normalize_whitespace_matches_python_reference (full
#   isspace battery, Spark + DuckDB vs the Python reference).
# - blank-as-absent presence rule — APPLIED late r8: a field is
#   present iff its NORMALIZED form is non-empty (the reference's
#   ``if name1 and name2`` after normalize_string). Both engines
#   restated (_score_aliased_pairs guards on scoring-key emptiness;
#   er_plans._present guards on _norm(...) <> ''). The pre-r8
#   raw-trim guard diverged on tab-only / unicode-whitespace-only
#   fields; fixtures carry none, so fixture values are unchanged.
#   Pinned by test_properties.py::test_blank_as_absent_scoring_parity
#   (crafted NBSP/tab/ogham/ideographic-space fields, cross-engine).
#   Touched tail specs fold into the r9 ER force batch listed below.
# - PERF (pre-existing, spotted in the r8 full drives):
#   er_candidate_pairs_lsh tripped janino's 64 KB method limit in a
#   hash-aggregate output ("Code grows beyond 64 KB" -> that stage
#   ran INTERPRETED, correct but slow at scale) — the fused
#   token_sort_ratio trees (normalize+split+sort inlined ~3x per
#   side per field) in the per-pair scoring projection.
#   APPLIED late r8: per-record scoring keys
#   (entity_resolution._with_scoring_keys) computed once on the
#   records frame; the per-pair scorer is now plain levenshtein over
#   key columns. Values unchanged (same math — ER parity suite
#   re-run green this session); sf0.01 cold drive 19.2s -> 14.3s.
#   r9 MUST force-hoist the touched tail specs: er_candidate_pairs,
#   er_candidate_pairs_lsh, er_approved, er_links, er_records,
#   er_records_stringified — the last two also carry the late-r8
#   explode-of-variants records rewrite (plan-audit campaign) —
#   (er_clusters + er_consolidated are in the r8 cap and get driver
#   re-proof now).
# - substrate hardenings that rode the local gates in r8 (values and
#   plans unchanged for their registered consumers — salted_join str
#   wrap, bloom key-type recording with identity cast, prefix-scan
#   reserved-name guard + NULL semantics, shared _md5_digits_sql,
#   cache registry lock, resolve_table-through-load, the
#   STATUS_TO_BUCKET-driven aliases, the shared BYTES_CTE move, scrub
#   ASCII word-boundary rule (fixture denylist is ASCII), and the
#   multimodal NULL-payload handling (fixtures carry no NULL text;
#   parity pinned by the crafted NULL rows in
#   test_multimodal_multibyte.py)): deliberate non-forces, r9 may
#   force pii_scrub_docs + the multimodal family on their next natural
#   staleness turn anyway (they are the r4-stale fill head).

# The r7-review fix queue that lived here was fully drained in r8
# (commits a106a9c..f79a2df): unigram/cms/token_budget/incremental/
# minhash/banded pins, q17 semi-join pushdown, shared cms_top_report +
# _purchase_click_joined + distinct_shingled + normalize_events_ts +
# checkpoint_with_handles helpers, the stateful.py hardening batch
# (_ts_to_us explicit resolutions, _sessionize order guard,
# _lifetime_fold plain assignments), the pagerank batch (key*4+role
# encode, edge-scaled loop partitions, dangling-path pins, RANK_SCALE
# guard — TWO_HOP_SQL/ASSORTATIVITY_SQL/SSSP_SQL updated identically),
# the banded-candidate oracle restatement (+ adversarial
# all-bands-missed test), the streaming_dedup_events horizon decision
# record (SURVEY §2.9 + test_watermark.py), and the measured gapfill
# pin removal. Every touched registered spec is in FORCE_HOIST above.

# Implemented operators WAITING for a registration slot, in
# registration-priority order (staging age, oldest first — the r6
# bullets' order). Each has its identical local 3-SF value-hash
# oracle gate in tests/test_staged_specs.py every round while it
# waits. A round's registration step = pop the head (~13 names the
# cap can absorb), add their QuerySpecs to the owning plans module,
# and delete them here; test_registry_policy.py asserts the queue and
# the registry never overlap. r7 registered the first 13 (through
# expectations_orders); r8 the next 13 (through skyline_suppliers).
STAGED_QUEUE: tuple[str, ...] = (
    # Emptied at the r11 registration step (all 14 remaining specs
    # registered — 26 r10-2nd-green mandatory + 14 new = 40 <= 50),
    # re-opening new-operator work. r11-new operators stage here with
    # their local 3-SF gates (tests/test_staged_specs.py) until their
    # r12 registration slot:
    "heaps_vocab_growth",
    "oov_rate_docs",
    "source_vocab_tv_matrix",
    "bigram_fluency_score",
    "interarrival_stats_by_type",
    "attribution_position_weighted",
    "clustering_coeff_parts",
    "trade_graph_components",
    "embedding_covariance",
    "streaming_binned_quantiles",
    "blockhash_neardup_pairs",
    "corpus_split_assignment",
    "open_orders_daily",
    "ann_recall_audit",
    "cms_daily_heavy_hitters",
    "pca_top_component",
    "cf_holdout_coverage",
    "streaming_interarrival_stats",
    "hits_hub_authority",
    "doc_surprisal_octaves",
    "label_centroid_cosine",
    "ppr_from_hub",
    "hyperball_reach_profile",
    "hyperball_harmonic_centrality",
    "jackknife_se_price_by_priority",
    "langid_confusion_matrix",
    "collocations_top_lift",
    "streaming_langid_confusion",
    "hrw_shard_rebalance",
)  # 29 r11-new operators (13 + BOTH VERDICT r10 next-#3 items + the
#    exact-integer power-iteration PCA + the CF holdout eval + the
#    interarrival streaming twin + integer HITS link analysis + the
#    log-domain surprisal quality gate + the centroid cosine matrix +
#    sparse personalized PageRank + the HyperBall neighborhood
#    function + its harmonic-centrality readout + the delete-d
#    jackknife SE + the language-ID confusion matrix (+ its streaming
#    twin) + lift-ranked collocations + HRW shard rebalance), all
#    3-SF-oracle-green from birth; r12 capacity = 14 mandatory
#    2nd-greens (this round's registrations) + 1 forced (language_id)
#    + 29 = 44 <= 50


def career_greens(repo: str = _REPO) -> dict[str, list[int]]:
    """Per-spec sorted list of rounds with a driver HASH-green.

    Rows-only passes (``err=no_oracle``) deliberately do not count —
    the r5 approx_distinct_parts lesson (VERDICT r5 wrong-#1).
    """
    greens: dict[str, list[int]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        with open(path) as fh:
            rows = json.load(fh)
        for name, res in rows.items():
            if res.get("hash_match"):
                greens.setdefault(name, []).append(rnd)
    return {k: sorted(v) for k, v in greens.items()}


def has_two_consecutive(rounds: list[int]) -> bool:
    return any(b - a == 1 for a, b in zip(rounds, rounds[1:]))


def compute_hoist(
    spec_names: list[str],
    cap: int,
    repo: str = _REPO,
    force: tuple[str, ...] = FORCE_HOIST,
) -> list[str]:
    """The driver-cap hoist list for the CURRENT round, derived from
    the evidence history in ``repo`` (see module docstring for the
    policy tiers)."""
    greens = career_greens(repo)
    mandatory = sorted(
        n for n in spec_names if not has_two_consecutive(greens.get(n, []))
    )
    # operational validation, not debug checks: explicit raises so
    # python -O cannot strip them into a silent over-cap list
    unknown = set(force) - set(spec_names)
    if unknown:
        raise ValueError(
            f"FORCE_HOIST names not in registry: {sorted(unknown)}"
        )
    forced = sorted(set(force) - set(mandatory))
    if len(mandatory) + len(forced) > cap:
        raise ValueError(
            f"{len(mandatory)} under-evidenced + {len(forced)} forced specs "
            f"exceed the driver cap {cap} — registration pace must slow down"
        )
    chosen = mandatory + forced
    chosen_set = set(chosen)
    fill = sorted(
        (n for n in spec_names if n not in chosen_set),
        key=lambda n: (max(greens.get(n, [0])), n),
    )
    return chosen + fill[: cap - len(chosen)]


def _main() -> None:
    from pac_spark.plans.registry import DRIVER_CAP, all_specs

    names = [s.name for s in all_specs()]
    greens = career_greens()
    hoist = compute_hoist(names, DRIVER_CAP)
    print(f"# hoist ({len(hoist)} = DRIVER_CAP):")
    for n in hoist:
        print(f'        "{n}",')
    latest = max((r for v in greens.values() for r in v), default=0)
    in_hoist = set(hoist)
    stale = sorted(
        (max(greens.get(n, [0])), n) for n in names if n not in in_hoist
    )
    print(f"\n# tail staleness (last green, of r{latest}):")
    for rnd, n in stale[:20]:
        print(f"#   r{rnd}  {n}")


if __name__ == "__main__":
    _main()
