"""Plan-shape regression gate: every catalog query must compile to a
physical plan free of scale-hostile operators.

This is the "would it survive 100x" check mechanized: no cartesian or
nested-loop joins (a blocked/banded rewrite exists for every theta-join
we need), no row-at-a-time Python UDFs (BatchEvalPython) anywhere, and
dimension-membership joins must broadcast. Analysis-only — no jobs run —
except the last gate, which reads the plan AQE finally executed.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

#: brute-force cosine top-k is *deliberately* a broadcast nested-loop —
#: it is the exact baseline the LSH-bucketed variant is measured against.
#: IVF's codebook assignment is a broadcast of n_cells centroids against
#: every vector (linear in n, tiny build side); the candidate join that
#: dominates cost is the cell-id equi-join, asserted separately below.
#: tf-idf joins the corpus-size scalar (a 1-row agg) to every tf row —
#: a conditionless broadcast of exactly one row is the scalar-join
#: shape, not a quadratic blowup. sample_domain_mix joins the global
#: min-count scalar (1 row) to the tiny per-domain count dim the same
#: way.
#: pipe_gap_report joins the 1-row global-denominator aggregate to the
#: per-(lab, month) counts — the same scalar-join shape as tf-idf.
NESTED_LOOP_OK = {"ann_brute_force_topk", "ann_ivf_topk",
                  "ann_ivf_trained_topk", "ann_ivf_recall",
                  # r11 packed flat-PQ family: the 1-row packed
                  # codebook broadcast NLJ (the ivfpq map-side encode
                  # shape) + the cap-gated packed-entries broadcast
                  # (these are the deliberate all-pairs baselines —
                  # ALL_PAIRS_BASELINE_CAP refuses real corpora)
                  "ann_pq_encode", "ann_pq_topk",
                  "ann_pq_trained_topk", "pq_encode_batch",
                  # sampled-training variant: Lloyd's assignment NLJ
                  # runs over the SAMPLE; search assignment is the
                  # same broadcast n x n_cells pass as ann_ivf_*
                  "ann_ivf_sampled_topk",
                  "text_tfidf_top_terms", "sample_domain_mix",
                  "pipe_gap_report",
                  # broadcast codebook assignment: n rows x n_cells
                  # centroids, linear in n (same shape as ann_ivf_*)
                  "dedup_semantic_cells",
                  # 1-row Bloom-map broadcast onto every corpus gram
                  # (same scalar-broadcast shape as tfidf's corpus size)
                  "decontam_bloom_prefilter",
                  # 1-row (min_day, max_day) span broadcast fencing the
                  # partial leading windows
                  "evt_active_users",
                  # 1-row pooled (lo, hi) extremes broadcast onto every
                  # observation for the bin index (the same scalar
                  # shape as evt_active_users' span row)
                  "qa_ks_drift",
                  # same 1-row extremes broadcast (CvM rides the ks
                  # binning); the sliding monitor adds the bounded
                  # day-spine x bin-spine calendar cross join
                  "qa_cvm_drift", "qa_psi_sliding",
                  # refine/re-rank rides ann_ivfpq_topk's coarse
                  # n x n_cells assignment NLJ + the 1-row packed
                  # codebook broadcast; the recall row adds the
                  # deliberate brute-force truth baseline (gated)
                  "ann_ivfpq_rerank_topk", "ann_ivfpq_rerank_recall",
                  # MRL truncation recall: full-dim truth + per-divisor
                  # truncated passes are ALL deliberate cap-gated
                  # all-pairs yardsticks (the ann_pq_recall role)
                  "emb_mrl_truncate_recall",
                  # 1-row corpus-total scalar broadcast onto the 3-row
                  # method union (the oracle's scalar subquery)
                  "pipe_decontam_report",
                  # top-2 PCA: 1-row Rayleigh scalar + d-row
                  # eigenvector broadcasts onto the d^2 covariance
                  # (corpus-independent state joins)
                  "emb_pca_top2_components",
                  # 1-row (eigval, trace) scalar pair broadcast onto
                  # the d-row eigenvector dim — all iteration state is
                  # d^2 + d rows, never the corpus
                  "emb_pca_top_component",
                  # two 1-row packed arrays (mu, eigenvector) broadcast
                  # onto the corpus for the map-side all-but-the-top
                  # rewrite (the packed-LUT ivfpq shape)
                  "emb_remove_top_component",
                  # level-spine cross join: distinct(a) x distinct(b)
                  # — both sides bounded by the category vocabularies,
                  # never the row count
                  "qa_chi2_independence",
                  # state-spine cross join (types x types+end) — the
                  # same vocabulary-bounded shape
                  "evt_markov_transitions",
                  # unrolled GD recurrence + broadcast 1-row weights
                  # for scoring (the quality_logreg_train/eval shape)
                  "quality_logreg_calibration",
                  # 1-row OOV-floor scalar + broadcast LM joined onto
                  # the exploded corpus (same scalar-broadcast shape
                  # as tfidf's corpus-size row)
                  "unigram_doc_score",
                  # 1-row top-1 merge broadcast onto the word table
                  "bpe_train_step",
                  # 1-row packed merge-array broadcast onto the word
                  # table (the encode's whole tokenizer is one row);
                  # the fertility report aggregates the same encode
                  "bpe_encode_corpus", "tok_fertility_report",
                  # 1-row corpus N/avgdl scalar broadcast onto the
                  # slim (query,doc,tf) rows
                  "bm25_topk",
                  # 1-row corpus-mass scalar broadcast twice (scoring
                  # + empty-doc floor), same shape as unigram_doc_score
                  "bigram_doc_score",
                  # unrolled GD recurrence: 1-row weight/gradient
                  # scalars broadcast per iteration (Lloyd pattern)
                  "quality_logreg_train", "quality_logreg_eval",
                  # broadcast codebook assignment: batch x n_cells
                  # centroids, linear in batch (same as semantic cells)
                  "ivf_assign_batch",
                  # two 1-row scalars (sqrt-mass total, budget) joined
                  # onto the tiny per-domain dim — scalar-join shape
                  "sample_temperature",
                  # exact-L2 truth set for the recall measurement is
                  # deliberately brute-force (like ann_brute_force_topk)
                  "ann_pq_recall",
                  # int8 scalar-quantization recall: quantized pair
                  # pass + exact truth are both deliberate all-pairs
                  # baselines (the ann_pq_recall role)
                  "ann_int8_recall",
                  # composed IVF-PQ: the coarse-codebook assignment is
                  # the same broadcast n x n_cells NLJ as ann_ivf_*
                  # (linear in n); the ADC itself is a cell equi-join
                  "ann_ivfpq_topk",
                  # same coarse-assignment NLJ + the deliberate
                  # brute-force truth baseline (like ann_ivf_recall)
                  "ann_ivfpq_recall",
                  # residual variant: same coarse-assignment NLJ; the
                  # ADC itself is the cell equi-join
                  "ann_ivfpq_residual_topk",
                  # incremental probe: frozen-codebook coarse assignment
                  # of corpus/batch/query sides is the same broadcast
                  # n x n_cells NLJ; the search meet is the salted
                  # shuffle-hash cell equi-join
                  "ann_ivfpq_index_probe",
                  # batch-search form: same coarse NLJs; LUT broadcast
                  # is the gated query-batch hint, index meet equi-join
                  "ann_ivfpq_batch_search",
                  # IVF-SQ8: same coarse NLJ; int8 meet is the salted
                  # shuffle-hash cell equi-join (the incremental probe
                  # and bounded-batch serving shapes assign their
                  # corpus/batch/query sides with the same broadcast
                  # n x n_cells NLJ)
                  "ann_ivfsq_topk", "ann_ivfsq_index_probe",
                  "ann_ivfsq_batch_search",
                  # composed-SQ8 recall: same coarse NLJ + the
                  # deliberate brute-force truth baseline
                  "ann_ivfsq_recall",
                  # binary family: sign-bit hamming baseline + recall
                  # are deliberate all-pairs (gated); IVF-BQ's coarse
                  # assignment is the same broadcast n x n_cells NLJ
                  "ann_binary_topk", "ann_binary_recall",
                  "ann_ivfbq_topk",
                  # incremental probe + two-stage re-rank ride the
                  # same coarse NLJ; rerank-recall adds the brute
                  # truth baseline
                  "ann_ivfbq_index_probe", "ann_binary_rerank_topk",
                  "ann_binary_rerank_recall", "ann_ivfbq_batch_search",
                  "ann_ivfbq_recall",
                  # sketch finishers: 1-row aggregate cross-joins only
                  # (harmonic sums / exact baselines / min-max stats —
                  # the scalar-join shape; the sketch builds themselves
                  # are fixed-key hash aggs)
                  "sketch_hll_distinct", "sketch_hll_set_ops",
                  "sketch_histogram_quantiles",
                  # 1-row merged N/avgdl scalar broadcast onto the
                  # merged postings (same scalar shape as bm25_topk)
                  "bm25_index_probe",
                  # 1-row n_nodes scalar attached to the rank table
                  # once (teleport term); per-iteration joins are
                  # src/dst equi-joins
                  "graph_pagerank_authority",
                  # 1-row corpus-size scalar onto the df table (the
                  # tfidf shape); the candidate pairing itself is the
                  # word-keyed equi-join
                  "sim_tfidf_cosine_topk",
                  # semantic decontamination: both sides' frozen-
                  # codebook assignments are the same broadcast
                  # n x n_cells NLJ as ann_ivf_* (linear in n); the
                  # candidate meet is a broadcast EQUI-join on cell_id
                  # against the gated bench side
                  "decontam_semantic",
                  # + the deliberate cap-gated bipartite all-pairs
                  # truth baseline (the ann_ivf_recall shape) and its
                  # two 1-row count scalars
                  "decontam_semantic_recall",
                  # 1-row Rayleigh-scalar cross join (s1 x s2) — the
                  # sketch-finisher scalar shape on the PCA state
                  "emb_isotropy_report",
                  # stream-static broadcast of the ONE-ROW packed
                  # codebook onto the arriving stream (the map-side
                  # assignment join; linear in the batch)
                  "st_ivf_assign",
                  # same shape: one-row packed bench gram-hash list
                  # broadcast onto the arriving document stream
                  "st_decontam_screen"}

#: multimodal decode/frame-sample are Arrow-batched pandas plumbing by
#: design (binary payloads; SURVEY §7 phase 6) — never row-based.
#: j6b's OSA scorer is an Arrow-batched post-join filter on the
#: blocked+JVM-prefiltered candidate pairs only; the join itself is the
#: same equi-join as j6 (asserted in test_fuzzy_join_is_blocked_not_nested).
PANDAS_OK = {"mm_decode_image", "mm_frame_sample",
             # audio/video family (r5): WAV synth+chunk-walk decode and
             # the mixed-container probe are the designed Arrow stages;
             # all post-decode features are Spark HOFs over the PCM array
             "mm_decode_audio", "mm_audio_features",
             "mm_audio_window_energy", "mm_probe_media",
             # audio fingerprint near-dup: WAV synth + decode are the
             # designed Arrow stages; the fingerprint + band join /
             # dedup window are Spark HOFs / equi-joins
             "mm_audio_fingerprint_pairs", "mm_audio_fingerprint_near_dup",
             # OSA banded-DP Arrow scorer on blocked candidates (the
             # witness row rides the same scorer, filtered to the
             # lev == DL subset its oracle can express)
             "j6b_fuzzy_osa_pairs", "j6c_osa_lev_delta",
             "j6d_osa_witness",
             # pixel decode for perceptual hashing (shaded-BMP synth +
             # luma parse); the dHash itself is a Spark array HOF
             "mm_image_dhash_near_dup", "mm_image_dhash_hamming_pairs",
             # video container synth + frame-plane decode (r6); all
             # per-frame features are Spark HOFs / one lag window
             "mm_video_frame_decode"}


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


@pytest.fixture(scope="module")
def plans(spark):
    return {name: _plan(spark, name) for name in entrymod.queries()}


def test_no_cartesian_products(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"cartesian join in: {bad}"


def test_no_unexpected_nested_loop_joins(plans):
    bad = [n for n, p in plans.items()
           if "BroadcastNestedLoopJoin" in p and n not in NESTED_LOOP_OK]
    assert not bad, f"nested-loop join in: {bad}"


def test_no_row_python_udfs(plans):
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDF in: {bad}"


def test_pandas_only_where_intended(plans):
    bad = [n for n, p in plans.items()
           if ("ArrowEvalPython" in p or "MapInPandas" in p)
           and n not in PANDAS_OK]
    assert not bad, f"unexpected pandas/Arrow python stage in: {bad}"


def test_fuzzy_join_is_blocked_not_nested(plans):
    """The levenshtein theta-join must ride the equi block key (J7):
    hash or sort-merge join with the distance as post-condition, never
    a nested loop over the full cross product (SURVEY §4)."""
    for name in ("j6_fuzzy_name_pairs", "j6b_fuzzy_osa_pairs"):
        p = plans[name]
        assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
        assert ("SortMergeJoin" in p or "ShuffledHashJoin" in p
                or "BroadcastHashJoin" in p), name


def test_ivfpq_adc_meet_never_broadcasts_the_index(plans):
    """r6 regression pin: every IVF-PQ variant's ADC meet must be the
    salted SHUFFLE_HASH cell equi-join — the inverted list (and, in
    self-search, the LUT table) is corpus-sized, so a plan-time
    broadcast of it is a driver OOM at 100x (r5 verdict item 1)."""
    for name in ("ann_ivfpq_topk", "ann_ivfpq_recall",
                 "ann_ivfpq_residual_topk", "ann_ivfpq_index_probe",
                 "ann_ivfpq_batch_search", "ann_ivfsq_topk",
                 "ann_ivfsq_index_probe", "ann_ivfsq_batch_search",
                 "ann_ivfsq_recall", "ann_ivfbq_topk",
                 "ann_ivfbq_index_probe", "ann_binary_rerank_topk",
                 "ann_ivfbq_batch_search", "ann_ivfbq_recall"):
        assert "ShuffledHashJoin" in plans[name], name


def test_ivf_candidate_join_is_equi(plans):
    """IVF's probe→index candidate join must be a hash/SMJ equi-join on
    cell id — the broadcast NL is confined to the n×n_cells codebook
    assignment, never the candidate pairing."""
    p = plans["ann_ivf_topk"]
    assert ("SortMergeJoin" in p or "ShuffledHashJoin" in p
            or "BroadcastHashJoin" in p)


def test_scan_pushdown_reaches_parquet(plans):
    """S5's WHERE must land in the parquet scan (PushedFilters), not a
    post-scan Filter over all rows."""
    p = plans["s5_scan_distinct"]
    assert "PushedFilters: [" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("o_totalprice" in ln for ln in pushed), pushed


#: Unpartitioned windows are allowed only where the window's INPUT is
#: provably tiny (shrink-then-rank): w9 ranks the distinct-year dim
#: (rows = #years, broadcast-joined back to the fact side);
#: s11/compile's row_number runs post-aggregation on a ≤500-row roster
#: output (S11 contract), with approx_chunks the documented scale path
#: (sinks.py). Every fact-table-sized window must be partitioned.
GLOBAL_WINDOW_OK = {"w9_group_id", "s11_chunk_assignment",
                    "pipe_roster_compile_chunks",
                    # PQ codebook seeding ranks the k=16 lowest-id
                    # vectors (shrink-then-rank over <= k rows; the
                    # orderBy().limit() feeding it is the real fence)
                    "ann_pq_encode", "ann_pq_topk", "ann_pq_trained_topk",
                    "ann_pq_recall",
                  # int8 scalar-quantization recall: quantized pair
                  # pass + exact truth are both deliberate all-pairs
                  # baselines (the ann_pq_recall role)
                  "ann_int8_recall",
                    # same <= k-row codebook-seeding rank: pq_encode_batch
                    # seeds the frozen corpus codebooks once; the IVF-PQ
                    # composition seeds both its PQ codebooks (<= k rows)
                    # and its coarse centroids (<= n_cells rows)
                    "pq_encode_batch", "ann_ivfpq_topk",
                    "ann_ivfpq_recall", "ann_ivfpq_residual_topk",
                    "ann_ivfpq_index_probe",
                  # batch-search form: same coarse NLJs; LUT broadcast
                  # is the gated query-batch hint, index meet equi-join
                  "ann_ivfpq_batch_search",
                  # IVF-SQ8: same coarse NLJ; int8 meet is the salted
                  # shuffle-hash cell equi-join (the incremental probe
                  # and bounded-batch serving shapes ride the same
                  # chain)
                  "ann_ivfsq_topk", "ann_ivfsq_index_probe",
                  "ann_ivfsq_batch_search", "ann_ivfsq_recall",
                  # IVF-BQ rides the same chain; the binary baseline +
                  # recall are the deliberate all-pairs yardsticks
                  "ann_ivfbq_topk", "ann_binary_topk",
                  "ann_binary_recall", "ann_ivfbq_index_probe",
                  "ann_binary_rerank_topk", "ann_binary_rerank_recall",
                  "ann_ivfbq_batch_search", "ann_ivfbq_recall",
                    # BPE merge rank runs over the symbol-PAIR count
                    # table — at most |alphabet|^2 rows regardless of
                    # corpus size (the word-frequency collapse before
                    # it is the real fence); the train step adds the
                    # same window post-merge (merged-alphabet^2)
                    "bpe_merge_topk", "bpe_train_step",
                    # encode ranks the same |alphabet|^2-bounded pair
                    # table to build its merge list (fertility report
                    # aggregates that encode)
                    "bpe_encode_corpus", "tok_fertility_report",
                    # CMS final rank runs over the two-phase survivors
                    # (<= salt_buckets * topk rows — the local top-k
                    # before it is the real fence)
                    "sketch_countmin_heavy",
                    # cumulative counts over the 64-row bucket table
                    # (fixed sketch size regardless of input rows)
                    "sketch_histogram_quantiles",
                  # cohort CDFs: cumulative counts over the 32-row bin
                  # spine (fixed bin count regardless of input rows —
                  # the histogram-quantiles shape); the CvM screen
                  # rides the same spine plus its bins-row term sum
                  "qa_ks_drift", "qa_cvm_drift",
                  # refine/re-rank: stage 1 is ann_ivfpq_topk's chain
                  # (<= k-row codebook seeding rank — the same fence);
                  # the recall row adds the deliberate brute truth
                  "ann_ivfpq_rerank_topk", "ann_ivfpq_rerank_recall",
                  # grand-total window over the CONTINGENCY table —
                  # |levels(a)| x |levels(b)| rows, category-bounded
                  "qa_chi2_independence",
                  # corpus-total window over the 10-row calibration
                  # bin spine (the histogram-quantiles shape)
                  "quality_logreg_calibration",
                    # the global-sort row_number IS the modeled
                    # clustered write (a z-ordered layout is a total
                    # sort by definition); the production path is the
                    # range-partitioned sinks.write_zordered
                    "layout_zorder_files"}


def _global_windows(plan: str) -> int:
    """Count unpartitioned window specs in a formatted plan string.

    A windowspecdefinition's args are [partition..., order..., frame];
    order items carry ASC/DESC markers, partition items don't. If every
    non-frame arg is an order spec, the window has no partitioning and
    executes on a single task.
    """
    n = 0
    start = 0
    while True:
        i = plan.find("windowspecdefinition(", start)
        if i < 0:
            return n
        j = i + len("windowspecdefinition(")
        depth, args, buf = 1, [], []
        while depth > 0 and j < len(plan):
            c = plan[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            if c == "," and depth == 1:
                args.append("".join(buf)); buf = []
            else:
                buf.append(c)
            j += 1
        args.append("".join(buf))
        start = j
        parts = [a.strip() for a in args
                 if "specifiedwindowframe" not in a.split("(")[0]]
        if parts and all(" ASC" in p or " DESC" in p for p in parts):
            n += 1


def test_no_unpartitioned_windows(plans):
    """An unpartitioned window moves every row to one task — banned
    outside the explicit small-output allowlist (VERDICT r1 item 2)."""
    bad = {n: k for n, p in plans.items()
           if (k := _global_windows(p)) and n not in GLOBAL_WINDOW_OK}
    assert not bad, f"global (unpartitioned) window in: {bad}"


def test_membership_flags_broadcast(plans):
    """§2.8 WDRS-membership flags join against a small distinct value
    set — must be a broadcast join, not a shuffle of the fact side."""
    assert "BroadcastHashJoin" in plans["qa_roster_filters"]


def test_wdrs_qa_dup_tiers_share_one_exchange(plans):
    """seq_qa_checks' three duplicate-tier windows all key on SA-prefix
    key sets; the coarsest plans bottom-most so ONE hash(sa) exchange
    serves all three (subset-satisfies-clustering). A second exchange
    means the window order regressed."""
    import re
    plan = plans["pipe_wdrs_qa"]
    # formatted mode: node headers are "(N) Exchange", partition keys
    # follow on the node's "Arguments: hashpartitioning(...)" line
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)#", plan)
    assert n_exchanges == 1 and keys == ["sa"], (n_exchanges, keys)


def test_fuzzy_route_tags_runs_one_blocked_join(spark):
    """The tagged §3.2 path runs the blocked levenshtein join once:
    did_not_match comes from the banded matches by one left join from
    the candidates, not from an anti-join against a second run of the
    join. Read from the final (post-AQE) plan after execution."""
    from pyspark.sql import functions as F

    from sequencing_integration_pipeline1_0_spark.plans import catalog
    from sequencing_integration_pipeline1_0_spark.plans import pipelines as P
    subs, entire = catalog._template_frames(spark, SF_DIR)
    routed = P.template_route_tags(subs, entire)
    route = F.col("route")
    universe = routed.filter(route == "roster").select(
        F.col("matched_case_id").alias("CASE_ID"), "FIRST_NAME",
        "LAST_NAME", "dob_date", F.col("collection_date").alias("event_date"))
    candidates = (routed.filter(route == "fuzzy_candidates")
                  .withColumn("rowid", F.col("LAB_ACCESSION_ID"))
                  .drop("route", "matched_case_id"))
    tagged = P.fuzzy_route_tags(candidates, universe)
    tagged.collect()
    plan = tagged._jdf.queryExecution().executedPlan().executedPlan().toString()
    joins = [ln for ln in plan.splitlines()
             if "Join" in ln and "levenshtein(" in ln]
    assert len(joins) == 1, joins
    assert "BroadcastNestedLoopJoin" not in plan
