"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline (transcripts →
salted repartition → mapInArrow extraction → stable-ordering window) on
sf0.001.  ``queries()`` exposes every implemented operator from
SURVEY.md §2 (plus the training-data ops battery); ``oracle_sql()`` gives
the DuckDB twin for each SQL-expressible one — column names/types and
float rounding are aligned pair-wise in
``mistral_ocr_pipeline_spark/plans/entry_queries.py``.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_ROOT = str(Path(__file__).resolve().parent)
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from mistral_ocr_pipeline_spark.plans.entry_queries import (  # noqa: E402
    ORACLES,
    QUERIES,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship_extract_plain"](spark, "/root/testdata/sf0.001")


# Queries added or materially reworked most recently — listed first so the
# driver's capped correctness snapshot (50 of the full registry; see
# len(queries())) covers the least-proven entries; everything else was green
# in earlier snapshots and remains verifiable via
# `python tools/check_oracle.py` (full-registry sweep).
_NEWEST_FIRST = [
    "embed_margin_mine",        # r5+: CCMatrix margin-based pair mining, full oracle
    "embed_margin_mine_ivf",    # r5+: margin mining over IVF candidates, full oracle
    "ann_ivf_index_append",     # r5+: IVF index maintenance ≡ rebuild, full oracle
    "pack_similar_order",       # r5+: in-context-pretraining packing, full oracle
    "text_host_boilerplate",    # r5+: host-scoped DF-ratio template strip, full oracle
    "quality_disagreement_audit",  # r5+: NB×LR committee disagreement, full oracle
    "host_communities",         # r5+: deterministic LPA communities, unrolled oracle
    "text_texttile_segments",   # r5+: TextTiling topic segmentation, full oracle
    "text_texttile_passages",   # r5+: materialized topic passages, full oracle
    "warc_html_extract",        # r5+: WARC -> HTTP payload -> DOM extract, one plan
    "crawl_community_waves",    # r5+: mirror-cluster politeness budgets, LPA-fed
    "ann_mrl_topk",             # r5+: Matryoshka prefix-dim ANN, full oracle
    "ann_mrl_recall",           # r5+: MRL recall claim (floor 0.6, both SFs)
    "pack_length_buckets",      # r5+: padding-waste audit, integer micro eff
    "robots_sitemap_urls",      # r5+: Sitemap: discovery from robots.txt
    "text_homoglyph_fold",      # r5+: Cyrillic-confusable fold, dedup-restoring
    "profile_contract_gate",    # r5+: declarative data contract, fails closed
    "retrieval_eval_metrics",   # r5+: precision/MRR/graded NDCG, full oracle
    "retrieval_eval_summary",   # r5+: macro-averaged report, integer means
    "warc_robots_rules",        # r5+: robots rules recovered through the archive
    "warc_parse_records",       # r5+: WARC framing walk as a map-only fold
    "warc_cdx_index",           # r5+: CDX lookup index from parsed records
    "host_mirror_pairs",        # r5 final: content-set Jaccard mirror hosts
    "robots_crawl_delays",      # r5 final: Crawl-delay via the group machine
    "crawl_politeness_rated",   # r5 final: delay-aware per-host wave budgets
    "crawl_admission_pipeline",  # r5 final: trap+blocklist+robots -> schedule, one plan
    "robots_txt_fetch_gate",    # r5 final: RFC 9309 longest-match precedence
    "robots_txt_rules",         # r5 final: windowed user-agent group parser
    "url_trap_flags",           # r5 final: spider-trap first-fail verdicts
    "url_blocklist_gate",       # r5 final: parent-suffix domain blocklist
    "crawl_politeness_waves",   # r5 final: per-host rate-capped schedule
    "url_template_stats",       # r5 final: {h}/{n} template fan-out mining
    "crawl_change_rate",        # r5 final: per-host freshness/revisit tiers
    "sitemap_recrawl_queue",    # r5 final: lastmod-driven recrawl policy
    "ann_ivfsq_topk",           # r5: IVF-SQ composite, both trained halves oracled
    "ann_ivfsq_recall",         # r5: composite recall claim (floor 0.4, both SFs)
    "text_code_blocks",         # r5: fenced-code extraction, fold == window oracle
    "code_lang_stats",          # r5: per-language code inventory rollup
    "dedup_edit_incremental",   # r5: batch-vs-history edits via chunk index
    "edit_index_append",        # r5: PassJoin chunk-index merge == rebuild
    "dedup_edit_distance",      # r5: PassJoin blocking + exact levenshtein
    "text_skipgram_pairs",      # r5: subsampled skip-gram/GloVe pair rollup
    "text_negative_sampling",   # r5: unigram^0.75 inverse-CDF sampler table
    "text_pmi_collocations",    # r5: PMI phrase mining, micro-unit log scores
    "profile_merge",            # r5: mergeable per-shard profiler, fold == direct
    "transcript_script_mismatch",  # r5: wrong-script assistant-answer gate
    "text_vocab_coverage",      # r5: tokenizer vocab-budget coverage curve
    "layout_zorder",            # r5: Morton-interleave layout key + shards
    "profile_table",            # r5: single-pass column profiler (Deequ shape)
    "text_script_detect",       # r5: Unicode-script profile + mixed-script flag
    "text_bm25_incremental",    # r5: maintained-index BM25 ≡ one-shot, oracled
    "bm25_index_append",        # r5: BM25 postings/stats lattice merge ≡ rebuild
    "transcript_echo_incremental",  # r5: batch echo vs persisted gram index
    "echo_index_append",        # r5: echo-index maintenance, append == rebuild
    "transcript_echo",          # r5: assistant regurgitation of earlier user turns
    "quality_pareto_gate",      # r5: CCNet/LLaMA Pareto-threshold quality sampling
    "text_fertility",           # r5: tokenizer fertility per language
    "transcript_sft_pipeline",  # r5: fused-facts SFT curation composite, one plan
    "transcript_hot_turns",     # r5: cross-conv boilerplate-turn flags
    "transcript_retrieval_topk",  # r5: similar-session retrieval, one plan
    "preference_pair_stats",    # r5: DPO length-bias audit, nested oracle
    "transcript_template_lint",  # r5: chat-template conformance lint
    "transcript_pii_scrub",     # r5: turn-level staged PII cascade
    "transcript_preference_pairs",  # r5: DPO pairs from retry branches
    "transcript_latency_stats",  # r5: assistant response-latency rollup
    "transcript_prefix_dedup",  # r5: retry-branch dedup, longest-branch canonical
    "transcript_neardup",       # r5: conversation-level MinHash near-dup
    "transcript_loss_mask",     # r5: SFT trainable-token accounting
    "transcript_context_windows",  # r5: turn-aligned budget cut
    "transcript_tool_stats",    # r5: tool volume/errors/longest run
    "transcript_quality_gate",  # r5: refusal/empty-completion gate
    "transcript_role_transitions",  # r5: role-transition matrix
    "mix_doremi_resample",      # r5: DoReMi weights realized as a corpus
    "embed_knn_classify",      # r5: kNN label propagation from a broadcast seed
    "embed_outlier_centroid",  # r5: cos-to-centroid bottom-q outlier gate
    "embed_mean_pool",         # r5: chunk->doc integer-micro-unit mean pooling
    "text_readability",        # r5: Flesch reading-ease gate, map-only
    "sample_reservoir",        # r5: exact-k deterministic reservoir (bottom-k)
    "sketch_kmv_overlap",      # r5: KMV corpus-overlap estimate, value-oracled
    "sketch_kmv_distinct",     # r5: bottom-k distinct sketch, estimate oracled
    "dedup_ngram_containment", # r5: asymmetric short-in-long containment pairs
    "coreset_kcenter",         # r5: greedy k-center coreset, engine-replayed
    "text_license_tags",       # r5: license-marker detect + permissive keep gate
    "neardup_keep_best",       # r5: argmax-quality canonical per near-dup cluster
    "text_soft_dedup_weights", # r5: SoftDeDup commonness reweighting
    "url_dedup_latest",        # r5: recrawl dedup, latest-fetch canonical
    "url_canonicalize",        # r5: URL canonicalization, pure expressions
    "url_domain_stats",        # r5: per-domain health rollup
    "dedup_keep_best",         # r5: quality-aware exact dedup canonical
    "quality_mix_pipeline",    # r5: NB-gated temperature mix, one plan, full oracle
    "ann_jl_refine_topk",      # r5: orthonormal JL prefilter + exact refine
    "ann_jl_recall",           # r5: JL recall claim, floor 0.6 (min 0.8 both SFs)
    "text_ngram_novelty",      # r5: corpus-unique-gram novelty ratio, digest-keyed
    "sample_cluster_balanced", # r5: k-means cells + per-cell hash cap, fully oracled
    "corpus_kl_drift",         # r5: bidirectional smoothed KL drift monitor
    "ann_sq8_topk",            # r5: 8-bit scalar-quantized ANN, all-Catalyst train
    "ann_sq8_recall",          # r5: SQ8 recall@5 vs exact, floor 0.6 (both SFs)
    "text_char_entropy",       # r5: per-doc char-distribution entropy, micro-units
    "corpus_zipf_fit",         # r5: Zipf OLS fit, exact integer moments
    "sketch_countmin",         # r5: count-min point frequencies, cells replayed
    "text_winnow_fingerprint", # r5: exact MOSS winnowing selection, digest-oracled
    "text_winnow_overlap",     # r5: winnowed-fp overlap pairs, capped buckets
    "text_bigram_surprisal",   # r5: bigram-LM conditional surprisal, micro-units
    "text_nb_quality",         # r5: hashed-gram NB quality filter, end-to-end oracle
    "pack_emit_text",          # r5: packed context windows materialized byte-exact
    "ann_ivfpq_residual_topk", # r5: FAISS-default residual encoding, full oracle
    "text_substring_incremental", # r5: batch span removal vs digest index
    "substring_index_append",     # r5: lattice-merge index maintenance
    "pack_token_budget_bpe2",  # r5: REAL trained-BPE token basis (rows-only)
    "text_substring_dedup",    # r5: Lee-et-al span removal + rebuild
    "j3_apply_verdicts",       # r5: verdict write-back re-collect leg
    "ann_ivfpq_topk",          # r5: IVFPQ composite, both trained halves oracled
    "ann_ivfpq_recall",        # r5: composite recall claim (n_probe=12, floor 0.4)
    "text_quality_funnel",     # r5: FULL 14-rule Gopher battery + variants
    "ann_lsh_df_topk",         # r5: DataFrame-native LSH query side
    "ann_ivf_df_topk",         # r5: DataFrame-native IVF query side
    "ann_pq_df_topk",          # r5: in-plan PQ LUT (no driver-built LUT)
    "ann_pq_trained_topk",     # late r4: trained PQ codebooks fully oracled
    "eval_rollups",            # late r4: sc>=0 flat-mean rollup oracled
    "eval_field_scores",       # late r4: eval sentinel scoring fully oracled
    "multimodal_phash_neardup", # late r4: media near-dup via shared band/verify
    "ann_ivf_topk",            # late r4: trained k-means IVF now FULLY oracled
    "text_ccnet_buckets",      # new in r4: CCNet perplexity terciles per lang
    "mix_unimax",              # new in r4: UniMax water-filling allocation
    "mix_unimax_expand",       # new in r4: UniMax doc-stream materialization
    "mix_temperature",         # new in r4: temperature-scaled language shares
    "text_paragraph_dedup",    # new in r4: keep-first paragraph dedup + rebuild
    "mix_epoch_repeat",        # new in r4: fractional epoch-repetition recipe
    "retrieval_hard_negatives", # new in r4: BM25 hard-negative mining
    "sample_shard_order",      # new in r4: exact-percentile training-shard emit
    "text_intra_line_dedup",   # new in r4: in-doc repeated-line repair
    "pretrain_pipeline",       # new in r4: gate→dedup→DSIR→pack, ONE plan, full oracle
    "text_dsir_resample",      # new in r4: DSIR end-to-end selection, one plan
    "text_quality_funnel",     # new in r4: Gopher-rule funnel, first-fail attribution
    "text_dsir_weights",       # new in r4: DSIR importance weights, full SQL oracle
    "retrieval_rrf_fusion",    # new in r4: BM25+dense RRF hybrid, full SQL oracle
    "text_bm25_champion",      # new in r4: champion-list capped BM25
    "text_bm25_topk",          # new in r4: BM25 retrieval, full SQL oracle
    "mix_token_budget",        # new in r4: token-budgeted corpus mixing
    "split_leakage_free",      # new in r4: component-keyed split, rec-CTE oracle
    "ann_pq_topk",             # new in r4: PQ ADC path, full SQL oracle
    "ann_pq_refine_topk",      # new in r4: two-stage PQ search, full SQL oracle
    "ann_pq_recall",           # new in r4: trained-PQ recall ≥0.6 claim
    "semdedup_clusters",       # new in r4: transitive SemDeDup, recursive-CTE oracle
    "decontam_bloom_prefilter", # new in r4: bloom-prefiltered decontam composite
    "sketch_bloom_expr_probe", # new in r4: zero-shuffle literal-array bloom probe
    "sketch_bloom_membership", # new in r4: mergeable Bloom filter, SQL-replayed bits
    "text_line_dedup",         # new in r4: C4-style line-level corpus dedup
    "sketch_heavy_hitters",    # new in r4: per-shard top-k rollup, bounds replayed in SQL
    "semdedup_prune",          # new in r4: SemDeDup cluster-pruning, full SQL oracle
    "chunk_retrieval_topk",    # new in r4: chunk→embed→top-k RAG composite
    "chunk_text_windows",      # new in r4: overlapping token-window chunking
    "j2_fuzzy_sequential",     # new in r4: reference-parity greedy, rec-CTE oracle
    "dedup_index_append",      # new in r4: index maintenance ≡ one-shot claim
    "pack_token_budget_bpe",   # new in r4: packing budgeted on BPE counts
    "ann_ivf_fixed_topk",      # r3: SQL-replayed IVF search path
    "ann_lsh_topk",            # gained a full value oracle in r3
    "decontam_pipeline",       # single-plan rework
    "w8_event_session_windows",  # salted two-phase sessionizer
    "w9_sliding_event_windows",
    "pack_token_budget",
    "pack_rollup",
    "text_pii_scrub",
    "text_repetition",
    "dedup_substring_overlap",
    "curation_report",
    "dedup_minhash_incremental",  # new in r3: persisted posting-list index
    "dedup_minhash_lsh",       # bounded bucket gather
    "dedup_simhash",
    "dedup_embedding_cosine",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    ordered = {k: QUERIES[k] for k in _NEWEST_FIRST if k in QUERIES}
    ordered.update(QUERIES)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return dict(ORACLES)
