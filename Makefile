# One-command targets for the checks the round ledgers cite, so every
# recorded count is copy-paste reproducible (r8 verdict ask on the
# gate-scale oracle sweep's env var).

.PHONY: test oracle-gate oracle-lsh oracle-lifecycle oracle-layout oracle-stats oracle-sf1 plan-budget bench

# full suite (what "686 passed"-style ledger lines run)
test:
	python -m pytest tests/ -x -q

# the DRIVER-scale oracle sweep: every registry row vs its DuckDB oracle
# at sf0.01 — the exact comparison CORRECTNESS_r{N}.json gates on
oracle-gate:
	DP3_ORACLE_SF=/root/testdata/sf0.01 python -m pytest tests/test_oracle.py -q

# the LSH/ANN-family rows of the gate sweep, at the same sf0.01: every
# pair producer on the shared band/bucket -> candidate -> verify core
# (MinHash, hyperplane, k-means clusters) and every top-k search on the
# shared rerank/_top_k core (LSH, IVF, brute cosine, kNN, PQ)
LSH_ROWS = dedup_minhash_lsh or dedup_minhash_capped or dedup_incremental \
	or dedup_clusters or dedup_keep_best or stream_corpus_dedup \
	or decontam_fuzzy or sim_dup_pairs_lsh or sem_dedup \
	or sim_lsh_topk or sim_lsh_recall or sim_ivf_topk or sim_ivf_recall \
	or sim_cosine_topk or sim_knn_classify or sim_pq_topk or sim_pq_recall
oracle-lsh:
	PYTEST_ADDOPTS='-k "$(LSH_ROWS)"' $(MAKE) --no-print-directory oracle-gate

# the versioned-table rows of the gate sweep (manifest-planned snapshot
# reads, the manifest tail, the trigram-pruned probe), at the same sf0.01
LIFECYCLE_ROWS = lifecycle_delete_versions or lifecycle_tail_versions \
	or ql_where_trigram_pruned
oracle-lifecycle:
	PYTEST_ADDOPTS='-k "$(LIFECYCLE_ROWS)"' $(MAKE) --no-print-directory oracle-gate

# the rows of the gate sweep whose plans pass through a layout.py decision
# (spread, fan_out, plan_bytes, drain_conf, and the sort_rows of the stats
# routes), at the same sf0.01; `search_bm25` also selects
# `search_bm25_indexed`
LAYOUT_ROWS = dsir_sample or dsir_select or bpe_encode_counts \
	or bpe_encode_tokens or bpe_train_merges or bpe_vocab_topk \
	or text_lm_score or search_bm25 or dedup_minhash_lsh \
	or dedup_minhash_capped or dedup_incremental or dedup_substring_flags \
	or decontam_check or decontam_fuzzy or stream_corpus_dedup \
	or stream_sessionize_gap or stream_interval_attrib or stream_ingest_dedup \
	or sim_lsh_topk or sim_ivf_topk or sim_pq_topk or sim_pq_recall \
	or stat_range_served or stat_quantiles_served or stat_sketch_daily
oracle-layout:
	PYTEST_ADDOPTS='-k "$(LAYOUT_ROWS)"' $(MAKE) --no-print-directory oracle-gate

# the statistics rows of the gate sweep, at the same sf0.01: raw, served,
# rolled-up and stream-maintained statistics and quantiles, all built on
# the one partial/merge core of operators/stats.py
STATS_ROWS = stat_range_hourly or stat_range_served or stat_quantiles_served \
	or stat_rollup_daily or stat_quantiles_hourly or stat_range_by_producer \
	or stat_range_by_producer_served or stat_sketch_daily \
	or stream_stats_rollup or stat_by_schema
oracle-stats:
	PYTEST_ADDOPTS='-k "$(STATS_ROWS)"' $(MAKE) --no-print-directory oracle-gate

# py4j round trips per plan build: the session's call-site capture stays
# off, and MinHash banding and a QL as-of compile stay under their counted
# send_command budgets; the one-expression banding keeps the persisted keys
plan-budget:
	python -m pytest tests/test_plan_budget.py -q

# the 10x-rows answer sweep (opt-in; ~35 min)
oracle-sf1:
	DP3_SF1=1 python -m pytest tests/test_oracle_sf1.py -q

# headline bench at sf0.1 (writes bench_full.json; final stdout line is
# the driver-facing compact JSON)
bench:
	python bench.py
