#!/usr/bin/env python
"""Physical-plan audit: assert the plans we designed for are the plans we got.

Three rules hold for every registered query's executed plan:
- no ``CartesianProduct``;
- a Python exec node (any class under ``org.apache.spark.sql.execution.python``)
  only where the query's ``EXPECTATIONS`` entry lists it under ``want``:
  Python only where measured faster;
- no ``Window``/``WindowGroupLimit`` whose nearest Exchange below is
  ``Exchange SinglePartition``, except the queries in
  ``SINGLE_PARTITION_WINDOWS``, each with its reason. A listed query whose
  plan no longer has such a window fails too, so the list only shrinks.

``EXPECTATIONS`` adds per-query pins on the plan text: every ``want``
string must appear and no ``avoid`` string may (broadcast joins where a
dimension side exists, parquet pushdown, no accidental shuffle).

Run: python tools/explain_audit.py [query ...]   (default: every registered
query, in registry order, at sf0.01)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from restaurant_etl_code_spark import get_spark
from restaurant_etl_code_spark.plans import QUERIES

EXPECTATIONS: dict[str, dict[str, list[str]]] = {
    "pagerank": {
        # the returned frame is the LAST round's localCheckpoint — the
        # audited plan is a projection over the materialized RDD (each
        # round's join+agg plan was already executed and truncated, the
        # point of per-iteration checkpointing)
        "want": ["Scan ExistingRDD"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "basket_triple_rules": {
        # triple and pair counters join counter-to-counter
        "want": ["HashAggregate"],
    },
    "basket_rules": {
        # both rule directions come off the counter-sized pair table
        "want": ["HashAggregate"],
    },
    "activity_streaks": {
        # island keys from one row_number window; both aggs share the
        # user-key shuffle
        "want": ["Window", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "basket_triples": {
        # enumeration extends FREQUENT-pair instances only; prunes are
        # semi-joins against counter-sized aggregates
        "want": ["HashAggregate", "LeftSemi"],
    },
    "basket_pairs": {
        # pair explosion happens INSIDE the basket-key equi-join; pair
        # counts reduce map-side. A BroadcastNestedLoopJoin IS expected:
        # it attaches the ONE-ROW n_baskets scalar (replacing a driver
        # .count() that re-executed the upstream plan) — scalar-attach,
        # not a data-sized product.
        "want": ["HashAggregate", "BroadcastNestedLoopJoin"],
    },
    "anomaly_hours": {
        # dense series + unordered group windows: one window shuffle, no
        # join-back pass, counters out
        "want": ["Window", "HashAggregate"],
    },
    "knn_graph": {
        # both sides shuffle on the LSH bucket; WindowGroupLimit prunes to
        # top-k per query — no collect, no broadcast, no cross product
        "want": ["WindowGroupLimit"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "numeric_corr": {
        # one counter-only pass; r formulas run on the single reduced row
        "want": ["HashAggregate"],
        "avoid": ["Window"],
    },
    "session_paths": {
        # path build shares the session window shuffle; ranking is
        # TakeOrdered, never a global sort-exchange
        "want": ["TakeOrderedAndProject"],
    },
    "star_join": {
        # dims broadcast; the region filter and the date range reach the
        # scans; fact-fact joins stay hash/SMJ (Spark's pick)
        "want": ["BroadcastHashJoin", "PushedFilters: [IsNotNull"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "trend_fit": {
        # five counters per group, map-side combined; formulas run on the
        # reduced rows
        "want": ["HashAggregate"],
        "avoid": ["Window"],
    },
    "point_in_time": {
        # SCD2 lookup rides the union-merge as-of: windows only, no join
        # operator, no interval explosion
        "want": ["Window", "Union"],
        "avoid": ["BroadcastNestedLoopJoin", "SortMergeJoin"],
    },
    "asof_tolerance": {
        # same union-merge shape as asof_join; the staleness bound is a
        # post-carry expression, not a second search
        "want": ["Window", "Union"],
        "avoid": ["BroadcastNestedLoopJoin", "SortMergeJoin"],
    },
    "funnel_windowed": {
        # same single-sort cascade as funnel; the lag gate is expression-
        # level, not a join
        "want": ["Window", "HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin", "SortMergeJoin"],
    },
    "approx_distinct_audit": {
        # exact + HLL distincts in ONE aggregation (Expand over one scan)
        "want": ["Expand", "HashAggregate"],
    },
    "funnel": {
        # k chained stage gates share ONE (user, ts) sort: a single Window
        # subtree, no self-joins, no python
        "want": ["Window", "HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin", "SortMergeJoin"],
    },
    "cohort_retention": {
        # first-event agg and enrich join shuffle on the same user key
        "want": ["HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "event_transitions": {
        # lag window on the user key, then counter-only normalization
        "want": ["Window", "HashAggregate"],
    },
    "concurrency_sweep": {
        # bucket-local running sums in parallel; the bucket-count-sized
        # carry table joins back broadcast — never a global sort-join
        "want": ["Window", "BroadcastHashJoin"],
        "avoid": ["SortMergeJoin"],
    },
    "dq_audit": {
        # exact multi-column distincts plan an Expand over one scan; all
        # three audit legs stay JVM-side
        "want": ["Expand", "HashAggregate"],
    },
    "time_resample": {
        # fact shuffles once into counters; the dense dim cross-join is
        # dimension-sized by construction (hours x keys), so a nested-loop
        # there is fine — just keep python out
        "want": ["HashAggregate"],
    },
    "winsorize": {
        # caps table is group-count-sized and joins back broadcast
        "want": ["BroadcastHashJoin", "HashAggregate"],
    },
    "kfold_split": {
        # fold label is scan-side arithmetic; the only Exchange is the
        # (fold, lang) aggregation's
        "want": ["HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin", "Window"],
    },
    "retrieval_eval": {
        # top-k rows are |queries| x k -- both label joins broadcast them;
        # scores come from cosine_topk's Arrow BLAS scorer (MapInPandas)
        "want": ["BroadcastHashJoin", "WindowGroupLimit", "MapInPandas"],
        "avoid": ["SortMergeJoin"],
    },
    "embedding_covariance": {
        # one aggregate to a single row (the explode of the 136-pair array
        # runs over that one reduced row, not the corpus); no python
        "want": ["HashAggregate"],
    },
    "incremental_quantile": {
        # counter-only shuffle to |keys| x bins state rows, then windows
        # over state rows only
        "want": ["HashAggregate", "Window"],
    },
    "semantic_dedup": {
        # centroid table rides a guarded driver collect (its TakeOrdered
        # plan runs separately); the corpus shuffles once on the cluster
        # key into a per-group Arrow BLAS scorer; the drop rule is a
        # left-anti join -- never an all-pairs product over the corpus.
        # Cluster keys come from assign_centroids' Arrow BLAS stage.
        "want": ["FlatMapGroupsInPandas", "LeftAnti", "MapInPandas"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "quality_classifier": {
        # zero-shuffle scan-side scoring: one codegen projection, no
        # Exchange anywhere in the plan
        "want": ["*("],
        "avoid": ["Exchange"],
    },
    "stats_prune_scan": {
        # residual predicate reaches the (file-pruned) parquet scan
        "want": ["PushedFilters: [IsNotNull"],
    },
    "orc_scan_agg": {
        "want": ["HashAggregate"],
    },
    "match_cascade": {
        "want": ["BroadcastHashJoin"],        # master dim joins broadcast
    },
    "precheck_antijoin": {
        "want": ["BroadcastHashJoin", "LeftAnti"],
    },
    "template_chunks": {
        # collect_list agg + window don't codegen; assert the single-shuffle
        # shape instead (agg and window share the category partitioning)
        "want": ["ObjectHashAggregate", "Window"],
    },
    "staging_cleanse": {
        "want": ["*(", "PushedFilters: [IsNotNull"],
        "avoid": ["Exchange"],                # pure projection: no shuffle at all
    },
    "ann_cosine_topk": {
        # vectorized: query block broadcast INTO an Arrow-batched
        # MapInPandas (BLAS matmul + map-side top-k pruning), then a final
        # WindowGroupLimit merge — no per-pair join operator at all
        "want": ["MapInPandas", "WindowGroupLimit"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "asof_join": {
        # union-merge as-of: no join operator at all — a groupBy on the
        # right side, a union, and one running window per key; intermediate
        # is |L|+|R|, never the (left x earlier-right) pair expansion
        "want": ["Window", "Union"],
        "avoid": ["BroadcastNestedLoopJoin", "SortMergeJoin"],
    },
    "topk_per_group": {
        "want": ["WindowGroupLimit"],         # Spark 3.5+ top-k pushdown
        "avoid": [],
    },
    "range_join": {
        # binned interval join: hash join on the bin, NEVER a nested loop
        "want": ["BroadcastHashJoin"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "global_topn": {
        # per-partition top-N + driver merge; no global sort-exchange
        "want": ["TakeOrderedAndProject"],
        "avoid": ["Sort ["],
    },
    "grouping_sets": {
        "want": ["Expand", "HashAggregate"],
    },
    "pipeline_products": {
        # the whole 9-stage flow: dims broadcast, nothing cartesian
        "want": ["BroadcastHashJoin"],
        "avoid": ["SortMergeJoin"],
    },
    "stratified_split": {
        # split label is pure arithmetic on the scan; the only Exchange is
        # the (split, lang) aggregation's
        "want": ["HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin", "Window"],
    },
    "tfidf_top_terms": {
        # explode → partial aggs; idf equi-join; top-k as WindowGroupLimit
        "want": ["Generate explode", "WindowGroupLimit"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "decontaminate": {
        # benchmark shingles broadcast; the corpus probe is a map-side
        # semi-join — the corpus never shuffles its shingles
        "want": ["BroadcastHashJoin", "LeftSemi"],
        "avoid": ["SortMergeJoin"],
    },
    "training_prep": {
        # gates are expressions on the scan; the only shuffle is the
        # fingerprint groupBy (its Exchange shows up by key name)
        "want": ["HashAggregate", "Exchange hashpartitioning(fingerprint"],
        "avoid": ["BroadcastNestedLoopJoin", "SortMergeJoin"],
    },
    "pii_scrub": {
        # corpus scrubbing must stay a zero-shuffle map over the scan
        "want": ["Project"],
        "avoid": ["Exchange"],
    },
    "group_sample": {
        # hash-rank sample: the rank filter must push below the shuffle so
        # mappers forward only local top-k candidates
        "want": ["WindowGroupLimit"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "rolling_stats": {
        # single key-shuffle, ROWS-bounded running frame, no self-join
        "want": ["Window", "Exchange hashpartitioning(user_id"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "repetition_signals": {
        # two shuffles of pre-aggregated counters (map-side combine), never
        # the raw exploded token stream
        "want": ["Generate explode", "HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin", "Window"],
    },
    "doc_chunks": {
        # per-row sequence/posexplode flat map on the scan: zero shuffle
        "want": ["Generate posexplode"],
        "avoid": ["Exchange"],
    },
    "ngram_jaccard_capped": {
        # corpus-sized inverted index must never broadcast-build; the df
        # cap is an anti-join against the counter-sized HEAVY shingle
        # set and per-doc sizes join back from an aggregate — no
        # full-index window shuffle+sort (r17). Shingles come from
        # dedup's Arrow text stage (MapInPandas).
        "want": ["SortMergeJoin", "LeftAnti", "MapInPandas"],
        "avoid": ["BroadcastNestedLoopJoin", "Window"],
    },
    "embedding_near_dup_lsh": {
        # sign-LSH blocking: equi-join on the bucket id, never the exact
        # path's all-pairs nested loop
        "want": ["Join"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "quantize_fidelity": {
        # narrow-dependency column math on the scan: zero shuffle, no Python
        "want": [],
        "avoid": ["Exchange"],
    },
    "scd2_history": {
        # run-collapse lag + validity lead share ONE user-key Exchange/sort
        "want": ["Window", "Exchange hashpartitioning(user_id"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "sliding_window": {
        # hopping windows expand JVM-side (Expand), then two-phase agg
        "want": ["Expand", "HashAggregate"],
        "avoid": ["Generate explode"],
    },
    "histogram": {
        # bucket arithmetic on the scan; one counter-only Exchange
        "want": ["HashAggregate"],
        "avoid": ["Window"],
    },
    "weighted_sample": {
        # scalar Σw broadcast into the scan filter (the 1-row cross join IS
        # the design); keep rule evaluates in the scan stage, no key shuffle
        "want": ["BroadcastNestedLoopJoin", "Exchange SinglePartition"],
        "avoid": ["Exchange hashpartitioning", "SortMergeJoin", "Window"],
    },
    "heavy_hitters": {
        # the MG sketch (MapInPandas) runs EAGERLY (single collected job);
        # at audit SF no partition overflows, so the round-8 exact-sketch
        # shortcut returns the driver-summed counts as a LOCAL relation —
        # no recount scan, no join, no Python stage in the returned plan.
        # The overflow fallback's recount shape (HashAggregate over an
        # InSet/broadcast-pruned scan) is pinned in
        # tests/test_round8_ops.py.
        "want": ["LocalTableScan"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin", "HashAggregate"],
    },
    "bloom_prune_join": {
        # bitmap probe (getbit) must sit in the fact scan's Filter, BEFORE
        # the exact LeftSemi join; dim side broadcasts
        "want": ["getbit", "LeftSemi", "BroadcastHashJoin"],
        "avoid": ["SortMergeJoin"],
    },
    "incremental_agg": {
        # state merge is a union of tiny state tables + one re-agg; the raw
        # scan aggregates once per half, never joins
        "want": ["HashAggregate", "Union"],
        "avoid": ["SortMergeJoin", "Window"],
    },
    "zorder_scan": {
        # the re-read answers the 2-dim predicate with parquet pushdown
        "want": ["PushedFilters: [IsNotNull"],
    },
    "ann_ivf_topk": {
        # deterministic quantizer takes its n rows via TakeOrdered (r04:
        # no single-partition global-window sort of the corpus); list
        # assignment is a broadcast of the tiny centroid table
        "want": ["TakeOrderedAndProject"],
    },
    "mdb_scan_agg": {
        # the extracted CSV lines parse into a local relation (no staging
        # file) + two-phase agg; grouping key is a parsed column
        "want": ["HashAggregate", "LocalTableScan"],
        "avoid": ["Window"],
    },
    "simhash_pairs_banded": {
        # pigeonhole banding: candidates from a (block_idx, block_bits)
        # equi-join — NEVER the all-pairs nested loop of the quadratic twin.
        # (Any equi-join form is fine: AQE may broadcast at test scale.)
        # Fingerprints come from dedup's Arrow text stage (MapInPandas).
        "want": ["Join [block_idx", "Generate explode", "MapInPandas"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "pdf_menu_extract": {
        # byte decode is Arrow-batched in executors; keep-first dedup rides
        # the rank-limit pushdown. r18: n_pages rides a count window over
        # the SAME partition key as the keep-first window — ONE decode
        # pass, no join at all (the former BroadcastHashJoin pin matched
        # a shape that executed the pack+decode chain twice)
        "want": ["MapInPandas", "WindowGroupLimit"],
        "avoid": ["BroadcastNestedLoopJoin", "BroadcastHashJoin",
                  "SortMergeJoin"],
    },
    "mixture_sample": {
        # per-source rates broadcast back; keep rule evaluates in the scan —
        # the corpus side must never hash-shuffle
        "want": ["BroadcastHashJoin"],
        "avoid": ["SortMergeJoin", "Window"],
    },
    "contamination_score": {
        # benchmark shingle hashes broadcast; corpus probe stays map-side,
        # the only key-wide exchange is the per-doc aggregation. Shingling
        # moved from the interpreted explode to the Arrow mapInPandas
        # stage this round (~3× faster), so MapInPandas replaces the old
        # 'Generate explode' node.
        "want": ["BroadcastHashJoin", "MapInPandas"],
        "avoid": ["SortMergeJoin"],
    },
    "unigram_logprob": {
        # top-V vocab via TakeOrdered, broadcast into the scoring join
        "want": ["TakeOrderedAndProject", "BroadcastHashJoin"],
        "avoid": ["SortMergeJoin"],
    },
    "containment_pairs": {
        # shares the never-broadcast inverted-index join AND the
        # anti-join df valve with the jaccard twin (r17: no window), and
        # its shingles from dedup's Arrow text stage (MapInPandas)
        "want": ["SortMergeJoin", "LeftAnti", "MapInPandas"],
        "avoid": ["BroadcastNestedLoopJoin", "Window"],
    },
    "minhash_estimate": {
        # signatures ride the banded rows through ONE self-join over the
        # persisted banded stage (InMemoryTableScan on both branches — the
        # Arrow signature stage runs once under any join strategy); the
        # zip_with agreement fold is pure codegen
        "want": ["InMemoryTableScan", "zip_with", "MapInPandas"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "bm25_topk": {
        # query-term postings only (literal IN pushed into the explode
        # filter); |Q|-row idf broadcast; ranking is TakeOrdered
        "want": ["TakeOrderedAndProject", "BroadcastHashJoin"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "cdc_snapshot": {
        # latest-op-wins rank must ride the WindowGroupLimit pushdown;
        # one key shuffle, no join
        "want": ["WindowGroupLimit", "Exchange hashpartitioning(user_id"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "importance_resample": {
        # like pagerank, the returned frame is post-execution: the
        # operator runs its heavy plan eagerly (collects the k selected
        # rows) so the cached (doc, bucket) histogram can be unpersisted
        # (round-5 advisory) — the audited plan is the k-row local result.
        # The heavy plan's shape (broadcast log-ratio join + TakeOrdered,
        # no Python) is pinned against the LAZY twin
        # (_importance_resample_plan) in tests/test_round6_ops.py.
        # (round 8: the k-row materialization rides Arrow both ways, so
        # the local relation plans as LocalTableScan, not ExistingRDD)
        "want": ["LocalTableScan"],
        "avoid": ["SortMergeJoin"],
    },
    "pdf_real_extract": {
        # encode and decode both run as Arrow-batched executor stages; the
        # keep-first dedup must ride WindowGroupLimit
        "want": ["MapInPandas", "WindowGroupLimit"],
    },
    "fuzzy_join": {
        # both banded sides are corpus-scale: the band join must stay a
        # sort-merge on (band_idx, band_hash), never a broadcast build;
        # top-1 per query rides WindowGroupLimit
        "want": ["SortMergeJoin", "WindowGroupLimit", "MapInPandas"],
        "avoid": ["BroadcastHashJoin"],
    },
    "pdf15_extract": {
        # same chain as pdf_real_extract, modern-layout writer/reader:
        # Arrow codec stages, keep-first on WindowGroupLimit
        "want": ["MapInPandas", "WindowGroupLimit"],
    },
    "bpe_pair_stats": {
        # pair expansion is codegen flat-map on the scan; ONE counter agg
        # (map-side partial) then TakeOrdered — no joins, no Python
        "want": ["TakeOrderedAndProject", "partial_count"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin", "Window"],
    },
    "streaming_curation": {
        # the ingest loop already RAN (foreachBatch merges during query
        # construction, like pagerank's rounds); the audited frame is the
        # bucketed-target read — partition-discovered parquet, layout col
        # dropped
        "want": ["FileScan parquet"],
    },
    "distribution_drift": {
        # two counter aggs (partial count on the bin id), counter-sized
        # full-outer compare, scalar totals broadcast — snapshots never
        # join row-to-row
        "want": ["partial_count", "BroadcastNestedLoopJoin"],
        "avoid": ["Window"],
    },
    "phrase_merge": {
        # bigram mining + re-tokenized count are counter aggs; the merge
        # fold is row-local codegen — no joins, no windows, no Python
        "want": ["TakeOrderedAndProject", "partial_count"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin", "Window"],
    },
    "pq_codes": {
        # all m argmins are literal array_min expressions in ONE codegen
        # projection — encoding is join-free and shuffle-free (training
        # rounds already ran eagerly, counter-sized collects)
        "want": ["array_min"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin",
                  "BroadcastNestedLoopJoin", "Exchange hashpartitioning",
                  "Window"],
    },
    "pq_adc_topk": {
        # corpus codes + all per-query ADC sums are literal expressions
        # in one projection (array_min codes, element_at lookups); the
        # only shuffle is the per-query top-k window (WindowGroupLimit)
        "want": ["array_min", "element_at", "WindowGroupLimit"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "ivfpq_topk": {
        # list routing and codes evaluate as literal argmin expressions in
        # the corpus scan; the probe gate IS the broadcast equi-join with
        # the (query, probed list, ADC luts) relation (round 8 — replaces
        # the per-query literal explode, whose codegen grew with |Q|),
        # non-probed pairs die in the join before the only shuffle (the
        # per-query top-k window)
        "want": ["array_min", "element_at", "BroadcastHashJoin",
                 "WindowGroupLimit"],
        "avoid": ["SortMergeJoin"],
    },
    "ivfpq_recall": {
        # both rankings are queries×k relations (AQE broadcasts the
        # smaller); the audit is integer counts off one equi-join
        "want": ["HashAggregate"],
    },
    "kmeans_clusters": {
        # textbook Spark k-means: centers collected per round (n rows),
        # assignment is a LITERAL array_min argmin in the scan — codegen,
        # zero shuffle, NO join of any kind; the only shuffle is the
        # (centroid, dim) partial_avg counter agg
        "want": ["array_min", "partial_avg", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastNestedLoopJoin", "Window"],
    },
    "label_propagation": {
        # like pagerank: per-round plans already ran and truncated; the
        # audited frame is the final summary over the checkpointed labels.
        # The load-bearing shape (argmax via min(struct) AGGREGATE, never
        # a row_number window over neighbor labels) is pinned in
        # tests/test_round6_ops.py against one un-truncated round.
        "want": ["Scan ExistingRDD", "HashAggregate"],
        "avoid": ["Window"],
    },
    "pmi_collocations": {
        # pair expansion is codegen flat-map; pair counts partial-agg;
        # unigram margins broadcast into the scoring join; top-k is
        # TakeOrdered — no SMJ, no windows, no Python
        "want": ["TakeOrderedAndProject", "BroadcastHashJoin", "partial_count"],
        "avoid": ["SortMergeJoin", "Window"],
    },
    "global_offsets": {
        # the two-phase prefix sum: window PARTITIONED by the quantile
        # range id (never a single global partition), base offsets as a
        # literal map lookup (no join)
        "want": ["Window", "Exchange hashpartitioning(__pid"],
        "avoid": ["Exchange SinglePartition", "SortMergeJoin"],
    },
    "span_dedup": {
        # keep-first is a combiner-friendly min(struct) aggregate over the
        # span hash (partial_min absorbs hot boilerplate spans map-side —
        # round-5 straggler fix), marked back via an equi-join on the FULL
        # (hash, id, idx) triple (unique per row → uniform join key). A
        # row_number window here is the straggler anti-pattern.
        "want": ["partial_min", "HashAggregate"],
        "avoid": ["Window", "BroadcastNestedLoopJoin"],
    },
    "bpe_encode": {
        # encoding is chained row-local folds in one projection over the
        # scan — a shuffle ANYWHERE in the encode plan is wrong (the
        # trainer's collects run before this plan exists)
        "want": ["Project"],
        "avoid": ["Exchange", "Window"],
    },
    "bigram_logprob": {
        # pair stream persisted (three consumers), counts reduce
        # map-side; the one BroadcastNestedLoopJoin is the 1-row
        # vocabulary-size scalar attach
        "want": ["InMemoryTableScan", "HashAggregate"],
    },
    "token_budget_select": {
        # the running sum must be the RANGE-PARTITIONED window (__pid),
        # never a global orderBy window
        "want": ["Window", "__pid"],
    },
    "incremental_dedup": {
        # delta bands persisted (feed both joins); pairing is equi-join
        # on (band_idx, band_hash) — a cartesian/NLJ means the banding
        # degenerated. Signatures come from dedup's Arrow text stage.
        "want": ["InMemoryTableScan", "MapInPandas"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "classifier_train": {
        # the returned weights are the last round's lazy localCheckpoint
        # (lineage flattened per round, the pagerank pattern)
        "want": ["Scan ExistingRDD"],
    },
    "packing_efficiency": {
        # two counter-sized aggs over the (already counter-sized) pack
        # table; the pack ids come from the partitioned window
        "want": ["HashAggregate", "Window"],
    },
    "curation_best_quality": {
        # winner per cluster is a map-side-combinable min(struct) argmax
        # (ObjectHashAggregate — struct keys don't ride HashAggregate),
        # never a per-cluster sort window
        "want": ["partial_min"],
        "avoid": ["Window"],
    },
    "hard_negatives": {
        # the BLAS scorer with in-batch threshold filters + lossless
        # prune; ranking is the one WindowGroupLimit
        "want": ["MapInPandas", "Window"],
    },
    "streaming_neardup": {
        # the returned relation is a plain read of the merged target —
        # all streaming work happened in foreachBatch
        "want": ["Scan parquet"],
    },
    "jl_distortion": {
        # projection + distances are pure codegen expressions; the only
        # join is the shifted-id equi-join
        "want": ["Project"],
        "avoid": ["Window"],
    },
    "cdc_chunk_dedup": {
        # r17: the md5 boundary path is an Arrow stage (hashlib C md5 per
        # position beats the interpreted Catalyst-lambda md5 ~2x wall);
        # the only shuffle is the chunk-hash counter agg
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["Window"],
    },
    "cdc_containment": {
        # inverted-index equi-join on xxhash64(chunk_hash) (8-byte key);
        # pair counters reduce map-side; the df valve is an anti-join;
        # chunking rides the same Arrow stage as cdc_chunk_dedup
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["Window"],
    },
    "winnow_dedup_pairs": {
        # fingerprints are one Arrow pass; pairing is the inverted-index
        # equi-join on the 52-bit fingerprint + a counter-sized pair agg
        "want": ["MapInPandas", "HashAggregate"],
    },
    "split_leakage_guard": {
        # the minhash Arrow pass is consumed inside the CC union-find
        # collect, so the RETURNED plan is: docs joined to the
        # driver-local component relation + counter aggs + the 1-row
        # leak scalar broadcast-attach (BNLJ is that intended attach,
        # so only a true cartesian is banned)
        "want": ["Scan ExistingRDD", "HashAggregate"],
    },
    "dup_cluster_sizes": {
        # components are a driver-local relation (union-find shortcut);
        # the histogram is two counter-sized aggs
        "want": ["Scan ExistingRDD", "HashAggregate"],
    },
    "hybrid_rrf_topk": {
        # both input rankings are k-row TakeOrdered relations; fusion is
        # one tiny agg + TakeOrdered — the corpus is only touched by the
        # two upstream retrievals (postings filter + one cosine scan, the
        # Arrow BLAS scorer of cosine_topk: MapInPandas)
        "want": ["TakeOrderedAndProject", "HashAggregate", "MapInPandas"],
    },
    "basket_kcore": {
        # the sf0.01 graph rides the driver peel shortcut, so the
        # RETURNED plan is a local relation (the distributed peel's
        # per-round agg + anti-joins run only above driver_max_edges)
        "want": ["Scan ExistingRDD"],
    },
    "winnow_recall": {
        # exact-jaccard and winnow sides are both inverted-index
        # equi-joins; the recall join is pair-table-sized
        "want": ["MapInPandas", "HashAggregate"],
    },
    "basket_triangles": {
        # wedge join + closing-edge left-semi are equi-joins on node
        # keys; counts are counter aggs. (The upstream pair miner's
        # 1-row n_baskets scalar attach is an intended BNLJ, so only a
        # true cartesian is banned.)
        "want": ["HashAggregate"],
    },
    "robust_outliers": {
        # two exact grouped percentiles with the group-sized med/mad
        # tables broadcast back — planner/AQE-chosen, no forced hint
        # (a forced broadcast OOMs on high-cardinality groups, advisor
        # r9); corpus shuffles only by group key
        "want": ["ObjectHashAggregate", "BroadcastHashJoin"],
        "avoid": ["SortMergeJoin"],
    },
    "decayed_engagement": {
        # the weight is one codegen expression; the only shuffle is the
        # per-group counter agg — no window, no join, no python
        "want": ["HashAggregate"],
        "avoid": ["Window", "SortMergeJoin"],
    },
    "dedup_rate_by_source": {
        # fingerprint groups and band pairs both reduce to per-source
        # counters; the only joins are the left-semi participation and
        # the counter-to-counter source join
        "want": ["MapInPandas", "HashAggregate"],
    },
    "matryoshka_recall": {
        # three sliced rankings + exact, all queries-x-k relations; the
        # recall join is counter-sized; slicing is a codegen projection;
        # each ranking is cosine_topk's Arrow BLAS scorer (MapInPandas)
        "want": ["HashAggregate", "MapInPandas"],
    },
    "tokenizer_fertility": {
        # 3-merge table -> the codegen fold path: no Python anywhere;
        # one equi-join + one counter-sized agg
        "want": ["HashAggregate"],
    },
    "text_normalize": {
        # NFC is the one sanctioned Python hop: a scalar ARROW pandas UDF
        # (ArrowEvalPython), never row-at-a-time; one partial agg after
        "want": ["ArrowEvalPython", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "nfkc_fold": {
        "want": ["ArrowEvalPython", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "unicode_scrub": {
        # pure codegen regex projection: no Python node of any kind, no
        # shuffle at all (row-local output)
        "want": ["Project"],
        "avoid": ["Exchange"],
    },
    "mojibake_flag": {
        # codegen regex + one partial agg
        "want": ["HashAggregate"],
    },
    "dedup_normalized": {
        # two hash-groupBys over one keyed projection; the final join is
        # the 1-row x 1-row scalar attach (BroadcastNestedLoopJoin by
        # design); NFC rides ArrowEvalPython
        "want": ["ArrowEvalPython", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "url_canonical": {
        # canonicalization is pure codegen string/array ops: row-local
        # projection, zero shuffle, zero Python
        "want": ["Project"],
        "avoid": ["Exchange"],
    },
    "domain_rollup": {
        # row-local canonicalize -> one hash-groupBy on the domain key
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "html_extract": {
        # tag strip / entity decode / title / href harvest are all
        # codegen regex+replace chains: row-local projection, zero
        # shuffle, zero Python
        "want": ["Project"],
        "avoid": ["Exchange"],
    },
    "html_curation": {
        # html->text->scrub->fingerprint is codegen; the NFC table pass
        # is the one sanctioned Arrow UDF; then one hash-agg
        "want": ["ArrowEvalPython", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "secret_scan": {
        # Luhn validation is an array fold inside the projection; one
        # counter aggregation, zero Python, zero joins
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "gopher_rules": {
        # array folds over token/line splits + one hash-groupBy;
        # every rule is codegen, zero Python, zero joins
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "c4_filters": {
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "robots_gate": {
        # robots parse windows over per-host files; the frontier side is
        # ONE broadcast join + max_by agg — no window/sort over the
        # frontier, no Python
        "want": ["BroadcastHashJoin", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "anchor_text_corpus": {
        # two aligned regexp_extract_all arrays -> zip -> explode ->
        # clean -> one hash-groupBy; PSL via InSet codegen, zero joins
        "want": ["Generate", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "canonical_dedup": {
        # row-local key computation + one counter aggregation
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "sitemap_frontier": {
        # row-local <loc> extract + explode, one hash-groupBy
        "want": ["Generate", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "lsh_pairs_normalized": {
        # Arrow signature stage (the sanctioned mapInPandas) + banding
        # self-join on (band_idx, band_hash) — no cartesian, no
        # row-at-a-time Python
        "want": ["MapInPandas"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "link_frontier": {
        # href harvest + explode are row-local (fan-out bounded by
        # links-per-page); one hash-groupBy on the domain key; PSL
        # resolution is InSet codegen, zero Python, zero joins
        "want": ["Generate", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "domain_rollup_psl": {
        # full-PSL longest-match compiles to nested CASE over InSet hash
        # lookups — still a row-local projection + one hash-groupBy,
        # zero Python, zero joins (the "broadcast map" is a literal)
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "domain_rollup_psl_full": {
        # SAME plan shape at ~9k rules: the InSet literals live in the
        # expression, never in a join — r12 measured whole-stage codegen
        # surviving at this size with the flat greatest/coalesce shape
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "url_percent_canonical": {
        # percent normalization is a per-token array fold inside the
        # projection: row-local, zero Python, one hash-groupBy
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "warc_scan_agg": {
        # container framing IS a (deliberate, Arrow-batched) Python
        # stage — the per-record HTML/URL work and the rollup stay
        # codegen; never row-at-a-time Python
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "warc_curation": {
        # scan -> unwrap (MapInPandas) -> codegen html/text chain + NFC
        # Arrow stage (ArrowEvalPython) -> one aggregation
        "want": ["MapInPandas", "ArrowEvalPython", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "crawl_delay_policy": {
        # the r11 robots gate plus ONE more broadcast (per-domain delay
        # table); still no window over the frontier, no sort-merge
        "want": ["BroadcastHashJoin", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "domain_rollup_psl_join": {
        # rules-as-data path: the 9k-rule table must BROADCAST (never
        # sort-merge against the frontier) and the per-host collapse is
        # one hash-aggregate on a unique row id
        "want": ["BroadcastHashJoin", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "robots_sitemap_discovery": {
        # directive harvest + PSL resolution are row-local codegen;
        # one hash-groupBy, zero joins
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "frontier_schedule": {
        # gate joins broadcast; the schedule is ONE per-host window
        # (row_number, O(1) state) — never a global (unpartitioned) sort
        "want": ["BroadcastHashJoin", "Window", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "streaming_warc_curation": {
        # the returned frame is the batch reduction over the streamed
        # ledger (memory sink) — the streaming plan itself ran under
        # AvailableNow; nothing Python-row-at-a-time anywhere
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "wet_export_roundtrip": {
        # container framing is the deliberate Arrow Python stage on the
        # READ side; write side is foreachPartition (not in this plan);
        # per-source rollup is one hash-aggregate
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "robots_gate_wildcard": {
        # same gate shape as robots_gate: broadcast rule join (now with
        # per-rule regexes materialized on the broadcast side) + one
        # hash-aggregate per row id — RLIKE never touches a join order
        "want": ["BroadcastHashJoin", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "warc_digest_audit": {
        # digest recomputation is codegen sha1 over the unwrapped
        # payload; one hash-groupBy, no joins
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "web_pipeline_funnel": {
        # containers (MapInPandas) -> broadcast robots gate -> row-local
        # text/quality/fingerprint stages (NFC Arrow stage: ArrowEvalPython)
        # -> ONE hash-groupBy; the funnel must not sort-merge or cross-join
        # anywhere
        "want": ["MapInPandas", "ArrowEvalPython", "BroadcastHashJoin",
                 "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "warc_concurrent_pairs": {
        # ONE container pass: both record kinds project a shared pairing
        # key and one hash-aggregate zips the pair — a self-join of two
        # filtered scan views would parse the containers twice, so NO
        # join of any kind may appear
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin", "SortMergeJoin",
                  "BroadcastHashJoin", "ShuffledHashJoin"],
    },
    "warc_content_coding": {
        # entity decode lives inside the container splitter (the one
        # deliberate Arrow stage); the residual rollup is codegen
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "domain_rollup_psl_auto": {
        # the dispatcher must ROUTE to the join formulation at ~9k
        # rules: broadcast rule join + rid-keyed hash-aggregate (an
        # InSet-shaped plan here would mean the routing broke)
        "want": ["BroadcastHashJoin", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "robots_agent_tokens": {
        # same broadcast-gate shape as robots_gate: token selection
        # happens on the broadcast-sized rule side, never per frontier row
        "want": ["BroadcastHashJoin", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "domain_rollup_psl_snapshot": {
        # ~370 rules < PSL_JOIN_THRESHOLD: the dispatcher must route to
        # the zero-shuffle InSet expression — a join here means the
        # routing broke; one hash-groupBy only
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "warc_cdx_index": {
        # SURT key + ts + digest check are row-local codegen over the
        # container splitter's output; ONE hash-groupBy on the urlkey,
        # zero joins
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "main_content_extract": {
        # block segmentation + density rules are array lambdas inside ONE
        # row-local projection over the parquet scan — a map-only plan:
        # no shuffle of any kind, no joins, no Python
        "want": ["Project"],
        "avoid": ["Exchange", "SortMergeJoin", "BroadcastHashJoin"],
    },
    "web_graph_pagerank": {
        # the harvest collapses the corpus to ~100 domain edges BEFORE
        # graph work (explode + hash-distinct); the returned frame is the
        # final rank round's localCheckpoint — a projection over the
        # materialized RDD, exactly the pagerank pin's shape
        "want": ["Scan ExistingRDD"],
    },
    "warc_media_scan": {
        # container splitter (the deliberate Arrow stage) -> binary-
        # column projection + magic sniff -> one hash-groupBy; no joins
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "warc_media_headers": {
        # two deliberate Arrow stages (container splitter + the decoder
        # mapInPandas) around a codegen projection; one hash-groupBy
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "sitemap_recrawl": {
        # aligned-pair harvest + date arithmetic are row-local codegen;
        # one hash-groupBy, zero joins, zero Python
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "warc_media_digest": {
        # hex+md5 are codegen over the splitter's binary column; one
        # hash-groupBy on (declared, digest)
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "wat_export_roundtrip": {
        # read side of the WAT loop: container splitter (the deliberate
        # Arrow stage) -> from_json projection -> one hash-groupBy
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "cdx_incremental_merge": {
        # 1:1 LEFT equi-join on the unique urlkey + one hash-groupBy;
        # the container splitter is the only (deliberate) Python stage
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "cdx_parquet_lookup": {
        # the whole point of the columnar index: the domain-prefix
        # predicate reaches the parquet reader (StringStartsWith in
        # PushedFilters) so file/row-group min-max stats on the SORTED
        # urlkey prune the scan — never a full index pass, never Python
        "want": ["PushedFilters: [IsNotNull(urlkey), "
                 "StringStartsWith(urlkey,com,example,site3))"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "warc_revisit_export": {
        # read side of the revisit loop: container splitter (the
        # deliberate Arrow stage) -> row-local classify -> one
        # hash-groupBy; the staging join keys on the unique url
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "html_metadata_extract": {
        # og/JSON-LD extraction + from_json typing are row-local
        # codegen over the scan; one hash-groupBy on og:type — no
        # joins, no Python, no window
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin", "Window"],
    },
    "html_table_extract": {
        # nested cell extraction + header zip are array lambdas in one
        # projection; explode (Generate) + one hash-groupBy
        "want": ["Generate", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "warc_cache_validators": {
        # map element_at + regexp are row-local over the container
        # splitter (the deliberate Arrow stage); one hash-groupBy
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "feed_recrawl": {
        # RSS/Atom harvest + date arithmetic are row-local codegen;
        # union of two explodes + one hash-groupBy, zero joins, zero
        # Python
        "want": ["Generate", "Union", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "web_graph_hits": {
        # final frame = last half-round's localCheckpoint join — two
        # ExistingRDD scans joined on the node key; never a data-sized
        # product (the crossJoins inside the loop are one-row scalar
        # attaches, already materialized), never Python
        "want": ["Scan ExistingRDD"],
    },
    "url_template_mining": {
        # template + digest are row-local codegen; one hash-groupBy
        # with two count-distincts (Expand), zero joins, zero Python
        "want": ["HashAggregate", "Expand"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "change_rate_schedule": {
        # persist-once container scan; 1:1 left join on the unique url
        # + one hash-groupBy; the splitter is the only Python stage
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "blocklist_gate": {
        # three broadcast 1:1 rule joins + a row-local exists fold;
        # the frontier is never shuffled, never fanned out
        "want": ["BroadcastHashJoin", "HashAggregate"],
        "avoid": ["SortMergeJoin"],
    },
    "robots_meta_gate": {
        # both directive channels merge row-locally over the container
        # splitter; one hash-groupBy, zero joins
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "lang_agreement_audit": {
        # lang_id heuristic is row-local codegen; two counter-sized
        # hash aggs on the low-cardinality source key + a counter join
        "want": ["HashAggregate"],
    },
    "extraction_yield": {
        # the real html_to_text chain is one codegen projection; one
        # hash-groupBy, zero joins, zero Python
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin", "Window"],
    },
    "web_graph_degrees": {
        # two counter-sized degree aggs merged full-outer (full outer
        # cannot broadcast — SMJ on the tiny counter tables is correct)
        "want": ["HashAggregate"],
    },
    "hreflang_clusters": {
        # lookahead-anchored extraction + map_from_arrays lookup are
        # row-local codegen; one hash-groupBy (single distinct agg
        # plans as two-phase partial-distinct, no Expand needed), zero
        # joins, zero Python
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "warc_fetch_latency": {
        # pairing join keys on the UNIQUE record id; the audit is one
        # per-host lag window; rollup is one hash-groupBy — the container
        # splitter is the only (deliberate) Python stage
        "want": ["MapInPandas", "Window", "HashAggregate"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "warc_redirect_resolve": {
        # non-redirects bypass the walk (the no-join Union branch);
        # each walk round's lineage is truncated by localCheckpoint, so
        # the final plan unions ExistingRDD scans + per-round equi-joins
        # — never a cross product, never row-at-a-time Python
        "want": ["MapInPandas", "Union"],
        "avoid": ["BroadcastNestedLoopJoin"],
    },
    "script_mix": {
        # per-script regex-length counters are row-local codegen; one
        # hash-groupBy on the derived script key, zero joins, zero Python
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin", "Window"],
    },
    "domain_concentration": {
        # two-level counter agg (domain counts -> per-source moments);
        # the documents scan reads only (source, doc_id), zero joins
        "want": ["HashAggregate", "ReadSchema: struct<doc_id:bigint,source:string>"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin", "Window"],
    },
    "recrawl_savings": {
        # header lookups + change congruence are row-local over the
        # container splitter (the one deliberate Python stage); one
        # hash-groupBy, zero joins
        "want": ["MapInPandas", "HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin", "Window"],
    },
    "blocklist_rule_audit": {
        # one hash-groupBy over the dimension-sized rule table; the
        # issue classifier is a row-local codegen case chain
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin", "Window"],
    },
    "cjk_script_mix": {
        # nine per-script regex-length counters, each computed ONCE as a
        # row-local codegen column; one hash-groupBy, zero joins, zero
        # Python — same designed shape as script_mix
        "want": ["HashAggregate"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin", "Window"],
    },
    "domain_cap_enforce": {
        # the cap bound is a LITERAL (counter-sized driver scalar), so
        # the row_number filter pushes down as WindowGroupLimit — each
        # map task forwards only its local top-k per domain; the
        # before/after merge joins two dimension-sized aggregates
        "want": ["WindowGroupLimit", "HashAggregate"],
    },
    "line_boilerplate_strip": {
        # posexplode flat map on the scan; df count + rebuild are
        # hash-groupBys on the 12-byte (hash, length) line key / doc
        # id; the verdict
        # join is a co-keyed equi-join — zero Python, zero windows
        "want": ["HashAggregate", "Generate"],
        "avoid": ["Window"],
    },
    "classifier_calibration": {
        # ONE scan-side projection computes integer score AND the rule
        # label (carry= — no second tokenize, no id join); the min/max
        # scalar attaches via BroadcastNestedLoopJoin (one-row scalar
        # attach, not a data-sized product); one hash-groupBy on bin
        "want": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "avoid": ["Window", "SortMergeJoin", "BroadcastHashJoin"],
    },
    "vocab_coverage": {
        # type counts: one map-side-combined hash-groupBy; the
        # top-max(k) table MUST come off TakeOrderedAndProject
        # (distributed top-k merge) — a full global Sort would be the
        # vocabulary-sized straggler; the single-partition Window then
        # runs over a parameter-bounded table; total attaches as a
        # one-row broadcast scalar
        "want": ["TakeOrderedAndProject", "HashAggregate",
                 "BroadcastNestedLoopJoin"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "lsh_geometry_plan": {
        # pure arithmetic over a 16-row Range: no scan, no shuffle, no
        # join — the whole plan is Range -> Filter -> Project
        "want": ["Range"],
        "avoid": ["Window", "HashAggregate", "Exchange", "SortMergeJoin",
                  "BroadcastHashJoin"],
    },
    "minhash_recall": {
        # ONE Arrow signature pass (MapInPandas, persisted — both
        # banding branches read the cache: InMemoryTableScan), banded
        # self-equi-joins + the inverted-index jaccard join, hit
        # markers folded in one aggregate; the three one-row counters
        # attach as scalar joins, never a data-sized product. (The
        # ground-truth branch keeps ngram_jaccard_pairs' PARTITIONED
        # set-size window — keyed by doc id, scale-safe by design.)
        "want": ["HashAggregate", "InMemoryTableScan", "MapInPandas"],
    },
    "classifier_calibration_summary": {
        # the same one-scan scorer chain as classifier_calibration
        # (carry= label, min/max scalar via BroadcastNestedLoopJoin,
        # one bin hash-groupBy) + the lag Window and final fold over
        # the counter-sized 8-row bin table — driver-trivial at any
        # corpus scale
        "want": ["HashAggregate", "BroadcastNestedLoopJoin", "Window"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "vocab_coverage_bpe": {
        # encode chain = row-local codegen folds over the scan (the
        # bpe_encode contract; the trainer's counter collects run
        # before this plan exists), then vocab_coverage's shape: type
        # counts off one hash-groupBy, top-k off TakeOrderedAndProject
        # (never a vocabulary-sized full Sort), total as a one-row
        # scalar attach
        "want": ["TakeOrderedAndProject", "HashAggregate",
                 "BroadcastNestedLoopJoin"],
        "avoid": ["SortMergeJoin", "BroadcastHashJoin"],
    },
    "minhash_lsh_pairs": {
        # signatures from dedup's Arrow text stage
        "want": ["MapInPandas"],
    },
    "simhash_pairs": {
        # fingerprints from dedup's Arrow text stage
        "want": ["MapInPandas"],
    },
    "ngram_jaccard": {
        # shingles from dedup's Arrow text stage
        "want": ["MapInPandas"],
    },
    "similarity_match": {
        # cosine_topk's Arrow BLAS scorer
        "want": ["MapInPandas"],
    },
    "embedding_near_dup": {
        # exact all-pairs near-dup: the Arrow BLAS scorer
        "want": ["MapInPandas"],
    },
    "boilerplate_ngrams": {
        # shingles from dedup's Arrow text stage (shingle_rows)
        "want": ["MapInPandas"],
    },
    "ann_recall": {
        # the exact baseline is cosine_topk's Arrow BLAS scorer
        "want": ["MapInPandas"],
    },
    "dedup_recall": {
        # exact all-pairs near-dup: the Arrow BLAS scorer
        "want": ["MapInPandas"],
    },
    "warc_charset_decode": {
        # WARC records split executor-side by read_warc's Arrow stage
        "want": ["MapInPandas"],
    },
}


# Queries whose plan keeps a Window over Exchange SinglePartition, and why
# that is acceptable (or still open).
SINGLE_PARTITION_WINDOWS: dict[str, str] = {
    "funnel": "bounded: behavior.funnel ranks the k stage rows (behavior.py:149)",
    "funnel_windowed": "bounded: behavior.funnel ranks the k stage rows (behavior.py:149)",
    "streaming_funnel": "bounded: behavior.funnel ranks the k stage rows (behavior.py:149)",
    "concurrency_sweep": "bounded: one row per time bucket (behavior.py:322)",
    "classifier_calibration_summary": "bounded: 8 calibration bins (corpus.py:1886)",
    "batch_stats": "open: global row_number in stats.with_batch_id (stats.py:33)",
    "positional_zip": "open: global row_numbers (testdata_queries.py:2512,2516)",
}

_PYTHON_PACKAGE = "org.apache.spark.sql.execution.python."


def _kids(node):
    """The nodes the plan text prints under ``node``: its children and inner
    children (cached plans, subqueries), an adaptive plan's current and
    initial plans, a query stage's plan and a reused exchange's original."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        current, initial = node.executedPlan(), node.initialPlan()
        yield current
        if not current.fastEquals(initial):
            yield initial
    elif cls.endswith("QueryStageExec"):
        yield node.plan()
    elif cls == "ReusedExchangeExec":
        yield node.child()
    for seq in (node.innerChildren(), node.children()):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()


def _nodes(node):
    yield node
    for kid in _kids(node):
        yield from _nodes(kid)


def _over_single_partition(node) -> bool:
    """Is the nearest Exchange on some path below ``node`` SinglePartition?"""
    for kid in _kids(node):
        if kid.nodeName() in ("Exchange", "BroadcastExchange"):
            if kid.outputPartitioning().toString() == "SinglePartition":
                return True
        elif _over_single_partition(kid):
            return True
    return False


def plan_failures(name: str, df, entry: dict[str, list[str]] | None = None) -> list[str]:
    """Check ``df``'s executed plan against the three rules and the pins
    of ``entry`` (default: ``EXPECTATIONS[name]``); return one
    ``"<name>: <problem>"`` line per failure."""
    entry = EXPECTATIONS.get(name, {}) if entry is None else entry
    root = df._jdf.queryExecution().executedPlan()
    text = root.toString()
    want = entry.get("want", [])
    problems = [f"missing {w!r}" for w in want if w not in text]
    problems += [f"unwanted {a!r}" for a in entry.get("avoid", []) if a in text]
    nodes = list(_nodes(root))
    names = {n.nodeName() for n in nodes}
    if "CartesianProduct" in names:
        problems.append("CartesianProduct")
    python = {n.nodeName() for n in nodes
              if n.getClass().getName().startswith(_PYTHON_PACKAGE)}
    problems += [f"Python node {p} not in want" for p in sorted(python - set(want))]
    single = any(_over_single_partition(n) for n in nodes
                 if n.nodeName() in ("Window", "WindowGroupLimit"))
    if single and name not in SINGLE_PARTITION_WINDOWS:
        problems.append("Window over Exchange SinglePartition")
    if not single and name in SINGLE_PARTITION_WINDOWS:
        problems.append("no Window over Exchange SinglePartition: "
                        "delete its SINGLE_PARTITION_WINDOWS entry")
    return [f"{name}: {p}" for p in problems]


def audit(names: list[str], spark, sf_dir: str = "/root/testdata/sf0.01") -> list[str]:
    """Audit the registered queries ``names``; return failure descriptions
    (empty = all plans are the designed plans). Importable for pytest."""
    failures = []
    for name in names:
        df = QUERIES[name].spark(spark, sf_dir)
        df.count()  # materialize so AQE settles on the final physical plan
        failures += plan_failures(name, df)
    return failures


def main() -> int:
    names = sys.argv[1:] or list(QUERIES)
    spark = get_spark("explain-audit", extra_conf={"spark.ui.showConsoleProgress": "false"})
    failures = audit(names, spark)
    bad = {f.split(":", 1)[0] for f in failures}
    for name in names:
        if name not in bad:
            print(f"[OK ] {name}")
    for f in failures:
        print(f"[BAD] {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
