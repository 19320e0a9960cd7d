#!/usr/bin/env python
"""Emit PLANS.md: executed-plan evidence for the flagship queries.

For each audited query this extracts the properties that decide whether the
plan survives a 100× scale-up — scan pushdown (PushedFilters/ReadSchema),
join strategies (broadcast vs sort-merge), the number of exchanges, and
whole-stage-codegen coverage — so the scale claims in ARCHITECTURE.md are
checkable against the actual optimizer output, not prose.

Run: ``python tools/plan_audit.py`` (writes PLANS.md at the repo root).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from kusto_pre_forge_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

#: (query key, the claim the plan must support)
AUDITED = [
    ("kql_project_where", "filter + projection reach the parquet scan"),
    ("kql_summarize_q1", "partial (map-side) aggregation before the single exchange"),
    ("q3_revenue_topk", "dimension sides broadcast; fact table never build-side"),
    ("q5_nation_revenue", "multi-join keeps small dims broadcast"),
    ("prepartition_events", "one hash exchange total (the scatter IS the shuffle)"),
    ("shard_assign", "one explicit bucket exchange over data reused by the subtotal aggregate and the within-bucket window; SinglePartition only above the per-bucket subtotals (prefix_bases)"),
    ("dedup_minhash", "band join shuffles band keys, not documents; signature above the exchange"),
    ("similarity_topk", "BroadcastNestedLoopJoin by construction (queries broadcast)"),
    ("contamination_check", "benchmark n-gram side broadcast; corpus side never sort-merged"),
    ("corpus_stratified_sample", "zero exchanges — pure scan + filter"),
    ("asof_join", "one exchange for the union + forward-fill window (+1 for the query's right-side dedup)"),
    ("sessionize", "one shuffle per key for the lag window"),
    ("activity_funnel", "per-step joins stay on the actor key; surviving side shrinks"),
    ("activity_retention", "distinct pairs reduced before the cohort join"),
    ("kql_basket", "per-column(-pair) aggregations only, rows never join rows"),
    ("corpus_shuffle", "distributed prefix sum: one range exchange over data; SinglePartition only above the per-partition count aggregate"),
    ("activity_engagement", "distinct (user, day) pairs reduced before the rolling-window expansion"),
    ("dedup_embedding_clusters", "LSH candidate pairs are checkpointed while the frame is built; the plan left is one union-find map over them — zero exchanges, no all-pairs join, no whole-corpus window"),
    ("kql_partition_apply", "per-key apply stays one hash exchange on the partition key"),
    ("corpus_split", "zero exchanges — split assignment is a pure scan + projection"),
    ("corpus_pack", "keyed prefix sum: one bucket exchange over data; the within-bucket window stays bucket-partitioned, the one prefix window runs over the per-bucket subtotals"),
    ("corpus_line_dedup", "df-aggregate + anti-join before the one reassembly exchange on the doc id"),
    ("kql_series_fit", "2-line scan is one window pass per series key, not an O(n²) fold"),
    ("sequence_detect", "per-step joins stay on the actor key; no window over the event stream"),
    ("dedup_minhash_incremental", "candidate join is banded_new × banded_all — corpus never self-pairs"),
    ("text_lm_score", "vocabulary-sized count tables; bigram-key hash join; no row-row joins"),
    ("kql_graph_match", "hops are hash joins; the orders⋈lineitem edge build is fact-fact — its sort-merge join is the correct plan"),
    ("text_bm25", "query-term filter below the tf aggregate; df side broadcast; top-k is TakeOrderedAndProject"),
    ("activity_sliding_counts", "constant-factor contribute explode + one combined count/dcount aggregate; no bin×event join"),
    ("kql_rows_near", "one window exchange partitioned by the group key — never SinglePartition"),
    ("kql_ipv4_lookup", "CIDR side broadcast; containment is a broadcast non-equi join, fact side never shuffles"),
    ("corpus_budget_sample", "per-stratum totals broadcast back; membership is a map-side hash-threshold filter"),
    ("corpus_epoch_upsample", "explode + filter only — zero exchanges"),
    ("activity_active_users", "distinct pairs → contribute explode → two map-side-combined aggregates"),
    ("skew_salted_agg", "two-phase aggregation: hot keys spread over salt buckets before the combine"),
    ("kql_graph_var", "union of independent hash-join chains, one per path length"),
    ("text_bpe", "one word-histogram collect trains every merge in the driver; apply is chained codegen regexps"),
    ("dedup_clusters", "banded LSH pairs are checkpointed once while the frame is built; the plan left is one union-find map over them — zero exchanges, docs never all-pair"),
    ("dedup_cluster_sizes", "rides the same checkpointed pair set as dedup_clusters; the size histogram is two aggregates over the union-find labels, no exchange"),
    ("kql_series_forecast", "per-series folds over packed arrays — one exchange to pack, no per-element shuffle"),
    ("pipeline_corpus_mix", "gate→cap→split→upsample composes map-side; only the per-source totals aggregate exchanges"),
    ("embedding_whiten", "moment arrays shuffle dim²-bounded aggregates; vectors never leave their partition"),
    ("multimodal_image_dhash_jpeg", "pure map stage: Arrow-batched decode, zero exchanges below the fixture generator"),
    ("embedding_quantize", "array-HOF codegen scan projection — zero exchanges, no UDF"),
    ("text_quality_lr", "model inference in the scan projection — zero exchanges, no UDF"),
    ("activity_counts_metrics", "two actor-keyed aggregates + bins-sized prefix sum; broadcast final join"),
    ("activity_new_metrics", "distinct pairs self-joined one bin apart on the actor key; no windows"),
    ("multimodal_video_dhash", "pure map stage: RIFF walk + per-frame JPEG decode inside mapInPandas"),
    ("text_c4", "C4 cleaning rules in the scan projection — array HOFs, zero exchanges below the aggregate-free projection"),
    ("text_gopher", "Gopher quality rules in the scan projection, no UDF; one widen exchange re-splits the one-footer test scan"),
    ("w3c_log_parse", "positional split projection feeds one map-side-combined aggregate"),
    ("avro_roundtrip", "OCF encode→decode is a pure map stage; one exchange for the final aggregate"),
    ("dedup_edit_distance", "segment-vs-window banding: hash equi-join on (si, len, text) keys, never all-pairs"),
    ("dedup_substring_spans", "window hashes (16-byte keys) in the shuffle, never window text; one doc-key window pass for the island merge"),
    ("dedup_span_cut", "spans join back per doc key; token rebuild is an array-HOF projection"),
    ("corpus_temperature_mix", "per-source rate aggregate broadcast back; epoch explode + hash threshold are map-only"),
    ("kql_diffpatterns_text", "distinct-term explode feeds one combined aggregate; top-k is a sort of term-cardinality rows"),
    ("pipeline_quality_route", "three quality gates CHAIN through carry_cols into ONE scan projection (r14) — zero joins"),
    ("layout_zorder", "Morton key is a flat codegen projection - zero exchanges"),
    ("text_ccnet_buckets", "vocabulary-sized LM count tables; the percent_rank window partitions by language, never SinglePartition over data"),
    ("dedup_semantic", "cell assignment is a narrow vectorized pass, cached once; the max_cell_size hot-cell valve is one count aggregate broadcast as an anti-join; pairs are cell-scoped applyInPandas (one exchange on the cell key) whose labels broadcast back onto the cells"),
    ("text_unigram", "word-count scan + distinct-word Arrow tokenize joined back; no exploded-token shuffle beyond the histogram aggregate"),
    ("text_wordpiece", "same rank-dict shape as text_unigram: histogram aggregate + distinct-word tokenize, join back on the word key"),
    ("contamination_bloom", "Bloom bitset rides the corpus scan as a map-side getbit filter; the verify join receives only survivors"),
    ("events_attribution_join", "equi-key hash join with the time band as a residual predicate; no cross join, no window"),
    ("corpus_dsir_sample", "gram explode folds ONCE to checkpointed (doc,bucket) counts; histograms B-bounded; log-ratio broadcast; top-k is TakeOrderedAndProject"),
    ("heavy_hitters_sketch", "sketch state is buckets x k regardless of cardinality; exact heavy set broadcast-joined for the invariant check"),
    ("graph_pagerank", "per-round: one hash join + map-side-combined sum by dst; driver traffic = two scalars per round"),
    ("dedup_soft_weights", "union-find labels over the checkpointed pair set only; cluster sizes join back on the cluster id, then ONE doc-id join attaches weights (broadcast under AQE when the clustered fraction is small)"),
    ("multimodal_gif_dhash", "pure map stage: GIF animation compositing + dhash inside mapInPandas"),
    ("kql_find", "per-table predicate sits on each scan (pushdown applies per source); the union is plan-level only, zero exchanges"),
    ("q6_forecast_revenue", "every predicate pushed into the parquet scan; one map-side-combined aggregate, no join"),
    ("q8_market_share", "7-way join keeps every dim broadcast; the fact side shuffles only for the final year aggregate"),
    ("q9_product_profit", "part/supplier/nation broadcast; orders join is the one fact-fact exchange"),
    ("q13_order_count_dist", "left join preserves zero-order customers; two map-side-combined aggregates, no windows"),
    ("q18_large_orders", "HAVING aggregate shrinks lineitem to qualifying orders before any join; top-k is TakeOrderedAndProject"),
    ("dedup_cdc_chunks", "posexplode map stage; ONE doc-keyed window (never SinglePartition); chunk-hash aggregate map-side combines"),
    ("similarity_knn_classify", "small-pool posture (explicit broadcast_pool=True): 50-row pool broadcasts; labeled corpus scans once, widened to cluster parallelism (r14); votes + argmax are two map-side-combined aggregates"),
    ("similarity_knn_propagate", "propagation posture: labeled seeds broadcast as ONE array column; pool scans map-only; top-k + vote are array expressions — zero pool shuffle, no window"),
    ("q2_min_cost_supplier", "dim stack (part/nation/supplier) broadcasts; pairs aggregate is the one fact exchange; per-part min is a window over the same key (r14 — no self-join)"),
    ("q11_important_stock", "nation-scoped supplier broadcast below the per-part aggregate; the 1-row grand total broadcasts into the HAVING filter"),
    ("q12_late_shipment_priority", "single orders join feeds one CASE-sum aggregate; no window, map-side combine on linestatus"),
    ("q16_supplier_counts", "complaint suppliers anti-join is broadcast; distinct pairs shrink lineitem before the part join; countDistinct partial-aggregates"),
    ("q20_excess_suppliers", "part filter broadcasts below the ONE conditional qty aggregate (1998 sum rides the all-time sum, r14); final semi-join touches only 100 suppliers"),
    ("q21_suppliers_kept_waiting", "late set computed once and reused for semi+anti (same orderkey equi-key); supplier name join broadcasts"),
    ("q22_global_sales_opportunity", "1-row decimal avg broadcasts into the filter; NOT EXISTS is a left-anti on the recent-orders key set"),
    ("multimodal_image_phash", "pure map stage: Arrow-batched mapInPandas DCT per image, no shuffle at any corpus size"),
    ("corpus_domain_shift", "B-bounded per-source histograms PINNED once for all three consumers (r14); source×bucket grid is metadata-sized; only the one token scan touches data"),
    ("text_fix_mojibake", "one codegen projection: a literal-replace chain, no regex, no UDF, no shuffle"),
    ("text_html_extract", "crawl-page main-content extraction: regex chain + array HOFs in one codegen projection; one widen exchange re-splits the one-footer test scan"),
    ("warc_parse", "WARC roundtrip: two pure mapInPandas stages, per-blob record decode; one widen exchange re-splits the one-footer test scan"),
    ("multimodal_dedup_recall", "pHash banding recall harness: pinned all-pairs frame, one aggregate per variant"),
    ("pipeline_crawl_extract", "crawl pipeline end-to-end: two mapInPandas map stages + one codegen projection; one widen exchange re-splits the one-footer test scan"),
    ("text_langid", "script-gated 25-language ID: one Arrow scan stage + map-side-combined histogram, cost linear in text bytes"),
    ("corpus_url_blocklist", "URL blocklist: suffix explode + two broadcast joins, corpus never shuffles"),
    ("corpus_filter_attribution", "gopher rule attribution: one metric scan + 7-struct explode + map-side-combined aggregate"),
    ("corpus_c4_attribution", "c4 rule attribution: one flag scan + 4-struct explode + map-side-combined aggregate"),
    ("text_oov_rate", "explode + broadcast vocab join + one map-side-combined per-doc aggregate"),
    ("text_char_entropy", "map-only array expressions; alphabet-bounded per-row work, no explode, no shuffle"),
    ("join_bloom_prefilter", "broadcast bitset prefilter cuts the fact side BEFORE the semi-join shuffle; exact verify on survivors only"),
    ("corpus_domain_cap", "two-phase skew-safe cap: partial (partition-id, group) pre-trim window, then the exact per-group window over ≤ partitions×cap rows"),
    ("graph_triangles", "degree-ordered orientation bounds wedge fan-out to O(m^1.5); pinned edge/oriented frames run once across all four consumers"),
    ("dedup_lsh_recall", "evaluation harness on a FIXED sample slice: exact inverted-index pass + banding pass, three 1-row count aggregates"),
    ("fixedwidth_roundtrip", "render + positional parse are one codegen projection each; no shuffle, no UDF, try_cast keeps malformed rows as NULLs"),
    ("pdf_text_extract", "PDF roundtrip through the ISO 32000 parser: two pure mapInPandas stages (forge + parse); one widen exchange re-splits the one-footer test scan"),
    ("text_langid_eval", "langid accuracy harness: one Arrow scan scores the fixed labeled fixture; two label-cardinality aggregates full-outer-join"),
    ("code_quality", "The Stack per-file rules: ONE codegen projection (split + array HOFs + regex), no UDF; one widen exchange re-splits the one-footer test scan"),
    ("corpus_code_attribution", "code rule attribution: one widened signal scan + 5-struct explode + map-side-combined aggregate"),
    ("pipeline_pdf_extract", "pdf pipeline end-to-end: two mapInPandas stages + the per-doc reassembly exchange (shuffles extracted text, not PDF bytes) + the widen re-split"),
    ("docx_text_extract", "DOCX (ECMA-376) roundtrip: two pure mapInPandas stages (zip forge + zip inflate/XML scan); one widen exchange re-splits the one-footer test scan"),
    ("ipynb_cells_extract", "notebook cell flatten: two pure mapInPandas stages (nbformat forge + JSON parse); one widen exchange re-splits the one-footer test scan"),
    ("text_markdown_extract", "markdown → prose: ONE codegen regexp_replace chain, no UDF; one widen exchange re-splits the one-footer test scan"),
    ("pipeline_multiformat_extract", "ONE fused forge+parse map stage for all three containers (r14); conditional html_extract projection; one per-doc aggregate exchange + the widen re-split"),
    ("text_lm_backoff", "Stupid-Backoff trigram LM: the pinned trigram table feeds four marginal sums + the scoring joins (2 scans, was 7 unpinned); vocabulary-shaped count tables — the distributed-LM shape"),
    ("corpus_autoextract", "magic-byte sniff + per-kind extraction in one Arrow map stage; widen re-split is the only exchange"),
    ("graph_label_propagation", "synchronous LPA: per round one edge-labels hash join + map-side-combined count + per-node argmax; eager localCheckpoint bounds lineage"),
    ("corpus_pack_boundaries", "pack prefix sum + constant-fanout sequence explode + one per-sequence aggregate; never a whole-corpus window"),
    ("corpus_archive_extract", "bundle forge + member expansion are pure map stages (one task per archive); only the widen re-split exchanges"),
    ("text_bpe_byte", "pre-token histogram is the only distributed pass (map-side combine); merge loop driver-side; apply joins rank-dict tokens back on the word key"),
    ("corpus_pack_bpe", "tokenizer-true counts stay pure codegen inside the same keyed prefix-sum shape as corpus_pack — no UDF, no extra exchange"),
    ("pipeline_pdf_route", "forge + parse are pure map stages; routing is one map-side-combined per-source aggregate"),
    ("text_quality_lr_train", "per-iteration sufficient-statistics aggregate over the checkpointed feature frame; driver traffic is feature-dim-bounded"),
    ("pipeline_quality_lr_filter", "learned weights applied as a pure codegen scan projection — no UDF, no model server"),
    ("text_bpe_encode", "documents encode through one Arrow map (per-batch pre-token memo), order kept by construction; the one exchange is the fan-out re-split"),
    ("pipeline_pdf_images", "forge → image walk → PNG re-container → perceptual hash fused into ONE Arrow map stage (r14) above the widen re-split"),
    ("corpus_pack_nosplit", "per-bucket sequential next-fit over (id, count) pairs; global ids via the tiny per-bucket prefix broadcast"),
    ("corpus_webdataset_roundtrip", "shard write is one applyInPandas task per shard above the keyed prefix sum (one prefix window over per-bucket subtotals); read-back is a pure map stage"),
    ("pipeline_pdf_ocr", "forge → image walk → PNG → stub transcription fused into ONE Arrow map stage (r14); the recognition model is the only stubbed step"),
    ("layout_compact_roundtrip", "metadata-only sizing; the rewrite is one repartition + write; read-back scans ONE compacted file"),
    ("corpus_pack_materialize", "docs explode to array SLICES per overlapped sequence (constant fan-out) above the keyed prefix sum (one prefix window over per-bucket subtotals, no pinned subtotals); one per-sequence aggregate"),
    ("corpus_version_diff", "both snapshots reduce to (id, md5) before the full-outer join — text never shuffles"),
    ("corpus_datacard", "one map-side-combined aggregate + the tiny digest aggregate; output is a single stats row"),
    ("epub_text_extract", "forge + OCF spine resolution are pure map stages above the widen re-split"),
    ("mail_mbox_extract", "forge + RFC 4155/5322 parse are pure map stages above the widen re-split"),
    ("subtitles_extract", "forge + SRT/VTT cue parse are pure map stages above the widen re-split"),
    ("pipeline_audio_asr", "WAV forge + real decode + stub transcription: pure map stages; only the recognition model is stubbed"),
    ("wiki_dump_extract", "forge + iterparse page walk (bz2/gzip peel rotated) are pure map stages above the widen re-split"),
    ("text_wikitext_extract", "ONE codegen projection — the WIKITEXT_RULES regexp_replace fold runs inside the scan"),
    ("stackexchange_posts_extract", "forge + attribute-row iterparse (bz2/gzip peel rotated) are pure map stages above the widen re-split"),
    ("text_latex_extract", "ONE codegen projection — the LATEX_RULES regexp_replace fold runs inside the scan"),
    ("wet_text_extract", "WET forge + conversion-record parse are pure map stages above the widen re-split"),
    ("wat_metadata_extract", "WAT forge + metadata parse map stages; JSON mining is JVM get_json_object inside the projection"),
    ("rtf_text_extract", "forge + destination-aware state machine are pure map stages above the widen re-split"),
    ("text_fasttext_quality", "per-iteration gradient collapses map-side to ≤dim rows before its exchange; scoring is a pure codegen projection"),
    ("text_pii_extended", "ONE codegen projection chain — regex replaces + the sequence/aggregate Luhn fold run inside the scan"),
    ("pipeline_corpus_release", "scrub + gate signals are one codegen projection; dedup is ONE hash exchange (window min-id); the dup-plant self-join broadcasts"),
    ("text_hash_embedding", "codegen hash indices + ONE Arrow bincount stage (HOF chains run interpreted and blow up on subexpression reuse), zero exchanges beyond the widen"),
    ("kqltext_q1", "parsed KQL compiles to the same plan hand-built DataFrames give: partial agg before ONE exchange, filter pushed to the scan"),
    ("kqltext_dynamic", "variant path access + aggregate from parsed text: Catalyst sees the full plan, filter pushes, one exchange"),
    ("pipeline_pdf_decrypt", "RC4 key derivation + per-object decrypt are per-blob arithmetic: pure map stages, zero exchanges"),
    ("code_license_gate", "gate is a codegen filter; attribution + survivor counts are two tiny aggregates + one broadcast join"),
    ("kqltext_plugins", "parsed ipv4_lookup + lookup both broadcast: the fact side shuffles only at the final aggregate"),
    ("multimodal_image_dhash_webp", "VP8L decode + dHash are one Arrow map stage — no shuffle at any corpus size"),
    ("text_bpe_interchange", "exported/imported tokenizer encodes via one Arrow map; decode-roundtrip column rides the same stage"),
    ("text_fix_encoding", "mojibake forge + repair are one Arrow map stage — zero exchanges"),
    ("kqltext_parse_kv", "per-key regexp_extracts fold into one codegen projection before the aggregate; the exchanges are the round-robin repartition, the aggregate and the final sort"),
    ("kqltext_top_nested", "each level aggregates map-side; rank windows run over the tiny PINNED aggregate (r14 — one fact pass), joined by broadcast"),
    ("multimodal_webp_dhash", "ANMF compositing + per-frame dHash are one Arrow map stage"),
    ("corpus_robots_gate", "rule table broadcasts; verdict is `max_by(allow, struct(specificity, allow))` over matched rows (map-side partial), rejoined by a plain url-keyed join — the verdict frame is corpus-derived so it is never broadcast; only matched rows + the rejoin shuffle"),
    ("kqltext_fork_python", "the materialized python-stage source fills ONE InMemoryTableScan both fork branches read; each branch is one map-side-combined aggregate over the cached frame"),
    ("kqltext_facet", "one map-side-combined aggregate per facet column over the materialized source, unioned; the with-branch is a third partial aggregate"),
    ("kqltext_top_hitters", "one map-side-combined aggregate + TakeOrderedAndProject — never a full sort"),
    ("kqltext_scan_steps", "sequential-by-contract: ONE constant-keyed applyInPandas task walks the serialized rows (Kusto scan semantics; bound the input or key via scan_steps(by=)); no SinglePartition exchange, no window over unbounded data"),
    ("kqltext_plugins2", "contribute-to-trailing-bins explode (constant 3x blowup) feeds map-side-combined per-day aggregates; axis and the day-keyed plugin join are broadcast-tiny (<= #days rows)"),
    ("kqltext_scan", "global scan as a two-phase distributed prefix sum: ONE range exchange over data (repartitioned + windowed frames pinned — plan text repeats the cached child, the cache fills once); SinglePartition only above the #partitions-row subtotal aggregate; segment rebase joins on the segment id"),
    ("kqltext_partition", "bounded-key contract: one cached scan, one filtered branch per key, plan-level union — no per-key shuffle"),
    ("kqltext_find", "per-table term predicate sits on each scan; the union is plan-level only — zero exchanges"),
    ("kqltext_lambda", "lambda bodies re-parse into ONE plan: the where lands on the scan (DataFilters), the scalar lambda folds into the projection; the single exchange is the final sort"),
    ("corpus_fim", "deterministic gate/arm/cuts + substr splits in one codegen projection — zero exchanges"),
    ("corpus_sft_render", "template render + loss-span fold are higher-order functions in one projection — zero exchanges"),
    ("corpus_dpo_render", "both preference renderings + spans in one codegen projection — zero exchanges"),
    ("corpus_sft_tokenize", "both segments encode through ONE Arrow projection (no joins); the only exchanges are train_bpe's merge-table aggregates"),
    ("corpus_sft_conversation", "segment pretokenization is codegen inside one array transform; the 9-segment encode is ONE Arrow projection (masks by construction) — zero joins above the widen re-split; merges train via the shared sampled-aggregate path"),
    ("kqltext_bag_narrow", "bag_unpack is one codegen'd from_json; narrow unpivots the TINY aggregate, never the fact stream"),
    ("kqltext_series_fromto", "bin_at bucketing map-side combines; the [from,to) axis is a literal-sized broadcast side"),
    ("text_url_canonicalize", "forge + canonicalization are one codegen scan projection — zero exchanges"),
]


def audit(plan: str) -> dict:
    # Pinned (persisted) frames print their whole InMemoryRelation
    # subtree once PER CONSUMER, so raw textual counts overstate a
    # multi-consumer plan by the consumer count even though execution
    # hits the cache once. Distinct physical operators always print
    # distinct lines (unique expression IDs), so deduplicating identical
    # lines — after stripping the position-dependent tree-drawing prefix
    # — collapses exactly the repeated cached subtrees and nothing else;
    # the counts then reflect what actually RUNS (measured on
    # graph_triangles: 62 textual exchanges / 80 scans → 15 / 4 real).
    plan = "\n".join(
        dict.fromkeys(
            re.sub(r"^[\s:+\-*]*", "", l) for l in plan.split("\n")
        )
    )
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "partial_agg": bool(re.search(r"partial_(sum|count|min|max|first)", plan)),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "scans": len(re.findall(r"Scan parquet", plan)),
    }


def main() -> None:
    spark = get_session(app_name="kpf-plan-audit")
    queries = entry_mod.queries()
    lines = [
        "# PLANS — executed-plan audit of the flagship queries",
        "",
        f"Generated by `tools/plan_audit.py` against `{SF_DIR}` "
        "(re-run it after any plan-shaping change; numbers are from "
        "`queryExecution().executedPlan()` before AQE's runtime re-plan).",
        "",
        "| query | claim | exchanges | broadcast joins | sort-merge joins | map-side partial agg | pushed filters | parquet scans |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, claim in AUDITED:
        df = queries[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit(plan)
        lines.append(
            f"| `{name}` | {claim} | {a['exchanges']} | {a['broadcast_joins']} | "
            f"{a['sortmerge_joins']} | {'yes' if a['partial_agg'] else '—'} | "
            f"{'yes' if a['pushed_filters'] else 'no'} | {a['scans']} |"
        )
        print(f"# {name}: {a}", file=sys.stderr)
    lines += [
        "",
        "Reading guide: `exchanges` counts shuffle boundaries (each is a "
        "full network pass at scale — fewer is better, zero means map-only); "
        "`broadcast joins` must cover every small-dimension join (a "
        "sort-merge join against a 25-row dimension table would shuffle the "
        "fact side — the only sort-merge join in the audited set is "
        "kql_graph_match's fact-fact edge build, where it is the correct "
        "plan); `map-side partial agg` reports whether "
        "aggregations combine before their exchange (partial_sum/count in "
        "the plan); `pushed filters` reports whether the parquet scan "
        "received pushdown predicates (queries that scan the whole table by "
        "design have nothing to push). Multi-exchange rows (shard_assign, "
        "dedup_minhash) are the documented multi-stage pipelines whose "
        "exchange placement is hand-audited in their operator docstrings — "
        "the count here guards against regressions adding MORE.",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
