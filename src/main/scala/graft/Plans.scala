package graft

import java.nio.file.{Files, Paths}

/** Physical-plan audit: dumps `explain(formatted)` for the headline queries
  * plus the properties each plan must keep at scale. Regenerate PLANS.md
  * with `sbt "runMain graft.Plans"` after touching an operator.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    // the production session: the claims below are about 100 TB. The
    // result-order checkpoint is off so each dump shows the producing plan,
    // not the RDD scan the checkpoint leaves in front of the final sort.
    val spark = GraftSession.builder("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.resultOrderCheckpoint", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"

    // (key, what the plan must show at 100 TB)
    val audited = Seq(
      "q_last_value" -> "TakeOrderedAndProject (per-partition top-1 heap), metric filter pushed to scan — never a global sort",
      "q_latest_per_group" -> "partial (map-side) aggregation via max_by (SortAggregate: the string payload in the argmax buffer is not hash-compatible) — no ranking-window sort over the full table",
      "q_bucket_agg" -> "partial+final HashAggregate on (window, metric); scan reads only ts,event_type,value",
      "q_scan_filter" -> "PushedFilters with the metric equality; pruned ReadSchema",
      "q_alarm_feed" -> "1-row CTE side broadcast (BroadcastNestedLoopJoin); top-50 via TakeOrderedAndProject",
      "q_enrich_join" -> "BroadcastHashJoin with the dim side broadcast — fact side never shuffles",
      "q_deviation_trend" -> "single window sort per (user,metric) partition; both window functions share one Window node",
      "q_sim_topk" -> "broadcast 1-row query vector; TakeOrderedAndProject for top-k",
      "q_sessionize" -> "one shuffle on user_id; sessions merged inside the aggregate",
      "q_dedup_minhash" -> "in-row native word_shingle_hashes/minhash_sig projection (no pre-band shuffle or aggregation); size-gated fanOut rebalance spreads the signature compute when the scan is row-group-bound; candidate pairs via the (band, bandHash) equi-join — bucket keys partition the corpus, never an all-pairs join",
      "q_dedup_simhash" -> "in-row native simhash_sig projection behind a size-gated fanOut rebalance; hamming filter runs inside the band equi-join (signature carried on both join sides — no second lookup join)",
      "q_dedup_ngram" -> "inverted-index join on df-capped grams; intersection counted by the same aggregate that groups pairs — no separate verify pass",
      "q_dedup_embed" -> "one shuffle on the (label, sign sub-bucket) blocking key, block-local quadratic loop in flatMapGroups — never all-pairs across blocks",
      "q_dedup_incremental" -> "asymmetric banding: probe bands join base bands on (band, bandHash) — candidate volume |probe∩bucket|·|base∩bucket|, never a bucket square or corpus cross join; one checkpointed signature table feeds bands + both verification lookups; best-match rank-1 runs as WindowGroupLimit on a corpus-cardinality key (probe doc_id)",
      "q_source_overlap" -> "in-row native shingle sets, ONE corpus-stream exchange keyed on shingle hash; set sizes and pair intersections from the SAME ≤S²-row marker/pair aggregate (the dedupNgram generator trick); corpus never self-joined. Per-h set representation is size-gated: fixture scale shows the probe-free collect_set arm, past the gate ≤64 sources aggregate as one codegen bit_or bitmask (8-byte shuffle payload, −37% at 30×)",
      "q_embed_quantize" -> "two jobs by construction: per-dim min/max combine (≤ dim rows/partition to the wire, dim rows to the driver), then the quantizer folded back as LITERAL arrays — a (dim)-keyed join here would shuffle the exploded corpus on a 64-value key; codes/errors exact BIGINT into the same ≤ dim-row combine",
      "q_dedup_clusters" -> "edges enter as a materialized (localCheckpoint) scan — the CC rounds ran as shrinking hash-aggregate+join stages, no GraphX vertex programs; final plan is the linear cluster table join",
      "q_sim_topk_lsh" -> "codegen'd sign-bucket projection (no UDF); broadcast 9-probe ring joined on bucket — candidate volume N×probes/2^planes, full scan replaced by the bucket equi-join",
      "q_sim_topk_ivf" -> "decimal-sum centroid aggregate (order-independent, partial agg); broadcast nProbe probed labels; exact rescoring via the native cosine expression + TakeOrderedAndProject",
      "q_fingerprint" -> "projection is a single scan with no aggregation Exchange; the only Exchange is the trailing presentational sort required by the oracle output contract (droppable at scale)",
      "q_pii_redact" -> "regex scrub + counts as one codegen'd projection — no UDF, no aggregation, no hash exchange; pipelines with the scan at any scale",
      "q_repetition" -> "native in-row term_freq_stats projection (per-doc property — no count crosses a document boundary): scan + projection, zero token-stream shuffle, no Generate, no aggregate",
      "q_chunk_docs" -> "posexplode(sequence) is a pipelined Generate: chunk fan-out bounded by doc length, no shuffle, no UDF — the md5 digests run inside codegen",
      "q_source_mix" -> "partial+final HashAggregate on (source, lang) below a broadcast 1-row scalar total — never an unpartitioned window over the cells",
      "q_asof_join" -> "tagged-union window carry: ZERO join nodes (a range-join formulation plans BroadcastNestedLoopJoin and buffers per key), one hash exchange on user_id, linear per-timeline window scan",
      "q_gapfill_locf" -> "dense spine via Generate over per-metric bounds (bounded by range/grain, never corpus size); observed buckets left-join the spine; locf is one window carry per metric — no cross join, no raw-event re-scan past the first aggregation",
      "q_gapfill_interp" -> "same spine; backward + forward ignoreNulls carries bracket each gap over ONE sorted (metric) partitioning; linear blend arithmetic identical to the oracle's IEEE op sequence",
      "q_counter_rate" -> "one shuffle on metric for the lag window, then the standard partial+final bucket aggregate — q_bucket_agg's shape with a window in front; reset detection is a per-row CASE, no extra pass",
      "q_time_weight" -> "window partitioned on the SAME (metric, bucket) key the aggregate groups by — Catalyst reuses one exchange for both; weights are per-row lead arithmetic, no second pass",
      "q_histogram" -> "value counting: one corpus scan collapses to the checkpointed per-(metric, cent) count table (map-side combine, distinct-value wire volume); bounds and binning both read it, bounds broadcast back as a per-metric handful of rows",
      "q_percentiles" -> "ONE scan and one (metric)-window sort for ALL percentile targets: the per-mille targets explode in-row (Generate) and a rank-equality filter selects them — never a union of per-percentile re-scans",
      "q_spc_rules" -> "per-metric stats broadcast back (tiny aggregate, no corpus shuffle for the join); run detection is rank arithmetic over (metric[, side, island]) ordered windows — the alarm-engine window shape",
      "q_top_terms" -> "per-doc term frequencies in-row via native term_counts — the single term-level aggregate's map-side partials reduce each partition to <= vocabulary rows before the one exchange; top-20 via TakeOrderedAndProject, never a global sort",
      "q_tfidf" -> "tf and doc length are per-document properties computed in-row (term_counts + size(split)); the vocabulary df aggregate broadcasts back; the ONLY corpus-scale exchange is the per-doc top-3 window's hashpartitioning(doc_id), rank-limit-capped by WindowGroupLimit on BOTH sides of it",
      "q_sim_topk_ivf_trained" -> "serving is ONE scan: in-row nearest_centroid assignment against the literal trained-centroid matrix, probe filter drops (1 - nProbe/k) of the corpus before the broadcast-query cosine rescore, top-k via TakeOrderedAndProject — zero hash exchanges",
      "q_cluster_stats" -> "evaluate leg of the k-means arc: in-row nearest_centroid assignment + squared_l2 distance against the same literal matrix, then a k-row partial+final aggregate — zero corpus shuffle, no joins",
      "q_dedup_rate_by_source" -> "two-level (source, digest) -> source aggregation — the distinct count never plans a count-distinct Expand; both exchanges carry map-side-combined digest-level rows, uniform 128-bit keys",
      "q_pack_sequences" -> "two-phase global prefix sum: corpus cumsum windows partition by the coarse doc-id bucket; only the bucket-cardinality offset table (N/4096 rows) crosses one task and broadcasts back — never a single-partition window over the corpus",
      "q_contam_coverage" -> "per-doc gram sets in-row (native ngram_hashes — gram cardinality is size(), no corpus distinct); MB-scale eval grams broadcast into the shared-gram join; one doc_id aggregate + one broadcast left join back",
      "q_dedup_semantic" -> "zero-shuffle in-row nearest_centroid assignment against the literal trained-centroid matrix; ONE cluster-key exchange into flatMapGroups; pairwise scoring strictly cluster-local (k bounds the block) — never an all-pairs join",
      "q_downsample_ohlc" -> "candlestick extrema via flat-buffer argmax (ArgMaxKey) partial+final HASH aggregation around ONE (metric, bucket) exchange — no window, no per-bucket sort, no SortAggregate (max_by's struct buffer was one); the corpus crosses the wire as one candle per (bucket, partition)",
      "q_downsample_lttb" -> "two corpus aggregates (bucket averages; per-bucket area argmax via partial arg_max_key, hash-based — max_by's struct buffer forced a SortAggregate pair) with the tiny anchor table broadcast back — the sequential prev-selection recurrence of classic LTTB is gone, nothing funnels into a per-metric single task",
      "q_sim_topk_batch" -> "broadcast query set (BroadcastNestedLoopJoin of a literal handful of rows); per-query rank window capped by WindowGroupLimit on BOTH sides of the qid exchange — shuffle volume k·queries·partitions, never the scored corpus",
      "q_sim_topk_pq" -> "compressed-domain serving is ONE scan with ZERO exchanges: eight in-row nearest_centroid sub-assignments against literal codebooks, ADC distance as eight lookups into a folded 8×16 literal table, top-k via TakeOrderedAndProject",
      "q_pq_stats" -> "PQ distortion diagnostics: each sub-assignment PROJECTED once (Generate inputs get no subexpression elimination) + native squared_l2, then one SubM·PqK-row partial+final aggregate — the exploded stream NEVER crosses an exchange (map-side partials bound every partition at SubM·PqK rows; the old pre-aggregate SinglePartition fuse was exactly that full-stream exchange, removed round 12); size-gated fanOut spreads the single-split fixture scan",
      "q_pq_train" -> "the offline PQ codebook build as a first-class artifact: per Lloyd iteration ONE distributed job (in-row assignment against all eight literal codebooks, map-side-combined (sub, cluster, d) partial sums — wire volume <= SubM·PqK·SubDim rows per partition); the result DataFrame is 1024 rows of driver metadata",
      "q_top_bigrams" -> "in-row adjacent-pair extraction (codegen transform/sequence, no UDF); the single aggregate's map-side partials bound each partition at the bigram vocabulary; top-k via TakeOrderedAndProject",
      "q_lm_score" -> "corpus-frequency scoring: the vocabulary-bounded bigram count table broadcasts back onto the in-row pair stream (size-gated — degrades to a shuffle join past the bound); two corpus exchanges total",
      "q_uptime" -> "heartbeat liveness, size-gated like counter-rate: below the bound one metric-key exchange serves lead window and aggregate; past it the window partitions on bounded (metric, day) keys with the next-present-day carry broadcast back — the <=46-way per-metric corpus sort never happens at scale",
      "q_funnel" -> "ONE corpus scan (pushed stage-set IN filter), one user_id exchange, per-user in-row sorted fold (aggregate over collect_list) computing the strict-order stage chain; stage counts are a single global aggregate — no joins, no per-stage re-scan",
      "q_retention_cohorts" -> "first-seen table broadcast back; (cohort, week, user) dedup is a distinct that map-side combines — never a count-distinct Expand; the retention matrix aggregate is weeks×cohorts-sized",
      "q_dedup_substring" -> "verbatim-span dedup with NO corpus self-join and no suffix sort: in-row positional word_window_hashes fingerprints, ONE fingerprint-keyed exchange for the frameless keeper window, then the (small) cut stream's doc_id exchange shared by the island window and the span aggregate via subset-key clustering",
      "q_bpe_train" -> "one corpus exchange builds the word-frequency table; every merge iteration runs on the vocabulary-scale checkpointed table (pair-count partial+final aggregate + a 1-row TakeOrderedAndProject argmax collect); merges apply as literal replace() projections — the corpus is never touched after the vocab build",
      "q_url_dedup" -> "in-row URL derivation + canonicalization (pure codegen string ops, zero shuffle), then ONE map-side-combined exchange on the canonical url for the keep-first aggregate — no joins at any scale",
      "q_domain_mix" -> "corpus scanned twice but never exchanged raw: totals branch is a map-side-combined domain aggregate; the cap branch's rank-filter plans as WindowGroupLimit on BOTH sides of its exchange (<= cap rows per domain per map task), so the low-cardinality domain key never funnels the corpus; domain-level join broadcasts",
      "q_dedup_apply" -> "the capstone composes five prune lists onto the corpus spine by ONE shared doc_id hash key: every list side is a removed-docs-cardinality frame (size-gate broadcast at fixture scale; co-partitioned AQE shuffle joins past it); exact/URL keeper groups aggregate with map-side combine — never a window over the group key; the corpus is never self-joined",
      "q_dedup_ledger" -> "one localCheckpointed composition feeds all three consumers (per-stage removal counts, substring cut mass, corpus totals); the stage frame is a literal 5-row table, so the running-remainder window orders 5 metadata rows — the corpus never crosses an unpartitioned window",
      "q_bpe_apply" -> "the trained merge table folds in as driver-literal replace() projections (the training chain's own audited plans produce it); tokenization is ONE corpus scan with zero data-dependent exchanges — per-doc counts are in-row arithmetic over the encoded string, the only exchange is the presentation sort",
      "q_sim_topk_ivfpq" -> "composed IVFADC serving is ONE scan: in-row nearest_centroid coarse assignment against the literal trained quantizer, probe isin filter drops (1 - probes/k) of the corpus BEFORE the eight sub-assignments, ADC ranks through a driver-literal LUT, top-k via TakeOrderedAndProject — zero data-dependent exchanges",
      "q_sim_topk_pq_rr" -> "the re-rank tail adds NO second corpus scan: the ADC shortlist is the same one-scan TakeOrderedAndProject (now keeping C=512 rows, raw embedding carried beside the codes), the exact-cosine re-rank is a broadcast of the 1-row query over C metadata rows, and the final top-k is a second C-row TakeOrderedAndProject",
      "q_sim_recall" -> "the multi-query audit adds only metadata work on top of the batched arms it scores: every arm's per-qid top-k (and each probe selection and the exact baseline) plans as a WindowGroupLimit-capped rank window (map-side cap at k rows per query per partition — the windowed generalization of TakeOrderedAndProject), the exact batch membership joins as a broadcast of <= NQ*k rows (never a shuffle of candidates), the hit count is a <= arms*NQ*k-row aggregate, and the 7-row presentation joins/sort stay broadcast + single reducer",
      "q_multimodal_dedup" -> "decode/feature/key stage is partition-local (MapPartitions pipelines with the scan — the expensive decode runs where the bytes are); then ONE map-side-combined exchange keyed by the 56-bit perceptual key with the min-doc_id keeper in the same aggregate — no window, no join, a viral key cannot funnel a task"
    )

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of headline queries\n\n")
    sb.append("Generated by `graft.Plans` at sf0.001 (plan shape is scale-independent)\n")
    sb.append("on the production session (`GraftSession.builder`): AQE is on, so each\n")
    sb.append("plan is the initial adaptive plan that runtime re-planning starts from.\n")
    sb.append("The result-order checkpoint is off, so each plan shows the operators that\n")
    sb.append("produce the result rather than a checkpoint scan.\n")
    sb.append("Each section states the property the plan must keep at 100 TB, then the\n")
    sb.append("`explain(formatted)` output demonstrating it.\n")
    audited.foreach { case (key, claim) =>
      val df = SparkEntry.queries(key)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $key\n\n**Must hold at scale:** $claim\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
