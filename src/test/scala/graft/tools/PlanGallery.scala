// Regenerate PLANS.md: sbt "Test/runMain graft.tools.PlanGallery [sfDir] [outFile]"
package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Writes a curated "plan gallery" — the formatted physical plan of each
  * headline query with a note on WHY that shape survives a 100× scale-up.
  * The shapes themselves are enforced by specs (PlanGuardSpec,
  * ScaleSmokeSpec, per-operator suites); this artifact makes them
  * reviewable without running Spark.
  */
object PlanGallery {

  /** (query, what to look for in the plan). */
  private val entries: Seq[(String, String)] = Seq(
    "knn_topk" -> ("Flagship cosine top-k. `TakeOrderedAndProject` keeps k rows " +
      "per partition and merges — no global sort; the codegen'd distance sits " +
      "inside one WholeStageCodegen span over the scan."),
    "bq_knn_topk" -> ("Two-stage binary-quantized kNN. Stage 1 ranks XOR+popcount " +
      "Hamming over packed sign bits (TakeOrderedAndProject again); stage 2 " +
      "reranks only the 50 candidates with exact cosine via an equi-join back " +
      "to the base table. No float math ever touches the full relation."),
    "knn_batch" -> ("Many queries at once: broadcast the query side, then the " +
      "bounded-heap `top_k_by_distance` aggregate — partial heaps map-side, " +
      "merged per query. No per-query window funnel; shuffle carries " +
      "≤ k·|partitions| rows per query."),
    "dedup_ngram_capped" -> ("Inverted-index Jaccard with a document-frequency cap. " +
      "One posting-list build (grouped on the 8-byte md5-hashed shingle), pair " +
      "expansion through the codegen'd `sorted_pair_keys`, per-pair counts on a " +
      "packed 8-byte key. The df-cap bounds every posting list, so no hot " +
      "shingle can expand O(df²) pairs."),
    "dedup_embedding" -> ("Embedding near-dup WITHOUT the all-pairs cross join: " +
      "IVF-list candidates under a triangle-inequality expansion (broadcast of " +
      "|lists| centroids), then exact-cosine verification of candidates only. " +
      "No CartesianProduct node anywhere."),
    "q5_nation_revenue" -> ("Classic star join: every dimension side is a " +
      "BroadcastHashJoin (no shuffle of the fact table for joins), one " +
      "partial+final aggregate on the group key, decimal-exact sums."),
    "top_suppliers" -> ("Fact scan reads 3 of 16 lineitem columns (ReadSchema), " +
      "both dims broadcast, top-10 is TakeOrderedAndProject."),
    "events_sessions" -> ("Gap-window sessionization: lag + running-sum windows " +
      "over one shuffle on user_id. Window groups are per-user — bounded — " +
      "not a single global reducer."),
    "events_asof_join" -> ("AS-OF join as union + ONE window over (key, ts): no " +
      "join node at all, so there is no row-multiplying range join to skew. " +
      "The plan is a single sort-within-partition per key group."),
    "corpus_sample" -> ("Deterministic hash sample: the md5-bucket predicate is " +
      "one codegen'd row-local filter — no shuffle, no RNG state, same sample " +
      "on any engine/partitioning."),
    "corpus_shuffle" -> ("Reproducible global training order: ONE distributed " +
      "range sort on the salted 60-bit hash key (sampled range partitioning — " +
      "no single reducer), then contiguous positions via zipWithIndex's " +
      "per-partition offsets. No global row_number window anywhere."),
    "q6_forecast_revenue" -> ("Pushdown showcase: every predicate (date range, " +
      "discount band, quantity cap) appears in PushedFilters, so row groups " +
      "are skipped on parquet min/max stats; the rest is one partial+final " +
      "aggregate with a decimal-exact product sum."),
    "range_search" -> ("Radius query: one scan, one codegen'd distance+filter " +
      "per row — embarrassingly parallel; the only shuffle is the output " +
      "determinism sort."),
    "bm25_topk" -> ("Lexical retrieval over the posting-list sidecar: the " +
      "postings scan shows a `bucket` partition filter (≤ |query terms| of " +
      "32 directories read) plus a pushed token filter; df broadcasts; the " +
      "corpus itself is never scanned at query time."),
    "embedding_outliers" -> ("Centroid z-score sweep: one vector_avg " +
      "aggregate (|labels| array buffers), centroids and per-label stats " +
      "both re-broadcast — two BroadcastHashJoins, no windows, no " +
      "self-joins."),
    "lm_score" -> ("Unigram-LM scoring: the vocab agg doubles as the model " +
      "(broadcast to the tf join); per-term decimal rounding makes the " +
      "per-doc sum order-independent, so the plan is two hash aggs + one " +
      "broadcast join — no sort anywhere but the output determinism one."),
    "repetition_signals" -> ("Gopher repetition ratios via shifted-slice " +
      "n-grams: each order reuses ONE tokens array with slice+zip (no " +
      "per-doc O(n²) explode), all ratios fold per document; a row " +
      "repartition ahead of the gram stages spreads the per-doc CPU, and " +
      "the remaining exchanges are the per-doc gram aggregations."),
    "doc_chunks" -> ("Fixed-window chunking: sequence() over token offsets " +
      "posexplodes to chunk rows — row-local, shuffle-free; chunk count " +
      "scales with corpus size, not with a reducer's memory."),
    "filtered_knn" -> ("pgvector 0.8.1 iterative filtered scan, made EXACT: " +
      "probes expand until the covering-radius bound proves no unseen list " +
      "can beat the kth distance. Each round scans only the probed list " +
      "partitions (PushedFilters on list_id) — never the full index."),
    "hnsw_knn_exact" -> ("Shard-covering beam over the NSW graph sidecar: " +
      "per-shard beams run in parallel partitions, merge with " +
      "TakeOrderedAndProject; beam width = shard rows makes it exact " +
      "(the oracle twin), narrower beams trade recall for latency."),
    "dedup_clean_clusters" -> ("The full production dedup pass: banded " +
      "MinHash candidates (never all-pairs), exact-Jaccard verification on " +
      "hashed shingles, star connected components (O(log n) supersteps, " +
      "driver-side union-find under the small-graph threshold), " +
      "keep-representative anti-join. Every stage is a hash agg or " +
      "equi-join — no window over the corpus."),
    "video_features" -> ("Multimodal decode plumbing: GIF payloads decode " +
      "in batched mapPartitions (external-codec work stays off the " +
      "expression path); a row repartition ahead of the codec stage makes " +
      "decode parallelism come from rows, not input splits."),
    "dedup_spans" -> ("ExactSubstr-style passage dedup: stride-1 hashed " +
      "windows from a row-repartitioned explode, duplicate flagging as a " +
      "count window over the 8-byte hash (ONE pass over the windows, one " +
      "shuffle), island merge in a per-document window — frames bounded by " +
      "document length, never corpus size."),
    "dsir_weights" -> ("DSIR importance weights: two 128-group hash aggs " +
      "(map-side combined to nothing), a broadcast of the 128-row λ table " +
      "into the per-doc bucket counts, exact DECIMAL sums. No corpus-sized " +
      "shuffle at any stage."),
    "sequence_packing" -> ("Concat-and-slice packing layout: a per-row " +
      "token count (no explode), one shuffle into 32 hash shards, and a " +
      "cumulative-sum window WITHIN each shard — window partitions stay " +
      "corpus/shards-sized, so the packer scales by raising the shard " +
      "count with the cluster; all derived columns are integer arithmetic."),
    "vocab_coverage" -> ("Tokenizer-budget curve: ONE token-count hash " +
      "agg, a TakeOrderedAndProject top-N cut, a broadcast 1-row total, " +
      "and the rank/cumulative window over <=N post-limit rows — bounded, " +
      "never corpus-sized."),
    "bpe_pair_counts" -> ("BPE merge statistics: corpus-sized work is ONE " +
      "token-count hash agg; the char-pair explode runs over the distinct " +
      "VOCAB weighted by count (the classic BPE trick), and the top-k " +
      "compiles to TakeOrderedAndProject."),
    "kmeans_assign" -> ("Lloyd assignment as a MAP: the K centroids " +
      "collapse to ONE broadcast row holding an array of (cid, vector) " +
      "structs and the per-row argmin is array_min over a transform — no " +
      "corpus-sized shuffle or window in either round; the only " +
      "aggregation is the K-group vector_avg centroid update."),
    "cluster_sample" -> ("Cluster-balanced sampling on top of the Lloyd " +
      "pipeline: the per-cluster pick is the bounded-heap " +
      "top_k_by_distance aggregate over a salted hash — map-side N-heaps " +
      "per cluster × partition, never a row_number window funnelling " +
      "corpus/K rows through one reducer."),
    "embedding_covariance" -> ("Single-pass covariance: the single-buffer " +
      "cov_moment_sums TypedImperativeAggregate holds ALL d(d+1)/2 + d " +
      "exact DECIMAL partials in one map-side buffer (d learned from the " +
      "data — no explode rows at any dimensionality) — the shuffle " +
      "carries ONE buffer per partition regardless of " +
      "corpus size; the bounded moment relation collects and the 6dp cov " +
      "cells derive driver-side (O(d²), the eigensolve's scale class), so " +
      "means cost no second corpus scan. That corpus pass runs EAGERLY " +
      "when the frame is built, so the plan below is only the d²-row " +
      "driver-local result relation — the distributed shape is the " +
      "moments agg described above (spec-pinned in " +
      "SimilarityQueriesSpec/PlanGuardSpec, not visible here)."),
    "pca_project" -> ("Spectral projection: ONE corpus pass (the fused " +
      "covariance+moments agg — runs eagerly at build, like " +
      "embedding_covariance, so it is not in the plan below), " +
      "sidecar-sized collect, power-iteration matvecs in exact decimal " +
      "on the driver, and the d-float eigenvector returns as a LITERAL " +
      "— so the per-row score below is one codegen'd inner_product " +
      "inside the scan's WholeStageCodegen span, shuffle-free."),
    "heavy_hitters" -> ("Sketch-then-verify top-k tokens: per-partition " +
      "Misra-Gries summaries emit ≤ capacity candidate rows each " +
      "(mapPartitions — genuinely imperative per-partition state), the " +
      "candidate set broadcasts into a left-semi join, and the exact " +
      "recount aggregates only candidate groups. The full token→count " +
      "shuffle never happens on the guarded path."),
    "bigram_novelty" -> ("Boilerplate-familiarity scoring: one " +
      "document-frequency hash agg over distinct per-doc bigrams " +
      "(codegen'd shingles), the df-thresholded frequent set broadcasts " +
      "back, and the per-doc ratio folds in a second hash agg — two " +
      "shuffles total, both map-side combined."),
    "temperature_mix" -> ("Mixing-plan computation: one |sources|-group " +
      "agg, one broadcast 1-row total, integer targets — nothing " +
      "corpus-sized moves; the decimal weight sum keeps shares " +
      "order-free."),
    "bpe_merge_iter2" -> ("The BPE training loop's iteration shape: the " +
      "corpus-sized word-count agg runs ONCE into a persisted vocab; the " +
      "iteration-1 winner is one driver-side row returning as a literal; " +
      "merge application (string replace) and the pair recount run over " +
      "the distinct VOCAB weighted by word count — vocab-sized per " +
      "iteration. The result materializes eagerly (LocalTableScan here)."),
    "event_type_pagerank" -> ("Link analysis: one per-user lag window " +
      "(bounded groups) collapses the corpus into a |types|²-edge " +
      "relation that collects driver-side (sidecar-scale, the " +
      "pca_project pattern); both PageRank iterations run there in " +
      "exact decimal, so no corpus subtree is referenced twice. " +
      "Event-count scale lives entirely in the edge-extraction window."),
    "stupid_backoff_score" -> ("Distributed bigram LM scoring: the LM " +
      "tables build as two hash aggs over the target slice; the corpus " +
      "bigram stream equi-joins the bigram table (the one corpus-sized " +
      "shuffle — the LM IS that relation), unigram lookups broadcast, and " +
      "per-doc decimal sums close it out. The Stupid Backoff design goal " +
      "— no normalization pass — is exactly what keeps this join-shaped."),
    "prototype_prune" -> ("Prototypicality pruning on the Lloyd " +
      "pipeline: negated 6dp distances feed the bounded-heap " +
      "top_k_by_distance aggregate per cluster (max-heap by min-heap) — " +
      "the same ≤ N·|partitions| shuffle bound as cluster_sample, no " +
      "per-cluster window."),
    "user_pagerank" -> ("PageRank through the DISTRIBUTED iterate-join " +
      "kernel (forced — the user graph outgrows a driver edge list): " +
      "edge extraction is one (event_type × hour)-partitioned lag " +
      "window, then each iteration is a rank⋈edges equi-join shuffle " +
      "plus one decimal hash agg. The edge relation is persisted once " +
      "and reused across iterations; no corpus-sized collect anywhere."),
    "events_interval_join" -> ("Bounded-interval attribution " +
      "(click→purchase ≤ 4h): ONE user_id equi-join shuffle with the " +
      "time-range predicate evaluated inside the equi-join (broadcast " +
      "hash at fixture scale, shuffled sort-merge at corpus scale) — " +
      "never a cross join; per-key output is bounded by rate × window, " +
      "so AQE skew-split covers hot users. Integer-µs arithmetic end to " +
      "end."),
    "bq_knn_jaccard" -> ("Bit-opclass top-k through the SQL surface " +
      "(pgvector's `<%>`): jaccard_distance/hamming_distance resolve " +
      "from the function registry over codegen'd sign-bit packing; the " +
      "1-row query side broadcasts and TakeOrderedAndProject ranks " +
      "d/64-word popcounts — 32× less bandwidth than a float scan."),
    "halfvec_ivf_knn_probeall" -> ("Quantized-index kNN, exact twin: " +
      "the candidate stage ranks RNE-halfvec cosine over the " +
      "list-partitioned index (half the scan bandwidth of float32); " +
      "only the 50 survivor ids see exact float32 math, fetched by a " +
      "broadcast semi-join back to the base table. TakeOrderedAndProject " +
      "at both stages."),
    "phrase_search" -> ("Exact-phrase scan form: a token-boundary regex " +
      "(exactly \"the phrase occurs\" under \\s+ tokenization) gates at " +
      "the scan — one linear pass per row — and the start-position " +
      "counter (a higher-order filter over a BOUND token-array column, " +
      "split evaluated once per row) runs only on matching docs. " +
      "Map-only; the only exchanges are the row-parallel fan-out and " +
      "the output-determinism sort."),
    "phrase_search_indexed" -> ("Exact-phrase index form: reads the BM25 " +
      "positional sidecar pruned to the phrase terms' bucket directories " +
      "(PartitionFilters on bucket, pushed token filter), re-bases each " +
      "term's (doc_id, pos) stream by its phrase offset and intersects " +
      "with (doc_id, base) equi-joins — the corpus is never scanned at " +
      "query time, only Zipf-bounded postings."),
    "mmr_rerank" -> ("MMR diversity rerank: the distributed stages are " +
      "the exact-cosine candidate TakeOrderedAndProject and the C×C " +
      "pair-similarity matrix over the persisted candidate frame; the " +
      "inherently sequential greedy pass runs driver-side over those " +
      "model-sized doubles and the result returns as a LocalTableScan."),
    "weighted_sample" -> ("A-ES weighted sampling: the −ln(u)/w key is " +
      "row-local codegen'd arithmetic on the salted md5 hash (no RNG " +
      "state), and the S smallest keys come out of " +
      "TakeOrderedAndProject's bounded heaps — no shuffle beyond " +
      "S rows per partition."),
    "halfvec_l2_topk" -> ("The halfvec `<->`/`<#>`/`<+>` family by " +
      "composition: half_unpack widens binary16 exactly to float32, so " +
      "the three codegen'd distance kernels run in one projection over " +
      "the packed column; TakeOrderedAndProject ranks on L2."),
    "source_divergence" -> ("Domain-drift monitor: ONE tokenize+bucket " +
      "pass feeds ONE map-side-combined (source × bucket) hash agg; the " +
      "per-bucket / per-source / total rollups are window sums over the " +
      "densified |sources|·128-row grid, fully distributed — nothing " +
      "corpus-sized OR source-cardinality-sized ever reaches the driver."),
    "events_daily_ma" -> ("Rolling 7-day mean: the corpus collapses in " +
      "the daily hash agg FIRST, so the ROWS-frame window runs over " +
      "(type × day) cells — partitions bounded by the time span, never " +
      "event volume."),
    "events_hourly_anomaly" -> ("Rate-spike monitor: two hash aggs " +
      "(cells, then per-type moments) and a broadcast join back onto the " +
      "cells — no windows; the corpus is touched exactly once."),
    "knn_graph_ivf" -> ("kNN-graph scale path: vectors assign to their 4 " +
      "nearest IVF lists map-only (broadcast centroids + bounded heap), " +
      "candidates come from ONE distributed list_id equi-join — no " +
      "driver collect of anything corpus-sized — and the per-node top-k " +
      "is the bounded-heap aggregate. The exact twin (knn_graph) is the " +
      "documented O(n²) parity form with the same k-bounded shuffle."),
    "dedup_embedding_ivf" -> ("Embedding near-dup at scale: each vector " +
      "co-probes its 4 nearest IVF lists (broadcast centroids + bounded " +
      "heap), candidate pairs come from ONE list_id self-equi-join, and " +
      "every emitted pair is exact-cosine verified (precision 1). The " +
      "exact twin's triangle bound degrades to the full candidate join " +
      "on un-clusterable data; this form's cost is probe-knob-bounded."),
    "semantic_clusters_ivf" -> ("SemDeDup at scale, end to end: " +
      "knn_graph_ivf's bucketed edge stage (map-only centroid assign + " +
      "ONE list_id equi-join + bounded-heap top-k) feeds the mutual " +
      "self-equi-join on the n·k edge relation and the star-CC kernel. " +
      "ZERO cartesians in the whole pipeline — the exact twin " +
      "(semantic_clusters) remains the O(n²) oracle anchor."),
    "cluster_purity" -> ("Clustering eval: the Lloyd assignment joins " +
      "its ground-truth labels, collapses to ≤ K·|labels| count rows, " +
      "and the majority pick windows over THOSE — bounded regardless of " +
      "corpus size."),
  )

  /** Plans that are not contract queries but carry the serving/streaming
    * trust story: built directly from the index/pipeline APIs. */
  private def extraEntries(spark: SparkSession, sfDir: String)
      : Seq[(String, String, () => org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.functions._
    import graft.Tables
    import graft.operators.IndexQueries
    Seq(
      ("ivf_searchmany_distributed",
        "The corpus-sized batch-probe twin (IvfIndex.searchMany — what a " +
          "bulk kNN backfill runs): per-query centroid ranking is a " +
          "map-side bounded heap against the index handle's centroids " +
          "(a broadcast local relation), one count job lays out " +
          "(list, query-block) work units from the per-list probe counts, " +
          "and both sides reach their unit through explicitly sized " +
          "exchanges into ONE sorted CoGroup — the scoring kernel, whose " +
          "width follows the probe rows, not the query frame's bytes. " +
          "Units emit ≤ k rows per query; the bounded-heap aggregate " +
          "merges them. Nothing query-frame-sized touches the driver — " +
          "contrast probeMany, which collects the probe pairs instead.",
        () => {
          val idx = IndexQueries.indexFor(spark, sfDir)
          val q = Tables.embeddings(spark, sfDir)
            .select(col("vec_id").as("qid"), col("embedding"))
          graft.index.IvfIndex.searchMany(spark, idx, q,
            "qid", "embedding", k = 10, nprobe = 4)
        }),
      ("ivfpq_searchmany_distributed",
        "IVF-PQ's distributed batch probe (IvfPqIndex.searchMany): same " +
          "broadcast-centroid assignment + ONE list_id equi-join shape, " +
          "but candidates are scored by asymmetric-distance subspace dots " +
          "against the PQ codes — each joined pair pays O(d) multiplies " +
          "instead of per-query LUT driver state, which is the trade that " +
          "makes it corpus-batch-safe (bit-identical to probeMany, " +
          "spec-pinned).",
        () => {
          val idx = IndexQueries.ivfPqIndexFor(spark, sfDir)
          val q = Tables.embeddings(spark, sfDir)
            .select(col("vec_id").as("qid"), col("embedding"))
          graft.index.IvfPqIndex.searchMany(spark, idx, q,
            "qid", "embedding", k = 10, nprobe = 4)
        }),
      ("curation_gate_batch",
        "The streaming curation pipeline's per-batch GATE plan (the shape " +
          "every micro-batch of startCurationPipeline / startMinhashDedup " +
          "executes): the batch's 16-band MinHash signatures build in ONE " +
          "aggregation pass (no 64× explode), collide against the on-disk " +
          "band store via a left-semi equi-join on (band, band_sig) plus " +
          "the in-batch lower-id self-semi-join, and survivors leave " +
          "through a left-anti join — every stage a hash agg or equi-join, " +
          "state on disk, nothing corpus-sized in executor memory.",
        () => {
          val batch = Tables.documents(spark, sfDir)
          val bands = graft.operators.Dedup.bandsOf(
            graft.operators.Dedup.hashedShingleRelOf(batch))
          // the store side: an ON-DISK band relation of previously
          // accepted docs, read exactly as the gate reads it
          val storeDir = graft.util.TempDirs
            .create("gallery_store").toString
          bands.select((col("doc_id") + 1000000L).as("doc_id"),
              col("band"), col("band_sig"))
            .write.mode("overwrite").parquet(storeDir)
          // the SHARED plan core — the same definition gateBatch executes
          val drop = graft.streaming.StreamingIngest.gateDropSet(
            bands, graft.streaming.StreamingIngest.bandStoreRel(spark, storeDir))
          batch.join(drop, Seq("doc_id"), "left_anti")
        }))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events ts is ns
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Plan gallery\n\n")
    sb.append("Formatted physical plans of the headline queries at sf0.001 ")
    sb.append("(plan shape is data-independent for these), with the property ")
    sb.append("that makes each shape survive a 100× scale-up. Regenerate with\n")
    sb.append("`sbt \"Test/runMain graft.tools.PlanGallery\"`. The shapes are\n")
    sb.append("enforced by PlanGuardSpec / ScaleSmokeSpec / per-operator specs — ")
    sb.append("this file just makes them reviewable without running Spark.\n")
    entries.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n$note\n\n```\n$plan```\n")
    }
    val extras = extraEntries(spark, sfDir)
    extras.foreach { case (name, note, mk) =>
      val plan = mk().queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name (API, not a contract query)\n\n$note\n\n```\n$plan```\n")
    }
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"wrote $outFile (${entries.size + extras.size} plans)")
    spark.stop()
  }
}
