package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Formatted physical plans of SparkEntry gates, the one plan dumper.
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> <gate,gate,...>"
  * writes `<outDir>/<gate>_<suffix>.txt` per named gate: the before/after
  * evidence of a change that alters a plan (suffix `before` at the parent,
  * `after` at the change).
  *   sbt "runMain graft.tools.PlanDump"
  * regenerates PLANS.md in the launch cwd from the flagship gates below.
  * The session is `graft.Harness.session()`; data comes from
  * SPARK_GRAFT_SF_DIR. */
object PlanDump {
  private val picks = Seq(
    "q3_shipping_priority" -> "broadcast dims, pushed filters, partial agg, top-k",
    "q8_market_share" -> "9-table chain: every dim broadcast against one lineitem pass",
    "q21_waiting_suppliers" -> "correlated EXISTS/NOT EXISTS as semi+anti joins on orderkey",
    "q_dedup_minhash" -> "band-bucket equi-join + sorted-array merge verify",
    "q_dedup_embedding_lsh" -> "LSH buckets carrying vectors, inline verify, no BNLJ",
    "q_dedup_embedding_lsh_prod" -> "production-point LSH (t=0.9, bits~log2 N): the pruning path, planted oracle",
    "q_pagerank" -> "persisted hash(src) edges reused exchange-free per iteration; SHJ rank join",
    "q_seqfile_partitioned" -> "partition-pruned seqfile scan feeding an aggregate",
    "q_seqfile_keyrange" -> "zone-map block skipping: key-range over a sorted seqfile copy",
    "q_seqfile_compact" -> "compacted (key-sorted, zone-mapped) files answering a key range",
    "q_decontaminate" -> "bench side broadcast; corpus shingles never shuffle before the hit filter",
    "q_line_dedup" -> "doc-frequency line filter: text stays put, drop-lists join back",
    "q_ann_ivf" -> "distributed centroid top-C (TakeOrderedAndProject), broadcast probes",
    "q_mixture_sample" -> "S-row fraction table broadcast; row-local hash threshold, corpus never shuffles",
    "q_unigram_surprisal" -> "distributed top-K vocab broadcast onto the token stream; partial agg per doc",
    "q_dedup_incremental" -> "8-byte fingerprint joins; batch text never shuffles",
    "q_bm25" -> "corpus stats as bounded aggregates; query terms broadcast into the tf join",
    "q_dedup_semantic" -> "broadcast-centroid assignment, within-cluster pairs repartitioned by cluster",
    "q_phrase_search" -> "phrase terms broadcast into the token stream; one length-agnostic anchor aggregate",
    "q_dsir_weights" -> "one corpus n-gram pass; bucket stats re-aggregate partials and broadcast back",
    "q_repetition_ngrams" -> "row-local codegen repetition kernel: quality metrics at scan speed, zero text shuffle",
    "q_dedup_winnow" -> "row-local winnow-fingerprint kernel, df-capped 8-byte hash self-join",
    "q_novelty" -> "first-occurrence min-id over shingle hashes; text never shuffles",
    "q_script_profile" -> "one-pass script-classification kernel: whole profile at scan speed",
    "q_dedup_embedding" -> "tiled exact cosine: block payloads equi-joined to driver-enumerated tiles, dense kernel flatMap, no BNLJ",
    "q_quality_nb" -> "NB scorer: 8-byte bigram fingerprints through the class-count groupBy and weights join",
    "q_hybrid_retrieval" -> "RRF fusion: two top-k slivers full-outer joined; heavy work stays in the BM25/cosine legs",
    "q_hybrid_retrieval_pq" -> "PQ-served hybrid: the semantic leg probes the IVF-PQ index (broadcast centroids, ADC kernel), fused by RRF",
    "q_ann_ivfpq" -> "frozen-index IVF-PQ serve: fused assign+encode kernel, probe-bounded ADC, exact re-rank",
    "q_ann_ivf_kmeans" -> "IVF-flat over k-means centroids: fused row-local corpus assignment (no N*C window), probe window on the small query side",
    "q_dedup_stream" -> "single-pass micro-batch ingest: one doc-index pass, unified band join over the standing parquet index",
    "q_dedup_simhash" -> "flip-variant pigeonhole blocking; the dup-heavy coarse-key join is pinned SortMergeJoin (hint + PlanShapePinsSpec), never BHJ",
    "q_bpe_merges_256" -> "realistic-vocab BPE: one bounded net-delta job per merge round, driver heap argmax (plan shown = final merge table)",
    "q_ann_lsh_index" -> "persisted-LSH serve: query-side multi-probe kernel, 16-byte band equi-join, candidate-id-only vector lookup",
    "q_ann_lsh_index_incremental" -> "appended LSH index (standing batch=0 + ingested batch=1 partitions) serving identically to from-scratch",
    "q_ann_lsh_index_delete" -> "tombstoned LSH index: deletes anti-joined out of both halves at load; serve equals from-scratch on the surviving corpus",
    "q_ann_pq_index_delete" -> "tombstoned PQ index (FAISS remove_ids): codes masked at load, quantizer untouched; ADC serve over survivors only",
    "q_ann_ivfpq_index" -> "persisted IVF-PQ serve (the production shape): loaded frozen quantizers, probe-bounded ADC over batch-partitioned codes, exact re-rank",
    "q_ann_ivfpq_index_delete" -> "tombstoned IVF-PQ index: codes anti-joined against the delete set at load; probes can never surface a deleted vector",
    "q_ann_pq_index_incremental" -> "appended PQ index (standing batch=0 + ingested batch=1 code partitions) serving identically to a from-scratch encode",
    "q_ann_lsh_index_bandsonly" -> "bands-only LSH serve: vectors half rebound to the corpus parquet at load (159 vs 558 B/vec), same candidates and scores",
    "q_ann_sq8_index" -> "persisted SQ8 serve (per-dim linear byte quantizer as a PqIndex with dim one-element subspaces): ADC scan over dim-byte codes, exact re-rank; the one quantized gate whose oracle re-derives the quantizer from scratch",
    "q_ann_lsh_index_stream" -> "stream-ingested LSH index: micro-batches landed as their own partitions via the idempotent append (exactly-once under checkpoint replay); serve identical to from-scratch",
    "q_ann_ivfsq_index" -> "persisted IVF-SQ8 serve (the fourth {flat,IVF}x{PQ,SQ8} cell): frozen k-means probes bound WHICH codes are scored, per-dim byte codes bound the bytes; probe-bounded ADC + exact re-rank",
    "q_ann_ivfsq_index_stream" -> "stream-ingested IVF-SQ8 index (completes the family x stream matrix): micro-batches through the shared fused assign+encode kernel, exactly-once per-batchId landing; serve == from-scratch",
    "q_ann_pq_index_purge" -> "physically purged PQ index: tombstoned bytes reclaimed by load->save to a fresh root; serve equals the masked serve (no deletes dir, no anti-join in the purged plan)",
    "q_ann_ivfpq_residual_index" -> "by-residual IVF-PQ (FAISS IndexIVFPQ default): codes quantize v - assigned centroid; probe-paired residual ADC with lazily-built per-list cross terms, exact re-rank",
    "q_ann_ivfpq_hier_index" -> "IVF-PQ over hierarchically-trained coarse lists (two-level trainer, ~2*sqrt(C)/C of flat Lloyd's cost): same serve plan — the frozen centroid frame is trainer-agnostic",
    "q_ann_ivfpq_opq_index" -> "OPQ pre-rotation (FAISS IndexPreTransform): one broadcast matVec pass rotates the corpus, then the unchanged residual IVF-PQ serve plan in rotated space",
    "q_ann_ivfpq_opq_lifecycle" -> "first-class rotation: persisted in the index root, streamed batches and raw queries rotate automatically; same rotated-space serve plan",
    "q_ann_ivfpq_index_stream" -> "streaming ingest into a residual IVF-PQ index: micro-batches encode against the frozen pair under the persisted flag; serve plan unchanged over the unioned batch partitions",
    "q_ann_pq_opq_index" -> "flat-PQ OPQ lifecycle (r17): persisted rotation auto-applied to streamed batches and raw queries; one broadcast matVec pass then the unchanged flat ADC serve",
    "q_lang_id_nb" -> "trained NB lang-id (r17): one corpus trigram pass, broadcast vocabulary-bounded weight join, partial-agg sum, |langs|-row scalar frame",
    "q_pipeline_e2e" -> "composed curation pipeline (r17): nine chained stages, text shuffles nowhere — fingerprint/pair/label/weight slivers move, global windows only over per-bucket totals",
    "q_seqfile_pipeline" -> "exact-dedup over a partitioned seqfile lake (r17): partition dirs pruned at planning time beneath the dedup joins",
    "q_ann_ivfpq_filtered" -> "metadata-filtered serve (r17, FAISS IDSelector): allowed-id semi-join on the codes BEFORE the probe-paired ADC — disallowed codes never scored",
    "q_ann_ivfpq_range" -> "range search (r17, FAISS range_search): threshold retention instead of top-R heaps — the candidate shuffle is output-sized; probe-bounded scan unchanged",
    "q_ann_ivfpq_merge" -> "sharded build merged (r17, FAISS merge_from): serve over renumbered shard code partitions — same probe-paired residual ADC, frame cloned never retrained",
    "q_pipeline_stream" -> "streaming curation lake (r17): per-batch admission + standing-index near-dedup + first-seen-wins; the final read is one partition-discovered scan of the curated lake")

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    require(args.isEmpty || args.length == 3,
      "usage: PlanDump [<outDir> <suffix> <gate,gate,...>]")
    val spark = graft.Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.isEmpty) {
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
      sb.append("GENERATED artifact — regenerate with `SPARK_GRAFT_CPUS=" +
        s"${graft.Harness.cpus} SPARK_GRAFT_SF_DIR=$sfDir sbt " +
        "\"runMain graft.tools.PlanDump\"`.\n")
      sb.append(s"Spark ${spark.version}, ${new java.io.File(sfDir).getName}, " +
        "AQE on (initial plans shown).\n")
      for ((q, why) <- picks) {
        sb.append(s"\n## $q — $why\n\n```\n")
        sb.append(formatted(graft.SparkEntry.queries(q)(spark, sfDir)).take(8000))
        sb.append("\n```\n")
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println("PLANS.md written")
    } else {
      val Array(outDir, suffix, gates) = args
      new java.io.File(outDir).mkdirs()
      for (name <- gates.split(',').map(_.trim).filter(_.nonEmpty)) {
        val out = s"$outDir/${name}_$suffix.txt"
        try {
          val txt = formatted(graft.SparkEntry.queries(name)(spark, sfDir))
          Files.writeString(Paths.get(out), txt + "\n")
          println(s"dumped $name -> $out")
        } catch { case e: Throwable =>
          println(s"FAILED $name: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
