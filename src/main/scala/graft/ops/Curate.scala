package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end corpus build: every screening family in this library
  * composed into ONE auditable verdict per document — the pipeline a
  * training-data team actually ships, not a bag of disconnected ops.
  *
  * Gates, in pinned precedence (a doc's `reason` is the FIRST that
  * fails; later signals are still computed for every doc, so the output
  * is an audit table, not a survivor list):
  *
  *   1. `quality`      — heuristic quality score below threshold
  *   2. `entropy`      — byte-entropy out of the prose band (padding,
  *                       base64/compressed blobs)
  *   3. `fluency`      — corpus-self unigram-LM average log-prob below
  *                       threshold (word salad, off-distribution)
  *   4. `near_dup`     — doc is the dropped (larger-id) side of a
  *                       Jaccard near-dup pair
  *   5. `contaminated` — n-gram containment of a benchmark item
  *
  * Survivors get a deterministic train/val/test split
  * ([[Sampling.splitAssign]]) — stable under corpus growth, so future
  * versions never migrate a doc across eval boundaries.
  *
  * Scale shape: signals 1-3 are per-row projections / one broadcast-back
  * LM join (no corpus shuffle beyond the per-doc agg); near-dup and
  * contamination are the inverted-index joins whose posting lists bound
  * the blowup (q30/q49); the final assembly is left joins on doc_id.
  * The entropy and fluency gates compare ROUND-6 values so an engine's
  * last-ulp difference in a cross-row float aggregate can never flip a
  * verdict at a threshold boundary; quality/jaccard/containment are
  * integer-derived arithmetic, bit-identical across engines as-is.
  */
object Curate {

  def buildCorpus(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame,
      minQuality: Double = 0.8, minEntropy: Double = 3.8,
      minLogProb: Double = -5.0, jaccard: Double = 0.5,
      containment: Double = 0.5,
      splits: Seq[(String, Double)] =
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // every gate below is per-row-heavy (regex quality, byte entropy,
    // token LM, shingle hashing) — rebalance once ahead of all of them
    val base = Par.fanOut(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
    val sig = base.select(col("doc_id"),
      Text.qualityScore(col("text")).as("quality"),
      round(Text.byteEntropy(col("text")), 6).as("entropy"))
    val flu = Text.unigramLogProbs(base, "doc_id", "text")
      .select(col("doc_id"), round(col("avg_logprob"), 6).as("alp"))
    // ROUND-19 REVERT to round 17's independent-subtree structure. The
    // round-18 token-reuse form (persist a (id, text, toks) frame + a
    // shared bucket/index cache, prime with an eager count) lost the
    // interleaved same-JVM A/B at sf0.1 decisively (VERDICT.md, round
    // 19), 6–8 alternating reps: bucket form 1.33×, persisted
    // narrow-index form 1.35× slower than this shape. The priming count
    // is a full pipeline barrier before any gate starts, and the
    // MEMORY_AND_DISK persists pay serialization for work the 32-way
    // overlapped independent subtrees re-do almost for free — especially
    // now that the InferFiltersFromGenerate duplication is fixed
    // ([[Dedup.shingleIndex]]), which halved every text pass and was most
    // of what the r18 restructure was compensating for. At 100 TB an
    // in-query MEMORY_AND_DISK persist of corpus-sized token arrays is
    // no bargain either (≈2× corpus write amplification); the honest
    // scale path for cross-gate sharing is the CROSS-JOB one — write
    // [[Dedup.shingleIndex]] to a bucketed table once, feed the OnIndex
    // forms per run — and that door stays open. This also removes the
    // ADVICE-r18 session-lifetime-cache and eager-job-at-construction
    // concerns outright.
    val dup = Dedup.ngramJaccardPairs(base, "doc_id", "text",
        shingleN = 3, threshold = jaccard)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    val contam = Dedup.benchmarkContamination(base, "doc_id", "text",
        bench, "doc_id", "text", shingleN = 3, minContainment = containment)
      .select(col("doc_id")).distinct()
      .withColumn("is_contam", lit(true))
    val reason = when(col("quality") < minQuality, "quality")
      .when(col("entropy") < minEntropy, "entropy")
      .when(col("alp").isNull || col("alp") < minLogProb, "fluency")
      .when(col("is_dup"), "near_dup")
      .when(col("is_contam"), "contaminated")
    Sampling.splitAssign(sig, "doc_id", splits)
      .join(flu, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("reason", reason)
      .select(col("doc_id"), col("reason").isNull.as("kept"), col("reason"),
        when(col("reason").isNull, col("split")).as("split"))
  }
}
