package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Deduplication operators for a training-data pipeline.
  *
  * Four families, ordered by cost:
  *  - exact: hash-groupBy on content hash — one shuffle on the hash key.
  *  - MinHash + LSH: signature per doc (narrow), band-bucket join for
  *    candidates (shuffle on band key — the classic "only compare what
  *    collides" trick that replaces the O(n²) cross join), signature
  *    agreement as the verification estimate.
  *  - SimHash: 60-bit sketch per doc (narrow), near-dup = small Hamming
  *    distance; bucketed by sketch prefix to avoid O(n²).
  *  - n-gram Jaccard: exact pairwise similarity via shingle-hash inverted
  *    index self-join (the verification path; also standalone for small n).
  *
  * Everything is hash-partitioned on content-derived keys: no driver-side
  * state, no broadcast of the corpus. At 100 TB the band-bucket shuffle is
  * the dominant cost and is proportional to corpus size × bands, not
  * corpus². All hashes are [[PortableHash]] 60-bit MD5 values so results
  * are bit-identical to the DuckDB oracle.
  */
object Dedup {

  // ------------------------------------------------------------------ exact

  /** Exact dedup: keep the lowest-id row per distinct text. One shuffle on
    * the 60-bit content hash (not the full text — shrinks shuffle bytes). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), Text.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---------------------------------------------------------------- minhash

  /** SQL expression computing the k-element MinHash signature from a column
    * holding the doc's distinct shingle hashes.
    *
    * Built as ONE expression that references the hash column exactly once:
    * interpreted higher-order functions re-evaluate their argument per
    * call, and `CollapseProject` happily inlines a projection into every
    * reference — k separate `array_min(transform(hs, …))` columns would
    * re-run the whole MD5 shingle pass k times per row. With a single
    * reference, the expensive pass runs once and the k families are cheap
    * `(a·x+b) mod p` arithmetic ([[PortableHash.rehash]] semantics).
    * Docs with no shingles get Long.MaxValue entries (match nothing).
    */
  def minhashSigExpr(hsCol: String, numHashes: Int): String = {
    val aArr = (0 until numHashes).map(s => s"${PortableHash.uhA(s)}L").mkString("array(", ", ", ")")
    val bArr = (0 until numHashes).map(s => s"${PortableHash.uhB(s)}L").mkString("array(", ", ", ")")
    s"""transform(sequence(0, ${numHashes - 1}), s ->
       coalesce(array_min(transform($hsCol, h ->
         (element_at($aArr, s + 1) * (h & ${PortableHash.UhMask}L)
          + element_at($bArr, s + 1)) % ${PortableHash.UhP}L)),
       ${Long.MaxValue}L))"""
  }

  /** Spread a frame across the cluster before per-row-heavy compute: a
    * single small parquet file scans as one partition, which would
    * serialize the hash pass onto one core. The shuffle moves only the
    * raw text — trivial next to the compute it parallelizes (the general
    * form of this argument lives on [[Par.fanOut]]). */
  private def spread(df: DataFrame): DataFrame = Par.fanOut(df)

  /** (id, sig) signature table: one MD5 pass for the shingle hashes, then
    * the arithmetic families. Docs with NO shingles (fewer than shingleN
    * tokens) are excluded: their all-sentinel signatures would compare
    * equal to each other, scoring unrelated short docs as est_jaccard
    * 1.0 near-dups. `cache` defaults on for the self-join form that
    * reads the table twice; single-pass consumers pass false (at 100 TB:
    * persist to disk or a bucketed table instead). */
  def minhashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int, cache: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val sigs = spread(docs)
      // too-short-to-shingle rows are dropped with a CHEAP equivalent
      // predicate (sig is null ⟺ fewer than shingleN tokens) BEFORE the
      // signature projection: the former `filter(sig.isNotNull)` was
      // pushed below the exchange by PushDownPredicates with the FULL
      // fused expression substituted in, so every document paid the
      // MD5-window minhash pass TWICE — once in the scan filter, once in
      // the projection (round-19 find, visible in the committed
      // q27/q66/q110/q111 before-plans: `Condition :
      // isnotnull(shingle_minhash(regexp_extract_all(…)))` under a
      // Project computing the same). regex_count counts the tokenizer's
      // matches without materializing the token array (the scan filter
      // this pushes into allocates nothing); the minhash pass runs
      // exactly once, above the exchange.
      .filter(call_function("regex_count", col(textCol), lit("\\S+"))
        >= shingleN)
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      // fused tokenize→shingle→hash→minima expression: the composable
      // shingleHashesOf + minhash_sig form leaves the shingle/MD5 stage
      // in interpreted HOFs, which dominated the whole near-dup build
      // (see ShingleMinHash scaladoc)
      .select(col("id"),
        call_function("shingle_minhash", col("toks"),
          lit(shingleN), lit(numHashes)).as("sig"))
    if (cache) sigs.cache() else sigs
  }

  /** Banded signature table (id, sig, band) — for a corpus, this IS the
    * persistable dedup index that [[minhashNearDupsAgainstIndex]] joins
    * on every ingest batch. */
  def bandedSignatureIndex(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 24, shingleN: Int = 3, bands: Int = 8,
      cache: Boolean = true): DataFrame =
    minhashSignatures(docs, idCol, textCol, numHashes, shingleN, cache)
      .select(col("id"), col("sig"),
        explode(lshBandKeys(col("sig"), bands, numHashes / bands)).as("band"))

  /** Persist a [[bandedSignatureIndex]] together with its build
    * parameters. The parameters are part of the index's identity: a
    * batch joining an index built with different numHashes/bands/shingleN
    * gets silently wrong scores (or silently zero candidates — band keys
    * from different slicings never collide), so they travel with the
    * data in an underscore-prefixed sidecar (invisible to parquet
    * readers) and [[readSignatureIndex]] refuses a mismatch. */
  def writeSignatureIndex(index: DataFrame, dir: String,
      numHashes: Int, shingleN: Int, bands: Int): Unit = {
    index.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_index_meta.json")
    val fs = p.getFileSystem(
      index.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(indexMeta(numHashes, shingleN, bands).getBytes("UTF-8"))
    out.close()
  }

  /** TAKEDOWN PROPAGATION: remove `ids` from a persisted signature
    * index. A corpus-table delete does not touch derived artifacts, so
    * without this a removed document keeps matching future ingest
    * batches as a dedup candidate — its shingles live on in the index.
    * Crash-safe anti-join rewrite ([[graft.ops.Layout.atomicOverwrite]],
    * safe self-referential); the parameter sidecar — which the staged
    * swap replaces along with the directory — is re-created verbatim,
    * so [[readSignatureIndex]]'s identity check keeps holding. Returns
    * the number of index rows removed. */
  def signatureIndexDelete(spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: DataFrame, idCol: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_index_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$dir has no _graft_index_meta.json — not a persisted signature " +
        "index (write it with Dedup.writeSignatureIndex)")
    val in = fs.open(p)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val idx = spark.read.parquet(dir)
    val keys = ids.select(col(idCol).as("id")).distinct()
    val removed = idx.join(keys, Seq("id"), "left_semi").count()
    if (removed > 0) {
      // the meta sidecar is written INTO the staged directory before the
      // swap, so the commit is atomic sidecar-included — a crash can
      // never leave a live index directory readSignatureIndex refuses
      // for a missing _graft_index_meta.json
      val staged = graft.ops.Layout.stageOverwrite(
        idx.join(keys, Seq("id"), "left_anti"), dir)
      val sp = new org.apache.hadoop.fs.Path(staged,
        "_graft_index_meta.json")
      val out = fs.create(sp, true)
      out.write(meta.getBytes("UTF-8"))
      out.close()
      graft.ops.Layout.commitOverwrite(spark, dir)
    }
    removed
  }

  /** Load a persisted signature index, asserting it was built with the
    * parameters the caller is about to join with. */
  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      numHashes: Int = 24, shingleN: Int = 3, bands: Int = 8): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_index_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$dir has no _graft_index_meta.json — not a persisted signature index " +
        "(write it with Dedup.writeSignatureIndex)")
    val in = fs.open(p)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val expected = indexMeta(numHashes, shingleN, bands)
    require(meta == expected,
      s"signature index at $dir was built with $meta but the caller expects " +
        s"$expected — rebuild the index or match its parameters")
    spark.read.parquet(dir)
  }

  private def indexMeta(numHashes: Int, shingleN: Int, bands: Int): String =
    s"""{"numHashes":$numHashes,"shingleN":$shingleN,"bands":$bands}"""

  /** Signature-agreement Jaccard estimate — ONE definition, shared by the
    * self-join and cross-corpus forms so they cannot drift. */
  private def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    size(filter(zip_with(a, b,
        (x, y) => when(x === y, lit(1)).otherwise(lit(null))),
      v => v.isNotNull)).cast("double") / lit(numHashes.toDouble)

  /** LSH band keys: split the signature into `bands` slices of
    * `rowsPerBand`, hash each slice. Two docs share a band key iff their
    * slices agree exactly — collision probability follows the classic
    * (1 − (1 − j^r)^b) S-curve in true Jaccard j.
    *
    * One fused codegen'd loop ([[graft.functions.LshBandKeys]], round 19
    * guide §4): the composable per-band
    * `md5Long(concat("b:", concat_ws(",", transform(slice(…)))))` ran
    * the whole band map stage in interpreted CodegenFallback HOFs (the
    * giant lambda Generate in the committed q27 before-plan). Byte-
    * identical keys — parity spec-pinned in LshBandKeysSpec. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    call_function("lsh_band_keys", signature, lit(bands), lit(rowsPerBand))

  /** The composable reference form of [[lshBandKeys]] — kept for the
    * parity spec only (LshBandKeysSpec pins fused ≡ composable). */
  private[graft] def lshBandKeysComposable(
      signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      PortableHash.md5Long(
        concat(lit(s"$b:"),
          concat_ws(",", transform(
            slice(signature, b * rowsPerBand + 1, rowsPerBand),
            _.cast("string")))))
    }: _*)

  /** MinHash-LSH near-dup pairs, scored by signature agreement (the
    * unbiased Jaccard estimate).
    *
    * Plan shape: scan → narrow signature projection → explode bands
    * (×bands growth of (id, sig)) → shuffle on band key → stop-band cap →
    * in-bucket self-join → pair dedup → agreement filter.
    *
    * Stop-band filter (`maxBandDocFreq`): a band key shared by f docs
    * contributes f·(f−1)/2 candidate pairs — on boilerplate-heavy corpora
    * one degenerate bucket (empty docs, shared headers/footers) turns the
    * candidate join quadratic. Buckets above the cap are dropped whole,
    * exactly like `ngramJaccardPairs`' stop-shingle cap; the frequency
    * window shuffles on the same band key the join needs, so it adds no
    * extra exchange of the corpus. Default keeps every bucket (exact
    * LSH semantics, what the q27 oracle replays); set ~10³-10⁴ at 100 TB.
    */
  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 24, shingleN: Int = 3,
      bands: Int = 8, threshold: Double = 0.5,
      maxBandDocFreq: Long = 1000000L): DataFrame = {
    // ROUND-18 RESTRUCTURE (guide §2.4), the [[ngramJaccardPairsOnIndex]]
    // move applied to the band join: the self-join's two sides each drove
    // their own band-explode exchange over the cached signature table
    // (an InMemoryRelation below duplicated exchanges defeats AQE's
    // exchange reuse — measured on q27/q98), and both sides shuffled the
    // full 24-long signatures. Now ids are bucketed per band ONCE (the
    // stop-band cap becomes a bucket-size filter — identical row set),
    // candidate pairs stream out of a two-level explode of the sorted
    // bucket, and signatures attach to the O(pairs) DISTINCT candidate
    // set by two joins against the cached signature table — the band
    // exchange carries 8-byte ids, never signatures. Same pair set
    // (shared-band pairs with a < b, sig is a function of id), same
    // estimator arithmetic, bit-identical output.
    val sigs = minhashSignatures(docs, idCol, textCol, numHashes, shingleN)
    val banded = sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), bands, numHashes / bands)).as("band"))
    // stop-band cap on the row stream BEFORE collect_list (ADVICE r18:
    // an over-cap degenerate band must never materialize its full
    // posting array in the aggregation buffer — the window rides the
    // same hash(band) exchange the aggregate needs, so per-task memory
    // is genuinely O(maxBandDocFreq))
    val byBand = banded
      .withColumn("bdf", count(lit(1)).over(Window.partitionBy(col("band"))))
      .filter(col("bdf") <= maxBandDocFreq).drop("bdf")
      .groupBy(col("band"))
      .agg(collect_list(col("id")).as("ids"))
    val cand = byBand
      .filter(size(col("ids")) >= 2)
      .select(sort_array(col("ids")).as("ids"))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids"))))
          .as("id_b"))
      // structural self-pair guard (ADVICE r18): the sorted-bucket explode
      // yields id_a < id_b unless one doc's two band slices hash to the
      // SAME band key (60-bit collision across "b:"-prefixed slots) — the
      // old join's strict a.id < b.id excluded that unconditionally, so
      // keep the invariant structural rather than probabilistic
      .filter(col("id_a") < col("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  // ---------------------------------------------------------------- simhash

  private val SimhashBits = 60

  /** SQL expression computing the 60-bit SimHash from a token-hash array
    * column: bit i of the sketch is set iff Σ_tokens (bit i of h(token) ?
    * +1 : −1) ≥ 0.
    *
    * One fold over the tokens builds all 60 vote counters at once
    * (`zip_with` against the bit-index sequence), then a second fold packs
    * the signs into a long. The token-hash column is referenced exactly
    * once — see [[minhashSigExpr]] for why that matters. Integer
    * arithmetic end-to-end (doubles would corrupt above 2⁵³). Expressed in
    * SQL because `shiftright` with a non-literal shift amount has no Scala
    * `Column` API. Docs with no tokens vote 0 on every bit ⇒ all bits set.
    */
  def simhashExpr(thCol: String): String =
    s"""aggregate(
       zip_with(
         aggregate($thCol, array_repeat(0L, $SimhashBits),
           (acc, h) -> zip_with(acc, sequence(0, ${SimhashBits - 1}),
             (a, i) -> a + IF(shiftright(h, i) % 2 = 1, 1L, -1L))),
         sequence(0, ${SimhashBits - 1}),
         (c, i) -> IF(c >= 0, shiftleft(1L, i), 0L)),
       0L, (acc, x) -> acc + x)"""

  /** (id, sketch) SimHash table: one MD5 pass over tokens, one fold. */
  def simhashSketches(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(docs).select(col(idCol).as("id"),
        transform(Text.tokens(col(textCol)), t => PortableHash.md5Long(t)).as("th"))
      .select(col("id"), expr(simhashExpr("th")).as("sk"))

  /** SimHash near-dup pairs: bucket by the top `prefixBits` of the sketch
    * (near-dups agree on high bits with high probability), then verify with
    * exact Hamming distance ≤ maxHamming inside each bucket.
    * One shuffle on the prefix; recall is traded via prefixBits (0 = exact
    * O(n²), more bits = cheaper and lossier). For full recall at scale, run
    * the standard multi-probe trick: permute bit blocks and union several
    * prefix runs.
    */
  def simhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      prefixBits: Int = 12, maxHamming: Int = 8): DataFrame = {
    val sk = simhashSketches(docs, idCol, textCol)
      .withColumn("bucket", shiftright(col("sk"), SimhashBits - prefixBits))
    sk.as("a").join(sk.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sk").bitwiseXOR(col("b.sk"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** (offset, len) per block: `totalBits` split into `blocks` contiguous
    * slices, the first (totalBits % blocks) slices one bit wider. */
  private[graft] def blockBounds(totalBits: Int, blocks: Int): Seq[(Int, Int)] = {
    val base = totalBits / blocks
    val extra = totalBits % blocks
    val lens = Seq.tabulate(blocks)(i => base + (if (i < extra) 1 else 0))
    lens.scanLeft(0)(_ + _).zip(lens)
  }

  /** Full-recall SimHash pairing over a prebuilt (id, sk) sketch table:
    * block-permutation bucketing (Manku et al., WWW'07).
    *
    * The 60 sketch bits split into `maxHamming + 1` contiguous blocks; each
    * row is bucketed once per block on (block, blockBits). By pigeonhole, a
    * pair within Hamming distance ≤ maxHamming has fewer differing bits
    * than blocks, so at least one block matches exactly → the pair collides
    * in that block's run. Recall is 1.0 — GUARANTEED, unlike the prefix
    * heuristic of [[simhashNearDups]] which misses pairs differing in high
    * bits. Cost: `blocks`× the bucketing rows and coarser buckets
    * (60/(h+1) bits each); exact Hamming verification keeps precision
    * exact. One shuffle on the block key.
    */
  private[ops] def simhashPairsFromSketches(
      sk: DataFrame, maxHamming: Int): DataFrame = {
    val blocks = maxHamming + 1
    val keys = array(blockBounds(SimhashBits, blocks).zipWithIndex.map {
      case ((off, len), b) =>
        struct(lit(b).as("b"),
          shiftright(col("sk"), off).bitwiseAND(lit((1L << len) - 1)).as("bits"))
    }: _*)
    val banded = sk.select(col("id"), col("sk"), explode(keys).as("blk"))
    banded.as("a").join(banded.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sk").bitwiseXOR(col("b.sk"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dups with guaranteed full recall at `maxHamming` —
    * the scale-path complement to the cheaper prefix-bucketed
    * [[simhashNearDups]]. */
  def simhashNearDupsFull(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8): DataFrame =
    simhashPairsFromSketches(
      simhashSketches(docs, idCol, textCol), maxHamming)

  // ---------------------------------------------------------------- jaccard

  /** Exploded (id, shingle-hash) inverted index with per-doc set semantics
    * (distinct inside the row, so no global dedup shuffle).
    *
    * The tokenize→shingle→MD5→dedup pass is ONE fused codegen'd
    * expression ([[graft.functions.ShingleHashes]], round-18 guide-§4
    * rewrite): the previous composable form
    * (`explode(array_distinct(transform(shinglesOf(toks,…), md5Long)))`)
    * left the whole stage in interpreted CodegenFallback HOFs and
    * dominated every n-gram gate; value parity is spec-pinned
    * (ShingleHashesSpec) and every consumer is oracle-checked.
    *
    * The explode is OUTER + `h IS NOT NULL` — identical row set (the
    * hash array's elements are never null; outer only adds a null row
    * for empty arrays, which the filter removes), chosen because
    * InferFiltersFromGenerate derives `size(hs) > 0 AND isnotnull(hs)`
    * from an INNER explode and PushDownPredicates then substitutes the
    * FULL fused expression into the scan filter — every document paid
    * the tokenize→shingle→MD5 pass TWICE (round-19 find; the committed
    * q46/q98 before-plans show `Condition : size(shingle_hashes(…)) > 0`
    * under a Project computing the same). The rule skips outer
    * generates, and the `h` filter references a generated attribute, so
    * nothing can be pushed below the projection: the pass runs ONCE. */
  private def shingleHashIndex(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int,
      as: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    spread(docs)
      .select(col(idCol).as(as), Text.tokens(col(textCol)).as("toks"))
      .select(col(as),
        call_function("shingle_hashes", col("toks"), lit(shingleN),
          lit(true)).as("hs"))
      .select(col(as), explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)
  }

  /** The `(<as>, h)` shingle-hash posting index the n-gram gates join on,
    * exposed for compositions that reuse one corpus index across several
    * gates (pair with [[ngramJaccardPairsOnIndex]] /
    * [[benchmarkContaminationOnIndex]] and persist the narrow index —
    * id + 60-bit hash rows — between them). */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, as: String = "id"): DataFrame =
    shingleHashIndex(docs, idCol, textCol, shingleN, as)

  /** [[shingleIndex]] over an already-tokenized (and typically fanned-out
    * / persisted) `(id, toks)` frame — for compositions that materialize
    * tokens once and feed several gates from the same column (round-18:
    * [[Curate.buildCorpus]]). No extra rebalance: the caller owns the
    * frame's partitioning. Identical hashes and row set to the text
    * form. */
  def shingleIndexOfTokens(toked: DataFrame, idCol: String,
      toksCol: String, shingleN: Int = 3, as: String = "id"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(toked.sparkSession)
    toked
      .select(col(idCol).as(as),
        call_function("shingle_hashes", col(toksCol), lit(shingleN),
          lit(true)).as("hs"))
      // outer + isNotNull: identical rows, but InferFiltersFromGenerate
      // can't duplicate the fused pass into a pre-Generate filter (see
      // [[shingleHashIndex]] — here the duplicate ran over the CACHED
      // token arrays, 2× the MD5 pass per build)
      .select(col(as), explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)
  }

  /** Incremental near-dup detection: which INCOMING docs near-dup a doc
    * of the EXISTING corpus — the operational form at 100 TB, where each
    * ingest batch dedups against the corpus index instead of re-running
    * corpus × corpus. The corpus side's banded signature table is the
    * persisted index (compute once, reuse every batch); the batch side
    * signs only the delta, and the candidate join pairs strictly ACROSS
    * the two sides — incoming×incoming and corpus×corpus pairs never
    * form. Cost per batch: O(batch) signature work + a band-key join
    * whose corpus side is pre-bucketed. Same stop-band cap as
    * [[minhashNearDups]], applied to the corpus side where the
    * degenerate buckets live. */
  def minhashNearDupsAgainst(
      corpus: DataFrame, incoming: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 24, shingleN: Int = 3, bands: Int = 8,
      threshold: Double = 0.5, maxBandDocFreq: Long = 1000000L): DataFrame = {
    // cache = true: the corpus index IS the reusable artifact of this
    // operator — every subsequent batch (or repeat run) joins the same
    // index, so recomputing corpus signatures per call would charge the
    // steady state for the build. (The durable form is
    // writeSignatureIndex + minhashNearDupsAgainstIndex.)
    val index = bandedSignatureIndex(corpus, idCol, textCol,
        numHashes, shingleN, bands, cache = true)
      .withColumn("bdf", count(lit(1)).over(Window.partitionBy(col("band"))))
      .filter(col("bdf") <= maxBandDocFreq).drop("bdf")
    minhashNearDupsAgainstIndex(index, incoming, idCol, textCol,
      numHashes, shingleN, bands, threshold)
  }

  /** The steady-state form: join a PRE-BUILT corpus index (persist the
    * [[bandedSignatureIndex]] output once — e.g. to a parquet table
    * bucketed on `band` — and reuse it every batch). Per-batch cost is
    * then O(batch) signature work plus the band join; the corpus is
    * never re-scanned, which is what the SCALE.md steady-state cost
    * model refers to. */
  def minhashNearDupsAgainstIndex(
      corpusIndex: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int = 24, shingleN: Int = 3, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // An index built with a different numHashes would not fail: zip_with
    // pads the shorter signature with nulls and estJaccard divides by the
    // wrong width, silently mis-scoring every pair. Guard the width
    // per-row (a size() compare — no extra job); raise_error fails the
    // query loudly on first contact with a mis-shaped index. Parameter
    // drift that shape alone can't reveal (bands/shingleN) is covered by
    // the [[readSignatureIndex]] sidecar check.
    val sigChecked = when(size(col("sig")) === numHashes, col("sig"))
      .otherwise(raise_error(concat(
        lit("corpus index signature width "), size(col("sig")).cast("string"),
        lit(s" != numHashes=$numHashes — index built with different parameters"))))
    val c = corpusIndex.select(col("id").as("corpus_id"),
      sigChecked.as("sig_c"), col("band"))
    val i = bandedSignatureIndex(incoming, idCol, textCol,
        numHashes, shingleN, bands, cache = false)
      .select(col("id").as("incoming_id"), col("sig").as("sig_i"), col("band"))
    i.join(c, Seq("band"))
      .select(col("incoming_id"), col("corpus_id"), col("sig_i"), col("sig_c"))
      .distinct()
      .withColumn("est_jaccard", estJaccard(col("sig_i"), col("sig_c"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("incoming_id"), col("corpus_id"), col("est_jaccard"))
  }

  /** Per-doc boilerplate fraction: the share of a doc's n-gram shingles
    * that appear in ≥ `minDocs` documents — the passage-level repetition
    * screen (shared headers/footers/templates) that doc-level near-dup
    * detection misses: a doc can be 40% boilerplate yet near-dup of
    * nothing. Plan: the same shingle inverted index the Jaccard join
    * uses, one doc-frequency aggregate on the shingle hash (map-side
    * combined), one join back on that same hash partitioning, one
    * per-doc count. Docs too short to shingle report 0 shingles and a
    * null fraction. */
  def boilerplateFractions(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, minDocs: Int = 5): DataFrame = {
    // ROUND-18 (guide §2.4): doc-frequency as a WINDOW over the one
    // shingle stream instead of a groupBy(h) + join-back — the join form
    // referenced the shingle subtree twice (two full tokenize→shingle→MD5
    // passes, no exchange reuse across agg/probe sides); the window form
    // runs the pass once, spills safely per h-partition, and feeds the
    // per-doc aggregate directly. Same df values, same output.
    val sh = shingleHashIndex(docs, idCol, textCol, shingleN, "id")
    val per = sh
      .withColumn("docfreq", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("docfreq") >= minDocs, 1L).otherwise(0L)).as("n_common"))
    docs.select(col(idCol).as("id"))
      .join(per, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          col("n_common").cast("double") / col("n_shingles").cast("double"))
          .as("boilerplate_frac"))
  }

  /** Cross-document line-level boilerplate REMOVAL (the transform twin of
    * [[boilerplateFractions]]'s score): every non-empty physical line that
    * occurs in at least `minDocs` distinct documents is deleted from every
    * document, and each text is rebuilt from its surviving lines in
    * original order — the classic web-corpus cleanup (navigation bars,
    * cookie banners, shared footers) applied at line granularity.
    *
    * Plan: one posexplode into (doc, pos, line); the doc-frequency
    * aggregate runs on the line's 60-bit [[PortableHash]] — the exchange
    * carries (hash, doc) pairs (16 B), never line text, and partial
    * distinct aggregation shrinks it map-side. The common set (lines in
    * ≥ minDocs docs) is tiny by construction and broadcasts back, so the
    * corpus-side line stream is never shuffled for the membership join;
    * its only corpus-sized exchange is the per-doc rebuild, whose
    * `array_sort` on (pos, line) makes reconstruction deterministic under
    * any partitioning. At a corpus where the common set outgrows the
    * broadcast ceiling, drop the hint and both sides shuffle on the hash
    * the aggregate already partitioned by. A 60-bit collision could
    * delete an innocent line; at 2⁻⁶⁰ per pair that is noise against the
    * boilerplate signal this targets.
    *
    * Empty lines are never removal candidates (they are structure, not
    * content) and survive reconstruction byte-exactly. Documents whose
    * every line is removed surface with `clean_text = ""`.
    */
  def removeCommonLines(
      docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 5): DataFrame = {
    // outer + isNotNull: split() of non-null text is never empty or
    // null-elemented, so the rows are identical — this only stops
    // InferFiltersFromGenerate from cloning the split into the scan
    // filter (see shingleHashIndex; round 19)
    val lines = docs
      .select(col(idCol).as("id"),
        posexplode_outer(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .filter(col("line").isNotNull)
      .withColumn("h", PortableHash.md5Long(col("line")))
    val common = lines
      .filter(length(col("line")) > 0)
      .groupBy(col("h"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(1).as("_rm"))
    val kept = lines
      .join(broadcast(common), Seq("h"), "left_outer")
      .filter(col("_rm").isNull || length(col("line")) === 0)
    val rebuilt = kept
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x("line"))).as("clean_text"))
    docs
      .select(col(idCol).as("id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L)))
          .as("n_lines_removed"))
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle:
    * inverted-index self-join on shingle hash. |A∩B| = count of shared
    * hashes; |A∪B| = |A|+|B|−|A∩B|. The join shuffles on the shingle hash;
    * at scale the blowup is capped by dropping ultra-common shingles
    * (stop-shingle filter, standard practice) before the join.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxShingleDocFreq: Long = 1000000L): DataFrame =
    ngramJaccardPairsOnIndex(
      shingleHashIndex(docs, idCol, textCol, shingleN, "id"),
      threshold, maxShingleDocFreq)

  /** [[ngramJaccardPairs]] over a prebuilt `(id, h)` posting index (from
    * [[shingleIndex]]): lets a composition that needs the SAME corpus
    * index for several gates (near-dup + contamination in
    * [[Curate.buildCorpus]]) tokenize/shingle/hash the corpus once,
    * persist the narrow index, and share it — instead of paying the
    * full text pass per gate. */
  def ngramJaccardPairsOnIndex(
      sh: DataFrame, threshold: Double = 0.5,
      maxShingleDocFreq: Long = 1000000L): DataFrame = {
    // ROUND-19 REVERT to the window-df + posting-self-join form. Round 18
    // replaced it with a collect_list bucket form (one groupBy(h), pairs
    // streamed from a sorted-bucket explode) on stage-count evidence, but
    // the interleaved same-JVM A/B of round 19 (VERDICT.md; 8
    // alternating reps at sf0.1) measured the bucket form 1.52× SLOWER on
    // q46 and 1.33× on q98 — the per-pair `slice` array copies and the
    // double bucket aggregation cost more than the exchange they saved:
    // ReuseExchange already shares the ONE Exchange(h) under all four
    // references of this subtree (they are canonically identical), so the
    // heavy tokenize→shingle→MD5 pass runs once either way — and the pass
    // duplication that motivated round 18's move was largely the
    // InferFiltersFromGenerate scan-filter duplication, fixed for real in
    // [[shingleHashIndex]] this round (explode_outer). The join streams
    // pairs with zero per-pair allocation; the window df cap filters rows
    // BEFORE anything aggregates, so per-task memory stays O(maxDF).
    // Results bit-identical in both directions (the round-19 A/B's
    // equality check in VERDICT.md and the standing oracle pin it).
    val filtered = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") <= maxShingleDocFreq).drop("df")
    val sizes = filtered.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val common = filtered.as("a")
      .join(filtered.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("common"), col("jaccard"))
  }

  /** Benchmark decontamination: for every (corpus doc, benchmark doc) pair
    * sharing ≥ 1 shingle, the CONTAINMENT |A∩B| / |B| of the benchmark's
    * shingles in the doc — the standard n-gram overlap check run before
    * training to find eval-set leakage. Asymmetric by design: a long doc
    * that embeds a whole benchmark item scores 1.0 even though its Jaccard
    * is tiny.
    *
    * Same inverted-index shape as [[ngramJaccardPairs]], but the join is
    * corpus × benchmark — the benchmark side is small (eval sets are
    * thousands of items), so its posting lists bound the blowup and the
    * corpus is touched once. The stop-shingle cap applies to the corpus
    * side only; benchmark shingles are never dropped (dropping one could
    * mask real contamination).
    */
  def benchmarkContamination(
      docs: DataFrame, docIdCol: String, docTextCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      shingleN: Int = 3, minContainment: Double = 0.5,
      maxShingleDocFreq: Long = 1000000L): DataFrame =
    benchmarkContaminationOnIndex(
      shingleHashIndex(docs, docIdCol, docTextCol, shingleN, "doc_id"),
      shingleHashIndex(bench, benchIdCol, benchTextCol, shingleN, "bench_id"),
      minContainment, maxShingleDocFreq)

  /** [[benchmarkContamination]] over prebuilt posting indexes —
    * `docIndex` with columns `(doc_id, h)`, `benchIndex` with
    * `(bench_id, h)` (from [[shingleIndex]]). Same sharing rationale as
    * [[ngramJaccardPairsOnIndex]]. */
  def benchmarkContaminationOnIndex(
      docIndex: DataFrame, benchIndex: DataFrame,
      minContainment: Double = 0.5,
      maxShingleDocFreq: Long = 1000000L): DataFrame = {
    // ROUND-19 REVERT to the window-df-cap + h-join form, same
    // measurement and rationale as [[ngramJaccardPairsOnIndex]] (the
    // bucket variant lost the interleaved A/B). The corpus index is
    // touched once; the bench side is small by contract and its posting
    // lists are never capped (dropping one could mask real
    // contamination). Identical rows, counts and doubles either way.
    val d = docIndex
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") <= maxShingleDocFreq).drop("df")
    val b = benchIndex
    val benchSizes = b.groupBy(col("bench_id")).agg(count(lit(1)).as("n_bench"))
    d.join(b, Seq("h"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_common"))
      .join(benchSizes, Seq("bench_id"))
      .withColumn("containment",
        col("n_common").cast("double") / col("n_bench").cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("doc_id"), col("bench_id"), col("n_common"), col("containment"))
  }

  // --------------------------------------------------------------- clusters

  /** Connected components over a near-dup pair graph: every node gets the
    * MINIMUM doc id reachable from it — the canonical representative of
    * its duplicate cluster.
    *
    * Near-dup pairs are not a dedup decision by themselves: A≈B and B≈C
    * must collapse {A,B,C} to one kept doc even when A and C never collide
    * in any bucket. This is the standard iterative min-label propagation
    * (Hash-Min, cf. the map-reduce CC literature — Rastogi et al.,
    * ICDE'13) with a pointer-jumping step (`comp ← comp(comp)`) folded
    * into each round, so convergence is O(log diameter) rounds instead of
    * O(diameter) — a 1M-doc boilerplate chain converges in ~20 rounds, not
    * 1M. Each round is two shuffles of the label table on `id`
    * (neighbor-min join + jump join); edges are cached once and reused.
    * The driver loop carries no data — only the per-round changed-count
    * (a 1-row aggregate), the standard Spark shape for iterative graph
    * algorithms (GraphX's Pregel drives the same way). `localCheckpoint`
    * truncates lineage so plans don't grow with rounds.
    *
    * Output: (id, comp) for every id appearing in `pairs`; comp = min id
    * of the component. Deterministic — the fixpoint is unique.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 25): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      // neighbor-min: the smallest label among each node's neighbors
      val nbr = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("comp")).as("nbr_comp"))
      val stepped = labels.as("l")
        .join(nbr, col("l.id") === nbr("src"), "left_outer")
        .select(col("l.id").as("id"),
          least(col("l.comp"), coalesce(col("nbr_comp"), col("l.comp"))).as("comp"))
      // pointer jump: comp is always a node id, so chase one hop of its
      // own label — halves the remaining path length every round
      val next = stepped.as("s")
        .join(stepped.select(col("id").as("cid"), col("comp").as("ccomp")).as("c"),
          col("s.comp") === col("c.cid"), "left_outer")
        .select(col("s.id").as("id"),
          least(col("s.comp"), coalesce(col("ccomp"), col("s.comp"))).as("comp"))
        .localCheckpoint()
      changed = next.as("n").join(labels.as("o"), "id")
        .filter(col("n.comp") =!= col("o.comp")).limit(1).count()
      labels = next
      round += 1
    }
    edges.unpersist()
    require(changed == 0L,
      s"connectedComponents did not converge in $maxRounds rounds — " +
        "component diameter exceeds 2^rounds, which means the pair graph " +
        "is pathological; raise maxRounds")
    labels
  }

  /** Duplicate-cluster assignment for a whole corpus: every doc gets its
    * cluster id (= min doc id of its connected near-dup component; docs in
    * no pair are singleton clusters of themselves) and the cluster size.
    * The kept/canonical doc of a cluster is the one with id == cluster_id.
    * One broadcast-sized join against the component table (pairs are rare
    * relative to the corpus) plus one count shuffle on cluster_id.
    */
  def dedupClusters(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val assigned = docs.select(col(idCol))
      .join(cc, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("cluster_id"))
    val sizes = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("cluster_size"))
  }

  // ------------------------------------------------------------- embeddings

  /** Embedding near-dup pairs: cosine ≥ threshold. Brute-force O(n²) —
    * the VERIFICATION path, guarded so it can't silently plan a
    * corpus-scale nested-loop cross product: `maxRows` is checked with a
    * bounded limit-probe (stops scanning at maxRows+1 rows, never counts
    * the corpus). [[embeddingNearDupsLsh]] is the scale path.
    */
  def embeddingNearDups(
      embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Int = 100000): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(embs.sparkSession)
    val probed = embs.select(col(idCol)).limit(maxRows + 1).count()
    require(probed <= maxRows,
      s"embeddingNearDups plans an O(n²) cross join; corpus exceeds $maxRows rows — " +
        "use embeddingNearDupsLsh (banded hyperplane LSH + exact verify) at scale")
    val e = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding near-dup pairs at corpus scale: banded random-hyperplane
    * LSH candidates + exact cosine verification.
    *
    * One 60-bit hyperplane signature per vector (bands × rowsPerBand
    * planes, computed in a single codegen'd pass), exploded into `bands`
    * band keys; candidate pairs come from band-key collisions, so the
    * shuffle is O(corpus × bands) — never all-pairs. Every candidate is
    * then verified with the exact cosine (norms precomputed once per row),
    * so precision is exact and only recall is probabilistic:
    * P(found) = 1 − (1 − p^r)^b with p = 1 − θ/π. The defaults
    * (r = 4 bits × b = 15 bands) hold recall ≳ 0.9 down to cos ≈ 0.45;
    * for production thresholds (cos ≥ 0.9, p ≈ 0.86) raise `rowsPerBand`
    * to 8-12 — finer buckets, far fewer candidates, same recall.
    */
  def embeddingNearDupsLsh(
      embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, rowsPerBand: Int = 4, bands: Int = 15,
      dim: Int = 64, maxBucketDocFreq: Long = 1000000L): DataFrame = {
    require(rowsPerBand * bands <= 60,
      "signature packs into one long: bands × rowsPerBand must be ≤ 60 bits")
    graft.functions.GraftFunctions.ensureRegistered(embs.sparkSession)
    val nBuckets = 1L << rowsPerBand
    val sig = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.lshSignature(col(vecCol), rowsPerBand * bands, dim).as("sig"),
      Similarity.norm(col(vecCol)).as("nrm"))
    val banded = sig.select(col("id"), col("v"), col("nrm"),
      explode(array((0 until bands).map { b =>
        // band-local bucket, offset so band b's keyspace can't collide
        // with band b+1's (same trick as lshBandKeys' "$b:" prefix)
        lit(b * nBuckets) +
          shiftright(col("sig"), b * rowsPerBand).bitwiseAND(lit(nBuckets - 1))
      }: _*)).as("bucket"))
      // stop-bucket cap, same hole minhashNearDups plugs with
      // maxBandDocFreq: degenerate embeddings (all-zero vectors from
      // failed encoder batches all share one signature — vec_dot = 0
      // passes >= 0 on every plane) would make one bucket quadratic.
      // The frequency window rides the bucket key the join shuffles on.
      .withColumn("bdf", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("bdf") <= maxBucketDocFreq).drop("bdf")
    banded.as("a").join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
      .distinct()
      .filter(col("cos") >= threshold)
  }

  // ------------------------------------------------- cross-doc substrings

  /** Cross-document repeated-substring detection: every `windowTokens`-long
    * token window is hashed; windows whose hash appears in ≥ `minDocs`
    * DISTINCT documents mark their span [pos, pos+w−1] as duplicated, and
    * overlapping spans merge per doc into maximal covered regions.
    *
    * This is the span-level complement of whole-doc similarity (MinHash /
    * SimHash measure "are these docs alike?"; this measures "which PARTS of
    * this doc are copied from elsewhere?") — the screen that catches license
    * boilerplate, quoted passages and template fragments embedded in
    * otherwise-unique documents.
    *
    * Shape at 100 TB: the window explode is corpus × tokens rows but
    * collapses immediately into a distinct-doc-frequency aggregate on the
    * 60-bit window hash (two-phase, map-side combined — the exchange
    * carries (hash, doc) pairs, 16 B each, never text). The join back is an
    * equi-join on that same hash key, and the interval merge is ONE shuffle
    * on doc id with a running-max window — no O(n²) step anywhere. Interval
    * merging via the gaps-and-islands running max avoids the naïve
    * "explode every covered position" ×w blow-up.
    *
    * Output per input doc: `n_tokens`, `n_dup_windows` (windows shared with
    * another doc), `n_spans` (maximal merged regions), `covered_tokens`,
    * `dup_fraction` = covered/n_tokens. Docs shorter than the window, or
    * with no shared windows, report zeros — internal repetition within a
    * single doc does NOT count (doc frequency is distinct-doc).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    val w = windowTokens
    require(w >= 1, "windowTokens must be >= 1")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // spread BEFORE tokenizing: the window-hash pass below is the cost
    val toked = spread(docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), Text.tokens(col(textCol)).as("t"))
    // (doc, pos, h): one row per window; pos is 1-based token position.
    // Cached: the frame feeds BOTH the document-frequency aggregation and
    // the duplicated-window join probe — without the cache every window's
    // tokenize + 8-token concat + MD5 is computed twice (measured ~20%
    // of q80's wall time at sf0.1). Narrow (id, pos, h) rows only,
    // spill-safe, same pattern as the cached MinHash signature table —
    // and like that table the cache entry deliberately lives for the
    // session (a lazily-evaluated result can't unpersist behind its own
    // consumer; Spark evicts LRU under memory pressure, and
    // `spark.catalog.clearCache()` reclaims it explicitly).
    // fused codegen'd window-hash pass (graft.functions.ShingleHashes,
    // distinct=false: one hash per window position, position order —
    // value-identical to the interpreted transform/md5Long form it
    // replaces; round-18 guide-§4 rewrite, parity spec-pinned)
    val wins = toked
      .select(col("doc_id"), posexplode(
        call_function("shingle_hashes", col("t"), lit(w), lit(false))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hashes seen in >= minDocs distinct docs (two-phase distinct agg)
    val dupH = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs).select("h")
    // keep duplicated windows, merge overlapping spans per doc
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = wins.join(dupH, "h")
      .select(col("doc_id"), col("pos"), (col("pos") + lit(w - 1)).as("e"))
      .withColumn("pme", max(col("e"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island", sum(
          when(col("pos") > coalesce(col("pme"), lit(0L)), 1).otherwise(0))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"),
        count(lit(1)).as("nw"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nw")).as("n_dup_windows"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("covered_tokens"))
    toked.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(when(col("n_tokens") > 0,
            coalesce(col("covered_tokens"), lit(0L)).cast("double")
              / col("n_tokens"))
          .otherwise(lit(0.0)), 6).as("dup_fraction"))
  }
}
