package graft

import graft.llm.{Curate, Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** Property checks for the approximate / non-oracle LLM-data operators
  * (SURVEY.md §5.3): sketch recall vs exact ground truth, hamming
  * behavior, and the multimodal decode plumbing. */
class LlmSpec extends SparkSpec {

  test("minhash_lsh recovers >=90% of exact near-dup pairs (sf0.001)") {
    val exact = Dedup.queries("dedup_near")(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Dedup.queries("minhash_lsh")(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "ground truth empty — threshold miscalibrated")
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (|exact|=${exact.size}, |approx|=${approx.size})")
    // verification step means no false positives below the threshold
    assert((approx -- exact).isEmpty, "LSH emitted pairs below the Jaccard threshold")
  }

  test("verdictsFromPairs: pairs repeated 1 to nBands times give the verdicts of the deduplicated pairs (sf0.001)") {
    // The streaming sink's cross-epoch candidates are a multiset: a pair
    // sharing k bands surfaces k times. Every copy carries the same
    // jaccard, so the verdicts must not see the copies.
    val docs = Tables.documents(spark, sf0001)
    val nBands = Dedup.lshBands(docs)
    val pairs = Dedup.minhashLsh(docs, 0.95)
    val repeated = pairs.withColumn("copy", explode(sequence(lit(1),
        pmod(xxhash64(col("doc_a"), col("doc_b")), lit(nBands)).cast("int") + 1)))
      .drop("copy")
    val ids = docs.select(col("doc_id"))
    def verdicts(p: org.apache.spark.sql.DataFrame) =
      Dedup.verdictsFromPairs(ids, p).orderBy(col("doc_id")).collect().toSeq
    val copies = repeated.groupBy("doc_a", "doc_b").count()
      .agg(min("count"), max("count")).collect()(0)
    assert((copies.getLong(0), copies.getLong(1)) === ((1L, nBands.toLong)),
      "the repeats do not span 1 to nBands copies")
    val want = verdicts(pairs)
    assert(verdicts(repeated) === want)
    assert(want.exists(!_.getBoolean(1)),
      "corpus surfaced no dups — the comparison is vacuous")
  }

  test("simhash: identical texts collide, near-identical are hamming-close (literal frames)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "join filter window agg scan sort merge batch"),
      (2L, "join filter window agg scan sort merge batch"),   // identical
      (3L, "join filter window agg scan sort merge stream"),  // one token off
      (4L, "zebra yak xylophone walrus vulture termite")      // disjoint
    ).toDF("doc_id", "text")
    val out = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(out(1L) === out(2L))
    // 64-bit sketch: one token of eight changed moves few majority votes
    assert(hamming(out(1L), out(3L)) <= 20,
      s"near-identical docs too far: ${hamming(out(1L), out(3L))}")
    assert(hamming(out(1L), out(4L)) > hamming(out(1L), out(3L)),
      "disjoint doc not farther than near-identical doc")
  }

  test("minhash banding is conf-tunable: 6x10 geometry keeps recall >= 0.9 and rejects a non-divisor") {
    val exact = Dedup.queries("dedup_near")(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set(Dedup.LshBandsKey, "6")
    try {
      val approx = Dedup.queries("minhash_lsh")(spark, sf0001)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & approx).size.toDouble / exact.size
      // P(cand | j=0.95) at 6x10 = 1-(1-0.95^10)^6 ≈ 0.994 — recall holds
      assert(recall >= 0.9, s"6-band recall $recall < 0.9")
      assert((approx -- exact).isEmpty, "verify step must keep exactness")
      spark.conf.set(Dedup.LshBandsKey, "7") // 7 does not divide 60
      val e = intercept[IllegalArgumentException] {
        Dedup.queries("minhash_lsh")(spark, sf0001).count()
      }
      assert(e.getMessage.contains("divide"))
    } finally spark.conf.unset(Dedup.LshBandsKey)
  }

  test("minhash signatures: UDAF (token relation) and inline expression (token array) are bit-identical (sf0.001)") {
    val docs = Tables.documents(spark, sf0001).limit(100)
    val udafSigs = Dedup.signatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val exprSigs = Dedup.signaturesInline(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(udafSigs.keySet === exprSigs.keySet)
    udafSigs.foreach { case (id, sig) =>
      assert(sig === exprSigs(id), s"signature mismatch for doc $id")
    }
  }

  test("bandedPairs: each pair sharing >= 1 band emitted exactly once, 2/4/5/16 bands (literal frames)") {
    val s = spark
    import s.implicits._
    for (nBands <- Seq(2, 4, 5, 16)) {
      // Keys from a 3-letter alphabet make pairs share 0, 1, several or
      // all bands; rows 1-3 pin the edge cases explicitly: 1 and 2 share
      // every band, 1 and 3 only the last one.
      val rnd = new scala.util.Random(nBands)
      val rows = Seq(
        1L -> Seq.fill(nBands)(7L),
        2L -> Seq.fill(nBands)(7L),
        3L -> (Seq.fill(nBands - 1)(8L) :+ 7L)) ++
        (4L to 40L).map(i => i -> Seq.fill(nBands)(rnd.nextInt(3).toLong))
      val banded = Dedup.bandedPairs(rows.toDF("id", "ks"), "id",
        (0 until nBands).map(b => col("ks")(b)), ("id_a", "id_b"), carry = Seq("ks"))
      assert(banded.columns.toSeq === Seq("id_a", "id_b", "ks_a", "ks_b"))
      val out = banded.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2), r.getSeq[Long](3))).toSeq
      val keys = rows.toMap
      val brute = (for {
        (a, ka) <- rows; (b, kb) <- rows
        if a < b && ka.zip(kb).exists { case (x, y) => x == y }
      } yield (a, b)).toSet
      val pairs = out.map(r => (r._1, r._2))
      assert(pairs.size === pairs.distinct.size,
        s"$nBands bands: duplicate pair rows")
      assert(pairs.toSet === brute, s"$nBands bands: banded != brute force")
      assert(pairs.toSet.contains((1L, 2L)) && pairs.toSet.contains((1L, 3L)))
      assert(out.forall(r => r._3 == keys(r._1) && r._4 == keys(r._2)),
        s"$nBands bands: carried columns not from their own side")
    }
  }

  test("simhash_pairs: banded hamming join recovers near-identical docs, exactly for radius 3 (literal frames)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "join filter window agg scan sort merge batch"),
      (2L, "join filter window agg scan sort merge batch"),   // identical → hamming 0
      (3L, "join filter window agg scan sort merge stream"),  // one token off
      (4L, "zebra yak xylophone walrus vulture termite")      // disjoint
    ).toDF("doc_id", "text")
    val rows = Dedup.simhashPairs(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    val out = rows.toMap
    assert(rows.length === out.size, "duplicate pair rows")
    assert(out.contains((1L, 2L)) && out((1L, 2L)) === 0L,
      "identical docs not recovered at hamming 0")
    // exactness: the banded join must emit exactly the pairs within the
    // radius that a brute-force hamming scan finds
    val sketches = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sketches.keys; b <- sketches.keys if a < b
      h = java.lang.Long.bitCount(sketches(a) ^ sketches(b)) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(out === brute, s"banded=$out brute=$brute")
  }

  test("minhash_lsh_verdict: exact-verified subset, identical docs guaranteed candidates, recall vs exact pairs (sf0.001 + literal)") {
    val s = spark
    import s.implicits._
    // Exact verification step ⇒ output ⊆ exact j ≥ 0.95 pairs. Banding
    // recall for the SHIPPED 4×12 geometry (k=48 — ADVICE r16 corrected
    // this comment from the abandoned k=16 math) is 1−(1−j¹²)⁴ ≈ 0.955
    // at exactly j=0.95, rising steeply above it (0.9997 at j=0.99,
    // 1.0 at j=1); the sf0.001 exact-pair set is dominated by the
    // generator's planted exact duplicates (j=1 ⇒ all four band keys
    // equal ⇒ guaranteed candidates), so the 0.9 bound keeps margin —
    // it would take ≥ 10% of pairs sitting at the j≈0.95 borderline
    // AND losing their 0.955 coin for the gate to flap.
    val out = Dedup.queries("minhash_lsh_verdict")(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.queries("dedup_near")(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "ground truth empty")
    assert((out -- exact).isEmpty,
      "verdict arm emitted a pair below the exact-Jaccard threshold")
    val recall = (exact & out).size.toDouble / exact.size
    assert(recall >= 0.9, s"verdict banding recall $recall < 0.9")
    // Planted EXACT duplicates are guaranteed (not probabilistic)
    // candidates: identical token sets ⇒ all 16 signature mins equal ⇒
    // every band key matches (VERDICT r15 #3's ⊇-planted-dups pin).
    val docs = Seq(
      (1L, "join filter window agg"),
      (2L, "join filter window agg"),      // identical → jaccard 1.0
      (3L, "zebra yak xylophone walrus")   // disjoint
    ).toDF("doc_id", "text")
    val lit = Dedup.minhashLshVerdict(docs, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lit === Map((1L, 2L) -> 1.0),
      s"planted exact dup not (exclusively) surfaced: $lit")
  }

  test("simhash_pairs_verdict: banded join exact vs brute-force over the md5 sketch (sf0.001 + literal identical pair)") {
    val s = spark
    import s.implicits._
    val docs = graft.Tables.documents(spark, sf0001)
    val rows = Dedup.simhashPairsVerdict(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    val out = rows.toMap
    assert(rows.length === out.size, "duplicate pair rows")
    // Pigeonhole exactness for radius ≤ 3: the banded join must emit
    // EXACTLY the pairs a brute-force hamming scan over the same md5
    // sketch finds (the simhash_pairs exactness pin, verdict family).
    val sk = Dedup.simhashVerdictSketch(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sk.keys; b <- sk.keys if a < b
      h = java.lang.Long.bitCount(sk(a) ^ sk(b)) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(out === brute,
      s"banded ${out.size} pairs != brute ${brute.size} pairs")
    // Identical docs share every md5-derived bit → hamming 0 guaranteed.
    val lit = Dedup.simhashPairsVerdict(Seq(
      (1L, "join filter window agg"),
      (2L, "join filter window agg")).toDF("doc_id", "text"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(lit((1L, 2L)) === 0L, "identical docs not at hamming 0")
  }

  test("embed_lshpairs_verdict: banded candidates exact vs a driver-side fold over the integer band keys (sf0.001)") {
    // Independent reimplementation of the whole integer pipeline
    // (floor-quantize, md5-nibble hyperplane signs, sign bits, packed
    // 8-bit keys) — the banded join must emit EXACTLY the pairs the
    // fold admits; qdot values are pinned by the DuckDB oracle.
    val out = Similarity.queries("embed_lshpairs_verdict")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = graft.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h = Array.tabulate(16, 64) { (j, i) =>
      val c = md5hex(s"$j:$i").charAt(0)
      val d = if (c >= 'a') c - 'a' + 10 else c - '0'
      if (d >= 8) 1L else -1L
    }
    def keys(v: Array[Float]): (Long, Long) = {
      val c = v.map(x => math.floor(x.toDouble * 1000).toLong)
      val bits = (0 until 16).map(j =>
        (0 until 64).map(i => c(i) * h(j)(i)).sum > 0)
      ((0 until 8).map(j => if (bits(j)) 1L << j else 0L).sum,
        (8 until 16).map(j => if (bits(j)) 1L << (j - 8) else 0L).sum)
    }
    val ks = vecs.map { case (id, v) => id -> keys(v) }
    val brute = (for {
      a <- ks.keys; b <- ks.keys if a < b
      if ks(a)._1 == ks(b)._1 || ks(a)._2 == ks(b)._2
    } yield (a, b)).toSet
    assert(out === brute,
      s"banded ${out.size} pairs != driver fold ${brute.size} pairs")
    assert(out.nonEmpty, "no candidates — banding vacuous on this corpus")
  }

  test("embed_lshpairs: hyperplane LSH recovers planted vector near-dups (recall >= 0.9) and prunes the pair space (sf0.001)") {
    val s = spark
    import s.implicits._
    // The real corpus has no high-cos pairs (max ≈ 0.5), so plant 50
    // noisy copies at cos ≈ 0.97 — the regime vector near-dup targets.
    val base = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rng = new scala.util.Random(7)
    val planted = base.take(50).map { case (id, v) =>
      (id + 10000L, v.map(x => x + 0.03f * rng.nextGaussian().toFloat))
    }
    val aug = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    // Exact ground truth with the same kernel arithmetic (brute force).
    val a = aug.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      Similarity.dotFast(col("embedding"), col("embedding")).as("sqa"))
    val b = aug.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      Similarity.dotFast(col("embedding"), col("embedding")).as("sqb"))
    val cos = Similarity.cos4Pre(
      Similarity.dotFast(col("ea"), col("eb")), col("sqa"), col("sqb"))
    val exact = a.join(b, col("vec_a") < col("vec_b") && cos >= 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 50, s"expected >=50 planted pairs, got ${exact.size}")
    val approx = Similarity.hyperplanePairs(aug, 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (|exact|=${exact.size}, |approx|=${approx.size})")
    // exact-verify step ⇒ no pairs below the threshold
    assert((approx -- exact).isEmpty, "LSH emitted pairs below the cosine threshold")
    // the candidate set must be a small fraction of the 550·549/2 pairs
    val nCands = Similarity.hyperplanePairs(aug, -1.0).count()
    val allPairs = 550L * 549 / 2
    assert(nCands < allPairs / 20,
      s"banding admitted $nCands of $allPairs pairs — no pruning")
  }

  test("dedup_semantic: recovers planted semantic dups (recall >= 0.9), never flags a non-dup (sf0.001)") {
    val s = spark
    import s.implicits._
    // Plant 50 noisy copies at cos ≈ 0.97 — SemDeDup's target regime:
    // genuinely-near-identical vectors land in the same k-means cell, so
    // within-cluster blocking must surface (nearly) every planted pair.
    val base = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val rng = new scala.util.Random(11)
    val planted = base.take(50).map { case (id, v) =>
      (id + 10000L, v.map(x => x + 0.03f * rng.nextGaussian().toFloat))
    }
    val aug = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val a = aug.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      Similarity.dotFast(col("embedding"), col("embedding")).as("sqa"))
    val b = aug.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      Similarity.dotFast(col("embedding"), col("embedding")).as("sqb"))
    val cos = Similarity.cos4Pre(
      Similarity.dotFast(col("ea"), col("eb")), col("sqa"), col("sqb"))
    val exact = a.join(b, col("vec_a") < col("vec_b") && cos >= 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 50, s"expected >=50 planted pairs, got ${exact.size}")
    val sem = Similarity.semanticPairs(aug, 0.9)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & sem).size.toDouble / exact.size
    assert(recall >= 0.9, s"semantic recall $recall < 0.9 " +
      s"(|exact|=${exact.size}, |sem|=${sem.size})")
    // exact-cosine verification ⇒ precision 1.0 (no pair below threshold)
    assert((sem -- exact).isEmpty, "semantic pairs below the cosine threshold")
    // the verdict table is total and single-keeper-per-component
    val verdicts = Similarity.semanticDedup(aug, 0.9).collect()
    assert(verdicts.length === base.length + 50)
    val byComp = verdicts.groupBy(_.getAs[Long]("component_id"))
    byComp.foreach { case (cid, members) =>
      assert(members.count(_.getAs[Long]("keep") == 1L) === 1,
        s"component $cid has != 1 keeper")
      assert(members.map(_.getAs[Long]("vec_id")).min === cid,
        s"component $cid keeper is not the min id")
    }
  }

  test("candidate rows measure the real stage: semantic pairs and ann_ivf results lie inside their candidate frames (sf0.001)") {
    // k-means is hash-seeded, so each call rebuilds the same index: the
    // StressBench candidate rows count the frame the queries consume.
    val emb = Tables.embeddings(spark, sf0001)
    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = pairs(Similarity.semanticPairs(emb, Similarity.NeardupCos), "vec_a", "vec_b")
    val semCands = pairs(Similarity.semanticCandidates(emb), "vec_a", "vec_b")
    assert(sem.nonEmpty && sem.subsetOf(semCands),
      s"${(sem -- semCands).size} of ${sem.size} semantic pairs are not candidates")
    val ann = pairs(Similarity.queries("ann_ivf")(spark, sf0001), "probe_id", "vec_id")
    val ivfCands = pairs(Similarity.ivfCandidates(spark, sf0001), "probe_id", "vec_id")
    assert(ann.size === 50 && ann.subsetOf(ivfCands),
      s"${(ann -- ivfCands).size} of ${ann.size} ann_ivf results are not candidates")
    assert(ivfCands.size > ann.size, "the candidate frame should exceed the top-k")
  }

  test("dedup_semantic: natural-corpus verdicts are deterministic and exact-subset (sf0.01)") {
    val emb = Tables.embeddings(spark, sf001)
    val v1 = Similarity.semanticDedup(emb, 0.35).collect()
    val v2 = Similarity.semanticDedup(emb, 0.35).collect()
    assert(v1.map(_.toString).toSeq === v2.map(_.toString).toSeq,
      "semanticDedup is not deterministic across runs")
    // every flagged dup really does have an exact cos >= 0.35 partner
    val flagged = v1.filter(_.getAs[Long]("keep") == 0L)
      .map(_.getAs[Long]("vec_id")).toSet
    val exactVecs = Similarity.exactPairs(emb, 0.35)
      .select("vec_a", "vec_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(flagged.subsetOf(exactVecs),
      s"${(flagged -- exactVecs).size} flagged dups have no exact partner")
  }

  test("decontaminate_semantic: planted paraphrase flagged on both arms; cluster arm conservative vs exact (sf0.001 + planted)") {
    val s = spark
    import s.implicits._
    def side(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:split".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.substring(0, 2) < "e6") "train" else "holdout"
    }
    // natural corpus, exact arm: every reported row is a train doc, its
    // match a holdout doc, at or above the threshold
    val out = Curate.queries("decontaminate_semantic")(spark, sf0001).collect()
    assert(out.nonEmpty, "no semantic contamination flagged at sf0.001")
    out.foreach { r =>
      assert(side(r.getAs[Long]("doc_id")) === "train")
      assert(side(r.getAs[Long]("eval_doc")) === "holdout")
      assert(r.getAs[Double]("max_cos") >= Similarity.NeardupCos)
    }
    // planted paraphrase: a holdout doc's embedding lightly perturbed
    // into a train doc — no shared tokens needed, the case the n-gram
    // probe cannot catch. The planted train doc must be flagged with
    // the planted eval doc as its best match, on BOTH arms.
    val base = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val h0 = base.map(_._1).filter(side(_) == "holdout").min
    val hVec = base.find(_._1 == h0).get._2
    val rng = new scala.util.Random(17)
    val tId = (10000L to 10050L).find(side(_) == "train").get
    val planted = (tId, hVec.map(x => x + 0.02f * rng.nextGaussian().toFloat))
    val aug = (base :+ planted).toSeq.toDF("vec_id", "embedding")
    val exactOut = Curate.decontaminateSemantic(aug).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("eval_doc"), r.getAs[Double]("max_cos"))).toMap
    assert(exactOut.contains(tId), "planted paraphrase train doc not flagged")
    assert(exactOut(tId)._1 === h0 && exactOut(tId)._2 >= 0.9,
      s"planted match wrong: ${exactOut(tId)}")
    spark.conf.set(Curate.SemanticDecontStrategyKey, "cluster")
    try {
      val clusterOut = Curate.decontaminateSemantic(aug).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("eval_doc"), r.getAs[Double]("max_cos"))).toMap
      assert(clusterOut.contains(tId),
        "cluster arm missed the planted paraphrase (same-cell regime)")
      assert(clusterOut(tId)._1 === h0)
      // the blocked arm can only UNDER-report: flagged docs are a subset
      // and each per-doc max is at most the exact arm's
      assert(clusterOut.keySet.subsetOf(exactOut.keySet))
      clusterOut.foreach { case (doc, (_, c)) =>
        assert(c <= exactOut(doc)._2 + 1e-9) }
    } finally spark.conf.unset(Curate.SemanticDecontStrategyKey)
  }

  test("curate_dsir: selects ceil(25%) globally, ranked by llr then doc_id (sf0.001)") {
    val docs = Tables.documents(spark, sf0001)
    val out = Curate.dsirSelect(docs, Curate.DsirTargetLang, 0.25).collect()
    val n = docs.count()
    assert(out.length === math.ceil(n * 0.25).toInt,
      s"selected ${out.length} of $n")
    // ranks are 1..k and the (llr desc, doc_id) order is strictly kept
    assert(out.map(_.getAs[Long]("sel_rank")).toSeq === (1L to out.length).toSeq)
    val keys = out.map(r => (-r.getAs[Double]("llr"), r.getAs[Long]("doc_id")))
    assert(keys.toSeq === keys.sortBy(identity).toSeq, "selection order broken")
    // the target-language slice must be over-represented among the
    // selected docs vs its corpus share (the whole point of DSIR)
    val selEn = out.count(_.getAs[String]("lang") == Curate.DsirTargetLang)
    val corpusEnShare = docs.filter(col("lang") === Curate.DsirTargetLang)
      .count().toDouble / n
    assert(selEn.toDouble / out.length > corpusEnShare,
      s"target share not lifted: ${selEn.toDouble / out.length} <= $corpusEnShare")
  }

  test("text_cms_topk: CMS estimates are one-sided and within the eps bound on sf0.001") {
    val out = llm.TextOps.queries("text_cms_topk")(spark, sf0001).collect()
    assert(out.length === 20)
    val totalTokens = Tables.documents(spark, sf0001)
      .agg(sum(size(split(col("text"), " ")))).head.getLong(0)
    out.foreach { r =>
      val (exact, est) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_est"))
      // CMS never under-counts…
      assert(est >= exact, s"CMS under-counted ${r.getString(0)}: $est < $exact")
      // …and over-counts by at most eps·N per probe (prob ≥ 0.99 each;
      // 2× slack makes the 20-probe test deterministic in practice)
      assert(est - exact <= (2 * 0.001 * totalTokens).toLong + 1,
        s"CMS over-count for ${r.getString(0)} beyond bound: $est vs $exact")
    }
  }

  test("text_cms_topk_verdict: one-sided estimates, w=512 grid load makes collisions visible (sf0.001)") {
    val out = llm.TextOps.queries("text_cms_topk_verdict")(spark, sf0001)
      .collect()
    assert(out.length === 20)
    out.foreach { r =>
      val (exact, est) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_est"))
      // the CMS invariant the mechanism must preserve regardless of
      // hash family: min-over-rows never under-counts
      assert(est >= exact, s"verdict CMS under-counted ${r.getString(0)}")
    }
    // the probe set must be the exact top-20 (same bounded frame the
    // production row probes) — compare against the wordcount truth
    val truth = llm.TextOps.queries("text_wordcount")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(r => r.getString(0)).toSet === truth.keySet)
    out.foreach(r => assert(r.getAs[Long]("n_exact") === truth(r.getString(0))))
  }

  test("ann_pq_verdict: duplicate vectors share codes and ADC scores; output structurally sound (sf0.001)") {
    val s = spark
    import s.implicits._
    val out = Similarity.queries("ann_pq_verdict")(spark, sf0001).collect()
    // 10 probes × top-5, rn dense per probe, self excluded
    assert(out.length === 50)
    val byProbe = out.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.keySet === (0L until 10L).toSet)
    byProbe.foreach { case (p, rows) =>
      assert(rows.map(_.getAs[Long]("rn")).sorted.toSeq === (1L to 5L),
        s"probe $p rn not dense")
      assert(rows.forall(_.getAs[Long]("vec_id") != p), s"probe $p self-match")
      // scores non-increasing in rank (the ADC ordering the oracle pins)
      val byRn = rows.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("adc"))
      assert(byRn.zip(byRn.tail).forall { case (a, b) => a >= b })
    }
    // Encode determinism on a literal frame: a duplicated vector gets
    // identical per-subspace codes, so any probe scores both copies
    // identically and they rank adjacently (tie broken by vec_id).
    val v = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val w = Array.tabulate(64)(i => (math.cos(i + 1) * 0.5).toFloat)
    val emb = (Seq((0L, w)) ++ (1L to 8L).map(i =>
      (i, Array.tabulate(64)(j => ((j * 31 + i * 17) % 97 / 97.0f - 0.5f)))) ++
      Seq((20L, v), (21L, v))).toDF("vec_id", "embedding")
    val dup = Similarity.annPqVerdict(emb, 11).collect()
      .filter(r => Set(20L, 21L)(r.getAs[Long]("vec_id")))
      .groupBy(_.getAs[Long]("probe_id"))
    dup.foreach { case (p, rows) =>
      if (p != 20L && p != 21L && rows.length == 2) {
        assert(rows(0).getAs[Long]("adc") === rows(1).getAs[Long]("adc"),
          s"probe $p scored duplicate vectors differently")
        val rns = rows.map(_.getAs[Long]("rn")).sorted
        assert(rns(1) === rns(0) + 1, s"probe $p duplicates not adjacent")
      }
    }
  }

  test("hyperplane band width: auto sizes from row stats, clamps to [12, 24], conf pin overrides") {
    val s = spark
    import s.implicits._
    // tiny corpus → the 12-bit floor (keeps r1–r4 signatures bit-for-bit)
    val tiny = Seq((1L, Array(1.0f)), (2L, Array(2.0f))).toDF("vec_id", "embedding")
    assert(Similarity.bitsPerBandFor(tiny) === 12)
    // spark.range carries an exact rowCount in its plan stats:
    // ceil(log2(1e7)) − 3 = 21 — inside the clamp, so used as-is
    val big = s.range(10000000L).select(col("id").as("vec_id"),
      array(col("id").cast("float")).as("embedding"))
    assert(Similarity.bitsPerBandFor(big) === 21)
    // past the pool width → the 24-bit ceiling
    val huge = s.range(1000000000000L).select(col("id").as("vec_id"),
      array(col("id").cast("float")).as("embedding"))
    assert(Similarity.bitsPerBandFor(huge) === 24)
    // explicit pin wins over auto
    s.conf.set(Similarity.HplBitsKey, "16")
    try assert(Similarity.bitsPerBandFor(big) === 16)
    finally s.conf.unset(Similarity.HplBitsKey)
  }

  test("ivf geometry: nlist ≈ √n̂ and probed fraction shrinks with corpus size") {
    val s = spark
    import s.implicits._
    // tiny corpus → the nlist=10 floor (the r1–r5 geometry)
    val tiny = Seq((1L, Array(1.0f)), (2L, Array(2.0f))).toDF("vec_id", "embedding")
    val (nlTiny, _) = Similarity.ivfGeometry(tiny, 3)
    assert(nlTiny === 10)
    // spark.range carries an exact rowCount: nlist = ⌈√n⌉, nprobe = ⌈1.5√nlist⌉
    def geo(n: Long): (Int, Int) = Similarity.ivfGeometry(
      s.range(n).select(col("id").as("vec_id"),
        array(col("id").cast("float")).as("embedding")), 3)
    assert(geo(1000000L) === ((1000, 48)))
    // fraction nprobe/nlist must SHRINK as n grows (the r5 fixed
    // geometry scanned a constant 30% at any size — the bug class)
    val fracs = Seq(10000L, 1000000L, 100000000L).map { n =>
      val (nl, np) = geo(n); np.toDouble / nl
    }
    assert(fracs === fracs.sorted.reverse && fracs.head > fracs.last,
      s"probed fraction should decrease with n: $fracs")
    // centroid-broadcast bound: nlist clamps at 4096 past ~16M vectors
    assert(geo(1000000000000L)._1 === 4096)
  }

  test("kmeans: Lloyd iterations decrease the mean squared distance objective (sf0.001)") {
    val emb = Tables.embeddings(spark, sf0001)
    // mean over vectors of min_c ||x - c||^2
    def objective(c: org.apache.spark.sql.DataFrame): Double =
      emb.crossJoin(broadcast(c))
        .select(col("vec_id"),
          (Similarity.sumSq(col("embedding"))
            - lit(2.0) * Similarity.dot(col("embedding"), col("centroid"))
            + Similarity.sumSq(col("centroid"))).as("d2"))
        .groupBy("vec_id").agg(min("d2").as("best"))
        .agg(avg("best")).head.getDouble(0)
    val init = Similarity.kmeans(emb, 10, 0)
    val fit = Similarity.kmeans(emb, 10, 3)
    val n = fit.count()
    assert(n > 0 && n <= 10, s"expected <=10 non-empty clusters, got $n")
    assert(objective(fit) < objective(init),
      "Lloyd iterations should decrease mean squared distance")
  }

  test("ann_ivf: structurally sound and recall over random-chance (sf0.001)") {
    val exact = Similarity.queries("sim_topk")(spark, sf0001)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.queries("ann_ivf")(spark, sf0001).collect()
    // ≤ 5 per probe, ranks contiguous from 1
    val byProbe = ann.groupBy(_.getLong(0))
    byProbe.foreach { case (p, rows) =>
      val rns = rows.map(_.getLong(3)).sorted.toSeq
      assert(rns === (1L to rns.size).toSeq, s"probe $p ranks $rns")
      assert(rows.length <= 5)
    }
    val annPairs = ann.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & annPairs).size.toDouble / exact.size
    // nprobe=3 of nlist=10 on near-uniform synthetic vectors: random chance
    // ≈ 0.3; centroid correlation must beat it.
    assert(recall >= 0.3, s"IVF recall $recall below random-ish floor")
  }

  test("ann_ivf: recall >= 0.7 vs exact top-k ground truth at the verify sf (sf0.01)") {
    // The sf the driver's correctness gate runs at (VERDICT r2 item 6):
    // regression-guards the IVF path at verify scale, not just sf0.001.
    val exact = Similarity.queries("sim_topk")(spark, sf001)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.queries("ann_ivf")(spark, sf001)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size === 50, s"ground truth should be 10 probes × 5, got ${exact.size}")
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVF recall $recall < 0.7 at sf0.01 (|ann|=${ann.size})")
  }

  test("ann_ivf_verdict: deterministic fixed-pivot retrieval — structure sound, candidates honor the probed cells, recall informative (sf0.001)") {
    val out = Similarity.queries("ann_ivf_verdict")(spark, sf0001).collect()
    // 10 probes × top-5, contiguous ranks, cosine non-increasing per probe.
    val byProbe = out.groupBy(_.getLong(0))
    assert(byProbe.keySet === (0L until 10L).toSet)
    byProbe.foreach { case (p, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to rows.length).toSeq,
        s"probe $p ranks not contiguous")
      assert(rows.length === 5, s"probe $p returned ${rows.length} rows")
      val cs = sorted.map(_.getDouble(2)).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"probe $p cosines not non-increasing: $cs")
      assert(rows.forall(_.getLong(1) != p), s"probe $p returned itself")
    }
    // The mechanism gate: this arm prunes to nprobe of nlist fixed
    // cells and reranks EXACTLY inside them, so recall vs the exact
    // top-5 is a deterministic function of the corpus. Fixed md5
    // pivots buy determinism, not recall (k-means is what buys recall
    // — annIvf's own gates): measured 0.42 at sf0.001 vs the ~0.125
    // random-cell chance of probing 8 of 64 cells. The hash oracle
    // pins exactness; this pin is only against a silent geometry/
    // rerank regression, gated well above chance and under the
    // measured point.
    val exact = Similarity.queries("sim_topk")(spark, sf0001)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"ann_ivf_verdict recall vs exact: $recall%.3f")
    assert(recall >= 0.3, s"fixed-pivot recall $recall collapsed below " +
      "3x the random-cell chance floor")
  }

  test("ann_ivfpq: composed recall >= 0.65 at the verify sf, structure sound (sf0.01)") {
    // The composed index's recall ceiling is the IVF stage's bucket
    // recall (gated >= 0.7 above); the PQ stage's w64 ADC blur costs a
    // few points below that (measured 0.74 at sf0.01, 0.76 at sf0.001
    // vs ann_ivf's 0.78) — the gate sits at 0.65 with margin. Wider
    // rerank cannot recover a bucket miss, so raising this gate means
    // raising nprobe, not rerankFactor.
    val exact = Similarity.queries("sim_topk")(spark, sf001)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.queries("ann_ivfpq")(spark, sf001).collect()
    val byProbe = ann.groupBy(_.getLong(0))
    byProbe.foreach { case (p, rows) =>
      val rns = rows.map(_.getLong(3)).sorted.toSeq
      assert(rns === (1L to rns.size).toSeq, s"probe $p ranks $rns")
      assert(rows.length <= 5)
    }
    val annPairs = ann.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & annPairs).size.toDouble / exact.size
    assert(recall >= 0.65, s"IVF-PQ recall $recall < 0.65 (|ann|=${annPairs.size})")
  }

  /** Shared harness for the kNN-graph family's recall gates: the exact
    * graph is collected ONCE (it is an O(n²) job), every arm must keep
    * per-src ranks contiguous and ≤ k, and each arm's edge recall vs
    * the exact graph is gated. */
  private lazy val exactGraphEdges001: Set[(Long, Long)] =
    Similarity.queries("knn_graph")(spark, sf001)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def assertGraphEdgeRecall(queryName: String, gate: Double): Unit = {
    val got = Similarity.queries(queryName)(spark, sf001).collect()
    got.groupBy(_.getLong(0)).foreach { case (s, rows) =>
      val rns = rows.map(_.getLong(3)).sorted.toSeq
      assert(rns === (1L to rns.size).toSeq, s"src $s ranks $rns")
      assert(rows.length <= 3)
    }
    val edges = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exactGraphEdges001 & edges).size.toDouble /
      exactGraphEdges001.size
    assert(recall >= gate,
      s"$queryName edge recall $recall < $gate (|edges|=${edges.size})")
  }

  test("knn_graph_blocked: multi-probe edge recall >= 0.6 vs the exact graph (sf0.01)") {
    // Every vector probes its nprobe nearest buckets (the IVF search
    // geometry applied corpus-wide); measured edge recall 0.753 at
    // sf0.01 — the single-cluster SemDeDup blocking this replaced
    // measured 0.24 on the same corpus (generic kNN neighbors do not
    // co-cluster the way near-dups do), so multi-probe is load-bearing,
    // not a tuning nicety.
    assertGraphEdgeRecall("knn_graph_blocked", 0.6)
  }

  test("knn_graph_refine: NN-descent edge recall >= 0.85 vs the exact graph (sf0.01)") {
    // Two rounds of neighbors-of-neighbors refinement over the blocked
    // seed (measured 0.90 at sf0.01 vs the seed's 0.75) — refinement
    // must BUY recall above the seed's own 0.6 gate, at n·k² linear
    // cost per round instead of the seed's n^1.75 candidate class.
    assertGraphEdgeRecall("knn_graph_refine", 0.85)
  }

  test("knn_graph_nnd: linear-seed NN-descent edge recall >= 0.85 vs the exact graph (sf0.01)") {
    // End-to-end LINEAR pipeline: hyperplane-LSH + hash-ring seed, then
    // five NN-descent rounds at working degree 12 (the registry
    // default) — no n^1.75 blocked stage anywhere. The gate matches
    // refine's 0.85: replacing the expensive seed with a linear one
    // must not cost the family's recall floor (measured 0.94).
    assertGraphEdgeRecall("knn_graph_nnd", 0.85)
  }

  test("knn_graph_refine: per-src recall vs the exact graph never decreases across rounds (sf0.001)") {
    // Each round's candidate pool is a SUPERSET of the current edges,
    // re-scored exactly under the same (cos desc, dst) total order the
    // exact graph ranks by — so a kept exact-top-k edge can only be
    // displaced by another exact-top-k edge, and per-src recall is
    // monotone non-decreasing by construction. Driven off ONE blocked
    // seed via refineRound: separate knnGraphRefine invocations
    // re-train k-means, so cross-invocation comparisons are invalid.
    val k = 3
    val emb = Tables.embeddings(spark, sf0001)
    val exact = Similarity.knnGraph(emb, k)
      .select("src", "dst").collect()
      .groupBy(_.getLong(0))
      .map { case (s, rs) => s -> rs.map(_.getLong(1)).toSet }
    def recallBySrc(df: org.apache.spark.sql.DataFrame): Map[Long, Double] = {
      val got = df.select("src", "dst").collect()
        .groupBy(_.getLong(0))
        .map { case (s, rs) => s -> rs.map(_.getLong(1)).toSet }
      exact.map { case (s, ex) =>
        s -> (ex & got.getOrElse(s, Set.empty[Long])).size.toDouble / ex.size }
    }
    val eOwned = graft.Q.ownPersist(Similarity.refineEmbFrame(emb))
    var edges = graft.Q.ownPersist(Similarity.knnGraphBlocked(emb, k)
      .select(col("src"), col("dst"), col("cos_sim")))
    edges.df.count()
    var prev = recallBySrc(edges.df)
    (1 to 2).foreach { r =>
      val next = Similarity.refineRound(eOwned, edges, k)
      edges.release()
      edges = next
      val cur = recallBySrc(edges.df)
      val drops = exact.keys.filter(s => cur(s) < prev(s) - 1e-12).toSeq.sorted
      assert(drops.isEmpty,
        s"round $r: per-src recall dropped at src ${drops.take(5)} " +
          s"(first: ${drops.headOption.map(s => (prev(s), cur(s)))})")
      // and the aggregate must not be vacuous: round recall strictly
      // covers the seed's misses somewhere on this corpus
      prev = cur
    }
    assert(prev.values.sum / prev.size >= 0.85,
      "post-refinement mean per-src recall below the family gate")
    edges.release()
    eOwned.release()
  }

  test("ann_mrl: prefix-scan + exact rerank recall vs exact top-k (sf0.01)") {
    // Even on this UNTRAINED synthetic corpus (the 16-dim prefix holds
    // only 1/4 of the vector energy) the 64×k rerank window absorbs the
    // coarse stage's blur: measured recall 0.94 at sf0.01 — random
    // candidate selection at the same window would land ≈ 0.0064, so
    // the prefix signal is doing ~150× better than chance. The op's
    // CORRECTNESS is the DuckDB oracle (hash-equal two-stage ranking);
    // this gate pins the retrieval quality floor.
    val exact = Similarity.queries("sim_topk")(spark, sf001)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.queries("ann_mrl")(spark, sf001)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    info(f"ann_mrl recall at sf0.01: $recall%.3f")
    assert(recall >= 0.8, s"MRL prefix recall $recall below the 0.8 floor")
  }

  test("multimodal decodeFeatures: mapPartitions batch path matches expression path (sf0.001)") {
    val s = spark
    import s.implicits._
    val withPayload = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"), unhex(md5(col("text"))).as("payload"))
    val decoded = Multimodal.decodeFeatures(withPayload)
    assert(decoded.count() === 500)
    // width/height derived from the same md5 bytes as the expression path
    val expr_ = Multimodal.queries("multimodal_features")(spark, sf0001)
      .select("doc_id", "width", "height")
    val joined = decoded.as("d").join(expr_.as("e"), "doc_id")
      .filter(col("d.width") =!= col("e.width") || col("d.height") =!= col("e.height"))
    assert(joined.count() === 0, "stub decode disagrees with expression-path metadata")
    assert(decoded.select("byte_len").distinct().collect().map(_.getInt(0)).toSeq === Seq(16))
  }

  test("text_chunks invariants: full token coverage and exact stride overlap (sf0.001)") {
    val out = graft.llm.TextOps.queries("text_chunks")(spark, sf0001)
      .collect().groupBy(_.getLong(0))
    val nToksByDoc = Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (doc, rows) =>
      val n = nToksByDoc(doc)
      val sorted = rows.sortBy(_.getLong(2))
      // chunk indices contiguous from 0
      assert(sorted.map(_.getLong(2)).toSeq === (0L until sorted.length).toSeq)
      // stride placement: chunk i starts at i*24+1
      sorted.foreach(r => assert(r.getLong(3) === r.getLong(2) * 24 + 1))
      // coverage: the last chunk's window reaches the last token
      val lastStart = sorted.last.getLong(3)
      assert(lastStart + 32 - 1 >= n, s"doc $doc: tail tokens uncovered")
      // no spurious extra chunk: the second-to-last (if any) does NOT cover n
      if (sorted.length > 1)
        assert(sorted(sorted.length - 2).getLong(3) + 32 - 1 < n,
          s"doc $doc: redundant final chunk")
    }
  }

  test("text_repetition: looping doc rejected, diverse doc kept, short docs total (literal frames)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // pure loop: every 2-gram is "spam spam" → top2_bp ≈ 10000, killed
      (1L, Seq.fill(20)("spam").mkString(" ")),
      // period-2 loop: caught by the 2-gram rule even with 2 tokens
      (2L, Seq.fill(10)("foo bar").mkString(" ")),
      // diverse: all n-grams unique → every bp score low, kept
      (3L, (1 to 20).map(i => s"tok$i").mkString(" ")),
      // shorter than every n-gram window: total, scores 0, kept
      (4L, "one"),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = graft.llm.TextOps.repetitionStats(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))).toMap
    assert(out(1L)._4 === 0, s"looping doc kept: ${out(1L)}")
    assert(out(1L)._1 > 9000, s"top2_bp should be ~10000: ${out(1L)}")
    assert(out(2L)._4 === 0, s"period-2 loop kept: ${out(2L)}")
    assert(out(3L) === ((1000L, 1500L, 0L, 1)), s"diverse doc: ${out(3L)}")
    assert(out(4L) === ((0L, 0L, 0L, 1)))
    assert(out(5L) === ((0L, 0L, 0L, 1)))
  }

  test("dedup_spantrim: planted boilerplate spans trimmed, unique text intact (literal frames)") {
    val s = spark
    import s.implicits._
    // "legal footer text" appears in 3 docs → hot at hotMin=3; every
    // token covered by one of its occurrences must drop. Docs 1-3 carry
    // it embedded in unique prose; doc 4 is all-unique and must pass
    // through untouched; doc 5 is PURE boilerplate and trims to empty.
    val docs = Seq(
      (1L, "alpha beta legal footer text gamma delta"),
      (2L, "epsilon legal footer text zeta"),
      (3L, "eta theta iota legal footer text"),
      (4L, "kappa lambda mu nu xi"),
      (5L, "legal footer text"),
      // OVERLAPPING hot starts in one doc: "spam spam spam" occurs at
      // starts 1..4 (hot from this doc alone) — the trim must union the
      // overlapping spans, covering all 6 tokens once, not 4×3.
      (6L, Seq.fill(6)("spam").mkString(" ")),
      // two DISJOINT occurrences in one doc with a survivor between:
      // starts 1 and 5 cover [1,3] ∪ [5,7], only token 4 survives.
      (7L, "legal footer text pad legal footer text")
    ).toDF("doc_id", "text")
    val out = Dedup.spanTrim(docs, 3, 3L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) === ((7L, 3L, "alpha beta gamma delta")))
    assert(out(2L) === ((5L, 3L, "epsilon zeta")))
    assert(out(3L) === ((6L, 3L, "eta theta iota")))
    assert(out(4L) === ((5L, 0L, "kappa lambda mu nu xi")))
    assert(out(5L) === ((3L, 3L, "")))
    assert(out(6L) === ((6L, 6L, "")), s"overlap union wrong: ${out(6L)}")
    assert(out(7L) === ((7L, 6L, "pad")), s"disjoint spans wrong: ${out(7L)}")
  }

  test("dedup_editdist: identical texts at distance 0; rearranged text at known distance (literal frames)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "join filter window agg"),
      (2L, "join filter window agg"),  // literal copy → dist 0
      (3L, "agg window filter join"),  // same token set, rearranged
      (4L, "zebra yak xylophone")      // different set → no pair
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistanceRank(docs, Dedup.EditDistNeighbors)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs((1L, 2L)) === 0L)
    assert(pairs((1L, 3L)) > 0L)
  }

  test("dedup_editdist: a planted 1000-doc identical-signature group stays O(group x K) pairs") {
    val s = spark
    import s.implicits._
    // 1000 docs over the SAME token set (identical dedup_groups
    // signature) in rotated order — the hot-signature worst case
    // (boilerplate / empty-ish docs) that would be O(group²) unbounded.
    val toks = Seq("alpha", "beta", "gamma", "delta")
    val docs = (1L to 1000L).map { i =>
      val rot = (i % 4).toInt
      (i, (toks.drop(rot) ++ toks.take(rot)).mkString(" "))
    }.toDF("doc_id", "text")
    val k = Dedup.EditDistNeighbors
    val n = Dedup.editDistanceRank(docs, k).count()
    val expected = k.toLong * (1000 - k) + k.toLong * (k - 1) / 2
    assert(n === expected,
      s"neighbor cap did not bound the pair space: got $n, want $expected")
  }

  test("dedup_ngram_cover: planted boilerplate saturates at 10000 bp; unique docs stay at 0 (literal frames)") {
    val s = spark
    import s.implicits._
    // 5 identical docs (every 3-gram occurs 5 ≥ 3 times) + 1 unique doc
    // whose grams appear once each
    val docs = ((1L to 5L).map(i => (i, "scan filter join agg window sort")) :+
      (6L, "zebra yak xylophone walrus vulture")).toDF("doc_id", "text")
    val cover = Dedup.hotNgramCover(docs, 3, 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    (1L to 5L).foreach(i => assert(cover(i) === 10000L, s"doc $i not saturated"))
    assert(cover(6L) === 0L, "unique doc wrongly flagged as boilerplate")
  }

  test("embed_quantize: codes bounded to [-127,127] and per-element error <= scale/2 (sf0.001)") {
    val q = Similarity.quantizeInt8(graft.Tables.embeddings(spark, sf0001))
    val rows = q.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scalePpm = r.getDouble(1)
      val codesMax = r.getLong(3)
      val msePpm = r.getDouble(4)
      assert(codesMax <= 127L, s"vec ${r.getLong(0)} code beyond int8: $codesMax")
      // round-half-up guarantees |x - c·scale| ≤ scale/2 per element, so
      // MSE ≤ (scale/2)² — compare in the same ppm scale
      val scale = scalePpm / 1e6
      assert(msePpm / 1e6 <= scale * scale / 4 * 1.0001,
        s"vec ${r.getLong(0)} reconstruction error beyond the rounding bound")
    }
  }

  test("pipeline_curate: lsh pair arm curates identically to the exact arm on planted duplicates (conf swap)") {
    val s = spark
    import s.implicits._
    // docs 1 and 2 have IDENTICAL token sets (rearranged text): distinct
    // md5 → both survive stage 1; identical sets → identical minhash
    // signatures → they collide in EVERY band, so LSH recall is 1 by
    // construction and the two arms must curate identically
    val docs = Seq(
      (1L, "join filter window agg sort limit scan", "en"),
      (2L, "agg window filter join scan limit sort", "en"),
      (3L, "merge shuffle broadcast partition skew salt", "en"),
      (4L, "zebra yak xylophone walrus vulture quail", "fr"),
      (5L, "alpha beta gamma delta epsilon zeta", "fr")
    ).toDF("doc_id", "text", "lang")
    val exact = Curate.curate(docs).collect().toSeq
    assert(exact.map(_.getLong(0)).contains(1L) && !exact.map(_.getLong(0)).contains(2L),
      "stage 2 should keep only the canonical member of the 1-2 pair")
    s.conf.set("spark.graft.curate.pairStrategy", "lsh")
    try {
      val lsh = Curate.curate(docs).collect().toSeq
      assert(lsh === exact, "lsh arm curated a different document set")
    } finally s.conf.unset("spark.graft.curate.pairStrategy")
  }

  test("dedup_exact idempotence (sf0.001)") {
    val out = Dedup.queries("dedup_exact")(spark, sf0001)
    assert(out.count() === out.select("doc_id").distinct().count())
  }

  test("pipeline_decontaminate flags a planted train↔holdout shingle overlap and nothing else") {
    val s = spark
    import s.implicits._
    // Find one train and one holdout id under the content-stable split
    // rule (the same expression the pipeline applies).
    val splitOf = (0L until 50L).map { id =>
      id -> spark.range(1).select(
        when(substring(md5(concat(lit(id.toString), lit(":split"))), 1, 2) < "e6",
          "train").otherwise("holdout")).head.getString(0)
    }.toMap
    val trainId = splitOf.collectFirst { case (id, "train") => id }.get
    val holdId = splitOf.collectFirst { case (id, "holdout") => id }.get
    val shared = "alpha beta gamma delta epsilon"
    val docs = (0L until 50L).map { id =>
      val text =
        if (id == trainId || id == holdId) s"$shared zz$id yy$id xx$id ww$id"
        else s"a$id b$id c$id d$id e$id f$id"  // 6 unique tokens, no overlap
      (id, text, "en", "synth", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = llm.Curate.decontaminate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared_grams"), r.getAs[Long]("n_eval_docs"),
          r.getAs[Long]("contaminated"))).toMap
    // only train docs reported
    assert(out.keySet === splitOf.collect { case (id, "train") => id }.toSet)
    assert(out(trainId) === ((1L, 1L, 1L)),
      s"planted overlap not flagged: ${out(trainId)}")
    assert(out.removed(trainId).values.forall(_._3 === 0L),
      "an unplanted train doc was flagged contaminated")
    // BLOOM arm parity: the Bloom pre-filter only thins the train gram
    // stream before the same verify join — false positives are joined
    // away, so output must be IDENTICAL, planted overlap included.
    s.conf.set(llm.Curate.DecontStrategyKey, "bloom")
    try {
      val bloomOut = llm.Curate.decontaminate(docs).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_shared_grams"), r.getAs[Long]("n_eval_docs"),
            r.getAs[Long]("contaminated"))).toMap
      assert(bloomOut === out, "bloom arm diverged from the exact arm")
    } finally s.conf.unset(llm.Curate.DecontStrategyKey)
  }

  test("decontaminate auto arm flips to bloom exactly when the estimated holdout index outgrows the broadcast budget") {
    val s = spark
    // spark.range carries an EXACT rowCount in plan stats, so the gate
    // decides on truth here; gate math: bloom iff n × 0.1 holdout share
    // × 170 grams/doc > the 8 M broadcast row budget ⇒ n > ~470 k.
    def docsOf(n: Long) = s.range(n)
      .select(col("id").as("doc_id"), lit("a b c d e f").as("text"))
    assert(!llm.Curate.decontWantsBloom(docsOf(100000L)),
      "a 100 k corpus must keep the exact (broadcast-probe) arm")
    assert(llm.Curate.decontWantsBloom(docsOf(1000000L)),
      "a 1 M corpus must flip to the bloom pre-filter arm")
    // and the budget conf moves the crossover with it
    s.conf.set(Q.BroadcastSideThresholdKey, "1000000")
    try assert(llm.Curate.decontWantsBloom(docsOf(100000L)),
      "shrinking the broadcast budget must pull the crossover down")
    finally s.conf.unset(Q.BroadcastSideThresholdKey)
  }

  test("pipeline_datamix: per-lang kept tokens fit the budget and admission is a doc_id prefix (sf0.001)") {
    val out = llm.Curate.queries("pipeline_datamix")(spark, sf0001)
    val totalToks = Tables.documents(spark, sf0001)
      .agg(sum(size(split(col("text"), " ")))).head.getLong(0)
    val wbp = Map("en" -> 2000L, "zh" -> 1000L, "es" -> 750L, "fr" -> 750L)
    out.groupBy(col("lang")).agg(max(col("cum_tokens")).as("kept")).collect()
      .foreach { r =>
        val budget = totalToks * wbp.getOrElse(r.getString(0), 500L) / 10000
        assert(r.getAs[Long]("kept") <= budget,
          s"${r.getString(0)} overshot its token budget")
      }
    // prefix property: every admitted doc_id precedes every dropped one
    // within its language
    val maxKept = out.groupBy(col("lang")).agg(max(col("doc_id")).as("mx"))
    val dropped = Tables.documents(spark, sf0001)
      .join(out.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .groupBy(col("lang")).agg(min(col("doc_id")).as("mn"))
    val bad = maxKept.join(dropped, "lang").filter(col("mx") > col("mn"))
    assert(bad.count() === 0, "admission was not a doc_id prefix")
  }

  test("text_ngram_lm: n_bigrams = tokens - 1 and log-probs are negative (sf0.001)") {
    val out = llm.TextOps.queries("text_ngram_lm")(spark, sf0001)
    val joined = out.join(
      Tables.documents(spark, sf0001).select(col("doc_id"),
        (size(split(col("text"), " ")) - 1).cast("long").as("want_bigrams")),
      "doc_id")
    assert(joined.filter(col("n_bigrams") =!= col("want_bigrams")).count() === 0)
    assert(out.filter(col("avg_logprob") >= 0).count() === 0)
  }

  test("embed_pq: identical vectors share codes; reconstruction beats the per-subspace-mean baseline (sf0.001)") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.productQuantize(emb)
    val rows = out.collect()
    assert(rows.length === emb.count())
    // base-128 packed: 8 subspaces × 7 bits ⇒ code < 2^56, non-negative
    assert(rows.forall(r => r.getAs[Long]("pq_code") >= 0L &&
      r.getAs[Long]("pq_code") < (1L << 56)))
    // determinism + collision: duplicating the corpus must reproduce the
    // same code per vec_id (training sample unchanged ⇒ same codebooks)
    val again = Similarity.productQuantize(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("pq_code")).toMap
    assert(rows.forall(r => again(r.getAs[Long]("vec_id")) === r.getAs[Long]("pq_code")))
    // quality: mean reconstruction MSE beats encoding every subvector to
    // its global mean (the k=1 baseline PQ strictly refines) — i.e. the
    // codebooks actually captured structure, not noise
    val meanMse = rows.map(_.getAs[Double]("mse_ppm")).sum / rows.length
    val baseline = emb
      .select(posexplode(col("embedding")))
      .groupBy(col("pos")).agg(avg(col("col").cast("double")).as("mu"),
        avg(col("col").cast("double") * col("col").cast("double")).as("m2"))
      .select(sum(col("m2") - col("mu") * col("mu")).as("ss"))
      .head.getDouble(0) / 64 * 1e6
    assert(meanMse < 0.7 * baseline,
      s"PQ mse_ppm $meanMse not < 0.7x mean-baseline $baseline")
  }

  test("ann_pq: ADC candidates + exact rerank recover exact top-5 neighbors (recall >= 0.8, sf0.01)") {
    val exact = Similarity.queries("sim_topk")(spark, sf001)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.queries("ann_pq")(spark, sf001)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & approx).size.toDouble / exact.size
    // r9 gate raise (VERDICT r8 item 5), re-based on the 7-bit codes:
    // the committed curve (ann_pq_recall_w* in BENCH_stress.json, via
    // StressBench) has w64 at 9800 bp (s1) and 9400 bp (s10) — the
    // 4-bit geometry saturated at ~6400 bp there regardless of width.
    assert(recall >= 0.8,
      s"PQ-ADC recall $recall < 0.8 (|exact|=${exact.size}, |approx|=${approx.size})")
    // exact rerank: every emitted cos_sim must equal the true cosine —
    // spot-checked implicitly by the overlap sharing sim_topk's scoring
  }

  test("pipeline_pack: distributed prefix sum equals the sequential fold and covers every token once") {
    val s = spark
    import s.implicits._
    // Awkward sizes on purpose: docs bigger than a sequence, exact-fit
    // boundaries, and 1-token docs — with shuffle.partitions=4 in tests
    // the range partitioner puts cuts INSIDE the running sum, which is
    // exactly what the phase-2 offset shift must survive.
    val sizes = Seq(100L, 300L, 56L, 256L, 1L, 1L, 510L, 40L, 257L, 7L)
    val docs = sizes.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n.toInt)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val out = Curate.pack(docs).collect()
    var cum = 0L
    sizes.zipWithIndex.foreach { case (n, i) =>
      val r = out(i)
      assert(r.getAs[Long]("doc_id") === i.toLong)
      assert(r.getAs[Long]("tok_start") === cum, s"doc $i offset")
      assert(r.getAs[Long]("seq_first") === cum / Curate.PackSeqLen)
      assert(r.getAs[Long]("seq_last") === (cum + n - 1) / Curate.PackSeqLen)
      assert(r.getAs[Long]("n_seqs") ===
        (cum + n - 1) / Curate.PackSeqLen - cum / Curate.PackSeqLen + 1)
      cum += n
    }
    // placement is gapless: offsets tile [0, total) exactly
    assert(out.map(_.getAs[Long]("n_toks")).sum === cum)
  }

  test("text_boilerplate: planted shared prefix dominates its source, rank ties break lexicographically") {
    val s = spark
    import s.implicits._
    val tpl = "breaking news today from the city desk room"
    val docs = (0L to 5L).map(i => (i, tpl + s" story $i", "hostA")) ++
      Seq((6L, "alpha beta gamma delta epsilon zeta eta theta", "hostB"),
          (7L, "alpha beta gamma delta epsilon zeta eta theta tail", "hostB"),
          (8L, "one two three four five six seven eight nine", "hostB"))
    val registry = llm.TextOps.queries("text_boilerplate")(spark, sf0001)
    assert(registry.columns.toSeq === Seq("source", "rn", "prefix", "n_docs"))
    // same shape as the registry op, over the literal frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_docs").desc, col("prefix"))
    val res = docs.toDF("doc_id", "text", "source")
      .select(col("source"),
        array_join(slice(split(col("text"), " "), 1, 8), " ").as("prefix"))
      .groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy(col("source"), col("rn"))
      .collect()
    val hostA = res.filter(_.getString(0) == "hostA")
    assert(hostA.head.getAs[String]("prefix") === tpl.split(" ").take(8).mkString(" "))
    assert(hostA.head.getAs[Long]("n_docs") === 6L)
    // hostB: two docs share the 8-token prefix "alpha..theta" (count 2),
    // the third is unique (count 1) — ranks 1 then 2
    val hostB = res.filter(_.getString(0) == "hostB")
    assert(hostB.map(r => (r.getAs[Long]("rn"), r.getAs[Long]("n_docs"))).toSeq
      === Seq((1L, 2L), (2L, 1L)))
  }

  test("text_bm25 matches an independent driver-side Okapi fold (sf0.001)") {
    // Reference written against the SPEC (Robertson–Walker idf, k1=1.2,
    // b=0.75, round-4dp, rank by rounded score then token) over plain
    // Scala Maps — agreement means the distributed plan computes the
    // documented formula, not merely itself (the refPagerank pattern;
    // the DuckDB oracle independently hash-checks sf0.01).
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val tf = docs.map { case (id, ts) =>
      id -> ts.groupBy(identity).map { case (t, v) => t -> v.size.toLong } }
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }
    val dl = tf.map { case (id, m) => id -> m.values.sum }
    val nDocs = docs.size.toLong
    val avgdl = dl.values.sum.toDouble / nDocs
    def r4(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val expected = tf.flatMap { case (id, m) =>
      m.toSeq.map { case (t, f) =>
        val idf = math.log(1 + (nDocs - df(t) + 0.5) / (df(t) + 0.5))
        (id, t, r4(idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl(id) / avgdl))))
      }.sortBy { case (_, t, s) => (-s, t) }.take(3).zipWithIndex
        .map { case ((_, t, s), i) => (id, i + 1L, t, s) }
    }.toSet
    val got = llm.TextOps.queries("text_bm25")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got === expected,
      s"BM25 diverged from the reference fold (|got|=${got.size}, " +
        s"|ref|=${expected.size}, diff sample=${(got diff expected).take(3)})")
  }

  test("text_search_bm25 matches an independent driver-side probe-retrieval fold (sf0.001)") {
    // Same reference machinery as the text_bm25 test (spec-derived,
    // plain Scala Maps), extended through the probe derivation and the
    // summed-score retrieval: probes = top-3 BM25 terms of docs 0..9,
    // result = top-5 other docs per probe by the exact sum of the
    // 4dp-rounded per-term scores (summed as scaled longs — the
    // DECIMAL(18,12) path's integer twin), ties by doc_id.
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val tf = docs.map { case (id, ts) =>
      id -> ts.groupBy(identity).map { case (t, v) => t -> v.size.toLong } }
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }
    val dl = tf.map { case (id, m) => id -> m.values.sum }
    val nDocs = docs.size.toLong
    val avgdl = dl.values.sum.toDouble / nDocs
    def r4(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val scored: Map[(Long, String), Double] = tf.flatMap { case (id, m) =>
      m.map { case (t, f) =>
        val idf = math.log(1 + (nDocs - df(t) + 0.5) / (df(t) + 0.5))
        (id, t) ->
          r4(idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl(id) / avgdl)))
      }
    }
    val probeTerms: Seq[(Long, String)] = scored.toSeq
      .filter(_._1._1 < 10)
      .groupBy(_._1._1).toSeq.flatMap { case (pid, es) =>
        es.map { case ((_, t), sc) => (t, sc) }
          .sortBy { case (t, sc) => (-sc, t) }.take(3)
          .map { case (t, _) => (pid, t) }
      }
    val expected = probeTerms.groupBy(_._1).toSeq.flatMap { case (pid, pts) =>
      val terms = pts.map(_._2).toSet
      val byDoc = scored.toSeq
        .collect { case ((id, t), sc) if id != pid && terms(t) => (id, sc) }
        .groupBy(_._1).toSeq.map { case (id, vs) =>
          val sumBp = vs.map(v => math.round(v._2 * 10000)).sum
          (id, vs.size.toLong, sumBp / 1e4)
        }
      byDoc.sortBy { case (id, _, sc) => (-sc, id) }.take(5).zipWithIndex
        .map { case ((id, nt, sc), i) => (pid, i + 1L, id, sc, nt) }
    }.toSet
    val got = llm.TextOps.queries("text_search_bm25")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
      .toSet
    assert(got === expected,
      s"sparse retrieval diverged from the reference fold " +
        s"(|got|=${got.size}, |ref|=${expected.size}, " +
        s"diff sample=${(got diff expected).take(3)})")
    // Shape invariants: 10 probes × 5 hits, every hit excludes the
    // probe doc itself, matched-term counts within 1..3.
    assert(got.map(_._1) === (0L until 10L).toSet)
    assert(got.size === 50)
    assert(got.forall { case (pid, _, id, _, nt) =>
      id != pid && nt >= 1 && nt <= 3 })
  }

  test("connectedComponents pointer-jump: planted chain converges in O(log n) rounds, parity with min-label (VERDICT r12 #1)") {
    val s = spark
    import s.implicits._
    def withJumpAfter[T](v: String)(body: => T): T = {
      val prev = s.conf.getOption(Dedup.CcJumpAfterKey)
      s.conf.set(Dedup.CcJumpAfterKey, v)
      try body finally prev match {
        case Some(p) => s.conf.set(Dedup.CcJumpAfterKey, p)
        case None => s.conf.unset(Dedup.CcJumpAfterKey)
      }
    }
    def run(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)

    // Planted CHAIN — the adversarial graph class graph_components_*
    // can receive (Graph.scala's own caveat): a path 0–1–…–1023 has
    // diameter 1023, so pure min-label pays ~n rounds. The default
    // arm (4 min-label rounds, then Shiloach–Vishkin closure+hook)
    // must land the single component in ~4 + O(log n) steps.
    val n = 1024
    val chain = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    val chainOut = run(chain)
    val jumpRounds = Dedup.lastCcRounds
    assert(chainOut.forall { case (_, comp, size) =>
      comp === 0L && size === n.toLong },
      "chain must collapse to one component labeled 0")
    // 4 propagate steps leave labels v → v-4 (a depth-256 path in
    // label space); the first closure halves that depth per jump
    // (8 productive jumps + 1 no-change), landing every label at 0,
    // and the final hook observes no change: ~14 steps total. Slack
    // to 16 for the id-layout-independent bound.
    assert(jumpRounds <= 16,
      s"SV arm took $jumpRounds steps on a 1024-chain (expect ~14)")
    info(s"1024-chain: SV closure+hook fixpoint in $jumpRounds steps")

    // Contrast: the pure min-label arm on a short chain measures its
    // O(diameter) class — 32 nodes, ~32 rounds (31 to converge + 1).
    val short = (0 until 31).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    withJumpAfter(Int.MaxValue.toString)(run(short))
    val minLabelRounds = Dedup.lastCcRounds
    assert(minLabelRounds >= 31,
      s"min-label on a 32-chain should pay ~diameter rounds, got $minLabelRounds")
    info(s"32-chain: min-label fixpoint in $minLabelRounds rounds")

    // Parity: jump-from-round-0 output must be IDENTICAL to pure
    // min-label on a graph with mixed topology (chain + random
    // merges + islands) — the fixpoint predicate is the same, so
    // every oracle hash downstream is untouched.
    val rnd = new scala.util.Random(42)
    val mixed = ((0 until 199).map(i => (i.toLong, i.toLong + 1)) ++
      Seq.fill(80)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
        .filter { case (a, b) => a != b } ++
      Seq((900L, 901L), (903L, 902L)))
      .toDF("doc_a", "doc_b")
    val viaJump = withJumpAfter("0")(run(mixed))
    val viaMinLabel = withJumpAfter(Int.MaxValue.toString)(run(mixed))
    assert(viaJump === viaMinLabel,
      "pointer-jump arm diverged from min-label arm")
  }

  test("connectedComponents runs exactly one job per propagation round (VERDICT r8)") {
    val s = spark
    import s.implicits._
    // AQE splits one action into per-stage jobs and a broadcast join
    // runs its build as a separate future job -- both would make the
    // count config/scale-dependent rather than algorithmic; pin them
    // off so one action == one scheduler job (at cluster scale the
    // label side never broadcasts anyway).
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        descs.add(j.jobId + ": " + Option(j.properties.getProperty("spark.job.description")).getOrElse("") + " | callsite=" + Option(j.properties.getProperty("callSite.short")).getOrElse("") + " stages=" + j.stageInfos.map(_.name).mkString(";"))
        ()
      }
    }
    org.apache.spark.sql.GraftShims.waitListenerBusEmpty(s)
    s.sparkContext.addSparkListener(listener)
    try {
      // chain 1-2-3 (diameter 2 -> a multi-round fixpoint) + island 10-11
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      Dedup.connectedComponents(pairs)
      org.apache.spark.sql.GraftShims.waitListenerBusEmpty(s)
      val rounds = Dedup.lastCcRounds
      assert(rounds >= 2, s"fixture should need >= 2 rounds, got $rounds")
      // Each round is ONE action: the changed-count agg whose scan
      // materializes the round's persisted label frame (round 1 also
      // fills the initial-label and edge caches inside its job) -- the
      // old second join+count per round would make this 2x rounds.
      assert(jobs.get() === rounds,
        s"expected $rounds jobs (one per round), got ${jobs.get()}:\n" +
          descs.toArray.mkString("\n"))
    } finally {
      s.sparkContext.removeSparkListener(listener)
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("pipeline_shard_plan: per-epoch exactly-once, dense in-shard " +
    "positions, balanced shards, independent epoch permutations (r17)") {
    val docs = Tables.documents(spark, sf0001)
    val n = docs.count()
    val assign = Curate.shardAssign(docs, Curate.ShardEpochs,
      Curate.ShardCount).persist()
    try {
      // Every doc is planned exactly once per epoch — a loader that
      // concatenates the shards sees each doc E times total, never 0.
      assert(assign.count() == n * Curate.ShardEpochs, "not exactly-once")
      assert(assign.select("epoch", "doc_id").distinct().count() ==
        n * Curate.ShardEpochs, "duplicate (epoch, doc) assignment")
      // pos is dense 1..|shard| within every (epoch, shard): gaps or
      // repeats would desync a loader's offset arithmetic.
      val perShard = assign.groupBy("epoch", "shard")
        .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"))
        .persist()
      try {
        assert(perShard.filter(col("mn") =!= 1L || col("mx") =!= col("n"))
          .count() == 0, "pos not dense within a shard")
        assert(perShard.count() == Curate.ShardEpochs * Curate.ShardCount,
          "empty shard at the committed geometry")
        // Hash balance on this corpus at the committed geometry; the
        // mod-S split is binomial, so max/min stays well under 2 at
        // ~n/S = 65 docs per cell (measured 1.3–1.6 at sf0.001).
        val sizes = perShard.select(col("n")).collect().map(_.getLong(0))
        assert(sizes.max <= 2 * sizes.min,
          s"shard imbalance ${sizes.max}/${sizes.min}")
      } finally perShard.unpersist()
      // Epochs are DIFFERENT permutations from the same seed family —
      // the whole point of the per-epoch salt; with independent hashes
      // P(same shard AND same pos) ≈ 1/(S · n/S) per doc.
      val e0 = assign.filter(col("epoch") === 0)
        .select(col("doc_id"), col("shard").as("s0"), col("pos").as("p0"))
      val e1 = assign.filter(col("epoch") === 1)
        .select(col("doc_id"), col("shard").as("s1"), col("pos").as("p1"))
      val unchanged = e0.join(e1, "doc_id")
        .filter(col("s0") === col("s1") && col("p0") === col("p1")).count()
      assert(unchanged < n / 2,
        s"epoch permutations nearly identical ($unchanged of $n fixed)")
    } finally assign.unpersist()
  }

  test("shardWrite round trip: one file per shard, planned pos order " +
    "materialized, corpus complete (r17)") {
    val docs = Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_")
    try {
      val s = Curate.shardWrite(docs, 0, dir.toString)
      val shardDirs = dir.toFile.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard="))
      // Every shard present (non-emptiness at this geometry is pinned
      // by the plan test above) and exactly ONE data file each — the
      // loader contract: a shard is one sequential read.
      assert(shardDirs.length == s, s"expected $s shard dirs")
      shardDirs.foreach { sd =>
        val files = sd.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1,
          s"${sd.getName}: ${files.length} files (want 1)")
      }
      // Within each shard file, physical row order IS pos order (a
      // single small file reads as one ordered split).
      shardDirs.foreach { sd =>
        val pos = spark.read.parquet(sd.toString)
          .select(col("pos")).collect().map(_.getLong(0))
        assert(pos.sameElements(pos.sorted),
          s"${sd.getName}: rows not in planned pos order")
      }
      // The epoch covers the corpus exactly once.
      val back = spark.read.parquet(dir.toString)
      assert(back.count() == docs.count(), "row count changed in write")
      assert(back.select(col("doc_id")).distinct().count() == docs.count(),
        "duplicate docs across shards")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }
}
