package graft

import graft.plans.VectorExprs
import org.apache.spark.sql.functions._

/** The custom codegen'd kernels must be drop-in equal to their HOF
  * reference formulations — bit-identical for DotF32 (same left-to-right
  * double accumulation), exactly equal for the set kernels. */
class KernelSpec extends SparkSpec {

  test("DotF32 == aggregate(zip_with(...)) bit-for-bit on real embeddings") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf0001).limit(200)
    val pairs = emb.select($"vec_id".as("ida"), $"embedding".as("ea"))
      .crossJoin(emb.select($"vec_id".as("idb"), $"embedding".as("eb")).limit(50))
    val hof = aggregate(zip_with($"ea", $"eb", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val diff = pairs
      .select(VectorExprs.dotF32($"ea", $"eb").as("fast"), hof.as("ref"))
      .filter($"fast" =!= $"ref")   // exact double equality required
      .count()
    assert(diff === 0)
  }

  test("JaccardSortedLong == size-intersect/size-union on token hash sets") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf0001).limit(60)
      .select($"doc_id", array_sort(transform(
        array_distinct(split($"text", " ")), t => xxhash64(t))).as("tv"))
    val pairs = docs.select($"doc_id".as("ida"), $"tv".as("ta"))
      .crossJoin(docs.select($"doc_id".as("idb"), $"tv".as("tb")))
    val ref = size(array_intersect($"ta", $"tb")).cast("double") /
      size(array_union($"ta", $"tb"))
    val diff = pairs
      .select(VectorExprs.jaccardSorted($"ta", $"tb").as("fast"), ref.as("ref"))
      .filter($"fast" =!= $"ref")
      .count()
    assert(diff === 0)
  }

  test("SigMatchCount == size(filter(zip_with == )))") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),
      (Seq(5L, 5L), Seq(5L, 5L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L), Seq(2L))
    ).toDF("a", "b")
    val ref = size(filter(zip_with($"a", $"b", (x, y) => x === y), p => p))
    val out = df.select(VectorExprs.sigMatch($"a", $"b").as("fast"), ref.as("ref"))
      .collect()
    out.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("MinHashSig == the HOF aggregate/zip_with formulation bit-for-bit (real corpus)") {
    val s = spark
    import s.implicits._
    val k = graft.llm.Dedup.MinHashK
    val hof = expr(
      s"""aggregate(
         |  array_distinct(split(text, ' ')),
         |  transform(sequence(0, ${k - 1}), i -> cast(9223372036854775807 as bigint)),
         |  (acc, t) -> zip_with(acc,
         |    transform(sequence(0, ${k - 1}), i -> xxhash64(i, t)),
         |    (a, h) -> least(a, h)))""".stripMargin)
    val diff = Tables.documents(spark, sf0001)
      .select(
        VectorExprs.minhashSig(array_distinct(split($"text", " ")), k).as("fast"),
        hof.as("ref"))
      .filter($"fast" =!= $"ref")
      .count()
    assert(diff === 0)
    // empty token array → all-MaxValue signature, same as the HOF zero
    val empty = Seq(Seq.empty[String]).toDF("toks")
      .select(VectorExprs.minhashSig($"toks", 4)).head.getSeq[Long](0)
    assert(empty === Seq.fill(4)(Long.MaxValue))
  }

  test("TokenHashesSorted == array_sort(transform(xxhash64)) (real corpus)") {
    val s = spark
    import s.implicits._
    val ref = array_sort(transform(array_distinct(split($"text", " ")), t => xxhash64(t)))
    val diff = Tables.documents(spark, sf0001)
      .select(
        VectorExprs.tokenHashesSorted(array_distinct(split($"text", " "))).as("fast"),
        ref.as("ref"))
      .filter($"fast" =!= $"ref")
      .count()
    assert(diff === 0)
  }

  test("HyperplaneBands == the 192-dot HOF formulation (real embeddings)") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val cmp = graft.llm.Similarity.hyperplaneSigs(emb)
      .withColumn("ref", graft.llm.Similarity.hyperplaneBandsHof($"embedding"))
      .filter($"bands" =!= $"ref")
      .count()
    assert(cmp === 0)
  }

  test("minhash_sig / token_hashes_sorted usable from spark.sql") {
    graft.plans.GraftExtensions.register(spark)
    Tables.documents(spark, sf0001).limit(5).createOrReplaceTempView("kdocs")
    val rows = spark.sql(
      """SELECT size(minhash_sig(array_distinct(split(text, ' ')), 8)) AS ks,
        |  size(token_hashes_sorted(array_distinct(split(text, ' ')))) AS nh,
        |  size(array_distinct(split(text, ' '))) AS nt
        |FROM kdocs""".stripMargin).collect()
    rows.foreach { r =>
      assert(r.getInt(0) === 8)
      assert(r.getInt(1) === r.getInt(2))
    }
  }

  test("NearestCentroidF32 == crossJoin + min_by(struct(c_dist, cl)) argmin") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf0001).limit(300)
    // Sparse, unordered cluster ids exercise the pack-position → cl map
    // (empty k-means clusters leave holes exactly like this).
    val cents = emb.filter($"vec_id".isin(3, 11, 42, 77, 104))
      .select(($"vec_id" * 7).cast("int").as("cl"),
        expr("transform(embedding, x -> cast(x as double))").as("centroid"))
    // Reference: the r6 declarative spelling this kernel replaced.
    val cf = cents.select($"cl",
      expr("transform(centroid, x -> cast(x as float))").as("centroid_f"))
    val hofDot = aggregate(zip_with($"embedding", $"centroid_f",
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x)
    val hofCsq = aggregate(transform($"centroid_f",
        x => x.cast("double") * x.cast("double")), lit(0.0), (a, x) => a + x)
    val ref = emb.crossJoin(broadcast(cf))
      .select($"vec_id", $"cl", (hofCsq - lit(2.0) * hofDot).as("c_dist"))
      .groupBy($"vec_id")
      .agg(min_by($"cl", struct($"c_dist", $"cl")).as("cl_ref"))
    // Kernel path: pack the same centroids the way ivfParts does.
    val rows = cents.select($"cl",
        expr("transform(centroid, x -> cast(x as float))").as("cf"))
      .orderBy($"cl").collect()
    val dim = rows(0).getSeq[Float](1).length
    val ids = rows.map(_.getInt(0))
    val flat = rows.flatMap(_.getSeq[Float](1)).toArray
    val fast = emb.select($"vec_id",
      VectorExprs.nearestCentroid($"embedding", flat, ids, dim).as("cl_fast"))
    val diff = fast.join(ref, "vec_id")
      .filter($"cl_fast" =!= $"cl_ref").count()
    assert(diff === 0)
    // Exact-tie determinism: a point equidistant to two duplicate
    // centroids must take the LOWER cl — strict < keeps the first in
    // pack order, and collectCentroidsF32 packs ascending cl.
    val v = Array.fill(4)(0.5f)
    val dup = Array(v, v).flatten
    val tie = Seq((1L, v.toSeq)).toDF("vec_id", "embedding")
      .select(VectorExprs.nearestCentroid(
        $"embedding".cast("array<float>"), dup, Array(4, 9), 4).as("cl"))
      .collect()(0).getInt(0)
    assert(tie === 4, "tie must resolve to the lowest cl in ascending pack order")
  }

  test("NearestCentroidsF32 == the HOF argsort (nearBucketsHofSql) bit-for-bit") {
    val s = spark
    import s.implicits._
    // Real embeddings vs a deterministic synthetic centroid pack that
    // includes a DUPLICATE vector under a higher id (ids 3 and 40 carry
    // the same centroid) — every vector hits an exact distance tie there,
    // so the (d, cl)-ascending tie rule is exercised on every row, not
    // just on a crafted point.
    val emb = Tables.embeddings(spark, sf0001).limit(300)
    val cents = ((0 until 32).map { i =>
      (i.toLong, (0 until 64).map(j => ((i * 7 + j) % 13 - 6) / 6.0f))
    } :+ ((40L, (0 until 64).map(j => ((3 * 7 + j) % 13 - 6) / 6.0f))))
      .sortBy(_._1)
    def parity(flat: Array[Float], ids: Array[Long], nprobe: Int): Unit = {
      val hof = emb.select($"vec_id", $"embedding".as("ea"))
        .withColumn("cbv", typedlit(flat.grouped(64).map(_.toSeq.map(_.toDouble)).toSeq))
        .withColumn("cbi", typedlit(ids.toSeq))
        .select($"vec_id",
          expr(llm.Similarity.nearBucketsHofSql(ids.length, nprobe)).as("ref"))
      val fast = emb.select($"vec_id",
        VectorExprs.nearestCentroids($"embedding", flat, ids, 64, nprobe).as("fast"))
      val diff = hof.join(fast, "vec_id").filter($"ref" =!= $"fast").count()
      assert(diff === 0)
    }
    parity(cents.flatMap(_._2).toArray, cents.map(_._1).toArray, 5)
    // The fixed-pivot pack the verdict arms probe: the md5-smallest
    // corpus vectors (checked against a driver-side md5 order), ids
    // ascending — real corpus vectors as cells.
    val corpus = Tables.embeddings(spark, sf0001)
    val (piv, _) = llm.Similarity.pivotIndex(corpus)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val md5Smallest = corpus.select($"vec_id").collect().map(_.getLong(0))
      .sortBy(id => (md5hex(id.toString), id)).take(llm.Similarity.FixedPivotNlist)
    assert(piv.ids.toSeq === md5Smallest.sorted.toSeq)
    parity(piv.flat, piv.ids, llm.Similarity.FixedPivotNprobe)
    // nprobe > nlist degenerates to "all buckets, sorted" — the full
    // argsort, still in (d, cl) order.
    val all = emb.limit(5).select(
      VectorExprs.nearestCentroids($"embedding",
        cents.flatMap(_._2).toArray, cents.map(_._1).toArray, 64, 999).as("a"))
      .collect()
    all.foreach(r => assert(r.getSeq[Long](0).length === cents.size))
    // A MIS-SIZED vector (length != dim) nulls out instead of returning
    // a truncated-distance bucket list (r11 review pass): the HOF
    // oracle's zip_with nulls its distances there, so "confident but
    // truncated" would be a silent parity break. Null feeds a
    // downstream explode() as zero rows.
    val short = Seq((1L, Seq.fill(10)(0.25f)), (2L, (0 until 64).map(_ => 0.25f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", VectorExprs.nearestCentroids(
        $"embedding".cast("array<float>"),
        cents.flatMap(_._2).toArray, cents.map(_._1).toArray, 64, 5).as("a"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(short(1L) === true, "mis-sized vector must null out")
    assert(short(2L) === false, "well-formed vector must not null out")
  }

  test("kernels stay inside whole-stage codegen") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val plan = emb.select(VectorExprs.dotF32($"embedding", $"embedding").as("d"))
      .queryExecution.executedPlan.toString
    // whole-stage-codegen'd operators print with a "*(stageId)" prefix
    assert(plan.linesIterator.exists(l => l.trim.startsWith("*(")), plan)
  }
}
