package graft.llm

import graft.{Q, Tables}
import graft.Q.QFn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * End-to-end corpus curation — the flagship COMPOSED pipeline: the
 * operators in this package are useful alone, but a real training-data
 * build chains them. `pipeline_curate` runs the canonical four-stage
 * chain as ONE declarative query (one Catalyst plan — stages fuse,
 * nothing materializes between them), oracle-checked end-to-end:
 *
 *  1. exact dedup   — keep the lowest doc_id per md5(text);
 *  2. near-dup prune — Jaccard ≥ 0.95 pair graph over the survivors,
 *     connected components, keep only each component's canonical
 *     (minimum-id) member plus all unpaired docs;
 *  3. quality gate  — integer-basis-point quality score ≥ 5000
 *     (uniqueness + non-stopword mass, the text_quality formula);
 *  4. stratified sample — deterministic ⌈n·0.5⌉ per language.
 *
 * Scale notes (100 TB): the chain is exactly the production shape —
 * cheap exact dedup first collapses mass before the expensive pairwise
 * stage. Stage 2's candidate generation is CONF-SWAPPABLE
 * (`spark.graft.curate.pairStrategy` = exact | lsh): both arms emit the
 * same (doc_a, doc_b) pair frame into the same component step — `exact`
 * (prefix-filtered AllPairs Jaccard) is the oracle arm at test sf,
 * `lsh` (MinHash banding) is the 100 TB arm; a planted-duplicate parity
 * test pins that the arms agree where LSH recall is guaranteed. The
 * quality gate is a free per-row filter; the sample bounds what leaves
 * the pipeline. Every stage shuffles by doc or language key only — no
 * stage collects.
 *
 * r6→r7 regression bisect (VERDICT r6 #2): BENCH_r06's heavy tier read
 * this entry at 48.1 s (vs 26.5 s in r5) with CBO newly on, so CBO
 * join-reorder was the prime suspect. Bisected with [[graft.Profile]]
 * (clean JVM, sf0.1, idle host, 2 reps each): ANALYZE+CBO 26.4/24.0 s,
 * ANALYZE with CBO off 26.2/25.3 s, no ANALYZE (r5 conditions)
 * 25.5/24.6 s — identical SMJ+BHJ strategies in all three. CBO is
 * exonerated; the 48.1 s reading (cpu_share 0.733 — ~27 % of task
 * time descheduled) was host contention during the r6 driver run, the
 * same anomaly class as r5's one-off 34 s s10 reading. No code change
 * was warranted; the r7 bench artifact is the re-measurement.
 */
object Curate {

  def curate(docs: DataFrame): DataFrame = {
    // 1. exact dedup — PERSISTED (r18; guide §1.2 "don't recompute what
    // you already have"): the survivor frame feeds (a) the pair stage's
    // signature/token builds (two reads — the signature persist and the
    // token-array broadcast build), and (b) the stage-2 anti-join's left
    // side — without the cache the full-corpus md5 window re-ran up to
    // three times per query (graft.Profile: the lsh arm spends its first
    // seconds repeating this window). Cache lifecycle belongs to the
    // runner (per-query clearCache), the documented handle-leak
    // convention — same as the tf persist in TextOps.
    val wExact = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val exactKept = Q.ownPersist(docs
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") === 1)
      .drop("rn")).df
    // 2. near-dup components → drop non-canonical members (pair source
    // picked by conf — exact at test sf, minhash-LSH at scale)
    val lshArm = docs.sparkSession.conf
      .getOption("spark.graft.curate.pairStrategy").contains("lsh")
    // Exact arm goes through componentsOverTokenPairs so the token-side
    // caches are released BEFORE the CC fixpoint starts (VERDICT r9 #1
    // — this entry is where the r9 driver-run stall concentrated).
    val comps =
      if (lshArm) Dedup.connectedComponents(Dedup.minhashLsh(exactKept, 0.95))
      else Dedup.componentsOverTokenPairs(Dedup.distinctTokens(exactKept), 0.95)
    val nearKept = exactKept.join(
      comps.filter(col("doc_id") =!= col("component_id")).select("doc_id"),
      Seq("doc_id"), "left_anti")
    // 3. quality gate (text_quality's integer-bp score — the SHARED
    // stop list / formula spellings from TextOps, so this stage and
    // the standalone rows cannot drift)
    val toks = col("toks")
    val scored = nearKept
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("stop_cnt", TextOps.stopCnt(toks))
      .withColumn("uniq_cnt", size(array_distinct(toks)).cast("long"))
      .withColumn("quality_bp", expr(TextOps.QualityBpSql))
      .filter(col("quality_bp") >= 5000)
    // 4. deterministic 50% stratified sample by language
    val byLang = Window.partitionBy(col("lang"))
    scored
      .withColumn("srn", row_number().over(byLang.orderBy(col("doc_id"))).cast("long"))
      .withColumn("strata_n", count(lit(1)).over(byLang))
      .filter(col("srn") <= ceil(col("strata_n") * 0.5))
      .select(col("doc_id"), col("lang"), col("quality_bp"))
      .orderBy(col("doc_id"))
  }

  /**
   * RAG/pretraining document-to-chunk pipeline — the second composed
   * flagship, chaining this round's text ops as ONE fused plan (per-row
   * expressions + a single bounded explode; the only shuffle is the
   * verify sort):
   *
   *  1. normalize      — collapse consecutive duplicate tokens;
   *  2. gate           — drop degenerate docs (< 8 normalized tokens);
   *  3. split          — content-stable train/holdout via salted md5;
   *  4. chunk          — 32-token windows, stride 24, with offsets;
   *  5. fingerprint    — rolling hash PER CHUNK (chunk-level dedup key
   *                      for the downstream exact-dedup pass).
   *
   * Output is the chunk-level training table a tokenizer consumes:
   * (doc_id, n_norm_tokens, split, chunk_idx, tok_start, fingerprint,
   * chunk_text). Scale: zero joins — linear scan shape end to end.
   */
  def ragPrep(docs: DataFrame): DataFrame =
    ragChunks(docs).orderBy(col("doc_id"), col("chunk_idx"))

  private def ragChunks(docs: DataFrame): DataFrame = {
    val (c, st) = (32, 24)
    val dedupRuns = "filter(toks, (x, i) -> i = 0 OR x <> toks[i - 1])"
    val split2 = substring(md5(concat(col("doc_id").cast("string"), lit(":split"))), 1, 2)
    docs
      .withColumn("toks", split(trim(col("text")), " "))
      .withColumn("nta", expr(dedupRuns))
      .withColumn("n_norm_tokens", size(col("nta")).cast("long"))
      .filter(col("n_norm_tokens") >= 8)
      .withColumn("split",
        when(split2 < "e6", "train").otherwise("holdout"))
      .select(col("doc_id"), col("n_norm_tokens"), col("split"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, if(n_norm_tokens <= $c, 0,
             |    (n_norm_tokens - $c + ${st - 1}) div $st)),
             |  i -> slice(nta, i * $st + 1, $c))""".stripMargin)))
      .select(col("doc_id"), col("n_norm_tokens"), col("split"),
        col("pos").cast("long").as("chunk_idx"),
        (col("pos").cast("long") * st + 1).as("tok_start"),
        expr(
          """aggregate(
            |  transform(col, t -> ascii(t) * 131L + length(t)),
            |  0L,
            |  (acc, v) -> pmod(acc * 31 + v, 2147483647L))""".stripMargin)
          .as("fingerprint"),
        array_join(col("col"), " ").as("chunk_text"))
  }

  /**
   * Chunk-level exact dedup — the third composed flagship (VERDICT r3
   * #8), extending [[ragPrep]]'s chunk table with the pass its
   * fingerprints exist for:
   *
   *  6. chunk dedup — GLOBAL first-occurrence-wins over chunk_text
   *     (window rank by (doc_id, chunk_idx)); global, not per-split, so
   *     a holdout chunk duplicated in train is removed — the
   *     train→holdout leakage a per-split dedup would miss;
   *  7. survivor stats — per split: raw vs kept chunk counts, docs
   *     still represented, kept token mass (the budget numbers a
   *     tokenizer run is planned against).
   *
   * Still ONE fused plan: stages 1–5 are per-row expressions + one
   * bounded explode, stage 6 is one shuffle by chunk_text, stage 7 one
   * hash agg of 2 groups. No joins anywhere. At 100 TB the window's
   * shuffle is keyed on chunk_text (high cardinality → even spread); the
   * dedup key is the full chunk TEXT, not the fingerprint, so hash
   * collisions cannot merge distinct chunks (the fingerprint remains the
   * cheap pre-grouping key a production pass would bucket on first).
   */
  def chunkDedupStats(docs: DataFrame): DataFrame = {
    val wChunk = Window.partitionBy(col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    ragChunks(docs)
      .withColumn("crn", row_number().over(wChunk))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_raw_chunks"),
        sum(when(col("crn") === 1, 1L).otherwise(0L)).as("n_kept_chunks"),
        countDistinct(when(col("crn") === 1, col("doc_id"))).as("n_docs_kept"),
        sum(when(col("crn") === 1, size(split(col("chunk_text"), " ")))
          .otherwise(0)).cast("long").as("n_kept_tokens"))
      .orderBy(col("split"))
  }

  /**
   * Benchmark decontamination — the fourth composed flagship: the
   * standard n-gram-overlap check run before every serious pretraining
   * job (an eval/benchmark document whose shingles appear in the
   * training split invalidates the benchmark). Here the content-stable
   * holdout split plays the benchmark set:
   *
   *  1. split      — the same salted-md5 train/holdout rule as
   *                  `split_train_holdout` (content-stable, so the
   *                  "benchmark" is reproducible across engines/runs);
   *  2. shingle    — 5-token word shingles per doc (production uses
   *                  8–13; 5 fits this corpus's 10–99-token docs);
   *  3. index      — DISTINCT holdout shingles with their source doc;
   *  4. probe      — equi-join train doc-shingles against the index;
   *  5. report     — per TRAIN doc: distinct shared shingles, distinct
   *                  eval docs hit, contaminated flag (every train doc
   *                  reported, zero rows included — the artifact an
   *                  auditor signs off on).
   *
   * Scale (100 TB): the benchmark side is small by construction →
   * conf-gated broadcast of its distinct-shingle index; the train side
   * streams through scan → explode → join with NO self-join and no
   * all-pairs anywhere; shuffle (fallback path) is keyed on the shingle
   * string. A production variant joins on xxhash64(shingle) to shrink
   * exchange width — kept as the exact string here so the oracle
   * comparison is collision-free by construction.
   */
  /** Conf: `exact` joins every train gram against the holdout index;
    * `bloom` pre-filters train grams through a Bloom filter of the
    * holdout grams first; `auto` (default, r6 — VERDICT r5 item 5)
    * picks bloom exactly when the estimated holdout gram index
    * outgrows the broadcast row budget, i.e. the regime where the
    * exact arm's probe join stops broadcasting and degrades to a full
    * shuffle of the (enormous) train gram stream. Output is identical
    * on every arm. */
  val DecontStrategyKey = "spark.graft.decontaminate.strategy"

  /** Word-shingle width (production uses 8–13; 5 fits the corpus). */
  private val GramN = 5

  /** Estimated DISTINCT grams per holdout doc for the auto gate: the
    * stress corpus draws 100–250 tokens/doc (mean ≈ 175 → ≈ 170 grams);
    * the shipped sf tables run shorter (10–99 tokens, ≈ 50 grams), so
    * this constant OVER-estimates there — erring toward bloom, the arm
    * that always finishes (same safe-direction rule as StatsEst). */
  private val EstGramsPerHoldoutDoc = 170L

  /** Holdout share of the salted-md5 split (md5 prefix < "e6" is train:
    * 230/256 ≈ 0.9 train, 0.1 holdout). */
  private val HoldoutShare = 0.1

  /** Salted-md5 train/holdout split over an arbitrary id column — the
    * documents split keys on doc_id; the semantic arm applies the SAME
    * rule to embeddings.vec_id (≡ doc_id), so both decontamination
    * modalities audit one consistent split. */
  private def splitExprOn(id: org.apache.spark.sql.Column) =
    when(substring(md5(concat(id.cast("string"), lit(":split"))), 1, 2) < "e6",
      "train").otherwise("holdout")

  private def splitExpr = splitExprOn(col("doc_id"))

  /** (doc_id, split, gram) — every GramN-token shingle of every doc.
    * sequence(0, size-n) is ascending only when size >= n — guard first
    * (Spark's sequence() steps DOWNWARD when start > stop). */
  private def docGrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), splitExpr.as("split"),
        split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= GramN)
      .select(col("doc_id"), col("split"), explode(expr(
        s"transform(sequence(0, size(toks) - $GramN), " +
          s"i -> array_join(slice(toks, i + 1, $GramN), ' '))"))
        .as("gram"))

  /** The bloom arm's LOAD-TIME cost, isolated so the stress sweep can
    * time BUILD separately from probe: one count + one bloom aggregate
    * over the SMALL (holdout) side only — the same cost class as
    * ANALYZE, paid once per load and amortized over every probe.
    * Returns the SERIALIZED filter bytes and the distinct-gram count it
    * was sized for (~1.2 B/gram at 1 % fpp).
    *
    * Built with Spark's native `BloomFilterAggregate` over
    * `xxhash64(gram)` (the same expression pair runtime-filter
    * injection plants, so the probe side can be the codegen'd
    * `BloomFilterMightContain` instead of a Scala UDF — VERDICT r8
    * item 2). Sizing is clamped to the runtime-filter conf caps the
    * aggregate type-checks against; past the item cap the fpp degrades
    * gracefully (more verify-join rows, identical output). */
  def buildHoldoutBloom(docs: DataFrame): (Array[Byte], Long) = {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val holdGrams = docGrams(docs).filter(col("split") === "holdout")
      .select(col("gram")).distinct()
    val nGrams = math.max(holdGrams.count(), 1L)
    val conf = docs.sparkSession.conf
    val maxItems = conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000")
      .toLong
    val maxBits = conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864")
      .toLong
    val n = math.min(nGrams, maxItems)
    // optimal m = -n·ln(p)/ln²2 ≈ 9.585·n at p = 0.01 (~1.2 B/gram)
    val bits = math.min(math.max((n * 9.585d).toLong, 64L), maxBits)
    val agg = new BloomFilterAggregate(
      new XxHash64(Seq(GraftShims.expr(col("gram")))),
      Literal(n), Literal(bits))
      .toAggregateExpression()
    val bytes = holdGrams.select(GraftShims.exprColumn(agg).as("bf"))
      .head().getAs[Array[Byte]](0)
    (bytes, nGrams)
  }

  /** The auto gate (true = bloom), split out for the arm test: bloom
    * once the ESTIMATED holdout index (driver-side plan stats — StatsEst
    * leaf rows × holdout share × grams/doc, no job runs) exceeds the
    * broadcast row budget the exact arm's probe join is gated on
    * ([[graft.Q.maybeBroadcast]]'s threshold): past it the exact arm
    * shuffles EVERY train gram, while the bloom bits still broadcast at
    * ~1.2 B/gram and the verify join only sees the contaminated sliver.
    *
    * What the estimate counts (ADVICE r6): the exact arm broadcasts
    * holdIdx = distinct (eval_doc, gram) PAIRS, not distinct grams —
    * and docs × share × grams/doc sums each doc's own distinct grams
    * SEPARATELY, so it estimates exactly that pair count (the global
    * distinct-gram count is ≤ it by whatever cross-doc overlap exists).
    * The gate therefore compares the broadcast's true row count; its
    * only optimistic error is the grams/doc constant, which
    * over-estimates on the shipped sf corpora (≈ 50 actual vs 170) —
    * erring toward bloom, the arm that always finishes. The r7 sweep
    * (BENCH_stress.json `pipeline_decont_exact` / `_bloom` /
    * `decont_bloom_build`, s1–s100) measures WHERE that matters: the
    * two arms are at wall-clock PARITY across the span (s10 bloom
    * 12.0 s vs exact 15.1 s, s30 exact 25.0 s vs bloom 26.7 s, s100
    * bloom 86.7 s vs exact 88.8 s; build 12.5 s of bloom's s100 cost)
    * — so the gate's win is not speed at these scales but the
    * broadcast bound itself: at s100 the exact arm ships a 17 M-row
    * index (~0.5 GB hashed relation, already past
    * [[graft.Q.BroadcastSideThresholdKey]]'s 8 M-row budget) where
    * bloom ships ~21 MB of bits, the difference between an
    * executor-OOM cliff and a flat curve at the next decade.
    * Wall-clock parity + bounded memory is exactly the trade a 100 TB
    * decontamination pass wants. */
  private[graft] def decontWantsBloom(docs: DataFrame): Boolean = {
    val nDocs = graft.plans.StatsEst.estimatedRows(
      docs.queryExecution.optimizedPlan, graft.plans.StatsEst.EstRowBytesTok)
    val estHoldoutPairs =
      (BigDecimal(nDocs) * HoldoutShare * EstGramsPerHoldoutDoc).toBigInt
    val rowBudget = docs.sparkSession.conf
      .get(Q.BroadcastSideThresholdKey, "8000000").toLong
    estHoldoutPairs > rowBudget
  }

  def decontaminate(docs: DataFrame): DataFrame = {
    val grams = docGrams(docs)
    val holdIdx = grams.filter(col("split") === "holdout")
      .select(col("doc_id").as("eval_doc"), col("gram")).distinct()
    val trainGramsAll = grams.filter(col("split") === "train")
      .select(col("doc_id"), col("gram")).distinct()
    // Bloom arm (r5, conf-gated like curate's pair strategy): at 100 TB
    // the holdout set (eval benchmarks) stays orders of magnitude
    // smaller than train, but its DISTINCT gram INDEX can still outgrow
    // a row broadcast. A Bloom filter of the holdout grams is ~1.2 B per
    // gram at 1% fpp — a single compact broadcast that pre-filters the
    // (enormous) train gram stream down to the contaminated sliver
    // BEFORE the shuffle join. False positives only add verify-join
    // rows; the exact join behind the filter eliminates them, so both
    // arms emit identical output and share the oracle (same
    // sketch-then-verify contract as minhash_lsh / embed_lshpairs).
    // The Bloom build is a driver-side aggregate over the SMALL side
    // only (two jobs at load time: count + build), same cost class as
    // ANALYZE; the train side is never collected.
    val bloomArm = docs.sparkSession.conf
      .getOption(DecontStrategyKey).getOrElse("auto") match {
        case "bloom" => true
        case "exact" => false
        case "auto" => decontWantsBloom(docs)
        case other => throw new IllegalArgumentException(
          s"$DecontStrategyKey must be exact|bloom|auto, got '$other'")
      }
    val trainGrams =
      if (!bloomArm) trainGramsAll
      else {
        // Native probe (VERDICT r8 item 2): `BloomFilterMightContain`
        // over xxhash64(gram) — the codegen'd expression runtime-filter
        // injection uses, so the train-gram scan (the 100 TB-side hot
        // path) stays inside whole-stage codegen instead of breaking at
        // a Scala UDF. The serialized bits ride the plan as a binary
        // literal; Spark broadcasts the task binary once per stage, so
        // this ships exactly like the old explicit broadcast.
        import org.apache.spark.sql.GraftShims
        import org.apache.spark.sql.catalyst.expressions.{
          BloomFilterMightContain, Literal, XxHash64}
        import org.apache.spark.sql.types.BinaryType
        val (bloomBytes, _) = buildHoldoutBloom(docs)
        trainGramsAll.filter(GraftShims.exprColumn(BloomFilterMightContain(
          Literal(bloomBytes, BinaryType),
          new XxHash64(Seq(GraftShims.expr(col("gram")))))))
      }
    val hits = trainGrams.join(Q.maybeBroadcast(holdIdx), "gram")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("eval_doc")).as("n_eval_docs"))
    // EVERY train doc appears in the report (zero rows included), so the
    // base is the unsharded doc list — docGrams' size-≥-n filter must
    // not drop short docs here.
    docs.select(col("doc_id"), splitExpr.as("split"))
      .filter(col("split") === "train").select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
        (coalesce(col("n_shared_grams"), lit(0L)) > 0).cast("long").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Conf for [[decontaminateSemantic]]'s candidate source: `exact`
    * (all train×holdout pairs — the oracle arm) or `cluster` (k-means
    * cell blocking via [[Similarity.semanticPairs]] — the scale arm,
    * recall-gated like dedup_semantic). */
  val SemanticDecontStrategyKey = "spark.graft.decontaminate.semantic.strategy"

  /**
   * Embedding-side (semantic) eval decontamination (r17 — VERDICT r16
   * #4): [[decontaminate]]'s shared-shingle probe catches literal
   * n-gram leakage, but PARAPHRASED eval contamination — the case
   * modern pipelines actually audit for — shares no shingles. This arm
   * replays the SAME salted-md5 split over the embeddings (vec_id ≡
   * doc_id, so the "benchmark" is the identical holdout set) and flags
   * every train doc whose embedding reaches rounded cosine ≥
   * [[Similarity.NeardupCos]] against any holdout doc. Output — the
   * quarantine list an operator hands back to the eval owners — is one
   * row per flagged train doc: its best-matching eval doc (argmax,
   * ties to the lowest eval id) and that max similarity.
   *
   * Arms ([[SemanticDecontStrategyKey]]): `exact` compares every
   * train×holdout pair (the holdout side rides the conf-gated
   * broadcast — eval benchmarks are small by construction; at verify
   * sf this is the hash-matched DuckDB oracle arm); `cluster` draws
   * candidates from [[Similarity.semanticPairs]]' k-means cell
   * blocking — within-cell verified pairs, cross-split ones kept —
   * the SemDeDup-shaped scale path whose planted-pair recall LlmSpec
   * gates. Both arms share the argmax/report tail, so a conf swap
   * changes candidate generation only (the pipeline_curate precedent).
   */
  def decontaminateSemantic(emb: DataFrame): DataFrame = {
    val tau = Similarity.NeardupCos
    val exactArm = emb.sparkSession.conf
      .getOption(SemanticDecontStrategyKey).getOrElse("exact") match {
        case "exact" => true
        case "cluster" => false
        case other => throw new IllegalArgumentException(
          s"$SemanticDecontStrategyKey must be exact|cluster, got '$other'")
      }
    val pairs =
      if (exactArm) {
        val sides = emb.select(col("vec_id"),
          splitExprOn(col("vec_id")).as("split"), col("embedding"),
          Similarity.sumSq(col("embedding")).as("sq"))
        val t = sides.filter(col("split") === "train")
          .select(col("vec_id").as("doc_id"),
            col("embedding").as("ea"), col("sq").as("sqa"))
        val h = sides.filter(col("split") === "holdout")
          .select(col("vec_id").as("eval_doc"),
            col("embedding").as("eb"), col("sq").as("sqb"))
        t.crossJoin(Q.maybeBroadcast(h))
          .select(col("doc_id"), col("eval_doc"),
            Similarity.cos4Pre(Similarity.dotFast(col("ea"), col("eb")),
              col("sqa"), col("sqb")).as("cos_sim"))
          .filter(col("cos_sim") >= tau)
      } else {
        // cross-split pairs out of the cell-blocked verified pair frame,
        // oriented train → holdout (pairs arrive vec_a < vec_b).
        val sp = Similarity.semanticPairs(emb, tau)
          .withColumn("sa", splitExprOn(col("vec_a")))
          .withColumn("sb", splitExprOn(col("vec_b")))
        sp.filter(col("sa") === "train" && col("sb") === "holdout")
          .select(col("vec_a").as("doc_id"), col("vec_b").as("eval_doc"),
            col("cos_sim"))
          .union(sp.filter(col("sa") === "holdout" && col("sb") === "train")
            .select(col("vec_b").as("doc_id"), col("vec_a").as("eval_doc"),
              col("cos_sim")))
      }
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("cos_sim").desc, col("eval_doc"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("eval_doc"), col("cos_sim").as("max_cos"))
      .orderBy(col("doc_id"))
  }

  /**
   * Token-budget data mixture — the dataset-mixing step of a pretraining
   * build: each language gets a fixed weight of a global token budget
   * (here 50 % of the corpus; en 40 %, zh 20 %, es/fr 15 %, de 10 %),
   * and docs are admitted in deterministic doc_id order until their
   * language's budget is exhausted. Up-/down-weighting sources is how
   * real mixtures (web/books/code…) are tuned; the per-lang cumulative
   * window + budget filter is the whole mechanism.
   *
   * Determinism: budgets are INTEGER arithmetic — weight in basis
   * points of the halved budget, `total * wbp div 10000` — because a
   * double 0.15·total can floor differently across engines at exact
   * integers. One 1-row broadcast (corpus total), one shuffle by lang
   * for the cumulative window; at 100 TB the admission order would be a
   * salted hash instead of doc_id (same plan shape), and heavily-
   * weighted languages simply keep more of their stream.
   */
  def datamix(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val total = toks.agg(sum(col("n_tokens")).as("total_toks"))
    // weight × 50 % global budget, in basis points (en 40 % → 2000 bp)
    val wbp = when(col("lang") === "en", 2000L)
      .when(col("lang") === "zh", 1000L)
      .when(col("lang") === "es", 750L)
      .when(col("lang") === "fr", 750L)
      .otherwise(500L)
    val byLang = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.crossJoin(broadcast(total))
      .withColumn("wbp", wbp)
      .withColumn("budget", expr("total_toks * wbp div 10000"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(byLang).cast("long"))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /**
   * Temperature-scaled source mixing (round 9) — the multilingual-
   * pretraining sampling rule of mC4 / XLM-R (Conneau et al. 2020,
   * arXiv:1911.02116 §3.1 — public): raw source shares p_s are smoothed
   * to p_s^α before sampling, boosting small sources without flattening
   * the mix. α = 0.5 here so the smoothing is SQRT — IEEE-correctly-
   * rounded in every engine, unlike a general pow — and each source's
   * weight rounds to 10 dp and sums as DECIMAL (the text_entropy
   * discipline: order-independent, bit-identical). The doc budget is
   * ~10 % of the corpus (per-source half-up rounding lets small
   * sources round UP, so the realized total can slightly exceed the
   * nominal budget — boosting small sources is the point), split
   * ∝ √n_s; each source admits its target count in deterministic
   * salted-md5 order (r10) — well-mixed, decorrelated from
   * doc_id/insertion order, independent of sample_weighted's ':sw'
   * stream by salt, and overflow-free at any corpus size (the LCG it
   * replaces overflowed signed 64-bit past doc_id ≈ 8.4e9 and its
   * rank order nearly coincided with sample_weighted's).
   *
   * Plan shape: one 5-row aggregate (partial+final), broadcast back,
   * one per-source window for the admission rank — the same
   * one-shuffle-by-source shape as curate_source_cap; at 100 TB the
   * hot-source window is exactly the mass the temperature exists to
   * rebalance, and the 5-row target frame broadcasts at any scale.
   */
  def temperatureMix(docs: DataFrame): DataFrame = {
    val bySrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", expr(
        "CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 10) AS DECIMAL(18,12))"))
    val tot = bySrc.agg(sum(col("w")).as("w_tot"),
      sum(col("n_docs")).as("n_total"))
    val targets = bySrc.crossJoin(broadcast(tot))
      .withColumn("share", expr("CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE)"))
      .withColumn("target_docs", expr(
        "CAST(floor((n_total div 10) * share + 0.5) AS BIGINT)"))
      .select(col("source"), col("n_docs"), col("target_docs"))
    // Admission order: salted md5 of the doc id, compared AS THE HEX
    // STRING (u only orders the window, it is never output — both
    // engines compare identical lowercase-hex bytes). r10, ADVICE r9:
    // the previous LCG product overflowed signed 64-bit past
    // doc_id ≈ 8.4e9 (Spark wraps silently, DuckDB raises), so the
    // 100 TB-readiness claim failed on the admission arithmetic; md5
    // is overflow-free and well-mixed at any corpus size.
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("u"), col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("u", md5(concat(col("doc_id").cast("string"), lit(":tmix"))))
      .join(broadcast(targets), "source")
      .withColumn("sel_rank", row_number().over(wSrc).cast("long"))
      .filter(col("sel_rank") <= col("target_docs"))
      .select(col("doc_id"), col("source"), col("n_docs"),
        col("target_docs"), col("sel_rank"))
      .orderBy(col("doc_id"))
  }

  /**
   * Per-source document cap — the C4/RefinedWeb anti-domination rule: no
   * single source (domain, in a web corpus) may contribute more than
   * `cap` documents, admitted in deterministic doc_id order, and the
   * decision is reported per source (docs seen / kept / dropped, kept
   * token mass) — the audit table a corpus governance review reads.
   *
   * One shuffle (the per-source window) + one hash agg. At 100 TB the
   * window key is the source/domain — millions of distinct values in a
   * web corpus, so the shuffle spreads evenly; a single mega-domain
   * (the one skewed key) is exactly the thing the cap exists to bound,
   * and row_number over it degrades to one hot partition ONCE, after
   * which the cap drops its mass from every downstream stage. A
   * production variant pre-filters with an approximate per-source count
   * so the window only runs on sources near the cap (same plan shape).
   */
  def sourceCap(docs: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= cap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > cap, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("rn") <= cap, col("n_tokens")).otherwise(0L))
          .as("kept_tokens"))
      .orderBy(col("source"))
  }

  /** Fixed training-sequence length for [[pack]] — small enough that the
    * test corpora produce multi-doc sequences AND multi-sequence docs. */
  val PackSeqLen = 256L

  /**
   * GPT-style sequence packing (round 8): concatenate the curated corpus
   * in deterministic doc_id order and cut it into fixed [[PackSeqLen]]-
   * token training sequences — documents span sequence boundaries (the
   * standard pretraining layout; boundaries carry EOD markers downstream,
   * not padding). Emits per-doc placement: absolute token offset, first/
   * last sequence id, sequences spanned — the manifest a trainer's data
   * loader consumes.
   *
   * The global running offset is a DISTRIBUTED two-phase prefix sum, not
   * a single-partition window: range-partition by doc_id (partition i
   * holds a contiguous id range; Spark's RangePartitioner assigns
   * partition ids in ascending range order), running-sum WITHIN each
   * partition, then shift each partition by the exclusive prefix of
   * per-partition totals. Phase 2's window runs over P summary rows
   * (P = shuffle partitions, metadata scale), so no data-sized
   * single-partition pass exists anywhere in the plan — at 100 TB the
   * big window is ~#docs/P rows per task and the coordination cost is
   * O(P). Prefix-sum associativity makes the output independent of
   * where the partition cuts land, so the DuckDB oracle can be the
   * plain sequential `SUM() OVER (ORDER BY doc_id)`.
   */
  def pack(docs: DataFrame): DataFrame = {
    val t = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = t.withColumn("local_cum", sum(col("n_toks")).over(wLocal))
    // Constant partition key (VERDICT r8 item 3): this window runs over
    // exactly P summary rows (P = shuffle partitions, metadata scale) —
    // the constant key plans the identical single-partition exchange but
    // keeps the `WindowExec: No Partition Defined` warning stream clean,
    // so a REAL data-sized unpartitioned window stays loudly visible.
    // `pid - pid` (not `lit(0)`) because EliminateWindowPartitions
    // strips foldable keys and would resurrect the warning.
    val wOffset = Window.partitionBy(col("pid") - col("pid"))
      .orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("pid"))
      .agg(sum(col("n_toks")).as("ptotal"))
      .withColumn("offset", coalesce(sum(col("ptotal")).over(wOffset), lit(0L)))
      .select(col("pid"), col("offset"))
    local.join(broadcast(offsets), "pid")
      .withColumn("cum", col("local_cum") + col("offset"))
      .select(col("doc_id"), col("n_toks"),
        (col("cum") - col("n_toks")).as("tok_start"),
        expr(s"(cum - n_toks) DIV $PackSeqLen").as("seq_first"),
        expr(s"(cum - 1) DIV $PackSeqLen").as("seq_last"),
        expr(s"(cum - 1) DIV $PackSeqLen - (cum - n_toks) DIV $PackSeqLen + 1")
          .as("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** Target-distribution language for [[dsirSelect]]'s oracle arm (the
    * majority class, so both models are well-populated at every sf);
    * production passes an actual target corpus frame instead. */
  val DsirTargetLang = "en"

  /**
   * DSIR-style data selection (importance resampling over hashed n-gram
   * features; Xie et al. 2023, "Data Selection for Language Models via
   * Importance Resampling", arXiv:2302.03169 — public): score every raw
   * document by how much more likely its bag of token bigrams is under
   * a TARGET distribution's feature model than under the raw corpus's
   * own, then keep the top `frac` by that log-likelihood ratio. Here
   * the target is the [[DsirTargetLang]] slice standing in for "quality
   * corpus" (the paper's Wikipedia+books target); both models are
   * add-one-smoothed multinomials over the shared bigram space.
   *
   * Shape: ONE corpus explode feeds both models and the scoring join
   * (persisted, same discipline as text_ngram_lm); the model table is
   * |bigram types| rows → conf-gated broadcast; per-doc scores are one
   * hash agg; the global top-`frac` cut is the SAME distributed
   * two-phase rank as [[pack]] (range-partition by (llr desc, doc_id) →
   * in-partition row_number → exclusive shift by per-partition counts),
   * so no data-sized single-partition window exists — at 100 TB the
   * paper's hashed features bound the model table (2^k buckets) and the
   * rank is O(P) coordination. The raw grams stay unhashed here so the
   * DuckDB oracle is collision-free by construction.
   *
   * Determinism (§7d): the ratio is summed per doc then ROUNDED to 4 dp
   * in both engines before any ranking — ties break on doc_id; the
   * rank is the sequential `ROW_NUMBER() OVER (ORDER BY llr DESC,
   * doc_id)` in the oracle, value-identical to the two-phase plan by
   * prefix-count associativity.
   */
  def dsirSelect(docs: DataFrame, targetLang: String, frac: Double): DataFrame = {
    val bi = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], '_', toks[i + 1]))"))
        .as("gram"))
    // Handle intentionally discarded: released by the runner's
    // per-query clearCache once the result is materialized (ADVICE r10).
    Q.ownPersist(bi)
    val raw = bi.groupBy(col("gram")).agg(count(lit(1)).as("c_raw"))
    val tgt = bi.filter(col("lang") === targetLang)
      .groupBy(col("gram")).agg(count(lit(1)).as("c_tgt"))
    // 1-row totals frame: raw/target gram occurrences + shared vocab size
    // (broadcast — the same bounded-scalar pattern as text_ngram_lm's V).
    val tot = bi.agg(
      count(lit(1)).as("t_raw"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("t_tgt"),
      countDistinct(col("gram")).as("v"))
    val model = raw.join(tgt, Seq("gram"), "left")
      .na.fill(0L, Seq("c_tgt"))
      .crossJoin(broadcast(tot))
      .select(col("gram"),
        (log((col("c_tgt") + lit(1.0)) / (col("t_tgt") + col("v"))) -
          log((col("c_raw") + lit(1.0)) / (col("t_raw") + col("v")))).as("llr_g"))
    // Canonical-order summation (ADVICE r8): a doc's llr is a float sum
    // whose 4-dp rounding feeds a GLOBAL rank — one addend landing on
    // the other side of a rounding boundary would shift every sel_rank
    // below it. Distributed partial-agg order is nondeterministic, so
    // instead each doc's (gram, llr_g) terms are gathered, sorted by
    // gram, and folded sequentially — the oracle sums with the same
    // `ORDER BY gram`, making both engines run the identical IEEE
    // addition sequence (ties are the same bigram, hence the same
    // llr_g — order-free). The gather is per-doc bounded (a doc's own
    // bigrams), so the agg still partial-aggregates by doc key.
    val wdoc = bi.join(Q.maybeBroadcast(model), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(round(
        aggregate(
          array_sort(collect_list(struct(col("gram"), col("llr_g")))),
          lit(0.0), (acc, x) => acc + x.getField("llr_g")),
        4).as("llr"))
    val scored = docs.select(col("doc_id"), col("lang"), col("source"))
      .join(wdoc, Seq("doc_id"), "left")
      .withColumn("llr", coalesce(col("llr"), lit(0.0)))
    // Distributed global rank — pack's two-phase machinery over the
    // selection order instead of doc_id.
    // ranked feeds both the per-partition counts and the final join —
    // persist so the range shuffle and scoring join run once.
    val ranked = Q.ownPersist(scored
      .repartitionByRange(col("llr").desc, col("doc_id"))
      .withColumn("pid", spark_partition_id())).df
    val wLocal = Window.partitionBy(col("pid"))
      .orderBy(col("llr").desc, col("doc_id"))
    // P-row offset window — constant-keyed for warning hygiene, same
    // rationale (and same non-foldable-key trick) as [[pack]]'s wOffset.
    val wOffset = Window.partitionBy(col("pid") - col("pid"))
      .orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy(col("pid")).agg(count(lit(1)).as("pn"))
      .withColumn("off", coalesce(sum(col("pn")).over(wOffset), lit(0L)))
      .select(col("pid"), col("off"))
    val nTotal = broadcast(docs.agg(count(lit(1)).as("n_total")))
    ranked.join(broadcast(offsets), "pid")
      .withColumn("sel_rank", row_number().over(wLocal).cast("long") + col("off"))
      .crossJoin(nTotal)
      .filter(col("sel_rank") <= ceil(col("n_total") * lit(frac)))
      .select(col("doc_id"), col("lang"), col("source"), col("llr"),
        col("sel_rank"))
      .orderBy(col("sel_rank"))
  }

  /** Epoch/shard geometry of the `pipeline_shard_plan` row: 2 epochs ×
    * 8 shards — bounded manifest output (E·S rows) at any sf. At scale
    * the shard count is the parallelism knob (hundreds of shards for a
    * 100 TB corpus); the epoch count multiplies planned rows linearly
    * and real pipelines run one epoch plan at a time. */
  val ShardEpochs = 2
  val ShardCount = 8

  /**
   * Deterministic epoch/shard TRAINING-ORDER planner (r17) — the last
   * mile between a curated corpus and a data loader: every epoch needs
   * its own reproducible global permutation of the docs, materialized
   * as S shard files whose within-shard order the loader consumes
   * sequentially. Seeded spelling: a doc's per-epoch order key is the
   * first 15 hex nibbles of md5(doc_id ':e' epoch) decoded by ascii
   * arithmetic (the [[Dedup.simhashVerdictSketch]] hex→int spelling —
   * the one both engines share), its shard is that key mod S (balanced
   * in expectation, load ratio pinned in LlmSpec), and its position is
   * the rank of the key within the (epoch, shard) — which equals the
   * seeded global order restricted to the shard, so concatenating
   * shards in key order replays one global permutation per epoch, and
   * different epochs get independent permutations from the same seed
   * family. Every step is integer-deterministic in both engines.
   *
   * Scale shape: one E-way explode, per-row hash arithmetic, ONE
   * window keyed by (epoch, shard) — the n/S-row in-shard sort is the
   * irreducible cost of materializing a training order, and S is the
   * knob that sizes it — and a final E·S-row aggregate. No joins, no
   * global window, nothing driver-side.
   */
  def shardAssign(docs: DataFrame, epochs: Int, shards: Int): DataFrame = {
    def dig(i: Int) = {
      val a = ascii(substring(col("h"), i + 1, 1))
      when(a >= 97, a - 87).otherwise(a - 48).cast("long")
    }
    val ordExpr = (0 until 15)
      .map(i => dig(i) * lit(1L << (4 * (14 - i)))).reduce(_ + _)
    val wPos = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("ord"), col("doc_id"))
    docs.select(col("doc_id"))
      .withColumn("epoch",
        explode(array((0 until epochs).map(e => lit(e.toLong)): _*)))
      .withColumn("h", md5(concat(col("doc_id").cast("string"),
        lit(":e"), col("epoch").cast("string"))))
      .withColumn("ord", ordExpr)
      .withColumn("shard", col("ord") % shards)
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .select(col("epoch"), col("doc_id"), col("shard"), col("ord"),
        col("pos"))
  }

  /** The loader-facing manifest over [[shardAssign]]: per (epoch,
    * shard) the doc count and a permutation checksum Σ pos·doc_id —
    * additive (scale-safe distributive agg, never a collect of shard
    * members) yet order-pinning: transposing docs a≠b between
    * positions p≠q shifts the sum by (a−b)(p−q) ≠ 0, so the oracle
    * hash certifies the entire permutation through E·S rows. */
  def shardManifest(docs: DataFrame): DataFrame =
    shardAssign(docs, ShardEpochs, ShardCount)
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pos") * col("doc_id")).as("perm_checksum"))
      .orderBy(col("epoch"), col("shard"))

  /** Execute ONE epoch of the shard plan against a documents frame —
    * the [[graft.operators.Layout.compactWrite]] symmetry (plan rows
    * are oracle-checked; the write path is round-trip-tested): join
    * each doc to its (shard, pos), hash-colocate every shard onto one
    * task, and write hive-partitioned by shard with rows in pos order
    * — each `shard=<k>/` directory gets exactly ONE file whose row
    * order IS the epoch's planned training order restricted to that
    * shard (two shards hashing to one task still split into one file
    * each under partitionBy). The doc↔assignment self-join is a keyed
    * equi join on doc_id — broadcastable at verify sf, shuffle at
    * scale. Returns the shard count for the round-trip assertion. */
  def shardWrite(docs: DataFrame, epoch: Int, path: String): Int = {
    val assign = shardAssign(docs, epoch + 1, ShardCount)
      .filter(col("epoch") === epoch)
      .select(col("doc_id"), col("shard"), col("pos"))
    docs.join(assign, Seq("doc_id"))
      .repartition(ShardCount, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    ShardCount
  }

  val queries: Map[String, QFn] = Map(
    "pipeline_curate" -> ((s, d) => curate(Tables.documents(s, d))),
    "pipeline_shard_plan" -> ((s, d) => shardManifest(Tables.documents(s, d))),
    "curate_dsir" -> ((s, d) => dsirSelect(Tables.documents(s, d), DsirTargetLang, 0.25)),
    "pipeline_pack" -> ((s, d) => pack(Tables.documents(s, d))),
    "pipeline_rag" -> ((s, d) => ragPrep(Tables.documents(s, d))),
    "pipeline_chunkdedup" -> ((s, d) => chunkDedupStats(Tables.documents(s, d))),
    "pipeline_decontaminate" -> ((s, d) => decontaminate(Tables.documents(s, d))),

    // r17 (VERDICT r16 #4): the embedding-side decontamination arm —
    // paraphrase-leakage audit the n-gram probe above cannot catch;
    // exact arm oracle-checked, cluster arm recall-gated in LlmSpec.
    "decontaminate_semantic" -> ((s, d) =>
      decontaminateSemantic(Tables.embeddings(s, d))),
    "pipeline_decont_bloom" -> ((s, d) => {
      // The Bloom arm under the SAME oracle as the exact arm — safe
      // because parity is DETERMINISTIC, not probabilistic: the Bloom
      // pre-filter has no false negatives (every true hit survives) and
      // its false positives are eliminated by the exact join behind it,
      // so the two arms' outputs are bit-identical by construction.
      // Conf scoping: the arm choice is read when the frame is BUILT,
      // so set → build → restore keeps the session conf clean.
      val prev = s.conf.getOption(DecontStrategyKey)
      s.conf.set(DecontStrategyKey, "bloom")
      try decontaminate(Tables.documents(s, d))
      finally prev match {
        case Some(v) => s.conf.set(DecontStrategyKey, v)
        case None => s.conf.unset(DecontStrategyKey)
      }
    }),
    "pipeline_datamix" -> ((s, d) => datamix(Tables.documents(s, d))),

    "curate_temperature_mix" -> ((s, d) =>
      temperatureMix(Tables.documents(s, d))),
    "curate_source_cap" -> ((s, d) => sourceCap(Tables.documents(s, d), 20)))

  private lazy val DecontOracleSql: String =
    """WITH d AS (SELECT doc_id,
        |    CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'e6'
        |         THEN 'train' ELSE 'holdout' END AS split,
        |    STRING_SPLIT(text, ' ') AS toks
        |  FROM documents),
        | g AS (SELECT doc_id, split,
        |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) - 5 + 2),
        |      i -> ARRAY_TO_STRING(toks[i:i+4], ' '))) AS gram
        |  FROM d WHERE LEN(toks) >= 5),
        | h AS (SELECT DISTINCT doc_id AS eval_doc, gram FROM g
        |       WHERE split = 'holdout'),
        | t AS (SELECT DISTINCT doc_id, gram FROM g WHERE split = 'train'),
        | hit AS (SELECT t.doc_id, COUNT(DISTINCT t.gram) AS n_shared_grams,
        |    COUNT(DISTINCT h.eval_doc) AS n_eval_docs
        |  FROM t JOIN h USING (gram) GROUP BY t.doc_id)
        |SELECT d.doc_id, COALESCE(n_shared_grams, 0) AS n_shared_grams,
        | COALESCE(n_eval_docs, 0) AS n_eval_docs,
        | CAST(COALESCE(n_shared_grams, 0) > 0 AS BIGINT) AS contaminated
        |FROM d LEFT JOIN hit ON d.doc_id = hit.doc_id
        |WHERE d.split = 'train' ORDER BY d.doc_id""".stripMargin

  /** DuckDB oracle for [[decontaminateSemantic]]'s exact arm: the
    * DecontOracleSql split spelling over vec_id, the verify-proven
    * rounded-cosine spelling (LIST_SUM left-folds like Spark's
    * aggregate), threshold interpolated from the same
    * [[Similarity.NeardupCos]] the plan reads. */
  private lazy val SemanticDecontOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    CASE WHEN SUBSTR(MD5(CAST(vec_id AS VARCHAR) || ':split'), 1, 2) < 'e6'
       |         THEN 'train' ELSE 'holdout' END AS split
       |  FROM embeddings),
       | n AS (SELECT vec_id, emb, split,
       |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> emb[i] * emb[i])) AS sq
       |   FROM e),
       | p AS (SELECT t.vec_id AS doc_id, h.vec_id AS eval_doc,
       |    ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
       |        i -> t.emb[i] * h.emb[i]))
       |      / (SQRT(t.sq) * SQRT(h.sq)), 4) AS cos_sim
       |   FROM n t JOIN n h ON t.split = 'train' AND h.split = 'holdout'),
       | f AS (SELECT doc_id, eval_doc, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY cos_sim DESC, eval_doc) AS rn
       |   FROM p WHERE cos_sim >= ${Similarity.NeardupCos})
       |SELECT doc_id, eval_doc, cos_sim AS max_cos FROM f
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "decontaminate_semantic" -> SemanticDecontOracleSql,

    // The exact [[shardAssign]] spelling: per-epoch order key = 15-
    // nibble ascii decode of md5(doc_id ':e' epoch), shard = key mod
    // ShardCount, pos = rank within (epoch, shard), checksum =
    // Σ pos·doc_id. Geometry interpolated from the Scala constants.
    "pipeline_shard_plan" -> {
      def dig(i: Int): String =
        s"(CASE WHEN ASCII(SUBSTR(h,${i + 1},1)) >= 97 " +
          s"THEN ASCII(SUBSTR(h,${i + 1},1)) - 87 " +
          s"ELSE ASCII(SUBSTR(h,${i + 1},1)) - 48 END)"
      val ordExpr = (0 until 15)
        .map(i => s"CAST(${dig(i)} AS BIGINT) * ${1L << (4 * (14 - i))}")
        .mkString(" + ")
      val epochList = (0 until ShardEpochs).mkString("[", ", ", "]")
      s"""WITH e AS (SELECT CAST(UNNEST($epochList) AS BIGINT) AS epoch),
         | a AS (SELECT d.doc_id, e.epoch,
         |    MD5(CAST(d.doc_id AS VARCHAR) || ':e' ||
         |        CAST(e.epoch AS VARCHAR)) AS h
         |   FROM documents d CROSS JOIN e),
         | o AS (SELECT doc_id, epoch, $ordExpr AS ord FROM a),
         | p AS (SELECT epoch, doc_id, ord % $ShardCount AS shard,
         |    ROW_NUMBER() OVER (PARTITION BY epoch, ord % $ShardCount
         |                       ORDER BY ord, doc_id) AS pos
         |   FROM o)
         |SELECT epoch, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(SUM(pos * doc_id) AS BIGINT) AS perm_checksum
         |FROM p GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin
    },

    // Sequential formulation of the same models + the same rounded
    // ranking key; the two-phase distributed rank is value-identical.
    "curate_dsir" ->
      """WITH t AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks
        |  FROM documents),
        | bi AS (SELECT doc_id, lang,
        |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)),
        |      i -> toks[i] || '_' || toks[i + 1])) AS gram
        |  FROM t WHERE LEN(toks) >= 2),
        | raw AS (SELECT gram, COUNT(*) AS c_raw FROM bi GROUP BY gram),
        | tgt AS (SELECT gram, COUNT(*) AS c_tgt FROM bi
        |         WHERE lang = 'en' GROUP BY gram),
        | tot AS (SELECT (SELECT COUNT(*) FROM bi) AS t_raw,
        |    (SELECT COUNT(*) FROM bi WHERE lang = 'en') AS t_tgt,
        |    (SELECT COUNT(DISTINCT gram) FROM bi) AS v),
        | model AS (SELECT gram,
        |    LN((COALESCE(c_tgt, 0) + 1.0) / (t_tgt + v))
        |      - LN((c_raw + 1.0) / (t_raw + v)) AS llr_g
        |  FROM raw LEFT JOIN tgt USING (gram) CROSS JOIN tot),
        | wdoc AS (SELECT doc_id, ROUND(SUM(llr_g ORDER BY gram), 4) AS llr
        |  FROM bi JOIN model USING (gram) GROUP BY doc_id),
        | scored AS (SELECT d.doc_id, d.lang, d.source,
        |    COALESCE(w.llr, 0.0) AS llr
        |  FROM documents d LEFT JOIN wdoc w ON d.doc_id = w.doc_id),
        | ranked AS (SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY llr DESC, doc_id) AS sel_rank,
        |    COUNT(*) OVER () AS n_total FROM scored)
        |SELECT doc_id, lang, source, llr, sel_rank FROM ranked
        |WHERE sel_rank <= CEIL(n_total * 0.25) ORDER BY sel_rank""".stripMargin,
    // The oracle is the sequential formulation — prefix-sum associativity
    // makes the distributed two-phase Spark plan value-identical.
    "pipeline_pack" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        | c AS (SELECT doc_id, n_toks,
        |    CAST(SUM(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t)
        |SELECT doc_id, n_toks, cum - n_toks AS tok_start,
        | (cum - n_toks) // 256 AS seq_first,
        | (cum - 1) // 256 AS seq_last,
        | (cum - 1) // 256 - (cum - n_toks) // 256 + 1 AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin,

    "curate_source_cap" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(SUM(CASE WHEN rn > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        | CAST(SUM(CASE WHEN rn <= 20 THEN n_tokens ELSE 0 END) AS BIGINT)
        |   AS kept_tokens
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    // Same five stages in DuckDB (list lambdas index from 1).
    "pipeline_rag" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS toks
        |           FROM documents),
        | n AS (SELECT doc_id,
        |   LIST_FILTER(toks, (x, i) -> i = 1 OR x <> toks[i - 1]) AS nta
        |  FROM t),
        | g AS (SELECT doc_id, nta, CAST(LEN(nta) AS BIGINT) AS n_norm_tokens,
        |   CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'e6'
        |     THEN 'train' ELSE 'holdout' END AS split
        |  FROM n WHERE LEN(nta) >= 8),
        | e AS (SELECT doc_id, n_norm_tokens, split, nta,
        |   UNNEST(RANGE(0, CASE WHEN n_norm_tokens <= 32 THEN 1
        |     ELSE (n_norm_tokens - 32 + 23) // 24 + 1 END)) AS i
        |  FROM g),
        | ch AS (SELECT doc_id, n_norm_tokens, split, i AS chunk_idx,
        |   i * 24 + 1 AS tok_start,
        |   LIST_SLICE(nta, i * 24 + 1, i * 24 + 32) AS carr
        |  FROM e)
        |SELECT doc_id, n_norm_tokens, split, chunk_idx, tok_start,
        | LIST_REDUCE(LIST_CONCAT([CAST(0 AS BIGINT)],
        |     LIST_TRANSFORM(carr, t -> CAST(ASCII(t) * 131 + LENGTH(t) AS BIGINT))),
        |   (acc, v) -> (acc * 31 + v) % 2147483647) AS fingerprint,
        | ARRAY_TO_STRING(carr, ' ') AS chunk_text
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    // pipeline_rag's stages 1–5 verbatim, then the chunk-dedup window and
    // the per-split survivor rollup (list lambdas index from 1).
    "pipeline_chunkdedup" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS toks
        |           FROM documents),
        | n AS (SELECT doc_id,
        |   LIST_FILTER(toks, (x, i) -> i = 1 OR x <> toks[i - 1]) AS nta
        |  FROM t),
        | g AS (SELECT doc_id, nta, CAST(LEN(nta) AS BIGINT) AS n_norm_tokens,
        |   CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'e6'
        |     THEN 'train' ELSE 'holdout' END AS split
        |  FROM n WHERE LEN(nta) >= 8),
        | e AS (SELECT doc_id, n_norm_tokens, split, nta,
        |   UNNEST(RANGE(0, CASE WHEN n_norm_tokens <= 32 THEN 1
        |     ELSE (n_norm_tokens - 32 + 23) // 24 + 1 END)) AS i
        |  FROM g),
        | ch AS (SELECT doc_id, split, i AS chunk_idx,
        |   ARRAY_TO_STRING(LIST_SLICE(nta, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text
        |  FROM e),
        | ranked AS (SELECT doc_id, split, chunk_text,
        |   ROW_NUMBER() OVER (PARTITION BY chunk_text
        |                      ORDER BY doc_id, chunk_idx) AS crn
        |  FROM ch)
        |SELECT split,
        | COUNT(*) AS n_raw_chunks,
        | CAST(SUM(CASE WHEN crn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_chunks,
        | COUNT(DISTINCT CASE WHEN crn = 1 THEN doc_id END) AS n_docs_kept,
        | CAST(SUM(CASE WHEN crn = 1 THEN LEN(STRING_SPLIT(chunk_text, ' '))
        |   ELSE 0 END) AS BIGINT) AS n_kept_tokens
        |FROM ranked GROUP BY split ORDER BY split""".stripMargin,

    // Same integer-bp budgets; // is DuckDB's integer division.
    "pipeline_datamix" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_toks FROM t),
        | c AS (SELECT doc_id, lang, n_tokens,
        |    (total_toks * CASE lang WHEN 'en' THEN 2000 WHEN 'zh' THEN 1000
        |       WHEN 'es' THEN 750 WHEN 'fr' THEN 750 ELSE 500 END) // 10000
        |      AS budget,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM t CROSS JOIN tot)
        |SELECT doc_id, lang, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= budget ORDER BY doc_id""".stripMargin,

    // sqrt is IEEE-exact in both engines; the DECIMAL(18,12) weight sum
    // is order-independent (the text_entropy discipline), and the
    // share/target arithmetic runs on identical operands.
    "curate_temperature_mix" ->
      """WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(ROUND(SQRT(CAST(COUNT(*) AS DOUBLE)), 10)
        |      AS DECIMAL(18,12)) AS w
        |  FROM documents GROUP BY source),
        | tot AS (SELECT SUM(w) AS w_tot,
        |    CAST(SUM(n_docs) AS BIGINT) AS n_total FROM s),
        | tgt AS (SELECT source, n_docs,
        |    CAST(FLOOR((n_total // 10) *
        |      (CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE)) + 0.5) AS BIGINT)
        |      AS target_docs
        |  FROM s CROSS JOIN tot),
        | r AS (SELECT d.doc_id, d.source, t.n_docs, t.target_docs,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY d.source
        |      ORDER BY MD5(CAST(d.doc_id AS VARCHAR) || ':tmix'),
        |        d.doc_id) AS BIGINT) AS sel_rank
        |  FROM documents d JOIN tgt t ON d.source = t.source)
        |SELECT doc_id, source, n_docs, target_docs, sel_rank
        |FROM r WHERE sel_rank <= target_docs ORDER BY doc_id""".stripMargin,

    // Same five decontamination stages; DuckDB list slices are 1-based
    // inclusive, so toks[i:i+4] is the 5-token shingle starting at i.
    // The bloom arm shares this oracle verbatim: its output is
    // bit-identical to the exact arm by construction (no Bloom false
    // negatives; false positives die in the verify join).
    "pipeline_decontaminate" -> DecontOracleSql,
    "pipeline_decont_bloom" -> DecontOracleSql,


    // The same four stages as one SQL pipeline: QUALIFY exact dedup →
    // Jaccard pair graph → recursive-CTE components → canonical keep →
    // quality gate → per-language window sample.
    "pipeline_curate" ->
      """WITH RECURSIVE
        | d1 AS (SELECT * FROM documents
        |        QUALIFY ROW_NUMBER() OVER (PARTITION BY MD5(text)
        |                                   ORDER BY doc_id) = 1),
        | t AS (SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok
        |       FROM d1),
        | s AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
        | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |       FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        | pairs AS (SELECT doc_a, doc_b
        |           FROM p JOIN s sa ON p.doc_a = sa.doc_id
        |                  JOIN s sb ON p.doc_b = sb.doc_id
        |           WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.95),
        | e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |       UNION ALL SELECT doc_b, doc_a FROM pairs),
        | r(a, b) AS (SELECT a, b FROM e
        |             UNION
        |             SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        | lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
        |         FROM r GROUP BY a),
        | kept AS (SELECT d1.* FROM d1
        |          WHERE doc_id NOT IN (SELECT doc_id FROM lab
        |                               WHERE doc_id <> component_id)),
        | scored AS (SELECT doc_id, lang,
        |   (LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 7000
        |     + (LEN(STRING_SPLIT(text, ' '))
        |        - LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |              x -> x IN ('the', 'a', 'of', 'and')))) * 3000)
        |     // LEN(STRING_SPLIT(text, ' ')) AS quality_bp
        |   FROM kept),
        | gated AS (SELECT * FROM scored WHERE quality_bp >= 5000)
        |SELECT doc_id, lang, quality_bp FROM (
        |  SELECT doc_id, lang, quality_bp,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS srn,
        |    COUNT(*) OVER (PARTITION BY lang) AS strata_n
        |  FROM gated) x
        |WHERE srn <= CEIL(strata_n * 0.5)
        |ORDER BY doc_id""".stripMargin)
}
