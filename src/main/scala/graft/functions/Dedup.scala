package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard.
  *
  * Scale design: every algorithm here is a bounded-fanout shuffle —
  *  - exact dedup shuffles on a 256-bit content hash (uniform keys);
  *  - MinHash/LSH shuffles on (band_id, band_hash) buckets, so candidate
  *    generation is local to a bucket and never quadratic in the corpus;
  *  - candidate verification joins only within buckets.
  * No collect(), no cross join; AQE splits any hot bucket.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical content hash.
    * Returns the input plus `content_hash`, `is_dup` (true for all but the
    * keeper) — callers filter(!is_dup) to materialize the deduped corpus.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy(col(idCol))
    df.withColumn("content_hash", sha2(col(textCol), 256))
      .withColumn("is_dup", row_number().over(w) > 1)
  }

  /** STREAMING-ingest exact dedup: the earliest MICRO-BATCH containing each
    * content hash wins, across batches AND restarts — Structured Streaming's
    * `dropDuplicates` keeps the seen-key set in the checkpointed state
    * store, so a restarted job does not re-admit keys seen before the stop.
    * WITHIN one micro-batch (and on a batch frame) the surviving row per
    * key is arbitrary, like any `dropDuplicates` — when the survivor's
    * identity matters (oracle gates, replay-exact outputs), use [[exact]]
    * (lowest-id-wins) on batch frames instead. The state key is the 256-bit
    * content hash, NOT the document: state is 32 bytes per DISTINCT doc
    * regardless of doc size — a 100 TB corpus of 1 MB docs is ~10^8 keys =
    * ~3 GB of state across the cluster; short-doc corpora scale state with
    * doc COUNT (10^12 × 100 B docs would need ~32 TB — bound it with the
    * watermark variant). For unbounded streams with event time, pass
    * `watermark = Some((tsCol, delay))` to prune state past the lateness
    * horizon (`dropDuplicatesWithinWatermark`) — dedup then only spans the
    * horizon.
    */
  def firstSeenStream(df: DataFrame, textCol: String,
                      watermark: Option[(String, String)] = None): DataFrame = {
    val hashed = df.withColumn("content_hash", sha2(col(textCol), 256))
    watermark match {
      case Some((tsCol, delay)) =>
        hashed.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark("content_hash")
      case None => hashed.dropDuplicates("content_hash")
    }
  }

  /** Per-(doc, band) verdict row emitted by [[nearDupStream]]. */
  final case class NearDupVerdict(id: Long, band: Int, dup_of: Option[Long])

  /** STREAMING MinHash-LSH near-dedup — the continuous-ingest counterpart
    * of [[keepSet]] (which needs the whole corpus for its bucket joins).
    * Each arriving document minhash-signs, fans out to its `bands` LSH
    * bucket keys, and per bucket a keyed-state op compares the signature
    * against those already admitted: near-dup when >= `minMatchFrac` of
    * the minhash components agree (the unbiased estimator
    * E[match fraction] = Jaccard). A stream cannot re-read earlier
    * documents for the batch path's exact-Jaccard verify, so state stores
    * the 8·bands·rowsPerBand-byte SKETCH per admitted doc instead of its
    * shingle set — per-entry state is ~150 B regardless of document size,
    * the classical sketch trade; `maxPerBucket` bounds each bucket for
    * unbounded streams (first-seen admission, matching the batch
    * lowest-id-wins policy under id-ordered arrival).
    *
    * Returns (id, band, dup_of): dup_of = the lowest-id earlier match in
    * that bucket, null when none. All band rows of one document emit in
    * the SAME micro-batch (the doc arrives once), so the per-doc
    * OR-reduction is the stateless per-batch [[reduceNearDup]]. Within a
    * micro-batch, admission processes ids ascending (deterministic
    * replay). Works identically on a static frame (batch mode = one
    * micro-batch), which is how the spec proves batch == stream.
    */
  def nearDupStream(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                    tokensCol: String, idCol: String, shingleK: Int = 3,
                    bands: Int = 8, rowsPerBand: Int = 2,
                    minMatchFrac: Double = 0.5,
                    maxPerBucket: Int = 10000): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val numHashes = bands * rowsPerBand
    val banded = df.select(col(idCol).cast("long").as("id"),
        Text.minhashSignature(
          array_distinct(Text.shingleIds(col(tokensCol), shingleK)),
          numHashes).as("_sig"))
      .select(col("id"), col("_sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bh", array_join(transform(
        slice(col("_sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)),
        _.cast("string")), "-"))
      .select(col("band"), col("bh"), col("id"), col("_sig"))
      .as[(Int, String, Long, Seq[Long])]
    banded.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Seq[(Long, Seq[Long])], NearDupVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, _), rows, state: GroupState[Seq[(Long, Seq[Long])]]) =>
          var entries = state.getOption.getOrElse(Seq.empty)
          val out = rows.toSeq.sortBy(_._3).map { case (_, _, id, sg) =>
            val hit = entries.iterator.filter { case (_, esig) =>
              var eq = 0; var i = 0
              while (i < numHashes) { if (esig(i) == sg(i)) eq += 1; i += 1 }
              eq.toDouble / numHashes >= minMatchFrac
            }.map(_._1).reduceOption(math.min(_: Long, _: Long))
            if (entries.size < maxPerBucket) entries = entries :+ ((id, sg))
            NearDupVerdict(id, band, hit)
          }
          state.update(entries)
          out.iterator
      }.toDF()
  }

  /** Stateless per-batch reduction of [[nearDupStream]] verdicts: one row
    * per doc with `dup_of` = lowest matching earlier id across bands and
    * `keep` = no band matched. Correct per micro-batch because a doc's
    * band rows never span batches.
    */
  def reduceNearDup(verdicts: DataFrame): DataFrame =
    verdicts.groupBy("id").agg(min("dup_of").as("dup_of"))
      .withColumn("keep", col("dup_of").isNull)

  /** Deduplicated LSH band-candidate pairs (id_a < id_b) with both shingle
    * sets riding along — the shared candidate generator behind the Jaccard
    * ([[minhashCandidates]]) and edit-distance ([[editPairs]]) confirms.
    * Never all-pairs: pair volume is bounded by band-bucket co-occupancy.
    */
  private def lshBandCandidates(df: DataFrame, tokensCol: String, idCol: String,
                                shingleK: Int, bands: Int,
                                rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    // persisted via CacheScope: feeds both join sides, eagerly populated
    // (see jaccardPairs); released by the caller's CacheScope.scoped/release
    val withSig = graft.plans.CacheScope.persist(df
      .withColumn("_shingles", array_distinct(Text.shingleIds(col(tokensCol), shingleK)))
      .withColumn("_sig", Text.minhashSignature(col("_shingles"), numHashes)))
    // band key: (band index, canonical string of the band's signature slice)
    // — a portable key (no engine-specific hash function), still uniform
    // because minhash values are themselves uniform
    val banded = withSig.select(
      col(idCol).as("id"), col("_shingles"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          array_join(transform(slice(col("_sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string")), "-").as("bh")))).as("bk"))
      .select(col("id"), col("_shingles"), col("bk.band"), col("bk.bh"))
    val a = banded.select(col("band"), col("bh"), col("id").as("id_a"), col("_shingles").as("sh_a"))
    val b = banded.select(col("band"), col("bh"), col("id").as("id_b"), col("_shingles").as("sh_b"))
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      // dedup candidate pairs across bands BEFORE the exact-jaccard verify
      // (one verification per pair, not per matching band), then spread:
      // pairs are byte-small but verify is CPU-heavy, and AQE would coalesce
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .dropDuplicates("id_a", "id_b")
      .repartition(parallelism, col("id_a"), col("id_b"))
  }

  /** MinHash+LSH candidate pairs: signature -> `bands` bands of `rowsPerBand`
    * hashes -> bucket join. Returns (id_a, id_b) candidate pairs (a < b),
    * deduplicated across bands, with their exact Jaccard over shingles.
    */
  def minhashCandidates(df: DataFrame, tokensCol: String, idCol: String,
                        shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                        jaccardThreshold: Double = 0.5): DataFrame =
    lshBandCandidates(df, tokensCol, idCol, shingleK, bands, rowsPerBand)
      .select(col("id_a"), col("id_b"), Text.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)

  /** Near-dup pairs confirmed by EDIT DISTANCE instead of shingle Jaccard:
    * the same MinHash-LSH band candidates, each confirmed with Levenshtein
    * similarity `1 - lev / max(|a|, |b|)` over the raw text. The DP verify is
    * O(|a|·k) per CANDIDATE (threshold-banded: k = (1-t)·maxlen, the largest
    * distance the sim filter can accept) — affordable exactly because LSH
    * banding bounds the pair volume AND the sim threshold bounds the DP band;
    * the all-pairs full-table form would be quadratic twice over.
    * Character-level confirm catches heavy local edits (typo storms, injected
    * boilerplate) that token-shingle Jaccard mis-scores. `edit_sim` is
    * floor-quantized to 1e-6 in pure IEEE double ops (the engine-stable
    * rounding used by every ratio gate; see Flow.workerFlows).
    */
  def editPairs(df: DataFrame, textCol: String, tokensCol: String, idCol: String,
                shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                simThreshold: Double = 0.8): DataFrame = {
    val cands = lshBandCandidates(df, tokensCol, idCol, shingleK, bands, rowsPerBand)
      .select(col("id_a"), col("id_b"))
    // candidate pairs are byte-small; the text joins are hash joins keyed on
    // the id (broadcast when the candidate set is small enough, AQE decides)
    val txt = df.select(col(idCol), col(textCol))
    val paired = cands
      .join(txt.select(col(idCol).as("id_a"), col(textCol).as("_ta")), "id_a")
      .join(txt.select(col(idCol).as("id_b"), col(textCol).as("_tb")), "id_b")
    // THRESHOLD-banded DP: sim >= t bounds the distance at (1-t)*maxPairLen,
    // so the 3-arg levenshtein (banded O(n·k), -1 beyond the bound) replaces
    // the full O(n·m) table. The bound is PER PAIR — each pair bands by its
    // own max length, so one long outlier document cannot degrade every
    // other pair back to the full table. The +1e-6 widening covers the
    // floor-quantization of edit_sim exactly at every length (it rounds sim
    // up by at most 5e-7, i.e. lev past the raw bound by <= 5e-7·len):
    // -1 rows are therefore exactly the pairs the sim filter would drop,
    // surviving pairs get the EXACT distance, and results are unchanged —
    // but the kernel is ~100x cheaper per pair (Spark's unbounded DP walks
    // the full table with per-cell UTF8 decoding; 14 ms/pair at 300 chars).
    val pairLen = greatest(length(col("_ta")), length(col("_tb")))
    val bound = ceil((lit(1.0) - simThreshold + 1e-6) * pairLen).cast("int")
    val lev = graft.plans.TextDist.levenshteinBand(col("_ta"), col("_tb"), bound)
    val sim = floor((lit(1.0) - lev.cast("double") /
      greatest(length(col("_ta")), length(col("_tb")))) * lit(1000000.0) + lit(0.5)) /
      lit(1000000.0)
    paired
      .select(col("id_a"), col("id_b"), lev.as("lev"), sim.as("edit_sim"))
      .filter(col("lev") >= 0 && col("edit_sim") >= simThreshold)
  }

  /** INCREMENTAL exact dedup — the "new snapshot vs corpus history" pass a
    * continuously-crawling pipeline runs per increment. Returns the
    * `incoming` rows whose `textCol` content does not appear in `history`.
    *
    * Plan shape (the 100 TB contract — history is the 100 TB side and is
    * NEVER shuffled):
    *   1. a Bloom sketch of history content hashes (bounded bits at `fpp`)
    *      broadcasts into a codegen'd probe over incoming
    *      ([[graft.plans.BloomMightContainLong]]); rows the bloom rejects
    *      are PROVEN new — blooms have no false negatives — and never reach
    *      a join;
    *   2. the surviving candidate hashes (≈ dups + fpp·|incoming|, small by
    *      construction) broadcast-SEMI-join against history to pull the hit
    *      set: history is scanned once behind a broadcast, zero exchange on
    *      the history side;
    *   3. incoming anti-joins the (small, again broadcast) hit set.
    * Every exchange in the plan is candidate-sized. The classic formulation
    * (shuffle anti-join incoming × history) moves the full history over the
    * network every increment; this one moves only candidate hashes.
    *
    * `expectedItems` sizes the sketch to the history cardinality; an
    * undersized sketch only RAISES the false-positive rate (more confirm
    * work), never changes the result — the output is exact either way.
    */
  def incrementalNew(history: DataFrame, incoming: DataFrame, textCol: String,
                     expectedItems: Long = 1L << 20,
                     fpp: Double = 0.01): DataFrame = {
    val spark = incoming.sparkSession
    val hashOf = xxhash64(col(textCol))
    val histH = history.select(hashOf.as("_h"))
    val bc = spark.sparkContext.broadcast(
      histH.stat.bloomFilter("_h", expectedItems, fpp))
    val inH = incoming.withColumn("_h", hashOf)
    val might = org.apache.spark.sql.graft.Bridge.column(
      graft.plans.BloomMightContainLong(
        org.apache.spark.sql.graft.Bridge.expression(col("_h")), bc))
    val candKeys = inH.filter(might).select("_h").distinct()
    val hits = histH.join(broadcast(candKeys), Seq("_h"), "left_semi").distinct()
    inH.join(broadcast(hits), Seq("_h"), "left_anti").drop("_h")
  }

  /** The end-to-end dedup DECISION for a corpus — what a 100 TB training-
    * data pipeline actually materializes: which doc_ids survive.
    *
    *  1. collapse exact duplicates to the lowest-id representative (hash
    *     groupBy — at scale this step removes the pathological pair
    *     explosion identical docs would cause in LSH buckets);
    *  2. MinHash-LSH + exact-Jaccard near-dup pairs among representatives;
    *  3. drop every doc that is a near-dup of a LOWER-id doc (canonical-
    *     lowest-id policy — single deterministic pass, no transitive
    *     closure; chains collapse in subsequent epochs, the standard
    *     trade-off in corpus dedup at scale).
    *
    * Returns the kept doc_ids (numeric).
    */
  def keepSet(df: DataFrame, tokensCol: String, idCol: String,
              shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
              jaccardThreshold: Double = 0.5): DataFrame = {
    val ids = df.withColumn("_id", col(idCol).cast("long"))
    // 1. exact collapse on the token sequence, keyed by its 256-bit content
    //    hash — NOT the full joined token string: the window's exchange then
    //    shuffles 64 B of key per row instead of the whole document (at
    //    100 TB the content-string key would shuffle every byte of the
    //    corpus twice). Same equivalence classes, same keeper per class.
    val w = Window.partitionBy("_tok_hash").orderBy(col("_id"))
    val reps = ids
      .withColumn("_tok_hash",
        sha2(array_join(col(tokensCol).cast("array<string>"), ","), 256))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .drop("_rk", "_tok_hash")
    // 2. near-dup pairs among representatives
    val pairs = minhashCandidates(reps, tokensCol, "_id",
      shingleK, bands, rowsPerBand, jaccardThreshold)
    // 3. keep reps that are not the higher side of any pair
    reps.join(pairs.select(col("id_b")), reps("_id") === col("id_b"), "left_anti")
      .select(col("_id").as("doc_id"))
  }

  /** SimHash near-dup candidates: identical 16-bit simhash -> candidate
    * bucket (cheap first pass; callers verify with hamming/jaccard).
    */
  def simhashBuckets(df: DataFrame, tokensCol: String, idCol: String): DataFrame =
    df.withColumn("simhash", Text.simhash16(col(tokensCol)))
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), sort_array(collect_list(col(idCol))).as("doc_ids"))
      .filter(col("n_docs") > 1)

  /** Cross-corpus contamination pairs — the DECONTAMINATION pass an LLM
    * data pipeline runs before training: (train_id, eval_id, jaccard) for
    * every training document sharing >= `threshold` shingle-Jaccard with an
    * eval/benchmark document. Prefix-filtered like [[jaccardPairs]], but
    * across TWO corpora: the global shingle order (document frequency) is
    * computed over the UNION so the prefix-filter theorem holds for cross
    * pairs, and candidate generation joins train prefixes to eval prefixes
    * (never a self-join — candidate volume is bounded by rare-shingle
    * co-occurrence ACROSS the corpora, which is exactly the contamination
    * signal).
    */
  def crossJaccard(train: DataFrame, eval0: DataFrame, tokensCol: String,
                   idCol: String, shingleK: Int = 3,
                   threshold: Double = 0.5): DataFrame = {
    def shingled(df: DataFrame): DataFrame = graft.plans.CacheScope.persist(df
      .select(col(idCol).as("id"),
        array_distinct(Text.shingleIds(col(tokensCol), shingleK)).as("sh"))
      .withColumn("n_sh", size(col("sh")))) // eager: feeds posting + verify
    val shT = shingled(train)
    val shE = shingled(eval0)
    def posting(sh: DataFrame): DataFrame =
      sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    // COMMON global order: df over the union of both corpora
    val freq = posting(shT).unionByName(posting(shE))
      .groupBy("s").agg(count(lit(1)).as("df"))
    def prefixes(sh: DataFrame): DataFrame =
      posting(sh).join(freq, "s")
        .withColumn("rank", row_number().over(
          Window.partitionBy("id").orderBy(col("df"), col("s"))))
        .filter(col("rank") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
        .select(col("id"), col("s"))
    val parallelism = train.sparkSession.sparkContext.defaultParallelism
    val cand = prefixes(shT).withColumnRenamed("id", "train_id")
      .join(prefixes(shE).withColumnRenamed("id", "eval_id"), "s")
      .select("train_id", "eval_id").distinct()
      .repartition(parallelism, col("train_id"), col("eval_id"))
    cand
      .join(shT.select(col("id").as("train_id"), col("sh").as("sh_t")), Seq("train_id"))
      .join(shE.select(col("id").as("eval_id"), col("sh").as("sh_e")), Seq("eval_id"))
      .withColumn("jaccard", Text.jaccard(col("sh_t"), col("sh_e")))
      .filter(col("jaccard") >= threshold)
      .select("train_id", "eval_id", "jaccard")
  }

  /** Exact n-gram Jaccard pairs via prefix-filtered inverted index
    * (PPJoin-style set-similarity join; see Xiao et al., "Efficient
    * Similarity Joins for Near Duplicate Detection", WWW'08 — public
    * literature, no code ported):
    *
    *  1. order every document's shingle set by GLOBAL ASCENDING FREQUENCY
    *     (rarest first) — one groupBy(shingle).count + one join;
    *  2. index only each set's prefix of length |S| - ceil(t*|S|) + 1: any
    *     pair with jaccard >= t MUST share a prefix shingle under a common
    *     global order (prefix-filter theorem), so candidate generation joins
    *     rare-shingle posting lists instead of ubiquitous ones;
    *  3. verify candidates with the exact Jaccard over the full sets.
    *
    * Same output as a naive inverted-index join, but candidate volume is
    * bounded by rare-shingle co-occurrence — the property that keeps this
    * plan alive on web-scale corpora where hot shingles appear in millions
    * of documents. Hot-key residue in step 2 is handled by AQE skew splits.
    */
  def jaccardPairs(df: DataFrame, tokensCol: String, idCol: String,
                   shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    // persist the shingle table: it feeds BOTH sides of the candidate
    // self-join and both verify joins — Catalyst does not CSE across
    // self-join branches, so without this the tokenize+shingle stage runs
    // 4x (at petabyte scale this would be a materialized intermediate table)
    val sh = graft.plans.CacheScope.persist(df.select(col(idCol).as("id"),
      array_distinct(Text.shingleIds(col(tokensCol), shingleK)).as("sh"))
      .withColumn("n_sh", size(col("sh"))))
    // (CacheScope.persist populates the cache eagerly, BEFORE the self-join
    // branches race to compute it concurrently — cache population is not
    // synchronized across stages of one job)
    val posting = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    val freq = posting.groupBy("s").agg(count(lit(1)).as("df"))
    // rarest-first rank of each shingle within its document
    val ranked = posting.join(freq, "s")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("df"), col("s"))))
      // prefix length = |S| - ceil(t*|S|) + 1
      .filter(col("rank") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select(col("id"), col("s"))
    val rankedP = graft.plans.CacheScope.persist(ranked) // feeds both self-join sides
    // candidate pairs: both prefixes share a shingle (prefix-filter theorem)
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val cand = rankedP.select(col("s"), col("id").as("id_a"))
      .join(rankedP.select(col("s"), col("id").as("id_b")), "s")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      // candidates are tiny in BYTES but the verify below is CPU-heavy per
      // row — AQE would coalesce them onto one core; spread them explicitly
      .repartition(parallelism, col("id_a"), col("id_b"))
    val sets = sh.select(col("id"), col("sh"), col("n_sh"))
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", Text.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Per-train-doc k-gram CONTAMINATION fraction against an eval corpus —
    * the GPT-3/PaLM-style decontamination metric (share of a document's
    * DISTINCT k-grams that appear anywhere in the eval set). Complements
    * [[crossJaccard]]: that finds near-duplicate PAIRS; this scores every
    * train document even at partial overlap, the signal used to drop or
    * flag benchmark-leaking documents.
    *
    * Scale: the eval side collapses to a distinct gram set (benchmark-sized
    * — usually broadcastable; the join is a plain equi-join so Catalyst
    * broadcasts when it fits and shuffles on the gram key when it doesn't);
    * the train side is one explode + one gram-keyed join + one doc-keyed
    * agg. Documents shorter than k have no grams and are absent from the
    * output (callers left-join and coalesce to 0 if they need them).
    */
  def contaminationFraction(train: DataFrame, eval0: DataFrame,
                            tokensCol: String, idCol: String,
                            shingleK: Int = 13): DataFrame = {
    val evalGrams = eval0.select(explode(array_distinct(
      Text.shingleIds(col(tokensCol), shingleK))).as("g")).distinct()
      .withColumn("_hit", lit(1))
    val tg = train.select(col(idCol), explode(array_distinct(
      Text.shingleIds(col(tokensCol), shingleK))).as("g"))
    tg.join(evalGrams, Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("_hit")), lit(0)).cast("long").as("n_contaminated"))
      .withColumn("contam_frac",
        floor(col("n_contaminated") / col("n_grams") * 1e6 + 0.5) / 1e6)
  }

  /** Connected components over an undirected edge list (long node ids) by
    * iterative min-label propagation: each round every node takes the
    * minimum label among itself and its neighbors; fixpoint = every node
    * labeled with the smallest id in its component.
    *
    * Scale design: a round is three id-keyed exchanges (join labels onto
    * edge sources, min-aggregate onto destinations, then a POINTER-JUMPING
    * shortcut comp := label[comp] — the doubling step that makes chains
    * converge in O(log diameter) rounds rather than O(diameter), same idea
    * as the hash-to-min family, Kiveris et al. "Connected Components in
    * MapReduce and Beyond"). All exchanges are over the EDGE set, which for
    * dedup graphs is far smaller than the corpus (only near-dup pairs), and
    * LSH duplicate clusters are near-cliques — 2–4 rounds in practice;
    * `maxIter=15` supports diameters past 2^15 and the require() below is a
    * loud-fail backstop, not a truncation. `localCheckpoint` truncates
    * lineage per round (iterative plans otherwise grow unboundedly) and the
    * edge set is persisted once and reused every round.
    *
    * Returns (node, comp).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 15,
                          smallGraphEdges: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val sym0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // pre-partition the cached edge set by src (r6): every round's
    // propagation join keys on src, so the cached partitioning is reused
    // round after round — the former distinct() left it hash(src, dst)-
    // partitioned and each round re-exchanged the edges, the dominant
    // shuffle of the loop at scale
    val sym = graft.plans.CacheScope.persist(
      sym0.union(sym0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
        .repartition(col("src")))
    // SMALL-GRAPH fast path (r6, the broadcast-join-threshold analogue):
    // dedup graphs are usually FAR smaller than the corpus (only near-dup
    // pairs survive pair generation — 256 edges at sf0.1). Below the cap
    // the whole edge set is a bounded driver pull (16 B/edge, ≤ 16 MB at
    // the default cap) and a union-find computes the identical fixpoint
    // (min reachable id per node) without the loop's per-round join/
    // checkpoint/count job train, whose fixed scheduling latency dominates
    // tiny graphs (measured 2.6-9.8 s for those 256 edges). Bigger graphs
    // take the distributed loop unchanged — never an unbounded collect.
    val edgeCount = sym.count() // cached — metadata-speed
    if (edgeCount <= smallGraphEdges) {
      val arr = sym.filter(col("src") < col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      arr.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // min-id wins as the representative == the loop's fixpoint label
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val rows = parent.keys.toSeq.sorted.map(n => (n, find(n)))
      import spark.implicits._
      return rows.toDF("node", "comp")
    }
    // round 0 folds into initialization (r6): comp = min(node, min
    // neighbor) is exactly the state after one propagate step from
    // identity labels — ONE aggregate over the edges instead of a join
    // against labels that are the identity map. The fixpoint is unchanged
    // (comp decreases monotonically toward the component minimum, which is
    // its own fixed point, from any sound starting state).
    var labels = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("node"), least(col("src"), col("mn")).as("comp"))
      .localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val prop = sym.join(labels, sym("src") === labels("node"))
        .groupBy(col("dst").as("n2")).agg(min(col("comp")).as("ncomp"))
      val stepped = labels.join(prop, labels("node") === prop("n2"), "left")
        .select(col("node"), col("comp").as("old"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
        .localCheckpoint(true) // feeds both sides of the jump self-join
      // pointer jumping: comp := label[comp] (doubling — chains halve).
      // The convergence count stays a separate (cheap, in-memory) count()
      // job: riding it on the checkpoint as an observed metric measured
      // ~1.3 s SLOWER per round — Observation.get after an eager
      // localCheckpoint waits on a listener-bus event that is not
      // delivered promptly for checkpoint executions (observe pays off on
      // write actions only; measured in an A/B of the two variants).
      val next = stepped.join(
          stepped.select(col("node").as("jn"), col("comp").as("jc")),
          stepped("comp") === col("jn"), "left")
        .select(col("node"), col("old"),
          least(col("comp"), coalesce(col("jc"), col("comp"))).as("comp"))
        .localCheckpoint(true)
      changed = next.filter(col("comp") =!= col("old")).count()
      labels = next.select("node", "comp")
      it += 1
    }
    require(changed == 0,
      s"connectedComponents: not converged after $maxIter rounds " +
        "(adversarially deep graph — raise maxIter or use star-contraction)")
    labels
  }

  /** The full near-dup CLUSTERING decision: Jaccard pair generation ->
    * transitive closure -> one cluster id per document (the smallest doc id
    * reachable through the near-dup graph; docs with no near-dups are their
    * own singleton cluster) + the canonical flag a curation pass keeps.
    * This is the document-level analogue of `keepSet` that also exposes the
    * cluster structure (needed when dedup keeps one-per-cluster BY QUALITY
    * rather than by id — join your quality score on `cluster` and rank).
    */
  def dupClusters(df: DataFrame, tokensCol: String, idCol: String,
                  shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    val pairs = jaccardPairs(df, tokensCol, idCol, shingleK, threshold)
    val comp = connectedComponents(pairs, "id_a", "id_b")
    df.select(col(idCol).cast("long").as(idCol))
      .join(comp, col(idCol) === comp("node"), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("cluster"))
      .withColumn("is_canonical", (col(idCol) === col("cluster")).cast("int"))
  }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023, public): k-means-cluster
    * the embedding space, then compare pairs only WITHIN a cluster —
    * documents whose embeddings land in different clusters are by
    * construction not semantic duplicates, so the all-pairs blow-up is
    * bounded to cluster_size² per cluster. A doc is dropped when a
    * LOWER-id doc in its cluster has cosine ≥ `minSim` (deterministic
    * lowest-id-wins; the paper keeps the point farthest from the centroid —
    * swap the rank key to do that).
    *
    * 100 TB design: the quantizer is the SAME deterministic/Lloyd-trained
    * centroid set as IVF ([[graft.functions.Similarity.ivfCentroids]] /
    * `ivfTrain`) — assignment is one broadcast-literal projection (no
    * shuffle), the pair generation is one hash join keyed on `list_id`,
    * and C must scale with N so cluster populations stay bounded (C ≈
    * N/target_cluster_size), exactly how the paper runs on LAION.
    * Returns (id, list_id, keep).
    */
  def semDedup(embeddings: DataFrame, embCol: String, idCol: String,
               centroids: Seq[(Long, Array[Float])], minSim: Double): DataFrame = {
    val asg = graft.plans.CacheScope.persist(
      Similarity.ivfAssign(embeddings, embCol, centroids)
        .select(col(idCol).cast("long").as("_sd_id"), col(embCol).as("_sd_ev"),
          col("list_id")))
    asg.count() // eager: self-joins race cache population within one job
    val a = asg.select(col("_sd_id").as("id_a"), col("_sd_ev").as("ev_a"),
      col("list_id"))
    val b = asg.select(col("_sd_id").as("id_b"), col("_sd_ev").as("ev_b"),
      col("list_id"))
    val dropped = a.join(b, "list_id")
      .filter(col("id_a") < col("id_b"))
      .filter(round(Similarity.cosine(col("ev_a"), col("ev_b")), 6) >= minSim)
      .select(col("id_b").as("_sd_id")).distinct()
    asg.join(dropped.withColumn("_dup", lit(true)), Seq("_sd_id"), "left")
      .select(col("_sd_id").as(idCol), col("list_id"),
        coalesce(col("_dup"), lit(false)).unary_!.as("keep"))
  }
}
