package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Catalyst expressions (higher-order functions; no UDFs) so they stay inside
  * whole-stage codegen and scale as narrow maps.
  */
object Text {

  /** Marker-word sets per language for the n-gram/stopword language-ID
    * heuristic. Public-knowledge stopword shortlists.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est"),
    "es" -> Seq("el", "la", "de", "que", "y", "un", "es"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist", "nicht"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  /** Count of words from `markers` present in the whitespace-tokenized text. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(split(text, " "), w => markers.map(m => w === lit(m)).reduce(_ || _)))

  /** Language-ID heuristic: the language whose marker-word hit count is
    * highest (first declared wins ties); "und" when no marker hits at all.
    */
  def langId(text: Column, markers: Seq[(String, Seq[String])] = LangMarkers): Column = {
    val scored = markers.map { case (lang, ms) => (lang, markerHits(text, ms)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    // foldRight nests later langs as fallback, so the FIRST max wins
    scored.foldRight(lit("und"): Column) { case ((lang, hits), acc) =>
      when(hits === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(split(text, "\\s+"))

  /** BPE-ish token count: words + punctuation runs counted separately
    * (a cheap stand-in for a real subword tokenizer's token count).
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Quality-score components (FIXTURES-style), each a plain expression:
    * n_words, distinct-word ratio, stopword ratio, mean word length.
    */
  def nWords(text: Column): Column = size(split(text, " "))

  def distinctRatio(text: Column): Column = {
    val words = split(text, " ")
    size(array_distinct(words)).cast("double") / size(words)
  }

  def stopwordRatio(text: Column, stops: Seq[String] = Seq("the", "a")): Column = {
    val words = split(text, " ")
    size(filter(words, w => stops.map(sw => w === lit(sw)).reduce(_ || _))).cast("double") / size(words)
  }

  def meanWordLen(text: Column): Column = {
    val words = split(text, " ")
    aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(words)
  }

  /** Composite quality score in [0,1]-ish: favors longer, lexically diverse,
    * low-stopword documents. Deterministic, oracle-expressible.
    */
  def qualityScore(text: Column): Column =
    round(
      least(nWords(text).cast("double") / 100.0, lit(1.0)) * 0.4 +
        distinctRatio(text) * 0.4 +
        (lit(1.0) - stopwordRatio(text)) * 0.2, 6)

  /** [[qualityScore]] with floor-quantized 6dp (floor(x*1e6+0.5)/1e6, pure
    * IEEE double math) instead of decimal HALF_UP round — bit-stable
    * across engines exactly at half boundaries. Use this form in gates
    * where a THRESHOLD on the score feeds further computation (a single
    * boundary disagreement would cascade, e.g. through pack offsets);
    * [[qualityScore]] stays as the established surface the txt_quality /
    * doc_curate oracles pin.
    */
  def qualityScoreQ(text: Column): Column = {
    val x = least(nWords(text).cast("double") / 100.0, lit(1.0)) * 0.4 +
      distinctRatio(text) * 0.4 +
      (lit(1.0) - stopwordRatio(text)) * 0.2
    floor(x * 1e6 + 0.5) / 1e6
  }

  // ---- repetition filters (training-data curation) ----

  /** Fraction of duplicate elements in an array: (n - n_distinct) / n,
    * 6dp; null for empty arrays. Narrow HOF — fused into the scan.
    * Quantized floor(x*1e6+0.5)/1e6 (pure IEEE double math, engine-stable —
    * the Flow.workerFlows pattern) rather than decimal HALF_UP round(x,6),
    * which can disagree with an oracle engine exactly at half boundaries.
    */
  def dupFrac(arr: Column): Column =
    when(size(arr) > 0,
      floor((size(arr) - size(array_distinct(arr))).cast("double") / size(arr)
        * 1000000.0 + 0.5) / 1000000.0)

  /** Word 2-grams: ["a","b","c"] -> ["a b","b c"]. Requires >= 2 words. */
  def wordBigrams(words: Column): Column =
    zip_with(slice(words, lit(1), size(words) - 1), slice(words, lit(2), size(words) - 1),
      (a, b) => concat_ws(" ", a, b))

  /** Word 3-grams: first n-2 bigrams joined with the 3rd-offset words. */
  def wordTrigrams(words: Column): Column =
    zip_with(slice(wordBigrams(words), lit(1), size(words) - 2),
      slice(words, lit(3), size(words) - 2),
      (a, b) => concat_ws(" ", a, b))

  /** Gopher-style repetition gate (Rae et al. 2021 §A1.1 repetition
    * filters): a document is kept when its duplicate-word and
    * duplicate-2-gram fractions sit under the thresholds. The published
    * rules gate on duplicate LINE and n-gram-character fractions; our
    * corpora are single-line word streams, so the word/n-gram fraction
    * family is the applicable subset (thresholds tuned to this corpus'
    * observed distribution, not Gopher's web-text ones).
    */
  def repetitionKeep(words: Column, maxDupWord: Double = 0.55,
                     maxDupBigram: Double = 0.05): Column =
    dupFrac(words) <= maxDupWord && dupFrac(wordBigrams(words)) <= maxDupBigram

  /** The CHARACTER-fraction half of the Gopher repetition family (Rae et
    * al. 2021 §A1.1 — the rules [[repetitionKeep]]'s count-fraction subset
    * doesn't cover): per document,
    *   - `top_frac`  = chars inside ALL occurrences of the single most
    *     frequent `topN`-gram / total word chars (ties → lexicographically
    *     smallest gram, engine-deterministic);
    *   - `dup_frac`  = chars covered by AT LEAST ONE duplicated
    *     `dupN`-gram occurrence / total word chars (interval-UNION
    *     coverage — overlapping duplicate grams count a position once,
    *     the published semantics).
    * `keep_rep` applies the Gopher thresholds on the unquantized ratios;
    * the reported fractions are floor-quantized to 6dp (engine-stable).
    *
    * Scale: grams explode to one row per position; counts key on
    * (doc, gram) — map-side combined, per-key population bounded by the
    * document's own length, never corpus-global (a content-global key
    * would hotspot on boilerplate; this stays per-doc by construction).
    * Coverage is a distinct + per-doc aggregate with groups bounded by doc
    * length, and the char lookup rides as one HOF over the doc's own words
    * array — no all-pairs, no O(len²) per-row expression.
    */
  def ngramCharStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, topN: Int = 2, dupN: Int = 5,
                     maxTop: Double = 0.20, maxDup: Double = 0.15)
      : org.apache.spark.sql.DataFrame = {
    val base = df.select(col(idCol), split(col(textCol), " ").as("_w"))
      .withColumn("total_chars",
        aggregate(col("_w"), lit(0L), (acc, w) => acc + length(w)))
    val baseP = graft.plans.CacheScope.persist(base)

    def grams(n: Int) = baseP.filter(size(col("_w")) >= n)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("_w")) - n),
        i => struct(i.as("pos"),
          array_join(slice(col("_w"), i + 1, lit(n)), " ").as("gram")))).as("g"))
      .select(col(idCol), col("g.pos").as("pos"), col("g.gram").as("gram"))

    // top-N-gram: (doc, gram) counts -> per-doc argmax (count desc, gram asc)
    val topW = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("_n").desc, col("gram"))
    val top = grams(topN).groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_rn", row_number().over(topW)).filter(col("_rn") === 1)
      .select(col(idCol), col("gram").as("top_gram"),
        (col("_n") * (length(col("gram")) - (topN - 1))).cast("long").as("_tch"))

    // dup-N-gram coverage: dup occurrences -> distinct covered word indices
    val gd = grams(dupN)
    val dups = gd.groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") >= 2)
    val idx = gd.join(dups, Seq(idCol, "gram"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (dupN - 1))).as("_wi"))
      .distinct()
    val cov = idx.groupBy(col(idCol)).agg(collect_list(col("_wi")).as("_wis"))

    val q6 = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    baseP.join(top, Seq(idCol), "left").join(cov, Seq(idCol), "left")
      .withColumn("_dch", coalesce(
        aggregate(col("_wis"), lit(0L),
          (acc, i) => acc + length(element_at(col("_w"), i + 1))), lit(0L)))
      .withColumn("_tf", coalesce(col("_tch"), lit(0L)).cast("double") / col("total_chars"))
      .withColumn("_df", col("_dch").cast("double") / col("total_chars"))
      .select(col(idCol), col("total_chars"),
        coalesce(col("top_gram"), lit("")).as("top_gram"),
        q6(col("_tf")).as("top_frac"),
        q6(col("_df")).as("dup_frac"),
        (col("_tf") <= maxTop && col("_df") <= maxDup).as("keep_rep"))
  }

  // ---- source-weighted mixing (training-data assembly) ----

  /** Deterministic uniform hash of an id into [0,1): a Knuth multiplicative
    * hash over `id mod 1000003` (the pre-mod bounds the product inside a
    * 64-bit long at ANY id scale; uniqueness is not needed for sampling,
    * only uniformity). Pure integer arithmetic — identical in any engine.
    */
  def hash01(id: Column): Column =
    pmod(pmod(id.cast("long"), lit(1000003L)) * 2654435761L, lit(4294967296L))
      .cast("double") / 4294967296.0

  /** Source-weighted mixture assembly: each document appears
    * `floor(w)` times plus one more when hash01(id) < frac(w), where `w`
    * is its source's target weight — the standard up-/down-sampling rule
    * for LLM data mixtures (weight 2.5 = 2 copies + 50% chance of a 3rd;
    * weight 0.4 = 40% keep). Replay-identical (no RNG state), exact
    * expected token share per source, and a NARROW map + explode — no
    * shuffle, no driver round-trip, any corpus size.
    */
  def mixBySource(df: org.apache.spark.sql.DataFrame, idCol: String,
                  sourceCol: String, weights: Map[String, Double],
                  default: Double = 1.0): org.apache.spark.sql.DataFrame = {
    val w = weights.foldLeft(lit(default)) { case (acc, (s, v)) =>
      when(col(sourceCol) === s, lit(v)).otherwise(acc)
    }
    val copies = (floor(w) +
      when(hash01(col(idCol)) < w - floor(w), 1).otherwise(0)).cast("int")
    df.withColumn("_copies", copies)
      .filter(col("_copies") > 0)
      .withColumn("rep", explode(sequence(lit(0), col("_copies") - 1)))
      .drop("_copies")
  }

  // ---- PII redaction (training-data curation) ----

  /** PII patterns shared by [[redactPii]] and the oracle SQL: plain
    * regex (no lookaround) so Java regex and RE2 engines agree.
    */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PiiPhone = "\\+[0-9][0-9 -]{7,14}[0-9]"

  /** Redact emails/IPv4s/phone numbers to typed placeholders — the standard
    * pre-training PII scrub. Order matters (emails first: their local part
    * could otherwise partially match the phone pattern). A chain of
    * codegen'd regexp_replace — narrow map, fused into the scan.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmail, "<EMAIL>"),
        PiiIpv4, "<IP>"),
      PiiPhone, "<PHONE>")

  /** Count of matches of `pattern` in `text` (for PII audit columns). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Canonicalize a URL for dedup keys — the standard web-corpus
    * normalization (one crawl page appears under dozens of surface forms):
    * drop the fragment; lowercase scheme and authority (path stays
    * case-sensitive); strip default ports (:80 http, :443 https); remove
    * tracking params (utm_*, fbclid, gclid) keeping the rest in order;
    * collapse duplicate path slashes; strip one trailing slash. A chain of
    * codegen'd regexp_replace — narrow map fused into the scan, so URL
    * dedup shuffles only the canonical key.
    */
  def urlNormalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // lowercase only the scheme://authority prefix
    val lowered = concat(
      lower(regexp_extract(noFrag, "^([^/?#]+//[^/?#]*)", 1)),
      regexp_replace(noFrag, "^[^/?#]+//[^/?#]*", ""))
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(http://[^/?#:]+):80(?=[/?#]|$)", "$1"),
      "^(https://[^/?#:]+):443(?=[/?#]|$)", "$1")
    val noTrack =
      regexp_replace(noPort, "([?&])(?:utm_[^=&]*|fbclid|gclid)=[^&]*", "$1")
    val cleanQ = regexp_replace(regexp_replace(regexp_replace(noTrack,
      "\\?&+", "?"), "&&+", "&"), "[?&]+$", "")
    val collapsed = regexp_replace(cleanQ, "(?<!:)/{2,}", "/")
    regexp_replace(collapsed, "(?<=[^:/])/$", "")
  }

  // ---- fingerprints over token arrays ----

  val FpMod = 1000000007L
  val FpBase = 31L

  /** Rolling polynomial hash over the token ids: fold(h*31 + t) mod p —
    * the document-fingerprint invariant (deterministic, order-sensitive).
    */
  def rollingFingerprint(tokens: Column): Column =
    aggregate(tokens, lit(0L), (h, t) => pmod(h * FpBase + t.cast("long"), lit(FpMod)))

  /** k-gram shingle ids over token arrays: shingle_i = sum_j t[i+j] * M^(k-1-j)
    * with M=37 (> vocab size, collision-free for in-vocab ids).
    */
  val ShingleBase = 37L
  def shingleIds(tokens: Column, k: Int): Column = {
    val n = size(tokens)
    // guard: Spark's sequence(1, x) DESCENDS for x < 1, so short docs must
    // yield an empty shingle set explicitly
    when(n < k, array().cast("array<bigint>")).otherwise(
      transform(sequence(lit(1), n - (k - 1)), i => {
        (0 until k).map(j => element_at(tokens, i + j).cast("long") *
          lit(math.pow(ShingleBase.toDouble, (k - 1 - j).toDouble).toLong)).reduce(_ + _)
      }))
  }

  /** MinHash signature over a shingle-id array: for hash j, min over shingles
    * of (a_j * s + b_j) mod p with deterministic a_j = 2j+1, b_j = j*j+7.
    * Empty shingle set hashes to p (sentinel) so signatures stay total.
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val p = FpMod
    val mins = (0 until numHashes).map { j =>
      val a = 2L * j + 1
      val b = j.toLong * j + 7
      coalesce(array_min(transform(shingles, s => pmod(s * a + b, lit(p)))), lit(p))
    }
    array(mins: _*)
  }

  /** 16-bit SimHash over token ids: h(t) = t * 2654435761 mod 2^32 (Knuth);
    * bit_j sums +1/-1 over tokens; sign -> bit. Returns an int in [0, 65535].
    */
  def simhash16(tokens: Column): Column = {
    val knuth = 2654435761L
    val bits = (0 until 16).map { j =>
      val votes = aggregate(tokens, lit(0L), (acc, t) => {
        val h = pmod(t.cast("long") * knuth, lit(4294967296L))
        acc + when(shiftright(h, j) % 2 === 1, lit(1L)).otherwise(lit(-1L))
      })
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _).cast("int")
  }

  /** Sequence PACKING for LLM training: documents are concatenated in id
    * order and chunked every `seqLen` tokens (the standard concat-and-chunk
    * packing), so a document's pack assignment is a pure function of the
    * exclusive running token count before it: `pack_id = floor(cum_before /
    * seqLen)`, `pack_offset = cum_before % seqLen`.
    *
    * The global running sum is computed in TWO PHASES — a global
    * `Window.orderBy` would drag the whole corpus onto one reducer:
    *  1. range-partition by id, per-partition token totals -> driver
    *     (one row per partition) -> broadcast exclusive prefix offsets;
    *  2. per-partition running sum over the 16-byte (id, n_tok) projection
    *     seeded with the partition's offset.
    * Output: (doc_id, pack_id, pack_offset) — join back to payloads by id.
    */
  def packAssignments(df: org.apache.spark.sql.DataFrame, idCol: String,
                      nTokCol: String, seqLen: Int,
                      partitions: Int = 0): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val parts = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val sorted = df
      .select(col(idCol).cast("long").as("doc_id"), col(nTokCol).cast("long").as("_n"))
      .repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions("doc_id")
    val rdd = sorted.queryExecution.toRdd // InternalRow (doc_id, _n)
      .mapPartitions(it => it.map(r => (r.getLong(0), r.getLong(1))), preservesPartitioning = true)
    val totals = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; it.foreach(s += _._2); Iterator((pid, s))
    }.collect().sortBy(_._1)
    val prefix: Map[Int, Long] = {
      var acc = 0L
      totals.map { case (pid, s) => val before = acc; acc += s; pid -> before }.toMap
    }
    val bc = spark.sparkContext.broadcast(prefix)
    val assigned = rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = bc.value(pid)
      it.map { case (id, n) =>
        val before = cum; cum += n
        org.apache.spark.sql.Row(id, before / seqLen, before % seqLen)
      }
    }
    spark.createDataFrame(assigned, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pack_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pack_offset", org.apache.spark.sql.types.LongType))))
  }

  /** Materialize the PACKED training sequences themselves (the consumer of
    * [[packAssignments]]'s concat-and-chunk layout): documents concatenated
    * in id order are cut every `seqLen` tokens, and each output row IS one
    * fixed-length training sequence. A document spanning a pack boundary
    * contributes a SLICE to every pack it touches.
    *
    * Shape at scale: the assignment is [[packAssignments]]'s two-phase
    * cumsum (never a global window); the spans explode is a narrow map
    * (a doc touches ceil(n/seqLen)+1 packs at most); assembly is ONE
    * shuffle keyed on pack_id whose groups are bounded by construction —
    * a pack holds at most `seqLen` tokens and `seqLen` pieces — so no
    * group can exceed the sequence length no matter the corpus size. The
    * FINAL pack may be shorter than `seqLen` (exposed via pack_len; drop
    * or pad downstream, both conventions exist).
    */
  def packSequences(df: org.apache.spark.sql.DataFrame, idCol: String,
                    tokensCol: String, nTokCol: String, seqLen: Int,
                    partitions: Int = 0): org.apache.spark.sql.DataFrame = {
    val l = lit(seqLen.toLong)
    val asg = packAssignments(df, idCol, nTokCol, seqLen, partitions)
      .withColumn("_before", col("pack_id") * l + col("pack_offset"))
      .select(col("doc_id"), col("_before"))
    val joined = df.select(col(idCol).cast("long").as("doc_id"),
        col(tokensCol).as("_toks"), col(nTokCol).cast("long").as("_n"))
      .join(asg, "doc_id")
      .filter(col("_n") > 0)
    val spans = joined
      // `div` = exact integer division (Column./ is DOUBLE division)
      .withColumn("pack_id",
        explode(sequence(expr(s"_before div $seqLen"),
          expr(s"(_before + _n - 1) div $seqLen"))))
      .withColumn("_slice_from", greatest(col("pack_id") * l - col("_before"), lit(0L)))
      .withColumn("_slice_until",
        least(col("_n"), (col("pack_id") + 1) * l - col("_before")))
      .select(col("pack_id"),
        greatest(col("_before") - col("pack_id") * l, lit(0L)).as("_pos"),
        expr("slice(_toks, CAST(_slice_from + 1 AS INT), CAST(_slice_until - _slice_from AS INT))")
          .as("_piece"))
    spans.groupBy("pack_id")
      .agg(count(lit(1)).cast("int").as("n_pieces"),
        flatten(transform(array_sort(collect_list(struct(col("_pos"), col("_piece")))),
          x => x.getField("_piece"))).as("pack_tokens"))
      .withColumn("pack_len", size(col("pack_tokens")))
  }

  /** Long-document CHUNKING: split each token sequence into windows of at
    * most `maxLen` tokens advancing by `stride` (overlap = maxLen - stride).
    * Pure plan surgery — sequence + explode + slice, a narrow map whose
    * output rows are the training units.
    */
  def chunk(df: org.apache.spark.sql.DataFrame, tokensCol: String,
            maxLen: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(stride > 0 && stride <= maxLen)
    val n = size(col(tokensCol))
    // window starts: 0, stride, 2*stride, ... while start < n (empty docs
    // yield no chunks); the LAST window may be shorter than maxLen
    val starts = when(n <= 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), n - 1, lit(stride)))
    df.withColumn("chunk_idx", explode(starts))
      .withColumn("chunk", slice(col(tokensCol), col("chunk_idx") + 1, lit(maxLen)))
      .withColumn("chunk_idx", (col("chunk_idx") / stride).cast("int"))
      .withColumn("chunk_len", size(col("chunk")))
  }

  /** Deterministic dataset SPLIT assignment (train/val/test): hash-bucket
    * the id into [0,100) and cut at the cumulative percentages. Hash-based
    * (not rand()) so replays, resumes, and re-runs assign identically —
    * the same determinism policy as Mutate.drop's percentage sampling.
    * `hashed` defaults to md5-prefix buckets (engine-portable; xxhash64 is
    * faster but DuckDB-unverifiable).
    */
  def splitAssign(id: Column, cuts: Seq[(String, Int)]): Column = {
    require(cuts.map(_._2).sum == 100, "split percentages must total 100")
    val bucket = conv(substring(md5(id.cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    val (expr, _) = cuts.foldLeft((lit(null).cast("string"), 0)) {
      case ((acc, cum), (name, pct)) =>
        (when(bucket >= cum && bucket < cum + pct, lit(name)).otherwise(acc), cum + pct)
    }
    expr
  }

  /** Deterministic STRATIFIED sampling: per-source keep percentages (0-100)
    * over the same md5-prefix hash buckets as [[splitAssign]] — replay-
    * identical, no rand(), engine-portable, and consistent with the split
    * assignment (a doc sampled at 50% lands in the same half on every
    * cluster and every rerun). Sources not listed keep `defaultPct`.
    * Zero shuffle: a codegen'd projection; the actual downsample is
    * `.filter(sampleKeep(...))` pushed against the scan.
    */
  def sampleKeep(id: Column, source: Column, rates: Seq[(String, Int)],
                 defaultPct: Int = 100): Column = {
    require(rates.forall(r => r._2 >= 0 && r._2 <= 100), "rates must be 0-100")
    val bucket = conv(substring(md5(id.cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    val pct = rates.foldLeft(lit(defaultPct).cast("long")) {
      case (acc, (src, p)) => when(source === src, lit(p.toLong)).otherwise(acc)
    }
    bucket < pct
  }

  /** Deterministic shard assignment for training-output writes: an
    * md5-derived bucket modulo `numShards`. Combined with
    * `repartition(numShards, col("shard"))` +
    * `sortWithinPartitions(shard_key)` this is a reproducible global
    * shuffle — the permutation every training run needs to be identical
    * across reruns and resumes. 8 hex chars = 32 bits of key space, uniform
    * across shards at any corpus size.
    */
  def shardAssign(id: Column, numShards: Int): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % numShards

  /** Hashed-n-gram LINEAR quality classifier (the fastText-style scorer
    * quality-filtering pipelines run at corpus scale — e.g. the CCNet /
    * GPT-3 "quality classifier" stage): each token hashes into one of
    * `buckets` feature buckets, the model is a weight per bucket, and the
    * doc score is the weight sum. Inference is what matters at 100 TB and
    * it is ZERO-shuffle here: one codegen'd `transform` + `aggregate`
    * projection per row, pushable right after the scan.
    *
    * Weights here derive from the bucket id by a fixed integer mix
    * (`w(b) = (b * 2654435761) mod 2001 - 1000`, Knuth multiplicative hash)
    * so tests and the DuckDB oracle agree bit-exactly; a real model swaps
    * in a broadcast weight array with the same shape. Integer weights keep
    * the sum engine-exact (no float fold-order concerns).
    *
    * Returns the input plus `score` (long), `n_tok` (int), and
    * `keep` = score > 0.
    */
  def hashedClassify(df: org.apache.spark.sql.DataFrame, textCol: String,
                     buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    val toks = split(col(textCol), " ")
    val weight = (t: Column) =>
      (conv(substring(md5(t), 1, 6), 16, 10).cast("long") % buckets) *
        2654435761L % 2001L - 1000L
    df.withColumn("score",
        aggregate(transform(toks, weight), lit(0L), (acc, x) => acc + x))
      .withColumn("n_tok", size(toks))
      .withColumn("keep", col("score") > 0)
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): featurize documents as hashed
    * bag-of-words bucket counts, fit unigram bucket distributions on a
    * TARGET corpus (the domain to select more of) and on the RAW corpus,
    * and score every raw document with its log importance ratio
    * `log p̂_target(doc) − log p̂_raw(doc) = Σ_tok [log p̂_t(b(tok)) −
    * log p̂_r(b(tok))]` (Laplace-smoothed). Selection = top-k by weight
    * ([[dsirSelect]]).
    *
    * Scale shape: both distribution fits are map-side-combined aggregates
    * with key cardinality ≤ `buckets` (model-sized, like the IVF
    * centroids), collected driver-side and folded into ONE literal
    * long-array of per-bucket log-ratio deltas — so SCORING is a
    * zero-shuffle codegen'd transform+aggregate projection per raw row.
    * The raw corpus (the 100 TB side) is scanned once for its fit and once
    * for scoring, never shuffled or joined.
    *
    * Bit-safety: log2 is applied as INTEGER floor-log2 (bin-length − 1,
    * the [[bigramSurprisal]] trick) so weights are exact longs every
    * engine reproduces bit-for-bit; a production run swaps in libm log for
    * smoother weights — same plan, float math.
    */
  def dsirWeights(raw: org.apache.spark.sql.DataFrame,
                  target: org.apache.spark.sql.DataFrame,
                  textCol: String, buckets: Int = 512): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val bucket = (t: Column) =>
      conv(substring(md5(t), 1, 6), 16, 10).cast("long") % buckets
    def bucketCounts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(explode(transform(split(col(textCol), " "), bucket)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ilog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val tc = bucketCounts(target)
    val rc = bucketCounts(raw)
    // per-token normalization  log2(T_raw+B) − log2(T_tgt+B)  folded into
    // every bucket's delta, so the doc score needs no separate n_tok term
    val norm = ilog2(rc.values.sum + buckets) - ilog2(tc.values.sum + buckets)
    val delta = Array.tabulate(buckets)(b =>
      ilog2(tc.getOrElse(b.toLong, 0L) + 1) -
        ilog2(rc.getOrElse(b.toLong, 0L) + 1) + norm)
    raw.withColumn("dsir_w",
      aggregate(transform(split(col(textCol), " "),
          t => element_at(typedLit(delta.toSeq), bucket(t).cast("int") + 1)),
        lit(0L), (acc, x) => acc + x))
  }

  /** Top-`k` DSIR selection (weight DESC, then `idCol` ASC for engine
    * determinism) — `TakeOrderedAndProject`: per-partition heaps + a
    * driver merge of k rows, never a global sort.
    */
  def dsirSelect(raw: org.apache.spark.sql.DataFrame,
                 target: org.apache.spark.sql.DataFrame,
                 idCol: String, textCol: String, k: Int,
                 buckets: Int = 512): org.apache.spark.sql.DataFrame =
    dsirWeights(raw, target, textCol, buckets)
      .orderBy(col("dsir_w").desc, col(idCol))
      .limit(k)

  /** One round of BPE merge statistics: the K most frequent ADJACENT token
    * pairs across the corpus — the merge-candidate table a distributed BPE
    * trainer materializes per iteration. One narrow bigram explode -> a
    * two-phase count aggregate -> `TakeOrderedAndProject` for the top K
    * (per-partition heaps + a driver merge of K rows — never a global
    * sort). Ties rank lexicographically for determinism.
    */
  def bpePairStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                   topK: Int): org.apache.spark.sql.DataFrame = {
    val toks = split(col(textCol), " ")
    val w = greatest(size(toks) - 1, lit(0))
    df.select(explode(arrays_zip(
        slice(toks, lit(1), w).as("prev"),
        slice(toks, lit(2), w).as("cur"))).as("bg"))
      .select(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .groupBy("prev", "cur").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("prev"), col("cur"))
      .limit(topK)
  }

  /** Top-`m` BPE merge rules from ONE training round over int-token
    * sequences: the most frequent adjacent DISTINCT-token pairs, ranked
    * (count DESC, a ASC, b ASC) for engine-determinism. Same shape as
    * [[bpePairStats]] — explode + count + TakeOrdered, driver-sized result
    * (a merge table is tokenizer config, broadcast like real tokenizers
    * ship it). Same-token pairs are excluded: their merge needs run-length
    * parity (a left-to-right scan), which breaks the order-independent
    * one-pass formulation [[bpeApply]] relies on.
    */
  def bpeTopMerges(df: org.apache.spark.sql.DataFrame, tokensCol: String,
                   m: Int): Seq[(Int, Int)] =
    bpePairCounts(df, tokensCol)
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(m)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq

  /** Adjacent distinct-token pair counts — the BPE training statistic.
    * Map-side-combined aggregate whose key cardinality is bounded by
    * vocab², corpus-size-independent.
    */
  private def bpePairCounts(df: org.apache.spark.sql.DataFrame,
                            tokensCol: String): org.apache.spark.sql.DataFrame = {
    val w = greatest(size(col(tokensCol)) - 1, lit(0))
    df.select(explode(arrays_zip(
        slice(col(tokensCol), lit(1), w).as("a"),
        slice(col(tokensCol), lit(2), w).as("b"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
  }

  /** Iterative BPE TRAINING (Sennrich et al. 2016 semantics): `rounds`
    * merge rounds, each RECOUNTING adjacent-pair frequencies over the
    * current encoding — unlike [[bpeTopMerges]], which ranks one static
    * count, this lets later rounds pick pairs involving earlier merged ids
    * (the behavior that makes BPE build multi-token units). Returns the
    * learned merge table `(rank, left, right, count-at-selection)`; the
    * merged id for rank k is `newIdBase + k`.
    *
    * Scale: each round is one map-side-combined pair-count aggregate
    * (exchange volume bounded by current-vocab², corpus-independent) plus
    * a driver-side top-1; the encoding accumulates one narrow codegen'd
    * [[bpeApply]] projection per learned rule, so round k re-reads the
    * scan through k projections. A production trainer at 100 TB
    * checkpoints the encoding every ~16 rounds to cap recompute depth —
    * counts are exact either way, the trade is pure wall-clock.
    */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, tokensCol: String,
               rounds: Int, newIdBase: Int): Seq[(Int, Int, Int, Long)] = {
    // round k applies the ACCUMULATED merge table to the base frame with
    // ONE kernel projection (r6) — the former per-round bpeApply chain
    // grew the plan by one projection every round, so round k re-analyzed
    // k chained nodes (superlinear planning, codegen collapse at depth);
    // the per-row recompute cost is identical (each round always re-reads
    // the scan through all k merges), the plan size is now constant.
    val base = df.select(col(tokensCol).as("_bt"))
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val out = Seq.newBuilder[(Int, Int, Int, Long)]
    var dry = false
    while (acc.length < rounds && !dry) {
      val cur =
        if (acc.isEmpty) base
        else bpeApply(base, "_bt", "_bt", acc.toSeq, newIdBase)
      val top = bpePairCounts(cur, "_bt")
        .orderBy(col("n").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val r = top(0)
        out += ((acc.length, r.getInt(0), r.getInt(1), r.getLong(2)))
        acc += ((r.getInt(0), r.getInt(1)))
      }
    }
    out.result()
  }

  /** Apply BPE merges in rank order, one pass per rule — EXACT for
    * distinct-token pairs with fresh merged ids: merging `(a,b) -> nid`
    * can never create a new `(a,b)` adjacency (the replacement id differs
    * from both), so a single order-independent pass IS the fixpoint, and
    * overlapping matches are impossible (`t[i+1]=a` would need `b=a`).
    * Each pass is a narrow codegen'd HOF rebuild: positions matching the
    * pair start become `nid`, the consumed right element drops via a `-1`
    * sentinel (tokens are nonnegative vocab positions), everything else
    * passes through — no shuffle anywhere, the merge table rides as
    * literals.
    */
  def bpeApply(df: org.apache.spark.sql.DataFrame, tokensCol: String,
               as: String, merges: Seq[(Int, Int)], newIdBase: Int)
      : org.apache.spark.sql.DataFrame =
    if (merges.isEmpty) df.withColumn(as, col(tokensCol))
    else df.withColumn(as, graft.plans.BpeExpr.bpeApplyAll(col(tokensCol),
      merges.zipWithIndex.map { case ((a, b), k) => (a, b, newIdBase + k) }))

  /** The former per-rule projection chain — bit-identical to [[bpeApply]]
    * (BpePropertySpec pins kernel == chain), kept as the property-test
    * oracle. NOT for production vocab sizes: the plan grows one projection
    * per rule, so analysis is superlinear in the merge count and
    * whole-stage codegen collapses in the low hundreds of rules — exactly
    * why [[graft.plans.BpeKernel]] exists.
    */
  private[graft] def bpeApplyChained(df: org.apache.spark.sql.DataFrame,
                                     tokensCol: String, as: String,
                                     merges: Seq[(Int, Int)], newIdBase: Int)
      : org.apache.spark.sql.DataFrame = {
    def step(c: Column, a: Int, b: Int, nid: Int): Column =
      filter(
        transform(c, (x, i) =>
          // i is 0-based; element_at is 1-based: next = i+2, prev = i
          when(x === a && try_element_at(c, i + 2) === b, lit(nid))
            // (i > 0) must guard the prev lookup: index ZERO is an error
            // even under try_element_at; And short-circuits in codegen
            .when((x === b && i > 0) && element_at(c, i) === a, lit(-1))
            .otherwise(x)),
        x => x =!= -1)
    // one PROJECTION per rule, each reading the previous step's BOUND
    // attribute: a single folded expression would nest the whole prior
    // chain at every of its 3 references (3^m blowup); as separate aliases
    // Catalyst keeps the non-cheap multi-referenced producers uncollapsed
    merges.zipWithIndex.foldLeft(df.withColumn(as, col(tokensCol))) {
      case (d, ((a, b), k)) => d.withColumn(as, step(col(as), a, b, newIdBase + k))
    }
  }

  /** GLOBAL rank without a single-partition window — the curriculum/
    * ordering primitive (rank every document by a score at any corpus
    * size): range-partition on the sort key, per-partition counts (one row
    * per partition, driver-sized), broadcast exclusive offsets, then a
    * per-partition running rank — the same two-phase shape as
    * [[packAssignments]]. Rank is 1-based by (score DESC, id ASC).
    */
  def globalRank(df: org.apache.spark.sql.DataFrame, idCol: String,
                 scoreCol: String, partitions: Int = 0): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val parts = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val sorted = df
      .select(col(idCol).cast("long").as("doc_id"), col(scoreCol).cast("double").as("_s"))
      .repartitionByRange(parts, col("_s").desc, col("doc_id"))
      .sortWithinPartitions(col("_s").desc, col("doc_id"))
    val rdd = sorted.queryExecution.toRdd
      .mapPartitions(it => it.map(r => (r.getLong(0), r.getDouble(1))), preservesPartitioning = true)
    val counts = rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; it.foreach(_ => n += 1); Iterator((pid, n))
    }.collect().sortBy(_._1)
    val prefix: Map[Int, Long] = {
      var acc = 0L
      counts.map { case (pid, n) => val before = acc; acc += n; pid -> before }.toMap
    }
    val bc = spark.sparkContext.broadcast(prefix)
    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      var rk = bc.value(pid)
      it.map { case (id, s) => rk += 1; org.apache.spark.sql.Row(id, s, rk) }
    }
    spark.createDataFrame(ranked, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType))))
  }

  /** Deterministic training-order shuffle: epoch e's permutation = the
    * global rank over an integer multiplicative hash of (id, seed) —
    * reshuffling between epochs changes the SEED, not the data (no second
    * copy of the corpus, one range-partitioned rank per epoch). The hash is
    * pure int64 arithmetic mod the Mersenne prime 2^31-1 with a SQUARING
    * round — the nonlinearity matters: a linear mix (id·k + seed·c) only
    * shifts every value by a constant mod p, which preserves the sort order
    * almost everywhere, so consecutive seeds would yield the same
    * permutation. Any engine reproduces the values exactly (all
    * intermediates < 2^63); rank is the two-phase distributed
    * [[globalRank]] — no single-partition window at any corpus size.
    */
  def shuffleOrder(df: org.apache.spark.sql.DataFrame, idCol: String,
                   seed: Long): org.apache.spark.sql.DataFrame = {
    val p = 2147483647L
    val m1 = pmod(col(idCol).cast("long") + lit(seed) * lit(7919L), lit(p))
    val h = pmod(pmod(m1 * m1, lit(p)) * lit(2654435761L) + m1, lit(p))
    globalRank(df.withColumn("_shuf", h), idCol, "_shuf")
      .select(col("doc_id"), col("score").cast("long").as("h"),
        col("rank").as("shuffle_pos"))
  }

  /** EXACT stratified sampling — keep ceil(frac·n_g) rows per group (the
    * per-language / per-source quota cut every curated pre-training mix
    * needs), selected uniformly and deterministically by an md5 key.
    *
    * Scale shape: a plain `row_number over (partition by group)` serializes
    * each group onto one reducer — a 100 TB corpus with 30 languages is 30
    * reducers. Instead the rank is two-phase over (group, salt = first md5
    * byte): per-bucket counts (G×256 rows, driver-broadcast) give exclusive
    * prefix offsets per group in salt order, and the big frame ranks only
    * WITHIN (group, salt) buckets — parallelism G×256, one shuffle of the
    * corpus. Global order within a group is (salt, md5, id) bucket-major;
    * since the salt is itself hash-derived, the first k_g rows in that
    * order are a uniform sample, and any SQL engine reproduces the
    * selection with a single window ordered the same way.
    */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, groupCol: String,
                       idCol: String, frac: Double): org.apache.spark.sql.DataFrame = {
    val keyed = df
      .withColumn("_sk", md5(col(idCol).cast("string")))
      .withColumn("_salt", conv(substring(col("_sk"), 1, 2), 16, 10).cast("long"))
    val counts = keyed.groupBy(col(groupCol), col("_salt")).agg(count(lit(1)).as("_c"))
    val wPre = Window.partitionBy(col(groupCol)).orderBy(col("_salt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col(groupCol))
    val pre = counts
      .withColumn("_prefix", coalesce(sum(col("_c")).over(wPre), lit(0L)))
      .withColumn("_n", sum(col("_c")).over(wTot))
      .drop("_c")
    val wIn = Window.partitionBy(col(groupCol), col("_salt"))
      .orderBy(col("_sk"), col(idCol))
    keyed.join(broadcast(pre), Seq(groupCol, "_salt"))
      .withColumn("_rk", row_number().over(wIn).cast("long") + col("_prefix"))
      .filter(col("_rk") <= ceil(col("_n") * lit(frac)))
      .drop("_sk", "_salt", "_prefix", "_n", "_rk")
  }

  /** Jaccard similarity of two DISTINCT-element array<long> columns (sets).
    * Uses |A∪B| = |A|+|B|-|A∩B| with a single specialized intersect-count
    * kernel (graft.plans.LongSetIntersectCount) — profiling showed the
    * built-in array_union/array_intersect composition at ~1ms+/row on
    * 90-element bigint arrays, dominating dedup verify stages. Callers must
    * array_distinct their inputs.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = graft.plans.SetExprs.setIntersectCount(a, b)
    val uni = size(a) + size(b) - inter
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni.cast("double"))
  }

  /** Cross-document EXACT-SUBSTRING duplication — the token-window form of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", the ExactSubstr dedup): every `w`-token window (stride 1) is a
    * key; a window occurring in MORE THAN ONE document is a duplicated span.
    * Output per doc: `n_windows`, `dup_windows` (positions covered by a
    * cross-doc duplicate), `dup_span_frac` (floor-quantized to 1e-6, the
    * engine's bit-safe ratio convention).
    *
    * Scale shape: one explode -> window-keyed count-distinct (two-phase
    * hash agg) -> left-semi join back (same window-key partitioning, AQE
    * reuses it) -> per-doc agg on the id key. Never all-pairs, no skew
    * hazard beyond hot stop-windows (uniform hash partitioning). At 100 TB
    * the window key becomes xxhash64(window) — 8 bytes instead of the
    * string — with an identical plan; the string key here keeps the oracle
    * engine-exact.
    */
  def dupSpanWindows(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, w: Int): org.apache.spark.sql.DataFrame = {
    val toks = split(col(textCol), " ")
    val nw = size(toks) - w + 1
    val winArr = when(nw > 0,
      transform(sequence(lit(0), nw - 1),
        i => array_join(slice(toks, i + 1, lit(w)), " ")))
      .otherwise(array().cast("array<string>"))
    val wins = df.select(col(idCol), explode(winArr).as("win"))
    val dupWins = wins.groupBy(col("win"))
      .agg(count_distinct(col(idCol)).as("_nd"))
      .filter(col("_nd") > 1).select(col("win"))
    val perDoc = wins.join(dupWins, Seq("win"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("dup_windows"))
    df.select(col(idCol), greatest(nw, lit(0)).cast("long").as("n_windows"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("dup_windows", coalesce(col("dup_windows"), lit(0L)))
      .withColumn("dup_span_frac",
        when(col("n_windows") > 0,
          floor(col("dup_windows") / col("n_windows") * 1e6 + 0.5) / 1e6)
          .otherwise(0.0))
  }

  /** Corpus-frequency token statistics — the KenLM-scoring shape without the
    * external model: global token counts (vocab-sized, broadcast by AQE)
    * joined back per token position. Per doc: `mean_tok_count` (mean global
    * frequency of its tokens — integer sum then ONE divide, bit-safe) and
    * `rare_frac` (fraction of positions whose token has global count <
    * `rareK` — the rare/garbage-token curation signal). At 100 TB the counts
    * side stays vocab-sized — the join is a broadcast at any corpus size.
    */
  def tokenFrequencyStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                          textCol: String, rareK: Long): org.apache.spark.sql.DataFrame = {
    val toksE = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val counts = toksE.groupBy(col("tok")).agg(count(lit(1)).as("_c"))
    toksE.join(broadcast(counts), Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("_c")).as("_sum_c"),
        sum(when(col("_c") < rareK, 1L).otherwise(0L)).as("_rare"))
      .withColumn("mean_tok_count",
        floor(col("_sum_c") / col("n_tok") * 1e6 + 0.5) / 1e6)
      .withColumn("rare_frac",
        floor(col("_rare") / col("n_tok") * 1e6 + 0.5) / 1e6)
      .drop("_sum_c", "_rare")
  }

  /** Blocklist curation: keep a document iff NONE of its whitespace tokens
    * appear in `blocked` (bad-word / domain blocklist filtering — a
    * config-sized literal set, codegen'd arrays_overlap, zero shuffle).
    */
  def blocklistKeep(text: Column, blocked: Seq[String]): Column =
    !arrays_overlap(split(text, " "), array(blocked.map(lit(_)): _*))

  /** Bigram language-model surprisal scoring — the KenLM-style quality
    * signal: a document whose bigrams are corpus-common scores low, one
    * full of never-seen-together token pairs scores high. Per bigram
    * position, surprisal ≈ -log2 P(cur|prev) = log2 c(prev) - log2
    * c(prev,cur), computed as INTEGER bit lengths (length(bin(c))) so the
    * DuckDB oracle is engine-exact — libm `ln` is not bit-reproducible
    * across engines; swap `log2(cu/cb)` in one line for a production float
    * LM. Output per doc: n_bigrams, max_surprisal (peak novelty),
    * surprisal (mean, floor-quantized 1e6).
    *
    * Scale: the bigram table is built once and persisted (it feeds the two
    * count aggregations AND the join back — self-join cache-race pattern);
    * c(prev) is vocab-sized, c(prev,cur) bigram-vocab-sized. Neither join
    * is forced broadcast: at web scale the bigram-count side outgrows the
    * driver and the (prev,cur)-keyed shuffle join is the right plan; AQE
    * broadcasts them at exploration scale on its own.
    */
  def bigramSurprisal(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = split(col(textCol), " ")
    val w = greatest(size(toks) - 1, lit(0))
    val bg0 = df.select(col(idCol).cast("long").as(idCol),
        explode(arrays_zip(
          slice(toks, lit(1), w).as("prev"),
          slice(toks, lit(2), w).as("cur"))).as("bg"))
      .select(col(idCol), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val bg = graft.plans.CacheScope.persist(bg0)
    val cu = bg.groupBy("prev").agg(count(lit(1)).as("cu"))
    val cb = bg.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    bg.join(cu, "prev").join(cb, Seq("prev", "cur"))
      .withColumn("surp", (length(bin(col("cu"))) - length(bin(col("cb")))).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum("surp").as("_s"),
        max("surp").as("max_surprisal"))
      .withColumn("surprisal", floor(col("_s") / col("n_bigrams") * 1e6 + 0.5) / 1e6)
      .drop("_s")
  }

  // ---- C4-style heuristic cleaning rules (Raffel et al. 2020 §2.2) ----

  /** C4 cleaning-rule components at document granularity (the published
    * rules operate per line; our corpora are one-line word streams, so the
    * document IS the line): terminal-punctuation ending, "lorem ipsum"
    * boilerplate, curly-brace (code/CSS) pages, the word "javascript", and
    * a minimum word count. Each component is one codegen'd predicate —
    * the composite keep is a scan-pushable filter at any corpus size.
    */
  def c4EndsPunct(text: Column): Column = text.rlike("[.!?\"']$")

  def c4HasLorem(text: Column): Column = lower(text).contains("lorem ipsum")

  def c4HasBrace(text: Column): Column = text.contains("{")

  def c4HasJavascript(text: Column): Column =
    array_contains(split(lower(text), " "), "javascript")

  def c4Keep(text: Column, minWords: Int = 15): Column =
    c4EndsPunct(text) && !c4HasLorem(text) && !c4HasBrace(text) &&
      !c4HasJavascript(text) && nWords(text) >= minWords

  // ---- Gopher quality rules (Rae et al. 2021 §A1.1 quality filters) ----

  /** Stopword shortlist for the Gopher "contains at least N stop words"
    * rule, tuned to this corpus' vocabulary (the published rule uses
    * common English function words).
    */
  val GopherStops: Seq[String] = Seq("the", "a", "value", "data")

  /** Symbol-to-word ratio (Gopher: `#` and `...` occurrences per word).
    * Occurrence counts via length deltas — two codegen'd replaces, no
    * regex scan. Exact integer-valued doubles, engine-stable.
    */
  def gopherSymbolRatio(text: Column): Column = {
    val hashes = length(text) - length(regexp_replace(text, "#", ""))
    val ellipses = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    (hashes + ellipses) / nWords(text)
  }

  /** Fraction of words containing at least one alphabetic character. */
  def gopherAlphaFrac(text: Column): Column =
    size(filter(split(text, " "), w => w.rlike("[A-Za-z]"))).cast("double") /
      nWords(text)

  /** Count of distinct stopwords from `stops` present in the text. */
  def gopherStopHits(text: Column, stops: Seq[String] = GopherStops): Column =
    stops.map(sw => when(array_contains(split(text, " "), sw), 1).otherwise(0))
      .reduce(_ + _)

  /** Composite Gopher quality gate: word-count band, mean-word-length band,
    * symbol ratio cap, alphabetic-word floor, minimum stopword hits. All
    * components are narrow projections; the composite is scan-pushable.
    * Threshold comparisons run on the UNQUANTIZED exact-integer-ratio
    * doubles (division of corpus-bounded integers is exact in IEEE double,
    * so both engines agree without rounding).
    */
  def gopherKeep(text: Column, minWords: Int = 15, maxWords: Int = 120,
                 minWlen: Double = 3.0, maxWlen: Double = 6.0,
                 maxSymbol: Double = 0.01, minAlpha: Double = 0.9,
                 minStops: Int = 2): Column =
    nWords(text).between(minWords, maxWords) &&
      meanWordLen(text).between(minWlen, maxWlen) &&
      gopherSymbolRatio(text) <= maxSymbol &&
      gopherAlphaFrac(text) >= minAlpha &&
      gopherStopHits(text) >= minStops

  // ---- line-level dedup (CCNet / RefinedWeb boilerplate removal) ----

  /** Corpus-level LINE deduplication — the CCNet/RefinedWeb boilerplate
    * stage: a line occurring in more than `maxDocs` distinct documents is
    * dropped from EVERY document (navigation menus, cookie banners,
    * "subscribe" footers). Input is a document frame with a `linesCol`
    * array column; output keeps `idCol`, adds `n_lines`, `n_kept`, and
    * `kept_text` (surviving lines rejoined in original order).
    *
    * Scale: the line-frequency table is one hash-keyed aggregate on line
    * content (map-side combined — the per-partition distinct collapse does
    * most of the work; CCNet keys this on a paragraph hash, which is the
    * same shuffle with narrower rows); the join back is line-keyed, never
    * doc-keyed, so hot boilerplate lines broadcast naturally under AQE.
    * Reassembly is one groupBy on the doc id with groups bounded by the
    * document's own line count.
    */
  def lineDedup(df: org.apache.spark.sql.DataFrame, idCol: String,
                linesCol: String, maxDocs: Long): org.apache.spark.sql.DataFrame = {
    val ex = df.select(col(idCol), posexplode(col(linesCol)).as(Seq("pos", "line")))
    val exP = graft.plans.CacheScope.persist(ex)
    val freq = exP.groupBy("line")
      .agg(countDistinct(col(idCol)).as("_docs"))
    exP.join(freq, Seq("line"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_docs") <= maxDocs, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("_docs") <= maxDocs, struct(col("pos"), col("line"))))),
          s => s.getField("line")), " / ").as("kept_text"))
  }

  // ---- DSIR importance resampling (Xie et al. 2023, NeurIPS) ----

  /** Data Selection via Importance Resampling: score each raw-corpus
    * document by how target-like its hashed-token distribution is. Tokens
    * hash into `buckets` feature buckets (md5-prefix hash — engine-exact);
    * per bucket the importance weight is log p_target(b) − log p_raw(b),
    * computed as INTEGER bit lengths of the (+1-smoothed) bucket counts —
    * the same integer-log2 formulation as [[bigramSurprisal]], so the
    * DuckDB oracle is bit-exact (libm `ln` is not reproducible across
    * engines; a production scorer swaps in float logs of the estimated
    * distributions). A document's score is the weight sum over its tokens;
    * `keep` = positive score (the resampling acceptance proxy — real DSIR
    * adds Gumbel noise before the global top-k).
    *
    * Scale: the bucket-weight table is `buckets` rows (config-sized →
    * broadcast); the only data-sized exchanges are the bucket-count
    * aggregate (map-side combined, key cardinality = `buckets`) and the
    * per-doc score aggregate keyed on the doc id. Nothing is
    * content-keyed; nothing is all-pairs.
    */
  def dsirScores(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, isTarget: Column,
                 buckets: Int = 256): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), isTarget.as("_t"),
        explode(split(col(textCol), " ")).as("tok"))
      .withColumn("bkt",
        conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long") % buckets)
    val toksP = graft.plans.CacheScope.persist(toks)
    val weights = toksP.groupBy("bkt")
      .agg(sum(when(col("_t"), 1L).otherwise(0L)).as("_ct"),
        sum(when(!col("_t"), 1L).otherwise(0L)).as("_cr"))
      .withColumn("w",
        (length(bin(col("_ct") + 1)) - length(bin(col("_cr") + 1))).cast("long"))
      .select("bkt", "w")
    toksP.filter(!col("_t"))
      .join(broadcast(weights), Seq("bkt"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"), sum("w").as("dsir_score"))
      .withColumn("dsir_avg",
        floor(col("dsir_score") / col("n_tok") * 1e6 + 0.5) / 1e6)
      .withColumn("keep", col("dsir_score") > 0)
  }

  /** Canonical URL for URL-keyed web dedup (the normalization every
    * web-corpus pipeline runs before exact dedup — RFC 3986 syntax-based
    * normalization plus the de-facto tracking-parameter strip): lowercase
    * scheme and authority, drop userinfo and a leading `www.`, drop the
    * scheme's default port (http:80 / https:443), collapse trailing slashes
    * on the path, drop the fragment, remove tracking parameters (`utm_*`,
    * `gclid`, `fbclid`, `ref`), and SORT the surviving query parameters so
    * parameter order never splits a duplicate. NULL for unparseable URLs.
    *
    * Scale: a pure codegen'd projection (parse_url + HOFs — no UDF, no
    * exchange); the downstream dedup is an ordinary groupBy on the
    * canonical key, a hash shuffle whose key cardinality is the distinct
    * URL count, never content-keyed.
    */
  def canonicalUrl(url: Column): Column = {
    val proto = lower(parse_url(url, lit("PROTOCOL")))
    val auth = regexp_replace(regexp_replace(
      lower(parse_url(url, lit("AUTHORITY"))), "^[^@/]*@", ""), "^www\\.", "")
    val host = when(proto === "http", regexp_replace(auth, ":80$", ""))
      .when(proto === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    val path = regexp_replace(coalesce(parse_url(url, lit("PATH")), lit("")), "/+$", "")
    val kept = array_sort(filter(split(coalesce(parse_url(url, lit("QUERY")),
        lit("")), "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid|ref)(=|$)")))
    val q = array_join(kept, "&")
    concat(proto, lit("://"), host, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }
}
