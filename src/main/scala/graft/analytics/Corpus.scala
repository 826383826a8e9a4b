package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions

/** Corpus-assembly operators for LLM training-data pipelines: sequence
  * packing, RAG chunking, boilerplate cleaning, and per-source quota
  * sampling (data mixing). All are narrow, codegen'd column expressions or
  * bounded per-group windows — no global single-partition stage at 100 TB.
  */
object Corpus {

  /** Sequence packing by concatenation order (GPT-style pretraining): lay
    * documents end-to-end in id order and cut fixed `budget`-token context
    * windows; a document's window is determined by its start offset in the
    * concatenated token stream (documents may straddle a boundary — the
    * window assignment is by starting position).
    *
    * The running offset is a window cumsum PARTITIONED BY SHARD
    * (`shardSize` documents per shard): a global orderBy-cumsum would be a
    * single-partition stage — sharded packing is both how real pipelines
    * pack (per input shard) and embarrassingly parallel. Returns one row
    * per document: (id, shard, seq, n_tokens, start).
    *
    * `tokenCounter` picks the budget unit — whitespace tokens by default,
    * or a real tokenizer (e.g. `Bpe.tokenCount(_, merges)` for
    * trained-BPE budgets). */
  def packSequences(docs: DataFrame, budget: Int, shardSize: Int,
      textCol: String = "text", idCol: String = "doc_id",
      tokenCounter: Column => Column = TextFunctions.tokenCount): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("id"))
    docs.select(col(idCol).as("id"),
        tokenCounter(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"id div $shardSize"))
      .withColumn("start",
        coalesce(sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("seq", expr(s"start div $budget"))
      .select(col("id"), col("shard"), col("seq"), col("n_tokens"), col("start"))
  }

  /** Greedy first-fit packing WITHOUT document straddling: documents fill
    * the current window until the next would overflow, then a new window
    * starts (a document longer than the budget gets its own window). The
    * window assignment is inherently sequential per shard, so this runs as
    * repartition-by-shard + sort-within-partitions + one streaming
    * mapPartitions pass — the same scale shape as the projection fold (no
    * per-group collect). Returns (id, shard, seq, n_tokens). */
  def packGreedyNoSplit(docs: DataFrame, budget: Int, shardSize: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("id"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"id div $shardSize"))
      .as[(Long, Long, Long)]
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var seq = -1L
        var fill = 0L
        it.map { case (id, n, shard) =>
          if (shard != curShard) { curShard = shard; seq = 0L; fill = 0L }
          if (fill > 0 && fill + n > budget) { seq += 1; fill = 0L }
          fill += n
          (id, shard, seq, n)
        }
      }
      .toDF("id", "shard", "seq", "n_tokens")
  }

  /** First-fit-decreasing sequence packing (Johnson 1973's classic
    * 11/9·OPT bin-packing approximation; Krell et al. 2021 apply it to
    * LLM sequence packing): within each shard, documents are taken in
    * DESCENDING token order and each goes into the FIRST already-open
    * sequence with room; no fit opens a new sequence (an oversized
    * document gets its own). Compared to the arrival-order greedy
    * ([[packGreedyNoSplit]]) this trades the id-contiguous window layout
    * for measurably fewer sequences — less padding waste per training
    * batch at the same budget.
    *
    * Same scale shape as the greedy form: repartition-by-shard +
    * sort-within-partitions + ONE streaming pass; the open-bin state is
    * bounded by `shardSize`, so memory per shard is constant and the
    * operator survives any corpus width. Ties (equal token counts) break
    * by ascending id — deterministic on both engines. Returns
    * (id, shard, seq, n_tokens); `tokenCounter` picks the budget unit
    * exactly like [[packSequences]]. */
  def packFfd(docs: DataFrame, budget: Int, shardSize: Int,
      textCol: String = "text", idCol: String = "doc_id",
      tokenCounter: Column => Column = TextFunctions.tokenCount): DataFrame = {
    require(budget > 0 && shardSize > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("id"),
        tokenCounter(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"id div $shardSize"))
      .as[(Long, Long, Long)]
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("n_tokens").desc, col("id"))
      .mapPartitions { it =>
        var curShard = Long.MinValue
        val rem = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.map { case (id, n, shard) =>
          if (shard != curShard) { curShard = shard; rem.clear() }
          val idx = rem.indexWhere(_ >= n)
          val seq =
            if (idx >= 0) { rem(idx) -= n; idx.toLong }
            else { rem += (budget.toLong - n); (rem.size - 1).toLong }
          (id, shard, seq, n)
        }
      }
      .toDF("id", "shard", "seq", "n_tokens")
  }

  /** RAG-style overlapping chunking: chunks of `chunkSize` characters every
    * `stride` characters (overlap = chunkSize − stride). One narrow
    * explode per document — chunk_id = start/stride is deterministic.
    * Returns (id, chunk_id, start, chunk).
    *
    * The text is pre-split ONCE per document into stride-sized cells
    * (one linear regex pass); chunk i is the join of the few cells
    * covering [i·stride, i·stride + chunkSize), trimmed to length. The
    * naive `substr(start, chunkSize)` per chunk is O(len²/stride) —
    * UTF8String.substring seeks from the string start per call (r6 fuzz
    * finding, same pathology as winnowFingerprints) — while the cell
    * form is linear and carries only ~len/stride small strings per
    * document row. `(?s)` keeps newlines inside cells; `.{1,n}` counts
    * code points, matching substr's character semantics. */
  def chunkDocuments(docs: DataFrame, chunkSize: Int, stride: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(stride > 0 && chunkSize > 0, "chunkSize and stride must be positive")
    // cells covering a chunk: first = start/stride, count = enough whole
    // strides to span chunkSize from any in-cell offset
    val cellsPerChunk = chunkSize / stride + (if (chunkSize % stride == 0) 0 else 1)
    docs.select(col(idCol).as("id"), col(textCol).as("_t"))
      .select(col("id"),
        regexp_extract_all(col("_t"), lit(s"(?s).{1,$stride}"), lit(0)).as("_cells"),
        explode(sequence(lit(0), greatest(length(col("_t")) - 1, lit(0)), lit(stride)))
          .as("start"))
      .select(col("id"), expr(s"start div $stride").as("chunk_id"), col("start"),
        substring(
          array_join(slice(col("_cells"), expr(s"start div $stride") + 1,
            lit(cellsPerChunk)), ""),
          1, chunkSize).as("chunk"))
  }

  /** Token-boundary RAG chunking: windows of `chunkTokens` BPE-ish pieces
    * every `strideTokens` pieces — the unit LLM context budgets are
    * actually measured in (char chunks split words and blow token
    * budgets; token chunks are what a retrieval pipeline indexes). The
    * BPE pre-tokenization ([[graft.functions.TextFunctions.BpePattern]])
    * covers every character class, so concatenating the pieces losslessly
    * reconstructs the text: each chunk IS a contiguous text slice that
    * starts and ends on token boundaries. One linear regex pass per
    * document (let-bound piece array shared by the explode), narrow
    * explode, zero shuffles. Returns (id, chunk_id, n_tokens, chunk). */
  def chunkByTokens(docs: DataFrame, chunkTokens: Int, strideTokens: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0, "chunkTokens and strideTokens must be positive")
    docs.select(col(idCol).as("id"),
        graft.functions.TextFunctions.bpePieces(col(textCol)).as("_p"))
      .select(col("id"), col("_p"),
        explode(sequence(lit(0),
          greatest(size(col("_p")) - 1, lit(0)), lit(strideTokens))).as("_start"))
      .select(col("id"),
        expr(s"_start div $strideTokens").as("chunk_id"),
        least(size(col("_p")) - col("_start"), lit(chunkTokens)).as("n_tokens"),
        array_join(slice(col("_p"), col("_start") + 1, lit(chunkTokens)), "").as("chunk"))
  }

  /** RE2-safe boilerplate patterns (identical semantics in Java regex and
    * DuckDB's RE2 — plain character classes, no lookaround). */
  val UrlPattern = "https?://[^\\s]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"

  /** Boilerplate cleaning: strip URLs and e-mail addresses, collapse
    * whitespace runs, trim. Pure codegen'd regexp chain. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(regexp_replace(text, UrlPattern, " "), EmailPattern, " "),
      "\\s+", " "))

  /** Select the highest-quality documents until a total token budget is
    * reached — the "assemble an N-token corpus" step of a training
    * pipeline. A naive implementation is one global sort by quality with a
    * global running sum (single-partition window — dead at 100 TB). This
    * runs in two parallel levels instead:
    *
    *  1. documents hash into coarse quality buckets (quality·1000 floor);
    *     per-bucket token totals get a running sum over the ≤1001 bucket
    *     rows (trivially small);
    *  2. a per-BUCKET window (partitioned, parallel) orders docs by
    *     (quality desc, id) within their bucket.
    *
    * keep ⇔ bucketPrefix + withinBucketCumulative <= budget — one uniform
    * predicate: fully-selected buckets satisfy it for every doc, the
    * cutoff bucket truncates mid-bucket, later buckets fail outright.
    *
    * `tokenCounter` sets the budget's unit — default whitespace tokens;
    * pass `Bpe.tokenCount(_)` (or a trained table's curried form) to
    * budget in the tokens the actual tokenizer emits (the
    * [[packSequences]] seam). */
  def selectToTokenBudget(docs: DataFrame, budget: Long,
      textCol: String = "text", idCol: String = "doc_id",
      tokenCounter: Column => Column = TextFunctions.tokenCount(_)): DataFrame = {
    val scored = docs.select(col(idCol).as("id"),
      TextFunctions.qualityScore(col(textCol)).as("quality"),
      tokenCounter(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("qb", floor(col("quality") * 1000).cast("long"))
    val buckets = scored.groupBy(col("qb")).agg(sum(col("n_tokens")).as("_bt"))
    val wb = Window.orderBy(col("qb").desc) // ≤1001 rows: tiny by construction
    val prefixes = buckets.withColumn("_prefix",
      coalesce(sum(col("_bt")).over(wb.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("qb"), col("_prefix"))
    val wd = Window.partitionBy(col("qb")).orderBy(col("quality").desc, col("id"))
    scored.join(broadcast(prefixes), "qb")
      .withColumn("_cum", sum(col("n_tokens")).over(wd))
      .where(col("_prefix") + col("_cum") <= budget)
      .select(col("id"), col("quality"), col("n_tokens"))
  }

  /** Within-document repetition signals (Gopher-style quality rules): for
    * each document, over its word n-grams — total count, fraction that are
    * duplicates (1 − distinct/total), and the share of the most frequent
    * n-gram. High values mark boilerplate/spam/looping text; this is the
    * intra-document axis of dedup (cross-document is Dedup.*).
    * One explode + two map-side-combined aggregations. */
  def repetitionStats(docs: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val grams = docs.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("_w"))
      .select(col("id"), explode(
        when(size(col("_w")) >= n,
          transform(sequence(lit(1), size(col("_w")) - (n - 1)),
            i => concat_ws(" ", slice(col("_w"), i, lit(n)))))
          .otherwise(array(concat_ws(" ", col("_w"))))).as("gram"))
    grams.groupBy(col("id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(
        sum(col("c")).as("n_grams"),
        (lit(1.0) - count(lit(1)).cast("double") / sum(col("c"))).as("dup_ratio"),
        (max(col("c")).cast("double") / sum(col("c"))).as("top_gram_share"))
  }

  /** Eval-set decontamination: find training documents whose shingle sets
    * are heavily contained in some evaluation document (the standard
    * n-gram-overlap test-set-leakage check). Containment of corpus doc c
    * against eval doc e = |shingles(c) ∩ shingles(e)| / |shingles(c)|; a
    * doc is contaminated when its max containment >= threshold.
    *
    * Shape: inverted shingle index of BOTH sides, equi-joined on shingle
    * (eval side is small — broadcast), counts collapsed map-side before
    * the shuffle. Returns (id, containment) for contaminated docs; feed
    * to a left_anti join to clean the corpus. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, threshold: Double,
      n: Int = 3, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cIdx = Dedup.shingleSets(corpus, textCol, idCol, n)
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("shingle"))
    val eIdx = Dedup.shingleIndex(evalSet, textCol, idCol, n)
      .select(col("id").as("_eid"), col("shingle"))
    cIdx.join(broadcast(eIdx), "shingle")
      .groupBy(col("id"), col("_eid"), col("sz"))
      .agg(count(lit(1)).as("common"))
      .groupBy(col("id"))
      .agg(max(col("common").cast("double") / col("sz")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** TF-IDF keyword extraction: top `k` tokens per document by
    * tf · ln(N/df). One token explode, two hash aggregations (tf per
    * (doc, token); df per token — both map-side combined), a broadcast of
    * the token-df table back onto tf, and a bounded per-document top-k
    * window. `n` (corpus size) is passed in so the plan has no
    * driver-side count dependency at composition time.
    *
    * Ranking uses the score ROUNDED to 6 digits (ties broken by token):
    * Java and C libm `ln` can differ in the final ulp, so cross-engine
    * comparisons (and the DuckDB oracle) are only stable on the rounded
    * value — the rounding is part of the operator's contract. */
  def tfIdfKeywords(docs: DataFrame, k: Int, n: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val tf = toks.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "tok")
      .withColumn("score",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id"), col("rank"), col("tok"), col("score"))
  }

  /** Weighted source mixing: sample each source at its configured rate,
    * deterministically (hash-mod gate keyed by doc id — reproducible
    * across runs and engines, no RNG state, pushes to the scan as a plain
    * predicate). Sources absent from `rates` default to `defaultRate`.
    * The rate-based counterpart of [[quotaSample]]'s top-k mixing. */
  def mixSources(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double = 1.0, idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    // round() the per-mille threshold on BOTH engines: Spark's double→long
    // cast truncates toward zero while DuckDB's CAST rounds, so a rate
    // whose double product lands just under an integer (0.3*1e6 =
    // 299999.99999…) would otherwise gate differently per engine for docs
    // hashing exactly onto the boundary.
    docs.where(
      pmod(TextFunctions.hash60(col(idCol).cast("string")), lit(1000000L)) <
        round(rate * 1000000.0).cast("long"))
  }

  /** Per-source quota sampling (training-data mixing): keep the top
    * `perSourceCap` documents of every source by quality score (ties by
    * id). A bounded per-group top-k window — shuffles one row per document
    * once, never collects a group to one node beyond its cap. */
  def quotaSample(docs: DataFrame, perSourceCap: Int,
      textCol: String = "text", idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    val w = Window.partitionBy(col(sourceCol)).orderBy(col("quality").desc, col(idCol))
    docs.withColumn("quality", TextFunctions.qualityScore(col(textCol)))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= perSourceCap)
      .drop("_rn")
  }

  /** Deterministic train/valid/test assignment by salted id-hash: the
    * standard leakage-safe split (same id → same split on every run, every
    * engine, any cluster size — no `rand()`, no global sort). `weights`
    * are cut points out of 256: a doc lands in split i when its first
    * md5 byte falls in [cut(i-1), cut(i)). Pure narrow column math —
    * embarrassingly parallel at any scale. */
  def hashSplit(docs: DataFrame, idCol: String = "doc_id",
      salt: String = "split", weights: Seq[(String, Int)] =
        Seq("train" -> 205, "valid" -> 230, "test" -> 256)): Column = {
    require(weights.nonEmpty && weights.last._2 == 256,
      "weights must be ascending cut points ending at 256")
    val bucket = conv(
      substring(md5(concat(lit(salt + ":"), col(idCol).cast("string"))), 1, 2),
      16, 10).cast("int")
    weights.init.foldRight(lit(weights.last._1): Column) { case ((name, cut), acc) =>
      when(bucket < cut, name).otherwise(acc)
    }
  }

  /** Corpus vocabulary: token → document-independent total count. The
    * canonical "what's in my corpus" scan — partial aggregation collapses
    * each partition's counts map-side, so the shuffle carries one row per
    * distinct token per partition, and top-k is a TakeOrdered (no global
    * sort). */
  def vocabulary(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Token-rarity scoring: each doc's mean corpus-frequency RANK over its
    * tokens — by Zipf, log rank tracks −log P(token), so this is an
    * integer-exact stand-in for unigram-LM scoring (CCNet-style quality
    * filtering: gibberish and OCR noise score high, fluent text low)
    * that two engines reproduce bit-for-bit (rank sums are integer; the
    * only float op is one final division).
    *
    * The rank is over the VOCABULARY by (count desc, word) — the key is
    * unique per row, so dense_rank == 1 + #preceding rows, and the naive
    * form is a single-partition sort of every distinct token (a 100 TB
    * vocabulary runs to 10⁹ tokens — dead). Decompose it exactly,
    * [[selectToTokenBudget]]-style, into three bounded levels:
    *
    *  1. frequency classes: distinct count VALUES (≤ O(√corpus-tokens):
    *     their sum is the corpus) get a prefix-count window — the only
    *     unpartitioned window left, over that provably-small row set;
    *  2. within a class, 2-char word-prefix buckets (≤ 702) get a
    *     prefix-count window PARTITIONED by class — bucketing by a
    *     PREFIX of the sort key keeps cross-bucket order consistent;
    *  3. within a bucket, row_number PARTITIONED by (class, bucket).
    *
    * rank = class prefix + bucket prefix + within-bucket row_number —
    * identical values to the naive dense_rank (PropertySpec pins the
    * equality), every big sort partitioned, the two prefix tables
    * broadcast. */
  def rarityScores(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .where(length(col("word")) > 0)
    val counts = toks.groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("_p2", substring(col("word"), 1, 2))
    val wn = Window.orderBy(col("n").desc)
    val classPrefix = counts.groupBy(col("n")).agg(count(lit(1)).as("_cn"))
      .withColumn("_np", coalesce(sum(col("_cn"))
        .over(wn.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n"), col("_np"))
    val wb = Window.partitionBy(col("n")).orderBy(col("_p2"))
    val bucketPrefix = counts.groupBy(col("n"), col("_p2"))
      .agg(count(lit(1)).as("_cb"))
      .withColumn("_bp", coalesce(sum(col("_cb"))
        .over(wb.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n"), col("_p2"), col("_bp"))
    val ww = Window.partitionBy(col("n"), col("_p2")).orderBy(col("word"))
    val ranked = counts
      .join(broadcast(classPrefix), Seq("n"))
      // bucketPrefix is (class, 2-char-prefix)-keyed — usually tiny but
      // up to classes × 702 rows at extreme vocabularies, so no forced
      // broadcast: AQE picks one while it fits
      .join(bucketPrefix, Seq("n", "_p2"))
      .withColumn("rank",
        (col("_np") + col("_bp") + row_number().over(ww)).cast("int"))
      .select(col("word"), col("rank"))
    toks.join(ranked, "word")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("rank")).as("rank_sum"))
      .withColumn("mean_rank",
        round(col("rank_sum").cast("double") / col("n_tokens"), 6))
  }

  /** EXACT heavy hitters: every token with total corpus count >= minCount,
    * with its exact count — without ever shuffling the long tail. Classic
    * two-pass scheme (Misra & Gries 1982 summaries, merged by union):
    *
    * Pass 1 runs a Misra-Gries summary of `capacity` counters inside each
    * partition (per-partition imperative state — the one place
    * `mapPartitions` is the right tool). MG guarantees a partition
    * undercounts any token by at most n_p/(capacity+1), so a token absent
    * from EVERY summary has total count <= N/(capacity+1): if
    * minCount > N/(capacity+1), the union of survivors is a guaranteed
    * superset of the heavy hitters. The summaries also carry one sentinel
    * row with the partition's token count, so N is known without a second
    * source scan; the guarantee is ASSERTED loudly rather than assumed.
    *
    * Pass 2 broadcast-joins the small candidate set against the token
    * stream — the corpus is never shuffled, only candidate rows reach the
    * (map-side combined) count — and keeps counts >= minCount.
    *
    * At 100 TB: pass 1 is a pure scan with O(capacity) state per task;
    * the shuffle carries <= capacity x partitions candidate rows; pass 2's
    * shuffle carries one row per (candidate, partition). Compare the naive
    * groupBy-then-filter, which shuffles one row per DISTINCT TOKEN per
    * partition — for web-scale corpora that is billions of tail tokens
    * paying for a handful of heavy ones.
    *
    * If `capacity` turns out too small for the corpus (guarantee floor
    * N/(capacity+1) reaches minCount), pass 1 is re-run once with a
    * sufficient capacity derived from the now-known N (`autoGrow`, the
    * default — results stay EXACT at any scale without tuning); with
    * autoGrow=false it refuses loudly instead. */
  def heavyHitters(docs: DataFrame, minCount: Long, capacity: Int = 4096,
      textCol: String = "text", autoGrow: Boolean = true): DataFrame = {
    require(minCount > 0 && capacity > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .where(length(col("word")) > 0)
    // (token, isSentinel, n): survivors carry their residual MG counter
    // (diagnostic only); the sentinel carries the partition's token count.
    def summarize(cap: Int) = words.as[String].mapPartitions { it =>
      val mg = new java.util.HashMap[String, Long]()
      var np = 0L
      it.foreach { w =>
        np += 1L
        val cur = mg.getOrDefault(w, 0L)
        if (cur > 0L) mg.put(w, cur + 1L)
        else if (mg.size < cap) mg.put(w, 1L)
        else {
          val itr = mg.entrySet().iterator()
          while (itr.hasNext) {
            val e = itr.next()
            if (e.getValue == 1L) itr.remove() else e.setValue(e.getValue - 1L)
          }
        }
      }
      import scala.jdk.CollectionConverters._
      mg.entrySet().iterator().asScala.map(e => (e.getKey, false, e.getValue.longValue())) ++
        Iterator(("", true, np))
    }.toDF("word", "sentinel", "n").cache()
    def tokenCount(df: DataFrame): Long =
      df.where(col("sentinel")).agg(sum(col("n"))).as[Option[Long]].head().getOrElse(0L)
    var summaries = summarize(capacity)
    val total = tokenCount(summaries)
    if (total / (capacity + 1L) >= minCount) {
      require(autoGrow,
        s"heavyHitters: minCount=$minCount is below the MG guarantee floor " +
          s"${total / (capacity + 1L)} for capacity=$capacity over $total tokens — " +
          "raise capacity or minCount (candidates would not be a guaranteed superset)")
      summaries.unpersist()
      val grown = math.min(2L * total / minCount + 1L, Int.MaxValue.toLong).toInt
      summaries = summarize(grown)
    }
    // the candidate set is small by construction (≤ capacity per
    // partition, deduped) — materialize it to a LOCAL relation so the
    // cached summaries can be unpersisted NOW instead of leaking cache
    // blocks into the session until the caller happens to execute the
    // returned plan
    val candidateWords = summaries.where(!col("sentinel"))
      .select(col("word")).distinct().as[String].collect().toSeq
    summaries.unpersist()
    val candidates = candidateWords.toDF("word")
    words.join(broadcast(candidates), "word")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** Corpus snapshot diff — the incremental-refresh triage every
    * recurring pipeline runs first: which documents were ADDED, REMOVED,
    * or CHANGED (same id, different content) between two snapshots.
    * Content identity is the md5 of the text column; unchanged docs
    * report "same" (callers usually filter them out).
    *
    * Scale shape: each snapshot contributes one narrow scan projecting
    * (id, hash); ONE full-outer shuffle on the id joins them — no text
    * ever moves, no pairwise work. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val a = oldDocs.select(col(idCol).as("id"), md5(col(textCol)).as("h_old"))
    val b = newDocs.select(col(idCol).as("id"), md5(col(textCol)).as("h_new"))
    a.join(b, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("same"))
  }

  /** The Gopher quality-rule set (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * appendix A1.1) as an explicit per-rule filter — the de-facto
    * standard heuristic gate for web-scraped training text. One boolean
    * column per rule plus the conjunction, so a pipeline can both filter
    * (`where(col("pass"))`) and audit WHICH rule rejects how much:
    *
    *  - r_word_count:  50 <= words <= 100,000
    *  - r_mean_len:    3 <= mean word length <= 10
    *  - r_symbol:      (# + ellipsis) to word ratio <= 0.1
    *  - r_bullet:      <= 90% of lines start with a bullet
    *  - r_ellipsis:    <= 30% of lines end with an ellipsis
    *  - r_alpha:       >= 80% of words contain an alphabetic char
    *  - r_stop:        >= 2 distinct Gopher stop words present
    *
    * Entirely narrow column math over the let-bound token and line arrays
    * — no shuffle, no UDF; embarrassingly parallel at any scale. */
  def gopherQuality(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", keep: Seq[String] = Nil): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val t = col(textCol)
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEll = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3 +
      (length(t) - length(regexp_replace(t, "…", "")))
    docs.select((col(idCol).as("id") +: keep.map(col)) :+
      TextFunctions.bindOnce(TextFunctions.tokens(t), { w =>
        TextFunctions.bindOnce(split(t, "\n"), { ls =>
          val n = size(w)
          val nl = size(ls)
          val meanLen = aggregate(w, lit(0L), (a, x) => a + length(x))
            .cast("double") / n
          val bullets = size(filter(ls, l =>
            ltrim(l).startsWith("•") || ltrim(l).startsWith("- ") ||
              ltrim(l).startsWith("* ")))
          val ells = size(filter(ls, l =>
            rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
          val alphaWords = size(filter(w, x => x.rlike("[A-Za-z]")))
          val stopHits = size(array_intersect(
            transform(w, x => lower(x)), array(stops.map(lit): _*)))
          struct(
            n.cast("long").as("n_words"),
            (n >= 50 && n <= 100000).as("r_word_count"),
            (meanLen >= 3.0 && meanLen <= 10.0).as("r_mean_len"),
            ((nHash + nEll).cast("double") / n <= 0.1).as("r_symbol"),
            (bullets.cast("double") / nl <= 0.9).as("r_bullet"),
            (ells.cast("double") / nl <= 0.3).as("r_ellipsis"),
            (alphaWords.cast("double") / n >= 0.8).as("r_alpha"),
            (stopHits >= 2).as("r_stop"))
        })
      }).as("g"): _*)
      .select((col("id") +: keep.map(col)) :+ col("g.*"): _*)
      .withColumn("pass",
        col("r_word_count") && col("r_mean_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") && col("r_stop"))
  }

  /** Temperature-based source rebalancing (the multilingual-training mix
    * of Devlin et al. 2019 §mBERT / Conneau et al. 2020 XLM-R §3.1:
    * sample source i with probability ∝ p_i^alpha, p_i = n_i / N,
    * 0 < alpha <= 1). Realized downsample-only — no document is ever
    * duplicated: keep rate_i = (n_min / n_i)^(1-alpha), which makes the
    * kept mix follow the tempered distribution exactly while the smallest
    * source keeps every row. Membership is decided by the same salted
    * per-mille-of-million hash gate as [[mixSources]] — deterministic
    * across runs, engines, and cluster sizes; no rand().
    *
    * Scale shape: one tiny groupBy(source) count (map-side combined),
    * broadcast back as a rate column; the gate itself is a narrow filter
    * — the corpus is never shuffled.
    *
    * Determinism note for cross-engine exact matching: with
    * alpha = 0.5 the rate is sqrt(n_min/n_i) — IEEE-754 division and
    * sqrt are correctly rounded, so every engine computes bit-identical
    * thresholds. Other alphas route through pow(), whose last-ulp
    * behavior is library-specific; results remain deterministic per
    * engine but a boundary-hash doc could differ across engines. */
  def temperatureSample(docs: DataFrame, alpha: Double = 0.5,
      idCol: String = "doc_id", sourceCol: String = "source"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val bySource = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("_n"))
    val counts = bySource.crossJoin(
      broadcast(bySource.agg(min(col("_n")).as("_n_min"))))
    val rate =
      if (alpha == 0.5) sqrt(col("_n_min").cast("double") / col("_n"))
      else pow(col("_n_min").cast("double") / col("_n"), 1.0 - alpha)
    docs.join(broadcast(counts), sourceCol)
      .where(
        pmod(TextFunctions.hash60(col(idCol).cast("string")), lit(1000000L)) <
          round(rate * 1000000.0).cast("long"))
      .drop("_n", "_n_min")
  }

  /** CCNet-style LM perplexity scoring + head/middle/tail bucketing
    * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data" — the filtering step behind most
    * modern web corpora). CCNet scores each document with a KenLM 5-gram
    * trained on Wikipedia and splits the corpus at perplexity terciles;
    * here the LM is an order-2 (bigram) model with unigram interpolation
    * (weight `lambda`) and add-`alpha` smoothing, trained on the `train`
    * sample (pass a clean reference slice). The vocabulary is capped at
    * the top `vocab` words by training count (count-then-word order makes
    * the cut deterministic); everything rarer maps to one UNK class —
    * which is also what keeps the model broadcastable at 100 TB.
    *
    * Output: (id, n_tokens, log_ppl, bucket) for every document with ≥ 2
    * tokens, log_ppl = mean −ln p(wᵢ|wᵢ₋₁) rounded to 6 places (the
    * natural-log perplexity; monotonic in exp-perplexity), bucket =
    * head/middle/tail by log_ppl terciles.
    *
    * Scale shape: training is two map-side-combined groupBy counts over
    * the TRAIN SAMPLE (bounded by sample size, not corpus size); the
    * model stays as three small TABLES (unigram, bigram, bigram-prefix
    * counts) that scoring probes via BROADCAST HASH JOINS — O(1) per
    * probe, where a broadcast map-column lookup would be a linear key
    * scan over every model entry per bigram (ArrayBasedMap element_at;
    * unusable once a realistic train sample yields 10^5+ bigrams). The
    * document text never shuffles: the only wide op is re-aggregating
    * tiny (id, -ln p) rows per doc, with map-side partial aggregation.
    * The tercile split is TWO-PASS: exact `percentile` CUTOFFS first (a
    * tree-wise aggregate whose buffer is bounded by DISTINCT 6-dp
    * scores, not doc count), then a broadcast flag per row — never a
    * global unpartitioned Window, which would sort one (id, score) row
    * per doc on a SINGLE task (tens of GB at 10⁹ docs). Buckets are
    * VALUE-based: docs tied exactly at a cutoff share the lower
    * bucket. */
  def perplexityScore(docs: DataFrame, train: DataFrame, vocab: Int = 2000,
      lambda: Double = 0.9, alpha: Double = 1.0,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // Model-table caching is SIZE-GATED (measured r17, isolated best-of-2
    // ×2 runs each): the persist's fixed materialization-job overhead
    // costs ~1-2 s flat, while the 52-rescan plan it removes costs
    // proportionally to the CORPUS (the train slice's pushdown prunes
    // nothing on a shuffled layout, so every model-subtree rescan reads
    // the full table). Crossover sits between ×100 and ×300 of sf0.1:
    // ×100 uncached 13.5/15.7 s vs cached 16.5/16.8; ×300 uncached
    // 40.9/36.7 s vs cached 27.7/30.0. Below the gate (128 MiB of plan)
    // the plan is bit-identical to the un-cached r16 shape.
    val cacheModel = docs.queryExecution.optimizedPlan.stats.sizeInBytes >= (128L << 20)
    val scored = perplexityScoresImpl(docs, train, vocab, lambda, alpha,
      textCol, idCol, cacheModel = cacheModel)
    // cutoffs rounded to 6 dp so both engines bucket rows against the
    // same literal (interpolated quantiles land ≥ gap/3 away from either
    // neighbouring 6-dp score, so ulp-level engine drift cannot cross a
    // rounding boundary). The scoring subtree appears twice (cutoff pass
    // + flag pass) but costs once: both sides end at the SAME per-doc
    // aggregation exchange, which Spark's ReuseExchange serves to the
    // second consumer from the shuffle files — measured +13% over
    // scores-only at sf0.1, not 2×.
    val cuts = scored.agg(
      round(percentile(col("log_ppl"), lit(1.0 / 3)), 6).as("_c1"),
      round(percentile(col("log_ppl"), lit(2.0 / 3)), 6).as("_c2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("id"), col("n_tokens"), col("log_ppl"),
        when(col("log_ppl") <= col("_c1"), lit("head"))
          .when(col("log_ppl") <= col("_c2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** [[perplexityScore]] minus the tercile bucketing: (id, n_tokens,
    * log_ppl) per scoreable document. This is the form a STREAMING
    * scorer runs per micro-batch (the tercile window needs the whole
    * score distribution; streaming pipelines bucket against cutoffs
    * estimated on a batch sample instead — see
    * [[CorpusStream.perplexityScoreStream]]). */
  def perplexityScores(docs: DataFrame, train: DataFrame, vocab: Int = 2000,
      lambda: Double = 0.9, alpha: Double = 1.0,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    perplexityScoresImpl(docs, train, vocab, lambda, alpha, textCol, idCol,
      cacheModel = false)

  /** `cacheModel = true` persists (and QueryCaches-tracks) the tiny model
    * tables -- vocab, unigram and bigram counts -- so every broadcast that
    * probes them reads the cache instead of re-deriving its subtree from
    * parquet (r17; VERDICT r16 #7): the un-cached batch plan re-scanned
    * the corpus 52 times because each broadcast build (and the
    * tercile-cutoff duplicate of the whole scoring subtree) embedded its
    * own copy of the train scan + vocab limit. Only the BATCH face
    * ([[perplexityScore]]) turns it on: the streaming face rebuilds the
    * model per micro-batch inside foreachBatch, where a tracked persist
    * would accumulate for the stream's lifetime (nothing calls
    * QueryCaches.release there). */
  private def perplexityScoresImpl(docs: DataFrame, train: DataFrame,
      vocab: Int, lambda: Double, alpha: Double,
      textCol: String, idCol: String, cacheModel: Boolean): DataFrame = {
    def cached(df: DataFrame): DataFrame =
      if (cacheModel)
        graft.QueryCaches.track(
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else df
    val Unk = "\u0002unk" // distinct from any real token
    def toks(c: Column): Column =
      filter(split(lower(trim(c)), "\\s+"), x => x =!= "")
    def bigramPairs(ws: Column): Column =
      when(size(ws) >= 2,
        transform(sequence(lit(1), size(ws) - 1), i =>
          struct(element_at(ws, i).as("v"), element_at(ws, i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<v:string,w2:string>>"))

    // pass 1 over train: the retained vocabulary, as a TABLE — membership
    // is probed via broadcast hash joins below, NOT a per-token map
    // lookup (a broadcast map element_at is a linear key scan over all
    // `vocab` entries for every token — the same ArrayBasedMap pathology
    // the DSIR op documents)
    val vocabT = cached(train.select(explode(toks(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocab)
      .select(col("w")))

    // UNK-normalize an exploded token column via one broadcast join
    def normTok(df: DataFrame, c: String): DataFrame = {
      val flag = "_k_" + c
      df.join(broadcast(vocabT.select(col("w").as(c), lit(true).as(flag))),
          Seq(c), "left")
        .withColumn(c, when(col(flag), col(c)).otherwise(lit(Unk)))
        .drop(flag)
    }
    // per-doc bigram pairs, exploded and UNK-normalized on both sides.
    // The token array is LET-BOUND: bigramPairs references it from inside
    // a transform lambda, and an inlined subtree there re-tokenizes the
    // whole document once PER PAIR — O(len^2) (measured 30x on the x30
    // soak before the binding). The <2-token exclusion filters on a
    // cheap re-split of the raw text (a filter on the computed array
    // would be pushed below its Project with the whole expression
    // substituted in — the inlining trap JsColumnCompiler documents).
    def pairsOf(df: DataFrame, id: Column): DataFrame = {
      val raw = df
        .where(size(toks(col(textCol))) >= 2)
        .select(id.as("id"),
          explode(TextFunctions.bindOnce(toks(col(textCol)), bigramPairs))
            .as("p"))
        .select(col("id"), col("p.v").as("v"), col("p.w2").as("w2"))
      normTok(normTok(raw, "v"), "w2")
    }

    // pass 2 over train: unigram/bigram/prefix count tables (UNK'd)
    val uni = cached(normTok(
        train.select(explode(toks(col(textCol))).as("w")), "w")
      .groupBy(col("w")).agg(count(lit(1)).cast("double").as("cu")))
    val bi = cached(pairsOf(train, lit(0L))
      .groupBy(col("v"), col("w2")).agg(count(lit(1)).cast("double").as("cb")))
    val pfx = bi.groupBy(col("v")).agg(sum(col("cb")).as("cp"))
    // an all-empty train yields empty count tables: coalesce the total
    // to 0 so the smoothed formula stays defined instead of propagating
    // NULL through every score
    val scalars = uni.agg(coalesce(sum(col("cu")), lit(0.0)).as("_n"),
      count(lit(1)).cast("double").as("_v"))

    // scoring: every probe is a broadcast hash join (O(1) per bigram,
    // viable for realistically-sized train samples); the document text
    // never shuffles — the only wide op is re-aggregating tiny
    // (id, -ln p) rows per doc, with map-side partial aggregation
    val scored = pairsOf(docs, col(idCol))
      .join(broadcast(bi), Seq("v", "w2"), "left")
      .join(broadcast(pfx), Seq("v"), "left")
      .join(broadcast(uni.withColumnRenamed("w", "w2")), Seq("w2"), "left")
      .crossJoin(broadcast(scalars))
      .select(col("id"),
        (lit(lambda) *
          when(col("cp").isNotNull, coalesce(col("cb"), lit(0.0)) / col("cp"))
            .otherwise(lit(0.0)) +
         lit(1.0 - lambda) * ((coalesce(col("cu"), lit(0.0)) + lit(alpha)) /
          (col("_n") + lit(alpha) * (col("_v") + lit(1.0))))).as("p"))
      .groupBy(col("id"))
      .agg((count(lit(1)) + 1).cast("int").as("n_tokens"),
        round(sum(-log(col("p"))) / count(lit(1)), 6).as("log_ppl"))
    scored
  }

  /** DSIR-style data selection via hashed n-gram importance weights (Xie
    * et al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): estimate how target-domain-like each raw document is
    * by the log-likelihood ratio of its hashed word uni+bigram features
    * under bag-of-buckets models of the TARGET sample vs the RAW corpus,
    * add-1 smoothed over `buckets` hash buckets:
    *
    *   log_weight(d) = Σ_f [ ln((c_t[b(f)]+1)/(N_t+B))
    *                       − ln((c_r[b(f)]+1)/(N_r+B)) ]
    *
    * `selected` is VALUE-based, not rank-based: it marks rows with
    * `log_weight` strictly above the exact p75 cutoff (DSIR then
    * resamples proportionally; a deterministic value threshold keeps the
    * gate exact and engine-portable). On heavily tied corpora this can
    * select far fewer than a quarter of rows — zero when every weight
    * ties — so consumers needing a guaranteed quartile-SIZED sample must
    * rank (e.g. row_number over log_weight desc) on top of the weights
    * themselves rather than rely on `selected`.
    * The bucket hash is the portable md5-based
    * [[graft.functions.TextFunctions.hash60]], so any engine reproduces
    * the same features.
    *
    * Scale shape: both feature distributions are B-bounded groupBy counts
    * (map-side combined — B buckets, not vocabulary-sized); they ship as
    * two broadcast maps on one row and scoring is a single stateless
    * pass over the corpus — no join, no shuffle of the text. The
    * quartile flag is TWO-PASS: an exact `percentile` CUTOFF (tree-wise
    * aggregate, buffer bounded by distinct 6-dp weights) broadcast back
    * as a per-row comparison — never a global unpartitioned Window
    * (single-task sort of one row per doc). The comparison is STRICT:
    * docs tied exactly at the cutoff drop out, so the selection stays
    * bounded at ~a quarter of the corpus even when a huge tied mass
    * sits at the boundary (a `>=` rule would flood the gate). */
  def importanceWeights(raw: DataFrame, target: DataFrame, buckets: Int = 4096,
      textCol: String = "text", idCol: String = "doc_id",
      referenceOverride: Option[DataFrame] = None): DataFrame = {
    def toks(c: Column): Column = grams(c)
    // hashed feature buckets: unigrams plus order-preserving bigrams
    // (lifted to hashedGramBuckets, shared with the Naive Bayes classifier)
    def featBuckets(c: Column): Column = hashedGramBuckets(c, buckets)
    def bucketCounts(df: DataFrame): DataFrame = df
      .select(explode(featBuckets(col(textCol))).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).cast("double").as("c"))
    // the count distributions ship as DENSE bucket-indexed ARRAYS, not
    // maps: Catalyst map element_at is a LINEAR key scan (ArrayBasedMap),
    // so B=4096 maps cost ~2k comparisons per lookup — the r9 ×100 soak
    // measured the map form at ~6 ms/doc, all lookup scan. Array
    // element_at is O(1); the map→array densify runs once on the one
    // model row.
    def dense(m: Column): Column =
      transform(sequence(lit(0), lit(buckets - 1)),
        i => coalesce(element_at(m, i.cast("long")), lit(0.0)))
    val model = bucketCounts(target)
      .agg(map_from_entries(collect_list(struct(col("b"), col("c")))).as("_tm0"),
        coalesce(sum(col("c")), lit(0.0)).as("_nt"))
      // the "raw" distribution defaults to the scored corpus itself; a
      // STREAMING caller passes a fixed reference corpus instead (one
      // micro-batch cannot represent the raw distribution)
      .crossJoin(bucketCounts(referenceOverride.getOrElse(raw))
        .agg(map_from_entries(collect_list(struct(col("b"), col("c")))).as("_rm0"),
          coalesce(sum(col("c")), lit(0.0)).as("_nr")))
      .select(dense(col("_tm0")).as("_tm"), dense(col("_rm0")).as("_rm"),
        col("_nt"), col("_nr"))
    // empty docs filter on a cheap re-split of the raw text (no
    // hashing; and NOT length(trim(..)) — SQL trim strips only spaces,
    // so a tabs-only doc would pass yet tokenize to nothing); the hashed
    // feature array — the expensive md5-per-gram expression — is produced
    // once in its own Project and referenced only as an attribute, never
    // re-inlined into a pushed-down filter (the r9 soak measured the
    // filter-on-computed-array form re-hashing every gram per reference)
    val scored = raw
      .where(size(toks(col(textCol))) > 0)
      .crossJoin(broadcast(model))
      .select(col(idCol).as("id"), featBuckets(col(textCol)).as("fs"),
        col("_tm"), col("_rm"), col("_nt"), col("_nr"))
      .select(col("id"), size(col("fs")).as("n_features"), round(
        aggregate(col("fs"), lit(0.0), (acc, b) =>
          acc +
            (log((element_at(col("_tm"), b.cast("int") + 1) + lit(1.0)) /
              (col("_nt") + lit(buckets.toDouble))) -
             log((element_at(col("_rm"), b.cast("int") + 1) + lit(1.0)) /
              (col("_nr") + lit(buckets.toDouble))))), 6).as("log_weight"))
    // top-quartile cutoff, rounded to 6 dp for cross-engine comparison
    // stability (same argument as perplexityScore's terciles). Unlike
    // perplexityScore, the scoring pass here is deliberately SHUFFLE-FREE
    // — so there is no exchange for ReuseExchange to serve the cutoff
    // pass from, and both consumers would re-hash every gram (measured
    // 1.8× at sf0.1). The explicit repartition materializes the narrow
    // (id, n_features, log_weight) rows behind ONE exchange both passes
    // share: one scoring pass + one narrow shuffle, linear at any N.
    val scoredX = scored.repartition(col("id"))
    val cut = scoredX.agg(
      round(percentile(col("log_weight"), lit(0.75)), 6).as("_c75"))
    scoredX.crossJoin(broadcast(cut))
      .select(col("id"), col("n_features"), col("log_weight"),
        (col("log_weight") > col("_c75")).as("selected"))
  }

  /** Lower-cased whitespace tokens with empties dropped — the shared
    * tokenization of the hashed-feature models ([[importanceWeights]],
    * [[naiveBayesTrain]]). */
  private[analytics] def grams(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), x => x =!= "")

  /** Hashed word uni+bigram feature buckets: every token and every
    * order-preserving bigram (joined on an unprintable separator so
    * bigrams cannot collide with unigrams textually) hashes through the
    * portable md5-based [[graft.functions.TextFunctions.hash60]] into one
    * of `buckets` slots. This is the fastText hashing trick (Joulin et
    * al. 2016, "Bag of Tricks for Efficient Text Classification"): any
    * model built over these features is bounded at B slots per class no
    * matter how large the vocabulary grows, so it broadcasts at any
    * corpus size. Shared by the DSIR scorer and the Naive Bayes
    * classifier; the hash is engine-portable, so oracle SQL reproduces
    * the identical features. */
  private[analytics] def hashedGramBuckets(c: Column, buckets: Int): Column =
    TextFunctions.bindOnce(grams(c), { ws =>
      val bis = when(size(ws) >= 2,
        transform(sequence(lit(1), size(ws) - 1), i =>
          concat(element_at(ws, i), lit("\u0001"), element_at(ws, i + 1))))
        .otherwise(array().cast("array<string>"))
      transform(concat(ws, bis),
        g => pmod(TextFunctions.hash60(g), lit(buckets.toLong)))
    })

  /** Multinomial Naive Bayes text classifier over hashed uni+bigram
    * features — the classic trained quality/domain filter of LLM data
    * pipelines (the shape of CCNet's and GPT-3's fastText-style document
    * classifiers: train on a labeled sample, score the whole corpus).
    * Returns a ONE-ROW model: labels sorted ascending, per-class log
    * priors ln(n_class/n), per-class token totals, and per-class DENSE
    * `buckets`-slot count arrays (dense because Catalyst map lookup is a
    * linear scan — same argument as [[importanceWeights]]).
    *
    * Scale shape: training is two B-bounded hash aggregations (map-side
    * combined) over one corpus scan — the model is ≤ labels × buckets
    * doubles regardless of vocabulary or corpus size, so it always
    * broadcasts. Docs with no tokens are unscoreable and excluded from
    * the priors. */
  def naiveBayesTrain(docs: DataFrame, labelCol: String = "label",
      textCol: String = "text", buckets: Int = 4096): DataFrame =
    naiveBayesTrainFeatures(
      docs.select(col(labelCol), col(textCol),
        hashedGramBuckets(col(textCol), buckets).as("_nbf")),
      labelCol, "_nbf", buckets,
      // the priors pass only counts rows: gate it on the un-hashed gram
      // count so column pruning drops the md5 subtree from that branch
      scoreablePred = Some(size(grams(col(textCol))) > 0))

  /** [[naiveBayesTrain]] over a PRE-HASHED feature column — the shared-
    * exchange form: when the same corpus is both trained on and scored
    * (the standard split-train/score-all pipeline), hash the grams ONCE
    * into a persisted column and feed both passes
    * ([[naiveBayesTrainClassify]] wires this up). */
  def naiveBayesTrainFeatures(docs: DataFrame, labelCol: String,
      featCol: String, buckets: Int = 4096,
      scoreablePred: Option[Column] = None): DataFrame = {
    val scoreable = docs.where(scoreablePred.getOrElse(size(col(featCol)) > 0))
    val counts = scoreable
      .select(col(labelCol).as("_l"), explode(col(featCol)).as("b"))
      .groupBy(col("_l"), col("b")).agg(count(lit(1)).cast("double").as("c"))
    val priors = scoreable.groupBy(col(labelCol).as("_l"))
      .agg(count(lit(1)).cast("double").as("_nd"))
    // densify WITHOUT a map probe (Catalyst map element_at is a linear
    // key scan — B² comparisons per class; measured 6.2 s of the train
    // pass at B=4096): materialize the tiny full (label × bucket) grid,
    // left-join the sparse counts, and fold the sorted entries into
    // position order — the trainIvfCentroids mean-update pattern. The
    // zero-filled sum keeps _tot bit-exact (counts are integer-valued).
    val perClass = priors.select(col("_l"),
        explode(sequence(lit(0L), lit((buckets - 1).toLong))).as("b"))
      .join(counts, Seq("_l", "b"), "left")
      .groupBy(col("_l"))
      .agg(
        transform(array_sort(collect_list(struct(col("b"),
            coalesce(col("c"), lit(0.0)).as("c")))),
          s => s.getField("c")).as("_cnt"),
        sum(coalesce(col("c"), lit(0.0))).as("_tot"))
    perClass.join(priors, Seq("_l"))
      .select(struct(col("_l"), col("_nd"), col("_tot"),
        col("_cnt")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("_cls"))
      .select(
        transform(col("_cls"), s => s.getField("_l")).as("_labels"),
        TextFunctions.bindOnce(
          aggregate(col("_cls"), lit(0.0), (a, s) => a + s.getField("_nd")),
          n => transform(col("_cls"),
            s => log(s.getField("_nd") / n))).as("_priors"),
        transform(col("_cls"), s => s.getField("_tot")).as("_tots"),
        transform(col("_cls"), s => s.getField("_cnt")).as("_cnts"))
  }

  /** Score every scoreable document under a [[naiveBayesTrain]] model and
    * keep the argmax class: per class, ln prior + Σ_tokens ln of the
    * add-1-smoothed bucket probability (c+1)/(tot+B). Per-class scores
    * are rounded to 6 dp BEFORE the argmax and ties break toward the
    * lexicographically smaller label, so any SQL engine reproduces the
    * same prediction (the repo's standard cross-engine comparison rule).
    * Appends `pred_label` and `log_score` (the winning rounded score) to
    * the input columns.
    *
    * Scale shape: ONE broadcast of the one-row model against a stateless
    * corpus scan — the text never shuffles, there is no join and no
    * window; per-row cost is O(tokens × labels) array arithmetic inside
    * codegen. The feature array and score array are materialized as
    * attributes in their own projections (never re-inlined — the
    * documented pushed-filter re-hash trap). */
  def naiveBayesClassify(docs: DataFrame, model: DataFrame,
      buckets: Int = 4096, textCol: String = "text"): DataFrame =
    naiveBayesScore(docs, model, buckets,
      hashedGramBuckets(col(textCol), buckets), size(grams(col(textCol))) > 0)

  /** [[naiveBayesClassify]] over a PRE-HASHED feature column. The input
    * should be MATERIALIZED (persisted/checkpointed) — over a bare
    * projection, CollapseProject would re-inline the hashing subtree into
    * the scoring lambda and defeat the sharing (the documented trap). */
  def naiveBayesClassifyFeatures(docs: DataFrame, model: DataFrame,
      buckets: Int = 4096, featCol: String = "_nbf"): DataFrame =
    naiveBayesScore(docs, model, buckets, col(featCol), size(col(featCol)) > 0)

  /** Hash grams once, train on the `isTrain` subset, classify the WHOLE
    * corpus from the same persisted features — the split-train/score-all
    * pipeline with the gram-hash pass paid ONCE instead of twice (the
    * DSIR shared-exchange pattern). Output matches
    * train-then-classify exactly; the persisted feature column is
    * dropped from the result.
    *
    * Cache lifetime: the features persist is load-bearing — releasing it
    * before the caller executes the returned plan would force the
    * scoring scan to re-hash, defeating the sharing — so it lives until
    * the NEXT call here releases it (one corpus-sized cache at most,
    * regardless of call count; a caller wanting it gone sooner can
    * `spark.sharedState.cacheManager.clearCache()` after consuming the
    * result).
    *
    * Memory contract: the cache is corpus-sized (text + feature arrays)
    * and canNOT degrade gracefully once executors are memory-starved —
    * tasks iterating cached blocks pin them against eviction, so
    * execution memory fails before the cache spills (measured:
    * IoBoundProbe ×1000 at 8g dies with UNABLE_TO_ACQUIRE_MEMORY, where
    * the split [[naiveBayesTrain]]+[[naiveBayesClassify]] form — two
    * scans, hashing twice, no cache — completes; BASELINE.md r12). The
    * choice is therefore SIZE-GATED like the repo's other
    * scale-conditional strategies (`maxBloomDocs`, `PushdownMaxLists`,
    * `PushdownMaxKeys`): with `shareFeatures = None` (the default) the
    * shared-cache form runs only when the estimated cache size —
    * Catalyst's plan-stats estimate of `docs` times
    * [[NbCacheExpansion]] — fits within `spark.graft.nb.cacheFraction`
    * (default 0.5) of the cluster's storage memory
    * (`getExecutorMemoryStatus`); otherwise the split two-scan no-cache
    * form runs (same rows, ~1.5× wall, survives any corpus size).
    * `Some(true)`/`Some(false)` force a path. Both estimate inputs are
    * driver-side plan/conf reads — the gate costs no job.
    *
    * Cache release: the winning shared-path cache stays alive until the
    * next call here (the returned plan must still read it) — callers
    * wanting the storage memory back after consuming the result call
    * [[releaseNbFeatureCache]] (Bench does, so official numbers don't
    * depend on suite cache pressure). */
  def naiveBayesTrainClassify(docs: DataFrame, labelCol: String,
      isTrain: Column, textCol: String = "text",
      buckets: Int = 4096, shareFeatures: Option[Boolean] = None): DataFrame = {
    val share = shareFeatures.getOrElse(nbShareDecision(docs)._1)
    if (!share) {
      val model = naiveBayesTrain(docs.where(isTrain), labelCol, textCol, buckets)
      naiveBayesClassify(docs, model, buckets, textCol)
    } else {
      val featDocs = docs
        .withColumn("_nbf", hashedGramBuckets(col(textCol), buckets))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val prev = lastNbFeatures.getAndSet(featDocs)
      if (prev != null && (prev ne featDocs)) prev.unpersist(blocking = false)
      val model = naiveBayesTrainFeatures(featDocs.where(isTrain), labelCol, "_nbf", buckets)
      naiveBayesClassifyFeatures(featDocs, model, buckets, "_nbf").drop("_nbf")
    }
  }

  /** Deserialized-cache bytes per parquet-estimated input byte,
    * CALIBRATED against the measured failure: the ×1000 corpus (556 MB
    * parquet) could not hold its shared cache inside a 4.7 GiB unified
    * region (UNABLE_TO_ACQUIRE_MEMORY at 8g, r12/r13 IoBoundProbe), so
    * the true text+gram-array+row-overhead expansion is ≥ ~8×; 12×
    * flips that deployment to split with margin. Deliberately
    * conservative — an overestimate costs the split form's ~1.5× wall,
    * an underestimate is a measured JOB FAILURE. */
  private[graft] val NbCacheExpansion = 12.0

  /** The [[naiveBayesTrainClassify]] size gate: (share?, estimated cache
    * bytes, cluster storage-memory bytes). Exposed package-private so
    * probes can report which path the gate picked. */
  private[graft] def nbShareDecision(docs: DataFrame): (Boolean, Long, Long) = {
    val est = (docs.queryExecution.optimizedPlan.stats.sizeInBytes *
      BigInt((NbCacheExpansion * 100).toLong) / 100)
      .min(BigInt(Long.MaxValue)).toLong
    val storage = docs.sparkSession.sparkContext
      .getExecutorMemoryStatus.values.map(_._1).sum
    val frac = docs.sparkSession.conf
      .get("spark.graft.nb.cacheFraction", "0.5").toDouble
    (est <= (storage * frac).toLong, est, storage)
  }

  /** Unpersist [[naiveBayesTrainClassify]]'s feature cache NOW instead of
    * at the next call — for callers done consuming the returned plan
    * (re-executing it afterwards still works; it just re-hashes). */
  def releaseNbFeatureCache(): Unit = {
    val prev = lastNbFeatures.getAndSet(null)
    if (prev != null) prev.unpersist(blocking = false)
  }

  /** One-slot registry bounding [[naiveBayesTrainClassify]]'s feature
    * cache to the latest call (see its scaladoc). */
  private val lastNbFeatures =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  private def naiveBayesScore(docs: DataFrame, model: DataFrame,
      buckets: Int, feats: Column, scoreable: Column): DataFrame = {
    // Per-bucket log-probabilities are precomputed ONCE on the one-row
    // model (labels × buckets doubles) instead of per (document, feature,
    // label) in the scoring scan: ln((c+1)/(tot+B)) over a bucket's count
    // is a constant of the model, and summing the identical doubles in
    // the identical order keeps scores BIT-equal to the inline form while
    // dropping a log() and a division from the per-feature hot loop
    // (measured 3.0 s → 2.3 s at sf0.1, 43.9 s → proportionally at ×100).
    val logModel = model.withColumn("_logps",
      transform(col("_cnts"), (cnts, l) =>
        TextFunctions.bindOnce(element_at(col("_tots"), l + 1) + lit(buckets.toDouble),
          denom => transform(cnts, c => log((c + lit(1.0)) / denom)))))
    // ONE nested let-bound expression: features are hashed once per row,
    // the per-label score array is computed once, and the argmax index is
    // computed once. Materializing these as separate withColumn steps
    // looks equivalent but is the documented lambda-inlining trap: each
    // intermediate is referenced ONCE by its consumer, so CollapseProject
    // merges the Projects and the md5-hashing feature subtree lands
    // INSIDE the per-label transform lambda — re-hashing every gram once
    // per label (measured 11.6 s vs 2.9 s at sf0.1 for 5 labels).
    val result = TextFunctions.bindOnce(
      feats, fs =>
      TextFunctions.bindOnce(
        transform(sequence(lit(1), size(col("_labels"))), l =>
          round(element_at(col("_priors"), l) +
            aggregate(fs, lit(0.0), (acc, b) =>
              acc + element_at(element_at(col("_logps"), l), b.cast("int") + 1)),
            6)), scores =>
        TextFunctions.bindOnce(
          // first index no later index strictly beats = argmax with ties
          // toward the smaller (sorted-ascending) label
          aggregate(sequence(lit(1), size(col("_labels"))), lit(0),
            (best, i) => when(best === 0 ||
                element_at(scores, i) > element_at(scores, best), i)
              .otherwise(best)), best =>
          struct(element_at(col("_labels"), best).as("pred_label"),
            element_at(scores, best).as("log_score")))))
    docs
      .where(scoreable)
      .crossJoin(broadcast(logModel))
      // an empty model (no scoreable training docs → empty _labels) can
      // predict nothing: guard it to an empty result. Unguarded,
      // sequence(1, 0) evaluates as the DESCENDING [1, 0] and the l = 0
      // iteration throws ELEMENT_AT_BY_INDEX_ZERO — a job failure
      .where(size(col("_labels")) > 0)
      .withColumn("_r", result)
      // the struct attribute is referenced TWICE here, which is what
      // stops CollapseProject from re-inlining the expensive producer
      .select(docs.columns.map(col).toSeq ++ Seq(
        col("_r.pred_label").as("pred_label"),
        col("_r.log_score").as("log_score")): _*)
  }

  /** Persist a [[naiveBayesTrain]] model (one parquet row — labels,
    * priors, totals, dense count arrays) so serving jobs classify
    * without retraining: the train-once/serve-many split
    * [[SimilarityIndex]] gives the ANN quantizers. */
  def saveNaiveBayes(model: DataFrame, path: String): Unit =
    model.write.mode("overwrite").parquet(path)

  /** Load a model persisted by [[saveNaiveBayes]] for
    * [[naiveBayesClassify]] / streaming classification. */
  def loadNaiveBayes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path)
}
