package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for LLM training-data pipelines, each designed
  * around a shuffle-efficient Spark plan:
  *
  *  - exact: hash-groupBy on a fingerprint — one shuffle of (hash, id).
  *  - n-gram Jaccard: inverted shingle index generates candidate pairs
  *    (only documents sharing a shingle — never O(N²)); similarity is then
  *    verified per-row with `array_intersect` over the per-document shingle
  *    arrays, so the only shuffles are the candidate join + two id joins.
  *  - MinHash + LSH: signatures and band keys are narrow per-document
  *    array computations (`transform`/`array_min`) — zero shuffles until
  *    the band-bucket self-join; candidates are verified by exact Jaccard.
  *  - SimHash: 60-bit sign-aggregated token fingerprint folded per-row
  *    with `aggregate`/`zip_with` (no explode, no shuffle).
  *
  * All hashing is md5-based (portable, oracle-checkable) with the k MinHash
  * functions derived from ONE hash per shingle via affine transforms
  * h_i(x) = ((2i+1)·x + i·2654435761) mod (2^31−1).
  */
object Dedup {

  /** Exact dedup: one representative (min id) per distinct normalized text. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Per-document distinct shingle array: (id, sh). The base for all
    * shingle-set operators — one narrow pass over the corpus. */
  def shingleSets(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))

  /** Distinct (id, shingle) pairs — the inverted-index form. */
  def shingleIndex(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    shingleSets(docs, textCol, idCol, n)
      .select(col("id"), explode(col("sh")).as("shingle"))

  /** Exact Jaccard over two shingle-array columns. */
  private def jaccard(a: Column, b: Column): Column = {
    val common = size(array_intersect(a, b))
    common.cast("double") / (size(a) + size(b) - common)
  }

  /** Join candidate (id_a, id_b) pairs back to their shingle sets and keep
    * pairs with exact Jaccard >= threshold. */
  private def verifyJaccard(cands: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Exact n-gram Jaccard near-dup pairs with similarity >= threshold.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Shape: the inverted-index self-join emits one row per shared shingle
    * per pair; map-side partial aggregation (groupBy count) collapses that
    * volume BEFORE the shuffle, which beats pair-distinct + array-intersect
    * verification when candidate sets are dense (measured 3×). At warehouse
    * scale, cap join fan-out by dropping shingles above a document-frequency
    * bound (`maxDocFreq`) — a standard recall/cost trade (0 = exact). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      maxDocFreq: Long = 0L): DataFrame = {
    // set sizes ride along as join/grouping keys (functionally dependent on
    // id), so no separate size table and no post-aggregation joins; persist
    // the exploded index feeding both sides of the self-join (at warehouse
    // scale this is a checkpointed intermediate table).
    //
    // MEASURED NEGATIVE (r17; VERDICT r16 #4): replacing the shingle
    // STRING key with the 16-byte 128-bit winKey hash pair — the trade
    // that won for MinHash band keys and the substring census —
    // INCREASED the self-join's shuffle: 21.7 → 23.8 MB written at sf0.1
    // (bench diag), timing neutral-to-worse. Default-n word shingles are
    // short (~20 chars) and HIGHLY compressible (shared vocabulary
    // across rows), while hashes are incompressible and a nested struct
    // costs ~32 B/row in UnsafeRow (offset+size word, 8-byte-aligned
    // payload, its own null bits) vs ~28 B for the string — so the
    // narrower-key lever (guide §2.3) loses post-compression here. The
    // string key stays; hash keys only pay off for LONG slices (the
    // k=8-token census windows) or keys already numeric (winnow's
    // hash60 fingerprints).
    val idx0 = graft.QueryCaches.track(shingleSets(docs, textCol, idCol, n)
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val idx =
      if (maxDocFreq <= 0) idx0
      else {
        val hot = idx0.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .where(col("df") > maxDocFreq).select(col("shingle"))
        idx0.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    // size-ratio prefilter, exact: J(A,B) <= min(sz)/max(sz), so pairs
    // outside the threshold's size ratio are pruned inside the join —
    // before the pair aggregation shuffle — with zero recall loss
    idx.as("a").join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
          col("a.sz") >= col("b.sz") * threshold &&
          col("b.sz") >= col("a.sz") * threshold)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (Bayardo, Ma &
    * Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007): order
    * shingles rarest-first globally (docFreq asc, shingle asc); a doc of
    * size |S| indexes only its first |S| − ⌈t·|S|⌉ + 1 shingles in that
    * order. Any pair with J ≥ t must overlap in ≥ ⌈t·|S|⌉ shingles, so it
    * cannot avoid the prefix — joining PREFIX entries against the FULL
    * index loses no qualifying pair, and candidates are exact-verified on
    * the full sets. ZERO recall loss (unlike the `maxDocFreq` cap), and
    * hot boilerplate shingles — the f² blowup drivers — sit at the END of
    * the frequency order, so they enter a prefix only for docs that have
    * almost nothing else: fan-out per shingle is df_prefix × df_full, not
    * df². Candidate volume shrinks by ~(1−t) per indexed doc on top.
    *
    * Measured trade (sf0.1 + ×100 soak, BASELINE.md): the extra shuffles
    * (docFreq join, per-doc rank window, candidate distinct, two
    * verification joins) cost ~2-3× over [[ngramJaccardPairs]] with a
    * `maxDocFreq` cap on corpora whose candidates are dominated by
    * genuinely-similar pairs — which no exact filter can avoid. Use THIS
    * when zero recall loss is required (dedup decisions feeding training
    * data); use the capped variant when the recall trade is acceptable
    * and latency matters. */
  def ngramJaccardPairsExact(docs: DataFrame, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = graft.QueryCaches.track(shingleSets(docs, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val idx = sets.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("shingle"))
    val freq = idx.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val ranked = idx.join(freq, "shingle")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))))
    val prefix = ranked
      .where(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("sz"), col("shingle"))
    // size-ratio prune inside the join is still exact: J <= min/max size
    val cands = prefix.as("a").join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
          col("a.sz") >= col("b.sz") * threshold &&
          col("b.sz") >= col("a.sz") * threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    verifyJaccard(cands, sets, threshold)
  }

  /** MinHash prime modulus (2^31 - 1, prime). */
  val MinhashP = 2147483647L

  /** Per-document MinHash signature array: (id, sh, sig: array<long>[k]).
    * Entirely narrow — one md5 per shingle, then k affine transforms and
    * array_min per row; no explode, no shuffle. The hash array lives in a
    * projected column referenced k times — multi-referenced non-cheap
    * aliases survive CollapseProject, so it is evaluated once per row
    * (a single lambda-bound reference would be inlined and re-evaluated;
    * see TextFunctions.bindOnce for that case). */
  def minhashSigArrays(docs: DataFrame, k: Int,
      textCol: String, idCol: String, n: Int): DataFrame = {
    val hashed = shingleSets(docs, textCol, idCol, n)
      .withColumn("hs", transform(col("sh"), s => pmod(hash60(s), lit(MinhashP))))
    val sig = array((0 until k).map { i =>
      array_min(transform(col("hs"),
        h => (h * (2 * i + 1) + lit(i * 2654435761L)) % MinhashP))
    }: _*)
    hashed.select(col("id"), col("sh"), sig.as("sig"))
  }

  /** MinHash signatures in exploded (id, seed, minhash) form. */
  def minhashSignatures(docs: DataFrame, k: Int,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3): DataFrame =
    minhashSigArrays(docs, k, textCol, idCol, n)
      .select(col("id"), posexplode(col("sig")).as(Seq("seed", "minhash")))

  /** MinHash-LSH candidate pairs, verified by exact Jaccard.
    * `k` hashes in `bands` bands of k/bands rows; two documents are
    * candidates iff they agree on all rows of at least one band. The
    * signature + band keys are computed per-row; the only shuffles are the
    * bucket self-join and the verification id-joins. */
  /** 128-bit band key over a band's signature slice — two independent
    * XXH64 passes (salt-first on the second, the [[winKey]] scheme),
    * replacing a comma-joined decimal string: the self-join's shuffle
    * key drops from ~40-80 variable bytes to 16 fixed, with no string
    * rendering per (doc, band). Result-safe by construction: slice
    * equality ⇒ key equality (no lost candidates), and a hash collision
    * only ADDS a candidate pair that the exact-Jaccard verification
    * filters — expected extra-surviving-pair count is ~K²/2^128 over K
    * distinct band keys, the repo's accepted winKey trade. */
  private def bandKey(cols: Seq[Column]): Column =
    struct(xxhash64(cols: _*).as("h1"), xxhash64((lit(1L) +: cols): _*).as("h2"))

  def minhashLshPairs(docs: DataFrame, threshold: Double, k: Int = 16, bands: Int = 4,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    val sig = graft.QueryCaches.track(minhashSigArrays(docs, k, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bandKeyArr = array((0 until bands).map { b =>
      bandKey((0 until rows).map(r => col("sig")(b * rows + r)))
    }: _*)
    val bandKeys = sig.select(col("id"),
      posexplode(bandKeyArr).as(Seq("band", "band_key")))
    val cands = bandKeys.as("a").join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(cands, sig.select(col("id"), col("sh")), threshold)
  }

  /** MinHash-LSH candidate pairs BETWEEN a new-document slice and the
    * full corpus (`allDocs` must contain `newDocs`) — the incremental
    * face of [[minhashLshPairs]]: over any partition of a corpus into
    * arrival batches, the union of per-batch `between(new, allSoFar)`
    * pairs equals the one-shot self-join pair set, because every pair is
    * discovered exactly when its LATER document arrives (same-batch
    * pairs collapse via least/greatest + distinct). The join touches
    * only the new docs' band keys, so per-batch cost is proportional to
    * the batch, not the corpus.
    *
    * EAGER: the corpus signature table is cached for the duration of the
    * call (it feeds both the band join and the Jaccard verify) and
    * unpersisted before returning — callers like [[DedupStream]] invoke
    * this once per micro-batch, and a lazily-leaked cache of the
    * ever-growing corpus would accumulate for the stream's lifetime. The
    * returned pairs are locally checkpointed (they are tiny — pairs, not
    * documents), so they stay valid after the cache is dropped. */
  def minhashLshPairsBetween(newDocs: DataFrame, allDocs: DataFrame,
      threshold: Double, k: Int = 16, bands: Int = 4,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    def bandKeysOf(sig: DataFrame) = {
      // same 128-bit [[bandKey]] as the one-shot self-join (exact-verified
      // downstream, so the hashing is result-safe there too)
      val bandKeyArr = array((0 until bands).map { b =>
        bandKey((0 until rows).map(r => col("sig")(b * rows + r)))
      }: _*)
      sig.select(col("id"), posexplode(bandKeyArr).as(Seq("band", "band_key")))
    }
    val sigAll = minhashSigArrays(allDocs, k, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigNew = minhashSigArrays(newDocs, k, textCol, idCol, n)
    val cands = bandKeysOf(sigNew).as("a").join(bandKeysOf(sigAll).as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val verified = verifyJaccard(cands, sigAll.select(col("id"), col("sh")), threshold)
      .localCheckpoint(true)
    sigAll.unpersist()
    verified
  }

  /** Winnowing-overlap near-dup pairs (MOSS-style): documents sharing at
    * least `minShared` winnowing fingerprints (TextFunctions
    * .winnowFingerprints) are reported with their shared-fingerprint count.
    * Fingerprint sets are ~1/w the size of shingle sets, so the inverted
    * index and its self-join are proportionally cheaper than n-gram
    * Jaccard at the same recall target for long shared passages.
    *
    * `maxDocFreq` (0 = exact) drops fingerprints shared by more than that
    * many documents before the self-join — the boilerplate cap. Without
    * it a fingerprint appearing in f docs emits f²/2 join rows; corpus
    * boilerplate (headers, license text, common k-grams) makes f grow
    * WITH the corpus and the join quadratic — the r6 scale soak measured
    * exponent 1.3 at 30× uncapped, ~1 capped. Same trade and shape as
    * [[ngramJaccardPairs]]'s cap; MOSS drops over-common fingerprints for
    * the same reason (Schleimer et al. 2003 §5 "too common" culling). */
  def winnowOverlapPairs(docs: DataFrame, minShared: Long, k: Int = 5, w: Int = 4,
      textCol: String = "text", idCol: String = "doc_id",
      maxDocFreq: Long = 0L): DataFrame = {
    val idx0 = graft.QueryCaches.track(docs.select(col(idCol).as("id"),
        explode(winnowFingerprints(col(textCol), k, w)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val idx =
      if (maxDocFreq <= 0) idx0
      else {
        val hot = idx0.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .where(col("df") > maxDocFreq).select(col("fp"))
        idx0.join(broadcast(hot), Seq("fp"), "left_anti")
      }
    idx.as("a").join(idx.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found by
    * Hamming-LSH banding: the 60-bit signature splits into `bands` equal
    * slices used as equi-join keys; by pigeonhole, any pair within
    * `bands - 1` bit flips agrees on at least one whole band, so recall is
    * EXACT for maxHamming <= bands - 1. Candidates verify with
    * bit_count(xor) — pure integer ops, so the DuckDB oracle matches
    * bit-for-bit. The join is an equi-join on (band, slice): linear in N
    * plus true-collision volume, never O(N²).
    *
    * `maxBucket` (0 = exact) drops (band, slice) buckets holding more
    * than that many documents — near-identical boilerplate documents
    * all land the same band values, and an f-doc bucket emits f²/2
    * candidates (r6 scale soak: superlinear at 30× uncapped). With the
    * cap, the pigeonhole recall guarantee becomes conditional: a
    * qualifying pair is missed only if EVERY band the two documents
    * agree on is hot — i.e. both docs sit inside a >maxBucket
    * boilerplate cluster, exactly the rows a dedup pipeline resolves by
    * exact-hash grouping instead. */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int, bands: Int = 6,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Long = 0L): DataFrame = {
    require(60 % bands == 0, "bands must divide 60")
    require(maxHamming <= bands - 1,
      s"banding with $bands bands only guarantees recall to hamming ${bands - 1}")
    val bandBits = 60 / bands
    val mask = (1L << bandBits) - 1
    val sig = graft.QueryCaches.track(simhash(docs, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val slices = array((0 until bands).map { b =>
      call_function("shiftright", col("simhash"), lit(b * bandBits)).bitwiseAND(lit(mask))
    }: _*)
    val bandKeys0 = sig.select(col("id"), col("simhash"),
      posexplode(slices).as(Seq("band", "bkey")))
    val bandKeys =
      if (maxBucket <= 0) bandKeys0
      else {
        val hot = bandKeys0.groupBy(col("band"), col("bkey"))
          .agg(count(lit(1)).as("df"))
          .where(col("df") > maxBucket).select(col("band"), col("bkey"))
        bandKeys0.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
      }
    bandKeys.as("a").join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("_ha"), col("b.simhash").as("_hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Corpus-level exact line/paragraph dedup (the RefinedWeb / CCNet
    * scrub): split every document on `sepRegex`, keep only the globally
    * FIRST occurrence of each distinct line — first meaning smallest
    * (id, line_no), so a rerun is reproducible — and reassemble each
    * document from its surviving lines in original order.
    *
    * Returns (id, n_lines, n_kept, text) where `text` joins the kept
    * lines with `joinSep` ("" when every line of a document was a
    * duplicate of an earlier one).
    *
    * Scale shape: the split/explode is narrow; ONE shuffle ranks
    * occurrences per line fingerprint (window partitioned by md5(line) —
    * high-cardinality key, no skew concern); ONE shuffle groups the
    * survivors back per document. Cross-document pairs are never
    * materialized, so cost is linear in total line count. */
  def lineDedup(docs: DataFrame, sepRegex: String = "\n", joinSep: String = "\n",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = docs
      .select(col(idCol).as("id"), posexplode(split(col(textCol), sepRegex)))
      .withColumnRenamed("pos", "line_no")
      .withColumnRenamed("col", "line")
      .withColumn("fp", md5(col("line")))
    val firstWins = Window.partitionBy(col("fp")).orderBy(col("id"), col("line_no"))
    lines
      .withColumn("rn", row_number().over(firstWins))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls from non-survivors; struct sort
        // orders by line_no (first field), restoring document order
        array_join(
          transform(
            array_sort(collect_list(
              when(col("rn") === 1, struct(col("line_no"), col("line"))))),
            x => x("line")),
          joinSep).as("text"))
  }

  /** Exact duplicated-substring detection (Lee et al. 2021, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better"): any run of
    * k consecutive tokens whose exact text occurs more than once in the
    * corpus — across documents OR repeated within one — is duplicated text.
    * Returns per-document (id, n_windows, n_dup_windows, dup_ratio): how
    * many of the document's k-token windows are corpus-duplicated, the
    * standard "verbatim memorization risk" signal used to drive substring
    * removal. Documents shorter than k tokens have zero windows and a NULL
    * ratio.
    *
    * Scale shape (the suffix-array of the paper replaced by its
    * equivalent fixed-k window-hash formulation, which distributes): window
    * hashes are a narrow per-row `transform` (no quadratic substr — one
    * token-array slice per window); ONE shuffle counts occurrences per
    * 128-bit window hash with map-side partial aggregation (high-cardinality
    * key, no skew); duplicated hashes — a small fraction of any real corpus
    * — equi-join back to the window index, and ONE shuffle re-aggregates
    * per document. Everything is linear in total token count; nothing is
    * ever pairwise. */
  /** The census window keys are the compiled
    * [[graft.functions.WindowHashes]] expression (r17): one codegen'd
    * pass per document emitting (i, h1, h2) per k-token window. The r16
    * higher-order-function form (`transform(sequence(...), i ->
    * xxhash64(slice(w, i, k)))`) was CodegenFallback — every window paid
    * an interpreted expression-tree walk and re-hashed each token's
    * bytes once per covering window; the ×300 stage diag attributed 59%
    * of dedup_substring_remove's wall clock to that map stage. The key
    * pair is FLAT (two bigint columns, not a struct): ~16 B of key per
    * census row through every downstream exchange instead of a pointered
    * struct (the ngram measurement above shows why that matters). */
  private def windowCensusOf(docs: DataFrame, k: Int,
      textCol: String, idCol: String, outer: Boolean): DataFrame = {
    val ws = graft.functions.WindowHashes(tokens(col(textCol)), k)
    val exploded =
      if (outer) explode_outer(ws) else explode(ws)
    docs.select(col(idCol).as("id"), exploded.as("x"))
      .select(col("id"), col("x.i").as("i"),
        col("x.h1").as("h1"), col("x.h2").as("h2"))
  }

  private val CensusPartitionBytes = 32L << 20

  /** Scale-adaptive partition count for the census window exchange of the
    * substring-removal family (guide §2.2 / §5; r17 — VERDICT r16 #1).
    * The `count(*) over (partition by h)` census sorts the ENTIRE window
    * census by h; with a fixed shuffle-partition count each task's sort
    * state grows linearly with the corpus, and the ×300 soak measured a
    * memory band (spill thrash, exponent 1.57) once per-task census
    * slices outgrew execution memory. Derive the exchange width from the
    * corpus plan's size estimate instead: one ~56-byte unsafe (id, i, h)
    * row per ~6-char token over ~2.5×-compressed parquet ≈ 20× the scan
    * bytes, targeted at [[CensusPartitionBytes]] (32 MiB) per task.
    * Returns None (leave the session default) whenever the estimate does
    * not EXCEED the session's shuffle partitions — at bench
    * SF the plan is bit-identical to r16 — and caps at 4096 so a
    * mis-estimate cannot explode the task count. */
  private def censusPartitions(docs: DataFrame): Option[Int] = {
    val scanBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val est = scanBytes * 20 / CensusPartitionBytes
    val cur = docs.sparkSession.sessionState.conf.numShufflePartitions
    if (est <= cur) None else Some(est.min(BigInt(4096)).toInt)
  }

  /** Caller-owned window-hash census — the shared intermediate of the
    * substring family (r17; VERDICT r16 #3): one (id, i, h1, h2) row per
    * k-token window (i = 1-based start, h1/h2 = the 128-bit key pair),
    * plus one (id, null, null, null) row per zero-window document so
    * short/null-text docs stay representable. [[substringDupStats]],
    * [[substringDupRemove]] and [[substringDupRemoveSpans]] all accept it
    * via their `census` parameter: a pipeline running several family
    * members over one corpus builds (and typically persists +
    * QueryCaches-tracks) the census ONCE instead of paying the scan +
    * tokenize + window build per operator — the serving-index train-once
    * pattern. Callers own the persist/release lifecycle, exactly like
    * [[SimilarityIndex]] handles. */
  def substringCensus(docs: DataFrame, k: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    windowCensusOf(docs, k, textCol, idCol, outer = true)

  def substringDupStats(docs: DataFrame, k: Int = 8,
      textCol: String = "text", idCol: String = "doc_id",
      census: Option[DataFrame] = None): DataFrame = {
    // explode_outer keeps zero-window docs (short or null text) in the
    // flow as a single null-key row, so no second scan of `docs` is
    // needed for the per-doc window count. A caller-owned census (see
    // [[substringCensus]]) substitutes for the whole scan + tokenize +
    // window build; its null-key marker rows are exactly this path's
    // explode_outer rows.
    val occ = census.map(_.select(col("id"), col("h1"), col("h2")))
      .getOrElse(windowCensusOf(docs, k, textCol, idCol, outer = true)
        .select(col("id"), col("h1"), col("h2")))
    // Occurrences counted WITH multiplicity: a window repeated inside one
    // document is duplicated text too (the paper's within-doc case).
    //
    // The (id, h) pre-aggregation is load-bearing for single-pass
    // execution: both downstream consumers (the global census and the
    // per-doc rollup) read the SAME shuffled subtree, so AQE serves the
    // second one from a ReusedExchange — the scan + tokenize + window
    // build runs once, not twice. It is also the skew guard: the census
    // exchange moves one row per (doc, hash), never one per occurrence,
    // so a boilerplate window repeated across millions of docs costs its
    // hot reducer one row per doc with partial counts already folded.
    val perDocHash = occ.groupBy(col("id"), col("h1"), col("h2"))
      .agg(count(col("h1")).as("c")) // count(h1): the null-key row folds to c=0
    val dupTotals = perDocHash.groupBy(col("h1"), col("h2"))
      .agg(sum(col("c")).as("tot")).where(col("h1").isNotNull && col("tot") > 1)
      .select(col("h1"), col("h2"), lit(1).as("dup"))
    perDocHash.join(dupTotals, Seq("h1", "h2"), "left")
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_windows"),
        coalesce(sum(when(col("dup") === 1, col("c"))), lit(0L)).as("n_dup_windows"))
      .select(col("id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows").cast("double") /
          nullif(col("n_windows"), lit(0L))).as("dup_ratio"))
  }

  /** Exact duplicated-substring REMOVAL (the full Lee et al. 2021
    * semantics): every token covered by ANY corpus-duplicated k-token
    * window is excised from the document; the survivors are re-joined in
    * order. Returns (id, n_tokens, n_removed, text_clean) — `text_clean`
    * is the whitespace-normalized document with duplicated spans cut out
    * (empty string when everything was duplicated).
    *
    * Scale shape: same linear window-hash census as [[substringDupStats]];
    * covered positions explode only the DUPLICATED windows (k rows each —
    * a constant factor on the duplicated fraction, not the corpus), and
    * the per-document covered-set is a bounded array (<= token count).
    * The rebuild is a narrow `filter` over the token array — no second
    * pass over text. */
  /** Rebuild the cleaned text from the token array `w` and the SORTED
    * DISJOINT covered-span array `spans` (struct<s,e>, 1-based inclusive
    * token positions; null = nothing covered) by slicing the segments
    * between spans and flattening — O(n + |spans|) per document, no
    * per-token membership test. (The r10 form filtered per token with
    * `array_contains`; the r16 form carried every covered POSITION —
    * k rows per duplicated window through the shuffle and one array cell
    * each in the per-doc aggregate. Spans carry one row per contiguous
    * covered region instead; see [[mergedSpans]].) */
  private def rebuildClean(w: Column, spans: Column): Column =
    when(spans.isNull, array_join(w, " "))
      .otherwise(bindOnce(spans, sp =>
        array_join(flatten(transform(sequence(lit(0), size(sp)), j =>
          bindOnce(
            when(j === 0, lit(0)).otherwise(element_at(sp, j)("e")), from =>
              slice(w, from + 1,
                when(j === size(sp), size(w) + 1)
                  .otherwise(element_at(sp, j + 1)("s")) - from - 1)))),
          " ")))

  /** Total covered-token count of a sorted DISJOINT span array (0 when
    * null). */
  private def spanCoverage(spans: Column): Column =
    coalesce(aggregate(spans, lit(0L),
      (acc, x) => acc + (x("e") - x("s") + 1)), lit(0L))

  /** Merge per-document OVERLAPPING token intervals (id, s, e) and
    * collect them sorted: (id, spans: array<struct<s,e>>). Gaps-and-
    * islands by running max end — one exchange by id, per-doc-bounded
    * window work, and the per-doc aggregate holds one struct per
    * contiguous covered REGION. The r16 form exploded every covered
    * position (k rows per duplicated window) into a collect_set whose
    * object-hash aggregation fell back to sort-based past 128 keys per
    * partition and spilled ~4 GB per executed pass at ×300 (stage diag);
    * interval rows are ~k× fewer going in and ~spans-per-doc coming
    * out. Intervals that merely touch (s == prev e + 1) stay separate —
    * they are disjoint, so coverage counting and segment slicing remain
    * exact (a zero-length gap slice contributes nothing). */
  private def mergedSpans(intervals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("id")).orderBy(col("s"), col("e"))
    val prev = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    intervals
      .withColumn("pmax", max(col("e")).over(prev))
      .withColumn("nw",
        when(col("pmax").isNull || col("s") > col("pmax"), 1).otherwise(0))
      .withColumn("isl", sum(col("nw")).over(byDoc))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("cov"))
  }

  def substringDupRemove(docs: DataFrame, k: Int = 8,
      textCol: String = "text", idCol: String = "doc_id",
      census: Option[DataFrame] = None): DataFrame = {
    // A caller-owned census substitutes for the build; dropping its
    // null-key marker rows (zero-window docs) restores this path's
    // plain-explode row set exactly.
    val wins = census.map(_.where(col("h1").isNotNull)).getOrElse(
      windowCensusOf(docs, k, textCol, idCol, outer = false))
    // The census is a count-over-window by h, NOT a groupBy + self-join:
    // a join would evaluate the scan + window build once per side (column
    // pruning specializes the two subtrees, so the exchange cannot be
    // reused), while the window computes occurrence counts in the same
    // single pass that carries the positions — one scan, one exchange.
    // The exchange feeding it is scale-adaptively sized (censusPartitions)
    // so per-task sort state stays bounded as the corpus grows.
    val byH = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h1"), col("h2"))
    val covered = mergedSpans(censusPartitions(docs)
      .map(n => wins.repartition(n, col("h1"), col("h2")))
      .getOrElse(wins)
      .withColumn("cnt", count(lit(1)).over(byH))
      .where(col("cnt") > 1)
      .select(col("id"), col("i").as("s"), (col("i") + (k - 1)).as("e")))
    rebuildJoin(docs, covered, textCol, idCol)
  }

  /** The rebuild join, shared by [[substringDupRemove]] and
    * [[substringDupRemoveSpans]]: attach the per-doc covered-position
    * sets to the corpus and re-emit the cleaned text. The join shuffles
    * the raw TEXT and tokenizes AFTER the join (r17; guide §2.3/§8 —
    * move the lightweight form through the exchange, not the payload):
    * the token-ARRAY form of the corpus measured ~2.6× the text bytes
    * through the exchange + SMJ sort (x300 stage diag: 1.78 GB exchanged,
    * ~9 GB spilled across the two join stages), while tokenize is a
    * narrow per-row op the post-join projection pays once — `w` is a
    * multi-referenced non-cheap alias, so it survives CollapseProject
    * and is evaluated once per row. */
  private def rebuildJoin(docs: DataFrame, covered: DataFrame,
      textCol: String, idCol: String): DataFrame =
    // (A SHUFFLE_HASH hint on the covered side was measured-and-reverted
    // here: ×300 stage diag showed the join stages' ~4 GB spill belongs
    // to the collect_set aggregation feeding `covered`, not the SMJ
    // sorts, and the hash build was net slower — 93.6 s vs 78.8 s.)
    docs.select(col(idCol).as("id"), col(textCol).as("_text"))
      .join(covered, Seq("id"), "left")
      .select(col("id"), tokens(col("_text")).as("w"), col("cov"))
      .select(col("id"),
        size(col("w")).cast("long").as("n_tokens"),
        spanCoverage(col("cov")).as("n_removed"),
        rebuildClean(col("w"), col("cov")).as("text_clean"))

  /** Duplicated-substring removal at the paper's LENGTH THRESHOLD —
    * the semantics Lee et al. 2021 actually run with their suffix array
    * (remove duplicated substrings of >= `minLen` tokens), approximated
    * distributively by CHAINED-WINDOW STITCHING: a span is excised only
    * when it is covered by a maximal run of CONSECUTIVE corpus-duplicated
    * k-windows at least `minLen` tokens long. A genuinely duplicated
    * span of m >= minLen tokens makes all its m−k+1 window starts
    * duplicated and consecutive, so it is always fully excised (no
    * false negatives vs the suffix-array form); an isolated duplicated
    * k-gram spans only k < minLen tokens and survives — the
    * over-removal [[substringDupRemove]]'s fixed-k form pays is gone.
    * The one approximation left in the DEFAULT mode is the chimera case:
    * consecutive windows each duplicated AGAINST DIFFERENT sources stitch
    * into one run and may remove a composite span no single source
    * duplicates — the conservative (over-removal) direction for a
    * training-data cleaner. `strict = true` closes it: a run is excised
    * only when some single (document, offset) other than the run itself
    * carries the SAME window chain contiguously — every start in [s..e]
    * aligns to the partner at one constant offset. The verification is
    * an equi-join of the runs' window starts back to the census keyed on
    * the window hash, grouped by candidate (partner, offset) and kept on
    * a full-length chain count; its fan-out is one row per (run window ×
    * other occurrence), so corpus-boilerplate windows repeated across f
    * documents cost f rows per run start — audit-grade cleaning pays a
    * bounded multiple of the census where the default pays none.
    *
    * Scale shape: identical single-pass census as
    * [[substringDupRemove]]; the stitching adds one window partitioned
    * BY DOCUMENT (gaps-and-islands over duplicated start positions —
    * bounded by tokens per doc, never global) and the span filter drops
    * short runs before any position explode, so the explode cost is
    * bounded by genuinely-long duplication, typically far below the
    * fixed-k coverage. Returns (id, n_tokens, n_removed, text_clean). */
  def substringDupRemoveSpans(docs: DataFrame, k: Int = 8, minLen: Int = 20,
      textCol: String = "text", idCol: String = "doc_id",
      strict: Boolean = false,
      census: Option[DataFrame] = None): DataFrame = {
    require(minLen >= k, s"minLen=$minLen must be >= k=$k")
    // same compiled window build as substringDupRemove, the same
    // count-over-window census with the same scale-adaptive exchange
    // sizing, and the same caller-owned census substitution
    val wins = census.map(_.where(col("h1").isNotNull)).getOrElse(
      windowCensusOf(docs, k, textCol, idCol, outer = false))
    val byH = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h1"), col("h2"))
    val dupStarts = censusPartitions(docs)
      .map(n => wins.repartition(n, col("h1"), col("h2")))
      .getOrElse(wins)
      .withColumn("cnt", count(lit(1)).over(byH))
      .where(col("cnt") > 1)
      .select(col("id"), col("i"))
    // gaps-and-islands per doc: consecutive duplicated starts share
    // (i - row_number); a run [s..e] covers tokens [s, e+k-1], i.e. a
    // span of e-s+k tokens
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("i"))
    val runs0 = dupStarts
      .withColumn("island", col("i") - row_number().over(byDoc))
      .groupBy(col("id"), col("island"))
      .agg(min(col("i")).as("s"), max(col("i")).as("e"))
      .where(col("e") - col("s") + k >= minLen)
    val runs =
      if (!strict) runs0
      else {
        // single-source verification (see the header): the run's window
        // starts join back to the census on the window hash; a candidate
        // (partner, offset) survives only with a FULL-length chain —
        // n matches == run length — and the run's own alignment
        // (pid == id, off == 0) is excluded
        val runStarts = runs0
          .select(col("id"), col("s"), col("e"),
            explode(sequence(col("s"), col("e"))).as("i"))
          .join(wins, Seq("id", "i"))
        runStarts
          .join(wins.select(col("id").as("pid"), col("i").as("j"),
              col("h1"), col("h2")),
            Seq("h1", "h2"))
          .where(!(col("pid") === col("id") && col("j") === col("i")))
          .groupBy(col("id"), col("s"), col("e"), col("pid"),
            (col("j") - col("i")).as("off"))
          .agg(count(lit(1)).as("n"))
          .where(col("n") === col("e") - col("s") + 1)
          .select(col("id"), col("s"), col("e")).distinct()
      }
    // run [s..e] in START space covers tokens [s, e+k-1]; such intervals
    // from different runs can overlap (k-extension), so merge before the
    // rebuild
    val covered = mergedSpans(
      runs.select(col("id"), col("s"), (col("e") + (k - 1)).as("e")))
    rebuildJoin(docs, covered, textCol, idCol)
  }

  /** SimHash (60-bit): per bit position, sum +1/-1 over distinct token
    * hashes; the sign of each sum sets the bit. Folded per-row over the
    * token-hash array (no explode). Returns (id, simhash). */
  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val bits = sequence(lit(0), lit(59))
    val hs = transform(array_distinct(tokens(col(textCol))), t => hash60(t))
    // bitSums[b] = sum over token hashes of (bit b set ? +1 : -1)
    val bitSums = aggregate(hs, array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, bits,
        (a, b) => a + when(call_function("shiftright", h, b.cast("int")) % 2 === 1, 1L)
          .otherwise(-1L)))
    val sig = aggregate(zip_with(bitSums, bits,
        (s, b) => when(s > 0, call_function("shiftleft", lit(1L), b.cast("int")))
          .otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    docs.select(col(idCol).as("id"), sig.as("simhash"))
  }

  /** Connected components over a near-dup pair graph (numeric ids) — the
    * cluster-resolution step production dedup pipelines run after pair
    * generation, before keeping ONE representative per component.
    *
    * Distributed min-label propagation with pointer jumping: each round
    * every node takes the minimum label over itself, its neighbors'
    * labels, AND its label's label (shortcutting) — so convergence is
    * O(log diameter) rounds, not O(diameter); a 40-node chain closes in
    * ~6 rounds. Labels only decrease, so the exact decimal sum of labels
    * is a one-scalar convergence witness per round. Lineage is truncated
    * every round (localCheckpoint), keeping the plan flat regardless of
    * round count; each round is a constant number of shuffles on
    * (node, label) rows — never materializing anything larger than the
    * edge list. Returns (id, component) with component = min reachable
    * id. */
  /** Below this many distinct (undirected) pairs the component graph is
    * resolved by a driver-side union-find instead of iterative label
    * propagation. Pair graphs are edges-not-documents small (a corpus
    * with a 1% near-dup rate has ~N/100 pairs), so even very large
    * corpora usually land under it; 2M pairs ≈ 32 MB on the driver,
    * while EVERY propagation round costs two shuffles plus a
    * materialization — a small graph pays seconds of fixed cost for
    * work a local pass does in milliseconds. The same size-gated
    * short-circuit GraphX/GraphFrames connected components apply. */
  val LocalComponentsMaxPairs: Long = 2000000L

  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 50,
      localMaxPairs: Long = LocalComponentsMaxPairs): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val fwd = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = fwd.count()
    if (nPairs <= localMaxPairs) {
      // small graph: collect the PAIRS (never the documents), union-find
      // locally, return the (id, min-reachable-id) table. Identical
      // output to the distributed propagation; the distributed path
      // remains the >2M-pair scale route.
      val rows = fwd.collect()
      fwd.unpersist()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      rows.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        union(a, b)
      }
      val out = parent.keys.toArray.map(id => (id, find(id)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return out.toSeq.toDF("id", "component")
    }
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    // sum() over zero rows is SQL NULL: an empty pair set (no near-dups —
    // a legal, common corpus) must converge immediately, not NPE.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prev = labelSum(labels)
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val neighMin = edges
        .join(labels.select(col("id").as("src"), col("component").as("lbl")), "src")
        .groupBy(col("dst").as("id")).agg(min(col("lbl")).as("nmin"))
      val stepped = labels.join(neighMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
      // pointer jumping: also adopt the label of my label
      val next = stepped
        .join(stepped.select(col("id").as("component"), col("component").as("jmp")),
          Seq("component"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("jmp"), col("component"))).as("component"))
        .localCheckpoint(true)
      val s = labelSum(next)
      done = s.compareTo(prev) == 0
      prev = s
      // `next` is materialized (eager checkpoint), so the PREVIOUS
      // round's checkpoint blocks are dead — release them now instead
      // of leaking one label table per round until a driver GC
      org.apache.spark.sql.graftbridge.Bridge.dropLocalCheckpoint(labels)
      labels = next
      i += 1
    }
    edges.unpersist()
    fwd.unpersist()
    labels
  }

  /** Keep one representative (the min id) per near-dup component: every
    * doc whose component label differs from its own id is dropped; docs
    * that never appear in a pair pass through untouched. The standard
    * post-pair-generation step for MinHash-LSH / SimHash dedup at corpus
    * scale. */
  def resolveNearDups(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol)
      .where(col("id") =!= col("component"))
      .select(col("id").as("_drop_id"))
    docs.join(drop, docs(idCol).cast("long") === col("_drop_id"), "left_anti")
  }

  /** Near-dup resolution keeping the BEST document of each duplicate
    * cluster by an arbitrary priority expression (highest quality score,
    * longest text, freshest crawl — instead of [[resolveNearDups]]'s
    * min-id policy). Ties break on lowest id, so the result is
    * deterministic for any priority column.
    *
    * Scale shape: components come from the pointer-jumping label
    * propagation (O(log diameter) rounds over the PAIR GRAPH only);
    * picking the winner is one per-component max_by aggregation over the
    * docs that appear in any pair — the untouched (pair-free) bulk of the
    * corpus never shuffles, it passes through an anti-join against the
    * losers. */
  def resolveNearDupsBy(docs: DataFrame, pairs: DataFrame, priority: Column,
      idCol: String = "doc_id", aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol) // (id, component)
    val member = docs.select(col(idCol).cast("long").as("_m_id"), priority.as("_prio"))
      .join(comp, col("_m_id") === col("id"))
    // lexicographic struct max = (highest priority, then lowest id)
    val winners = member.groupBy(col("component"))
      .agg(max(struct(col("_prio"), (-col("_m_id")).as("_neg_id"))).as("_w"))
      .select(col("component"), (-col("_w").getField("_neg_id")).as("_keep_id"))
    val losers = member.join(winners, "component")
      .where(col("_m_id") =!= col("_keep_id"))
      .select(col("_m_id").as("_drop_id"))
    docs.join(losers, docs(idCol).cast("long") === col("_drop_id"), "left_anti")
  }

  /** Incremental exact dedup: the rows of `incoming` whose (normalized)
    * text does NOT already exist in `existing` — the daily-ingest shape of
    * exact dedup, where the historical corpus is orders of magnitude
    * larger than the batch.
    *
    * Scale design: a Bloom filter over the EXISTING fingerprints
    * (built distributed via `DataFrameStatFunctions.bloomFilter`, the same
    * 1-byte-per-4-entries trade the reference makes for its per-PTable
    * blooms — PTable.cs:73-83) is broadcast to the batch scan.
    * Bloom-negative rows are provably new and never shuffle; only
    * bloom-positive rows (true dups + fpp false positives) pay the exact
    * anti-join against the fingerprint set. At 100 TB this turns
    * "anti-join the batch against a petabyte corpus" into "broadcast ~1
    * byte/doc + anti-join a few percent of the batch". The result is
    * EXACT for any fpp: false positives are re-checked, false negatives
    * are impossible.
    *
    * The bloom only pays for itself while it fits the driver and the
    * executors: at fpp=0.03 it costs ~0.63 bytes per existing doc, so
    * 10¹⁰ docs would be a ~6 GB broadcast — an OOM, built silently.
    * Past `maxBloomDocs` (default 10⁹ ≈ 630 MB) the op therefore falls
    * back to the plain distributed anti-join on the fingerprint — the
    * shuffle the bloom exists to avoid, but the only exact shape that
    * needs no driver-side structure. Both paths return identical rows. */
  def incrementalNew(existing: DataFrame, incoming: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      fpp: Double = 0.03, maxBloomDocs: Long = 1000000000L): DataFrame = {
    val exFp = existing.select(fingerprint(col(textCol)).as("fp"))
    val nExisting = exFp.count()
    if (nExisting > maxBloomDocs) {
      incoming.withColumn("fp", fingerprint(col(textCol)))
        .join(exFp.distinct(), Seq("fp"), "left_anti")
        .drop("fp")
    } else {
      val bloom = exFp.stat.bloomFilter("fp", math.max(nExisting, 64L), fpp)
      val bc = incoming.sparkSession.sparkContext.broadcast(bloom)
      val mightContain = udf((fp: String) => bc.value.mightContainString(fp))
      val inFp = incoming
        .withColumn("fp", fingerprint(col(textCol)))
        .withColumn("might", mightContain(col("fp")))
      val definitelyNew = inFp.where(!col("might"))
      val verifiedNew = inFp.where(col("might"))
        .join(exFp.distinct(), Seq("fp"), "left_anti")
      definitelyNew.unionByName(verifiedNew).drop("fp", "might")
    }
  }
}
