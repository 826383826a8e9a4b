package graft

import org.apache.spark.sql.functions._
import graft.analytics.{Dedup, Similarity}
import graft.functions.TextFunctions

/** Dedup + similarity + text analysis over planted corpora. */
class AnalyticsSpec extends SparkTestBase {

  private lazy val docs = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog near the river bank now"),   // near dup of 1
      (4L, "completely different content about spark query engines and columnar execution plans"),
      (5L, "short text only")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs).where(col("n_copies") > 1).collect()
    assert(d.length == 1 && d(0).getAs[Long]("rep_id") == 1L && d(0).getAs[Long]("n_copies") == 2L)
  }

  test("ngram Jaccard finds exact+near dups, not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("prefix-filtered ngram pairs == uncapped inverted-index pairs (exact, zero recall loss)") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val base = canon(Dedup.ngramJaccardPairs(docs, t))
      val pref = canon(Dedup.ngramJaccardPairsExact(docs, t))
      assert(pref == base, s"threshold $t diverged")
    }
    // and on a corpus with a hot boilerplate shingle shared by all docs
    val s = spark; import s.implicits._
    val boiler = (1L to 30L).map(i =>
      (i, s"subscribe to our newsletter for updates item$i thing${i % 3} extra${i % 5} blah${i % 7}"))
      .toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8)) {
      assert(canon(Dedup.ngramJaccardPairsExact(boiler, t)) ==
        canon(Dedup.ngramJaccardPairs(boiler, t)), s"boiler threshold $t diverged")
    }
  }

  test("incrementalNew bloom-size gate: past maxBloomDocs the op falls back " +
    "to the plain anti-join — same rows, no driver-built bloom in the plan") {
    val s = spark; import s.implicits._
    val existing = (0L until 40L).map(i => (i, s"historical doc number $i body"))
      .toDF("doc_id", "text")
    val incoming = ((100L until 110L).map(i => (i, s"fresh doc $i")) ++
      (0L until 5L).map(i => (1000L + i, s"historical doc number $i body")))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val viaBloom = Dedup.incrementalNew(existing, incoming)
    val viaAnti = Dedup.incrementalNew(existing, incoming, maxBloomDocs = 0L)
    assert(ids(viaBloom) == (100L until 110L).toSet)
    assert(ids(viaAnti) == ids(viaBloom), "fallback must return identical rows")
    // the trigger is real: only the bloom path carries the mightContain
    // UDF (asserted on the ANALYZED plan — ConvertToLocalRelation folds
    // the filter into a LocalTableScan for these in-memory inputs)
    assert(viaBloom.queryExecution.analyzed.toString.contains("UDF"))
    assert(!viaAnti.queryExecution.analyzed.toString.contains("UDF"),
      "past the gate no bloom (and no UDF filter) may be built")
  }

  test("LSH auto-sizing: planes grow with corpus size (clamped); banded " +
    "tables hold the recall that raised planes alone lose") {
    val s = spark; import s.implicits._
    // the sizing rule itself: fixed at small N, ~log2(N/target) at scale
    assert(Similarity.autoPlanes(10000L) == 8)
    assert(Similarity.autoPlanes(1000000000L) == 18)
    assert(Similarity.autoPlanes(Long.MaxValue) == 30)
    assert(Similarity.autoPlanes(0L) == 8)
    // integral arithmetic at exact power-of-two ratios: the former
    // ln-ratio double gave ceil(29.000000000000004) = 30 here, where
    // ceil(log2(2^29)) — the oracle's arithmetic — is 29
    assert(Similarity.autoPlanes(4096L * (1L << 29)) == 29)
    assert(Similarity.autoPlanes(4096L * (1L << 29) + 1) == 30)
    assert(Similarity.autoPlanes(4096L * (1L << 12)) == 12)

    // planted corpus: n bases + n near-dups (i, i+n) at sim ~0.9988
    def corpus(n: Int) = {
      val dims = 16
      ((0 until n).map(i => (i.toLong,
        Array.tabulate(dims)(d => math.sin(i * dims + d + 1).toFloat))) ++
       (0 until n).map(i => ((i + n).toLong,
        Array.tabulate(dims)(d => (math.sin(i * dims + d + 1) +
          0.05 * math.sin(i * 31 + d * 7)).toFloat))))
        .toDF("vec_id", "embedding")
    }
    def recall(df: org.apache.spark.sql.DataFrame, n: Int): Double = {
      val got = df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (0 until n).count(i => got((i.toLong, (i + n).toLong))).toDouble / n
    }
    for (n <- Seq(150, 1500)) {
      val c = corpus(n)
      val planes = Similarity.autoPlanes(2L * n, targetBucket = 4L)
      val single = recall(
        Similarity.lshNearDupPairsBanded(c, 0.99, planes, tables = 1), n)
      val banded = recall(
        Similarity.lshNearDupPairsBanded(c, 0.99, planes, tables = 4), n)
      assert(banded >= 0.98, s"n=$n planes=$planes banded recall $banded")
      assert(banded >= single, s"n=$n: banding lost recall ($banded < $single)")
      if (n == 1500) // the grown plane count visibly costs a lone table
        assert(single < 0.95, s"n=$n planes=$planes single-table recall $single")
    }
    // the auto default dispatches to the banded form and stays exact on
    // the re-rank: every returned pair really is above threshold
    val auto = Similarity.lshNearDupPairs(corpus(150), 0.99)
    assert(auto.where(col("sim") < 0.99).count() == 0)
    assert(recall(auto, 150) >= 0.98)
  }

  test("minhash-LSH recovers the same dup pairs as exact Jaccard here") {
    val pairs = Dedup.minhashLshPairs(docs, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("simhash: identical texts equal; near dups within small hamming distance") {
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(1L) == sh(2L))
    assert(hamming(sh(1L), sh(3L)) < 12)
    assert(hamming(sh(1L), sh(4L)) > 12)
  }

  test("simhash banded pairs == brute-force hamming pairs (pigeonhole recall is exact)") {
    val s = spark; import s.implicits._
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val banded = Dedup.simhashNearDupPairs(corpus, maxHamming = 3, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = Dedup.simhash(corpus).collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, ha) <- sh; (ib, hb) <- sh
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(banded == brute)
  }

  test("brute-force top-k returns nearest by cosine with correct ranks") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs.where(col("vec_id") === 1), vecs, 2)
      .select("rank", "neighbor_id").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(top == Seq((1, 2L), (2, 3L)))
  }

  test("LSH near-dup pairs are a subset of exact pairs and keep true dups") {
    val s = spark; import s.implicits._
    val base = (0 until 40).map { i =>
      val v = Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)
      (i.toLong, v)
    }
    // plant a near-identical copy of vector 0
    val vecs = (base :+ (100L, base(0)._2.map(x => x * 1.001f))).toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairs(vecs, 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(vecs, 0.95, planes = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((0L, 100L))) // identical direction → same bucket always
  }

  test("semanticDedup: nlist=1 equals the exact all-pairs prune; clustering only relaxes it") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      // duplicate pairs: 50+j is the same direction as j (scaled)
      val base = if (i >= 50) i - 50 else i
      val scale = if (i >= 50) 2.0f else 1.0f
      (i.toLong, Array.tabulate(8)(d => (math.sin(base * 8 + d).toFloat * scale)))
    }.toDF("vec_id", "embedding")
    val thr = 0.999
    // nlist=1: every vector in one cluster == exact greedy prune
    val one = Similarity.semanticDedup(vecs, nlist = 1, thr)
      .select("id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // exact expectation from all-pairs: drop iff some lower-id vector is >= thr
    val dupOf = Similarity.nearDupPairs(vecs, thr)
      .select("id_b").collect().map(_.getLong(0)).toSet
    (0L until 60L).foreach { i => assert(one(i) == !dupOf.contains(i), s"id $i") }
    assert((50L until 60L).forall(i => !one(i))) // scaled copies pruned
    // with clustering, a vector can only be SAVED by cluster separation,
    // never newly dropped (its prior-set shrinks)
    val clustered = Similarity.semanticDedup(vecs, nlist = 8, thr)
      .select("id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0L until 60L).foreach { i => if (one(i)) assert(clustered(i), s"id $i lost by clustering") }
    (0L until 60L).foreach { i => if (!clustered(i)) assert(!one(i), s"id $i dropped only when clustered") }

    // CLAMP-BOUND geometry (r15): past nlist = 2^18 the auto path shards
    // each oversized list by an id hash. splits=1 is bit-identical to
    // the public form; splits>1 can only SAVE vectors (a prior must now
    // share the shard too, so the prior-set shrinks) — the documented
    // recall trade, exercised here with the split forced (the public
    // path only binds past ~2.7·10⁸ vectors)
    val sharded1 = Similarity.semanticDedupSharded(vecs, 8, thr,
        "vec_id", "embedding", None, splits = 1)
      .select("id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(sharded1 == clustered, "splits=1 must equal the public path")
    val sharded4 = Similarity.semanticDedupSharded(vecs, 8, thr,
        "vec_id", "embedding", None, splits = 4)
      .select("id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0L until 60L).foreach { i =>
      if (clustered(i)) assert(sharded4(i), s"id $i lost by sharding") }
    // every drop the sharded run makes is a REAL duplicate pair that
    // happens to share (list, shard) — never a new false drop
    (0L until 60L).foreach { i =>
      if (!sharded4(i)) assert(!clustered(i), s"id $i dropped only when sharded") }
    // the clamp arithmetic that picks the split factor
    assert(Similarity.autoSemanticNlist((1L << 18) * 1024L) == (1 << 18))

    // HIERARCHICAL assignment (r15, auto-path-only past HierAssignMin):
    // one output row per vector regardless of path…
    val hier = Similarity.semanticDedupSharded(vecs, 8, thr,
        "vec_id", "embedding", None, splits = 1, hierAssign = true)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hier == (0L until 60L).toSet, "hier assignment must cover every vector")
    // …including with a centroid table whose ids are NOT 0-based (the
    // super-centroid pick is by rank, not id value — an id-value filter
    // would silently select nothing and return an empty frame)
    val shifted = vecs.where(col("vec_id") < 8)
      .select((col("vec_id") + 1000).cast("int").as("centroid_id"),
        col("embedding").cast("array<double>").as("centv"))
    val hierShift = Similarity.semanticDedupSharded(vecs, 8, thr,
        "vec_id", "embedding", Some(shifted), splits = 1, hierAssign = true)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hierShift == (0L until 60L).toSet,
      "non-0-based centroid ids must not empty the hier assignment")
    // an EXPLICIT nlist keeps exact flat assignment at any size: the
    // public call with nlist far above HierAssignMin equals the flat
    // helper form bit-for-bit
    val explicitBig = Similarity.semanticDedup(vecs, nlist = 300, threshold = thr)
      .select("id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val flatBig = Similarity.semanticDedupSharded(vecs, 300, thr,
        "vec_id", "embedding", None, splits = 1, hierAssign = false)
      .select("id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(explicitBig == flatBig, "explicit nlist must stay on exact flat assignment")
  }

  test("IVF top-k: probing all lists equals brute force; fewer probes stay a subset") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = rows(Similarity.bruteForceTopK(queries, vecs, 3))
    val ivfAll = rows(Similarity.ivfTopK(queries, vecs, k = 3, nlist = 6, nprobe = 6))
    assert(ivfAll == brute)
    // partial probing returns k results per query drawn from probed lists only
    val ivfPart = Similarity.ivfTopK(queries, vecs, k = 3, nlist = 6, nprobe = 2)
    val perQuery = ivfPart.groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perQuery.values.forall(_ <= 3) && perQuery.nonEmpty)
  }

  test("IVF auto-sizing: nlist ~ 4*sqrt(N) clamped, nprobe a fixed fraction; " +
    "the auto default equals the explicitly-sized call") {
    val s = spark; import s.implicits._
    // the sizing rule: guideline in the middle, clamps at the ends
    assert(Similarity.autoIvf(10000L) == ((400, 25)))
    assert(Similarity.autoIvf(100000000L) == ((40000, 2500)))
    assert(Similarity.autoIvf(10L) == ((16, 2)))
    assert(Similarity.autoIvf(Long.MaxValue) == ((1 << 18, (1 << 18) / 16)))
    // auto dispatch is pure plumbing: same rows as the explicit call
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val (al, ap) = Similarity.autoIvf(300L)
    assert(al == 69 && ap == 4)
    assert(rows(Similarity.ivfTopK(queries, vecs, k = 3)) ==
      rows(Similarity.ivfTopK(queries, vecs, k = 3, nlist = al, nprobe = ap)))
    // semanticDedup sizes for PAIRWISE cost: fixed expected list length,
    // so nlist grows LINEARLY with N (N/1024), not with sqrt(N)
    assert(Similarity.autoSemanticNlist(1000000L) == 976)
    assert(Similarity.autoSemanticNlist(1000L) == 16)
    assert(Similarity.autoSemanticNlist(Long.MaxValue) == (1 << 18))
    val sd = Similarity.autoSemanticNlist(300L)
    def kept(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "kept").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(kept(Similarity.semanticDedup(vecs, threshold = 0.98)) ==
      kept(Similarity.semanticDedup(vecs, sd, 0.98)))
    // with a TRAINED quantizer, auto geometry follows the centroid
    // table (nprobe = count/16 of the REAL lists), not the corpus rule
    val trained = Similarity.trainIvfCentroids(vecs, nlist = 48, iters = 1)
    assert(rows(Similarity.ivfTopK(queries, vecs, k = 3,
        centroids = Some(trained))) ==
      rows(Similarity.ivfTopK(queries, vecs, k = 3, nlist = 48, nprobe = 3,
        centroids = Some(trained))))
  }

  test("IVF k-means training: deterministic, improves quantizer fit, probe-all stays exact") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def inertia(cent: org.apache.spark.sql.DataFrame): Double = {
      val c = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("cv"))
      c.crossJoin(broadcast(cent))
        .select(col("vec_id"), Similarity.cosine(col("cv"), col("centv")).as("s"))
        .groupBy("vec_id").agg(max(col("s")).as("best"))
        .agg(sum(lit(1.0) - col("best"))).collect()(0).getDouble(0)
    }
    val init = Similarity.trainIvfCentroids(emb, nlist = 8, iters = 0)
    val trained = Similarity.trainIvfCentroids(emb, nlist = 8, iters = 3)
    assert(inertia(trained) <= inertia(init) + 1e-9) // Lloyd never worsens fit
    // deterministic across runs
    val again = Similarity.trainIvfCentroids(emb, nlist = 8, iters = 3)
    assert(trained.orderBy("centroid_id").collect().toSeq ==
      again.orderBy("centroid_id").collect().toSeq)
    // probe-all with trained centroids is still exact (== brute force)
    val q = emb.where(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(q, emb, 3)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    val ivf = Similarity.ivfTopK(q, emb, k = 3, nlist = 8, nprobe = 8,
        centroids = Some(trained))
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    assert(ivf == bf)
  }

  test("PQ: degenerate quantizer is exact; encoding deterministic; Lloyd cuts distortion") {
    val s = spark; import s.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    // m=1, kcent >= N, iters=0: every vector is its own centroid, so codes
    // are identities and ADC == true squared L2 — PQ top-k must equal the
    // exact L2 ranking
    val cb = Similarity.pqCodebook(vecs, m = 1, kcent = 40, iters = 0)
    val enc = Similarity.pqEncode(vecs, cb, m = 1)
    enc.collect().foreach { r =>
      assert(r.getSeq[Int](1) == Seq(r.getLong(0).toInt), s"self-code: $r")
    }
    val got = Similarity.pqTopK(vecs.where(col("vec_id") < 5), enc, cb,
        m = 1, kcent = 40, k = 3)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val raw = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def sq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expected = (for {
      q <- 0L until 5L
      (n, rank) <- raw.keys.filter(_ != q).toSeq
        .sortBy(n => (sq(raw(q), raw(n)), n)).take(3).zipWithIndex
    } yield (q, rank + 1, n)).toSet
    assert(got == expected)
    // real compression (m=4): encoding is deterministic across runs, and
    // Lloyd iterations never increase total quantization distortion
    def sqDistC(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (p, q) => (p - q) * (p - q)), lit(0.0), (x, v) => x + v)
    def distortion(iters: Int): Double = {
      val cb4 = Similarity.pqCodebook(vecs, m = 4, kcent = 8, iters = iters)
      vecs.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
        .select(col("id"), posexplode(
          array((0 until 4).map(s0 => slice(col("v"), s0 * 2 + 1, 2)): _*))
          .as(Seq("sub", "sv")))
        .join(broadcast(cb4), "sub")
        .select(col("id"), col("sub"), sqDistC(col("sv"), col("cv")).as("d"))
        .groupBy(col("id"), col("sub")).agg(min(col("d")).as("best"))
        .agg(sum(col("best"))).head.getDouble(0)
    }
    assert(distortion(2) <= distortion(0) + 1e-9)
    val cb4 = Similarity.pqCodebook(vecs, m = 4, kcent = 8, iters = 2)
    val e1 = Similarity.pqEncode(vecs, cb4, m = 4).orderBy("id").collect().toSeq
    val e2 = Similarity.pqEncode(vecs, cb4, m = 4).orderBy("id").collect().toSeq
    assert(e1.map(_.toString) == e2.map(_.toString))
  }

  test("IVF-PQ: probing all lists equals plain PQ; fewer probes return <= k from probed lists") {
    val s = spark; import s.implicits._
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 3 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val cb = Similarity.pqCodebook(vecs, m = 4, kcent = 8, iters = 0)
    val enc = Similarity.pqEncode(vecs, cb, m = 4)
    val pq = rows(Similarity.pqTopK(q, enc, cb, m = 4, kcent = 8, k = 3))
    val all = rows(Similarity.ivfPqTopK(q, vecs, k = 3, nlist = 6, nprobe = 6,
      m = 4, kcent = 8))
    assert(all == pq, "probe-all IVF-PQ must equal plain PQ ADC")
    val part = Similarity.ivfPqTopK(q, vecs, k = 3, nlist = 6, nprobe = 2,
        m = 4, kcent = 8)
      .groupBy("query_id").count().collect().map(_.getLong(1))
    assert(part.nonEmpty && part.forall(_ <= 3))
  }

  test("codegen'd cosine expression is bit-identical to the HOF formulation") {
    val s = spark; import s.implicits._
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(64)(d => (math.sin(i * 64 + d) * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val v = vecs.select(org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("v"))
    val pairs = v.as("a").join(v.as("b"),
      org.apache.spark.sql.functions.col("a.vec_id") < org.apache.spark.sql.functions.col("b.vec_id"))
    val diffs = pairs.select(
      (Similarity.cosine(org.apache.spark.sql.functions.col("a.v"), org.apache.spark.sql.functions.col("b.v")) -
       Similarity.cosineHof(org.apache.spark.sql.functions.col("a.v"), org.apache.spark.sql.functions.col("b.v"))).as("d"))
      .where(org.apache.spark.sql.functions.col("d") =!= 0.0).count()
    assert(diffs == 0L)
  }

  test("language ID picks the lexicon with most hits") {
    val s = spark; import s.implicits._
    val t = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el gato y la casa de los amigos"),
      (3L, "le chat et les amis des maisons")
    ).toDF("id", "text")
    val got = t.select(col("id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "fr"))
  }

  test("langIdTable (corpus scale path) agrees with the Column langId") {
    val s = spark; import s.implicits._
    val t = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el gato y la casa de los amigos"),
      (3L, "le chat et les amis des maisons"),
      (4L, "wordsalad without lexicon hits at all")
    ).toDF("doc_id", "text")
    val colBased = t.select(col("doc_id"), TextFunctions.langId(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val joinBased = TextFunctions.langIdTable(t, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(joinBased == colBased)
    assert(joinBased(4L) == "de") // zero hits -> alphabetically first
  }

  test("BPE-ish token count splits words, numbers, and symbol runs") {
    val s = spark; import s.implicits._
    val t = Seq((1L, "hello world 42!?"), (2L, "a"), (3L, "one,two")).toDF("id", "text")
    val got = t.select(col("id"), TextFunctions.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // "hello"," world"," 42","!?" → 4; "a" → 1; "one","," ,"two" → 3
    assert(got == Map(1L -> 4, 2L -> 1, 3L -> 3))
  }

  test("winnowing: shared long substring implies shared fingerprint; short docs hash whole text") {
    val s = spark; import s.implicits._
    val shared = "a quick brown fox jumps over the lazy dog near the river bank"
    val t = Seq(
      (1L, s"XX $shared YY"),
      (2L, s"totally different prefix $shared and another suffix"),
      (3L, "unrelated content about databases and distributed systems entirely"),
      (4L, "tiny")
    ).toDF("id", "text")
    val fps = t.select(col("id"),
        TextFunctions.winnowFingerprints(col("text"), 5, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // guarantee: any shared substring of length >= k+w-1 = 8 shares a fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    // doc 4 is shorter than k+w-1: single whole-text hash
    assert(fps(4L).size == 1)
    // overlap with the unrelated doc should be far smaller than with the near-dup
    assert((fps(1L) & fps(2L)).size > (fps(1L) & fps(3L)).size)
  }

  test("approx_count_distinct lands within 5% of exact cardinality") {
    val s = spark; import s.implicits._
    val df = (0 until 20000).map(i => (s"t${i % 3}", (i * 7919) % 4231L)).toDF("event_type", "user_id")
    val rows = df.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id"), 0.01).as("approx"))
      .collect()
    rows.foreach { r =>
      val (exact, approx) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$exact vs $approx")
    }
  }

  test("token stats and fingerprint normalization") {
    val s = spark; import s.implicits._
    val t = Seq((1L, "  Hello   World  "), (2L, "hello world")).toDF("id", "text")
    val stats = t.select(col("id"),
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.fingerprint(col("text")).as("fp")).collect()
    assert(stats.forall(_.getInt(1) == 2))
    // case/whitespace-insensitive fingerprint matches
    assert(stats(0).getString(2) == stats(1).getString(2))
  }

  test("connected components equal a driver-side union-find on a random graph") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val n = 60
    val pairs = (0 until 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2).distinct
    // both execution paths: the small-graph local union-find (default
    // threshold) and the distributed label propagation (forced) must
    // agree with the reference exactly
    val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotDist = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"),
        localMaxPairs = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference union-find (attach larger root under smaller → root = min id)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x.toInt).toLong).toMap
    assert(got == expected)
    assert(gotDist == expected)
  }

  test("connected components: pointer jumping closes a 40-node chain in few rounds") {
    val s = spark; import s.implicits._
    val chain = (0L until 40L).sliding(2).map(w => (w(0), w(1))).toSeq
    // maxIter 8 would NOT suffice for plain one-hop propagation (diameter
    // 39); pointer jumping must close it
    val comp = Dedup.connectedComponents(chain.toDF("id_a", "id_b"), maxIter = 8,
        localMaxPairs = 0L) // force the distributed path the pin is about
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 40 && comp.values.forall(_ == 0L))
  }

  test("connected components and resolveNearDups tolerate an empty pair set") {
    val s = spark; import s.implicits._
    val docs = (0L to 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    // sum() over zero rows is SQL NULL — must converge, not NPE
    assert(Dedup.connectedComponents(empty).count() == 0)
    assert(Dedup.resolveNearDups(docs, empty).count() == 5)
  }

  test("resolveNearDups keeps the min id per component; singletons pass through") {
    val s = spark; import s.implicits._
    val docs = (0L to 9L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L), (3L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val kept = Dedup.resolveNearDups(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // components {1,3,5} -> keep 1; {7,8} -> keep 7; others untouched
    assert(kept == Set(0L, 1L, 2L, 4L, 6L, 7L, 9L))
  }

  test("mergeable HLL sketches: per-source sketches unioned == direct sketch, within 5% of exact") {
    // The incremental-cardinality pattern at 100 TB: sketch each
    // partition/day ONCE (hll_sketch_agg), persist the fixed-size binary,
    // union later (hll_union_agg) — no re-scan of history. The union is
    // NOT bit-identical to one-shot sketching (union promotes coupon-mode
    // sketches to dense HLL, one-shot may stay exact-sparse), but both
    // must sit within the sketch's error bounds of the exact count.
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source"), graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    val direct = docs.agg(hll_sketch_estimate(hll_sketch_agg(col("fp"))).as("est"))
      .collect().head.getLong(0)
    val merged = docs.groupBy(col("source"))
      .agg(hll_sketch_agg(col("fp")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().head.getLong(0)
    val exact = docs.select(col("fp")).distinct().count()
    assert(math.abs(merged - direct).toDouble / exact < 0.02)
    assert(math.abs(merged - exact).toDouble / exact < 0.05)
    assert(math.abs(direct - exact).toDouble / exact < 0.05)
  }

  test("resolveNearDupsBy keeps the highest-priority doc per component, ties to lowest id") {
    val s = spark; import s.implicits._
    val docs = (0L to 9L).map(i => (i, s"doc $i", if (i == 3L) 9.0 else 1.0))
      .toDF("doc_id", "text", "q")
    val pairs = Seq((1L, 3L), (3L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val kept = Dedup.resolveNearDupsBy(docs, pairs, col("q")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // {1,3,5}: q peaks at 3 -> keep 3 (min-id would keep 1); {7,8}: equal
    // priority -> lowest id 7; pair-free docs untouched
    assert(kept == Set(0L, 2L, 3L, 4L, 6L, 7L, 9L))
  }

  test("substringDupStats: cross-doc and within-doc window duplication, exact counts") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5"),             // windows: [t1..t4] [t2..t5]
      (2L, "x t1 t2 t3 t4 y"),            // 3 windows; shares [t1..t4] with doc 1
      (3L, "z1 z2 z3 z4"),                // 1 unique window
      (4L, "r1 r2 r3 r4 r1 r2 r3 r4"),    // 5 windows; [r1..r4] occurs twice (within-doc)
      (5L, "short doc")                   // < k tokens: 0 windows, NULL ratio
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupStats(docs, k = 4).orderBy("id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(byId(1L) == ((2L, 1L, Some(0.5))))
    assert(byId(2L) == ((3L, 1L, Some(1.0 / 3.0))))
    assert(byId(3L) == ((1L, 0L, Some(0.0))))
    assert(byId(4L) == ((5L, 2L, Some(0.4))))
    assert(byId(5L) == ((0L, 0L, None)))
  }

  test("substringDupRemove: covered spans excised, survivors rejoined in order") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5"),
      (2L, "x t1 t2 t3 t4 y"),
      (3L, "z1 z2 z3 z4"),
      (4L, "r1 r2 r3 r4 r1 r2 r3 r4"),
      (5L, "short doc")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupRemove(docs, k = 4).orderBy("id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((5L, 4L, "t5")))
    assert(out(2L) == ((6L, 4L, "x y")))
    assert(out(3L) == ((4L, 0L, "z1 z2 z3 z4")))
    assert(out(4L) == ((8L, 8L, "")))
    assert(out(5L) == ((2L, 0L, "short doc")))
  }

  test("substringDupRemoveSpans: only duplicated spans >= minLen are excised; " +
    "isolated k-gram repeats survive where the fixed-k form removes them") {
    val s = spark; import s.implicits._
    val longSpan = (1 to 14).map(i => s"L$i").mkString(" ")   // 14 shared tokens
    val exactSpan = (1 to 12).map(i => s"M$i").mkString(" ")  // exactly minLen
    val shortSpan = (1 to 8).map(i => s"S$i").mkString(" ")   // one dup window
    val docs = Seq(
      (1L, s"a1 a2 a3 $longSpan b1 b2 b3"),
      (2L, s"c1 c2 c3 $longSpan d1 d2 d3"),
      (3L, s"e1 e2 e3 $shortSpan f1 f2"),
      (4L, s"g1 g2 $shortSpan h1 h2"),
      (5L, s"p1 $exactSpan p2"),
      (6L, s"q1 $exactSpan q2")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupRemoveSpans(docs, k = 8, minLen = 12)
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    // 14-token span: above threshold, fully excised from both docs
    assert(out(1L) == ((14L, "a1 a2 a3 b1 b2 b3")))
    assert(out(2L) == ((14L, "c1 c2 c3 d1 d2 d3")))
    // 8-token repeat: below threshold, SURVIVES here...
    assert(out(3L) == ((0L, s"e1 e2 e3 $shortSpan f1 f2")))
    assert(out(4L) == ((0L, s"g1 g2 $shortSpan h1 h2")))
    // ...but the fixed-k form removes it — the semantic gap being closed
    val fixedK = Dedup.substringDupRemove(docs, k = 8).orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fixedK(3L) == 8L && fixedK(4L) == 8L)
    // boundary: a span of exactly minLen tokens is excised
    assert(out(5L) == ((12L, "p1 p2")))
    assert(out(6L) == ((12L, "q1 q2")))
  }

  test("substring family: a caller-owned shared census yields bit-identical " +
    "results to each operator's internal build (r17 shared-census handle)") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5"),
      (2L, "x t1 t2 t3 t4 y"),
      (3L, "z1 z2 z3 z4"),
      (4L, "r1 r2 r3 r4 r1 r2 r3 r4"),
      (5L, "short doc")
    ).toDF("doc_id", "text")
    val census = Dedup.substringCensus(docs, k = 4)
    census.rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.orderBy("id").collect().map(_.toString).toSeq
      assert(rows(Dedup.substringDupStats(docs, k = 4, census = Some(census)))
        == rows(Dedup.substringDupStats(docs, k = 4)))
      assert(rows(Dedup.substringDupRemove(docs, k = 4, census = Some(census)))
        == rows(Dedup.substringDupRemove(docs, k = 4)))
      assert(rows(Dedup.substringDupRemoveSpans(docs, k = 4, minLen = 4,
          census = Some(census)))
        == rows(Dedup.substringDupRemoveSpans(docs, k = 4, minLen = 4)))
      // strict mode consumes the census on two extra join sides
      assert(rows(Dedup.substringDupRemoveSpans(docs, k = 4, minLen = 4,
          strict = true, census = Some(census)))
        == rows(Dedup.substringDupRemoveSpans(docs, k = 4, minLen = 4,
          strict = true)))
    } finally census.rows.unpersist()
  }

  test("substring family: a census built with another k is rejected, not " +
    "read as k-token windows") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "t1 t2 t3 t4 t5 t6"), (2L, "x t1 t2 t3 t4 t5 t6 y"))
      .toDF("doc_id", "text")
    val census = Some(Dedup.substringCensus(docs, k = 4))
    Seq[() => Any](
      () => Dedup.substringDupStats(docs, k = 5, census = census),
      () => Dedup.substringDupRemove(docs, k = 5, census = census),
      () => Dedup.substringDupRemoveSpans(docs, k = 5, minLen = 5, census = census)
    ).foreach(op => intercept[IllegalArgumentException](op()))
  }

  test("censusPartitions: unknown plan statistics leave the session default") {
    val s = spark
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    val rdd = s.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(1L, "t1 t2 t3 t4 t5")))
    val docs = s.createDataFrame(rdd, schema)
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes >=
      s.sessionState.conf.defaultSizeInBytes)
    assert(Dedup.censusPartitions(docs).isEmpty)
  }

  test("substringDupRemoveSpans strict mode: a planted chimera run is kept; " +
    "single-source runs still cut") {
    val s = spark; import s.implicits._
    val t = (1 to 10).map(i => s"w$i")
    // X = w1..w10; Y shares X's prefix (w1..w6); Z shares X's suffix
    // (w4..w10). Every window of X is duplicated — starts 1..4 against Y,
    // 4..8 against Z — so the stitched island covers ALL of X even though
    // no single source carries w1..w10: the chimera case
    val docs = Seq(
      (1L, t.mkString(" ")),
      (2L, t.take(6).mkString(" ")),
      (3L, t.drop(3).mkString(" "))).toDF("doc_id", "text")
    def run(strict: Boolean) =
      Dedup.substringDupRemoveSpans(docs, k = 3, minLen = 5, strict = strict)
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    val dflt = run(strict = false)
    assert(dflt(1L) == ((10L, "")), "default removes the composite span")
    assert(dflt(2L) == ((6L, "")) && dflt(3L) == ((7L, "")))
    val strict = run(strict = true)
    assert(strict(1L) == ((0L, t.mkString(" "))),
      "strict keeps the chimera — no single (source, offset) has the chain")
    // Y and Z each align fully against X at one offset — still cut
    assert(strict(2L) == ((6L, "")) && strict(3L) == ((7L, "")))
  }

  test("sq8: codes bounded, min/max hit the rails, constant dims code 0, " +
    "reconstruction error within half a quantization step") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (1L, Array(0.0f, 10f, 7f)),
      (2L, Array(1.0f, 10f, -3f)),
      (3L, Array(0.5f, 10f, 2f)),
      (4L, Array(0.25f, 10f, 11f))).toDF("vec_id", "embedding")
    val out = graft.analytics.Similarity.sq8(vecs).orderBy("id").collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getInt(2), r.getDouble(3)))).toMap
    out.values.foreach { case (codes, n, _) =>
      assert(n == 3 && codes.forall(c => c >= 0 && c <= 255))
    }
    // dim 0 spans [0,1]: min codes 0, max codes 255; dim 1 constant -> 0
    assert(out(1L)._1 == Seq(0, 0, 182))
    assert(out(2L)._1(0) == 255 && out(2L)._1(2) == 0)
    // err bound: half a step per dim; steps are 1/255 and 14/255
    val maxStep = 14.0 / 255
    out.values.foreach { case (_, _, err) => assert(err <= maxStep / 2 + 1e-12) }
    // exact-rail reconstruction: v == min gives err contribution 0 on that dim
    assert(out(2L)._3 <= maxStep / 2 + 1e-12)
  }

  test("sq8: hostile vectors — NaN/Inf components code to null, an " +
    "all-non-finite dim never shifts its neighbors, nothing throws") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (1L, Array(0.0f, Float.NaN, 5f)),
      (2L, Array(1.0f, Float.PositiveInfinity, 7f)),
      (3L, Array(0.5f, Float.NegativeInfinity, 6f)),
      (4L, Array(Float.NaN, Float.NaN, Float.NaN))).toDF("vec_id", "embedding")
    val out = graft.analytics.Similarity.sq8(vecs).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toList
    // dim 1 is non-finite everywhere -> null codes, and dim 2 (5..7)
    // still gets ITS OWN stats: 5 -> 0, 7 -> 255, 6 -> mid
    assert(out.map(_._2(1)) == List(null, null, null, null))
    assert(out(0)._2(2) == 0 && out(1)._2(2) == 255)
    assert(out(3)._2 == Seq(null, null, null) && out(3)._4.isEmpty)
    // finite dims still bound the reconstruction error
    out.take(3).foreach { case (_, _, _, err) =>
      assert(err.exists(_ <= (2.0 / 255) / 2 + 1e-12)) }
  }

  test("sq8TopK: on well-separated clusters the asymmetric scan returns " +
    "the exact neighbors — quantization never flips a clear ranking") {
    val s = spark; import s.implicits._
    // three orthogonal-ish clusters, intra-cluster sim ~0.99+, inter ~0
    val vecs = (0 until 30).map { i =>
      val base = Array.fill(12)(0.0f)
      base(i % 3 * 4) = 10f; base(i % 3 * 4 + 1) = 1f + (i / 3) * 0.01f
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 3)
    val exact = graft.analytics.Similarity.bruteForceTopK(q, vecs, 5)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val viaSq8 = graft.analytics.Similarity.sq8TopK(q, vecs, 5)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    val exactMap = graft.analytics.Similarity.bruteForceTopK(q, vecs, 5)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    assert(viaSq8.keySet == exact)
    // every ranked neighbor must come from the query's own cluster
    viaSq8.foreach { case ((qid, _), nid) => assert(nid % 3 == qid % 3) }
    assert(viaSq8 == exactMap)
  }

  test("saved ANN indexes (IVF / IVF-PQ / SQ8) reproduce the inline searches exactly") {
    val s = spark; import s.implicits._
    import graft.analytics.SimilarityIndex
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString

    // IVF with a Lloyd-trained quantizer: train-once == train-inline
    SimilarityIndex.saveIvf(vecs, s"$dir/ivf", nlist = 24, iters = 2)
    val trained = Similarity.trainIvfCentroids(vecs, nlist = 24, iters = 2)
    assert(rows(SimilarityIndex.ivfTopK(spark, queries, s"$dir/ivf", k = 3, nprobe = 6)) ==
      rows(Similarity.ivfTopK(queries, vecs, k = 3, nlist = 24, nprobe = 6,
        centroids = Some(trained))))
    // default nprobe derives from the SAVED meta (nlist/16, floor 2)
    assert(rows(SimilarityIndex.ivfTopK(spark, queries, s"$dir/ivf", k = 3)) ==
      rows(Similarity.ivfTopK(queries, vecs, k = 3, nlist = 24, nprobe = 2,
        centroids = Some(trained))))

    // IVF-PQ: saved codebook + codes == inline training, same geometry
    SimilarityIndex.saveIvfPq(vecs, s"$dir/ivfpq", nlist = 6, m = 4, kcent = 16)
    assert(rows(SimilarityIndex.ivfPqTopK(spark, queries, s"$dir/ivfpq", k = 3, nprobe = 2)) ==
      rows(Similarity.ivfPqTopK(queries, vecs, k = 3, nlist = 6, nprobe = 2,
        m = 4, kcent = 16)))

    // SQ8: saved stats + codes == inline recode
    SimilarityIndex.saveSq8(vecs, s"$dir/sq8")
    assert(rows(SimilarityIndex.sq8TopK(spark, queries, s"$dir/sq8", k = 5)) ==
      rows(Similarity.sq8TopK(queries, vecs, 5)))
  }

  test("incremental ANN add: save(A)+add(B) == save(A∪B); streamed adds are " +
    "replay-idempotent; retrain folds the overlay") {
    val s = spark; import s.implicits._
    import graft.analytics.SimilarityIndex
    // B scaled INSIDE A's per-dimension range so the frozen SQ8 stats and
    // (id-initialized, iters=0) quantizers are identical for A and A∪B —
    // the precondition under which add parity is exact row-for-row
    def mk(ids: Range, scale: Float = 1f) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat * scale))
    }.toDF("vec_id", "embedding")
    val a = mk(0 until 200)
    val b = mk(200 until 260, 0.5f)
    val all = a.unionAll(b)
    val queries = a.where(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("annadd").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def tbl(p: String, cols: String*) =
      spark.read.parquet(p).select(cols.map(col): _*).collect()
        .map(_.toString).toSeq.sorted

    // IVF
    SimilarityIndex.saveIvf(a, s"$dir/ivf", nlist = 24)
    val skew = SimilarityIndex.addIvf(b, s"$dir/ivf")
    assert(skew >= 1.0)
    SimilarityIndex.saveIvf(all, s"$dir/ivfall", nlist = 24)
    assert(tbl(s"$dir/ivf/vectors", "id", "list_id", "v") ==
      tbl(s"$dir/ivfall/vectors", "id", "list_id", "v"))
    assert(rows(SimilarityIndex.ivfTopK(spark, queries, s"$dir/ivf", k = 3, nprobe = 6)) ==
      rows(SimilarityIndex.ivfTopK(spark, queries, s"$dir/ivfall", k = 3, nprobe = 6)))

    // IVF-PQ: frozen coarse centroids AND codebook
    SimilarityIndex.saveIvfPq(a, s"$dir/pq", nlist = 6, m = 4, kcent = 16)
    SimilarityIndex.addIvfPq(b, s"$dir/pq")
    SimilarityIndex.saveIvfPq(all, s"$dir/pqall", nlist = 6, m = 4, kcent = 16)
    assert(tbl(s"$dir/pq/codes", "id", "list_id", "codes") ==
      tbl(s"$dir/pqall/codes", "id", "list_id", "codes"))

    // SQ8: frozen [min,max] codec
    SimilarityIndex.saveSq8(a, s"$dir/sq8")
    SimilarityIndex.addSq8(b, s"$dir/sq8")
    SimilarityIndex.saveSq8(all, s"$dir/sq8all")
    assert(tbl(s"$dir/sq8/sq8codes", "id", "codes") ==
      tbl(s"$dir/sq8all/sq8codes", "id", "codes"))

    // streaming add: overlay lands per-batch; searches see it; a replayed
    // batch rewrites exactly its own partition (no duplicate rows)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SimilarityIndex.saveIvf(a, s"$dir/ivfs", nlist = 24)
    val ck = java.nio.file.Files.createTempDirectory("annaddck").toString
    val in = MemoryStream[(Long, Array[Float])]
    b.as[(Long, Array[Float])].collect().foreach(r => in.addData(r))
    val q = SimilarityIndex.addIvfStream(in.toDF().toDF("vec_id", "embedding"),
      s"$dir/ivfs", ck)
    q.awaitTermination(120000)
    assert(rows(SimilarityIndex.ivfTopK(spark, queries, s"$dir/ivfs", k = 3, nprobe = 6)) ==
      rows(SimilarityIndex.ivfTopK(spark, queries, s"$dir/ivfall", k = 3, nprobe = 6)))
    val overlayBefore = tbl(s"$dir/ivfs/vectors_add", "id", "list_id")
    val cent = spark.read.parquet(s"$dir/ivfs/centroids")
    SimilarityIndex.addStreamBatch(b, 0L, s"$dir/ivfs", cent, "vec_id", "embedding")
    assert(tbl(s"$dir/ivfs/vectors_add", "id", "list_id") == overlayBefore,
      "replayed add batch changed the overlay")

    // retrain: folds base + overlay into a fresh geometry, clears overlay
    SimilarityIndex.retrainIvf(spark, s"$dir/ivfs", nlist = 24, iters = 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/ivfs/vectors_add")))
    assert(spark.read.parquet(s"$dir/ivfs/vectors").count() == 260)
    assert(rows(SimilarityIndex.ivfTopK(spark, queries, s"$dir/ivfs", k = 3, nprobe = 6))
      .nonEmpty)

    // retrainIvfPq/retrainSq8 (r13): the lossy codecs re-fit from the
    // caller-supplied raw corpus — retrained == fresh-saved at the same
    // geometry, row for row, and re-running converges (crash recovery)
    SimilarityIndex.retrainIvfPq(all, s"$dir/pq") // geometry from meta
    assert(tbl(s"$dir/pq/codes", "id", "list_id", "codes") ==
      tbl(s"$dir/pqall/codes", "id", "list_id", "codes"))
    SimilarityIndex.retrainIvfPq(all, s"$dir/pq")
    assert(tbl(s"$dir/pq/codes", "id", "list_id", "codes") ==
      tbl(s"$dir/pqall/codes", "id", "list_id", "codes"))
    SimilarityIndex.retrainSq8(all, s"$dir/sq8")
    assert(tbl(s"$dir/sq8/sq8codes", "id", "codes") ==
      tbl(s"$dir/sq8all/sq8codes", "id", "codes"))
  }

  test("clusterBalancedSample: every cluster keeps min(quota, size); the " +
    "sample never oversamples the dense mode; the draw is deterministic") {
    val s = spark; import s.implicits._
    import graft.analytics.Similarity
    // three orthogonal clusters with wildly skewed sizes: 60 / 12 / 3
    val sizes = Seq(60, 12, 3)
    // id = c + 3*i interleaves the clusters so the untrained quantizer
    // (first nlist ids) starts with one centroid per true cluster
    val vecs = sizes.zipWithIndex.flatMap { case (n, c) =>
      (0 until n).map { i =>
        val v = Array.fill(12)(0.0f)
        v(c * 4) = 10f; v(c * 4 + 1) = 1f + i * 0.01f
        (c.toLong + 3L * i, v)
      }
    }.toDF("vec_id", "embedding")
    val out = Similarity.clusterBalancedSample(vecs, quota = 5, nlist = 3)
      .collect()
    assert(out.length == 75)
    val perList = out.filter(_.getAs[Boolean]("selected"))
      .groupBy(_.getAs[Int]("list_id")).view.mapValues(_.length).toMap
    // every cluster contributes, and none beyond the quota
    assert(perList.values.forall(_ <= 5), perList.toString)
    assert(perList.values.sum == perList.size * 5 - math.max(0, 5 - 3),
      s"expected min(quota, size) per cluster, got $perList")
    // ranks are a permutation within each cluster
    out.groupBy(_.getAs[Int]("list_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
    }
    // deterministic: a second run is identical
    val again = Similarity.clusterBalancedSample(vecs, quota = 5, nlist = 3)
      .collect()
    assert(out.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
    // auto-geometry path (nlist <= 0) runs and keeps the quota bound
    val auto = Similarity.clusterBalancedSample(vecs, quota = 5).collect()
    assert(auto.length == 75 && auto.filter(_.getAs[Boolean]("selected"))
      .groupBy(_.getAs[Int]("list_id")).forall(_._2.length <= 5))
  }

  test("find_near_dups registered query: serving from incremental state == batch " +
    "LSH pairs over corpus ∪ queries; identical originals score 1.0") {
    val out = SparkEntry.queries("find_near_dups")(spark, "/root/testdata/sf0.001")
      .collect()
    val got = out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("match_id"),
      r.getAs[Double]("score"))).toSet
    // all query ids live in the +500000 band, all matches below it
    assert(got.forall { case (q, m, _) => q >= 500000L && q < 500100L && m < 500000L })
    // every re-id'd query matches its identical original exactly
    (0L until 100L).foreach { i =>
      assert(got.contains((i + 500000L, i, 1.0)),
        s"query ${i + 500000} must match original $i at score 1.0")
    }
    // the serving lookup over accumulated streaming state returns EXACTLY
    // the batch LSH verification over the same documents, restricted to
    // (query, indexed) pairs — the streaming==batch contract at the API
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"), col("text"))
    val corpus = base.unionAll(base.where(col("id") < 100)
      .select((col("id") + 100000).as("id"),
        concat(col("text"), lit(" zzz9")).as("text")))
    val queries = base.where(col("id") < 100)
      .select((col("id") + 500000).as("id"), col("text"))
    val expected = Dedup.minhashLshPairs(corpus.unionAll(queries), 0.5,
        k = 16, bands = 4, "text", "id")
      .where(col("id_b") >= 500000 && col("id_a") < 500000)
      .collect()
      .map(r => (r.getAs[Long]("id_b"), r.getAs[Long]("id_a"),
        r.getAs[Double]("jaccard"))).toSet
    assert(got == expected,
      s"serving != batch: missing=${expected -- got}, extra=${got -- expected}")
  }

  test("find_near_dups_simhash registered query == batch simhash pairs over " +
    "corpus ∪ queries; identical originals score 1.0") {
    val out = SparkEntry.queries("find_near_dups_simhash")(spark, "/root/testdata/sf0.001")
      .collect()
    val got = out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("match_id"),
      r.getAs[Double]("score"))).toSet
    (0L until 100L).foreach { i =>
      assert(got.contains((i + 500000L, i, 1.0)),
        s"query ${i + 500000} must match original $i at score 1.0")
    }
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"), col("text"))
    val corpus = base.unionAll(base.where(col("id") < 100)
      .select((col("id") + 100000).as("id"),
        concat(col("text"), lit(" zzz9")).as("text")))
    val queries = base.where(col("id") < 100)
      .select((col("id") + 500000).as("id"), col("text"))
    val expected = Dedup.simhashNearDupPairs(corpus.unionAll(queries),
        maxHamming = 3, bands = 4, "text", "id")
      .where(col("id_b") >= 500000 && col("id_a") < 500000)
      .collect()
      .map(r => (r.getAs[Long]("id_b"), r.getAs[Long]("id_a"),
        (60.0 - r.getAs[Int]("hamming")) / 60.0)).toSet
    assert(got == expected,
      s"serving != batch: missing=${expected -- got}, extra=${got -- expected}")
  }

  test("find_exact_dups registered query: each query hits exactly its identical " +
    "original and the verbatim copy, score 1.0, nothing else") {
    val out = SparkEntry.queries("find_exact_dups")(spark, "/root/testdata/sf0.001")
      .collect()
    val got = out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("match_id"),
      r.getAs[Double]("score"))).toSet
    val expected = (0L until 100L).flatMap(i =>
      Seq((i + 500000L, i, 1.0), (i + 500000L, i + 100000L, 1.0))).toSet
    assert(got == expected,
      s"missing=${expected -- got}, extra=${got -- expected}")
  }

  test("find_near_dups_emb registered query == batch banded sign-LSH pairs " +
    "(query × corpus), exact-cosine verified") {
    val out = SparkEntry.queries("find_near_dups_emb")(spark, "/root/testdata/sf0.001")
      .collect()
    val got = out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("match_id"),
      r.getAs[Double]("score"))).toSet
    val off = 1000000000L
    (0L until 50L).foreach { i =>
      assert(got.contains((i + off, i, 1.0)),
        s"query ${i + off} must match its identical original vector $i")
    }
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding"))
    val all = emb.unionAll(emb.where(col("id") < 50)
      .select((col("id") + off).as("id"), col("embedding")))
    // the registered serving ingest runs at auto geometry with the
    // serving-ingest bucket target (autoPlanes targetBucket=256), 2 tables
    val expected = Similarity.lshNearDupPairsBanded(all, 0.4,
        planes = Similarity.autoPlanes(emb.count(), targetBucket = 256L),
        tables = 2, "id", "embedding")
      .where(col("id_b") >= off && col("id_a") < off)
      .withColumn("sim", round(col("sim"), 6))
      .collect()
      .map(r => (r.getAs[Long]("id_b"), r.getAs[Long]("id_a"),
        r.getAs[Double]("sim"))).toSet
    assert(got == expected,
      s"serving != batch: missing=${expected -- got}, extra=${got -- expected}")
  }
}
