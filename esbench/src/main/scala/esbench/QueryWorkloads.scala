package esbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** `registry_queries`: registry queries timed one by one, each as
  * construction (the registry function returning its DataFrame) plus
  * execution into the noop sink. Two groups share the run: event-store
  * queries over a small table, where fixed per-query cost dominates, and
  * analytics kernels over an x10 corpus, where per-byte work dominates. */
object QueryWorkloads {

  /** Five of the event-store registry queries, by the layer that
    * implements them: a positional read and a funnel; a bi-state fold; JS
    * definitions on the compiled and on the interpreted path. All 63 would
    * take about a minute cold, more than a run may take. */
  val eventQueryNames: Seq[(String, String)] = Seq(
    "operators" -> "s2_read_stream_forwards", "operators" -> "funnel_stages",
    "projections" -> "p16_bistate",
    "js" -> "js_fold_count_sum", "js" -> "js_map_guard")

  /** Two per-byte kernels of the analytics layer: MinHash-LSH
    * near-duplicates and BPE tokenization. */
  val corpusQueries: Seq[String] = Seq("dedup_minhash_lsh", "bpe_tokenize")

  final case class Timing(name: String, constructMs: Double, executeMs: Double) {
    def ms: Double = constructMs + executeMs
  }

  /** Construct and execute one registry query. With `out`, the result is
    * written there as parquet for the oracle instead of to the noop sink. */
  private def runQuery(ctx: Ctx, layer: String, name: String, dir: String,
      out: Option[String]): Option[Timing] =
    ctx.report.op(name) {
      try {
        val (df, cMs) = ctx.timedMs(ctx.labeled("construct")(
          ctx.tracer(layer, name)(SparkEntry.queries(name)(ctx.spark, dir))))
        val (_, eMs) = ctx.timedMs(ctx.labeled("execute")(ctx.tracer("spark", name) {
          out match {
            case Some(o) => df.coalesce(1).write.mode("overwrite").parquet(o)
            case None => df.write.mode("overwrite").format("noop").save()
          }
        }))
        System.err.println(f"[esbench] query $name%-28s construct ${cMs}%8.1f ms  execute ${eMs}%8.1f ms")
        Timing(name, cMs, eMs)
      } finally {
        // the query-local cache release contract every registry caller keeps
        graft.analytics.Corpus.releaseNbFeatureCache()
        graft.QueryCaches.release()
      }
    }

  /** Copies of the generated input, one per set-up repetition. */
  private def copyInput(ctx: Ctx, tables: Seq[String], dst: String): Unit = {
    Files.createDirectories(Paths.get(dst))
    tables.foreach(t => Files.copy(Paths.get(s"${ctx.dataDir}/$t.parquet"),
      Paths.get(s"$dst/$t.parquet"), StandardCopyOption.REPLACE_EXISTING))
  }

  /** Set up three times and report the median; the last set-up is kept. */
  private def setup(ctx: Ctx, prefix: String)(one: String => Unit): String = {
    val dirs = (0 until 3).map(i => s"${ctx.workDir}/${prefix}_$i")
    val times = dirs.map(d => ctx.timedMs(ctx.labeled("setup")(one(d)))._2)
    dirs.init.foreach(d => Dirs.deleteTree(new java.io.File(d)))
    ctx.report.metric("setup_s", Stats.median(times) / 1000.0, "s")
    Main.phase("set up")
    dirs.last
  }

  /** The cold pass (results kept for the oracle), then whole warm passes
    * in seeded order: at least two, more while the run's seconds last, so
    * every query weighs the same. Returns each query's median warm time. */
  private def passes(ctx: Ctx, queries: Seq[(String, String)], dir: String): Map[String, Double] = {
    val r = ctx.report
    val (_, coldMs) = ctx.timedMs(ctx.tracer("bench", "cold_pass")(queries.foreach { case (layer, q) =>
      runQuery(ctx, layer, q, dir, Some(s"${ctx.outDir}/$q")).foreach(_ => r.oracle(q) = s"${ctx.outDir}/$q")
    }))
    r.metric("cold_s", coldMs / 1000.0, "s")
    Main.phase("cold pass done")
    ctx.probe.foreach { p =>
      p.drain()
      r.metric("driver.cold_construct_jobs", p.label("construct").jobs.get.toDouble, "count")
      p.reset()
    }
    r.oracleData = dir

    val rnd = new scala.util.Random(ctx.seed)
    val timings = scala.collection.mutable.ArrayBuffer.empty[Timing]
    val t0 = System.currentTimeMillis()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var passes = 0
    while (passes < 2 || System.nanoTime() < deadline) {
      rnd.shuffle(queries).foreach { case (layer, q) => runQuery(ctx, layer, q, dir, None).foreach(timings += _) }
      passes += 1
    }
    val wallMs = System.currentTimeMillis() - t0
    val byQuery = timings.groupBy(_.name)
    val median = byQuery.map { case (q, ts) => q -> Stats.median(ts.map(_.ms).toSeq) }
    r.metric("work_s", (coldMs + wallMs) / 1000.0, "s")
    // each query counted once, at its median
    r.metric("op_ms_p50", Stats.median(median.values.toSeq), "ms")
    r.metric("op_ms_tail", Stats.tail(median.values.toSeq), "ms")
    r.metric("ops", timings.size.toDouble, "count")
    r.metric("passes", passes.toDouble, "count")
    r.metric("batch_s", median.values.sum / 1000.0, "s")
    r.metric("driver.construct_ms",
      byQuery.values.map(ts => Stats.median(ts.map(_.constructMs).toSeq)).sum, "ms")
    ctx.probe.foreach { p =>
      p.drain()
      r.metric("driver.construct_jobs", p.label("construct").jobs.get / passes, "count")
    }
    ctx.sparkLayerMetrics(Set("construct", "execute"), t0, wallMs.toDouble)
    median
  }

  /** The x10 corpus: ten replicas of the generated base documents under
    * the `ScaleProbe` replica model. Each replica rotates the letters of the
    * documents, which keeps the near-duplicate structure inside a replica
    * and shares no shingles across replicas. */
  private def replicate(ctx: Ctx, dst: String, mult: Int): Unit = {
    val docs = ctx.spark.read.parquet(s"${ctx.dataDir}/documents.parquet")
    val lo = "abcdefghijklm"; val hi = "nopqrstuvwxyz"
    def rot(a: String, k: Int) = a.drop(k % a.length) + a.take(k % a.length)
    (0 until mult).map { i =>
      docs.select((col("doc_id") + i * 10000000L).as("doc_id"),
        translate(col("text"), lo + hi, rot(lo, i % 13) + rot(hi, (i / 13) % 13)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _).repartition(8).write.mode("overwrite").parquet(s"$dst/documents.parquet")
  }

  def registryQueries(ctx: Ctx): Unit = {
    val dir = setup(ctx, "queries") { d =>
      copyInput(ctx, Seq("events"), d)
      replicate(ctx, d, 10)
    }
    val median = passes(ctx, eventQueryNames ++ corpusQueries.map("analytics" -> _), dir)
    val r = ctx.report
    def seconds(qs: Seq[String]) = qs.flatMap(median.get).sum / 1000.0
    r.metric("event_queries_s", seconds(eventQueryNames.map(_._2)), "s")
    Seq("operators", "projections", "js").foreach { layer =>
      r.metric(s"queries.${layer}_s", seconds(eventQueryNames.filter(_._1 == layer).map(_._2)), "s")
    }
    r.metric("corpus_queries_s", seconds(corpusQueries), "s")
    corpusQueries.foreach(q => r.metric(s"corpus.${q}_s", seconds(Seq(q)), "s"))
  }
}
