package graft

import org.apache.spark.sql.SparkSession

/** Recommended SparkSession setup for the graft engine.
  *
  * Scale defaults: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), UTC session time, parquet bloom filters available for
  * stream_id point lookups on written logs, and local `file:` I/O through
  * [[graft.io.NioLocalFileSystem]] (no forked `chmod`/`readlink` per
  * file). On a real cluster, pass the
  * actual master/shuffle-partition values; `local[32]` + 32 shuffle
  * partitions matches the driver's bench environment. */
object GraftSession {
  def builder(master: String = "local[32]",
      shufflePartitions: Int = 32,
      largeStreamingState: Boolean = false): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // point-lookup pushdowns (DedupStream band keys / sketch partner
      // ids, SimilarityIndex probed lists) push eq-list parquet filters;
      // past the default threshold (10) Spark degrades In to a min/max
      // RANGE filter, which prunes nothing over hash-distributed keys.
      // 1000 is the measured safe bound: Spark builds the parquet In as
      // a LEFT-DEEP or-of-eq chain whose recursive evaluation stack-
      // overflows around 2000 terms (ParquetPushdown.EqListMax mirrors
      // this; larger key sets chunk into ≤1000-term range-scoped scans)
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      // local file: I/O, FileSystem and FileContext, through graft.io.
      // Hadoop caches one FileSystem per scheme for the whole JVM, so this
      // binds only if the session opens the JVM's first file: FileSystem
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.NioLocalFs].getName)
    // SURVEY §7 "foreachStream over millions of streams in streaming mode":
    // the RocksDB state store spills per-key projection state to local disk
    // instead of holding every partition's state on the executor heap.
    // Measured by graft.tools.StateStoreProbe (BASELINE.md "million-stream
    // state store"): 1M+ distinct streams build, checkpoint, and recover
    // with bounded executor memory.
    if (largeStreamingState)
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // changelog checkpointing uploads per-batch deltas instead of
        // re-snapshotting every SST file — at millions of keys the full
        // snapshot upload dominates batch latency without it
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
        // cap RocksDB native memory across all state partitions on an
        // executor (block cache + memtables + filters), so a million-key
        // store degrades to disk instead of OOMing the executor
        .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
        .config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", "2048")
    else b
  }

  /** Create the session and register the graft SQL surface: the full
    * `graft_*` function set ([[GraftFunctions]]; also available
    * config-driven via `spark.sql.extensions=graft.GraftExtensions`)
    * plus the legacy `cosine_similarity` alias. */
  def create(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    graft.functions.CosineSimilarity.register(spark)
    GraftFunctions.register(spark)
    spark
  }
}
