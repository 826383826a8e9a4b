package graft

import org.apache.spark.sql.functions._
import graft.sources.{EventLogStore, PendingEvent}
import graft.operators.Retention

/** Physical-plan assertions: the properties that matter at 100 TB must be
  * visible in the plan, not assumed — filter pushdown to the parquet scan,
  * broadcast joins for bounds/dimension tables, whole-stage codegen. */
class PlanSpec extends SparkTestBase {

  private lazy val store = {
    val s = new EventLogStore(spark, TempDirs.create("plan"))
    s.append((0 until 50).map(i => PendingEvent(s"acct-${i % 5}", s"e$i", "E", "{}")))
    s
  }

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  /** Full (untruncated) PushedFilters of every parquet scan in the plan. */
  private def pushedFilters(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    root.collect { case f: FileSourceScanExec => f }
      .flatMap(_.metadata.get("PushedFilters")).mkString(";")
  }

  test("stream point-read pushes the stream_id predicate into the parquet scan") {
    val pushed = pushedFilters(
      store.read().where(col("stream_id") === "acct-1" && col("event_number") >= 2))
    assert(pushed.contains("EqualTo(stream_id,acct-1)"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(event_number,2)"), pushed)
  }

  test("column pruning: projecting two columns reads only those from parquet") {
    val plan = executedPlan(store.read().select("stream_id", "event_number"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("stream_id") && readSchema.contains("event_number"))
    assert(!readSchema.contains("data"), readSchema)
  }

  test("retention bounds join is a broadcast, not a shuffle of the log") {
    val s = spark; import s.implicits._
    val meta = Seq(("acct-1", Some(2L), Option.empty[Long], Option.empty[Long], false))
      .toDF("stream_id", "max_count", "max_age_sec", "truncate_before", "tombstoned")
    val plan = executedPlan(
      Retention.applyRetention(store.read(), meta, current_timestamp()))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("aggregation query runs inside whole-stage codegen") {
    val plan = executedPlan(
      store.read().groupBy("stream_id").agg(count(lit(1))))
    // "*(n)" prefixes mark whole-stage-codegen'd operators
    assert(plan.contains("*("), plan.take(800))
  }

  test("IVF candidate join is a hash equi-join on list_id, not a cartesian product") {
    val s = spark; import s.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val df = graft.analytics.Similarity.ivfTopK(
      vecs.where(col("vec_id") < 5), vecs, k = 3, nlist = 8, nprobe = 2)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    // the only nested-loop joins allowed are the two broadcast centroid fans
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("MinHash-LSH band-bucket join is an equi-join (hash or sort-merge)") {
    val s = spark; import s.implicits._
    val docs = (0 until 120).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta token$i end of doc")).toDF("doc_id", "text")
    val df = graft.analytics.Dedup.minhashLshPairs(docs, 0.5)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1200))
  }

  test("date partition pruning: p_date predicate prunes partitions at scan") {
    val df = store.read().where(col("p_date") === java.sql.Date.valueOf("1999-01-01"))
    val plan = executedPlan(df)
    // partition filters appear as PartitionFilters on the scan, and no rows survive
    assert(plan.contains("PartitionFilters:"), plan.take(800))
    assert(df.count() == 0)
  }

  test("pack_sequences cumsum shuffles by shard, never a single global sort") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(
      graft.analytics.Corpus.packSequences(docs, budget = 256, shardSize = 100))
    // the window partitions by shard -> hashpartitioning(shard); a global
    // orderBy-cumsum would show a SinglePartition exchange instead
    assert(plan.contains("hashpartitioning(shard"), plan.take(1200))
    assert(!plan.contains("SinglePartition"), plan.take(1200))
  }

  test("packFfd repartitions by shard with per-partition sort, never a " +
    "single global sort") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(
      graft.analytics.Corpus.packFfd(docs, budget = 256, shardSize = 100))
    // repartition(shard) -> hashpartitioning(shard); the FFD pass is a
    // streaming mapPartitions over a WITHIN-partition sort — a global
    // orderBy would show a SinglePartition/rangepartitioning exchange
    assert(plan.contains("hashpartitioning(shard"), plan.take(1200))
    assert(!plan.contains("SinglePartition"), plan.take(1200))
    assert(!plan.contains("rangepartitioning"), plan.take(1200))
  }

  test("quota_sample top-k windows per source, no global sort of the corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(graft.analytics.Corpus.quotaSample(docs, 5))
    assert(plan.contains("hashpartitioning(source"), plan.take(1200))
    assert(!plan.contains("SinglePartition"), plan.take(1200))
  }

  test("saltedJoin equals the plain join and carries the salt in the join keys") {
    val s = spark; import s.implicits._
    // heavy-tailed: key 0 holds 80% of the rows
    val large = (0 until 1000).map(i => (if (i < 800) 0L else i.toLong % 50, s"v$i"))
      .toDF("k", "payload")
    val small = (0L until 50L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = large.join(small, "k").select("k", "payload", "attr")
      .collect().map(_.toSeq).sortBy(_.toString)
    val salted = graft.operators.Skew.saltedJoin(large, small, "k", factor = 8)
      .select("k", "payload", "attr")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(salted.toSeq == plain.toSeq)
    val plan = executedPlan(graft.operators.Skew.saltedJoin(large, small, "k", 8))
    assert(plan.contains("_salt"), plan.take(1200))
  }

  test("tf-idf df table joins back by broadcast, not a shuffle of tf") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(
      graft.analytics.Corpus.tfIdfKeywords(docs, k = 3, n = 50))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("semanticDedup pair join is an equi-join on list_id, not a cartesian") {
    val s = spark; import s.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val plan = executedPlan(graft.analytics.Similarity.semanticDedup(vecs, nlist = 8, 0.9))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("append idempotency probe is one filtered scan, ids pushed as an In filter") {
    val (ids, streams) = (Seq("e1", "e2", "zz"), Seq("acct-1", "acct-2"))
    // the probe runs over the files the driver's row-group filter keeps
    val files = store.maybeDuplicateFiles(ids, streams)
    assert(files.nonEmpty)
    val df = store.duplicateIdProbe(ids, streams, files)
    assert(df.collect().map(_.getString(0)).toSet == Set("e1", "e2"))
    // the probe's shape: the batch ids and target streams reach the parquet
    // scan as pushed filters — no broadcast build side (a job of its own),
    // and the driver only ever receives found duplicates, never the
    // streams' full id sets
    val pushed = pushedFilters(df)
    assert(pushed.contains("In(event_id"), pushed)
    assert(pushed.contains("In(stream_id"), pushed)
    val plan = executedPlan(df)
    assert(!plan.contains("BroadcastExchange") && !plan.contains("Join"), plan.take(1500))
    assert(!plan.contains("CollectLimit"), plan.take(1500))
  }

  test("real-codec decode pushes the id filter into the documents scan") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .where(col("doc_id") < 20)
    // the filter must reach the parquet scan BELOW the synthetic-encode +
    // decode mapPartitions chain — at 100 TB this is the difference
    // between decoding 20 blobs and decoding the corpus
    val pushed = pushedFilters(
      graft.analytics.Multimodal.decodeImagesReal(
        graft.analytics.Multimodal.syntheticImages(docs, "doc_id"), 16, 16))
    assert(pushed.contains("LessThan(doc_id,20)"), pushed)
    val pushedA = pushedFilters(
      graft.analytics.Multimodal.decodeAudioReal(
        graft.analytics.Multimodal.syntheticAudio(docs, "doc_id")))
    assert(pushedA.contains("LessThan(doc_id,20)"), pushedA)
  }

  test("projection reset truncation math is one distributed plan, no per-stream loop") {
    // reset()'s $tb truncation points for all $projections-{name}-* streams
    // and registered emitted streams commit as ONE bulk append: the plan
    // aggregates max(event_number) grouped by stream — a distributed
    // aggregate — never a driver-side loop of point lookups
    val s = new EventLogStore(spark, TempDirs.create("planreset"))
    s.append((0 until 20).map(i =>
      PendingEvent(s"$$projections-p-acct-${i % 3}-result", s"r$i", "Result", "{}")))
    val inventory = s.read()
      .where(col("stream_id").startsWith("$projections-p-"))
      .groupBy(col("stream_id")).agg(max(col("event_number")).as("last"))
    val plan = executedPlan(inventory)
    assert(plan.contains("HashAggregate"), plan.take(1200))
  }

  test("Links.linkTo numbers links without a single-partition window") {
    val links = graft.operators.Links.linkTo(
      store.read().where(col("stream_id") === "acct-1"), "$ce-acct")
    val plan = executedPlan(links)
    assert(!plan.contains("Window"), plan.take(1500))
    // numbering must still be 0-based, dense, in log order
    val rows = links.orderBy("event_number")
      .select("event_number", "caused_by_position").collect()
    assert(rows.map(_.getLong(0)).toSeq == rows.indices.map(_.toLong).toSeq)
    assert(rows.map(_.getLong(1)).toSeq == rows.map(_.getLong(1)).sorted.toSeq)
  }

  test("Links.linkToEach windows per target stream, never one global task") {
    val links = graft.operators.Links.linkToEach(store.read(),
      concat(lit("$ce-"), substring_index(col("stream_id"), "-", 1)))
    val plan = executedPlan(links)
    assert(!plan.contains("SinglePartition"), plan.take(1500))
    val perStream = links.groupBy("stream_id")
      .agg(min("event_number").as("mn"), max("event_number").as("mx"),
        count(lit(1)).as("n")).collect()
    perStream.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == r.getLong(3) - 1)
    }
  }

  test("heavyHitters candidate verify is a broadcast join — the corpus is never shuffled") {
    val s = spark; import s.implicits._
    val docs = Seq.tabulate(300)(i => (i.toLong, s"hot hot word$i")).toDF("doc_id", "text")
    val hh = graft.analytics.Corpus.heavyHitters(docs, minCount = 100L)
    val plan = executedPlan(hh)
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("perplexity/DSIR scoring passes: models arrive by broadcast and the " +
    "corpus is never shuffled (no exchange between the docs scan and the score)") {
    val s = spark; import s.implicits._
    val docs = Seq.tabulate(60)(i =>
      (i.toLong, s"alpha beta w$i gamma delta epsilon t${i % 7}"))
      .toDF("doc_id", "text")
    val train = docs.where(col("doc_id") < 20)
    for (df <- Seq(
        graft.analytics.Corpus.perplexityScore(docs, train, vocab = 50),
        graft.analytics.Corpus.importanceWeights(docs, train, buckets = 256))) {
      val plan = executedPlan(df)
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastExchange"), plan.take(1200))
      // the scoring side must be join- and shuffle-free over the corpus:
      // the only exchanges allowed are the tiny model/vocab aggregations
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        plan.take(1500))
      // the bucket/selected flag must come from broadcast percentile
      // cutoffs, NEVER a global unpartitioned Window (single-task sort
      // of one row per doc — the r9 verdict's last scale-weak shape)
      assert(!plan.contains("Window"), plan.take(1500))
    }
  }

  test("compiled pre-state fold: the running-sum window partitions by the " +
    "fold key — never one global task — and no interpreter node appears") {
    val s = spark; import s.implicits._
    val log = Seq.tabulate(60)(i =>
      (s"acct-${i % 7}", (i / 7).toLong, "E", i.toLong, """{"v":1}""", 1.0))
      .toDF("stream_id", "event_number", "event_type", "log_position", "data", "value")
      .withColumn("timestamp", expr("timestamp_millis(1700000000000 + log_position)"))
      .withColumn("correlation_id", lit(null).cast("string"))
    val p = graft.projections.js.JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { count: 0, first: 0 }; },
    $any: function(s, e) {
        if (s.count === 0) { s.first += e.sequenceNumber + 1; }
        s.count += 1;
        return s;
    } })""")
    assert(p.compilesToColumns)
    val df = p.states(log)
    val plan = executedPlan(df)
    // the pre-state window shuffles on the SAME key the fold aggregates
    // on; a global (unpartitioned) window would read SinglePartition here
    assert(plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("SinglePartition"), plan.take(1500))
    // compiled end-to-end: the interpreter path would show a
    // flatMapGroups over sorted groups instead
    assert(!plan.contains("FlatMapGroups"), plan.take(1500))
  }

  test("compiled non-sum pre-state folds: extremum and last-value windows " +
    "partition by the fold key; the guard recurrence needs no window at all") {
    val s = spark; import s.implicits._
    val log = Seq.tabulate(60)(i =>
      (s"acct-${i % 7}", (i / 7).toLong, if (i % 3 == 0) "A" else "B",
        i.toLong, """{"v":1}""", (i % 11).toDouble))
      .toDF("stream_id", "event_number", "event_type", "log_position", "data", "value")
      .withColumn("timestamp", expr("timestamp_millis(1700000000000 + log_position)"))
      .withColumn("correlation_id", lit(null).cast("string"))
    // extremum read (running max) + string last-value read (lag-style):
    // both pre columns bind as fold-key-partitioned windows
    val p = graft.projections.js.JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { peak: 0, rises: 0, last: '', repeats: 0 }; },
    $any: function(s, e) {
        if (e.value > s.peak) { s.rises += 1; }
        s.peak = Math.max(s.peak, e.value);
        if (s.last === e.eventType) { s.repeats += 1; }
        s.last = e.eventType;
        return s;
    } })""")
    assert(p.compilesToColumns)
    val plan = executedPlan(p.states(log))
    assert(plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("SinglePartition"), plan.take(1500))
    assert(!plan.contains("FlatMapGroups"), plan.take(1500))
    // the guard recurrence alone is a pure selection aggregate — compiled
    // with NO window (nothing reads the field outside its own idiom)
    val q = graft.projections.js.JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { low: Infinity }; },
    $any: function(s, e) {
        if (e.value < s.low) { s.low = e.value; }
        return s;
    } })""")
    assert(q.compilesToColumns)
    val qplan = executedPlan(q.states(log))
    assert(!qplan.contains("Window"), qplan.take(1500))
    assert(!qplan.contains("FlatMapGroups"), qplan.take(1500))
  }

  test("compiled map pre-state fold: the per-key window partitions by " +
    "(fold key, map key) — never one global task — and no interpreter node") {
    val s = spark; import s.implicits._
    val log = Seq.tabulate(60)(i =>
      (s"acct-${i % 7}", (i / 7).toLong, if (i % 3 == 0) "A" else "B",
        i.toLong, """{"v":1}""", (i % 11).toDouble))
      .toDF("stream_id", "event_number", "event_type", "log_position", "data", "value")
      .withColumn("timestamp", expr("timestamp_millis(1700000000000 + log_position)"))
      .withColumn("correlation_id", lit(null).cast("string"))
    val p = graft.projections.js.JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { seen: {}, rep: 0 }; },
    $any: function(s, e) {
        if (s.seen[e.eventType]) { s.rep += 1; }
        s.seen[e.eventType] = (s.seen[e.eventType] || 0) + 1;
        return s;
    } })""")
    assert(p.compilesToColumns)
    val plan = executedPlan(p.states(log))
    // the (fold key, map key) window shuffles on a composite hash
    // partitioning; a global window would read SinglePartition
    assert(plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("SinglePartition"), plan.take(1500))
    assert(!plan.contains("FlatMapGroups"), plan.take(1500))
  }

  test("compiled array pre-state fold: the membership window partitions " +
    "by (fold key, value), the length window by the fold key — never one " +
    "global task — and no interpreter node") {
    val s = spark; import s.implicits._
    val log = Seq.tabulate(60)(i =>
      (s"acct-${i % 7}", (i / 7).toLong, if (i % 3 == 0) "A" else "B",
        i.toLong, """{"v":1}""", (i % 11).toDouble))
      .toDF("stream_id", "event_number", "event_type", "log_position", "data", "value")
      .withColumn("timestamp", expr("timestamp_millis(1700000000000 + log_position)"))
      .withColumn("correlation_id", lit(null).cast("string"))
    val p = graft.projections.js.JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { types: [], rep: 0, deep: 0 }; },
    $any: function(s, e) {
        if (s.types.includes(e.eventType)) { s.rep += 1; }
        if (s.types.length >= 2) { s.deep += 1; }
        if (s.types.indexOf(e.eventType) === -1) { s.types.push(e.eventType); }
        return s;
    } })""")
    assert(p.compilesToColumns)
    val plan = executedPlan(p.states(log))
    assert(plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("SinglePartition"), plan.take(1500))
    assert(!plan.contains("FlatMapGroups"), plan.take(1500))
  }

  test("stateful emitted() plan: post-state window partitioned by the " +
    "fold key, posexplode select, no interpreter node (r15)") {
    val s = spark; import s.implicits._
    val log = Seq.tabulate(60)(i =>
      (s"purchase-${i % 7}", (i / 7).toLong, "purchase", i.toLong,
        """{"v":1}""", (i % 11).toDouble))
      .toDF("stream_id", "event_number", "event_type", "log_position", "data", "value")
      .withColumn("timestamp", expr("timestamp_millis(1700000000000 + log_position)"))
      .withColumn("correlation_id", lit(null).cast("string"))
    val p = graft.projections.js.JsProjection.compile(
      graft.projections.js.JsProjectionQueries.handlerCorpus
        .toMap.apply("js_emit_stateful"))
    assert(p.emitsToColumns)
    val df = p.fastEmitted(log).get.toDF()
    val plan = executedPlan(df)
    // the inclusive post-state window shuffles on the fold key — never
    // one global task — and emissions explode from a pure select
    assert(plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("SinglePartition"), plan.take(1500))
    assert(plan.contains("Generate"), plan.take(1500))
    // interpreter-free end to end
    assert(!plan.contains("FlatMapGroups") && !plan.contains("MapGroups"),
      plan.take(1500))
  }

  test("streaming stepper plan: typed flatMapGroupsWithState, no window, " +
    "no JSON-interpreter serialization in the fold") {
    val s = spark; import s.implicits._
    val log = Seq.tabulate(30)(i =>
      (s"acct-${i % 3}", (i / 3).toLong, "E", i.toLong, """{"v":1}""", i.toDouble))
      .toDF("stream_id", "event_number", "event_type", "log_position", "data", "value")
      .withColumn("timestamp", expr("timestamp_millis(1700000000000 + log_position)"))
      .withColumn("correlation_id", lit(null).cast("string"))
    val p = graft.projections.js.JsProjection.compile("""
fromAll().foreachStream().when({
    $init: function() { return { count: 0, first: 0 }; },
    $any: function(s, e) {
        if (s.count === 0) { s.first += 1; }
        s.count += 1;
        return s;
    } })""")
    assert(p.compilesToColumns)
    val ds = p.fastStatesStream(log)
    assert(ds.isDefined, "pre-state plan must take the stepper path")
    val plan = executedPlan(ds.get.toDF())
    // the whole point: per-key TYPED state, not a per-batch window
    // (batch execution lowers flatMapGroupsWithState to MapGroups; the
    // streaming run uses FlatMapGroupsWithStateExec — both print
    // "MapGroups")
    assert(plan.contains("MapGroups"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("substring-dedup census joins are equi-joins, never cartesian") {
    val s = spark; import s.implicits._
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, if (i % 2 == 0) "a b c d e f g h i j" else s"u$i v$i w$i x$i y$i z$i p$i q$i"))
      .toDF("doc_id", "text")
    Seq(graft.analytics.Dedup.substringDupStats(docs, k = 8),
        graft.analytics.Dedup.substringDupRemove(docs, k = 8)).foreach { df =>
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        plan.take(1500))
    }
  }

  test("naiveBayesClassify: the one-row model broadcasts and the corpus " +
    "is never shuffled — no join, no window over the docs side") {
    val s = spark; import s.implicits._
    val docs = Seq.tabulate(60)(i =>
      (i.toLong, s"alpha beta w$i gamma", if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "label")
    val model = graft.analytics.Corpus.naiveBayesTrain(docs, buckets = 128)
    val plan = executedPlan(
      graft.analytics.Corpus.naiveBayesClassify(docs, model, buckets = 128))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("clusterBalancedSample: centroids broadcast; the quota window " +
    "partitions by list_id — never a single global task") {
    val s = spark; import s.implicits._
    val vecs = Seq.tabulate(60)(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val plan = executedPlan(
      graft.analytics.Similarity.clusterBalancedSample(vecs, quota = 5, nlist = 4))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("Window"), plan.take(1500))
    assert(plan.contains("hashpartitioning(list_id"), plan.take(1500))
    assert(!plan.contains("SinglePartition"), plan.take(1500))
  }
}
