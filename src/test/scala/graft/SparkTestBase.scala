package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.EventEnvelope

/** One SparkSession for the whole forked test JVM, built by the library's
  * own session factory so every test runs under its settings. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Build an envelope DataFrame from compact tuples:
    * (stream_id, event_number, event_type, log_position[, data[, timestamp]]). */
  def envelope(rows: Seq[EventEnvelope]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDS().toDF()
  }

  def ev(streamId: String, number: Long, eventType: String, pos: Long,
      data: String = null, timestamp: java.sql.Timestamp = ts("2024-01-01 00:00:00"),
      metadata: String = null, correlationId: String = null): EventEnvelope =
    EventEnvelope(streamId, number, s"id-$streamId-$number", eventType,
      timestamp, pos, correlationId, is_json = true, data, metadata)

  def collectSet(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.head, cols.tail: _*).collect().map(_.toSeq.toVector: Seq[Any]).toSet
}
