package graft.projections

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions._
import graft.sources.EventLogStore

/** P20 checkpoint persistence with the reference's stream naming:
  * per-partition state JSON is appended to `$projections-{name}-checkpoint`
  * (DefaultCheckpointManager / ProjectionNamesBuilder), tagged with the
  * log position the state covers (the CheckpointTag). Resume = load the
  * latest checkpoint + FoldBuilder.statesFrom past its position. */
object ProjectionCheckpoints {

  def checkpointStream(name: String): String = s"$$projections-$name-checkpoint"

  /** Persist states covering the log up to `position` (inclusive).
    * Idempotent per (epoch, name, position, partition) — the epoch in the
    * id + body makes post-reset checkpoints distinct from (truncated)
    * pre-reset ones. Returns rows written. */
  def save[S](store: EventLogStore, name: String, position: Long,
      states: Dataset[(String, S)], serialize: S => String): Long = {
    val spark = states.sparkSession
    import spark.implicits._
    val (epoch, resetPending, runState) = ProjectionLifecycle.statusFull(store, name)
    if (resetPending)
      throw new IllegalStateException(
        s"projection $name has a half-applied reset; re-run " +
          "ProjectionLifecycle.reset before checkpointing")
    ProjectionLifecycle.requireEnabled(name, runState)
    val tag = if (epoch == 0) name else s"$name@$epoch"
    val pending = states.map { case (k, s) => (k, serialize(s)) }
      .toDF("partition", "state")
      .select(
        lit(checkpointStream(name)).as("stream_id"),
        concat_ws(":", lit(tag), lit(position), col("partition")).as("event_id"),
        lit("$ProjectionCheckpoint").as("event_type"),
        to_json(struct(col("partition"), col("state"),
          lit(position).as("position"), lit(epoch).as("epoch"))).as("data"),
        lit(null).cast("string").as("metadata"),
        lit(null).cast("string").as("correlation_id"),
        lit(null).cast("timestamp").as("timestamp"))
    store.appendIdempotent(pending, orderBy = Seq("event_id"))
  }

  /** Load the most recent checkpoint of the CURRENT epoch: (covered
    * position, per-partition states), or None if the projection has never
    * checkpointed since its last reset. */
  def loadLatest[S](store: EventLogStore, name: String,
      deserialize: String => S)(
      implicit enc: Encoder[(String, S)]): Option[(Long, Dataset[(String, S)])] = {
    val spark = store.read().sparkSession
    import spark.implicits._
    val epoch = ProjectionLifecycle.epoch(store, name)
    val cps = store.read()
      .where(col("stream_id") === checkpointStream(name))
      .where(coalesce(get_json_object(col("data"), "$.epoch").cast("int"),
        lit(0)) === epoch)
      .select(
        get_json_object(col("data"), "$.partition").as("partition"),
        get_json_object(col("data"), "$.state").as("state"),
        get_json_object(col("data"), "$.position").cast("long").as("position"))
    val maxPos = cps.agg(max(col("position"))).as[Option[Long]].head()
    maxPos.map { p =>
      (p, cps.where(col("position") === p)
        .select(col("partition"), col("state"))
        .as[(String, String)]
        .map { case (k, s) => (k, deserialize(s)) })
    }
  }
}
