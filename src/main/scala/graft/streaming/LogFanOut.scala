package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schemas.Schemas

/** DWD log fan-out — BaseLogApp parity (SURVEY.md §3.1):
  *
  * ```
  * raw json -> strict parse (dirty side-channel)        [stateless]
  *          -> is_new correction keyed by mid           [keyed state, ST1]
  *          -> start / display / page splits            [stateless fan-out]
  * ```
  *
  * Spark has no side outputs (U3): the fan-out is N filtered projections
  * of ONE parsed DataFrame — in streaming, run inside `foreachBatch` with
  * `persist()` so the source is read once per micro-batch.
  */
object LogFanOut {

  /** Strict parse with dirty split (P2, BaseLogApp.java:45-58): returns
    * (clean, dirty). from_json yields null on malformed rows. */
  def parse(raw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = raw.withColumn("log", from_json(col("value"), Schemas.behaviorLog))
    val clean = parsed.filter(col("log").isNotNull && col("log.common.mid").isNotNull)
      .select("log.*", "value")
    val dirty = parsed.filter(col("log").isNull || col("log.common.mid").isNull)
      .select(col("value"))
    (clean, dirty)
  }

  /** Start-log split (BaseLogApp.java:103-106): records with a start
    * payload. */
  def startLog(clean: DataFrame): DataFrame =
    clean.filter(col("start").isNotNull && col("start.entry").isNotNull)
      .select(to_json(struct(col("common"), col("start"), col("ts"))).as("value"))

  /** Display-log split (BaseLogApp.java:115-133): one record per display
    * entry, page_id injected into each. */
  def displayLog(clean: DataFrame): DataFrame =
    clean.filter(col("displays").isNotNull)
      .select(col("common"), col("page.page_id").as("page_id"), col("ts"),
        explode(col("displays")).as("display"))
      .select(to_json(struct(col("common"), col("page_id"),
        col("display.item").as("item"), col("display.item_type").as("item_type"),
        col("display.order").as("order"), col("ts"))).as("value"))

  /** Page-log split (everything that is not a start record). */
  def pageLog(clean: DataFrame): DataFrame =
    clean.filter(col("start").isNull || col("start.entry").isNull)
      .filter(col("page").isNotNull)
      .select(to_json(struct(col("common"), col("page"), col("displays"), col("ts"))).as("value"))

  /** Fan-out with CROSS-BATCH is_new state (the reference's persistent
    * ValueState, BaseLogApp.java:69-94): the stateful correction runs
    * upstream of foreachBatch inside the same streaming query, so a mid
    * seen in batch 1 is returning in batch 5. Dirty rows are dropped here
    * (`parse` returns them when a quarantine sink is needed). */
  def runWithState(spark: SparkSession, source: Channel,
                   sinks: Map[String, DataFrame => Unit],
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val raw = source.readStream(spark)
    val (clean, _) = parse(raw)
    val tagged = clean.select(
      col("common.mid").as("mid"), col("ts"),
      col("common.is_new").as("isNew"), col("value").as("payload"))
      .as[StateOps.TaggedVisit]
    val corrected = StateOps.fixIsNewTagged(tagged)
    // re-parse the forwarded payload and overwrite the corrected flag
    val restored = corrected.toDF()
      .withColumn("log", from_json(col("payload"), Schemas.behaviorLog))
      .withColumn("log", col("log").withField("common.is_new", col("isNew")))
      .select("log.*", "payload")
      .withColumnRenamed("payload", "value")
    restored.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try {
          sinks.get("start").foreach(_(startLog(batch)))
          sinks.get("display").foreach(_(displayLog(batch)))
          sinks.get("page").foreach(_(pageLog(batch)))
        } finally batch.unpersist()
        ()
      }
      .start()
  }
}
