package runbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Everything is a pure function of the seed:
  * randomness comes from `xxhash64(seed, stream, id)`, never from task
  * order, so one seed always yields the same rows.
  *
  * The generator writes a base directory in the layout `WebPages.load`
  * reads (`documents.parquet`, `events.parquet`); the pages handed to the
  * program are `Bench.replicatedPages` over it, written out as parquet so
  * that generating them is never charged to a timed refresh.
  */
object Inputs {

  /** 2024-01-01T00:00:00Z. */
  val StartEpoch = 1704067200L
  val Day = 86400L

  /** Uniform double in [0, 1) for row `id` on an independent stream. */
  def uniform(seed: Long, stream: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(stream), id), lit(1L << 53)).cast("double") /
      lit((1L << 53).toDouble)

  private val Vocabulary = ("batch part spark line column order small sort fast " +
    "value scan query agg table hash vector filter customer slow stream key " +
    "group window tier bucket radar profile height density").split(" ")
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  private val EventTypes = Seq("signup", "click", "error", "view", "purchase")

  /** Write `documents.parquet` and `events.parquet` under `dir`: `events`
    * fetches spread evenly over `days` days, `docs` documents of 44–577
    * characters over 20 sources.
    */
  def writeBase(spark: SparkSession, dir: String, seed: Long,
                events: Long, days: Int, docs: Int = 5000): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val docRows = (0 until docs).map { id =>
      val target = 44 + rnd.nextInt(534)
      val sb = new StringBuilder
      while (sb.length < target) {
        if (sb.nonEmpty) sb.append(' ')
        sb.append(Vocabulary(rnd.nextInt(Vocabulary.length)))
      }
      val text = sb.toString
      val p = rnd.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, w)) => (l, acc + w) }
        .tail.find(_._2 > p).map(_._1).getOrElse(Langs.last._1)
      (id.toLong, text, lang, s"src${id % 20}", text.length.toLong)
    }
    docRows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // a minute of slack at the end keeps every replica (shifted by up to
    // `replicate` − 1 seconds) inside the last day, so each seed yields
    // exactly `days` day partitions
    val step = (days * Day - 60).toDouble / events
    val id = col("id")
    spark.range(0, events, 1, 4)
      .select(
        id.as("event_id"),
        (lit(StartEpoch.toDouble) + (id.cast("double") + uniform(seed, 1, id)) * lit(step))
          .cast("timestamp").as("ts"),
        element_at(array(EventTypes.map(lit): _*),
          (uniform(seed, 2, id) * EventTypes.size).cast("int") + 1).as("event_type"),
        round(-log(lit(1.0) - uniform(seed, 3, id)) * 50.0, 2).as("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Remap `domain` by a seeded draw: a quarter of the rows go to one
    * head domain, the rest follow Zipf(1) over `domains` − 1 others.
    */
  def zipfDomains(pages: DataFrame, seed: Long, domains: Int): DataFrame = {
    val u = uniform(seed, 4, col("event_id"))
    val v = uniform(seed, 5, col("event_id"))
    // inverse CDF of the continuous Zipf(1) approximation over [1, n)
    val rank = floor(exp(v * math.log(domains - 1.0))).cast("long")
    pages.withColumn("domain",
      when(u < 0.25, lit("d0.example.org"))
        .otherwise(concat(lit("d"), rank.cast("string"), lit(".example.org"))))
  }

  /** A re-delivery of the last `days` days of `pages`: half of their
    * rows again with corrected values, plus late rows under new ids
    * (one per ten rows), as a daily recompute would receive them.
    */
  def redelivery(pages: DataFrame, seed: Long, days: Int): DataFrame = {
    val id = col("event_id")
    val lastDay = pages.agg(max(Stages.dayOf(col("warc_epoch")))).head().getLong(0)
    val recent = pages.filter(Stages.dayOf(col("warc_epoch")) > lit(lastDay - days * Day))
    val corrected = recent.filter(uniform(seed, 6, id) < 0.5)
      .withColumn("value", round(col("value") * (uniform(seed, 7, id) + 0.5), 2))
    val late = recent.filter(uniform(seed, 8, id) < 0.1)
      .withColumn("event_id", id + lit(1L << 40))
      .withColumn("value", round(col("value") * (uniform(seed, 9, id) + 0.5), 2))
    corrected.unionByName(late)
  }

  /** The raw table a run must end with after ingesting `increment` on
    * top of `history`: rows of the increment's days whose `event_id`
    * the increment re-delivers are replaced, all others stay.
    */
  def merged(history: DataFrame, increment: DataFrame): DataFrame = {
    val touched = increment.select(Stages.dayOf(col("warc_epoch")).as("d")).distinct()
    val inTouched = history.join(broadcast(touched),
      Stages.dayOf(col("warc_epoch")) === col("d"), "left_semi")
    val untouched = history.join(broadcast(touched),
      Stages.dayOf(col("warc_epoch")) === col("d"), "left_anti")
    untouched
      .unionByName(inTouched.join(increment.select("event_id").distinct(),
        Seq("event_id"), "left_anti"))
      .unionByName(increment)
  }
}
