package runbench

import graft.codec.GorillaAgg
import graft.core.TierSpec
import graft.ingest.WebPages
import graft.ops.{Rollup, Sketches}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The frame each stage of a tier run commits, restated from the public
  * operators `TierRunner.run` composes. The output check builds its
  * expected tables from these in memory, and the traced replay builds
  * its stages from them over the tables it has committed, so both
  * follow one definition of what every stage holds.
  */
object Stages {

  /** Stage keys in run order: the raw commit of `ingest`, the 14 keys
    * of a `RunManifest`, and `sketch_raw`, the shared raw pass of the
    * three finest sketch tiers (production charges it to `hist_1h`).
    */
  val ValueTiers: Seq[String] = TierSpec.cascade.map(_.name)
  val SketchKinds: Seq[String] = Seq("hist", "hll", "kll")
  val SketchLevels: Seq[String] = Seq("1h", "1d", "30d")
  val SketchTiers: Seq[String] =
    for (level <- SketchLevels; kind <- SketchKinds) yield s"${kind}_$level"
  val ManifestKeys: Seq[String] = ValueTiers ++ ("blocks" +: SketchTiers)
  val TableKeys: Seq[String] = "raw" +: ManifestKeys
  val AllKeys: Seq[String] = TableKeys :+ "sketch_raw"

  /** Table directory of a stage under a `TierRunner` root. */
  def tableDir(key: String): String = key match {
    case "raw"                        => "tier_raw"
    case "blocks"                     => "blocks_5m"
    case k if ValueTiers.contains(k)  => s"tier_$k"
    case k                            => k
  }

  /** KLL and HLL sketch bytes depend on the order rows reach them (HLL
    * keeps small sketches as a list in arrival order), so their bytes are
    * not a stable checksum; these tiers are compared by row count and
    * summed `n`.
    */
  def orderSensitive(key: String): Boolean =
    key.startsWith("kll_") || key.startsWith("hll_")

  val HistBands = 8
  private val Day = TierSpec.T1d.seconds

  def dayOf(c: Column): Column = c - (c % Day)

  def withDay(pages: DataFrame): DataFrame =
    pages.withColumn("day_epoch", dayOf(col("warc_epoch")))

  def partitionOf(tier: TierSpec): Column =
    if (tier.seconds <= Day) dayOf(col("bucket_epoch")) else col("bucket_epoch")

  /** 5m tier from raw pages, with the html-decoded text hash. */
  def fiveMinute(raw: DataFrame): DataFrame =
    Rollup.fromRawFlagged(raw, TierSpec.T5m,
        textSha = Some(xxhash64(WebPages.extractText(col("html")))))
      .withColumn("day_epoch", partitionOf(TierSpec.T5m))

  /** 1h, 1d or 30d tier from the next finer tier. */
  def cascade(finer: DataFrame, tier: TierSpec): DataFrame =
    Rollup.cascadeFlagged(finer, tier).withColumn("day_epoch", partitionOf(tier))

  /** One four-channel Gorilla block per (domain, day) of the 5m tier. */
  def blocks(t5m: DataFrame): DataFrame = {
    def enc(v: Column) = GorillaAgg.gorillaEncode(col("bucket_epoch"), v)
    t5m.groupBy(col("domain"), col("day_epoch"))
      .agg(
        enc(coalesce(col("sum_value_micros").cast("double"),
                     lit(Double.NaN))).as("block"),
        enc(col("n_ok").cast("double")).as("ok_block"),
        enc(col("n_nodata").cast("double")).as("nodata_block"),
        enc(col("n_undetect").cast("double")).as("undetect_block"))
  }

  /** The shared 1h raw pass feeding hist_1h, hll_1h and kll_1h. */
  def sketchRaw(raw: DataFrame): DataFrame =
    Sketches.allFromRaw(
        raw.withColumn("value_micros", Rollup.micros(col("value"))),
        TierSpec.T1h, "value_micros", HistBands)
      .withColumn("day_epoch", dayOf(col("bucket_epoch")))

  /** One finest sketch tier's columns out of the shared raw pass. */
  def sketch1h(kind: String, shared: DataFrame, days: Set[String]): DataFrame = {
    val names = kind match {
      case "hist" => (0 until HistBands).map(i => s"h$i")
      case "hll"  => Seq("key_hll", "n")
      case "kll"  => Seq("val_kll", "n")
    }
    shared.filter(col("day_epoch").isin(days.map(_.toLong).toSeq: _*))
      .select(("domain" +: "bucket_epoch" +: names :+ "day_epoch").map(col): _*)
  }

  /** A 1d or 30d sketch tier merged from the next finer level. */
  def sketchCascade(kind: String, finer: DataFrame, tier: TierSpec): DataFrame = {
    val merged = kind match {
      case "hist" => Sketches.histCascade(finer, tier, HistBands)
      case "hll"  => Sketches.cascade(finer, tier)
      case "kll"  => Sketches.quantCascade(finer, tier)
    }
    merged.withColumn("day_epoch", col("bucket_epoch"))
  }

  /** Start of the 30d bucket holding a day partition. */
  def bucket30d(day: String): String = {
    val w = TierSpec.T30d.seconds
    (day.toLong - day.toLong % w).toString
  }
}
