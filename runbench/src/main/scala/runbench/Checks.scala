package runbench

import graft.core.TierSpec
import graft.table.TierTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rows and content summary of one day partition: the manifest checksum
  * (XOR of per-row xxhash64 over name-sorted columns, as `TierTable`
  * commits it), or the summed `n` for an order-sensitive tier.
  */
final case class PartStat(rows: Long, summary: Long)

object Checks {

  type Tables = Map[String, Map[String, PartStat]]

  /** Per-partition stats of a frame partitioned by `day_epoch`, as rows
    * (key, p, rows, summary).
    */
  private def statsFrame(key: String, df: DataFrame): DataFrame = {
    val summary =
      if (Stages.orderSensitive(key)) sum(col("n"))
      else expr(s"bit_xor(xxhash64(${df.columns.sorted.map(c => s"`$c`").mkString(",")}))")
    df.groupBy(col("day_epoch").cast("string").as("p"))
      .agg(count(lit(1)).as("rows"), summary.cast("long").as("summary"))
      .select(lit(key).as("key"), col("p"), col("rows"), col("summary"))
  }

  /** Stats of several tables in one Spark job: the union lets the
    * planner share the exchanges the tables have in common.
    */
  private def collectStats(frames: Seq[(String, DataFrame)]): Tables =
    if (frames.isEmpty) Map.empty
    else frames.map { case (k, df) => statsFrame(k, df) }.reduce(_ unionByName _)
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        k -> rows.map(r => r.getString(1) -> PartStat(r.getLong(2), r.getLong(3))).toMap }

  /** What every table of a run must hold after a full rebuild of `raw`,
    * computed in memory with no commit in between.
    */
  def expected(raw: DataFrame): Tables = {
    val frames = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    frames("raw") = Stages.withDay(raw)
    frames("5m") = Stages.fiveMinute(raw)
    for (Seq(finer, tier) <- TierSpec.cascade.sliding(2))
      frames(tier.name) = Stages.cascade(frames(finer.name), tier)
    frames("blocks") = Stages.blocks(frames("5m"))
    val shared = Stages.sketchRaw(raw)
    val days = Stages.withDay(raw).select(col("day_epoch").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    for (kind <- Stages.SketchKinds) {
      frames(s"${kind}_1h") = Stages.sketch1h(kind, shared, days)
      frames(s"${kind}_1d") = Stages.sketchCascade(kind, frames(s"${kind}_1h"), TierSpec.T1d)
      frames(s"${kind}_30d") = Stages.sketchCascade(kind, frames(s"${kind}_1d"), TierSpec.T30d)
    }
    val stats = collectStats(frames.toSeq)
    Stages.TableKeys.map(k => k -> stats.getOrElse(k, Map.empty[String, PartStat])).toMap
  }

  /** Per-partition stats of every table committed under a run root:
    * manifest checksums, and for order-sensitive tiers a read of the
    * committed rows.
    */
  def observed(spark: SparkSession, root: String): Tables = {
    val tables = Stages.TableKeys.map(k =>
      k -> new TierTable(s"$root/${Stages.tableDir(k)}", spark))
    val read = collectStats(tables.collect {
      case (k, t) if Stages.orderSensitive(k) && t.currentSnapshotId.isDefined => k -> t.read()
    })
    tables.map { case (k, t) =>
      k -> (
        if (Stages.orderSensitive(k)) read.getOrElse(k, Map.empty[String, PartStat])
        else t.currentManifest.map(_.partitions.collect {
          case (p, e) if e.path.nonEmpty => p -> PartStat(e.rows, e.checksum)
        }).getOrElse(Map.empty[String, PartStat]))
    }.toMap
  }

  /** One line per table whose partitions differ, empty when all agree. */
  def diff(want: Tables, got: Tables): Seq[String] =
    Stages.TableKeys.flatMap { key =>
      val w = want.getOrElse(key, Map.empty)
      val g = got.getOrElse(key, Map.empty)
      val bad = (w.keySet ++ g.keySet).toSeq.sorted.filter(p => w.get(p) != g.get(p))
      if (bad.isEmpty) None
      else Some(s"$key: ${bad.size} partition(s) differ, first ${bad.head}: " +
        s"want ${w.get(bad.head)} got ${g.get(bad.head)}")
    }
}
