package runbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import graft.core.{CurationRuleset, TierSpec}
import graft.run.{RunEntry, RunManifest}
import graft.table.{PartitionLineage, TierTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed interval of the traced replay. `parent` is the id of the
  * enclosing span, -1 at the top.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of one replay, kept in memory until the run ends. */
final class Tracer {
  private val done = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var next = 0

  def apply[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      open = open.tail
      done += Span(id, parent, name, t0, System.nanoTime())
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Summed seconds of every span with this name. */
  def seconds(name: String): Double = done.filter(_.name == name).map(_.seconds).sum

  /** Seconds of a span not covered by its direct children. */
  def selfSeconds(name: String): Double =
    done.filter(_.name == name).map { s =>
      s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum
    }.sum
}

/** The stage sequence of `TierRunner.ingest` + `TierRunner.run`, replayed
  * through the public operators and `TierTable` calls with a span around
  * each call. Every stage runs under `setJobGroup(<stage key>)` so Spark
  * task metrics can be charged to it. Each stage frame is materialised
  * (persisted and counted) before its commit, which is what splits
  * compute time from commit time; the extra pass is part of the tracing
  * overhead.
  */
final class Replay(spark: SparkSession, root: Path, trace: Tracer) {

  private def table(key: String): TierTable =
    new TierTable(s"$root/${Stages.tableDir(key)}", spark).init()

  private val entries = Vector.newBuilder[RunEntry]
  private var inputSnapshot = -1L
  /** Rows of the Gorilla block stage, once it has run. */
  var blockCount = 0L

  private def group[T](key: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(key, key)
    try trace(key)(body) finally spark.sparkContext.clearJobGroup()
  }

  /** Materialise a stage frame, commit it, and record its run entries. */
  private def stage(key: String, frame: DataFrame, partitions: Set[String],
                    computeSpan: String): Long = {
    val t0 = System.nanoTime()
    val rows = trace(computeSpan) {
      frame.persist().count()
    }
    val lineage = partitions.map(_ -> PartitionLineage(inputSnapshot, "ok")).toMap
    val m = trace(s"table.$key.commit") {
      table(key).commitOverwrite(frame, "day_epoch", lineage)
    }
    val ms = (System.nanoTime() - t0) / 1000000L
    partitions.foreach(p =>
      entries += RunEntry(key, p, m.partitions.get(p).map(_.rows).getOrElse(0L), "ok", ms))
    rows
  }

  /** `ingest` then `run`; returns the run's manifest. */
  def refresh(pages: DataFrame, runId: String): RunManifest = trace("refresh") {
    val touched = trace("ingest")(ingest(pages))
    trace("run")(run(runId, touched))
  }

  private def ingest(pages: DataFrame): Set[String] = group("raw") {
    val raw = table("raw")
    val withDay = Stages.withDay(pages)
    val touched = trace("ops.raw.compute") {
      withDay.select("day_epoch").distinct().collect().map(_.getLong(0).toString).toSet
    }
    val existing = trace("table.raw.read") {
      val days = raw.partitionKeys intersect touched
      if (days.isEmpty) None else Some(raw.read(days))
    }
    val merged = existing.fold(withDay)(
      _.join(withDay.select("event_id").distinct(), Seq("event_id"), "left_anti")
        .unionByName(withDay))
    val clustered = merged.repartition(col("day_epoch"), col("url_bucket"))
    trace("ops.raw.compute")(clustered.persist().count())
    trace("table.raw.commit")(raw.commitOverwrite(clustered, "day_epoch"))
    touched
  }

  private def members(key: String, buckets: Set[String]): DataFrame = {
    val t = table(key)
    t.read(t.partitionKeys.filter(d => buckets.contains(Stages.bucket30d(d))))
  }

  private def run(runId: String, touched: Set[String]): RunManifest = {
    CurationRuleset(CurationRuleset.Default.version)
    inputSnapshot = table("raw").currentSnapshotId.get
    val touched30d = touched.map(Stages.bucket30d)

    var finer: DataFrame = null
    for ((tier, next) <- TierSpec.cascade.zip(Stages.ValueTiers.tail :+ "")) {
      val key = tier.name
      group(key) {
        val frame = tier match {
          case TierSpec.T5m  =>
            Stages.fiveMinute(trace("table.5m.read")(table("raw").read(touched)))
          case TierSpec.T30d =>
            Stages.cascade(trace("table.30d.read")(members("1d", touched30d)), tier)
          case _             => Stages.cascade(finer, tier)
        }
        stage(key, frame, if (tier == TierSpec.T30d) touched30d else touched,
              s"ops.$key.compute")
      }
      // the next tier's input: production re-reads what it just committed
      if (next.nonEmpty) finer = group(next)(trace(s"table.$next.read")(table(key).read(touched)))
    }

    group("blocks") {
      val t5m = trace("table.blocks.read")(table("5m").read(touched))
      blockCount = stage("blocks", Stages.blocks(t5m), touched, "codec.blocks.compute")
    }

    val shared = group("sketch_raw") {
      val raw = trace("table.sketch_raw.read")(table("raw").read(touched))
      val f = Stages.sketchRaw(raw).persist()
      trace("ops.sketch_raw.compute")(f.count())
      f
    }
    try Stages.SketchKinds.foreach { kind =>
      val key = s"${kind}_1h"
      group(key)(stage(key, Stages.sketch1h(kind, shared, touched), touched,
                       s"ops.$key.compute"))
    } finally shared.unpersist()
    for (tier <- Seq(TierSpec.T1d, TierSpec.T30d); kind <- Stages.SketchKinds) {
      val key = s"${kind}_${tier.name}"
      val finerKey = s"${kind}_${if (tier == TierSpec.T1d) "1h" else "1d"}"
      val parts = if (tier == TierSpec.T1d) touched else touched30d
      group(key) {
        val in = trace(s"table.$key.read") {
          if (tier == TierSpec.T1d) table(finerKey).read(touched) else members(finerKey, parts)
        }
        stage(key, Stages.sketchCascade(kind, in, tier), parts, s"ops.$key.compute")
      }
    }

    trace("run.checkpoint") {
      val manifest = RunManifest(runId, inputSnapshot, entries.result())
      val ckpt = root.resolve(s"checkpoints/run-$runId.json")
      Files.createDirectories(ckpt.getParent)
      val tmp = ckpt.resolveSibling(s".run-$runId.json.tmp")
      Files.writeString(tmp, manifest.toJson)
      Files.move(tmp, ckpt, StandardCopyOption.ATOMIC_MOVE,
                 StandardCopyOption.REPLACE_EXISTING)
      manifest
    }
  }
}
