package graft.run

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.core.TierSpec
import graft.ops.{Rollup, Sketches}
import graft.table.{PartitionLineage, TierTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental tier-cascade runner: raw web pages → 5m → 1h → 1d → 30d
  * tier tables, maintained as incrementally-merged snapshots.
  *
  * Semantics (reference mapping):
  *  - I1 watermark: an incremental run recomputes only the day-buckets
  *    whose raw input changed (here: the days present in the new input
  *    increment), like `--modified-days-ago`
  *    (/root/reference/src/vptstools/bin/vph5_to_vpts.py:44-51,120-144).
  *  - I2 late data: recompute-the-partition, not merge-the-delta —
  *    each touched day partition of each tier is rebuilt from the
  *    finer tier and committed copy-on-write
  *    (vph5_to_vpts.py:153-202).
  *  - I3 failure isolation: per-partition try/catch with a status row
  *    in the run manifest (vph5_to_vpts.py:198-201).
  *  - K4 lineage: each run writes a checkpoint manifest recording per
  *    partition {input snapshot id, bucket id, row count, checksum,
  *    status} (vpts.py:320-343 descriptor, generalized).
  *  - I5/resume: a rerun of the same run id skips partitions already
  *    committed ok (idempotent replays).
  *
  * Partition column: the 1d bucket (`day_epoch`) at every tier — day
  * is the natural recompute unit (matches the reference's daily files)
  * and divides all tier widths except 30d, whose buckets are rebuilt
  * from any touched member day.
  */
final class TierRunner(spark: SparkSession, root: String) {

  private def tableFor(tier: TierSpec): TierTable =
    new TierTable(s"$root/tier_${tier.name}", spark).init()

  /** Start of the width-aligned bucket containing a day partition key —
    * the ONE definition of coarse-bucket membership shared by the value
    * cascade's 30d branch and the sketch ladders' 30d levels (a
    * divergence here would silently desynchronize them).
    */
  private def bucketStart(day: String, widthSeconds: Long): String =
    (day.toLong - (day.toLong % widthSeconds)).toString

  /** Day partitions of `tbl` that are members of the given width-aligned
    * buckets. */
  private def memberDays(tbl: TierTable, buckets: Set[String],
                         widthSeconds: Long): Set[String] =
    tbl.partitionKeys.filter(d => buckets.contains(bucketStart(d, widthSeconds)))

  private val rawTable = new TierTable(s"$root/tier_raw", spark).init()
  private val blocksTable = new TierTable(s"$root/blocks_5m", spark).init()
  // continuous-aggregate sketch tiers, maintained through the SAME
  // watermark/lineage machinery as the rollup cascade (VERDICT r4 #3):
  // an exact mergeable histogram ladder (1h→1d, per-band sums) and an
  // HLL distinct-url ladder (1h→1d, register-union) — a distinct-count
  // or distribution query over years of data reads a day-partitioned
  // sketch tier, never raw
  private val histTable1h = new TierTable(s"$root/hist_1h", spark).init()
  private val histTable1d = new TierTable(s"$root/hist_1d", spark).init()
  private val hllTable1h = new TierTable(s"$root/hll_1h", spark).init()
  private val hllTable1d = new TierTable(s"$root/hll_1d", spark).init()
  private val kllTable1h = new TierTable(s"$root/kll_1h", spark).init()
  private val kllTable1d = new TierTable(s"$root/kll_1d", spark).init()
  private val histTable30d = new TierTable(s"$root/hist_30d", spark).init()
  private val hllTable30d = new TierTable(s"$root/hll_30d", spark).init()
  private val kllTable30d = new TierTable(s"$root/kll_30d", spark).init()
  private val HistBands = 8

  /** Append a raw increment (new web pages) as a new raw snapshot,
    * partitioned by day. Returns the set of touched day partitions.
    *
    * Replay-safe: the copy-on-write merge anti-joins existing rows of
    * the touched days against the increment's `dedupKey` (default:
    * `event_id`, the fetch identity), so the increment *replaces* any
    * prior rows with the same key — re-running a crashed ingest (raw
    * snapshot committed, checkpoint not yet written) is a no-op
    * instead of doubling the touched days' rows.
    */
  def ingest(pages: DataFrame,
             dedupKey: Seq[String] = Seq("event_id")): Set[String] = {
    val withDay = pages.withColumn("day_epoch",
      (col("warc_epoch") - (col("warc_epoch") % TierSpec.T1d.seconds)))
    // copy-on-write by day: merge the increment with existing rows of
    // the touched days so a day partition is always complete
    val touchedDays = withDay.select("day_epoch").distinct()
      .collect().map(_.getLong(0).toString).toSet
    val existingDays = rawTable.partitionKeys intersect touchedDays
    val merged =
      if (existingDays.isEmpty) withDay
      else rawTable.read(existingDays)
        .join(withDay.select(dedupKey.map(col): _*).distinct(),
              dedupKey, "left_anti")
        .unionByName(withDay)
    // explicit clustering: one task (→ one file) per (day, url-bucket),
    // so downstream same-bucket reads/joins are co-located
    val clustered =
      if (merged.columns.contains("url_bucket"))
        merged.repartition(col("day_epoch"), col("url_bucket"))
      else merged
    rawTable.commitOverwrite(clustered, "day_epoch")
    touchedDays
  }

  /** Total rows in the current raw snapshot (manifest metadata, no scan). */
  def rawRows: Long = rawTable.currentManifest.map(_.totalRows).getOrElse(0L)

  /** Run the cascade incrementally for the given touched day
    * partitions; write a checkpoint manifest under `runId`. Resumable:
    * partitions marked ok in an existing manifest for `runId` are
    * skipped.
    */
  def run(runId: String, touchedDays: Set[String],
          rulesetVersion: String =
            graft.core.CurationRuleset.Default.version): RunManifest = {
    // the recorded version must RESOLVE — a typo'd version written into
    // the checkpoint would defeat the reproduce/audit contract
    graft.core.CurationRuleset(rulesetVersion)
    val ckptPath = Paths.get(s"$root/checkpoints/run-$runId.json")
    Files.createDirectories(ckptPath.getParent)
    val previous: Map[String, String] =
      if (Files.exists(ckptPath))
        RunManifest.parseStatuses(Files.readString(ckptPath))
      else Map.empty

    val inputSnapshot = rawTable.currentSnapshotId.getOrElse(
      throw new IllegalStateException("no raw snapshot ingested"))

    val entries = Vector.newBuilder[RunEntry]

    // Dependency-aware failure isolation: if a tier's commit (or its
    // snapshot read) fails, every tier downstream of it is recorded as
    // skipped:upstream_failed rather than silently rebuilt from the
    // previous (stale) snapshot and marked ok with lineage pointing at
    // the new input — the checkpoint manifest must never misrepresent
    // which tiers reflect the current input.
    val failed = scala.collection.mutable.Set[String]()

    // One stage harness for every tier: resume-skip, dependency-aware
    // failure isolation, one copy-on-write commit, per-partition
    // lineage + metrics. `compute(todo)` reads only the partitions it
    // recomputes, so a resume under a wider touched set leaves the
    // partitions already committed ok untouched.
    def runStage(key: String, upstream: Option[String],
                 table: TierTable,
                 partitions: Set[String] = touchedDays)
                (compute: Set[String] => DataFrame): Unit = {
      val already = partitions.filter(p =>
        previous.get(s"$key/$p").contains("ok"))
      val todo = partitions -- already
      // resumed partitions must be re-recorded: the checkpoint is
      // rewritten whole, and dropping them would make the NEXT resume
      // rebuild every partition of this stage
      already.foreach(p => entries += RunEntry(key, p, -1L, "ok", 0L))
      val t0 = System.nanoTime()
      def elapsedMs: Long = (System.nanoTime() - t0) / 1000000L
      if (todo.isEmpty) return
      if (upstream.exists(failed.contains)) {
        failed += key
        todo.foreach(p => entries += RunEntry(key, p, 0L, "skipped:upstream_failed", 0L))
      } else try {
        val lineage = todo.map(p =>
          p -> PartitionLineage(inputSnapshot, "ok")).toMap
        val m = table.commitOverwrite(compute(todo), "day_epoch", lineage)
        val ms = elapsedMs
        todo.foreach { p =>
          entries += RunEntry(key, p,
            m.partitions.get(p).map(_.rows).getOrElse(0L), "ok", ms)
        }
      } catch {
        case e: Exception =>
          failed += key
          todo.foreach(p => entries += RunEntry(key, p, 0L,
            s"error:${e.getClass.getSimpleName}", elapsedMs))
      }
    }

    def dayCol(c: org.apache.spark.sql.Column) =
      c - (c % TierSpec.T1d.seconds)
    val touched30d: Set[String] =
      touchedDays.map(bucketStart(_, TierSpec.T30d.seconds))

    // ---- The value cascade: 5m from the touched raw days, each coarser
    // tier merged from the finer tier's committed partitions. Flagged
    // measures: three-state missingness (OK/NODATA/UNDETECT counts,
    // OK-only value aggregates) travels the whole production cascade.
    // text_sha: the byte-identical-text invariant, hashed from the html
    // payload per raw row and XOR-folded up every tier. Day is the
    // partition unit up to 1d; a 30d bucket is its own partition,
    // rebuilt whole from the 1d partitions that are members of it.
    val finerOf = TierSpec.cascade.zip(None +: TierSpec.cascade.map(Some(_)))
    for ((tier, finer) <- finerOf) {
      val byDay = tier.seconds <= TierSpec.T1d.seconds
      runStage(tier.name, finer.map(_.name), tableFor(tier),
               if (byDay) touchedDays else touched30d) { todo =>
        val rolled = finer match {
          case None =>
            Rollup.fromRaw(rawTable.read(todo), tier, family = Rollup.Flagged,
              textSha = Some(xxhash64(
                graft.ingest.WebPages.extractText(col("html")))))
          case Some(f) =>
            val src = tableFor(f)
            Rollup.cascade(
              src.read(if (byDay) todo else memberDays(src, todo, tier.seconds)),
              tier)
        }
        rolled.withColumn("day_epoch",
          if (byDay) dayCol(col("bucket_epoch")) else col("bucket_epoch"))
      }
    }

    // ---- Gorilla value blocks: one compressed binary block per
    // (series, day) over the 5m points (north-star binary column) ----
    // THREE-STATE blocks: the value channel encodes every bucket
    // (NaN where zero OK rows — the bit pattern Gorilla-XORs like
    // any other double and decode maps back to null), and three
    // parallel count channels carry the OK/NODATA/UNDETECT bucket
    // states through the codec round-trip exactly as they travel
    // the rollup cascade. All four channels share one ts grid per
    // (series, day), so decode re-aligns them positionally.
    runStage("blocks", Some(TierSpec.T5m.name), blocksTable) { todo =>
      val t5m = tableFor(TierSpec.T5m).read(todo)
      def enc(v: org.apache.spark.sql.Column) =
        graft.codec.GorillaAgg.gorillaEncode(col("bucket_epoch"), v)
      t5m.groupBy(col("domain"), col("day_epoch"))
        .agg(
          enc(coalesce(col("sum_value_micros").cast("double"),
                       lit(Double.NaN))).as("block"),
          enc(col("n_ok").cast("double")).as("ok_block"),
          enc(col("n_nodata").cast("double")).as("nodata_block"),
          enc(col("n_undetect").cast("double")).as("undetect_block"))
    }

    // ---- Sketch ladders: finest level from the touched raw days, the
    // coarser level by MERGE of the finer tier (per-band sums / HLL
    // register union) — never a raw re-scan. Day is the partition unit
    // at both levels, so I1/I2 watermark recompute and late-data
    // partition rebuilds work exactly as for the value cascade.
    // The three finest-level ladders share one grouping key, so ONE
    // raw pass (one scan + one shuffle, built lazily and only if some
    // 1h stage actually has work) feeds all three commits; each stage
    // still fails/resumes independently. Run-scoped persist,
    // unpersisted below.
    var sketch1h: Option[DataFrame] = None
    def sketch1hFrame: DataFrame = sketch1h.getOrElse {
      val f = Sketches.allFromRaw(
          rawTable.read(touchedDays)
            .withColumn("value_micros", Rollup.micros(col("value"))),
          TierSpec.T1h, "value_micros", HistBands)
        .withColumn("day_epoch", dayCol(col("bucket_epoch")))
        .persist()
      sketch1h = Some(f)
      f
    }
    def sketchCols(names: Seq[String])(todo: Set[String]): DataFrame =
      sketch1hFrame
        .filter(col("day_epoch").isin(todo.map(_.toLong).toSeq: _*))
        .select(("domain" +: "bucket_epoch" +: names :+ "day_epoch").map(col): _*)
    try {
      runStage("hist_1h", None, histTable1h)(
        sketchCols((0 until HistBands).map(i => s"h$i")))
      runStage("hll_1h", None, hllTable1h)(sketchCols(Seq("key_hll", "n")))
      runStage("kll_1h", None, kllTable1h)(sketchCols(Seq("val_kll", "n")))
    } finally sketch1h.foreach(_.unpersist())
    runStage("hist_1d", Some("hist_1h"), histTable1d) { todo =>
      Sketches.histCascade(histTable1h.read(todo), TierSpec.T1d, HistBands)
        .withColumn("day_epoch", col("bucket_epoch"))
    }
    runStage("hll_1d", Some("hll_1h"), hllTable1d) { todo =>
      Sketches.cascade(hllTable1h.read(todo), TierSpec.T1d)
        .withColumn("day_epoch", col("bucket_epoch"))
    }
    runStage("kll_1d", Some("kll_1h"), kllTable1d) { todo =>
      Sketches.quantCascade(kllTable1h.read(todo), TierSpec.T1d)
        .withColumn("day_epoch", col("bucket_epoch"))
    }
    // 30d sketch levels mirror the value cascade's 30d branch: whole
    // 30d buckets are rebuilt by MERGING exactly the 1d partitions that
    // are members of a touched bucket (register union / per-band sum /
    // KLL merge — still never a raw re-scan).
    def members30(tbl: TierTable, todo: Set[String]): Set[String] =
      memberDays(tbl, todo, TierSpec.T30d.seconds)
    runStage("hist_30d", Some("hist_1d"), histTable30d, touched30d) { todo =>
      Sketches.histCascade(histTable1d.read(members30(histTable1d, todo)),
                           TierSpec.T30d, HistBands)
        .withColumn("day_epoch", col("bucket_epoch"))
    }
    runStage("hll_30d", Some("hll_1d"), hllTable30d, touched30d) { todo =>
      Sketches.cascade(hllTable1d.read(members30(hllTable1d, todo)),
                       TierSpec.T30d)
        .withColumn("day_epoch", col("bucket_epoch"))
    }
    runStage("kll_30d", Some("kll_1d"), kllTable30d, touched30d) { todo =>
      Sketches.quantCascade(kllTable1d.read(members30(kllTable1d, todo)),
                            TierSpec.T30d)
        .withColumn("day_epoch", col("bucket_epoch"))
    }

    val manifest = RunManifest(runId, inputSnapshot, entries.result(),
                               rulesetVersion)
    val tmp = ckptPath.resolveSibling(s".run-$runId.json.tmp")
    Files.writeString(tmp, manifest.toJson)
    Files.move(tmp, ckptPath, StandardCopyOption.ATOMIC_MOVE,
               StandardCopyOption.REPLACE_EXISTING)
    manifest
  }

  /** Full-rebuild mode — the reference's `--modified-days-ago 0`
    * full-run analog (vph5_to_vpts.py:44-51): recompute every raw day
    * partition through the whole cascade under a fresh run id.
    */
  def rebuildAll(runId: String): RunManifest = run(runId, rawTable.partitionKeys)

  /** Per-tier retention: drop day partitions older than
    * `keepDays(tier)` days behind the newest day present in that tier
    * (the finest tier ages out first — the whole point of the ladder:
    * 5m kept days, 1h kept months, 30d kept forever). Manifest-only
    * (no data rewrite); unreferenced snapshot directories are
    * reclaimed immediately via [[TierTable.expireSnapshots]]. Returns
    * the dropped partition keys per tier.
    */
  def applyRetention(keepDays: Map[TierSpec, Int],
                     keepSnapshots: Int = 2,
                     keepBlockDays: Option[Int] = None,
                     keepRawDays: Option[Int] = None,
                     keepSketchDays: Option[Int] = None,
                     keepSketch30dDays: Option[Int] = None): Map[String, Set[String]] = {
    val tiers = keepDays.map { case (t, days) =>
      t.name -> dropOld(tableFor(t), days, keepSnapshots)
    }
    // the Gorilla block table, the raw day table, and the sketch
    // ladders age out on their own horizons (blocks usually share the
    // 5m tier's; raw is the replay/backfill buffer) — all
    // day-partitioned, same manifest-only mechanism
    val extra =
      keepBlockDays.map(d => "blocks" -> dropOld(blocksTable, d, keepSnapshots)) ++
      keepRawDays.map(d => "raw" -> dropOld(rawTable, d, keepSnapshots)) ++
      keepSketchDays.toSeq.flatMap(d => Seq(
        "hist_1h" -> dropOld(histTable1h, d, keepSnapshots),
        "hist_1d" -> dropOld(histTable1d, d, keepSnapshots),
        "hll_1h" -> dropOld(hllTable1h, d, keepSnapshots),
        "hll_1d" -> dropOld(hllTable1d, d, keepSnapshots),
        "kll_1h" -> dropOld(kllTable1h, d, keepSnapshots),
        "kll_1d" -> dropOld(kllTable1d, d, keepSnapshots))) ++
      // the COARSEST sketch level outlives the finer ones (the whole
      // point of the ladder) — it ages out only under its own knob,
      // never under the day-scale keepSketchDays, which would drop
      // every 30d bucket but the newest
      keepSketch30dDays.toSeq.flatMap(d => Seq(
        "hist_30d" -> dropOld(histTable30d, d, keepSnapshots),
        "hll_30d" -> dropOld(hllTable30d, d, keepSnapshots),
        "kll_30d" -> dropOld(kllTable30d, d, keepSnapshots)))
    tiers ++ extra
  }

  private def dropOld(tbl: TierTable, days: Int,
                      keepSnapshots: Int): Set[String] = {
    val keys = tbl.partitionKeys.map(_.toLong)
    if (keys.isEmpty) Set.empty[String]
    else {
      val cutoff = keys.max - days.toLong * TierSpec.T1d.seconds
      val d = tbl.commitRetention(_.toLong >= cutoff)
      tbl.expireSnapshots(keepSnapshots)
      d
    }
  }

  /** Z-order file maintenance for the raw day table — the north rule's
    * "url-hash bucketing + warc_ts range partitioning" reflected in
    * FILE layout, not just directory layout: each touched day's files
    * are rewritten as contiguous runs of z(url_bucket, hour-of-day),
    * so a scan filtered on a url bucket OR a sub-day time range prunes
    * most files by parquet column stats (the Iceberg
    * rewrite-data-files(zorder) maintenance step, run after ingest
    * settles, e.g. behind the late-data horizon). Content-neutral:
    * per-day rows and checksums unchanged (spec-pinned).
    */
  def compactRawZOrder(days: Set[String],
                       filesPerPartition: Int = 8): Unit = {
    // Dimensions of COMPARABLE bit width, or the interleave degenerates:
    // url_bucket is 4 bits (0..15); pairing it with minute-of-day
    // (11 bits) would leave minute's top 7 bits alone at the top of
    // every z value — a pure time sort, no bucket clustering. Hour-of-
    // day (5 bits, 0..23) keeps both dimensions in play; within an
    // (hour, bucket) cell, warc_epoch stays contiguous enough for
    // parquet column stats to prune sub-hour time predicates too.
    rawTable.compactPartitionsZOrderExpr(days,
      col("url_bucket"),
      ((col("warc_epoch") % TierSpec.T1d.seconds) / 3600L).cast("long"),
      bits = 5, filesPerPartition = filesPerPartition)
  }

  /** Read a tier's current snapshot. */
  def tier(t: TierSpec): DataFrame = tableFor(t).read()

  /** Read the exact histogram sketch tier (1h/1d/30d bands ladder). */
  def histTier(t: TierSpec): DataFrame = t match {
    case TierSpec.T1h => histTable1h.read()
    case TierSpec.T1d => histTable1d.read()
    case TierSpec.T30d => histTable30d.read()
    case other => throw new IllegalArgumentException(
      s"no histogram tier at ${other.name}")
  }

  /** Read the HLL distinct-url sketch tier (1h/1d/30d ladder). */
  def hllTier(t: TierSpec): DataFrame = t match {
    case TierSpec.T1h => hllTable1h.read()
    case TierSpec.T1d => hllTable1d.read()
    case TierSpec.T30d => hllTable30d.read()
    case other => throw new IllegalArgumentException(
      s"no HLL tier at ${other.name}")
  }

  /** Read the KLL quantile sketch tier (1h/1d/30d ladder). */
  def kllTier(t: TierSpec): DataFrame = t match {
    case TierSpec.T1h => kllTable1h.read()
    case TierSpec.T1d => kllTable1d.read()
    case TierSpec.T30d => kllTable30d.read()
    case other => throw new IllegalArgumentException(
      s"no KLL tier at ${other.name}")
  }

  /** Read the per-(series, day) Gorilla value blocks. */
  def blocks(): DataFrame = blocksTable.read()

  /** Decode the block table back to (domain, bucket_epoch, value,
    * n_ok, n_nodata, n_undetect) points — the generator inverse of the
    * four-channel block encode. The channels were encoded from one ts
    * grid per (series, day), so one `arrays_zip` re-aligns them
    * positionally (Gorilla decode returns ts-sorted points); the value
    * channel's NaN sentinel (bucket with zero OK rows) maps back to
    * null, mirroring the cascade's null-skipping OK-only sums.
    */
  def decodedBlocks(): DataFrame = {
    import graft.codec.GorillaAgg.gorillaDecode
    blocks()
      .select(col("domain"),
        gorillaDecode(col("block")).as("va"),
        gorillaDecode(col("ok_block")).as("oa"),
        gorillaDecode(col("nodata_block")).as("na"),
        gorillaDecode(col("undetect_block")).as("ua"))
      .select(col("domain"),
        explode(arrays_zip(col("va"), col("oa"), col("na"), col("ua")))
          .as("pt"))
      .select(col("domain"),
        col("pt.va.ts_epoch").as("bucket_epoch"),
        when(isnan(col("pt.va.value")), lit(null))
          .otherwise(col("pt.va.value")).as("value"),
        col("pt.oa.value").cast("long").as("n_ok"),
        col("pt.na.value").cast("long").as("n_nodata"),
        col("pt.ua.value").cast("long").as("n_undetect"))
  }
}

/** One (tier, partition) record of a run: lineage status + metrics
  * (row count; wall-clock of the tier commit that produced it —
  * resumed/skipped partitions carry 0).
  */
final case class RunEntry(tier: String, partition: String, rows: Long,
                          status: String, elapsedMs: Long)

/** Checkpoint manifest of one tier run: per (tier, partition) lineage
  * + metrics, plus the curation-ruleset version the run executed under
  * (the auditable config surface — [[graft.core.CurationRuleset]]).
  * The JSON is written by hand and read back with [[graft.core.Json]],
  * only for resume status.
  */
final case class RunManifest(runId: String, inputSnapshot: Long,
                             entries: Seq[RunEntry],
                             rulesetVersion: String =
                               graft.core.CurationRuleset.Default.version) {
  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val parts = entries.map { e =>
      s"""{"tier":${q(e.tier)},"partition":${q(e.partition)},"rows":${e.rows},""" +
        s""""status":${q(e.status)},"elapsed_ms":${e.elapsedMs}}"""
    }.mkString("[", ",", "]")
    s"""{"run_id":${q(runId)},"input_snapshot":$inputSnapshot,""" +
      s""""ruleset":${q(rulesetVersion)},"partitions":$parts}"""
  }
  def okCount: Int = entries.count(_.status == "ok")
}

object RunManifest {
  /** partition-status map "tier/partition" -> status. */
  def parseStatuses(json: String): Map[String, String] = {
    import graft.core.Json.field
    import scala.jdk.CollectionConverters._
    field(graft.core.Json.parse(json), "partitions").elements().asScala
      .map(e => s"${field(e, "tier").asText}/${field(e, "partition").asText}" ->
        field(e, "status").asText)
      .toMap
  }
}
