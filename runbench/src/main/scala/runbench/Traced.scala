package runbench

import java.nio.file.Files

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** The traced loop: each round makes one production refresh and one
  * traced replay of the same increment from the same starting state.
  * The production refresh gives the `graft.run` figures; the replay
  * gives the per-layer spans and Spark task metrics. A round counts only
  * when both refreshes pass the output check and their tables agree.
  */
object Traced {

  /** Names of the per-layer metrics, in print order. */
  def metricNames: Seq[(String, String)] = {
    Seq("run.ingest_s" -> "s", "run.run_s" -> "s", "run.checkpoint_s" -> "s") ++
      Stages.ManifestKeys.map(k => s"run.stage.${k}_ms" -> "ms") ++
      computedKeys.map(k => s"ops.$k.compute_s" -> "s") ++
      Seq("codec.blocks.compute_s" -> "s", "codec.blocks.count" -> "count") ++
      Stages.TableKeys.map(k => s"table.$k.commit_s" -> "s") ++
      readKeys.map(k => s"table.$k.read_s" -> "s") ++
      Seq("table.files_written" -> "count") ++
      Stages.AllKeys.flatMap(k => Seq(s"spark.$k.shuffle_bytes" -> "bytes",
                                      s"spark.$k.skew" -> "ratio")) ++
      Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
          "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
          "trace.run_s" -> "s", "trace.unattributed_s" -> "s", "trace_overhead_s" -> "s")
  }

  /** Stages whose frame the replay materialises under `ops.` (the block
    * aggregate is timed under `codec.`).
    */
  val computedKeys: Seq[String] = Stages.AllKeys.filterNot(_ == "blocks")

  /** Stages that read a committed table (raw: the touched days already
    * present, which `ingest` anti-joins against).
    */
  val readKeys: Seq[String] =
    Seq("raw") ++ Stages.ValueTiers ++ Seq("blocks", "sketch_raw") ++
      Stages.SketchTiers.filterNot(_.endsWith("_1h"))

  /** Rounds per traced run at least: one with each side first. */
  val MinRounds = 2

  def loop(spark: SparkSession, a: RunBench.Args, p: Prepared,
           listener: StageMetrics): LoopResult = {
    var rounds = Vector.empty[Map[String, Double]]
    var failures = Vector.empty[String]
    var attempted = 0
    var failed = 0
    var spanJson = Vector.empty[String]
    val start = System.nanoTime()
    do {
      attempted += 1
      val prodRoot = p.freshRoot(a.work.resolve(s"prod-$attempted"))
      val replayRoot = p.freshRoot(a.work.resolve(s"replay-$attempted"))
      try {
        val before = Workloads.files(prodRoot)
        def production() = {
          HeapWatch.reset()
          RunBench.refresh(spark, prodRoot, p, s"bench-${a.seed}-$attempted")
        }
        val tracer = new Tracer
        val replay = new Replay(spark, replayRoot, tracer)
        def traced() = {
          HeapWatch.reset()
          ListenerDrain(spark.sparkContext)
          listener.reset()
          val gc0 = HeapWatch.gcSeconds()
          val m = replay.refresh(p.increment, s"trace-${a.seed}-$attempted")
          val gcS = HeapWatch.gcSeconds() - gc0
          ListenerDrain(spark.sparkContext)
          (m, gcS, listener.snapshot())
        }
        // alternate which side runs first, so JIT warm-up still going on
        // between the two does not bias the overhead one way
        val (prod, (manifest, gcS, (groups, jobs, tasks, spill))) =
          if (attempted % 2 == 1) { val r = production(); (r, traced()) }
          else { val t = traced(); (production(), t) }
        val filesWritten = Workloads.files(prodRoot).keys.count(f => !before.contains(f))

        val prodTables = Checks.observed(spark, prodRoot.toString)
        val errors =
          RunBench.verify(spark, prodRoot, p, prod).map("production " + _) ++
            manifest.entries.filter(_.status != "ok").map(e => s"replay stage ${e.tier}: ${e.status}") ++
            Checks.diff(prodTables, Checks.observed(spark, replayRoot.toString))
              .map("replay vs production " + _)
        if (errors.nonEmpty) {
          failed += 1
          failures ++= errors.map(e => s"round $attempted: $e")
        } else {
          val runSpan = tracer.seconds("run")
          val stageMs = prod.manifest.entries.groupBy(_.tier).map { case (k, es) =>
            s"run.stage.${k}_ms" -> es.map(_.elapsedMs).max.toDouble }
          rounds :+= (Map(
            "run.ingest_s" -> prod.ingestS, "run.run_s" -> prod.runS,
            "run.checkpoint_s" -> tracer.seconds("run.checkpoint"),
            "codec.blocks.compute_s" -> tracer.seconds("codec.blocks.compute"),
            "codec.blocks.count" -> replay.blockCount.toDouble,
            "table.files_written" -> filesWritten.toDouble,
            "spark.jobs" -> jobs.toDouble, "spark.tasks" -> tasks.toDouble,
            "spark.spill_bytes" -> spill.toDouble, "spark.gc_s" -> gcS,
            "trace.run_s" -> runSpan,
            "trace.unattributed_s" -> tracer.selfSeconds("run"),
            "prod.refresh_s" -> prod.refreshS,
            "replay.refresh_s" -> tracer.seconds("refresh")) ++ stageMs ++
            computedKeys.map(k =>
              s"ops.$k.compute_s" -> tracer.seconds(s"ops.$k.compute")) ++
            Stages.TableKeys.map(k => s"table.$k.commit_s" -> tracer.seconds(s"table.$k.commit")) ++
            readKeys.map(k => s"table.$k.read_s" -> tracer.seconds(s"table.$k.read")) ++
            Stages.AllKeys.flatMap { k =>
              val (bytes, skew) = groups.getOrElse(k, (0L, 1.0))
              Seq(s"spark.$k.shuffle_bytes" -> bytes.toDouble, s"spark.$k.skew" -> skew)
            })
          spanJson :+= tracer.spans.map(s =>
            s"""{"round":$attempted,"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
              s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString(",")
        }
      } catch {
        case e: Exception =>
          failed += 1
          failures :+= s"round $attempted: $e"
      }
      Workloads.deleteTree(prodRoot)
      Workloads.deleteTree(replayRoot)
    } while (attempted < MinRounds || (System.nanoTime() - start) / 1e9 < a.seconds)

    a.spans.foreach { path =>
      Files.createDirectories(path.getParent)
      Files.writeString(path, spanJson.filter(_.nonEmpty).mkString("[", ",\n", "]\n"))
    }
    if (rounds.isEmpty) return LoopResult(Seq.empty, Seq.empty, attempted, failed, failures)
    def med(k: String) = Stats.median(rounds.map(_(k)))
    val overhead = Stats.median(rounds.map(r => r("replay.refresh_s") - r("prod.refresh_s")))
    val values = metricNames.map { case (k, u) =>
      (k, if (k == "trace_overhead_s") overhead else med(k), u) }
    val lines = values.map { case (k, v, u) => s"$k: median=$v n=${rounds.size} unit=$u" } ++ Seq(
      s"refresh_s: untraced median=${med("prod.refresh_s")} traced median=${med("replay.refresh_s")}",
      s"trace: run_s=${med("trace.run_s")} = stages " +
        s"${med("trace.run_s") - med("trace.unattributed_s")} + unattributed ${med("trace.unattributed_s")}" +
        s" (production run.run_s=${med("run.run_s")})")
    LoopResult(values, lines, attempted, failed, failures)
  }
}
