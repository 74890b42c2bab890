package runbench

import org.apache.spark.sql.SparkSession

/** The untraced loop: production refreshes only, measured for the
  * requested seconds, each checked before it counts as a sample.
  */
object Timed {

  final case class Sample(refreshS: Double, points: Long, rows: Long,
                          bytes: Long, heapMb: Double, manifests: Int, files: Int)

  def loop(spark: SparkSession, a: RunBench.Args, p: Prepared,
           setupS: Double): LoopResult = {
    var samples = Vector.empty[Sample]
    var failures = Vector.empty[String]
    var attempted = 0
    var failed = 0
    val start = System.nanoTime()
    do {
      attempted += 1
      val root = p.freshRoot(a.work.resolve(s"refresh-$attempted"))
      val before = Workloads.files(root)
      HeapWatch.reset()
      try {
        val r = RunBench.refresh(spark, root, p, s"bench-${a.seed}-$attempted")
        val heap = HeapWatch.peakMb()
        val errors = RunBench.verify(spark, root, p, r)
        if (errors.nonEmpty) {
          failed += 1
          failures ++= errors.map(e => s"refresh $attempted: $e")
        } else {
          val after = Workloads.files(root)
          val created = after.filter { case (f, _) => !before.contains(f) }
          val manifests = after.keys.count(_.matches(".*/manifests/manifest-\\d+\\.json"))
          samples :+= Sample(r.refreshS, r.points, p.incrementRows,
            created.values.sum, heap, manifests, after.size)
        }
      } catch {
        case e: Exception =>
          failed += 1
          failures :+= s"refresh $attempted: $e"
      }
      Workloads.deleteTree(root)
    } while ((System.nanoTime() - start) / 1e9 < a.seconds)

    val failedShare = failed.toDouble / attempted
    if (samples.isEmpty)
      return LoopResult(Seq.empty, Seq(s"failed_share: value=$failedShare unit=ratio"),
        attempted, failed, failures)
    val refresh = samples.map(_.refreshS)
    val metrics = Seq(
      ("refresh_s", refresh, "s"),
      ("points_per_s", samples.map(s => s.points / s.refreshS), "1/s"),
      ("rows_per_s", samples.map(s => s.rows / s.refreshS), "1/s"),
      ("setup_s", Seq(setupS), "s"),
      ("bytes_written", samples.map(_.bytes.toDouble), "bytes"),
      ("peak_heap_mb", samples.map(_.heapMb), "MB"))
    // Drift guard: every refresh starts from the same state, so refreshes
    // after the JVM's first must not trend and must leave the same tables.
    val warm = refresh.drop(1)
    val half = warm.size / 2
    val drift =
      if (half == 0) "drift: too few refreshes to compare halves"
      else s"drift: first_half_median=${Stats.median(warm.take(half))} " +
        s"second_half_median=${Stats.median(warm.drop(warm.size - half))} " +
        s"manifests=${samples.map(_.manifests).mkString(",")} " +
        s"files=${samples.map(_.files).mkString(",")}"
    LoopResult(
      metrics.map { case (k, xs, u) => (k, Stats.median(xs), u) },
      metrics.map { case (k, xs, u) => Stats.line(k, xs, u) } ++ Seq(
        s"failed_share: value=$failedShare unit=ratio (failed=$failed attempted=$attempted)",
        s"points: ${samples.head.points} rolled-up value-tier points per refresh, " +
          s"${samples.head.rows} raw rows per increment",
        drift),
      attempted, failed, failures)
  }
}
