package runbench

import java.nio.file.{Files, Path, Paths}

import graft.run.{RunManifest, TierRunner}
import org.apache.spark.sql.SparkSession

/** Benchmark of the production tier run: `TierRunner.ingest` of a
  * generated increment, then `TierRunner.run` under a fresh run id, as a
  * closed loop with one client (each refresh starts when the previous
  * one has returned), on `local[<cores>]` with one shuffle partition per
  * core.
  *
  * {{{
  * RunBench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *          [--spans <file>] [--cores <n>]
  * }}}
  *
  * `--trace 0` times refreshes and prints the end-to-end metrics;
  * `--trace 1` pairs each production refresh with a traced replay of the
  * same stages and prints the per-layer metrics. Every refresh's tables
  * are checked against the expected ones; a refresh with a failed stage,
  * an exception or a mismatch counts as failed and is never a timing.
  * The last line of stdout is one JSON object with the result.
  */
object RunBench {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, spans: Option[Path],
                        cores: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
         need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath,
         m.get("--spans").map(Paths.get(_).toAbsolutePath),
         m.get("--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("runbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Outcome of one production refresh. */
  final case class Refresh(manifest: RunManifest, ingestS: Double, runS: Double) {
    def refreshS: Double = ingestS + runS
    /** Rolled-up value-tier points committed by the run. */
    def points: Long = manifest.entries
      .filter(e => e.status == "ok" && Stages.ValueTiers.contains(e.tier))
      .map(_.rows).sum
  }

  /** `ingest` then `run`, timed from handing over the increment until
    * `run` returns with its checkpoint written.
    */
  def refresh(spark: SparkSession, root: Path, p: Prepared, runId: String): Refresh = {
    val runner = new TierRunner(spark, root.toString)
    val t0 = System.nanoTime()
    val touched = runner.ingest(p.increment)
    val t1 = System.nanoTime()
    val m = runner.run(runId, touched)
    val t2 = System.nanoTime()
    Refresh(m, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val workload = Workloads.byName(a.workload)
    Files.createDirectories(a.work)
    val metrics = if (a.trace) Some(new StageMetrics) else None
    val spark = session(a.cores, a.work)
    metrics.foreach(spark.sparkContext.addSparkListener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    // Set-up: generate the input, compute the expected tables, and make
    // one untimed production run (the committed history, or a warm-up
    // run into a scratch root), so timed refreshes run with a warm JIT.
    val prepared = timed("setup")(workload.prepare(spark, a.seed, a.work.resolve("setup")))
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"${a.workload} seed=${a.seed} cores=${a.cores} session_s=$sessionS%.3f setup_s=$setupS%.3f")

    val result =
      if (a.trace) Traced.loop(spark, a, prepared, metrics.get)
      else Timed.loop(spark, a, prepared, setupS)
    result.failures.foreach(f => log(s"FAILED $f"))
    result.lines.foreach(println)
    println(Stats.resultJson(result.failed == 0, result.attempted, result.failed,
      result.metrics))
    spark.stop()
  }

  /** Why a refresh is not a valid sample; empty when it is. */
  def verify(spark: SparkSession, root: Path, p: Prepared, r: Refresh): Seq[String] = {
    val bad = r.manifest.entries.filter(_.status != "ok")
    if (bad.nonEmpty) bad.map(e => s"stage ${e.tier}/${e.partition}: ${e.status}")
    else Checks.diff(p.expected, Checks.observed(spark, root.toString))
  }

  def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally log(f"$label took ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  def log(s: String): Unit = System.err.println(s"[runbench] $s")
}

/** What a measuring loop hands back: metric values with units, extra
  * human-readable lines, the refreshes attempted and failed, and why
  * they failed.
  */
final case class LoopResult(metrics: Seq[(String, Double, String)], lines: Seq[String],
                            attempted: Int, failed: Int, failures: Seq[String])
