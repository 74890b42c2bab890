package runbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.Bench
import graft.run.TierRunner
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A workload's starting state: the increment every timed refresh
  * ingests, the tables the refresh must end with, and, for a workload
  * that starts from committed history, the table root to restore.
  */
final case class Prepared(increment: DataFrame, incrementRows: Long,
                          expected: Checks.Tables, history: Option[Path]) {

  /** An empty root, or an exact copy of the committed history. */
  def freshRoot(root: Path): Path = {
    Files.createDirectories(root)
    history.foreach(h => Workloads.copyTree(h, root))
    root
  }
}

/** The three workloads. Sizes are fixed per workload; only the seed
  * varies, so every seed does the same amount of work.
  */
sealed abstract class Workload(val name: String) {
  def prepare(spark: SparkSession, seed: Long, dir: Path): Prepared
}

object Workloads {

  val all: Seq[Workload] = Seq(FullRebuild, Incremental2d, ManySeriesZipf)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** Write generated pages to parquet and hand back the parquet-backed
    * frame, the form in which a production run receives its input, so
    * generating it is never charged to a timed refresh.
    */
  private def materialise(pages: DataFrame, dir: Path): (DataFrame, Long) = {
    pages.write.mode("overwrite").parquet(dir.toString)
    val df = pages.sparkSession.read.parquet(dir.toString)
    (df, df.count())
  }

  /** Run `a` on another thread while `b` runs on this one. Set-up work
    * on independent data overlaps, which shortens set-up.
    */
  private def beside[A, B](a: => A)(b: => B): (A, B) = {
    val f = Future(a)(ExecutionContext.global)
    val rb = b
    (Await.result(f, Duration.Inf), rb)
  }

  /** A production run of `pages` into `root`; it must succeed. */
  private def commit(spark: SparkSession, root: Path, pages: DataFrame, runId: String): Unit = {
    val runner = new TierRunner(spark, root.toString)
    val m = runner.run(runId, runner.ingest(pages))
    require(m.entries.forall(_.status == "ok"), s"set-up run $runId failed: ${m.toJson}")
  }

  /** A fresh-root workload: one untimed production run of the increment
    * (the JIT warm-up) beside the expected tables.
    */
  private def fromEmpty(spark: SparkSession, dir: Path, pages: DataFrame): Prepared = {
    val (inc, rows) = materialise(pages, dir.resolve("increment"))
    val (_, want) = beside(RunBench.timed("warm-up run") {
      commit(spark, dir.resolve("warmup"), inc, "warmup")
      deleteTree(dir.resolve("warmup"))
    })(RunBench.timed("expected")(Checks.expected(inc)))
    Prepared(inc, rows, want, None)
  }

  /** Every day of a replicated input, ingested into an empty root:
    * 4 days of 10^5 raw rows.
    */
  object FullRebuild extends Workload("full_rebuild") {
    def prepare(spark: SparkSession, seed: Long, dir: Path): Prepared = {
      RunBench.timed("generate")(
        Inputs.writeBase(spark, s"$dir/base", seed, events = 25000, days = 4))
      fromEmpty(spark, dir, Bench.replicatedPages(spark, s"$dir/base", 4))
    }
  }

  /** A committed history of 4 days (4·10^4 raw rows) plus a seeded
    * re-delivery of its 2 newest days, the reference's default
    * `--modified-days-ago 2` recompute. Committing the history is the
    * JIT warm-up.
    */
  object Incremental2d extends Workload("incremental_2d") {
    def prepare(spark: SparkSession, seed: Long, dir: Path): Prepared = {
      RunBench.timed("generate")(
        Inputs.writeBase(spark, s"$dir/base", seed, events = 10000, days = 4))
      val (hist, _) = materialise(
        Bench.replicatedPages(spark, s"$dir/base", 4), dir.resolve("history_pages"))
      val (inc, rows) = materialise(
        Inputs.redelivery(hist, seed, days = 2), dir.resolve("increment"))
      val root = dir.resolve("history")
      val (_, want) = beside(RunBench.timed("history run")(commit(spark, root, hist, "history")))(
        RunBench.timed("expected")(Checks.expected(Inputs.merged(hist, inc))))
      Prepared(inc, rows, want, Some(root))
    }
  }

  /** One hot domain with a quarter of the rows over a Zipf tail of about
    * 10^4 domains, 4 days of 4·10^4 raw rows: many points, blocks and
    * sketch groups per raw row.
    */
  object ManySeriesZipf extends Workload("many_series_zipf") {
    def prepare(spark: SparkSession, seed: Long, dir: Path): Prepared = {
      RunBench.timed("generate")(
        Inputs.writeBase(spark, s"$dir/base", seed, events = 10000, days = 4))
      fromEmpty(spark, dir,
        Inputs.zipfDomains(Bench.replicatedPages(spark, s"$dir/base", 4), seed, 10000))
    }
  }

  def copyTree(from: Path, to: Path): Unit =
    Using.resource(Files.walk(from)) { paths =>
      paths.iterator().asScala.foreach { p =>
        val target = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(target)
        else Files.copy(p, target)
      }
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Using.resource(Files.walk(root)) { paths =>
        paths.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }

  /** Size of every regular file under `root`, by relative path. */
  def files(root: Path): Map[String, Long] =
    Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    }
}
