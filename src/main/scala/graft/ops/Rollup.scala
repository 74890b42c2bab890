package graft.ops

import graft.core.{Flag, TierSpec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tumbling-window rollups and the tier cascade (5m → 1h → 1d → 30d).
  *
  * Semantics generalize the reference's daily→monthly re-grouping
  * (/root/reference/src/vptstools/bin/vph5_to_vpts.py:204-212 — strip a
  * key component, re-aggregate) and its chunked partial-agg + final
  * merge (/root/reference/src/vptstools/s3.py:344-366): every measure
  * is mergeable (count/sum/min/max), so a coarser tier is computed from
  * the *finer tier*, never from raw data — at 100 TB the 1h tier reads
  * the 5m tier (288× smaller), the 1d tier reads the 1h tier, etc.
  *
  * Double-valued measures are quantized to integral micros
  * (`floor(value * 1e6)`) *before* aggregation so every tier is exact
  * integer arithmetic — order-insensitive, reproducible across engines
  * and across shuffle orders (determinism requirement of SURVEY.md
  * §7.2).
  *
  * Plan shape: one hash aggregate per tier (partial → final, map-side
  * combine free from Catalyst); no joins, no windows. The groupBy keys
  * `(series, bucket)` hash-partition evenly as long as series
  * cardinality ≫ shuffle partitions; a hot series is absorbed by the
  * map-side partial aggregate, which ships one row per (series, bucket)
  * per task. A salted two-phase variant was measured against it on the
  * benchmark's Zipf-skewed `many_series_zipf` workload (one domain holds
  * a quarter of the rows; 4 cores, 14 alternating pairs): median refresh
  * 13.58 s salted vs 13.69 s plain, inside the plain runs' spread, so it
  * was removed.
  */
object Rollup {

  /** One mergeable measure: output column `name`, its aggregate over
    * raw rows (`perRow`), its merge of a finer tier's `name` column, and
    * the DuckDB SQL computing the same value straight from raw rows
    * (None where DuckDB has no equivalent, e.g. xxhash64).
    */
  final case class Measure(name: String, perRow: Column,
                           merge: Column => Column,
                           oracle: Option[String] = None)

  /** Epoch-aligned tumbling bucket start for a tier. */
  def bucket(epoch: Column, tier: TierSpec): Column =
    (epoch - (epoch % tier.seconds)).as("bucket_epoch")

  /** Exact integral micros of a double measure (floor: identical in
    * IEEE double on every engine, unlike half-up vs banker's rounding).
    */
  def micros(value: Column): Column = floor(value * lit(1000000L)).cast("long")

  private val microsSql = "CAST(floor(value * 1000000) AS BIGINT)"

  /** sum/min/max of the quantized value (or of `keep(value)`); the SQL
    * side mirrors `keep` as `keepSql`. */
  private def valueMeasures(keep: Column => Column,
                            keepSql: String => String): Seq[Measure] = {
    def m(name: String, agg: Column => Column, fn: String) =
      Measure(name, agg(keep(col("value_micros"))), agg,
              Some(s"$fn(${keepSql(microsSql)})"))
    Seq(m("sum_value_micros", sum, "sum"),
        m("min_value_micros", min, "min"),
        m("max_value_micros", max, "max"))
  }

  private val rows = Measure("n", count(lit(1)), sum, Some("count(*)"))
  private val chars = Measure("sum_chars", sum(col("n_chars")), sum,
                              Some("sum(n_chars)"))

  /** Value measures over every row. */
  val Plain: Seq[Measure] = Seq(rows, chars) ++ valueMeasures(identity, identity)

  /** Three-state missingness through the cascade (SURVEY §7.2):
    * per-state counts travel as plain sums (exact at every tier); value
    * measures aggregate OK rows only — NODATA carries no measurement and
    * UNDETECT is below detection, so neither may contaminate
    * sums/extrema (reference semantics: the two missing sentinels
    * round-trip raw→output untouched by aggregation, the reference's
    * tests/test_vpts.py:109-139). A bucket with zero OK
    * rows has null value measures, and null-skipping sum/min/max keep
    * that exact through every merge. Needs a tier-0 `flag` column.
    */
  val Flagged: Seq[Measure] = {
    def state(name: String, f: Byte) =
      Measure(name, sum(when(col("flag") === f, 1L).otherwise(0L)), sum,
              Some(s"sum(CASE WHEN flag = $f THEN 1 ELSE 0 END)"))
    Seq(rows,
        state("n_ok", Flag.OK), state("n_nodata", Flag.NODATA),
        state("n_undetect", Flag.UNDETECT),
        chars) ++
      valueMeasures(when(col("flag") === Flag.OK, _),
                    v => s"CASE WHEN flag = ${Flag.OK} THEN $v END")
  }

  /** Per-row invariant hash folded into a per-bucket `text_sha` via
    * bit_xor — XOR is associative and commutative, so every coarser
    * tier's `text_sha` is the XOR over all contributing raw rows: the
    * byte-identical-text invariant travels the whole cascade as one
    * 8-byte column.
    */
  private def textShaOf(hash: Column) = Measure("text_sha", bit_xor(hash), bit_xor)

  private val mergeOf: Map[String, Column => Column] =
    (Plain ++ Flagged :+ textShaOf(col("text_sha"))).map(m => m.name -> m.merge).toMap

  /** Raw web pages → finest tier. `pages` needs columns
    * (seriesCols…, warc_epoch, n_chars, value), plus `flag` for
    * [[Flagged]]. `textSha`: optional per-row invariant hash (e.g.
    * `xxhash64(WebPages.extractText(col("html")))`), carried as
    * `text_sha`.
    */
  def fromRaw(pages: DataFrame, tier: TierSpec,
              seriesCols: Seq[String] = Seq("domain"),
              textSha: Option[Column] = None,
              family: Seq[Measure] = Plain): DataFrame = {
    val aggs = (family ++ textSha.map(textShaOf)).map(m => m.perRow.as(m.name))
    pages
      .withColumn("value_micros", micros(col("value")))
      .groupBy(seriesCols.map(col) :+ bucket(col("warc_epoch"), tier): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Finer tier → coarser tier (partial-agg merge). Input must be the
    * output of [[fromRaw]] or a previous [[cascade]] step; every measure
    * column it carries, of either family and `text_sha`, is merged, in
    * the input's column order.
    */
  def cascade(finer: DataFrame, tier: TierSpec,
              seriesCols: Seq[String] = Seq("domain")): DataFrame = {
    val aggs = finer.columns.toSeq.flatMap(c => mergeOf.get(c).map(_(col(c)).as(c)))
    require(aggs.nonEmpty,
      s"no rollup measure columns in ${finer.columns.mkString("[", ", ", "]")}")
    finer
      .groupBy(seriesCols.map(col) :+ bucket(col("bucket_epoch"), tier): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[fromRaw]] over the [[Flagged]] family. */
  def fromRawFlagged(pages: DataFrame, tier: TierSpec,
                     seriesCols: Seq[String] = Seq("domain"),
                     textSha: Option[Column] = None): DataFrame =
    fromRaw(pages, tier, seriesCols, textSha, Flagged)

  /** [[cascade]] of a flagged tier (the merge is family-blind). */
  def cascadeFlagged(finer: DataFrame, tier: TierSpec,
                     seriesCols: Seq[String] = Seq("domain")): DataFrame =
    cascade(finer, tier, seriesCols)

  /** Derived per-bucket flag from the state counts — any tier, no extra
    * storage: observed (OK) beats below-detection (UNDETECT) beats
    * not-measured (NODATA).
    */
  def bucketFlag: Column =
    when(col("n_ok") > 0, lit(Flag.OK.toInt))
      .when(col("n_undetect") > 0, lit(Flag.UNDETECT.toInt))
      .otherwise(lit(Flag.NODATA.toInt)).cast("int")

  /** DuckDB select list of a family's measures, matching [[fromRaw]]
    * composed through any number of [[cascade]] steps (sums of sums =
    * direct sums; casts pin BIGINT vs DuckDB's HUGEINT sum type).
    */
  private def oracleOf(family: Seq[Measure]): String =
    family.map(m => s"CAST(${m.oracle.get} AS BIGINT) AS ${m.name}").mkString(",\n")

  val oracleMeasures: String = oracleOf(Plain)
  val flagOracleMeasures: String = oracleOf(Flagged)

  /** DuckDB oracle: direct rollup of the webpages CTE at one tier. */
  def oracleSql(tier: TierSpec): String =
    s"""${graft.ingest.WebPages.oracleCte}
       |SELECT domain,
       |       warc_epoch - (warc_epoch % ${tier.seconds}) AS bucket_epoch,
       |       $oracleMeasures
       |FROM webpages
       |GROUP BY 1, 2""".stripMargin
}
