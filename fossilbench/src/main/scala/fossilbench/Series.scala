package fossilbench

import java.time.Instant
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded float64 time series: datum `g` belongs to topic `g % topics`
  * (eight topics under each prefix), is stamped `base + g·step` µs and
  * holds a multiple of 1/1024, so sums are exact in any order and a reply
  * can be checked bit for bit against a sum over [[select]]. */
final class Series(seed: Long, val topics: Int = Series.Topics, val stepUs: Long = 1000L) {
  import Series._

  def topicOf(g: Long): Int = (g % topics).toInt

  def timeUs(g: Long): Long = BaseUs + g * stepUs

  def value(g: Long): Double =
    Math.floorMod(g * Mul + seed * 12345L + 12345L, Mod).toDouble / 1024.0

  /** Datums `[from, until)` as an entries frame, built on the executors
    * with the same arithmetic as [[timeUs]] and [[value]]. */
  def frame(spark: SparkSession, from: Long, until: Long): DataFrame = {
    val g = col("id")
    spark.range(from, until, 1, spark.sparkContext.defaultParallelism)
      .select(
        timestamp_micros(lit(BaseUs) + g * stepUs).as("time"),
        concat(lit("/p"), ((g % topics) / PerPrefix).cast("long").cast("string"),
          lit("/t"), (g % topics % PerPrefix).cast("string")).as("topic"),
        (pmod(g * Mul + lit(seed * 12345L + 12345L), lit(Mod)).cast("double") / 1024.0)
          .as("value"))
  }

  /** Datums below `until` stamped inside `[loUs, hiUs]` whose topic passes. */
  def select(until: Long, loUs: Long, hiUs: Long, topic: Int => Boolean): Iterator[Long] = {
    val first = math.max(0L, Math.floorDiv(loUs - BaseUs + stepUs - 1, stepUs))
    val last = math.min(until - 1, Math.floorDiv(hiUs - BaseUs, stepUs))
    Iterator.range(first, last + 1).filter(g => topic(topicOf(g)))
  }
}

object Series {
  val Topics = 64
  val PerPrefix = 8
  /** 2024-01-01T00:00:00Z */
  val BaseUs: Long = 1704067200000000L
  private val Mul = 1103515245L
  private val Mod = 1048573L

  def topicName(j: Int): String = s"/p${j / PerPrefix}/t${j % PerPrefix}"
  def prefixName(p: Int): String = s"/p$p"

  def iso(us: Long): String = DateTimeFormatter.ISO_INSTANT.format(
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Count and value sum: the per-reply check. */
  final case class Sums(n: Long, sum: Double)
}
