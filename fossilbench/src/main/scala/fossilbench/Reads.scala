package fossilbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.api.{LocalClient, RemoteClient, WireEntry, WireException, WireServer}
import graft.fql.Parser

/** FQL read requests over a [[Series]] store, each with the answer the
  * generator says it must return. */
object Reads {
  import Series._

  /** `reduced`: the reply is one `[count, sum]` entry instead of entries. */
  final case class Query(cls: String, fql: String, expect: Sums, reduced: Boolean = false)

  private val Sec = 1000000L

  /** A query of class `cls` with a seeded window inside the first `n`
    * datums of `s`. */
  def make(cls: String, s: Series, n: Long, rng: Random): Query = {
    val spanUs = n * s.stepUs
    def window(len: Long): (Long, Long) = {
      val lo = BaseUs + (rng.nextDouble() * (spanUs - len)).toLong
      (lo, lo + len)
    }
    def between(lo: Long, hi: Long) = s"between ~(${iso(lo)}), ~(${iso(hi)})"
    def sums(gs: Iterator[Long]): Sums = {
      var c = 0L; var sum = 0.0
      gs.foreach { g => c += 1; sum += s.value(g) }
      Sums(c, sum)
    }
    cls match {
      case "point" =>
        val j = rng.nextInt(Topics); val (lo, hi) = window(10 * Sec)
        Query(cls, s"all in ${topicName(j)} ${between(lo, hi)}",
          sums(s.select(n, lo, hi, _ == j)))
      case "prefix" =>
        val p = rng.nextInt(Topics / PerPrefix); val (lo, hi) = window(60 * Sec)
        Query(cls, s"all in ${prefixName(p)} ${between(lo, hi)}",
          sums(s.select(n, lo, hi, _ / PerPrefix == p)))
      case "sample" =>
        // fossil's greedy downsample: per topic, keep an entry when it is at
        // least a minute after the last kept one
        val p = rng.nextInt(Topics / PerPrefix); val (lo, hi) = window(300 * Sec)
        val last = scala.collection.mutable.Map.empty[Int, Long]
        val kept = s.select(n, lo, hi, _ / PerPrefix == p).filter { g =>
          val t = s.timeUs(g); val j = s.topicOf(g)
          val keep = last.get(j).forall(t - _ >= 60 * Sec)
          if (keep) last(j) = t
          keep
        }
        Query(cls, s"sample(@minute) in ${prefixName(p)} ${between(lo, hi)}", sums(kept))
      case "filter" =>
        val j = rng.nextInt(Topics); val (lo, hi) = window(60 * Sec)
        Query(cls, s"all in ${topicName(j)} ${between(lo, hi)} | filter x -> x > 512",
          sums(s.select(n, lo, hi, _ == j).filter(g => s.value(g) > 512)))
      case "reduce" =>
        // map/reduce average over a prefix: the reply is [count, sum]
        val p = rng.nextInt(Topics / PerPrefix); val (lo, hi) = window(60 * Sec)
        Query(cls, s"all in ${prefixName(p)} ${between(lo, hi)} | map x -> 1, x " +
          "| reduce a, b -> a[0] + b[0], a[1] + b[1]",
          sums(s.select(n, lo, hi, _ / PerPrefix == p)), reduced = true)
    }
  }

  /** Count and value sum of a reply, in the shape `q` expects. */
  def sums(q: Query, entries: Seq[Any]): Sums =
    if (q.reduced) entries match {
      case Seq(v: scala.collection.Seq[_]) =>
        val xs = v.map(_.asInstanceOf[Number].doubleValue())
        Sums(xs(0).toLong, xs(1))
      case other => Sums(-1L, other.size.toDouble)
    } else Sums(entries.size.toLong, entries.map(_.asInstanceOf[Number].doubleValue()).sum)

  /** Size of a QUERY reply frame, recomputed from its entries (the
    * client hands back parsed entries, not bytes). */
  def replyBytes(es: Seq[WireEntry]): Long =
    12L + es.map { e =>
      val b64 = (e.data.length + 2) / 3 * 4
      4L + 27 + 1 + e.topic.length + 1 + b64 + 1 + e.schema.length
    }.sum

  /** Outcome of one wire request. */
  final case class Done(cls: String, ms: Double, ok: Boolean, correct: Boolean, detail: String)

  /** One request through the wire, timed; traced runs then run the same
    * FQL in process (parse, plan, execute) so each layer gets its span. The
    * in-process run comes second, after the wire request has warmed the
    * store's file listing, so `api.wire_overhead_ms` errs high, not low. */
  def execute(q: Query, remote: RemoteClient, local: LocalClient, tracer: Tracer): Done =
    tracer.span("request") {
      val t0 = System.nanoTime()
      val res = try Right(tracer.span("api.query")(remote.query(q.fql)))
        catch { case e: WireException => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      if (tracer.enabled) {
        tracer.span("fql.parse")(Parser.parse(q.fql))
        val df = tracer.span("engine.plan") {
          val d = local.query(q.fql); d.queryExecution.executedPlan; d
        }
        tracer.span("engine.exec")(df.collect())
      }
      res match {
        case Left(e) => Done(q.cls, ms, ok = false, correct = true, e.getMessage)
        case Right(es) =>
          tracer.sample("api.response_bytes", replyBytes(es).toDouble)
          val got = sums(q, es.map(_.decoded))
          Done(q.cls, ms, ok = true, correct = got == q.expect,
            if (got == q.expect) "" else s"${q.cls}: got $got expected ${q.expect} for ${q.fql}")
      }
    }

  /** Wire overhead per traced request: the wire call minus the in-process
    * parse, plan and execute of the same FQL. */
  def wireOverheadMs(tracer: Tracer): Seq[Double] = {
    val byReq = tracer.all.groupBy(_.request)
    byReq.values.flatMap { ss =>
      def d(n: String) = ss.filter(_.name == n).map(_.durNs / 1e6).sum
      if (ss.exists(_.name == "api.query") && ss.exists(_.name == "engine.plan"))
        Some(d("api.query") - d("fql.parse") - d("engine.plan") - d("engine.exec"))
      else None
    }.toSeq
  }

  /** Loads datums `[0, n)` of `s` into a fresh store at `root` in one
    * append whose input is partitioned by topic, so each topic lands as one
    * time-sorted file: the layout `compact()` leaves. */
  def loadStore(spark: SparkSession, s: Series, root: Path, n: Long): LocalClient = {
    val c = new LocalClient(spark, root.toString)
    (0 until s.topics).foreach(j => c.createTopic(topicName(j), "float64"))
    c.appendFrame(s.frame(spark, 0, n).repartition(col("topic")), "float64")
    c
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }

  def treeBytes(p: Path): Long = {
    val st = Files.walk(p)
    try st.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally st.close()
  }

  /** User bytes of one float64 datum: its time, topic name and value. */
  def userBytes(topic: String): Long = 8L + topic.length + 8L

  /** User bytes of datums `[0, n)` of `s`. */
  def userBytes(s: Series, n: Long): Long =
    (0 until s.topics).map(j => userBytes(topicName(j)) * ((n - j + s.topics - 1) / s.topics)).sum

  def server(spark: SparkSession, root: Path): WireServer =
    new WireServer(spark, Map("default" -> root.toString), "default")
}
