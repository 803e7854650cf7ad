package fossilbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.api.{LocalClient, RemoteClient, WireServer}

/** `serve_read`: interactive FQL reads over the wire. A closed loop of two
  * connections against a pre-loaded, compacted store of 500k float64 datums
  * (64 topics under 8 prefixes, 1 ms apart). Five query classes in equal
  * shares, round robin per connection, windows drawn from the seeded RNG:
  * exact query texts rarely repeat but every query hits one of 64 topics,
  * so a listing or schema cache can win here and a result cache cannot.
  * Each connection times a fixed number of whole rounds of the five
  * classes, sized from `--seconds` at today's speed (about 4 s a round),
  * so every run attempts the same requests and fails the same ones: a
  * faster library ends the run sooner instead of fitting more requests in.
  *
  * The `reduce` class is kept although every wire reply to it is error
  * 500 today (`WireServer.entryLine` reads the null time a reduce emits):
  * its failures are counted, not hidden. */
final class ServeRead(ctx: Ctx) extends Workload {
  import ServeRead._

  private val series = new Series(ctx.seed)
  private var dir: Path = _
  private var local: LocalClient = _
  private var server: WireServer = _

  def setup(d: Path): Unit = {
    close()
    if (dir != null) Reads.deleteTree(dir)
    dir = d
    local = Reads.loadStore(ctx.spark, series, d.resolve("store"), Datums)
    server = Reads.server(ctx.spark, d.resolve("store"))
  }

  def run(seconds: Double): Outcome = {
    val remotes = ArrayBuffer.empty[RemoteClient]
    val loop = new ClosedLoop(Connections, c => {
      val remote = new RemoteClient("127.0.0.1", server.port, poolSize = 1)
      remotes.synchronized(remotes += remote)
      val rng = new Random(ctx.seed * 1000003L + c)
      var i = c
      () => {
        val q = Reads.make(Classes(i % Classes.size), series, Datums, rng)
        i += 1
        Reads.execute(q, remote, local, ctx.tracer)
      }
    }, (Classes.size + Connections - 1) / Connections, () => ctx.measureStart())
    val res = try loop.run(rounds(seconds) * Classes.size) finally remotes.foreach(_.close())
    val sparkTotals = ctx.meter.take()
    val ok = res.done.filter(_.ok)
    val lat = ok.map(_.ms)
    val failed = res.done.count(!_.ok)
    val problems = res.done.filter(d => !d.correct).map(_.detail).take(5) ++
      res.done.filter(d => !d.ok && d.cls != "reduce").map(d => s"${d.cls} failed: ${d.detail}").take(5)
    res.done.find(d => !d.ok && d.cls == "reduce").foreach { d =>
      System.err.println(s"fossilbench: known defect, reduce over the wire: ${d.detail}")
    }
    val bytesRatio = Reads.treeBytes(dir.resolve("store")).toDouble /
      Reads.userBytes(series, Datums)
    val n = res.done.size
    val answeredPerS = res.perConnection.map { case (k, s) => k / s }.sum
    val report = Seq(
      Metric("query_p50_ms", Stats.median(lat), "ms", lat.size),
      Metric("query_p95_ms", Stats.quantile(lat, 0.95), "ms", lat.size),
      Metric("queries_per_s", ok.size / res.seconds, "1/s", ok.size),
      Metric("answered_per_s", answeredPerS, "1/s", n),
      Metric("fail_share", failed.toDouble / n, "ratio", n),
      Metric("reduce_share", res.done.count(_.cls == "reduce").toDouble / n, "ratio", n),
      Metric("store_bytes_per_user_byte", bytesRatio, "ratio")) ++
      Classes.map(c => ok.filter(_.cls == c).map(_.ms)).zip(Classes).collect {
        case (l, c) if l.nonEmpty => Metric(s"query_p50_ms.$c", Stats.median(l), "ms", l.size)
      }
    val layers =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else Map(
        "api.wire_overhead_ms" -> Stats.median(Reads.wireOverheadMs(ctx.tracer)),
        "api.response_bytes" -> Stats.median(ctx.tracer.samplesOf("api.response_bytes")),
        "engine.store_files_start" -> local.storeShape.segments.toDouble,
        "engine.store_files_end" -> local.storeShape.segments.toDouble)
    Outcome(n, failed, problems,
      Map("op_p50_ms" -> Stats.median(lat), "ops_per_s" -> answeredPerS,
        "store_bytes_per_user_byte" -> bytesRatio),
      report, layers, n, lat, sparkTotals)
  }

  def close(): Unit = if (server != null) { server.close(); server = null }
}

object ServeRead {
  val Datums = 500000L
  val Connections = 2
  val Classes = Seq("point", "prefix", "sample", "filter", "reduce")
  val RoundSeconds = 4.0

  def rounds(seconds: Double): Int = math.max(1, math.round(seconds / RoundSeconds).toInt)
}

/** A closed loop: each of `conns` threads issues its next request only
  * after the previous one returned, `requests` timed ones each. Each
  * connection first runs `warm` untimed requests so lazy set-up and caches
  * settle before timing. */
final class ClosedLoop(conns: Int, client: Int => () => Reads.Done, warm: Int,
    warmed: () => Unit) {
  import ClosedLoop.Result

  def run(requests: Int): Result = {
    val next = (0 until conns).map(client)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    parallel(conns)(c => (0 until warm).foreach(_ => next(c)()), errors)
    warmed()
    val out = (0 until conns).map(_ => ArrayBuffer.empty[Reads.Done])
    val busy = new Array[Double](conns)
    val t0 = System.nanoTime()
    parallel(conns)({ c =>
      (0 until requests).foreach(_ => out(c) += next(c)())
      busy(c) = (System.nanoTime() - t0) / 1e9
    }, errors)
    val secs = (System.nanoTime() - t0) / 1e9
    if (!errors.isEmpty) throw errors.peek()
    Result(out.flatten.toSeq, secs, out.map(_.size).zip(busy))
  }

  private def parallel(n: Int)(f: Int => Unit,
      errors: java.util.concurrent.ConcurrentLinkedQueue[Throwable]): Unit = {
    val ts = (0 until n).map(c => new Thread(() =>
      try f(c) catch { case e: Throwable => errors.add(e) }, s"fossilbench-conn-$c"))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }
}

object ClosedLoop {
  /** `perConnection`: requests answered and seconds busy, per connection. */
  final case class Result(done: Seq[Reads.Done], seconds: Double,
      perConnection: Seq[(Int, Double)])
}
