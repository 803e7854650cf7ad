package fossilbench

import java.nio.file.Path
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.api.{LocalClient, RemoteClient, WireEntry, WireServer}
import graft.engine.{Codec, FossilSchema}
import graft.sources.WireImport
import graft.streaming.StreamingIngest

/** `follow_migrate`: live migration of a source that is still written to,
  * plus streaming analytics on the landing store.
  *
  * A source `WireServer` holds two databases. Between
  * `WireImport.followOnce` cycles the `sensors` database gains a
  * time-ordered tranche of seeded datums, written beside the server (a
  * root has one writing client, so the server never writes this one), and
  * one connection APPENDs to a topic of the `live` database over the
  * wire as an open loop at a fixed rate, each append timed from when it
  * was due. A cycle follows both databases into one landing store, then
  * one checkpointed `AvailableNow` drain reads the landing store through
  * `readStream.format("fossil")` into the stateful
  * `StreamingIngest.windowedStats`, written to a parquet sink.
  * At the end the writer stops, one `closeBoundary` cycle cuts over, and
  * the landing store is compacted once, timed.
  *
  * Bulk wire transfer, micro-batch and state-store commit, the per-datum
  * write path and the small files a migration lands; it bypasses the
  * planning-dominated small-query path. */
final class FollowMigrate(ctx: Ctx) extends Workload {
  import FollowMigrate._

  private val series = new Series(ctx.seed, topics = Topics)
  private val f64 = FossilSchema.parse("float64")
  private var dir: Path = _
  private var source: LocalClient = _
  private var server: WireServer = _

  def setup(d: Path): Unit = {
    close()
    if (dir != null) Reads.deleteTree(dir)
    dir = d
    source = Reads.loadStore(ctx.spark, series, d.resolve("sensors"), Tranche)
    val live = new LocalClient(ctx.spark, d.resolve("live").toString)
    Live.foreach(live.createTopic(_, "float64"))
    server = new WireServer(ctx.spark,
      Map("sensors" -> d.resolve("sensors").toString, "live" -> d.resolve("live").toString),
      "sensors")
  }

  /** Live append `k`: topic, value and wire bytes. */
  private def live(k: Int): (String, Double, Array[Byte]) = {
    val v = series.value(LiveBase + k)
    (Live(k % Live.size), v, Codec.encode(f64, v))
  }

  def run(seconds: Double): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val land = dir.resolve("land").toString
    val follower = new RemoteClient("127.0.0.1", server.port, "sensors", poolSize = 1)
    val appender = new RemoteClient("127.0.0.1", server.port, "live", poolSize = 1)
    // traced in-process appends go to a store of their own: two clients
    // over one root would each rewrite its catalog
    lazy val side = {
      val c = new LocalClient(spark, dir.resolve("side").toString)
      Live.foreach(c.createTopic(_, "float64"))
      c
    }
    val writer = new OpenLoopWriter(appender, AppendsPerS, tracer, live,
      (t, b) => side.appendRaw(t, b, new Timestamp(System.currentTimeMillis())))
    val cycles = ArrayBuffer.empty[Cycle]
    val progress = ArrayBuffer.empty[StreamingQueryProgress]
    var appends = Seq.empty[OpenLoopWriter.Append]
    var stopped = false
    var total = Tranche
    var filesStart = 0L
    try {
      var t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      // the first WarmCycles cycles are untimed: they warm the follow and
      // drain paths (the first cycle after them is still the slowest).
      // Every cycle but the first grows the source; the one that would end
      // past the run time is the last, run after the writer stops so it can
      // close the boundary.
      var warmLeft = WarmCycles
      var last = false
      while (!last) {
        if (warmLeft < WarmCycles) {
          source.appendFrame(series.frame(spark, total, total + Tranche), "float64")
          total += Tranche
          last = warmLeft == 0 &&
            elapsed + cycles.map(_.resultS).maxOption.getOrElse(0.0) >= seconds
          if (last) { appends = writer.stop(); stopped = true }
        }
        val pageAt = ArrayBuffer.empty[(Long, String, Long, Long)]
        val f0 = System.nanoTime()
        val rs = tracer.span("sources.follow") {
          Seq("sensors", "live").map { db =>
            follower.use(db)
            WireImport.followOnce(spark, follower, land, closeBoundary = last,
              onPage = (t, lo, hi) => pageAt += ((System.nanoTime(), t, lo, hi)))
          }
        }
        val f1 = System.nanoTime()
        val q = tracer.span("streaming.drain") {
          val s = StreamingIngest.windowedStats(
            spark.readStream.format("fossil").load(land)
              // live topics are stamped now: they would close every sensor window
              .filter(col("topic").startsWith(Series.prefixName(0) + "/"))
              .select(unix_micros(col("time")).as("t_us"), col("topic"), col("value")),
            Window, WatermarkDelay)
            .writeStream.format("parquet")
            .option("path", dir.resolve("sink").toString)
            .option("checkpointLocation", dir.resolve("checkpoint").toString)
            .trigger(Trigger.AvailableNow())
            .outputMode("append")
            .start()
          s.awaitTermination()
          s
        }
        val f2 = System.nanoTime()
        progress ++= q.recentProgress
        if (warmLeft > 0) {
          warmLeft -= 1
          if (warmLeft == 0) {
            progress.clear()
            ctx.measureStart()
            filesStart = new LocalClient(spark, land).storeShape.segments
            t0 = System.nanoTime()
            writer.start()
          }
        } else {
          val times = pageAt.map(_._1).sorted.toSeq
          cycles += Cycle(rs.map(_.entries).sum, rs.map(_.pages).sum, (f1 - f0) / 1e9, (f2 - f1) / 1e9,
            times.zip(times.drop(1)).map { case (a, b) => (b - a) / 1e6 })
          if (tracer.enabled) {
            follower.use("sensors")
            replayPages(follower, pageAt.toSeq.filter(_._2.startsWith(Series.prefixName(0) + "/"))
              .take(PagesReplayed))
          }
        }
      }
      val secs = elapsed
      val sparkTotals = ctx.meter.take()
      val landed = new LocalClient(spark, land)
      val filesEnd = landed.storeShape.segments
      val c0 = System.nanoTime()
      val compacted = landed.compact()
      val compactS = (System.nanoTime() - c0) / 1e9
      close()

      val problems = ArrayBuffer.empty[String]
      val acked = appends.filter(_.error == null).map(a => (a.topic, a.value))
      // every acknowledged append is in the reopened source and was landed
      checkLive(new LocalClient(spark, dir.resolve("live").toString), acked, "reopened source")
        .foreach(problems += _)
      checkLive(new LocalClient(spark, land), acked, "landing store").foreach(problems += _)
      checkLanded(land, total).foreach(problems += _)
      checkWindows(total, progress.toSeq).foreach(problems += _)
      appends.filter(_.error != null).take(3).foreach(a => problems += s"append failed: ${a.error}")

      val entries = cycles.map(_.entries).sum
      val followS = cycles.map(_.followS).sum
      val results = cycles.map(_.resultS * 1000).toSeq
      val appMs = appends.filter(_.error == null).map(_.ms)
      val failed = appends.count(_.error != null)
      val attempted = cycles.size + appends.size
      val bytesRatio = Reads.treeBytes(dir.resolve("land")).toDouble /
        (Reads.userBytes(series, total) + acked.map(a => Reads.userBytes(a._1)).sum)
      val report = Seq(
        Metric("migrated_entries_per_s", entries / followS, "1/s", cycles.size),
        Metric("result_s", Stats.median(results) / 1000, "s", results.size),
        Metric("append_p50_ms", Stats.median(appMs), "ms", appMs.size),
        Metric("append_p95_ms", Stats.quantile(appMs, 0.95), "ms", appMs.size),
        Metric("appends_per_s", appMs.size / secs, "1/s", appMs.size),
        Metric("fail_share", failed.toDouble / attempted, "ratio", attempted),
        Metric("compact_s", compactS, "s"),
        Metric("store_bytes_per_user_byte", bytesRatio, "ratio"))
      val layers =
        if (!tracer.enabled) Map.empty[String, Double]
        else Progress.layers(progress.toSeq) ++ Map(
          "sources.cycle_s" -> Stats.median(cycles.map(_.followS).toSeq),
          "sources.pages" -> cycles.map(_.pages).sum.toDouble,
          "sources.entries" -> entries.toDouble,
          "sources.page_ms" -> Stats.median(cycles.flatMap(_.pageGapsMs).toSeq),
          "engine.store_files_start" -> filesStart.toDouble,
          "engine.store_files_end" -> filesEnd.toDouble,
          "engine.compact_s" -> compactS,
          "engine.compact_files_before" -> compacted.map(_._2).sum.toDouble,
          "engine.compact_files_after" -> compacted.map(_._3).sum.toDouble,
          "loadgen.late_p95_ms" -> Stats.quantile(appends.map(_.lateMs), 0.95),
          "loadgen.outstanding_max" -> appends.map(_.outstanding).maxOption.getOrElse(0).toDouble)
      Outcome(attempted, failed, problems.toSeq,
        Map("op_p50_ms" -> Stats.median(results), "ops_per_s" -> entries / followS,
          "store_bytes_per_user_byte" -> bytesRatio),
        report, layers, cycles.size, results, sparkTotals)
    } finally {
      if (!stopped) writer.stop()
      follower.close(); appender.close()
    }
  }

  /** Re-fetch recorded page windows, timing the wire query and, apart,
    * the entry-line parse and value decode of the same page. */
  private def replayPages(remote: RemoteClient, pages: Seq[(Long, String, Long, Long)]): Unit =
    pages.foreach { case (_, topic, lo, hi) =>
      val fql = s"all in $topic between ~(${Series.iso(lo)}), ~(${Series.iso(hi)})"
      val es = ctx.tracer.span("sources.page_fetch")(remote.query(fql))
      val lines = es.map { e =>
        s"${e.time}\t${e.topic}\t${java.util.Base64.getEncoder.encodeToString(e.data)}\t${e.schema}"
      }
      ctx.tracer.span("sources.page_decode")(lines.foreach(l => WireEntry.parse(l).decoded))
    }

  /** The live topics of `store` hold exactly the acknowledged appends. */
  private def checkLive(store: LocalClient, acked: Seq[(String, Double)], what: String): Option[String] = {
    val got = store.query("all in /live").collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    if (got.sorted == acked.sorted) None
    else Some(s"$what holds ${got.size} live entries, ${acked.size} appends were acknowledged")
  }

  /** The landed sensor topics equal the source per topic: count, value sum
    * and time checksum. */
  private def checkLanded(land: String, total: Long): Option[String] = {
    val got = new LocalClient(ctx.spark, land).query(s"all in ${Series.prefixName(0)}")
      .groupBy("topic").agg(count(lit(1)), sum("value"), sum(unix_micros(col("time")) - Series.BaseUs))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val want = (0L until total).groupBy(series.topicOf).map { case (j, gs) =>
      Series.topicName(j) -> ((gs.size.toLong, gs.map(series.value).sum,
        gs.map(g => series.timeUs(g) - Series.BaseUs).sum))
    }
    if (got == want) None
    else Some(s"landed store differs from the source: ${(got.toSet diff want.toSet).take(3)} " +
      s"vs ${(want.toSet diff got.toSet).take(3)}")
  }

  /** The sink's window stats equal a batch computation over the source for
    * every window the final watermark has closed. */
  private def checkWindows(total: Long, ps: Seq[StreamingQueryProgress]): Option[String] = {
    val wm = ps.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => Instant.parse(s).toEpochMilli * 1000L).foldLeft(Long.MinValue)(math.max)
    val got = ctx.spark.read.parquet(dir.resolve("sink").toString)
      .select(unix_micros(col("w_start")), col("topic"), col("n"), col("sum_value"),
        col("first_us"), col("last_us"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))).toMap
    val want = (0L until total).groupBy { g =>
      (Math.floorDiv(series.timeUs(g), WindowUs) * WindowUs, Series.topicName(series.topicOf(g)))
    }.filter { case ((w, _), _) => w + WindowUs <= wm }.map { case (k, gs) =>
      k -> ((gs.size.toLong, gs.map(series.value).sum, gs.map(series.timeUs).min,
        gs.map(series.timeUs).max))
    }
    if (want.isEmpty) Some("no window closed: the run is too short for the watermark")
    else if (got == want) None
    else Some(s"sink window stats differ from the batch computation: ${got.size} windows " +
      s"vs ${want.size} expected, e.g. ${(got.toSet diff want.toSet).take(2)} " +
      s"vs ${(want.toSet diff got.toSet).take(2)}")
  }

  def close(): Unit = if (server != null) { server.close(); server = null }
}

object FollowMigrate {
  /** Sensor topics, all under the first prefix. */
  val Topics = 2
  /** Datums in the source at set-up and added before each later cycle:
    * 10 s of event time. */
  val Tranche = 10000L
  val Live = Seq("/live/w0")
  /** Fixed open-loop append rate: about half of one connection's append
    * capacity (2.9/s) when this benchmark was defined, on a 4-core host. */
  val AppendsPerS = 1.5
  private val LiveBase = 1L << 30
  val WarmCycles = 2
  val PagesReplayed = 4
  val Window = "10 seconds"
  val WindowUs: Long = 10L * 1000000L
  val WatermarkDelay = "5 seconds"

  private final case class Cycle(entries: Long, pages: Int, followS: Double, drainS: Double,
      pageGapsMs: Seq[Double]) {
    def resultS: Double = followS + drainS
  }
}

/** Per-layer values read from `StreamingQuery.recentProgress`. */
object Progress {
  def layers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(k: String) = Stats.median(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
    val state = ps.flatMap(_.stateOperators)
    def orZero(x: Double) = if (x.isNaN) 0.0 else x
    Map(
      "connector.latest_offset_ms" -> orZero(dur("latestOffset")),
      "streaming.batches" -> ps.size.toDouble,
      "streaming.trigger_ms" -> orZero(dur("triggerExecution")),
      "streaming.add_batch_ms" -> orZero(dur("addBatch")),
      "streaming.wal_commit_ms" -> orZero(dur("walCommit")),
      "streaming.query_planning_ms" -> orZero(dur("queryPlanning")),
      "streaming.state_commit_ms" -> orZero(Stats.median(state.map(_.commitTimeMs.toDouble))),
      "streaming.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
  }
}
