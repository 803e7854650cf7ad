package fossilbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** A reported metric: the workload's own name, value, unit and the number of
  * samples it was taken over (0 when it is not a sample statistic). */
final case class Metric(name: String, value: Double, unit: String, n: Int = 0)

/** What a measured run found. `gated` holds the end-to-end metrics every
  * workload reports under one name (see `BENCHMARK.json`); `report` the
  * workload's own end-to-end metrics; `layers` the traced run's per-layer
  * values the workload computed itself; `spark` the listener's totals over
  * the timed operations alone, taken before the checks and any other
  * Spark work of the benchmark's own. */
final case class Outcome(
    attempted: Long, failed: Long, problems: Seq[String],
    gated: Map[String, Double], report: Seq[Metric], layers: Map[String, Double],
    ops: Long, opMs: Seq[Double], spark: SparkMeter.Totals)

/** Shared state a workload is built over. */
final case class Ctx(spark: SparkSession, tracer: Tracer, meter: SparkMeter, seed: Long,
    cores: Int, work: Path) {
  /** Marks the start of the timed part: warm-up spans and jobs are dropped. */
  def measureStart(): Unit = { meter.take(); tracer.reset() }
}

/** One benchmark workload: [[setup]] builds its inputs from the seed in a
  * fresh directory (timed, repeated), [[run]] measures for a fixed time on
  * the last set-up state and checks every output. */
trait Workload {
  def setup(dir: Path): Unit
  def run(seconds: Double): Outcome
  def close(): Unit
}

object Main {
  val SetupRuns = 3

  /** Spans whose median duration is a layer metric. */
  private val SpanMetrics = Seq(
    "fql.parse_ms" -> "fql.parse", "engine.plan_ms" -> "engine.plan",
    "engine.exec_ms" -> "engine.exec", "engine.append_ms" -> "engine.append",
    "api.append_rtt_ms" -> "api.append", "operators.ref_read_ms" -> "operators.ref_read",
    "operators.dedup_batch_ms" -> "operators.dedup_batch", "operators.ann_ms" -> "operators.ann",
    "sources.page_fetch_ms" -> "sources.page_fetch",
    "sources.page_decode_ms" -> "sources.page_decode")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"fossilbench-$name")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val meter = new SparkMeter(spark.sparkContext)
    val tracer = new Tracer(traced)
    val ctx = Ctx(spark, tracer, meter, seed, cores, work)
    val wl: Workload = name match {
      case "serve_read" => new ServeRead(ctx)
      case "follow_migrate" => new FollowMigrate(ctx)
      case "curate_dedup" => new CurateDedup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val setups = (0 until SetupRuns).map { i =>
        val dir = work.resolve(s"setup$i")
        val s0 = System.nanoTime()
        wl.setup(dir)
        (System.nanoTime() - s0) / 1e9
      }
      ctx.measureStart()
      val r0 = System.nanoTime()
      val o = wl.run(seconds)
      val runS = (System.nanoTime() - r0) / 1e9
      val sp = o.spark
      val ops = math.max(1L, o.ops)
      // the per-layer values this run measured; the wrapper script names
      // every per-layer metric of BENCHMARK.json and adds the units
      val layers: Map[String, Double] =
        if (!traced) Map.empty
        else (SpanMetrics.flatMap { case (m, span) =>
          val ds = tracer.durationsMs(span)
          if (ds.isEmpty) None else Some(m -> Stats.median(ds))
        }.toMap ++ o.layers).filterNot(_._2.isNaN)
      // from every run; the wrapper reports the untraced run's, which
      // holds no traced extra work
      val sparkLayers = Map(
        "spark.jobs_per_op" -> sp.jobs.toDouble / ops,
        "spark.tasks_per_op" -> sp.tasks.toDouble / ops,
        "spark.task_cpu_ms_per_op" -> sp.cpuMs / ops,
        "spark.shuffle_bytes_per_op" -> sp.shuffleBytes.toDouble / ops,
        "spark.spill_bytes" -> sp.spillBytes.toDouble,
        "spark.gc_ms" -> sp.gcMs.toDouble,
        "spark.task_skew" -> (if (sp.stageSkews.isEmpty) 0.0 else Stats.median(sp.stageSkews)))
      if (traced) tracer.write(out.resolve("trace"))
      val gated = o.gated + ("setup_s" -> Stats.median(setups))
      val problems = o.problems ++ gated.collect {
        case (m, v) if v.isNaN => s"$m has no completed operation to measure"
      }
      val result = Json.obj(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "correct" -> problems.isEmpty, "attempted" -> o.attempted, "failed" -> o.failed,
        "problems" -> problems,
        "host" -> Json.obj(
          "nproc" -> cores,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
          "spark_version" -> spark.version,
          "java_version" -> System.getProperty("java.version"),
          "master" -> spark.sparkContext.master,
          "reads" -> "store files are re-read from the OS page cache, not from disk"),
        "session_s" -> sessionS,
        "run_s" -> runS,
        "setup_runs_s" -> setups,
        "gated" -> gated,
        "op_ms" -> o.opMs,
        "report" -> Json.arr(o.report.map(m =>
          Json.obj("name" -> m.name, "value" -> m.value, "unit" -> m.unit, "n" -> m.n)): _*),
        "layers" -> layers,
        "spark" -> sparkLayers,
        "spark_totals" -> Json.obj("jobs" -> sp.jobs, "tasks" -> sp.tasks,
          "task_cpu_ms" -> sp.cpuMs, "shuffle_bytes" -> sp.shuffleBytes, "ops" -> o.ops))
      Files.createDirectories(out)
      Files.write(out.resolve("result.json"), result.s.getBytes(StandardCharsets.UTF_8))
    } finally {
      try wl.close() finally spark.stop()
    }
  }
}
