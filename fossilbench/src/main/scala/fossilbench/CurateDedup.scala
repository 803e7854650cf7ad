package fossilbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, IvfStore, Similarity, SignatureStore}

/** `curate_dedup`: the LLM-data operators. A seeded synthetic corpus with
  * planted near-duplicates and embeddings; set-up builds the reference
  * `SignatureStore` and `IvfStore`. One timed pass is an `AvailableNow`
  * file stream over the new documents, several files a micro-batch, that
  * runs `Dedup.minhashPairsAgainstStored` in `foreachBatch`, then
  * `Similarity.ivfTopKStored` for a seeded query set. No wire, no FQL. */
final class CurateDedup(ctx: Ctx) extends Workload {
  import CurateDedup._

  private val rng = new Random(ctx.seed)
  private val vocab = Array.tabulate(Vocab)(i => "w" + Integer.toString(i, 36))
  private def words(n: Int): Array[String] = Array.fill(n)(vocab(rng.nextInt(Vocab)))

  private val refText: Array[String] = Array.fill(RefDocs)(words(DocWords).mkString(" "))
  /** New documents: every `PlantEvery`-th is a planted near-duplicate, a
    * reference document with a few words substituted; as many again are far
    * copies, with so many words substituted that most fall below the
    * Jaccard threshold, so candidate pairs can fail verification. */
  private val (newText, planted): (Array[String], Set[(Long, Long)]) = {
    val pairs = ArrayBuffer.empty[(Long, Long)]
    def copy(subs: Int): (Int, String) = {
      val r = rng.nextInt(RefDocs)
      val ws = refText(r).split(" ")
      (0 until subs).foreach(_ => ws(rng.nextInt(ws.length)) = vocab(rng.nextInt(Vocab)))
      (r, ws.mkString(" "))
    }
    val docs = Array.tabulate(NewDocs) { j =>
      if (j % PlantEvery == 0) {
        val (r, t) = copy(Substitutions)
        pairs += ((NewBase + j, r.toLong))
        t
      } else if (j % PlantEvery == 1) copy(FarSubstitutions)._2
      else words(DocWords).mkString(" ")
    }
    (docs, pairs.toSet)
  }
  private val centers = Array.fill(Clusters)(Array.fill(Dim)(rng.nextGaussian()))
  private def near(c: Int): Array[Double] = centers(c).map(_ + Spread * rng.nextGaussian())
  private val refVec = Array.tabulate(RefDocs)(i => near(i % Clusters))
  private val queryVec = Array.tabulate(Queries)(_ => near(rng.nextInt(Clusters)))

  private var dir: Path = _

  private def refFrame: DataFrame = ctx.spark.createDataFrame(
    ctx.spark.sparkContext.parallelize(
      refText.indices.map(i => Row(i.toLong, refText(i), refVec(i).toSeq)), ctx.cores),
    StructType(Seq(StructField("id", LongType), StructField("text", StringType),
      StructField("emb", ArrayType(DoubleType)))))

  private def queryFrame: DataFrame = ctx.spark.createDataFrame(
    ctx.spark.sparkContext.parallelize(
      queryVec.indices.map(i => Row(QueryBase + i, queryVec(i).toSeq)), 1),
    StructType(Seq(StructField("id", LongType), StructField("emb", ArrayType(DoubleType)))))

  def setup(d: Path): Unit = {
    if (dir != null) Reads.deleteTree(dir)
    dir = d
    val in = d.resolve("in")
    Files.createDirectories(in)
    newText.indices.grouped((NewDocs + Files_ - 1) / Files_).zipWithIndex.foreach { case (js, f) =>
      val lines = js.map(j => s"""{"id": ${NewBase + j}, "text": "${newText(j)}"}""")
      Files.write(in.resolve(f"part-$f%02d.json"), lines.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    }
    val ref = refFrame.cache()
    SignatureStore.build(ref, "id", "text", d.resolve("sig").toString, "ref")
    val mod = math.ceil(math.sqrt(RefDocs.toDouble)).toLong
    IvfStore.build(ref, ref.filter(col("id") % mod === 0), "id", "emb", "id",
      d.resolve("ivf").toString, "ref", IvfTag, pqSub = 0)
    ref.unpersist()
  }

  def run(seconds: Double): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val sig = dir.resolve("sig").toString
    val ivf = dir.resolve("ivf").toString
    val queries = queryFrame.cache()
    queries.count()
    val passes = ArrayBuffer.empty[Pass]
    var candidates = 0L
    def pass(i: Int): Pass = tracer.span("pass") {
      val found = ArrayBuffer.empty[(Long, Long, Long)]
      val t0 = System.nanoTime()
      val (bands, hashes) = tracer.span("operators.ref_read") {
        (SignatureStore.bands(spark, sig, "ref"), SignatureStore.shingleHashes(spark, sig, "ref"))
      }
      val parent = tracer.current
      val q = spark.readStream.schema(DocSchema)
        .option("maxFilesPerTrigger", FilesPerTrigger)
        .json(dir.resolve("in").toString)
        .writeStream
        .option("checkpointLocation", dir.resolve(s"checkpoint-$i").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[Row], _: Long) => tracer.fork(parent) {
          tracer.span("operators.dedup_batch") {
            found ++= Dedup.minhashPairsAgainstStored(batch, "id", "text", bands, hashes)
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          }
          if (tracer.enabled)
            candidates += Dedup.minhashPairsAgainstStored(batch, "id", "text", bands, hashes,
              minJaccardE4 = 0).count()
        } }
        .start()
      q.awaitTermination()
      val t1 = System.nanoTime()
      val ann = tracer.span("operators.ann") {
        Similarity.ivfTopKStored(spark, ivf, "ref", IvfTag, queries, "id", "emb", K, NProbe)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      }
      val t2 = System.nanoTime()
      Pass((t1 - t0) / 1e9, (t2 - t1) / 1e9, found.toSeq, ann, q.recentProgress.toSeq)
    }
    // untimed warm-up passes, checked with the others; then at least
    // MinPasses, and no pass starts that would end past the run time
    val warm = (1 to WarmPasses).map(i => pass(-i))
    ctx.measureStart()
    candidates = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < MinPasses || elapsed + passes.map(_.resultS).max < seconds)
      passes += pass(passes.size)
    val secs = elapsed
    val sparkTotals = ctx.meter.take()

    val problems = ArrayBuffer.empty[String]
    val brute = Similarity.bruteForceTopK(refFrame, queries, "id", "emb", K)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    var annRecall = 1.0
    var plantedRecall = 1.0
    (warm ++ passes).foreach { p =>
      val bad = p.pairs.filter { case (a, b, _) =>
        jaccard((a - NewBase).toInt, b.toInt) < MinJaccard
      }
      if (bad.nonEmpty) problems += s"${bad.size} reported pairs fail the exact Jaccard recheck, e.g. ${bad.head}"
      val got = p.pairs.map { case (a, b, _) => (a, b) }.toSet
      plantedRecall = math.min(plantedRecall, planted.count(got).toDouble / planted.size)
      annRecall = math.min(annRecall, p.ann.count(brute).toDouble / brute.size)
      if (p.ann.size != Queries * K) problems += s"ANN returned ${p.ann.size} neighbours, expected ${Queries * K}"
    }
    if (plantedRecall < PlantedRecallFloor)
      problems += f"planted-pair recall $plantedRecall%.3f is below $PlantedRecallFloor"
    if (annRecall < AnnRecallFloor) problems += f"ann recall $annRecall%.3f is below $AnnRecallFloor"
    queries.unpersist()

    val results = passes.map(_.resultS * 1000).toSeq
    val docsPerS = NewDocs / Stats.median(passes.map(_.streamS).toSeq)
    val userBytes = refText.map(_.length.toLong).sum + RefDocs.toLong * Dim * 8
    val bytesRatio = (Reads.treeBytes(dir.resolve("sig")) + Reads.treeBytes(dir.resolve("ivf"))).toDouble / userBytes
    val verified = passes.map(_.pairs.size).sum.toDouble
    val report = Seq(
      Metric("docs_per_s", docsPerS, "1/s", passes.size),
      Metric("result_s", Stats.median(results) / 1000, "s", passes.size),
      Metric("fail_share", 0.0, "ratio", passes.size),
      Metric("store_bytes_per_user_byte", bytesRatio, "ratio"),
      Metric("planted_recall", plantedRecall, "ratio", planted.size),
      Metric("ann_recall", annRecall, "ratio", Queries),
      Metric("run_s", secs, "s"))
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else Progress.layers(passes.flatMap(_.batches).toSeq) ++ Map(
        "operators.candidate_pairs" -> candidates.toDouble / passes.size,
        "operators.verified_pairs" -> verified / passes.size,
        "operators.verify_yield" -> (if (candidates == 0) 0.0 else verified / candidates),
        "operators.ann_recall" -> annRecall)
    Outcome(passes.size, 0, problems.toSeq,
      Map("op_p50_ms" -> Stats.median(results), "ops_per_s" -> docsPerS,
        "store_bytes_per_user_byte" -> bytesRatio),
      report, layers, passes.size, results, sparkTotals)
  }

  /** Exact Jaccard of the 3-word shingle sets of new doc `j` and ref doc `r`. */
  private def jaccard(j: Int, r: Int): Double = {
    def shingles(t: String): Set[String] =
      t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).sliding(ShingleWords)
        .filter(_.length == ShingleWords).map(_.mkString(" ")).toSet
    val a = shingles(newText(j))
    val b = shingles(refText(r))
    (a intersect b).size.toDouble / (a union b).size
  }

  def close(): Unit = ()
}

object CurateDedup {
  val RefDocs = 1500
  val NewDocs = 600
  val DocWords = 80
  val Vocab = 5000
  val PlantEvery = 5
  val Substitutions = 2
  val FarSubstitutions = 12
  val Files_ = 3
  val FilesPerTrigger = 1
  val WarmPasses = 1
  val MinPasses = 3
  val ShingleWords = 3
  val MinJaccard = 0.5
  val NewBase = 1000000L
  val QueryBase = 2000000L
  val Dim = 32
  val Clusters = 32
  val Spread = 0.5
  val Queries = 64
  val K = 10
  val NProbe = 8
  val IvfTag = "subset-sqrtn.v1"
  /** Fixed floors: the planted pairs sit near Jaccard 0.85, where four
    * bands of three rows find a pair with probability ≈ 0.97. */
  val PlantedRecallFloor = 0.8
  val AnnRecallFloor = 0.8
  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  /** One timed pass: the dedup stream, then the ANN probe. */
  private final case class Pass(streamS: Double, annS: Double, pairs: Seq[(Long, Long, Long)],
      ann: Seq[(Long, Long)], batches: Seq[StreamingQueryProgress]) {
    def resultS: Double = streamS + annS
  }
}
