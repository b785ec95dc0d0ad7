package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.DataGen
import graft.operators.{Dedup, Similarity}
import graft.streaming.EventStream

/** The ingest workload: a closed loop with one client. The client lands one
  * micro-batch of documents and one of vectors as parquet files, runs the
  * EventStream near-dup, decontamination, vector and validation gates over
  * them (each an AvailableNow stream resuming from its own checkpoint), and
  * only then lands the next batch.
  *
  * Each batch of [[Sizes.BatchDocs]] eval-source documents holds, at the
  * stated rates, one-word edits of stored training documents (near-dup
  * hits), documents that embed a 20-word window of an eval document
  * (decontamination hits) and rows whose n_chars disagrees with the text
  * (quarantined by validation); the rest are fresh DataGen documents.
  * Each batch of [[Sizes.BatchVecs]] vectors re-lands, at [[RelandRate]],
  * vectors already in the persisted IVF index (they must get their
  * persisted cells back); the rest are fresh DataGen embeddings.
  */
final class Ingest(seed: Long, runDir: Path) extends Runner {
  import Ingest._

  val manifest = mutable.LinkedHashMap[String, Any]("batch_docs" -> Sizes.BatchDocs,
    "near_dup_rate" -> NearDupRate, "contaminated_rate" -> ContaminatedRate,
    "invalid_rate" -> InvalidRate, "batch_vecs" -> Sizes.BatchVecs,
    "reland_rate" -> RelandRate)
  private var train: Vector[Inputs.Doc] = Vector.empty
  private var eval: Vector[Inputs.Doc] = Vector.empty
  private var nDocs = 0
  private var corpus: Vector[DataGen.Embedding] = Vector.empty
  private val relanded = mutable.Set[Long]()
  private val invalid = mutable.Set[Long]()
  private val in = runDir.resolve("in")
  private val vin = runDir.resolve("vin")
  private val sinks = runDir.resolve("sinks")
  private val ckpt = runDir.resolve("checkpoints")

  def prepare(): Unit = {
    val (docs, _) = Inputs.documents(seed, Sizes.IngestDocs)
    val isEval = Dedup.EvalSources.toSet
    train = docs.filterNot(d => isEval(d.source))
    eval = docs.filter(d => isEval(d.source) && d.text.split(" ").length >= 20)
    nDocs = docs.size
    corpus = Inputs.embeddings(seed, Sizes.Vecs)
  }

  /** Vector batch `k`: a pure function of (seed, k). A re-landed corpus
    * vector keeps its vec_id; slot `k * BatchVecs + j` picks a different
    * one for every slot, so no vec_id lands twice.
    */
  def vecBatch(k: Int): Seq[(Long, Array[Float])] = {
    val r = Inputs.rng(seed, 8, k)
    val off = Inputs.offset(seed) + 200000000L
    (0 until Sizes.BatchVecs).map { j =>
      val slot = k.toLong * Sizes.BatchVecs + j
      if (r.nextDouble() < RelandRate) {
        val c = corpus((slot % corpus.size).toInt)
        relanded += c.vec_id
        (c.vec_id, c.embedding)
      } else (corpus.size + slot, DataGen.embeddingRow(off + slot).embedding)
    }
  }

  /** Batch `k`: a pure function of (seed, k). */
  def batch(k: Int): Seq[Inputs.Doc] = {
    val r = Inputs.rng(seed, 7, k)
    val off = Inputs.offset(seed) + 100000000L
    (0 until Sizes.BatchDocs).map { j =>
      val id = nDocs.toLong + k.toLong * Sizes.BatchDocs + j
      val fresh = graft.DataGen.documentRow(off + id, 1.0)
      val u = r.nextDouble()
      val text =
        if (u < NearDupRate) Inputs.oneWordEdit(train(r.nextInt(train.size)).text, r)
        else if (u < NearDupRate + ContaminatedRate) {
          val w = eval(r.nextInt(eval.size)).text.split(" ")
          val from = r.nextInt(w.length - 19)
          fresh.text.split(" ").take(8).mkString(" ") + " " +
            w.slice(from, from + 20).mkString(" ")
        } else fresh.text
      val bad = r.nextDouble() < InvalidRate
      if (bad) invalid += id
      Inputs.Doc(id, text, fresh.lang, Dedup.EvalSources(r.nextInt(Dedup.EvalSources.size)),
        text.length.toLong + (if (bad) 1 else 0))
    }
  }

  /** Write batch `k`'s documents and vectors to staging, then move each
    * file into its watched dir.
    */
  def land(spark: SparkSession, k: Int): Int = {
    import spark.implicits._
    val docs = batch(k)
    def put(df: DataFrame, to: Path): Unit = {
      val stage = runDir.resolve(s"staging/$k")
      df.coalesce(1).write.parquet(stage.toString)
      Files.createDirectories(to)
      Fs.walk(stage).filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
        Files.move(f, to.resolve(s"batch-$k.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
      Fs.deleteTree(stage)
    }
    put(docs.toDF(), in)
    put(vecBatch(k).toDF("vec_id", "v"), vin)
    docs.size
  }

  private def stream(spark: SparkSession, from: Path): DataFrame =
    spark.readStream.schema(spark.read.parquet(from.toString).schema).parquet(from.toString)
  private def docsStream(spark: SparkSession): DataFrame = stream(spark, in)

  def gate(spark: SparkSession, dir: String, name: String): Unit = {
    def sink(n: String) = sinks.resolve(n).toString
    def cp(n: String) = ckpt.resolve(n).toString
    name match {
      case "neardup" =>
        EventStream.streamNeardupIngestToFiles(docsStream(spark), dir, sink("neardup"), cp("neardup"))
      case "decontam" =>
        EventStream.streamDecontamToFiles(docsStream(spark), dir, sink("decontam"), cp("decontam"))
      case "vector" =>
        EventStream.streamVectorIngestToFiles(stream(spark, vin), dir, sink("vector"), cp("vector"))
      case "validate" =>
        EventStream.streamValidationGateToFiles(docsStream(spark), sink("accept"),
          sink("quarantine"), cp("validate"))
    }
  }

  private val gateCalls = mutable.ArrayBuffer[Map[String, Any]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()
  private val perRequest = mutable.ArrayBuffer[(String, Map[String, Double])]()
  private var tracedWall = 0.0

  /** Land batch `k` and run every gate over it. With a tracer, every other
    * gate is traced, starting with the first in even batches and the
    * second in odd ones, so two timed batches trace each gate once and run
    * it once untraced.
    */
  private def oneBatch(spark: SparkSession, dir: String, k: Int, timed: Boolean,
      tracer: Option[Tracer]): Unit = {
    val n = land(spark, k)
    val b0 = System.nanoTime()
    Gates.zipWithIndex.foreach { case (g, i) =>
      val traced = timed && tracer.isDefined && (i + k) % 2 == 0
      // listeners are attached only around traced gates, so untraced
      // gates cost what they cost in an untraced run
      if (traced) tracer.foreach(_.attach())
      val span = if (traced) tracer.map(_.open(g, "EventStream")) else None
      val g0 = System.nanoTime()
      var ok = false
      try { gate(spark, dir, g); ok = true }
      catch { case e: Throwable => Main.log(s"gate $g failed: $e")
      } finally {
        val secs = (System.nanoTime() - g0) / 1e9
        span.foreach { s => perRequest += g -> (tracer.get.close(s) + ("gate_s" -> secs)) }
        if (traced) { tracer.foreach(_.detach()); tracedWall += secs }
        gateCalls += Map("gate" -> g, "batch" -> k, "seconds" -> secs, "ok" -> ok,
          "timed" -> timed, "traced" -> traced)
      }
    }
    val secs = (System.nanoTime() - b0) / 1e9
    Main.log(f"batch $k: $secs%.2fs")
    batches += Map("batch" -> k, "seconds" -> secs, "docs" -> n, "timed" -> timed,
      "traced" -> (timed && tracer.isDefined))
  }

  def run(spark: SparkSession, dir: String, seconds: Double,
      tracer: Option[Tracer]): Map[String, Any] = {
    // the first batches warm the gates up (first stream start-ups, JIT);
    // they are checked but not timed
    (0 until WarmBatches).foreach(oneBatch(spark, dir, _, timed = false, None))
    var loopDocs = 0
    val loop0 = System.nanoTime()
    // a traced run times two batches, in which each gate runs once traced
    // and once untraced
    val nBatches = if (tracer.isDefined) 2
      else math.max(2, math.round(seconds / Sizes.NominalBatchS).toInt)
    for (k <- WarmBatches until WarmBatches + nBatches) {
      oneBatch(spark, dir, k, timed = true, tracer)
      loopDocs += Sizes.BatchDocs
    }
    val loopWall = (System.nanoTime() - loop0) / 1e9
    manifest("batches_landed") = WarmBatches + nBatches
    manifest("invalid_rows") = invalid.size

    val checks = check(spark, dir)
    Main.log("checks done")
    val out = mutable.LinkedHashMap[String, Any]("gate_calls" -> gateCalls,
      "batches" -> batches, "checks" -> checks,
      "docs_per_s" -> loopDocs / loopWall)
    if (tracer.isDefined) {
      val layers = Main.layerMetrics(perRequest.toSeq.map { case (g, m) => g -> (m - "gate_s") },
        tracedWall, Main.Cores)
      val perGate = Gates.map { g =>
        s"EventStream.${GateMetric(g)}" -> perRequest.filter(_._1 == g).map(_._2("gate_s")).sum
      }
      val gateWall = perRequest.map(_._2("gate_s")).sum
      val trig = perRequest.map(_._2.getOrElse("stream.trigger_s", 0.0)).sum
      def timedSum(traced: Boolean) = gateCalls.filter(c => c("timed") == true &&
        c("traced") == traced).map(_("seconds").asInstanceOf[Double]).sum
      out("layers") = layers ++ perGate ++ Map(
        "trace.overhead_s" -> (timedSum(true) - timedSum(false)),
        "stream.startup_s" -> (gateWall - trig),
        "stream.sink_files" -> Fs.dataFiles(sinks).toDouble / (WarmBatches + nBatches),
        "cache.peak_mb" -> Fs.mb(spark.sparkContext.getRDDStorageInfo
          .map(i => (i.memSize + i.diskSize).toDouble).sum))
    }
    out.toMap
  }

  /** Compare every sink with its batch twin over all landed batches. Each
    * side is collected once (sinks are a few thousand rows at most) and
    * compared as a multiset through the canonical fold.
    */
  def check(spark: SparkSession, dir: String): Map[String, Map[String, Any]] = {
    val landed = spark.read.parquet(in.toString)
    def sink(n: String) = spark.read.parquet(sinks.resolve(n).toString).drop("batch_id")
    def rows(df: DataFrame, cols: Seq[String]) = df.select(cols.map(col): _*).collect()
    def same(a: DataFrame, b: DataFrame): (Boolean, Int) = {
      val cols = a.columns.sorted.toSeq
      val x = rows(a, cols)
      (x.nonEmpty && Main.canonicalHash(cols.toArray, x) ==
        Main.canonicalHash(cols.toArray, rows(b, cols)), x.length)
    }
    val (nearOk, nearRows) = same(sink("neardup"), Dedup.neardupMatches(spark, dir, landed))
    val (deconOk, deconRows) = same(sink("decontam"),
      Dedup.decontamHits(Dedup.decontamBanList(spark, dir), landed))
    val vecs = sink("vector")
    val (vecOk, vecRows) = same(vecs,
      Similarity.assignVectors(spark, dir, spark.read.parquet(vin.toString)))
    // re-landed corpus vectors must get the cells the index persisted
    val persisted = Similarity.IvfIndex.get(spark, dir, 16)._1
      .select(col("vec_id"), col("cell").as("persisted"))
    val relandedRows = vecs.join(persisted, "vec_id").collect()
    val movedCells = relandedRows.count(r => r.getAs[Int]("cell") != r.getAs[Int]("persisted"))
    val quarantined = rows(sink("quarantine"), Seq("doc_id", "reason"))
    val qIds = quarantined.filter(_.getString(1) == "n_chars_mismatch").map(_.getLong(0)).toSet
    val accepted = sink("accept").count()
    val nLanded = landed.count()
    def result(ok: Boolean, n: Long, extra: (String, Any)*) =
      Map[String, Any]("ok" -> ok, "rows" -> n) ++ extra
    Map(
      "neardup" -> result(nearOk, nearRows),
      "decontam" -> result(deconOk, deconRows),
      "vector" -> result(vecOk && movedCells == 0 && relandedRows.length == relanded.size,
        vecRows, "relanded" -> relandedRows.length, "moved_cells" -> movedCells),
      "validate" -> result(qIds == invalid.toSet && quarantined.length == invalid.size &&
        accepted == nLanded - invalid.size, quarantined.length, "accepted" -> accepted))
  }
}

object Ingest {
  val Gates = Seq("neardup", "decontam", "vector", "validate")
  /** Untimed batches, run right after the first set-up: the first stream
    * start-ups of a fresh JVM are the slowest.
    */
  val WarmBatches = 1
  val GateMetric = Map("neardup" -> "neardup_s", "decontam" -> "decontam_s",
    "vector" -> "vector_s", "validate" -> "validate_s")
  val NearDupRate = 0.10
  val ContaminatedRate = 0.10
  val InvalidRate = 0.03
  val RelandRate = 0.20
}
