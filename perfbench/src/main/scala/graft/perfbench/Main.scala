package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.ml.{FeatureOps, Tuning}
import graft.multimodal.BinaryPipeline
import graft.operators._
import graft.streaming.EventStream

/** Benchmark harness: one workload, one seed, one JVM.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <runDir>`; run.py
  * supplies the arguments and turns `<runDir>/result.json` into metrics.
  *
  * Order of a run: generate the seeded inputs; set up once on a fresh
  * session, warehouse and data path; run the measured work on that
  * session (closed loop, one client; see [[Queries]] and [[Ingest]]); then
  * set up [[SetupReps]] - 1 more times, each on fresh state again, so every
  * store build really runs and `setup_s` is a median.
  */
object Main {
  val SetupReps = 3
  /** local[4], the size the workloads were tuned at, or fewer on a smaller host. */
  val Cores: Int = math.min(Runtime.getRuntime.availableProcessors, 4)

  final case class Store(name: String, build: (SparkSession, String) => Unit)

  final case class Workload(name: String, stores: Seq[Store], ops: Seq[String])

  /** The benchmark's workloads. Each names the stores its set-up builds and the
    * ops (batch) or gates (ingest) one pass runs.
    */
  val workloads: Map[String, Workload] = Seq(
    Workload("batch",
      Seq(Store("GraphStore", (s, d) => GraphOps.GraphStore.strong(s, d)),
        Store("CvStore", (s, d) => Tuning.CvStore.ensure(s, d))),
      Seq("q1_pricing_summary", "q_hll_union", "q_salted_join", "q_asof_join",
        "q_pagerank", "q_quality_score", "q_minhash_lsh", "q_repetition",
        "q_ann_binary", "q_pca", "q_mllib_tuning")),
    Workload("ingest",
      Seq(Store("SigStore", (s, d) => Dedup.SigStore.ensure(s, d)),
        Store("IvfIndex", (s, d) => Similarity.IvfIndex.get(s, d, 16))),
      Ingest.Gates)
  ).map(w => w.name -> w).toMap

  /** Ops whose output must not be empty: an empty near-dup join would be
    * timed as if it were dedup work.
    */
  val NonEmpty = Set("q_minhash_lsh")

  /** Module that owns each op: the one whose `queries` map lists it. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> Relational.queries, "TemporalOps" -> TemporalOps.queries,
    "TextAnalysis" -> TextAnalysis.queries, "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries, "FeatureOps" -> FeatureOps.queries,
    "Tuning" -> Tuning.queries, "BinaryPipeline" -> BinaryPipeline.queries,
    "EventStream" -> EventStream.queries, "SqlSurface" -> SqlSurface.queries,
    "SkewJoin" -> SkewJoin.queries, "AnalyticExt" -> AnalyticExt.queries,
    "Sketches" -> Sketches.queries, "TrainingOps" -> TrainingOps.queries,
    "Validation" -> Validation.queries, "GraphOps" -> GraphOps.queries)

  def moduleOf(op: String): String =
    modules.collectFirst { case (m, q) if q.contains(op) => m }.get

  def main(args: Array[String]): Unit = {
    val Array(wName, seedS, secondsS, traceS, runDirS) = args
    val w = workloads(wName)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val runDir = Paths.get(runDirS).toAbsolutePath
    val cores = Cores
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_mb" -> Fs.mb(Runtime.getRuntime.maxMemory.toDouble))

    // ---- inputs (not timed) ----
    val data0 = runDir.resolve("data0")
    Files.createDirectories(data0)
    val genSpark = newSession(runDir, 0, cores, null)
    val manifest = mutable.LinkedHashMap[String, Any]("seed" -> seed)
    val ingest = if (w.name == "ingest") Some(new Ingest(seed, runDir)) else None
    val runner: Runner = ingest.getOrElse(new Queries(w, runDir))
    val rows = generate(genSpark, w.name, seed, data0, manifest)
    ingest.foreach(_.prepare())
    manifest("tables") = rows.map { case (t, r) =>
      t -> Map("rows" -> r, "bytes" -> Files.size(data0.resolve(s"$t.parquet"))) }
    genSpark.stop()
    log(s"inputs ready")

    // ---- setup, repeated on fresh state. The measured work runs on the
    // first set-up's session, right after it; the later set-ups then run
    // with a warm JIT, so the median set-up is a warm one. ----
    val setups = mutable.ArrayBuffer[Map[String, Any]]()
    var spark: SparkSession = null
    var tracer: Tracer = null
    var storeBytes = Map.empty[String, Long]
    for (rep <- 1 to SetupReps) {
      if (spark != null) spark.stop()
      val data = runDir.resolve(s"data$rep")
      Fs.linkTree(data0, data)
      val dir = data.toString
      val t0 = System.nanoTime()
      spark = newSession(runDir, rep, cores, dir)
      val create = (System.nanoTime() - t0) / 1e9
      val measured = rep == 1
      if (traced && measured) { tracer = new Tracer(spark); tracer.attach() }
      val wh = warehouse(spark)
      val builds = w.stores.map { st =>
        val before = Fs.bytes(wh)
        val b0 = System.nanoTime()
        val span = Option(tracer).map(_.open(s"build ${st.name}", "store"))
        try st.build(spark, dir)
        finally span.foreach(tracer.close)
        val secs = (System.nanoTime() - b0) / 1e9
        if (measured) storeBytes += st.name -> (Fs.bytes(wh) - before)
        st.name -> secs
      }
      setups += Map("total_s" -> (System.nanoTime() - t0) / 1e9, "create_s" -> create,
        "stores" -> builds.toMap)
      if (tracer != null) tracer.detach()
      spark.catalog.clearCache()
      log(s"setup $rep: ${setups.last}")
      if (measured) {
        result("store_total_bytes") = Fs.bytes(wh)
        result ++= runner.run(spark, dir, seconds, Option(tracer))
        if (tracer != null) {
          result("self_s_by_layer") = tracer.selfTimeByLayer
          Files.writeString(runDir.resolve("spans.json"), Fs.json(tracer.spans.toSeq))
          tracer = null
        }
      }
    }
    result("setup") = setups
    result("store_bytes") = storeBytes

    manifest ++= ingest.map(_.manifest).getOrElse(Map.empty)
    result("manifest") = manifest
    result("peak_rss_mb") = peakRssMb()
    spark.stop()
    Files.writeString(runDir.resolve("result.json"), Fs.json(result))
  }

  private val t00 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%.1fs $msg")

  /** Fresh session with its own warehouse and local dirs under the run dir. */
  def newSession(runDir: Path, rep: Int, cores: Int, dataDir: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val wh = runDir.resolve(s"warehouse$rep")
    val local = runDir.resolve(s"local$rep")
    Files.createDirectories(local)
    System.setProperty("spark.sql.warehouse.dir", wh.toUri.toString)
    System.setProperty("spark.local.dir", local.toString)
    GraftSession.create(cores, dataDir = dataDir)
  }

  def warehouse(spark: SparkSession): Path =
    Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)

  /** Write the workload's seeded tables; returns rows per table. */
  def generate(spark: SparkSession, workload: String, seed: Long, dir: Path,
      manifest: mutable.Map[String, Any]): Map[String, Long] = {
    import spark.implicits._
    def docs(n: Int): DataFrame = {
      val (d, planted) = Inputs.documents(seed, n)
      manifest("planted_near_dups") = planted
      manifest("planted_dup_rate") = Inputs.NearDupRate
      d.toDF()
    }
    val vecs = "embeddings" -> (Inputs.embeddings(seed, Sizes.Vecs).toDF(), Sizes.Vecs.toLong)
    val tables: Map[String, (DataFrame, Long)] = workload match {
      case "batch" => Inputs.starTables(spark, seed, Sizes.StarSf) +
        ("documents" -> (docs(Sizes.Docs), Sizes.Docs.toLong)) + vecs
      case "ingest" =>
        Map("documents" -> (docs(Sizes.IngestDocs), Sizes.IngestDocs.toLong), vecs)
    }
    Inputs.write(spark, dir, tables.map { case (t, (df, _)) => t -> df })
    tables.map { case (t, (_, n)) => t -> n }
  }

  /** VmHWM: the process's peak resident set. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // ---- output fingerprints (the Verify canonical fold) ----

  def cell(v: Any): String = v match {
    case null => "∅"
    case d: java.lang.Double => if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else d.toString
    case f: java.lang.Float => cell(java.lang.Double.valueOf(f.toDouble))
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => cell(k) + "->" + cell(x) }.toSeq.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  /** Order-insensitive hash of a result: columns by name, rows sorted. */
  def canonicalHash(names: Array[String], rows: Array[Row]): String = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val rendered = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001"))
    java.util.Arrays.sort(rendered, java.util.Comparator.naturalOrder[String]())
    val md = java.security.MessageDigest.getInstance("MD5")
    rendered.foreach { s => md.update(s.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Sums of the traced requests' counters (each op or gate is traced
    * once, so these are per pass or per batch), plus derived ratios.
    */
  def layerMetrics(perRequest: Seq[(String, Map[String, Double])],
      tracedWall: Double, cores: Int): Map[String, Double] = {
    val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
    val maxes = Set("exec.peak_mem_mb")
    perRequest.foreach { case (_, m) => m.foreach { case (k, v) =>
      sums(k) = if (maxes(k)) math.max(sums(k), v) else sums(k) + v } }
    val scanRows = sums("Tables.scan_rows")
    sums.toMap ++ Map(
      "exec.core_util" -> sums("exec.task_s") / math.max(1e-9, tracedWall * cores),
      "shuffle.records_per_scan_row" ->
        (if (scanRows > 0) sums("shuffle.read_records") / scanRows else 0.0))
  }
}

/** Input sizes and run lengths, chosen so one run (inputs, three set-ups
  * and the measured work) takes about a minute on four cores while every op
  * still does real work. The star schema is at sf0.01: at sf0.1 a pass of
  * the star-schema ops took 1.6x as long with the same overhead-bound shape,
  * and its inputs and GraphStore builds would not fit the run.
  */
object Sizes {
  val StarSf = 0.01
  val Docs = 1000
  val Vecs = 1000
  val IngestDocs = 1000
  val BatchDocs = 100
  val BatchVecs = 100
  /** A run does the same work every time: `seconds` divided by these
    * nominal times gives the number of passes (at least one) or of timed
    * batches (at least two). A time-boxed loop made faster runs reach
    * further down the JIT warm-up curve, which moved the medians by more
    * than the effects the benchmark is meant to resolve.
    */
  val NominalPassS = 12.0
  val NominalBatchS = 6.0
}

/** The measured work of a workload, run on the first set-up's session. */
trait Runner {
  def run(spark: SparkSession, dir: String, seconds: Double,
      tracer: Option[Tracer]): Map[String, Any]
}

/** The op-list workload (batch): closed-loop passes over the op list, one
  * client. Pass 0 is both measured and checked: each op's rows are
  * collected inside the timed window, then hashed and written out for the
  * oracle compare after it. Later passes must hash like pass 0.
  */
final class Queries(w: Main.Workload, runDir: Path) extends Runner {
  import Main._

  def run(spark: SparkSession, dir: String, seconds: Double,
      tracer: Option[Tracer]): Map[String, Any] = {
    val fns = SparkEntry.queries
    val firstHash = mutable.Map[String, String]()
    val recall = mutable.Map[String, Double]()
    val first = mutable.ArrayBuffer[Map[String, Any]]()
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val perRequest = mutable.ArrayBuffer[(String, Map[String, Double])]()
    val cachePeak = mutable.ArrayBuffer[Double](0.0)
    var tracedWall = 0.0

    /** Pass 0's bookkeeping, outside the timed window. */
    def keep(op: String, df: DataFrame, rows: Array[Row]): Boolean = {
      firstHash(op) = canonicalHash(df.schema.fieldNames, rows)
      if (df.columns.contains("recall_at_5") && rows.nonEmpty) {
        val i = df.schema.fieldIndex("recall_at_5")
        recall(op) = rows.map(_.getDouble(i)).sum / rows.length
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(runDir.resolve("outputs").resolve(op).toString)
      !NonEmpty(op) || rows.nonEmpty
    }

    // a traced run adds two passes after pass 0 in which every other op is
    // traced (the odd ones in pass 1, the even ones in pass 2), so each op
    // runs once traced and once untraced, side by side
    val nPasses = if (tracer.isDefined) 3
      else math.max(1, math.round(seconds / Sizes.NominalPassS).toInt)
    for (pass <- 0 until nPasses) {
      var wall = 0.0
      w.ops.zipWithIndex.foreach { case (op, i) =>
        val traced = tracer.isDefined && pass > 0 && (i + pass) % 2 == 0
        // listeners are attached only around traced ops, so untraced ops
        // cost what they cost in an untraced run
        if (traced) tracer.foreach(_.attach())
        val span = if (traced) tracer.map(_.open(op, moduleOf(op))) else None
        val t0 = System.nanoTime()
        var secs = 0.0
        var ok = false
        var df: DataFrame = null
        var rows: Array[Row] = Array.empty
        try {
          df = fns(op)(spark, dir)
          rows = df.collect()
          ok = true
        } catch { case e: Throwable => log(s"$op failed: $e")
        } finally {
          secs = (System.nanoTime() - t0) / 1e9
          wall += secs
          span.foreach { s => perRequest += op -> tracer.get.close(s) }
          if (traced) {
            cachePeak += Fs.mb(spark.sparkContext.getRDDStorageInfo
              .map(i => (i.memSize + i.diskSize).toDouble).sum)
            tracer.foreach(_.detach())
            tracedWall += secs
          }
          spark.catalog.clearCache()
        }
        val good = if (pass == 0) {
          val kept = ok && (try keep(op, df, rows) catch {
            case e: Throwable => log(s"$op output not kept: $e"); false })
          log(f"pass 0 $op: $secs%.2fs, ${rows.length} rows")
          first += Map("op" -> op, "ok" -> kept, "rows" -> rows.length,
            "hash" -> firstHash.getOrElse(op, ""))
          kept
        } else ok && canonicalHash(df.schema.fieldNames, rows) == firstHash.getOrElse(op, "")
        samples += Map("op" -> op, "module" -> moduleOf(op), "pass" -> pass,
          "seconds" -> secs, "ok" -> good, "traced" -> traced)
      }
      passes += Map("pass" -> pass, "seconds" -> wall)
      log(f"pass $pass: $wall%.2fs")
      if (pass == 0) {
        // oracle SQL is bound late: some ops inline the paths of the
        // stores they just read
        val oracle = SparkEntry.oracleSql.filter { case (k, _) => w.ops.contains(k) }
        Files.writeString(runDir.resolve("oracle_sql.json"), Fs.json(oracle))
      }
    }
    val out = mutable.LinkedHashMap[String, Any](
      "first_pass" -> first, "samples" -> samples, "passes" -> passes, "recall_at_5" -> recall)
    if (tracer.isDefined) {
      val layers = layerMetrics(perRequest.toSeq, tracedWall, Cores)
      def laterSum(traced: Boolean) = samples.filter(s => s("pass") != 0 &&
        s("traced") == traced).map(_("seconds").asInstanceOf[Double]).sum
      out("layers") = layers ++ Map("cache.peak_mb" -> cachePeak.max,
        "trace.overhead_s" -> (laterSum(true) - laterSum(false))) ++
        modules.map { case (m, _) =>
          s"$m.op_s" -> samples.filter(s => s("traced") == true && s("module") == m)
            .map(_("seconds").asInstanceOf[Double]).sum
        }
    }
    out.toMap
  }
}
