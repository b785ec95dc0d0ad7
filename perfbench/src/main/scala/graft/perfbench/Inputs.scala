package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.DataGen

/** Seeded benchmark inputs.
  *
  * DataGen's per-table salts are frozen, so a seed cannot enter through
  * them. Instead every row is made by DataGen's pure per-row functions at
  * row id `offset + i`, where the offset is derived from the seed, and the
  * keys are then re-densified to `i` (foreign keys are drawn from dense
  * ranges by those functions already). The same seed always yields the same
  * tables; a different seed yields different rows of the same shape.
  *
  * Documents additionally carry planted near-duplicates: with probability
  * [[NearDupRate]] a document is a copy of one of the 24 documents before
  * it with a single word replaced, which keeps its shingle Jaccard far
  * above the dedup thresholds. DataGen's own planted tails rewrite ~12% of
  * a document and fall below them, so without this the dedup operators
  * would time empty joins.
  */
object Inputs {
  /** Share of documents planted as one-word-edit near-duplicates. */
  val NearDupRate = 0.08

  private val Vocab = Array("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  /** splitmix64 finalizer: seeds and per-row streams without shared state. */
  def mix(x: Long): Long = {
    var h = x * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    h *= 0xC4CEB9FE1A85EC53L; h ^ (h >>> 33)
  }

  /** Row-id offset for a seed: large and seed-specific, so seeds never
    * share rows, yet small enough that `offset * 8 + line` cannot overflow
    * in DataGen's lineitem salt.
    */
  def offset(seed: Long): Long = (mix(seed) >>> 24) + (1L << 32)

  def rng(seed: Long, stream: Long, i: Long): java.util.Random =
    new java.util.Random(mix(mix(seed) ^ (stream * 0x5851F42D4C957F2DL) ^ i))

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  /** `n` documents with planted near-duplicates; returns the documents and
    * the number planted.
    */
  def documents(seed: Long, n: Int): (Vector[Doc], Int) = {
    val off = offset(seed)
    val docs = new Array[Doc](n)
    var planted = 0
    for (i <- 0 until n) {
      val d = DataGen.documentRow(off + i, 1.0)
      val r = rng(seed, 1, i)
      val text =
        if (i >= 25 && r.nextDouble() < NearDupRate) {
          planted += 1
          oneWordEdit(docs(i - 1 - r.nextInt(24)).text, r)
        } else d.text
      docs(i) = Doc(i, text, d.lang, d.source, text.length.toLong)
    }
    (docs.toVector, planted)
  }

  /** `n` DataGen embeddings (unit gaussians, random labels) at the seed's
    * row-id offset, with vec_id re-densified to `0 until n`.
    */
  def embeddings(seed: Long, n: Int): Vector[DataGen.Embedding] = {
    val off = offset(seed)
    Vector.tabulate(n)(i => DataGen.embeddingRow(off + i).copy(vec_id = i.toLong))
  }

  def oneWordEdit(text: String, r: java.util.Random): String = {
    val w = text.split(" ")
    w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
    w.mkString(" ")
  }

  /** Star schema plus events at scale factor `sf`, keys re-densified, with
    * the row count of each table.
    */
  def starTables(spark: SparkSession, seed: Long, sf: Double): Map[String, (DataFrame, Long)] = {
    import spark.implicits._
    val off = offset(seed)
    val nEvents = DataGen.rowsFor("events", sf)
    // eventRow places row `id` at EventsStart + id * span / n; shifting by
    // the offset's share of the span puts the seeded rows back in range
    val shiftMicros = (BigInt(off) * (30L * 86400L * 1000000L) / nEvents).toLong
    def unshift(t: java.sql.Timestamp): java.sql.Timestamp = {
      val micros = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000 -
        shiftMicros
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
    }
    def n(t: String) = DataGen.rowsFor(t, sf)
    val lines = (0L until n("orders")).map(ok => DataGen.linesPerOrder(off + ok).toLong).sum
    Map(
      "region" -> (DataGen.table(spark, "region", sf), 5L),
      "nation" -> (DataGen.table(spark, "nation", sf), 25L),
      "supplier" -> (spark.range(n("supplier")).map { id =>
        DataGen.supplierRow(off + id).copy(s_suppkey = id, s_name = f"Supplier#$id%09d")
      }.toDF(), n("supplier")),
      "customer" -> (spark.range(n("customer")).map { id =>
        DataGen.customerRow(off + id).copy(c_custkey = id, c_name = f"Customer#$id%09d")
      }.toDF(), n("customer")),
      "part" -> (spark.range(n("part")).map { id =>
        DataGen.partRow(off + id).copy(p_partkey = id)
      }.toDF(), n("part")),
      "orders" -> (spark.range(n("orders")).map { id =>
        DataGen.orderRow(off + id, sf).copy(o_orderkey = id)
      }.toDF(), n("orders")),
      "lineitem" -> (spark.range(n("orders")).flatMap { ok =>
        (1 to DataGen.linesPerOrder(off + ok)).map { ln =>
          DataGen.lineitemRow(off + ok, ln, sf).copy(l_orderkey = ok)
        }
      }.toDF(), lines),
      "events" -> (spark.range(nEvents).map { id =>
        val e = DataGen.eventRow(off + id, sf)
        e.copy(event_id = id, ts = unshift(e.ts))
      }.toDF(), nEvents))
  }

  /** Write each table as a single `<name>.parquet` file, the layout of the
    * shipped test corpus (and the one DuckDB reads by the same path).
    */
  def write(spark: SparkSession, dir: Path, tables: Map[String, DataFrame]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // one single-task write job per table, run side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(tables.toSeq) { case (name, df) => Future {
      val tmp = dir.resolve(s"$name.tmp")
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val part = Fs.walk(tmp).find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"))
      Fs.deleteTree(tmp)
    } }, Duration.Inf)
    finally pool.shutdown()
  }
}
