package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Small filesystem and JSON helpers for the benchmark harness. */
object Fs {
  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.toList finally s.close()
    }

  /** Total bytes of the regular files under `p`. */
  def bytes(p: Path): Long = walk(p).filter(Files.isRegularFile(_)).map(Files.size(_)).sum

  /** Data files (not checksums or markers) under `p`. */
  def dataFiles(p: Path): Int = walk(p).count { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
  }

  /** Hard-link copy of a directory tree: a new path over the same bytes. */
  def linkTree(from: Path, to: Path): Unit = walk(from).foreach { f =>
    val t = to.resolve(from.relativize(f).toString)
    if (Files.isDirectory(f)) Files.createDirectories(t) else Files.createLink(t, f)
  }

  def deleteTree(p: Path): Unit =
    walk(p).reverse.foreach(f => Files.deleteIfExists(f))

  def mb(bytes: Double): Double = bytes / (1 << 20)

  /** Render nested Maps, Seqs, numbers, strings and booleans as JSON. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toSeq.toMap)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
