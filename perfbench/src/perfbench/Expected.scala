package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Expected (row count, fingerprint) per query, kept in `expected.tsv`
  * beside the benchmark: `name<TAB>rows<TAB>fingerprint`, `#` comments.
  */
object Expected {

  def load(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        l.split('\t') match {
          case Array(name, rows, fp) => name -> ((rows.toLong, fp))
          case _ => throw new IllegalArgumentException(s"bad line in $path: $l")
        }
      }.toMap

  def write(path: String, header: Seq[String], values: Map[String, (Long, String)]): Unit = {
    val lines = header.map("# " + _) ++
      values.toSeq.sortBy(_._1).map { case (n, (rows, fp)) => s"$n\t$rows\t$fp" }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
