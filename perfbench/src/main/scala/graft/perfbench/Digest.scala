package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Output digests of registry queries. The expected file holds one
  * line per query: `name<TAB>rows<TAB>sha256`, with `-` in place of the
  * hash for queries checked by row count only. */
object Digest {
  final case class Expected(rows: Long, sha256: Option[String])

  /** A stable text form of a value: byte arrays as hex, collections
    * and structs element by element, everything else by `toString`
    * (the JVM runs in UTC, so timestamps print the same everywhere). */
  def format(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(format).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => format(k) + "->" + format(x) }
        .mkString("{", ",", "}")
    case s: scala.collection.Iterable[_] => s.map(format).mkString("[", ",", "]")
    case x => x.toString
  }

  def sha256(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(format(r).getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  def line(name: String, rows: Seq[Row], rowsOnly: Boolean): String =
    s"$name\t${rows.size}\t${if (rowsOnly) "-" else sha256(rows)}"

  def load(path: String): Map[String, Expected] =
    Files.readAllLines(Paths.get(path), UTF_8).toArray(Array.empty[String])
      .toSeq.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(name, rows, hash) = l.split("\t")
        name -> Expected(rows.toLong, if (hash == "-") None else Some(hash))
      }.toMap

  def check(rows: Array[Row], want: Expected): Option[String] =
    if (rows.length != want.rows)
      Some(s"${rows.length} rows, expected ${want.rows}")
    else want.sha256.flatMap { h =>
      val got = sha256(rows.toSeq)
      if (got == h) None else Some(s"digest $got, expected $h")
    }
}
