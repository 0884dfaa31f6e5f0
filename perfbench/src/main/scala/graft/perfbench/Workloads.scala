package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.SparkEntry
import graft.operators.{Dedup, Describe, Flatten}
import graft.sinks.Sinks
import graft.sources.{WaqiFixtures, WaqiSource}

/** A named set of inputs and the ops that run over them. */
trait Workload {
  /** The ops of pass `n`, in the order the seed gives them. */
  def pass(n: Int): Seq[Op]
  /** Layer counts the workload keeps itself (bytes, rows). */
  def counters: Map[String, Double] = Map.empty
  def resetCounters(): Unit = ()
  /** Bytes the workload's sinks wrote per input row, if it writes. */
  def storedBytesPerRow: Option[Double] = None
}

object Workload {
  val Registry: Map[String, Seq[String]] = Map(
    "tpch_scan" -> Seq("q01_pricing_summary", "q03_segment_revenue",
      "q13_outer_join_counts", "q141_shipping_priority"),
    "iterative_build" -> Seq("q166_bfs_hops", "q167_kcore",
      "q226_label_propagation"))

  val Names: Seq[String] =
    Seq("waqi_etl", "tpch_scan", "iterative_build", "index_lifecycle")

  def apply(name: String, spark: SparkSession, dataDir: String,
      workDir: String, expectedFile: String, seed: Long): Workload =
    name match {
      case "waqi_etl" => new WaqiEtl(spark, workDir, seed)
      case "index_lifecycle" =>
        new IndexLifecycle(spark, dataDir, workDir, seed)
      case r if Registry.contains(r) =>
        new RegistryScan(spark, dataDir, Registry(r),
          Digest.load(expectedFile), seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${Names.mkString(", ")})")
    }

  def treeBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally s.close()
    }
  }
}

/** Registry queries by name through `SparkEntry.queries`. One op is one
  * query: build the frame, plan it, collect it. The output is checked
  * against the committed digest, or by row count for queries in the
  * rows-only set (no oracle SQL). */
final class RegistryScan(spark: SparkSession, dataDir: String,
    queries: Seq[String], expected: Map[String, Digest.Expected],
    seed: Long) extends Workload {
  private lazy val fns = {
    val all = SparkEntry.queries
    queries.map(q => q -> all(q)).toMap
  }

  queries.foreach(q => require(expected.contains(q), s"no expected digest for $q"))

  def pass(n: Int): Seq[Op] =
    new Random(seed * 1000003L + n).shuffle(queries).map { q =>
      Op(s"p$n/$q", tr => {
        val df = tr.span("operators.build")(fns(q)(spark, dataDir))
        tr.span("plans.plan")(df.queryExecution.executedPlan)
        tr.span("exec")(df.collect())
      }, rows => Digest.check(rows.asInstanceOf[Array[Row]], expected(q)))
    }
}

/** The paper's daily pipeline over a generated batch of city payloads:
  * parse, count errors, write the long-format lake, describe each
  * pollutant, load one JDBC table per pollutant into in-memory Derby. */
final class WaqiEtl(spark: SparkSession, workDir: String, seed: Long)
    extends Workload {
  import spark.implicits._

  private val stats = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  override def counters: Map[String, Double] = stats.toMap
  override def resetCounters(): Unit = stats.clear()
  override def storedBytesPerRow: Option[Double] =
    Some(stats("sinks.bytes_written") / stats("lake_rows"))

  def pass(n: Int): Seq[Op] = {
    val batch = WaqiGen.batch(seed, n, WaqiEtl.PayloadsPerRun)
    val lake = s"$workDir/lake/day$n"
    val url = s"jdbc:derby:memory:perfbench_day$n"
    Seq(Op(s"day$n", tr => run(batch, lake, url, tr),
      out => check(batch, out.asInstanceOf[WaqiEtl.Out])))
  }

  private def run(b: WaqiGen.Batch, lake: String, url: String,
      tr: Tracer): WaqiEtl.Out = {
    val (parsed, long, perP, described) = tr.span("operators.build") {
      val parsed = WaqiSource.parse(spark.createDataset(b.payloads))
      val ok = WaqiSource.ok(parsed)
      val perP = WaqiSource.Pollutants
        .map(p => p -> Flatten.perPollutant(ok, p)).toMap
      (parsed, Flatten.longFormat(ok, WaqiSource.Pollutants),
        perP, perP.map { case (p, df) => p -> Describe.exact(df, WaqiEtl.statCols(p)) })
    }
    val errors =
      tr.span("sources.parse")(WaqiSource.errors(parsed).count())
    long.persist()
    try {
      tr.span("sinks.parquet")(
        Sinks.parquetPartitioned(long, lake, "pollutant"))
      val reports = tr.span("operators.describe")(
        described.map { case (p, df) => p -> Describe.report(p, df) })
      tr.span("sinks.jdbc")(
        Sinks.jdbcPerKey(perP, s"$url;create=true", "air_quality_", "", ""))
      WaqiEtl.Out(errors, reports, lake, url)
    } finally long.unpersist()
  }

  private def check(b: WaqiGen.Batch, o: WaqiEtl.Out): Option[String] = try {
    val problems = mutable.ArrayBuffer.empty[String]
    if (o.errors != b.errors)
      problems += s"error payloads ${o.errors} != ${b.errors}"
    val lakeRows = spark.read.parquet(o.lake).groupBy("pollutant").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val conn = DriverManager.getConnection(o.url)
    val jdbcRows = try WaqiSource.Pollutants.map { p =>
      val rs = conn.createStatement()
        .executeQuery(s"SELECT COUNT(*) FROM air_quality_$p")
      rs.next()
      p -> rs.getLong(1)
    }.toMap finally conn.close()
    WaqiSource.Pollutants.foreach { p =>
      val want = b.rows(p)
      if (lakeRows.getOrElse(p, 0L) != want)
        problems += s"lake rows for $p ${lakeRows.getOrElse(p, 0L)} != $want"
      if (jdbcRows(p) != want)
        problems += s"jdbc rows for $p ${jdbcRows(p)} != $want"
      val counts = WaqiEtl.reportCounts(o.reports(p))
      if (counts.size != 3 || counts.exists(_ != want))
        problems += s"report count row for $p $counts != $want"
    }
    stats("sources.payload_bytes") += b.payloadBytes
    stats("sources.error_rows") += o.errors
    stats("lake_rows") += lakeRows.values.sum
    stats("sinks.rows_written") += lakeRows.values.sum + jdbcRows.values.sum
    stats("sinks.bytes_written") += Workload.treeBytes(o.lake)
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  } finally {
    try DriverManager.getConnection(s"${o.url};drop=true")
    catch { case _: SQLException => () } // a successful drop reports 08006
    Workload.deleteTree(o.lake)
  }
}

object WaqiEtl {
  /** Set by the run budget, not by a source: the reference fetches 3
    * cities a day. On 4 cores a warm op over 600 payloads takes 2-3 s,
    * so an 8 s run measures 3-5 ops; over 20k payloads it takes ~15 s,
    * and a run would measure a single op. */
  val PayloadsPerRun = 600

  final case class Out(errors: Long, reports: Map[String, String],
      lake: String, url: String)

  def statCols(p: String): Seq[String] =
    Seq("avg", "max", "min").map(s => s"${p}_daily_$s")

  /** The `n` (count) value of every row of a `Describe.report` block. */
  def reportCounts(report: String): Seq[Long] =
    report.split("\n").drop(2).toSeq.map(_.trim.split("\\s+")(1).toLong)
}

/** Deterministic WAQI-shaped payloads, mixed with the reference's
  * failure payloads (`WaqiFixtures.failurePayloads`). The generator
  * knows every count the pipeline should produce. */
object WaqiGen {
  final case class Batch(payloads: Seq[(String, String)], errors: Long,
      rows: Map[String, Long], payloadBytes: Long)

  /** Share of payloads per failure kind. Neither the reference nor its
    * fixtures give failure rates: 3% per kind is an assumption. */
  val FailureShare = 0.03
  /** The failure kinds `WaqiSource.errors` counts; the others (no
    * forecast, empty arrays) parse as ok and contribute no rows. */
  val ErrorKinds = Set("errorcity", "httpfail")

  def batch(seed: Long, day: Int, n: Int): Batch = {
    val rng = new Random(seed * 7919L + day)
    var errors = 0L
    val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val failures = WaqiFixtures.failurePayloads
    val payloads = (0 until n).map { i =>
      val city = s"city${i}_${rng.nextInt(100000)}"
      val kind = (rng.nextDouble() / FailureShare).toInt
      val raw =
        if (kind < failures.size) {
          val (name, payload) = failures(kind)
          if (ErrorKinds(name)) errors += 1
          payload
        } else {
          val daily = WaqiSource.Pollutants.map { p =>
            // 2-8 forecast days, the reference's range (BASELINE.md)
            val days = 2 + rng.nextInt(7)
            rows(p) += days
            (0 until days).map { d =>
              val avg = rng.nextInt(200)
              s"""{"avg": $avg, "day": "2026-08-${10 + d}", "max": ${avg + rng.nextInt(40)}, "min": ${math.max(0, avg - rng.nextInt(40))}}"""
            }.mkString(s""""$p": [""", ", ", "]")
          }.mkString(", ")
          s"""{"status": "ok", "data": {"aqi": ${rng.nextInt(300)}, "city": {"name": "$city"}, "forecast": {"daily": {$daily}}}}"""
        }
      city -> raw
    }
    Batch(payloads, errors,
      WaqiSource.Pollutants.map(p => p -> rows(p)).toMap,
      payloads.map(_._2.getBytes("UTF-8").length.toLong).sum)
  }
}

/** The near-dup base's artifact lifecycle in a fresh directory per
  * cycle: build, append a delta, compact, then serve the compacted
  * home four times — serves outnumber builds 4 to 1. Every serve is
  * checked against the non-durable `portableIncrementalNearDups` on
  * the same slices. The seed picks the document subset and the
  * appended slice. */
final class IndexLifecycle(spark: SparkSession, dataDir: String,
    workDir: String, seed: Long) extends Workload {
  private val rng = new Random(seed)
  private val dropBucket = rng.nextInt(8)
  // the appended day's slice: any residue but 3, the increment's
  private val appendResidue = Seq(0, 1, 2, 4, 5, 6, 7, 8, 9)(rng.nextInt(9))
  private def res(r: Long) = pmod(col("doc_id"), lit(10L)) === r

  private lazy val docs: DataFrame = graft.Tables(spark, dataDir).documents
    .filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(8L)) =!= dropBucket)
  private def base0 = docs.filter(!res(3) && !res(appendResidue))
  private def appended = docs.filter(res(appendResidue))
  private def inc = docs.filter(res(3))
  private def union = docs.filter(!res(3))

  // The same slices, served without any artifact. Computed once, by the
  // first check that needs it, off every clock.
  private lazy val expected: Seq[String] =
    Dedup.portableIncrementalNearDups(docs).collect().toSeq.map(Digest.format)
  private lazy val indexedRows: Long = union.count()

  private val stats = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  override def counters: Map[String, Double] = stats.toMap
  override def resetCounters(): Unit = stats.clear()
  override def storedBytesPerRow: Option[Double] =
    Some(stats("artifacts.bytes_written") / stats("indexed_rows"))
  private def served(out: Any): Option[String] = {
    val got = out.asInstanceOf[Array[Row]].toSeq.map(Digest.format)
    if (got == expected) None
    else Some(s"served ${got.size} pairs, non-durable gives " +
      s"${expected.size} (first difference: ${got.zipAll(expected, "-", "-")
        .find { case (g, w) => g != w }})")
  }

  def pass(n: Int): Seq[Op] = {
    val dir = s"$workDir/index/cycle$n"
    val compacted = s"$workDir/index/cycle$n-compacted"
    // four of a cycle's seven ops, so the median op is a serve; with
    // three of six it fell between the slowest compact and fastest serve
    val serves = 4
    def serve(i: Int) = Op(s"cycle$n/serve$i", tr => tr.span("artifacts.serve") {
      val df = tr.span("operators.build")(
        Dedup.portableIncNearDupsAgainstArtifact(spark, inc, union, compacted))
      tr.span("exec")(df.collect())
    }, out => {
      if (i == serves) { // the cycle's last op: free its disk
        Workload.deleteTree(dir)
        Workload.deleteTree(compacted)
      }
      served(out)
    })
    Seq(
      Op(s"cycle$n/build", tr => tr.span("artifacts.build")(
        Dedup.portableNearDupBaseDurableFrom(spark, base0, dir))),
      Op(s"cycle$n/append", tr => tr.span("artifacts.append")(
        Dedup.appendToNearDupBase(spark, appended, dir, "day1"))),
      Op(s"cycle$n/compact", tr => tr.span("artifacts.compact")(
        Dedup.compactNearDupBase(spark, dir, compacted)), _ => {
        stats("artifacts.bytes_written") +=
          Workload.treeBytes(dir) + Workload.treeBytes(compacted)
        stats("indexed_rows") += indexedRows
        None
      })) ++ (1 to serves).map(serve)
  }
}
