package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

import perfbench.Main.time

/** Order-insensitive fingerprint of a query result, computed the same
  * way by `oracle.py` over DuckDB's result. Columns are taken in name
  * order and rows in sorted order of their rendering; numbers compare
  * by value (an integral double renders as the integer, like the
  * oracle compare's `==`), NaN renders as NULL.
  */
object Fingerprint {
  private def cell(v: Any): String = v match {
    case null => "N"
    case d: Double => num(d)
    case b: java.math.BigDecimal =>
      if (b.signum == 0 || b.stripTrailingZeros.scale <= 0) "i" + b.toBigInteger
      else num(b.doubleValue)
    case n: java.lang.Number => "i" + n.longValue
    case other => "s" + other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "N"
    else if (d == math.rint(d) && !d.isInfinite) "i" + new java.math.BigDecimal(d).toBigInteger
    else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  def apply(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString(",").getBytes(StandardCharsets.UTF_8))
    lines.foreach(l => md.update(("\n" + l).getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** The curation workload: one operation is a pass over the reference-LM
  * queries in [[Metrics.CurateQueries]] through the public query table,
  * each result collected and checked against the DuckDB oracle's
  * fingerprint. The dry run builds and plans the same queries without
  * executing them. Stored LM artifacts are built by the warm-up pass
  * and reused after it.
  */
final class CurateBench(spark: SparkSession, a: Args, ledger: Ledger, trace: Option[Trace]) {
  private val dir = a.root.resolve("perfbench").resolve("data").toString
  private val queries = SparkEntry.queries

  private val expected: Map[String, String] = {
    val node = new ObjectMapper().readTree(
      Files.readString(a.root.resolve("perfbench").resolve("oracle").resolve("curate_lm.json")))
    node.fields().asScala.map(e => e.getKey -> e.getValue.get("sha256").asText()).toMap
  }

  private def scrub(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Evaluates one query (inside `wrap`), checks it, returns seconds. */
  private def runQuery(q: String, wrap: (=> Array[Row]) => Array[Row]): Double = {
    var cols = Seq.empty[String]
    val (rows, s) = time(scala.util.Try(wrap {
      val df = queries(q)(spark, dir)
      cols = df.columns.toSeq
      df.collect()
    }))
    ledger.check(q) {
      val got = Fingerprint(cols, rows.get.toSeq)
      if (expected.get(q).contains(got)) Nil else Seq(s"fingerprint $got differs from the oracle's")
    }
    scrub()
    s
  }

  private def pass(): Double = Metrics.CurateQueries.map(q => runQuery(q, b => b)).sum

  private def dryPass(): Double = Metrics.CurateQueries.map { q =>
    val (plan, s) = time(scala.util.Try(queries(q)(spark, dir).queryExecution.executedPlan))
    ledger.check(s"$q (dry run)")(plan.failed.toOption.map(_.toString).toSeq)
    scrub()
    s
  }.sum

  def run(): Measured = {
    val (docs, countS) = time(spark.read.parquet(s"$dir/documents.parquet").count())
    val (_, warmS) = time(pass())
    Main.log(f"warm-up $warmS%.2f s")
    var opS, tracedS = Vector[Double]()
    val layers = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    Main.repeat(a.seconds, min = Main.minUnits(trace)) {
      opS :+= pass()
      trace.foreach { t =>
        t.nextOp()
        val gc0 = Heap.gcSeconds()
        val cg0 = Trace.codegenCompiles()
        Heap.reset()
        tracedS :+= Metrics.CurateQueries.map(q =>
          runQuery(q, b => t.span[Array[Row]](s"operators.$q")(b))).sum
        val spans = t.spans.filter(_.op == t.spans.last.op)
        layers += (for {
          q <- Metrics.CurateQueries
          f <- Metrics.QueryFields
        } yield s"operators.$q.$f" -> spans.filter(_.name == s"operators.$q").map(_.get(f)).sum)
          .toMap ++ Map("spark.codegen_compiles" -> (Trace.codegenCompiles() - cg0).toDouble,
            "jvm.gc_s" -> (Heap.gcSeconds() - gc0), "jvm.heap_peak_mb" -> Heap.peakMb(),
            "dry_run_s" -> dryPass())
      }
    }
    Main.log(s"pass ${opS.mkString(" ")}; traced ${tracedS.mkString(" ")}")
    Measured(countS + warmS, opS, docs.toDouble * Metrics.CurateQueries.size, Heap.liveMb(),
      Metrics.layerMedians(layers.toSeq, tracedS, opS))
  }
}

/** Writes the curation queries' oracle SQL as JSON, for
  * `oracle.py`.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    Metrics.CurateQueries.foreach(q => node.put(q, SparkEntry.oracleSql(q)))
    Files.writeString(java.nio.file.Paths.get(args(0)), m.writerWithDefaultPrettyPrinter()
      .writeValueAsString(node))
  }
}
