package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    root: Path, // the checkout
    work: Path) // scratch space inside the checkout

/** Correctness bookkeeping: every operation is attempted once and
  * either passes its checks or counts as failed.
  */
final class Ledger {
  var attempted, failed = 0
  val errors = scala.collection.mutable.ArrayBuffer[String]()

  /** Runs one operation's check; a throw or a non-empty problem list
    * fails it.
    */
  def check(what: String)(problems: => Seq[String]): Unit = {
    attempted += 1
    val ps =
      try problems
      catch { case e: Throwable => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (ps.nonEmpty) {
      failed += 1
      if (errors.size < 20) errors += s"$what: ${ps.mkString("; ")}"
    }
  }
}

/** Driver heap. `liveMb` is what stays live after the timed operations
  * (forced full collections): caches, memos, leaks. `peakMb` is the
  * largest occupancy any collection since `reset` left behind, which
  * also catches transient driver-side data such as collected diffs,
  * but depends on when collections happen to run.
  */
object Heap {
  private val peak = new AtomicLong()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, math.max)
        }, null, null)
    case _ => ()
  }

  def reset(): Unit = peak.set(0L)

  /** Collects until the heap stops shrinking: between collections
    * Spark's cleaner drops the blocks of the broadcasts and shuffles the
    * previous collection freed.
    */
  def liveMb(): Double = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (prev, used, rounds) = (Long.MaxValue, collect(), 0)
    while (rounds < 5 && prev - used > (1L << 20)) {
      Thread.sleep(200)
      prev = used
      used = collect()
      rounds += 1
    }
    used / 1048576.0
  }

  def peakMb(): Double = math.max(peak.get / 1048576.0, liveMb())

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(Metrics.Metric, Double)]) {
  def json: String = {
    val ms = metrics.map { case (m, v) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""${m.name}": {"value": $num, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** What a workload measured; `Main` turns it into the result line. */
final case class Measured(
    setupS: Double,
    opS: Seq[Double],
    rowsPerOp: Double,
    heapMb: Double,
    layers: Map[String, Double])

object Main {
  /** Timed units per run at the least. After the warm-up (one cold
    * operation) operations still get faster each time while the JIT
    * compiles Spark's planner, and a neighbour on a shared host slows
    * single operations by a fifth; the median of five or more steps
    * over both. A traced unit is three operations (plain, traced, dry
    * run), and its metrics carry no bound, so two do.
    */
  def minUnits(trace: Option[Trace]): Int = if (trace.isEmpty) 5 else 2

  /** Runs `unit` until `seconds` of wall time have passed, and at least
    * `min` times.
    */
  def repeat(seconds: Double, min: Int)(unit: => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { unit; i += 1 }
  }

  /** Progress line on stderr (stdout carries only the result). */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f] $msg")

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("root")).toAbsolutePath,
      Paths.get(need("work")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ledger = new Ledger
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val m =
      try a.workload match {
        case "sync_diff_1pct" =>
          new SyncBench(spark, a, ledger, trace, SyncData.diffCase(_, orders = 40000)).run()
        case "sync_multi_fk" =>
          new SyncBench(spark, a, ledger, trace,
            SyncData.multiCase(_, customers = 150, threshold = 1500L)).run()
        case "curate_lm" => new CurateBench(spark, a, ledger, trace).run()
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      } finally {
        trace.foreach { t =>
          t.close()
          Files.writeString(a.work.getParent.resolve(s"trace-${a.workload}-${a.seed}.json"), t.json)
        }
        spark.stop()
      }
    ledger.errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    val metrics =
      if (a.trace) Metrics.PerLayer.map(x => x -> m.layers.getOrElse(x.name, 0.0))
      else {
        val op = Metrics.median(m.opS)
        Seq(sessionS + m.setupS, op, m.rowsPerOp / op, m.heapMb).zip(Metrics.EndToEnd).map(_.swap)
      }
    val r = Result(ledger.failed == 0 && ledger.attempted > 0, ledger.attempted, ledger.failed, metrics)
    println(r.json)
    System.exit(if (r.correct) 0 else 1)
  }
}
