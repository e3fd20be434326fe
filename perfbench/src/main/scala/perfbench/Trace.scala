package perfbench

import java.util.Collections
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span did. Times in seconds; `driverS` is the span's wall
  * time outside the union of its jobs' intervals.
  */
final case class Span(
    name: String,
    op: Int,
    wallS: Double,
    jobs: Int,
    tasks: Int,
    cpuS: Double,
    shuffleMb: Double,
    inputRows: Long,
    driverS: Double,
    planS: Double,
    fileScans: Int,
    dbScans: Int,
    rowsOut: Long) {
  def get(field: String): Double = field match {
    case "wall_s" => wallS
    case "jobs" => jobs
    case "tasks" => tasks
    case "cpu_s" => cpuS
    case "shuffle_mb" => shuffleMb
    case "input_rows" => inputRows.toDouble
    case "driver_s" => driverS
    case "plan_s" => planS
    case "file_scans" => fileScans
    case "db_scans" => dbScans
    case "rows_out" => rowsOut.toDouble
  }
  def json: String =
    f"""{"name": "$name", "op": $op, "wall_s": $wallS%.6f, "jobs": $jobs, "tasks": $tasks, """ +
      f""""cpu_s": $cpuS%.6f, "shuffle_mb": $shuffleMb%.6f, "input_rows": $inputRows, """ +
      f""""driver_s": $driverS%.6f, "plan_s": $planS%.6f, "file_scans": $fileScans, """ +
      f""""db_scans": $dbScans, "rows_out": $rowsOut}"""
}

/** Recorder for traced runs.
  *
  * A span wraps one layer call. Work inside it runs under the span's
  * job group, so a SparkListener can attribute jobs, tasks, executor
  * CPU, shuffle bytes and input records to it; the SQL executions that
  * finish inside the span give its planning time and its scan counts,
  * read from the executed plans. Spans never nest and run on one
  * thread, so each is closed by draining the listener bus. Spans are
  * kept in memory and written out when the run ends.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prefix = "perfbench-span-"
  private val ids = new AtomicInteger()

  private final class Acc {
    var jobs, tasks = 0
    var cpuNs, shuffleBytes, inputRows = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val accs = mutable.Map[String, Acc]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val executions = mutable.ArrayBuffer[QueryExecution]()

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = accs.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(Prefix)) {
        acc(g).jobs += 1
        jobStart(e.jobId) = (g, e.time)
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = accs.synchronized {
      jobStart.remove(e.jobId).foreach { case (g, t0) => acc(g).intervals += ((t0, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = accs.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val a = acc(g)
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      accs.synchronized { executions += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      accs.synchronized { executions += qe }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  val spans = mutable.ArrayBuffer[Span]()
  private var op = 0
  // cached relations already materialized in this operation
  private val seenCaches = Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  /** Starts a new traced operation: later spans carry its index. */
  def nextOp(): Unit = { op += 1; seenCaches.clear() }

  /** Runs `body` as span `name`. */
  def span[T](name: String)(body: => T): T = spanRows(name, (_: T) => 0L)(body)

  /** Runs `body` as span `name`; `rowsOut` reads the rows it produced. */
  def spanRows[T](name: String, rowsOut: T => Long)(body: => T): T = {
    Bus.drain(sc)
    accs.synchronized { executions.clear() }
    val g = Prefix + ids.incrementAndGet()
    sc.setJobGroup(g, name, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val wallNs = System.nanoTime() - t0
    val w1 = System.currentTimeMillis()
    Bus.drain(sc)
    val (a, qes) = accs.synchronized {
      (accs.remove(g).getOrElse(new Acc), executions.toList)
    }
    val jobMs = union(a.intervals.toSeq.map { case (s, e) => (math.max(s, w0), math.min(e, w1)) })
    var files, dbs = 0
    qes.foreach { qe =>
      val (f, d) = scala.util.Try(scans(qe.executedPlan)).getOrElse((0, 0))
      files += f
      dbs += d
    }
    val planMs = qes.map(_.tracker.phases.values.map(_.durationMs).sum).sum
    val wallS = wallNs / 1e9
    spans += Span(name, op, wallS, a.jobs, a.tasks, a.cpuNs / 1e9,
      a.shuffleBytes / 1048576.0, a.inputRows, math.max(0.0, wallS - jobMs / 1000.0),
      planMs / 1000.0, files, dbs, rowsOut(out))
    out
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var started = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s >= end) { total += e - s; end = e; started = true }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  private def readsFiles(rdd: RDD[_]): Boolean = {
    val n = rdd.getClass.getSimpleName
    n.contains("WholeTextFile") || n.contains("HadoopRDD") ||
      rdd.dependencies.exists(d => readsFiles(d.rdd))
  }

  /** Full scans in an executed plan: (file scans, JDBC scans). A scan
    * under a limit reads only a prefix and is not counted; a cached
    * relation counts its own scans once per operation, when first read
    * in full.
    */
  private def scans(p: SparkPlan, limited: Boolean = false): (Int, Int) = {
    def sum(ps: Seq[SparkPlan], lim: Boolean): (Int, Int) =
      ps.map(scans(_, lim)).foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan, limited)
      case s: QueryStageExec => scans(s.plan, limited)
      case _: ReusedExchangeExec => (0, 0)
      case m: InMemoryTableScanExec =>
        val builder = m.relation.cacheBuilder
        if (limited || seenCaches.contains(builder)) (0, 0)
        else { seenCaches.add(builder); scans(m.relation.cachedPlan) }
      case _: FileSourceScanExec => if (limited) (0, 0) else (1, 0)
      case r: RowDataSourceScanExec if r.relation.getClass.getSimpleName == "JDBCRelation" =>
        if (limited) (0, 0) else (0, 1)
      case e: ExternalRDDScanExec[_] => if (!limited && readsFiles(e.rdd)) (1, 0) else (0, 0)
      case _ =>
        val lim = limited || p.isInstanceOf[CollectLimitExec] ||
          p.isInstanceOf[GlobalLimitExec] || p.isInstanceOf[LocalLimitExec]
        sum(p.children ++ p.subqueries, lim)
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def json: String = spans.map(_.json).mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  /** Classes Spark's whole-stage codegen has compiled so far. Spark
    * caches them by source (100 entries by default), so a repeated
    * operation compiles only what the cache no longer holds.
    */
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
