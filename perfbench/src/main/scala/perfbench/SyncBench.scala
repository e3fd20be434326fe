package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.config.{DbConfig, DependencyGraph, SyncConfig, TableSyncConfig}
import graft.core.{Differ, PrimaryKeyValidator, SyncResult, SyncRunner}
import graft.sinks.JdbcSyncWriter
import graft.sources.Readers

import perfbench.Main.time
import perfbench.SyncBench.{Ops, Prepared}
import perfbench.SyncData.{SyncCase, TableCase}

object SyncBench {
  private final case class Prepared(c: SyncCase, paths: Seq[String], backup: String)

  /** One table's materialized operations, as `SyncRunner` computes them. */
  private final case class Ops(
      t: TableCase, cols: Seq[String], ins: Seq[Row], upd: Seq[Row], del: Seq[Row],
      overwriteRows: Seq[Row], overwriteDf: Option[DataFrame], overwriteCount: Long)
}

/** The sync workloads. One operation is `SyncRunner.run` from the
  * generated files into a Derby database restored to the prior state;
  * it alternates with a dry run of the same config. Each is checked
  * (untimed) against the generator's expected counts and end state.
  */
final class SyncBench(
    spark: SparkSession,
    a: Args,
    ledger: Ledger,
    trace: Option[Trace],
    make: Long => SyncCase) {

  private val Preparations = 3
  private var dbSeq = 0

  /** Generate the case, write its files, seed Derby and back it up. */
  private def prepare(i: Int): Prepared = {
    val dir = a.work.resolve(s"prep-$i")
    val c = make(a.seed)
    val paths = SyncData.writeFiles(c, dir.resolve("in"))
    val backup = Derby.seedAndBackup(s"seed$i", c, dir.resolve("backup").toString)
    Prepared(c, paths, backup)
  }

  private def config(p: Prepared, url: String, dryRun: Boolean): SyncConfig =
    SyncConfig(DbConfig(url),
      p.c.tables.zip(p.paths).map { case (t, path) =>
        TableSyncConfig(t.name, path, t.mode, primaryKey = t.pk,
          deleteNotInFile = t.isDiff, dependencies = t.fks.map(_._2))
      },
      dryRun = dryRun, overwriteDistributedThreshold = p.c.overwriteThreshold)

  /** Runs `body` against a fresh restore, then drops it. */
  private def withDb[T](p: Prepared)(body: String => T): T = {
    dbSeq += 1
    val name = s"op$dbSeq"
    val url = Derby.restore(p.backup, name)
    try body(url) finally Derby.drop(name)
  }

  private def countProblems(what: String, got: Map[String, (Long, Long, Long)], c: SyncCase,
      want: TableCase => (Long, Long, Long)): Seq[String] =
    c.tables.flatMap { t =>
      val w = want(t)
      got.get(t.name) match {
        case Some(g) if g == w => None
        case g => Some(s"$what ${t.name}: got ${g.getOrElse("nothing")}, expected $w")
      }
    }

  private def resultCounts(rs: Seq[SyncResult]): Map[String, (Long, Long, Long)] =
    rs.map(r => r.table -> (r.inserts.toLong, r.updates.toLong, r.deletes.toLong)).toMap

  /** One timed sync, checked; returns its seconds. */
  private def syncOp(p: Prepared): Double = withDb(p) { url =>
    val (rs, s) = time(scala.util.Try(SyncRunner.run(spark, config(p, url, dryRun = false))))
    ledger.check("sync") {
      countProblems("result", resultCounts(rs.get), p.c, _.expectedResult) ++
        Derby.mismatches(url, p.c, _.fileRows)
    }
    s
  }

  /** One timed dry run: plan counts as expected, database untouched. */
  private def dryOp(p: Prepared): Double = withDb(p) { url =>
    val (rs, s) = time(scala.util.Try(SyncRunner.run(spark, config(p, url, dryRun = true))))
    ledger.check("dry run") {
      val plans = rs.get.flatMap(_.plan).map(x => x.table -> (x.inserts, x.updates, x.deletes)).toMap
      countProblems("plan", plans, p.c, _.expectedPlan) ++ Derby.mismatches(url, p.c, _.dbRows)
    }
    s
  }

  def run(): Measured = {
    val preps = (1 to Preparations).map(i => time(prepare(i)))
    val p = preps.head._1
    val (_, warmS) = time(syncOp(p))
    Main.log(f"${p.c.fileRowCount} rows prepared in ${preps.map(_._2).mkString(", ")} s, " +
      f"warm-up $warmS%.2f s")

    var opS, tracedS = Vector[Double]()
    val layers = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    Main.repeat(a.seconds, min = Main.minUnits(trace)) {
      opS :+= syncOp(p)
      trace.foreach { t =>
        val (m, s) = tracedOp(p, t)
        layers += m + ("dry_run_s" -> dryOp(p))
        tracedS :+= s
      }
    }
    Main.log(s"sync ${opS.mkString(" ")}; traced ${tracedS.mkString(" ")}")
    Measured(Metrics.median(preps.map(_._2)) + warmS, opS, p.c.fileRowCount.toDouble, Heap.liveMb(),
      Metrics.layerMedians(layers.toSeq, tracedS, opS))
  }

  /** A sync replayed layer by layer in `SyncRunner`'s order, each layer
    * call in its own span, checked like the real one. Returns the
    * operation's per-layer sums and its wall time.
    */
  private def tracedOp(p: Prepared, t: Trace): (Map[String, Double], Double) = {
    t.nextOp()
    val gc0 = Heap.gcSeconds()
    val cg0 = Trace.codegenCompiles()
    Heap.reset()
    val (counts, s) = withDb(p)(url => time(scala.util.Try(replay(p, url, t))) match {
      case (counts, s) =>
        ledger.check("traced sync") {
          countProblems("result", counts.get, p.c, _.expectedResult) ++
            Derby.mismatches(url, p.c, _.fileRows)
        }
        (counts, s)
    })
    val gc = Heap.gcSeconds() - gc0
    val compiles = Trace.codegenCompiles() - cg0
    val peak = Heap.peakMb()
    val spans = t.spans.filter(_.op == t.spans.last.op).toSeq
    val sums = Metrics.SyncSpanFields.flatMap { case (name, fields) =>
      fields.map(f => s"$name.$f" -> spans.filter(_.name == name).map(_.get(f)).sum)
    }.toMap ++ Map(
      "sources.file_scans" -> spans.map(_.fileScans.toDouble).sum,
      "sinks.db_scans" -> spans.map(_.dbScans.toDouble).sum,
      "derby.insert_floor_s" -> insertFloor(p),
      "spark.codegen_compiles" -> compiles.toDouble,
      "jvm.gc_s" -> gc,
      "jvm.heap_peak_mb" -> peak)
    (sums, s)
  }

  /** The database's own cost for the rows the sync inserted: a plain
    * batched JDBC insert of the same rows into empty keyed tables.
    */
  private def insertFloor(p: Prepared): Double = {
    dbSeq += 1
    val name = s"floor$dbSeq"
    val url = Derby.create(name)
    try {
      val conn = java.sql.DriverManager.getConnection(url)
      conn.setAutoCommit(false)
      try {
        p.c.tables.foreach(tc =>
          conn.createStatement().executeUpdate(Derby.ddl(tc, tc.name + "_f", fks = false)))
        conn.commit()
        time(p.c.tables.foreach(tc => Derby.insert(conn, tc.name + "_f", tc, tc.inserted)))._2
      } finally conn.close()
    } finally Derby.drop(name)
  }

  /** `SyncRunner.run`'s sequence through the layers' public functions. */
  private def replay(p: Prepared, url: String, tr: Trace): Map[String, (Long, Long, Long)] = {
    val cfg = config(p, url, dryRun = false)
    val conn = JdbcSyncWriter.connect(cfg.db)
    try {
      val (insertOrder, deleteOrder) = new DependencyGraph(
        cfg.tables.map(t => t.name -> t.dependencies).toMap).syncOrders
      val byName = p.c.tables.zip(cfg.tables).map { case (tc, ts) => tc.name -> (tc, ts) }.toMap
      val ops = insertOrder.map { n =>
        val (tc, ts) = byName(n)
        n -> computeOps(cfg, conn, tc, ts, tr)
      }.toMap
      val deleted = deleteOrder.flatMap { n =>
        val o = ops(n)
        if (!o.t.isDiff) {
          tr.spanRows("sinks.delete", (k: Int) => k.toLong)(JdbcSyncWriter.deleteAll(conn, n))
          None
        } else if (o.del.nonEmpty) {
          val keys = o.del.map(_.getAs[Any](o.t.pk))
          Some(n -> tr.spanRows("sinks.delete", (k: Int) => k.toLong)(
            JdbcSyncWriter.bulkDelete(conn, n, o.t.pk, keys)))
        } else None
      }.toMap
      val written = insertOrder.map { n =>
        val o = ops(n)
        if (o.overwriteDf.isDefined) n -> (0L, 0L, 0L)
        else if (!o.t.isDiff) n -> (tr.spanRows("sinks.upsert", (k: Int) => k.toLong)(
          JdbcSyncWriter.bulkInsert(conn, n, o.cols, o.overwriteRows)).toLong, 0L, 0L)
        else {
          val (i, u) = tr.spanRows("sinks.upsert", (iu: (Int, Int)) => (iu._1 + iu._2).toLong) {
            (JdbcSyncWriter.bulkInsert(conn, n, o.cols, o.ins),
              JdbcSyncWriter.bulkUpdate(conn, n, o.cols, o.t.pk, o.upd))
          }
          n -> (i.toLong, u.toLong, deleted.getOrElse(n, 0).toLong)
        }
      }.toMap
      tr.span("sinks.commit")(conn.commit())
      written ++ insertOrder.flatMap { n =>
        ops(n).overwriteDf.map { df =>
          tr.spanRows("sinks.append", (_: Unit) => ops(n).overwriteCount) {
            JdbcSyncWriter.appendDistributed(df, cfg.db, n)
          }
          df.unpersist(false)
          n -> (ops(n).overwriteCount, 0L, 0L)
        }
      }
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case _: Throwable => () }
        throw e
    } finally conn.close()
  }

  private def computeOps(cfg: SyncConfig, conn: java.sql.Connection, tc: TableCase,
      ts: TableSyncConfig, tr: Trace): Ops = {
    val file = tr.span("sources.read")(Readers.forPath(spark, ts.filePath, ts.columns))
    // column resolution and strict PK validation, as SyncRunner does them
    val (cols, fileSel) = tr.span("core.validate") {
      val dbCols = JdbcSyncWriter.tableColumns(conn, ts.name)
      val db0 = JdbcSyncWriter.readTable(spark, cfg.db, ts.name)
      val db = db0.toDF(db0.columns.map(_.toLowerCase): _*)
      val cols = file.columns.map(_.toLowerCase).toSeq.filter(dbCols.contains)
      val dbSel = db.select(cols.map(col): _*)
      val lowered = file.toDF(file.columns.map(_.toLowerCase): _*).select(cols.map(col): _*)
      val fileSel = cols.foldLeft(lowered) { (d, c) =>
        val target = dbSel.schema(c).dataType
        if (d.schema(c).dataType == target) d else d.withColumn(c, col(c).cast(target))
      }
      if (ts.mode == SyncConfig.ModeDiff) PrimaryKeyValidator.validateStrict(fileSel, tc.pk)
      (cols, (fileSel, dbSel))
    }
    val (fSel, dbSel) = fileSel
    tr.spanRows("core.diff", (o: Ops) => (o.ins.size + o.upd.size + o.del.size +
        o.overwriteRows.size).toLong) {
      if (ts.mode == SyncConfig.ModeOverwrite) {
        // SyncRunner keeps an overwrite with FK dependents on the driver
        // path; these workloads overwrite only leaf tables
        require(!cfg.tables.exists(_.dependencies.contains(ts.name)),
          s"replay does not cover overwriting ${ts.name}, which has dependents")
        val thr = cfg.overwriteDistributedThreshold
        val snapshot = fSel.persist(StorageLevel.MEMORY_AND_DISK)
        val probe = snapshot.limit(thr.toInt + 1).count()
        if (probe > thr) Ops(tc, cols, Nil, Nil, Nil, Nil, Some(snapshot), snapshot.count())
        else {
          val rows = snapshot.collect().toSeq
          snapshot.unpersist(false)
          Ops(tc, cols, Nil, Nil, Nil, rows, None, rows.size.toLong)
        }
      } else {
        val diff = Differ.diff(fSel, dbSel, tc.pk)
        val nonPk = cols.filterNot(_ == tc.pk)
        Ops(tc, cols,
          diff.toInsert.select(cols.map(col): _*).collect().toSeq,
          diff.toUpdate.select((cols.map(col) ++ nonPk.map(c => col(Differ.DbPrefix + c))): _*)
            .collect().toSeq,
          diff.toDelete.select(cols.map(col): _*).collect().toSeq,
          Nil, None, 0L)
      }
    }
  }
}
