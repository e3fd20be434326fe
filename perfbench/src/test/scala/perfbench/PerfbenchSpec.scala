package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{DbConfig, SyncConfig, TableSyncConfig}
import graft.core.SyncRunner

import perfbench.SyncData.SyncCase

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work: Path = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(work).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => { Files.deleteIfExists(p); () })
  }

  // sizes of the sf0.001 tables: 150 customers, 1,500 orders
  private def multi(seed: Long) = SyncData.multiCase(seed, customers = 150, threshold = 1000L)
  private def single(seed: Long) = SyncData.diffCase(seed, orders = 1500)

  test("the generator is deterministic for a seed and differs across seeds") {
    assert(multi(5) == multi(5))
    assert(single(5) == single(5))
    assert(multi(5) != multi(6))
    assert(single(5).tables.head.fileRows != single(6).tables.head.fileRows)
  }

  test("both states are keyed and FK-consistent, and every kind of change occurs") {
    // large enough that ~1% churn yields every kind of change
    val c = SyncData.multiCase(9, customers = 2000, threshold = 1000L)
    c.tables.foreach { t =>
      Seq(t.dbRows, t.fileRows).foreach(rows => assert(rows.map(_(0)).distinct.size == rows.size))
      if (t.isDiff) assert(t.inserted.nonEmpty && t.updates > 0 && t.deletes > 0, t.name)
    }
    val Seq(cust, ord, li) = c.tables
    def keys(rows: Vector[SyncData.Row]) = rows.map(_(0)).toSet
    Seq((cust.dbRows, ord.dbRows, li.dbRows), (cust.fileRows, ord.fileRows, li.fileRows))
      .foreach { case (cs, os, ls) =>
        val (custKeys, orderKeys) = (keys(cs), keys(os))
        assert(os.forall(o => custKeys.contains(o(1))))
        assert(ls.forall(l => orderKeys.contains(l(1))))
      }
    assert(li.fileRows.size > c.overwriteThreshold, "lineitem must take the distributed path")
  }

  private def runSync(c: SyncCase, name: String, dryRun: Boolean) = {
    val paths = SyncData.writeFiles(c, work.resolve(name))
    val backup = Derby.seedAndBackup(s"${name}seed", c, work.resolve(s"$name-backup").toString)
    val url = Derby.restore(backup, name)
    try {
      val cfg = SyncConfig(DbConfig(url),
        c.tables.zip(paths).map { case (t, p) =>
          TableSyncConfig(t.name, p, t.mode, primaryKey = t.pk,
            deleteNotInFile = t.isDiff, dependencies = t.fks.map(_._2))
        }, dryRun = dryRun, overwriteDistributedThreshold = c.overwriteThreshold)
      val results = SyncRunner.run(spark, cfg)
      (results, Derby.mismatches(url, c, if (dryRun) _.dbRows else _.fileRows))
    } finally Derby.drop(name)
  }

  for ((label, c) <- Seq("single-table diff" -> single(3), "multi-table FK" -> multi(3))) {
    val id = label.filter(_.isLetter)
    test(s"expected counts and end state equal a real SyncRunner.run ($label)") {
      val (rs, mismatches) = runSync(c, id, dryRun = false)
      assert(rs.map(r => r.table -> (r.inserts.toLong, r.updates.toLong, r.deletes.toLong)).toMap ==
        c.tables.map(t => t.name -> t.expectedResult).toMap)
      assert(mismatches.isEmpty, mismatches)
    }
    test(s"expected plan counts equal a real dry run, which leaves the prior state ($label)") {
      val (rs, mismatches) = runSync(c, id + "dry", dryRun = true)
      assert(rs.flatMap(_.plan).map(p => p.table -> (p.inserts, p.updates, p.deletes)).toMap ==
        c.tables.map(t => t.name -> t.expectedPlan).toMap)
      assert(mismatches.isEmpty, mismatches)
    }
  }

  test("every metric name and unit printed matches BENCHMARK.json") {
    val file = Iterator(Paths.get("BENCHMARK.json"), Paths.get("..", "BENCHMARK.json"))
      .find(Files.isRegularFile(_)).getOrElse(fail("BENCHMARK.json not found"))
    val root = new ObjectMapper().readTree(Files.readString(file))
    def listed(key: String) = root.get(key).elements().asScala
      .map(m => Metrics.Metric(m.get("name").asText, m.get("unit").asText)).toSeq
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
  }

  test("a result line carries exactly the contract's keys") {
    val line = Result(correct = true, 3, 0,
      Metrics.EndToEnd.map(m => m -> 1.5)).json
    val node = new ObjectMapper().readTree(line)
    assert(node.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(node.get("metrics").fieldNames().asScala.toSeq == Metrics.EndToEnd.map(_.name))
  }
}
