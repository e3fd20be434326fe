package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** Seeded input generator for the sync workloads.
  *
  * Every table has a prior state (what the database holds before the
  * sync) and a file state (what the input file says it should hold).
  * The generator derives both from the seed and records what a correct
  * sync must report and leave behind: per-table insert/update/delete
  * counts and the end state. Multi-table cases are FK-consistent in
  * both states, so the FK-ordered sync never trips a constraint.
  *
  * Churn follows the shape of the diff queries' `fileState`: a row is
  * deleted, updated or gets a re-keyed insert copy when a seeded hash
  * of its key falls under the table's rate.
  */
object SyncData {

  final case class Col(name: String, sqlType: String)

  final case class Rates(delete: Double, update: Double, insert: Double)

  /** ~1% churn per kind: q05-q08's 1/10, 1/7, 1/13 scaled down 10x. */
  val Light = Rates(0.01, 1.0 / 70, 1.0 / 130)
  /** The q05-q08 proportions themselves, ~10% per kind. */
  val Heavy = Rates(0.1, 1.0 / 7, 1.0 / 13)

  type Row = Vector[Any]

  final case class TableCase(
      name: String,
      cols: Seq[Col],
      pk: String,
      fks: Seq[(String, String, String)], // (column, parent table, parent column)
      format: String, // csv | json
      mode: String, // diff | overwrite
      dbRows: Vector[Row],
      fileRows: Vector[Row],
      inserted: Vector[Row], // rows the sync must insert
      updates: Int,
      deletes: Int) {
    def isDiff: Boolean = mode == "diff"
    /** Counts `SyncRunner.run` must report: (inserts, updates, deletes). */
    def expectedResult: (Long, Long, Long) =
      if (isDiff) (inserted.size.toLong, updates.toLong, deletes.toLong)
      else (fileRows.size.toLong, 0L, 0L)
    /** Counts a dry run's execution plan must show. */
    def expectedPlan: (Long, Long, Long) =
      if (isDiff) expectedResult
      else (fileRows.size.toLong, 0L, dbRows.size.toLong)
  }

  /** Tables in FK order (parents first) plus the overwrite threshold
    * the sync config uses.
    */
  final case class SyncCase(tables: Seq[TableCase], overwriteThreshold: Long) {
    def fileRowCount: Long = tables.map(_.fileRows.size.toLong).sum
  }

  private val KeyOffset = 1000000000L
  private val Words = Vector("alpha", "bravo", "carbon", "delta", "ember",
    "fjord", "gamma", "harbor", "iris", "jade", "kilo", "lumen", "mesa",
    "nova", "orbit", "prism", "quartz", "river", "sable", "tundra")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val BaseDate = LocalDate.of(1992, 1, 1)

  /** splitmix64 finalizer: a well-mixed 64-bit hash of a key. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Uniform [0, 1) draw for (key, purpose) under the seed. */
  private def u(seed: Long, salt: Int, key: Long): Double =
    (mix(mix(seed * 31 + salt) ^ key) >>> 11) * (1.0 / (1L << 53))

  private final class Gen(seed: Long, salt: Int) {
    private val r = new java.util.SplittableRandom(mix(seed ^ (salt.toLong << 32)))
    def int(n: Int): Int = r.nextInt(n)
    def cents(lo: Int, hi: Int): Double = (lo + r.nextInt(hi - lo)) / 100.0
    def text(words: Int): String = Vector.fill(words)(Words(r.nextInt(Words.size))).mkString(" ")
    def date(): LocalDate = BaseDate.plusDays(r.nextInt(2400).toLong)
  }

  val CustomerCols = Seq(Col("c_custkey", "BIGINT"), Col("c_name", "VARCHAR(32)"),
    Col("c_nationkey", "INT"), Col("c_acctbal", "DOUBLE"),
    Col("c_mktsegment", "VARCHAR(16)"), Col("c_comment", "VARCHAR(80)"))
  val OrderCols = Seq(Col("o_orderkey", "BIGINT"), Col("o_custkey", "BIGINT"),
    Col("o_orderstatus", "VARCHAR(1)"), Col("o_totalprice", "DOUBLE"),
    Col("o_orderdate", "DATE"), Col("o_orderpriority", "VARCHAR(16)"),
    Col("o_shippriority", "INT"), Col("o_comment", "VARCHAR(80)"))
  val LineitemCols = Seq(Col("l_id", "BIGINT"), Col("l_orderkey", "BIGINT"),
    Col("l_linenumber", "INT"), Col("l_partkey", "BIGINT"),
    Col("l_quantity", "DOUBLE"), Col("l_extendedprice", "DOUBLE"),
    Col("l_discount", "DOUBLE"), Col("l_shipdate", "DATE"),
    Col("l_returnflag", "VARCHAR(1)"), Col("l_comment", "VARCHAR(80)"))

  private def customer(g: Gen, key: Long): Row =
    Vector(key, f"Customer#$key%09d", g.int(25), g.cents(-99999, 999999),
      Segments(g.int(Segments.size)), g.text(4))

  private def order(g: Gen, key: Long, cust: Long): Row =
    Vector(key, cust, "OFP" (g.int(3)).toString, g.cents(100000, 50000000),
      g.date(), Priorities(g.int(Priorities.size)), 0, g.text(5))

  private def lineitem(g: Gen, id: Long, orderKey: Long, line: Int): Row = {
    val qty = (1 + g.int(50)).toDouble
    Vector(id, orderKey, line, 1L + g.int(20000), qty,
      math.round(qty * (90000 + g.int(10000000)) / 100.0) / 100.0,
      g.int(11) / 100.0, g.date(), "ANR" (g.int(3)).toString, g.text(3))
  }

  /** The diff of one keyed table: which prior rows are deleted, which
    * are updated (via `change`), and which re-keyed copies are added.
    * `forceDelete` deletes a row whatever its hash (FK cascades).
    */
  private def churn(
      seed: Long, salt: Int, rows: Vector[Row], rates: Rates,
      change: Row => Row, insertCopy: Row => Row,
      forceDelete: Row => Boolean = _ => false): (Vector[Row], Vector[Row], Int, Int) = {
    val file = Vector.newBuilder[Row]
    val inserted = Vector.newBuilder[Row]
    var updates, deletes = 0
    rows.foreach { r =>
      val k = r(0).asInstanceOf[Long]
      if (forceDelete(r) || u(seed, salt, k) < rates.delete) deletes += 1
      else if (u(seed, salt + 1, k) < rates.update) { file += change(r); updates += 1 }
      else file += r
    }
    rows.foreach { r =>
      val k = r(0).asInstanceOf[Long]
      if (u(seed, salt + 2, k) < rates.insert) inserted += insertCopy(r)
    }
    val ins = inserted.result()
    (file.result() ++ ins, ins, updates, deletes)
  }

  private def bumpPrice(i: Int, comment: Int)(r: Row): Row =
    r.updated(i, r(i).asInstanceOf[Double] + 1.0)
      .updated(comment, r(comment).toString.reverse)

  /** One table (`orders`) synced in diff mode with deleteNotInFile at
    * ~1% churn per kind.
    */
  def diffCase(seed: Long, orders: Int): SyncCase = {
    val g = new Gen(seed, 1)
    val prior = (1 to orders).map(k => order(g, k.toLong, 1L + g.int(orders / 10 + 1))).toVector
    val (file, ins, upd, del) = churn(seed, 10, prior, Light,
      bumpPrice(3, 7), r => r.updated(0, r(0).asInstanceOf[Long] + KeyOffset))
    SyncCase(Seq(TableCase("orders", OrderCols, "o_orderkey", Nil, "csv", "diff",
      prior, file, ins, upd, del)), overwriteThreshold = 500000L)
  }

  /** customer (JSON, diff) -> orders (CSV, diff) -> lineitem (CSV,
    * overwrite above the distributed threshold), FK-consistent.
    * A deleted customer takes its orders with it; lineitem is
    * regenerated for every surviving and inserted order.
    */
  def multiCase(seed: Long, customers: Int, threshold: Long): SyncCase = {
    val gc = new Gen(seed, 2)
    val custPrior = (1 to customers).map(k => customer(gc, k.toLong)).toVector
    val (custFile, custIns, custUpd, custDel) = churn(seed, 20, custPrior, Light,
      bumpPrice(3, 5), r => r.updated(0, r(0).asInstanceOf[Long] + KeyOffset)
        .updated(1, f"Customer#${r(0).asInstanceOf[Long] + KeyOffset}%09d"))
    val liveCust = custFile.map(_(0).asInstanceOf[Long])
    val liveSet = liveCust.toSet

    val go = new Gen(seed, 3)
    val ordPrior = (1 to customers * 10).map(k =>
      order(go, k.toLong, 1L + go.int(customers))).toVector
    val (ordFile, ordIns, ordUpd, ordDel) = churn(seed, 30, ordPrior, Heavy,
      bumpPrice(3, 7),
      r => {
        val k = r(0).asInstanceOf[Long]
        r.updated(0, k + KeyOffset).updated(1, liveCust(java.lang.Math.floorMod(mix(k), liveCust.size.toLong).toInt))
      },
      forceDelete = r => !liveSet.contains(r(1).asInstanceOf[Long]))

    val gl = new Gen(seed, 4)
    var nextId = 0L
    def linesOf(orders: Vector[Row]): Vector[Row] = orders.flatMap { o =>
      val k = o(0).asInstanceOf[Long]
      (1 to 1 + gl.int(7)).map { n => nextId += 1; lineitem(gl, nextId, k, n) }
    }
    val liPrior = linesOf(ordPrior)
    val liveOrders = ordFile.map(_(0).asInstanceOf[Long]).toSet
    val liFile = liPrior.filter(l => liveOrders.contains(l(1).asInstanceOf[Long])) ++ linesOf(ordIns)

    SyncCase(Seq(
      TableCase("customer", CustomerCols, "c_custkey", Nil, "json", "diff",
        custPrior, custFile, custIns, custUpd, custDel),
      TableCase("orders", OrderCols, "o_orderkey",
        Seq(("o_custkey", "customer", "c_custkey")), "csv", "diff",
        ordPrior, ordFile, ordIns, ordUpd, ordDel),
      TableCase("lineitem", LineitemCols, "l_id",
        Seq(("l_orderkey", "orders", "o_orderkey")), "csv", "overwrite",
        liPrior, liFile, liFile, 0, liPrior.size)),
      overwriteThreshold = threshold)
  }

  private def csvCell(v: Any): String = v.toString

  private def jsonCell(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case d: LocalDate => "\"" + d + "\""
    case other => other.toString
  }

  /** Writes each table's file state as `<dir>/<table>.<format>` and
    * returns the paths in table order.
    */
  def writeFiles(c: SyncCase, dir: Path): Seq[String] = {
    Files.createDirectories(dir)
    c.tables.map { t =>
      val p = dir.resolve(s"${t.name}.${t.format}")
      val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
      try {
        if (t.format == "csv") {
          w.write(t.cols.map(_.name).mkString(","))
          w.newLine()
          t.fileRows.foreach { r => w.write(r.map(csvCell).mkString(",")); w.newLine() }
        } else {
          w.write("[")
          t.fileRows.zipWithIndex.foreach { case (r, i) =>
            if (i > 0) w.write(",")
            w.newLine()
            w.write(t.cols.zip(r).map { case (c, v) => "\"" + c.name + "\": " + jsonCell(v) }
              .mkString("{", ", ", "}"))
          }
          w.newLine()
          w.write("]")
          w.newLine()
        }
      } finally w.close()
      p.toString
    }
  }
}
