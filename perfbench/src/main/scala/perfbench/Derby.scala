package perfbench

import java.sql.{Connection, DriverManager, SQLException}

import perfbench.SyncData.{Row, SyncCase, TableCase}

/** Embedded in-memory Derby: seeded once per run, backed up, and
  * restored fresh for every operation (`createFrom=<backup>`), so each
  * sync starts from the same prior state and nothing drifts between
  * operations. A restore is a file copy; a DELETE + reload is not.
  */
object Derby {
  def url(db: String): String = s"jdbc:derby:memory:$db"

  private def connect(u: String): Connection = {
    val c = DriverManager.getConnection(u)
    c.setAutoCommit(false)
    c
  }

  /** CREATE TABLE for `t` named `table`, with its FKs if `fks`. */
  def ddl(t: TableCase, table: String, fks: Boolean): String = {
    val cols = t.cols.map(c => s"${c.name} ${c.sqlType}" +
      (if (c.name == t.pk) " NOT NULL PRIMARY KEY" else ""))
    val refs = if (!fks) Nil else t.fks.map { case (c, p, pc) =>
      s"FOREIGN KEY ($c) REFERENCES $p ($pc)"
    }
    s"CREATE TABLE $table (${(cols ++ refs).mkString(", ")})"
  }

  /** Batched plain-JDBC insert, one commit. */
  def insert(conn: Connection, table: String, t: TableCase, rows: Seq[Row]): Unit = {
    val sql = s"INSERT INTO $table (${t.cols.map(_.name).mkString(", ")}) VALUES " +
      t.cols.map(_ => "?").mkString("(", ", ", ")")
    val ps = conn.prepareStatement(sql)
    try {
      var n = 0
      rows.foreach { r =>
        var i = 0
        while (i < r.size) {
          r(i) match {
            case v: Long => ps.setLong(i + 1, v)
            case v: Int => ps.setInt(i + 1, v)
            case v: Double => ps.setDouble(i + 1, v)
            case v: String => ps.setString(i + 1, v)
            case v: java.time.LocalDate => ps.setDate(i + 1, java.sql.Date.valueOf(v))
            case other => ps.setObject(i + 1, other)
          }
          i += 1
        }
        ps.addBatch()
        n += 1
        if (n % 1000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally ps.close()
  }

  /** Creates `db` holding every table's prior state and backs it up
    * under `backupDir`; returns the path a restore reads.
    */
  def seedAndBackup(db: String, c: SyncCase, backupDir: String): String = {
    val conn = connect(url(db) + ";create=true")
    try {
      val st = conn.createStatement()
      c.tables.foreach(t => st.executeUpdate(ddl(t, t.name, fks = true)))
      conn.commit()
      c.tables.foreach(t => insert(conn, t.name, t, t.dbRows))
      val cs = conn.prepareCall("CALL SYSCS_UTIL.SYSCS_BACKUP_DATABASE(?)")
      cs.setString(1, backupDir)
      cs.execute()
      cs.close()
      st.close()
    } finally conn.close()
    drop(db)
    s"$backupDir/$db"
  }

  /** A fresh database restored from the backup; returns its URL. */
  def restore(backup: String, db: String): String = {
    DriverManager.getConnection(url(db) + s";createFrom=$backup").close()
    url(db)
  }

  def create(db: String): String = {
    DriverManager.getConnection(url(db) + ";create=true").close()
    url(db)
  }

  def drop(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }

  /** The table's rows as the generator represents them. */
  def read(u: String, t: TableCase): Vector[Row] = {
    val conn = DriverManager.getConnection(u)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT ${t.cols.map(_.name).mkString(", ")} FROM ${t.name}")
      val out = Vector.newBuilder[Row]
      while (rs.next()) {
        out += t.cols.zipWithIndex.map { case (c, i0) =>
          val i = i0 + 1
          c.sqlType match {
            case "BIGINT" => rs.getLong(i)
            case "INT" => rs.getInt(i)
            case "DOUBLE" => rs.getDouble(i)
            case "DATE" => rs.getDate(i).toLocalDate
            case _ => rs.getString(i)
          }
        }.toVector
      }
      rs.close()
      out.result()
    } finally conn.close()
  }

  /** Rows of `a` left after removing `b` as multisets: the row count
    * of SQL `a EXCEPT ALL b`.
    */
  def exceptAll(a: Seq[Row], b: Seq[Row]): Int = {
    val counts = new java.util.HashMap[Row, Integer]()
    b.foreach(r => counts.merge(r, 1, (x: Integer, y: Integer) => x + y))
    a.count { r =>
      val n = counts.getOrDefault(r, 0)
      if (n > 0) { counts.put(r, n - 1); false } else true
    }
  }

  /** Tables whose content differs from `expected` in either direction,
    * rendered for the failure message; empty when all match.
    */
  def mismatches(u: String, c: SyncCase, expected: TableCase => Seq[Row]): Seq[String] =
    c.tables.flatMap { t =>
      val got = read(u, t)
      val want = expected(t)
      val extra = exceptAll(got, want)
      val missing = exceptAll(want, got)
      if (extra == 0 && missing == 0) None
      else Some(s"${t.name}: $extra unexpected rows, $missing missing rows")
    }
}
