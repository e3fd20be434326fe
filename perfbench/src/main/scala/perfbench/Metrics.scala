package perfbench

/** Metric names and units this benchmark prints. BENCHMARK.json lists
  * the same names (a test keeps them in step).
  */
object Metrics {
  final case class Metric(name: String, unit: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"),
    Metric("op_s", "s"),
    Metric("rows_per_s", "rows/s"),
    Metric("heap_live_mb", "MB"))

  val SyncSpanFields: Seq[(String, Seq[String])] = Seq(
    "sources.read" -> Seq("wall_s", "jobs", "cpu_s", "input_rows"),
    "core.validate" -> Seq("wall_s", "jobs", "cpu_s", "shuffle_mb", "input_rows"),
    "core.diff" -> Seq("wall_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "input_rows",
      "driver_s", "rows_out"),
    "sinks.delete" -> Seq("wall_s", "rows_out"),
    "sinks.upsert" -> Seq("wall_s", "rows_out"),
    "sinks.append" -> Seq("wall_s", "rows_out", "tasks", "cpu_s"),
    "sinks.commit" -> Seq("wall_s"))

  val CurateQueries: Seq[String] = Seq("q200_kn3_by_lang")

  val QueryFields: Seq[String] = Seq("wall_s", "plan_s", "jobs", "cpu_s", "shuffle_mb", "driver_s")

  val PerLayer: Seq[Metric] = {
    def unit(field: String): String = field match {
      case "wall_s" | "cpu_s" | "driver_s" | "plan_s" => "s"
      case "shuffle_mb" => "MB"
      case "input_rows" | "rows_out" => "rows"
      case _ => "count"
    }
    SyncSpanFields.flatMap { case (span, fs) => fs.map(f => Metric(s"$span.$f", unit(f))) } ++
      Seq(Metric("sources.file_scans", "count"), Metric("sinks.db_scans", "count"),
        Metric("derby.insert_floor_s", "s")) ++
      CurateQueries.flatMap(q => QueryFields.map(f => Metric(s"operators.$q.$f", unit(f)))) ++
      Seq(Metric("dry_run_s", "s"), Metric("spark.codegen_compiles", "count"),
        Metric("jvm.gc_s", "s"), Metric("jvm.heap_peak_mb", "MB"),
        Metric("trace.gap_frac", "fraction"))
  }

  /** Per-layer medians over traced operations, plus the tracing gap:
    * traced against untraced operation time.
    */
  def layerMedians(layers: Seq[Map[String, Double]], tracedS: Seq[Double],
      opS: Seq[Double]): Map[String, Double] =
    if (layers.isEmpty) Map.empty
    else layers.flatMap(_.keys).distinct.map(k =>
      k -> median(layers.map(_.getOrElse(k, 0.0)))).toMap +
      ("trace.gap_frac" -> (median(tracedS) / median(opS) - 1))

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
