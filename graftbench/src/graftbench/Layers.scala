package graftbench

/**
 * The per-layer table of a traced run, keyed by this repository's module
 * names. Times and job counts are means per call of the named span; a
 * layer the workload never calls reports 0.
 *
 *   catalog.*     TableMeta        (a readCurrent timed after each op)
 *   table.*       GraftTable       (writes, maintain, scan(), changesSince)
 *   sources.v2.*  GraftCatalog / GraftV2Scan / MorOverlay (plain SQL reads)
 *   plans.*       IndexRewrite / RollupRewrite / ServingStats (served reads)
 *   tools.*       SecondaryIndex / MaterializedRollup (refresh)
 *   spark.*       the runtime under every layer
 *   trace.*       the tracer's own cost
 */
object Layers {

  def compute(stats: Seq[SpanStats], w: Workload, tracedRate: Double,
      untracedRate: Double, gcWindowMs: Double, windowOps: Int, bytesWritten: Long,
      liveBytes: Long): Seq[(String, (Double, String))] = {
    val byName = stats.groupBy(_.span.name)
    def of(n: String): Seq[SpanStats] = byName.getOrElse(n, Nil)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    def attr(n: String, k: String): Seq[Double] = of(n).map(_.span.attrs.getOrElse(k, 0.0))
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val out = scala.collection.mutable.ArrayBuffer[(String, (Double, String))]()
    def put(k: String, v: Double, unit: String): Unit = out += k -> (v, unit)

    /** ms / jobs / job_ms / driver_ms per call of span `n`. */
    def timing(prefix: String, n: String, keys: Seq[String]): Unit = {
      val ss = of(n)
      keys.foreach {
        case "ms" => put(s"$prefix.ms", mean(ss.map(_.span.ms)), "ms")
        case "jobs" => put(s"$prefix.jobs", mean(ss.map(_.jobs.toDouble)), "count")
        case "job_ms" => put(s"$prefix.job_ms", mean(ss.map(_.jobMs)), "ms")
        case "driver_ms" => put(s"$prefix.driver_ms", mean(ss.map(_.driverMs)), "ms")
        case "input_bytes" => put(s"$prefix.input_bytes", mean(ss.map(_.inputBytes.toDouble)), "bytes")
      }
    }
    val all4 = Seq("ms", "jobs", "job_ms", "driver_ms")

    // catalog
    put("catalog.manifest_read_ms", mean(of("catalog.manifest_read").map(_.span.ms)), "ms")
    put("catalog.manifest_bytes", mean(attr("catalog.manifest_read", "manifest_bytes")), "bytes")
    put("catalog.delta_files", mean(attr("catalog.manifest_read", "delta_files")), "count")

    // table
    val writes = Seq("upsert", "insert", "update", "delete")
    writes.foreach(k => timing(s"table.$k", s"table.$k", all4))
    val writeSpans = writes.flatMap(k => of(s"table.$k"))
    put("table.presence_bytes_per_row", ratio(writeSpans.map(_.inputBytes.toDouble).sum,
      writeSpans.map(_.span.attrs.getOrElse("rows", 0.0)).sum), "bytes")
    timing("table.maintain", "table.maintain", Seq("ms"))
    put("table.maintain.count", attr("table.maintain", "acted").sum, "count")
    put("table.maintain.bytes_rewritten", attr("table.maintain", "bytes_rewritten").sum, "bytes")
    timing("table.df_scan", "table.df_scan", all4 :+ "input_bytes")
    timing("table.cdc", "table.cdc", Seq("ms", "jobs", "job_ms"))
    put("table.bytes_written", bytesWritten.toDouble, "bytes")
    put("table.bytes_live", liveBytes.toDouble, "bytes")

    // sources.v2 (catalog resolution, scan planning, plain SQL reads) and
    // plans (the optimizer, where serving rewrites probe; served SQL reads)
    val v2Exec = of("sources.v2.exec")
    def phase(prefix: String, n: String): Unit = {
      put(s"${prefix}_ms", mean(of(n).map(_.span.ms)), "ms")
      put(s"${prefix}_jobs", mean(of(n).map(_.jobs.toDouble)), "count")
    }
    phase("sources.v2.analyze", "sources.v2.analyze")
    phase("sources.v2.plan", "sources.v2.plan")
    phase("sources.v2.exec", "sources.v2.exec")
    put("sources.v2.job_ms", mean(v2Exec.map(_.jobMs)), "ms")
    val read = attr("sources.v2.exec", "graftBaseFilesRead").sum
    val pruned = attr("sources.v2.exec", "graftBaseFilesPruned").sum
    put("sources.v2.files_read", mean(attr("sources.v2.exec", "graftBaseFilesRead")), "count")
    put("sources.v2.files_pruned", mean(attr("sources.v2.exec", "graftBaseFilesPruned")), "count")
    put("sources.v2.prune_ratio", ratio(pruned, read + pruned), "ratio")
    Seq("broadcast" -> "graftDeltaFilesBroadcast", "attached" -> "graftDeltaFilesAttached",
      "spilled" -> "graftDeltaFilesSpilled").foreach { case (k, m) =>
      put(s"sources.v2.deltas_$k", mean(attr("sources.v2.exec", m)), "count")
    }
    put("sources.v2.input_bytes_per_row_returned",
      ratio(v2Exec.map(_.inputBytes.toDouble).sum,
        v2Exec.map(s => math.max(1.0, s.span.attrs.getOrElse("rows", 0.0))).sum), "bytes")
    // per-shape time (all phases): the op span of each scan_mor shape
    if (w.name == "scan_mor") w.rotation.filter(_ != "replay").foreach { s =>
      put(s"sources.v2.$s.ms", mean(of(s"op.$s").map(_.span.ms)), "ms")
    }

    phase("plans.optimize", "plans.optimize")
    phase("plans.exec", "plans.exec")
    val serves = attr("plans.optimize", "serves").sum
    val declines = attr("plans.optimize", "declines").sum
    put("plans.serves", serves, "count")
    put("plans.declines", declines, "count")
    put("plans.serve_ratio", ratio(serves, of("plans.exec").length.toDouble), "ratio")

    // tools
    timing("tools.index_refresh", "tools.index_refresh", all4)
    timing("tools.rollup_refresh", "tools.rollup_refresh", all4)

    // spark: over the traced op spans
    val ops = stats.filter(_.span.name.startsWith("op."))
    val jobs = ops.map(_.jobs).sum.toDouble
    put("spark.jobs_per_op", ratio(jobs, ops.length.toDouble), "count")
    put("spark.job_ms_share", ratio(ops.map(_.jobMs).sum, ops.map(_.span.ms).sum), "ratio")
    put("spark.tasks_per_job", ratio(ops.map(_.tasks.toDouble).sum, jobs), "count")
    put("spark.shuffle_bytes", ratio(ops.map(_.shuffleBytes.toDouble).sum, ops.length.toDouble),
      "bytes")
    put("spark.gc_ms", gcWindowMs / math.max(1, windowOps), "ms")

    // trace
    put("trace.ops_per_s", tracedRate, "1/s")
    put("trace.untraced_ops_per_s", untracedRate, "1/s")
    put("trace.overhead_pct", 100.0 * (untracedRate / tracedRate - 1.0), "%")
    put("trace.spans", stats.length.toDouble, "count")
    out.toSeq
  }
}
