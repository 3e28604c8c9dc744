package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.v2.GraftCatalog

/**
 * One benchmark run: set the workload up, drive its rotation closed-loop
 * for `--seconds`, fingerprint the final tables, and write every metric to
 * `--out` as JSON.
 *
 *   --workload oltp_mix|scan_mor|cdc_serve  --seed N  --seconds S
 *   --trace 0|1  --work DIR  --out FILE  --spans FILE  --nproc P
 *
 * With `--trace 1` even rotations run traced and odd ones untraced; the
 * per-layer table comes from the traced ones and the throughput of the
 * two halves gives the tracing overhead.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, spans: String, nproc: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.get("trace").contains("1"), need("work"), need("out"), need("spans"),
      need("nproc").toInt)
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.nproc}]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.shuffle.partitions", a.nproc.toString)
      .config("spark.default.parallelism", a.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(a.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.work, "spark-warehouse").toString)
      .config("graft.maintain.auto", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def make(name: String, c: Ctx): Workload = name match {
    case "oltp_mix" => new OltpMix(c)
    case "scan_mor" => new ScanMor(c)
    case "cdc_serve" => new CdcServe(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val tracer = new Tracer(spark.sparkContext)
    val jobLog = new JobLog(tracer.SpanProp)
    if (a.trace) spark.sparkContext.addSparkListener(jobLog)

    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()
    def fail(what: String): Unit = {
      failed += 1
      if (errors.length < 20) errors += what
    }

    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val wh = Paths.get(a.work, "warehouse").toString
    spark.conf.set("spark.sql.catalog.gb", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gb.warehouse", wh)
    val w = make(a.workload, Ctx(spark, tracer, a.seed, wh, "gb"))

    /** Run one op; returns its latency when it succeeded and its answer
      * checked out. A failed op is never a latency sample. */
    def runOp(kind: String): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      val r = try {
        val check = tracer.span(s"op.$kind")(w.op(kind))
        val ms = (System.nanoTime() - t0) / 1e6
        check() match {
          case None => Some(ms)
          case Some(err) => fail(s"${w.name}/$kind: wrong answer: $err"); None
        }
      } catch {
        case e: Exception =>
          if (failed < 3) e.printStackTrace()
          fail(s"${w.name}/$kind: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
      if (tracer.on) w.tables.headOption.foreach { loc =>
        tracer.span("catalog.manifest_read") {
          val m = graft.catalog.TableMeta.readCurrent(loc)
          tracer.attr("delta_files", m.deltaFiles.length.toDouble)
        }
        tracer.attrLast("catalog.manifest_read", "manifest_bytes", w.manifestBytes(loc).toDouble)
      }
      r
    }

    // ---------------------------------------------------------------- set-up
    // Build every table from the seed, then warm up with whole rotations
    // (checked, never latency samples): without it the first rotations of
    // the window ran 10-30% slower while the JIT compiled the hot paths.
    val t0 = System.nanoTime()
    w.setup()
    (1 to w.warmupRotations).foreach(_ => w.rotation.foreach(runOp))
    val setupS = (System.nanoTime() - t0) / 1e9

    // ---------------------------------------------------------------- window
    val gc0 = gcMs()
    val bytes0 = w.dataBytes()
    val submitted0 = w.submittedBytes
    val start = System.nanoTime()
    val deadline = start + (a.seconds * 1e9).toLong
    // (traced, ops, seconds, ran to its end) of every rotation
    val rotations = mutable.ArrayBuffer[(Boolean, Int, Double, Boolean)]()
    var windowOps = 0
    var rot = 0
    while (System.nanoTime() < deadline) {
      tracer.on = a.trace && rot % 2 == 0
      val rs = System.nanoTime()
      var n = 0
      val complete = w.rotation.forall { kind =>
        if (System.nanoTime() >= deadline) false
        else {
          runOp(kind).foreach(ms => samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms)
          n += 1
          true
        }
      }
      windowOps += n
      rotations += ((tracer.on, n, (System.nanoTime() - rs) / 1e9, complete))
      rot += 1
    }
    tracer.on = false
    val windowS = (System.nanoTime() - start) / 1e9
    val gcWindowMs = (gcMs() - gc0).toDouble
    val bytesWritten = w.dataBytes() - bytes0
    val submitted = w.submittedBytes - submitted0

    // ---------------------------------------------------------------- final checks
    attempted += 1 // the fingerprint pass counts as one checked op
    try w.finalChecks().foreach(fail)
    catch { case e: Exception => fail(s"${w.name}/final checks: $e") }
    val liveBytes = w.liveBytes()

    // ---------------------------------------------------------------- metrics
    // throughput over the rotations that ran to their end (a partial last
    // rotation would weigh its op kinds unevenly), all rotations if none did
    def rate(traced: Boolean): Double = {
      val mine = rotations.filter(_._1 == traced)
      val rs = if (mine.exists(_._4)) mine.filter(_._4) else mine
      if (rs.isEmpty) Double.NaN else rs.map(_._2).sum / rs.map(_._3).sum
    }
    // ops_per_s: one rotation's ops over its time at each kind's mean
    // latency in the window. Every sample counts, and a last rotation cut
    // short by the deadline cannot skew the op mix.
    val perRotation = w.rotation.groupBy(identity).map { case (k, ks) => k -> ks.length }
    val opsPerS =
      if (!perRotation.keys.forall(samples.contains)) windowOps / windowS
      else w.rotation.length / perRotation.map { case (k, c) =>
        c * samples(k).sum / samples(k).length / 1000.0 }.sum

    def p(kind: String, q: Double): Option[Double] =
      samples.get(kind).filter(_.nonEmpty).map(s => quantile(s.toSeq, q))
    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    def put(m: mutable.Map[String, (Double, String)], k: String, v: Option[Double], unit: String) =
      v.foreach(x => m(k) = (x, unit))
    put(e2e, "setup_s", Some(setupS), "s")
    put(e2e, "ops_per_s", Some(opsPerS), "1/s")
    put(e2e, "write_p50_ms", p(w.upsertKind, 0.5), "ms")
    put(e2e, "write_p90_ms", p(w.upsertKind, 0.9), "ms")
    put(e2e, "point_read_p50_ms", p(w.pointReadKind, 0.5), "ms")
    put(e2e, "point_read_p90_ms", p(w.pointReadKind, 0.9), "ms")
    // op_geomean_ms: geometric mean over op kinds of each kind's mean
    // latency (over ten seeds the means spread less than the medians of a
    // few samples). maintain() is left out: most calls find nothing to do
    // (~ms), the rest compact (~s).
    put(e2e, "op_geomean_ms", Some(samples.toSeq.collect {
      case (k, s) if k != "maintain" && s.nonEmpty => s.sum / s.length
    }).filter(_.nonEmpty).map(geomean), "ms")
    w.name match {
      case "oltp_mix" =>
        put(e2e, "df_read_p50_ms", p("df_read", 0.5), "ms")
      case "scan_mor" =>
        put(e2e, "scan_geomean_ms", Some(w.rotation.filter(_ != "replay").flatMap(p(_, 0.5)))
          .filter(_.nonEmpty).map(geomean), "ms")
        put(e2e, "df_read_p50_ms", p("df_pk_read", 0.5), "ms")
      case "cdc_serve" =>
        put(e2e, "cdc_p50_ms", p("cdc", 0.5), "ms")
        put(e2e, "refresh_p50_ms", p("refresh", 0.5), "ms")
        put(e2e, "served_read_p50_ms", p("served_read", 0.5), "ms")
        put(e2e, "rollup_read_p50_ms", p("rollup_read", 0.5), "ms")
    }
    put(e2e, "write_amp", Some(bytesWritten.toDouble / math.max(1L, submitted)), "ratio")
    put(e2e, "space_amp", Some(liveBytes / (w.liveRows * w.loadedBytesPerRow)), "ratio")
    put(e2e, "peak_rss_mb", Some(peakRssMb()), "MB")
    put(e2e, "failed_ops_pct", Some(100.0 * failed / math.max(1L, attempted)), "%")
    val perKind = samples.toSeq.flatMap { case (k, s) =>
      Seq(s"op.$k.p50_ms" -> (quantile(s.toSeq, 0.5), "ms"),
        s"op.$k.p90_ms" -> (quantile(s.toSeq, 0.9), "ms"),
        s"op.$k.n" -> (s.length.toDouble, "count"))
    }

    val layers = mutable.LinkedHashMap[String, (Double, String)]()
    if (a.trace) {
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      val stats = TraceStats.compute(tracer, jobLog)
      Files.write(Paths.get(a.spans), TraceStats.dumpLines(tracer, stats).toSeq.asJava,
        StandardCharsets.UTF_8)
      Layers.compute(stats, w, rate(true), rate(false), gcWindowMs, windowOps,
        bytesWritten, liveBytes).foreach { case (k, v) => layers(k) = v }
    }

    val info = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds), "window_s" -> Json.num(windowS),
      "nproc" -> a.nproc.toString,
      "rotations" -> rotations.count(_._4).toString, "window_ops" -> windowOps.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark" -> Json.str(spark.version),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "scala" -> Json.str(scala.util.Properties.versionNumberString))
    def obj(m: Iterable[(String, (Double, String))]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")
    val out =
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
        s""""errors":${errors.map(Json.str).mkString("[", ",", "]")},""" +
        s""""metrics":${obj(e2e)},"ops":${obj(perKind)},"layers":${obj(layers)},""" +
        s""""samples":${samples.map { case (k, s) =>
          Json.str(k) + ":" + s.map(Json.num).mkString("[", ",", "]") }.mkString("{", ",", "}")},""" +
        s""""info":${info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")}}"""
    Files.write(Paths.get(a.out), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
