package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.catalog.TableMeta
import graft.plans.ServingStats
import graft.table.GraftTable

/** What a workload needs from the run: the session, the tracer, the seed,
  * a private warehouse and the DSv2 catalog rooted at it. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    warehouse: String, catalog: String)

/** Model of a table whose rows are `Gen` values of (key, salt): only the
  * touched keys are stored, as their last salt or deleted. Keys below
  * `n0` start with salt 0; keys at or above it do not exist until written. */
final class KeyModel(val n0: Long, base: Long => Option[Int]) {
  private val touched = mutable.LongMap[Int]()
  private val Deleted = -1
  var live: Long = (0L until n0).count(k => base(k).isDefined)

  def saltOf(k: Long): Option[Int] = touched.get(k) match {
    case Some(Deleted) => None
    case Some(s) => Some(s)
    case None => base(k)
  }
  def isLive(k: Long): Boolean = saltOf(k).isDefined

  def put(k: Long, s: Int): Unit = { if (!isLive(k)) live += 1; touched(k) = s }
  def delete(k: Long): Unit = { if (isLive(k)) live -= 1; touched(k) = Deleted }

  /** The touched keys as (id, salt) with salt -1 for deleted. */
  def touchedRows: Seq[Seq[Any]] = touched.toSeq.map { case (k, s) => Seq(k, s.toLong) }
}

/** A closed-loop, single-client workload: `setup` builds its tables from
  * the seed, `rotation` is the fixed op sequence the loop cycles through,
  * `op` runs one op and returns its answer check (run after the timer
  * stops), and `finalChecks` fingerprints every table afterwards. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  def setup(): Unit
  def rotation: Seq[String]
  /** Untimed rotations at the end of set-up. */
  def warmupRotations: Int = 1
  def op(kind: String): () => Option[String]
  def finalChecks(): Seq[String]
  /** Tables whose manifests and data directories are measured. */
  def tables: Seq[String]
  /** Logical bytes of the rows and keys submitted by write ops so far. */
  var submittedBytes = 0L
  /** Read ops counted as SQL point reads, upsert ops counted as writes. */
  def pointReadKind: String
  def upsertKind: String = "upsert"
  /** Bytes per row of the base as loaded (the space_amp denominator). */
  var loadedBytesPerRow = 1.0
  def liveRows: Long

  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer
  protected def table(name: String): String = s"${ctx.catalog}.$name"

  // ------------------------------------------------------------------ faces

  /** A SQL read through the DSv2 catalog, one span per phase: analysis
    * (catalog resolution), the optimizer (where the serving rewrites run
    * their probes), physical planning (where the V2 scan plans its files
    * and the merge-on-read overlay), and execution. `served` marks reads a
    * derived table should answer; `shape` names a scan_mor query shape. */
  protected def sqlRows(q: String, served: Boolean = false, shape: String = ""): Array[Row] = {
    val before = if (tracer.on) servingTotals() else (0L, 0L)
    val df = tracer.span("sources.v2.analyze")(spark.sql(q))
    tracer.span("plans.optimize")(df.queryExecution.optimizedPlan)
    tracer.span("sources.v2.plan")(df.queryExecution.executedPlan)
    val rows = tracer.span(if (served) "plans.exec" else "sources.v2.exec")(df.collect())
    if (tracer.on) {
      val exec = if (served) "plans.exec" else "sources.v2.exec"
      tracer.attrLast(exec, "rows", rows.length.toDouble)
      if (shape.nonEmpty) tracer.attrLast(exec, s"shape.$shape", 1.0)
      scanMetrics(df.queryExecution.executedPlan).foreach { case (k, v) =>
        tracer.attrLast(exec, k, v.toDouble)
      }
      val after = servingTotals()
      tracer.attrLast("plans.optimize", "serves", (after._1 - before._1).toDouble)
      tracer.attrLast("plans.optimize", "declines", (after._2 - before._2).toDouble)
    }
    rows
  }

  /** Session totals of (serves, declines) across every derived table. */
  protected def servingTotals(): (Long, Long) = {
    val cs = ServingStats.snapshot(spark).map(_._2)
    (cs.map(_.serves).sum,
      cs.map(c => c.staleDeclines + c.boundDeclines + c.errorDeclines).sum)
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(leaves)
  }

  /** The graft scan metrics posted on every executed BatchScan node. */
  protected def scanMetrics(p: SparkPlan): Map[String, Long] =
    leaves(p).flatMap(_.metrics.toSeq)
      .filter(_._1.startsWith("graft"))
      .groupBy(_._1).map { case (k, ms) => k -> ms.map(_._2.value).sum }

  // ------------------------------------------------------------------ checks

  protected def expectRows(what: String, got: Array[Row], want: Seq[Seq[Any]]): Option[String] = {
    val g = got.map(_.toSeq).toSeq
    if (g.length == want.length && g.zip(want).forall { case (a, b) => a == b }) None
    else Some(s"$what: got ${g.take(5).mkString(";")} (${g.length} rows), " +
      s"want ${want.take(5).mkString(";")} (${want.length} rows)")
  }

  /** Order-free fingerprint of `df`'s columns: (rows, hash sum mod p). */
  protected def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val h = s"pmod(xxhash64(${cols.mkString(", ")}), 1000000007)"
    val r = df.selectExpr(s"$h AS h").agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("h"), org.apache.spark.sql.functions.lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  protected def compareFingerprint(what: String, got: DataFrame, want: DataFrame,
      cols: Seq[String]): Option[String] = {
    val g = fingerprint(got, cols)
    val w = fingerprint(want, cols)
    if (g == w) None else Some(s"$what fingerprint $g != plain-Spark recomputation $w")
  }

  /** Expected live rows of a [[KeyModel]] table as a plain-Spark frame
    * (keys `[0, upto)`): no graft code is involved. */
  protected def expectedFrame(model: KeyModel, upto: Long, baseSalt: String,
      cols: Seq[(String, String)]): DataFrame = {
    val touched = Gen.batch(spark, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType))),
      model.touchedRows)
    val base = spark.range(0, upto).selectExpr("id", s"$baseSalt AS bs")
    val joined = base.join(org.apache.spark.sql.functions.broadcast(touched),
      base("id") === touched("tid"), "left")
      .selectExpr("id", "coalesce(ts, bs) AS s")
      .filter("s IS NOT NULL AND s >= 0")
    Gen.project(joined, cols)
  }

  // ------------------------------------------------------------------ storage

  /** Bytes of every data file under the tables' directories. Data files are
    * never rewritten in place and nothing here expires versions, so the
    * growth over the window is the bytes the engine wrote. */
  def dataBytes(): Long = tables.map { loc =>
    val d = Paths.get(loc, "data")
    if (!Files.exists(d)) 0L
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc")).map(p => Files.size(p)).sum
      finally s.close()
    }
  }.sum

  /** Bytes the current manifests reference. */
  def liveBytes(): Long = tables.map { loc =>
    val m = TableMeta.readCurrent(loc)
    (m.baseFiles ++ m.deltaFiles).map(f => GraftTable.fileSize(f.path)).sum
  }.sum

  /** Manifest file size of the current version of `loc`. */
  def manifestBytes(loc: String): Long = {
    val v = TableMeta.currentVersion(loc)
    Files.size(TableMeta.metaDir(loc).resolve(s"v$v.json"))
  }

  protected def baseBytes(loc: String): Long =
    TableMeta.readCurrent(loc).baseFiles.map(f => GraftTable.fileSize(f.path)).sum

  protected def dirOf(name: String): String = Paths.get(ctx.warehouse, name).toString
}
