package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.catalog.HashComponent
import graft.table.GraftTable
import graft.tools.{MaterializedRollup, SecondaryIndex}

/**
 * oltp_mix — the write path, presence checks, manifest reads and point
 * reads. YCSB-A style: about half reads, half writes, Zipfian hot keys,
 * over a lineitem-like table above the engine's 64 MB size gates.
 * `maintain()` (the policy entry) runs as an op after every 8 commits.
 */
final class OltpMix(c: Ctx) extends Workload(c) {
  val name = "oltp_mix"
  private val loc = dirOf("oltp")
  private val n0 = 1100000L
  private val model = new KeyModel(n0, _ => Some(0))
  private var nextKey = n0
  private var salt = 0
  private val rnd = new SplittableRandom(ctx.seed)
  private val zipf = new Zipf(n0, rnd.split(), ctx.seed)
  private var t: GraftTable = _
  private var schema: StructType = _

  def tables: Seq[String] = Seq(loc)
  def liveRows: Long = model.live
  val pointReadKind = "point_read"

  // YCSB-A style: 6 reads and 8 commits (5 upserts, an insert, an update
  // and a delete) per rotation, then the policy maintenance call
  val rotation: Seq[String] = Seq(
    "point_read", "upsert", "point_read", "upsert", "df_read", "point_read", "upsert",
    "insert", "point_read", "upsert", "update", "point_read", "upsert", "delete",
    "maintain")

  def setup(): Unit = {
    val df = Gen.project(spark.range(0, n0).selectExpr("id", "CAST(0 AS BIGINT) AS s"),
      Gen.lineSql)
    t = GraftTable.create(spark, loc, "oltp", df.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 16)), data = Some(df))
    schema = t.schema
    loadedBytesPerRow = baseBytes(loc).toDouble / n0
  }

  private def nextSalt(): Int = { salt += 1; salt }

  private def write(kind: String, keys: Seq[Long], s: Int)(body: => Unit): () => Option[String] = {
    tracer.span(s"table.$kind") {
      body
      tracer.attr("rows", keys.length.toDouble)
    }
    submittedBytes += keys.length * (if (kind == "delete") 8L else Gen.lineRowBytes)
    kind match {
      case "delete" => keys.foreach(model.delete)
      case _ => keys.foreach(model.put(_, s))
    }
    () => None
  }

  private def readCheck(k: Long, got: Array[org.apache.spark.sql.Row]): () => Option[String] = {
    val want = model.saltOf(k).map(s => Gen.lineValues(k, s)).toSeq
    () => expectRows(s"id=$k", got, want)
  }

  def op(kind: String): () => Option[String] = kind match {
    case "point_read" =>
      val k = zipf.next()
      readCheck(k, sqlRows(s"SELECT * FROM ${table("oltp")} WHERE id = $k"))
    case "df_read" =>
      val k = zipf.next()
      readCheck(k, tracer.span("table.df_scan") {
        t.scan().filter(col("id") === k).collect()
      })
    case "upsert" =>
      val s = nextSalt()
      val keys = zipf.distinct(1000, _ => true)
      write("upsert", keys, s)(t.upsert(Gen.batch(spark, schema, keys.map(Gen.lineValues(_, s)))))
    case "insert" =>
      val s = nextSalt()
      val keys = nextKey until nextKey + 1000
      nextKey += 1000
      write("insert", keys, s)(t.insert(Gen.batch(spark, schema, keys.map(Gen.lineValues(_, s)))))
    case "update" =>
      val s = nextSalt()
      val keys = zipf.distinct(100, model.isLive)
      write("update", keys, s)(t.update(Gen.batch(spark, schema, keys.map(Gen.lineValues(_, s)))))
    case "delete" =>
      // uniform victims: deleting the hot keys would empty the read mix
      val keys = Iterator.continually(Math.floorMod(rnd.nextLong(), nextKey))
        .filter(model.isLive).distinct.take(100).toSeq
      val kschema = StructType(Seq(StructField("id", LongType, nullable = false)))
      write("delete", keys, 0)(t.delete(Gen.batch(spark, kschema, keys.map(Seq(_)))))
    case "maintain" =>
      val before = if (tracer.on) dataBytes() else 0L
      val acted = tracer.span("table.maintain") { t.maintain() }
      if (tracer.on) {
        tracer.attrLast("table.maintain", "acted", if (acted) 1.0 else 0.0)
        tracer.attrLast("table.maintain", "bytes_rewritten", (dataBytes() - before).toDouble)
      }
      () => None
  }

  def finalChecks(): Seq[String] = {
    val want = expectedFrame(model, nextKey, s"CASE WHEN id < $n0 THEN 0L END", Gen.lineSql)
    compareFingerprint("oltp table", t.scan(), want, Gen.lineSql.map(_._1)).toSeq
  }
}

/**
 * scan_mor — the DSv2 scan, the merge-on-read overlay and pruning: the
 * whitepaper's lineitem shapes over a table whose ~3% delta tail was never
 * compacted. A small idempotent replay upsert (a sink's at-least-once
 * redelivery) runs beside the scans, so every oracle answer stays fixed.
 */
final class ScanMor(c: Ctx) extends Workload(c) {
  val name = "scan_mor"
  private val loc = dirOf("mor")
  private val n0 = 400000L
  private val seedK = Math.floorMod(ctx.seed * 97L, 1000L)
  private def bucket(k: Long): Long = Math.floorMod(k * 2654435761L + seedK, 1000L)
  private val tailSql = s"pmod(id * 2654435761 + $seedK, 1000)"
  // 3% of keys carry an upsert (salt 1), 0.1% a delete
  private def baseSalt(k: Long): Option[Int] = {
    val b = bucket(k)
    if (b == 999) None else if (b < 30) Some(1) else Some(0)
  }
  private val model = new KeyModel(n0, baseSalt)
  private val rnd = new SplittableRandom(ctx.seed)
  private var t: GraftTable = _
  private var schema: StructType = _
  // per-run query constants, drawn from the seed
  private val shipEq = rnd.nextInt(2557)
  private val q1Ship = 2300 + rnd.nextInt(200)
  private val q6Ship = rnd.nextInt(2000)
  private val shapes: Seq[(String, String)] = Seq(
    "count" -> "SELECT count(*) AS n FROM %s",
    "filter_count" -> s"SELECT count(*) AS n FROM %s WHERE ship = $shipEq",
    "q1" -> (s"SELECT flag, count(*) AS n, sum(qty) AS sq, sum(price) AS sp, " +
      s"sum(price * (100 - disc)) AS sdp FROM %s WHERE ship <= $q1Ship " +
      "GROUP BY flag ORDER BY flag"),
    "q6" -> (s"SELECT sum(price * disc) AS rev FROM %s WHERE ship >= $q6Ship AND " +
      s"ship < ${q6Ship + 365} AND disc BETWEEN 5 AND 7 AND qty < 24"),
    "topn" -> "SELECT id, price FROM %s ORDER BY price DESC, id LIMIT 10")
  private var oracle: Map[String, Seq[Seq[Any]]] = Map.empty

  def tables: Seq[String] = Seq(loc)
  def liveRows: Long = model.live
  val pointReadKind = "pk_read"

  val rotation: Seq[String] = Seq("count", "filter_count", "pk_read", "q1", "q6",
    "topn", "df_q1", "df_pk_read", "replay")

  def setup(): Unit = {
    val base = Gen.project(spark.range(0, n0).selectExpr("id", "CAST(0 AS BIGINT) AS s"),
      Gen.lineSql)
    t = GraftTable.create(spark, loc, "mor", base.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 16)), data = Some(base))
    schema = t.schema
    loadedBytesPerRow = baseBytes(loc).toDouble / n0
    // the tail: 3 upsert commits and one delete commit, never compacted
    (0 until 3).foreach { j =>
      t.upsert(Gen.project(spark.range(0, n0)
        .filter(s"$tailSql < 30 AND pmod(id, 3) = $j")
        .selectExpr("id", "CAST(1 AS BIGINT) AS s"), Gen.lineSql))
    }
    t.delete(spark.range(0, n0).filter(s"$tailSql = 999").select("id"))
    // the oracle: the same SQL over a plain-Spark frame of the expected rows
    val expected = Gen.project(spark.range(0, n0).filter(s"$tailSql <> 999")
      .selectExpr("id", s"CASE WHEN $tailSql < 30 THEN 1L ELSE 0L END AS s"), Gen.lineSql)
    expected.createOrReplaceTempView("mor_expected")
    oracle = shapes.map { case (n, q) =>
      n -> spark.sql(q.format("mor_expected")).collect().map(_.toSeq).toSeq
    }.toMap
  }

  private def pkCheck(k: Long, got: Array[org.apache.spark.sql.Row]): () => Option[String] = {
    val want = model.saltOf(k).map(s => Gen.lineValues(k, s)).toSeq
    () => expectRows(s"id=$k", got, want)
  }

  private def dfQ1() =
    t.scan().filter(col("ship") <= q1Ship).groupBy("flag")
      .agg(count(lit(1)).as("n"), sum("qty").as("sq"), sum("price").as("sp"),
        sum(col("price") * (lit(100) - col("disc"))).as("sdp"))
      .orderBy("flag")

  def op(kind: String): () => Option[String] = kind match {
    case "pk_read" =>
      val k = Math.floorMod(rnd.nextLong(), n0)
      pkCheck(k, sqlRows(s"SELECT * FROM ${table("mor")} WHERE id = $k", shape = kind))
    case "df_pk_read" =>
      val k = Math.floorMod(rnd.nextLong(), n0)
      pkCheck(k, tracer.span("table.df_scan") { t.scan().filter(col("id") === k).collect() })
    case "df_q1" =>
      val got = tracer.span("table.df_scan") { dfQ1().collect() }
      () => expectRows("df_q1", got, oracle("q1"))
    case "replay" =>
      // redeliver rows the table already holds: a logical no-op
      val keys = Iterator.continually(Math.floorMod(rnd.nextLong(), n0))
        .filter(model.isLive).distinct.take(100).toSeq
      val batch = Gen.batch(spark, schema, keys.map(k => Gen.lineValues(k, model.saltOf(k).get)))
      tracer.span("table.upsert") { t.upsert(batch); tracer.attr("rows", keys.length.toDouble) }
      submittedBytes += keys.length * Gen.lineRowBytes
      () => None
    case shape =>
      val q = shapes.toMap.apply(shape)
      val got = sqlRows(q.format(table("mor")), shape = shape)
      () => expectRows(shape, got, oracle(shape))
  }

  override def upsertKind: String = "replay"

  def finalChecks(): Seq[String] = {
    val want = expectedFrame(model, n0,
      s"CASE WHEN $tailSql = 999 THEN NULL WHEN $tailSql < 30 THEN 1L ELSE 0L END",
      Gen.lineSql)
    compareFingerprint("mor table", t.scan(), want, Gen.lineSql.map(_._1)).toSeq
  }
}

/**
 * cdc_serve — CDC export, derived-table refresh and serving rewrites: a
 * (grp, id)-keyed table under the 64 MB gates with a secondary index on
 * `v` and a rollup by `grp`. Each cycle commits a 100-row upsert, exports
 * the change window, refreshes both derived tables, then reads through
 * each of them with plain SQL.
 */
final class CdcServe(c: Ctx) extends Workload(c) {
  val name = "cdc_serve"
  private val loc = dirOf("cdc")
  private val idxLoc = dirOf("cdc_v_idx")
  private val rollLoc = dirOf("cdc_by_grp")
  private val n0 = 200000L
  private val model = new KeyModel(n0, _ => Some(0))
  private var salt = 0
  private val rnd = new SplittableRandom(ctx.seed)
  private val zipf = new Zipf(n0, rnd.split(), ctx.seed)
  private var t: GraftTable = _
  private var idx: GraftTable = _
  private var roll: GraftTable = _
  private var schema: StructType = _
  private val groupN = new Array[Long](Gen.Groups.toInt)
  private val groupSx = new Array[Long](Gen.Groups.toInt)
  private var lastWindow: (Long, Long, Seq[Long], Int) = (0L, 0L, Nil, 0)

  def tables: Seq[String] = Seq(loc, idxLoc, rollLoc)
  def liveRows: Long = model.live
  val pointReadKind = "served_read"

  val rotation: Seq[String] = Seq("upsert", "cdc", "refresh", "served_read", "rollup_read")
  override def warmupRotations: Int = 2

  def setup(): Unit = {
    val df = Gen.project(spark.range(0, n0).selectExpr("id", "CAST(0 AS BIGINT) AS s"),
      Gen.cdcSql)
    t = GraftTable.create(spark, loc, "cdc", df.schema, Seq("grp", "id"),
      Seq(HashComponent(Seq("grp"), 16)), data = Some(df))
    schema = t.schema
    loadedBytesPerRow = baseBytes(loc).toDouble / n0
    idx = SecondaryIndex.build(spark, t, "v", idxLoc, 16)
    roll = MaterializedRollup.build(spark, t, Seq("grp"),
      Seq("n" -> "count(*)", "sx" -> "sum(x)"), rollLoc, 16)
    // the rollup model starts from a plain-Spark aggregate of the generator
    df.groupBy("grp").agg(count(lit(1)), sum("x")).collect().foreach { r =>
      groupN(r.getLong(0).toInt) = r.getLong(1)
      groupSx(r.getLong(0).toInt) = r.getLong(2)
    }
  }

  private def cdcRow(k: Long, s: Int): Seq[Any] = Gen.cdcValues(k, s) :+ false

  def op(kind: String): () => Option[String] = kind match {
    case "upsert" =>
      salt += 1
      val s = salt
      val keys = zipf.distinct(100, _ => true)
      val v0 = t.currentVersion
      tracer.span("table.upsert") {
        t.upsert(Gen.batch(spark, schema, keys.map(Gen.cdcValues(_, s))))
        tracer.attr("rows", keys.length.toDouble)
      }
      submittedBytes += keys.length * Gen.cdcRowBytes
      keys.foreach { k =>
        val g = Gen.grp(k).toInt
        model.saltOf(k) match {
          case Some(old) => groupSx(g) += Gen.x(k, s) - Gen.x(k, old)
          case None => groupN(g) += 1; groupSx(g) += Gen.x(k, s)
        }
        model.put(k, s)
      }
      lastWindow = (v0, t.currentVersion, keys, s)
      () => None
    case "cdc" =>
      val (v0, v1, keys, s) = lastWindow
      val got = tracer.span("table.cdc") {
        t.changesSince(v0, v1).orderBy("grp", "id").collect()
      }
      val want = keys.sortBy(k => (Gen.grp(k), k)).map(cdcRow(_, s))
      () => expectRows(s"changesSince($v0, $v1)", got, want)
    case "refresh" =>
      val fresh = tracer.span("tools.index_refresh") { SecondaryIndex.refresh(spark, idx) } &&
        tracer.span("tools.rollup_refresh") { MaterializedRollup.refresh(spark, roll) }
      () => if (fresh) None else Some("a derived table reported no change to refresh")
    case "served_read" =>
      val k = zipf.next()
      val s = model.saltOf(k).get
      val got = sqlRows(s"SELECT grp, id, x, v, tag FROM ${table("cdc")} " +
        s"WHERE v = ${Gen.v(k, s)}", served = true)
      () => expectRows(s"v=${Gen.v(k, s)}", got, Seq(Gen.cdcValues(k, s)))
    case "rollup_read" =>
      val got = sqlRows(s"SELECT grp, count(*) AS n, sum(x) AS sx FROM ${table("cdc")} " +
        "GROUP BY grp ORDER BY grp", served = true)
      val want = groupN.indices.filter(groupN(_) > 0)
        .map(g => Seq(g.toLong, groupN(g), groupSx(g)))
      () => expectRows("rollup", got, want)
  }

  def finalChecks(): Seq[String] = {
    // the window may have closed between a commit and its refresh
    SecondaryIndex.refresh(spark, idx)
    MaterializedRollup.refresh(spark, roll)
    val want = expectedFrame(model, n0, "0L", Gen.cdcSql)
    Seq(
      compareFingerprint("cdc table", t.scan(), want, Gen.cdcSql.map(_._1)),
      compareFingerprint("v index", idx.scan(), want, Seq("v", "grp", "id")),
      compareFingerprint("grp rollup", roll.scan(),
        want.groupBy("grp").agg(count(lit(1)).as("n"), sum("x").as("sx")),
        Seq("grp", "n", "sx"))).flatten
  }
}
