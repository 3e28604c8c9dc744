package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Row values are a pure function of `(key, write-salt)`. Each formula
  * exists twice: as Scala (the model the benchmark checks answers against)
  * and as SQL over columns `id` and `s` (bulk generation and the
  * plain-Spark recomputation behind the final fingerprints). All
  * arithmetic stays far inside BIGINT, so ANSI mode never overflows. */
object Gen {

  // ---------------------------------------------------------------- lineitem-like rows
  // (oltp_mix, scan_mor): PK id, 6 value columns; the 64-hex-digit comment
  // keeps the bytes per row near lineitem's

  private val Flags = Array("A", "N", "R")

  def comment(k: Long, s: Int): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$k:$s".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }
  def qty(k: Long, s: Int): Int = (Math.floorMod(k * 7919L + s * 104729L, 50L) + 1).toInt
  def price(k: Long, s: Int): Long = Math.floorMod(k * 31337L + s * 7001L, 1000000L) + 100L
  def disc(k: Long, s: Int): Int = Math.floorMod(k * 13L + s * 3L, 11L).toInt
  def flag(k: Long, s: Int): String = Flags(Math.floorMod(k * 3L + s, 3L).toInt)
  def ship(k: Long, s: Int): Int = Math.floorMod(k * 101L + s * 17L, 2557L).toInt

  def lineValues(k: Long, s: Int): Seq[Any] =
    Seq[Any](k, qty(k, s), price(k, s), disc(k, s), flag(k, s), ship(k, s), comment(k, s))

  val lineSql: Seq[(String, String)] = Seq(
    "id" -> "id",
    "qty" -> "CAST(pmod(id * 7919 + s * 104729, 50) + 1 AS INT)",
    "price" -> "pmod(id * 31337 + s * 7001, 1000000) + 100",
    "disc" -> "CAST(pmod(id * 13 + s * 3, 11) AS INT)",
    "flag" -> "CASE pmod(id * 3 + s, 3) WHEN 0 THEN 'A' WHEN 1 THEN 'N' ELSE 'R' END",
    "ship" -> "CAST(pmod(id * 101 + s * 17, 2557) AS INT)",
    "comment" -> "sha2(concat(CAST(id AS STRING), ':', CAST(s AS STRING)), 256)")

  /** Logical bytes of one submitted row (fixed widths, 1-byte flag). */
  val lineRowBytes: Long = 8 + 4 + 8 + 4 + 1 + 4 + 64

  // ---------------------------------------------------------------- cdc rows
  // (cdc_serve): PK (grp, id), x summed by the rollup, v unique per
  // (key, salt) and indexed

  val Groups = 1024L

  def grp(k: Long): Long = Math.floorMod(k * 40503L, Groups)
  def x(k: Long, s: Int): Long = Math.floorMod(k * 31337L + s * 7001L, 1000000L)
  def v(k: Long, s: Int): Long = k * 65536L + s
  def tag(k: Long, s: Int): Int = Math.floorMod(k * 13L + s * 7L, 97L).toInt

  def cdcValues(k: Long, s: Int): Seq[Any] = Seq[Any](grp(k), k, x(k, s), v(k, s), tag(k, s))

  val cdcSql: Seq[(String, String)] = Seq(
    "grp" -> s"pmod(id * 40503, $Groups)",
    "id" -> "id",
    "x" -> "pmod(id * 31337 + s * 7001, 1000000)",
    "v" -> "id * 65536 + s",
    "tag" -> "CAST(pmod(id * 13 + s * 7, 97) AS INT)")

  val cdcRowBytes: Long = 8 + 8 + 8 + 8 + 4

  /** Rows of `cols` for a frame holding `id` and `s` (BIGINT). */
  def project(df: DataFrame, cols: Seq[(String, String)]): DataFrame =
    df.selectExpr(cols.map { case (n, e) => s"$e AS $n" }: _*)

  /** A driver-side batch as a LocalRelation (exact size statistics). */
  def batch(spark: SparkSession, schema: StructType, rows: Seq[Seq[Any]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(r => Row.fromSeq(r)).asJava, schema)
  }
}

/** SplitMix64 finaliser: scatters ranks over the key space. */
object Mix {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Scrambled Zipfian over [0, n) (Gray et al., as in YCSB): rank r is drawn
  * with probability ∝ 1/(r+1)^theta, then hashed to a key so the hot keys
  * spread over every hash bucket. */
final class Zipf(n: Long, rnd: java.util.SplittableRandom, salt: Long,
    theta: Double = 0.99) {
  private def zeta(m: Long): Double = {
    var s = 0.0
    var i = 1L
    while (i <= m) { s += 1.0 / math.pow(i.toDouble, theta); i += 1 }
    s
  }
  private val zetan = zeta(n)
  private val alpha = 1.0 / (1.0 - theta)
  private val eta = (1 - math.pow(2.0 / n, 1 - theta)) / (1 - zeta(2) / zetan)

  private def rank(): Long = {
    val u = rnd.nextDouble()
    val uz = u * zetan
    if (uz < 1.0) 0L
    else if (uz < 1.0 + math.pow(0.5, theta)) 1L
    else math.min(n - 1, (n * math.pow(eta * u - eta + 1, alpha)).toLong)
  }

  def next(): Long = Math.floorMod(Mix.mix64(rank() ^ salt), n)

  /** `count` distinct keys accepted by `ok` (one write batch). */
  def distinct(count: Int, ok: Long => Boolean): Seq[Long] =
    Iterator.continually(next()).filter(ok).distinct.take(count).toSeq
}
