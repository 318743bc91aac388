package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._

/** Closed loop over a fixed list of `SparkEntry.queries`, one client, in
  * whole passes whose orders run.py permutes from the seed. An operation
  * is one query execution: the query function's call until `collect()`
  * returns, so every projected column, aggregate, window and sort of the
  * plan is evaluated. Each execution's rows are then fingerprinted outside
  * the timed span, and run.py checks the count and fingerprint of every
  * one. The first `warmup` passes are untimed: the JIT is still speeding
  * the query paths up over the first few executions of each query.
  */
final class Analytics(spark: SparkSession, plan: JValue, tracer: Tracer) {
  private implicit val formats: Formats = DefaultFormats
  private val data = (plan \ "data").extract[String]
  private val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  /** Seconds of the call until `collect()` returns, and the rows. */
  private def execute(q: String): (Double, Try[Array[Row]]) = {
    val t0 = System.nanoTime()
    val rows = Try(queries(q)(spark, data).collect())
    val secs = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    (secs, rows)
  }

  private def opRecord(q: String, kind: String, secs: Double, rows: Try[Array[Row]],
      extra: List[JField] = Nil): JObject =
    JObject(List[JField]("query" -> JString(q), "kind" -> JString(kind),
      "secs" -> JDouble(secs)) ++ (rows match {
      case Success(r) =>
        List[JField]("count" -> JInt(r.length), "fp" -> JString(Analytics.fingerprint(r)))
      case Failure(e) => List[JField]("error" -> JString(e.toString))
    }) ++ extra)

  /** Size and mtime of every file under the scratch temp dir, where the
    * FixedWidth queries write their tables.
    */
  private def tmpFiles(): Map[Path, (Long, Long)] = {
    val walk = Files.walk(tmp)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    catch { case _: java.io.IOException => Map.empty }
    finally walk.close()
  }

  def run(): List[JField] = {
    val seconds = (plan \ "seconds").extract[Double]
    val minOps = (plan \ "min_ops").extract[Int]
    val orders = (plan \ "orders").extract[Seq[Seq[String]]]
    val warmup = (plan \ "warmup").extract[Int]
    val ops = ArrayBuffer.empty[JObject]
    (0 until warmup).foreach { pass =>
      orders(pass % orders.size).foreach { q =>
        val (secs, rows) = execute(q)
        ops += opRecord(q, "warmup", secs, rows)
      }
    }
    val warm = ops.size
    var measured = 0.0
    var pass = warmup
    while (measured < seconds || ops.size - warm < minOps) {
      orders(pass % orders.size).foreach { q =>
        if (!tracer.enabled) {
          val (secs, rows) = execute(q)
          ops += opRecord(q, "timed", secs, rows)
          measured += secs
        } else {
          // Alternate which of the pair runs first, so neither is always
          // the warmer second execution.
          def untraced(): Unit = {
            val (secs, rows) = execute(q)
            ops += opRecord(q, "untraced", secs, rows)
            measured += secs
          }
          val untracedFirst = (ops.size - warm) / 2 % 2 == 0
          if (untracedFirst) untraced()
          val before = tmpFiles()
          tracer.attach()
          val (secs, rows) = tracer.span("query", s"$q#$pass") { execute(q) }
          tracer.detach()
          val written = tmpFiles().collect {
            case (p, st) if !before.get(p).contains(st) => st._1
          }.sum
          ops += opRecord(q, "traced", secs, rows, List("bytes_written" -> JInt(written)))
          measured += secs
          if (!untracedFirst) untraced()
        }
      }
      pass += 1
    }
    List("ops" -> JArray(ops.toList))
  }

  /** Collect and fingerprint each listed query `repeats` times. */
  def goldens(): List[JField] = {
    val repeats = (plan \ "repeats").extract[Int]
    val names = (plan \ "queries").extract[Seq[String]]
    List("goldens" -> JObject(names.toList.map { q =>
      q -> JArray(List.fill(repeats) {
        val (secs, rows) = execute(q)
        opRecord(q, "golden", secs, rows)
      })
    }))
  }
}

object Analytics {

  /** Canonical text of one value: floating point to 9 significant digits
    * (summation order may move the last bits between runs), decimals
    * without trailing zeros, collections element-wise, maps sorted.
    */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else String.format(Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive fingerprint: the wrapping sum of each row's 64-bit
    * SHA-256 prefix, in hex.
    */
  def fingerprint(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(canon(r).getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"$sum%016x"
  }
}
