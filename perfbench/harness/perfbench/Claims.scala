package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.core.{JsonFactory, JsonProcessingException, JsonToken}
import graft.claims.{ClaimPipeline, Eligibility, Normalize, PipelineConfig, PipelineResult, Sinks}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_if, hash, lit, sum}
import org.json4s._

/** One timed `ClaimPipeline.run` call and where it wrote its outputs. */
private final case class Timed(batch: String, secs: Double,
    result: Try[PipelineResult], out: String, metricsOut: String)

/** Closed loop of `ClaimPipeline.run` calls over the plan's batches, one
  * client, in whole passes after `warmup` untimed calls. Untraced, each call is one timed operation. Traced, each
  * iteration makes one untraced call (the overhead reference), one traced
  * call, and then the layer calls one by one — `Normalize.readAlpha` /
  * `readBeta`, `Eligibility.withDerived` and `Sinks.writeCandidatesPretty`
  * — each in its own span.
  */
final class Claims(spark: SparkSession, plan: JValue, tracer: Tracer) {
  private implicit val formats: Formats = DefaultFormats
  private val seconds = (plan \ "seconds").extract[Double]
  private val minOps = (plan \ "min_ops").extract[Int]
  private val warmup = (plan \ "warmup").extract[Int]
  private val scratch = (plan \ "scratch").extract[String]
  private val inputs = (plan \ "inputs").extract[String]
  private val batches: Seq[(String, Seq[String])] = (plan \ "batches").children.map { b =>
    (b \ "id").extract[String] ->
      (b \ "files").extract[Seq[String]].map(f => Paths.get(inputs, f).toString)
  }
  private val config = PipelineConfig()

  private def timedRun(batch: (String, Seq[String])): Timed = {
    val out = Paths.get(scratch, "candidates.json").toString
    val metricsOut = Paths.get(scratch, "pipeline_metrics.log").toString
    val t0 = System.nanoTime()
    val r = Try(ClaimPipeline.run(spark, batch._2, config, out, metricsOut))
    Timed(batch._1, (System.nanoTime() - t0) / 1e9, r, out, metricsOut)
  }

  /** The operation's record: timing plus everything run.py checks. */
  private def record(t: Timed, kind: String): JObject = {
    val base = List[JField]("batch" -> JString(t.batch), "kind" -> JString(kind),
      "secs" -> JDouble(t.secs))
    val fields = t.result match {
      case Failure(e) => List[JField]("error" -> JString(e.toString))
      case Success(r) =>
        val m = r.metrics
        def longs(kv: Map[String, Long]) =
          JObject(kv.toList.map { case (k, v) => k -> JInt(v) })
        List[JField](
          "metrics" -> JObject(
            "total_processed" -> JInt(m.totalProcessed),
            "by_source" -> longs(m.bySource),
            "flagged" -> JInt(m.flaggedForResubmission),
            "excluded" -> longs(m.excludedByReason)),
          "metrics_log" -> JString(new String(
            Files.readAllBytes(Paths.get(t.metricsOut)), StandardCharsets.UTF_8)),
          "candidates" -> Claims.scanCandidates(new File(t.out)))
    }
    Files.deleteIfExists(Paths.get(t.out))
    Files.deleteIfExists(Paths.get(t.metricsOut))
    JObject(base ++ fields)
  }

  /** Each layer's public entry point, called on its own and forced by an
    * aggregate over a hash of every output column, so no projection of the
    * layer is pruned away.
    */
  private def layers(files: Seq[String], run: String): Unit = {
    val normalized = files.map { f =>
      tracer.span("claims.normalize", run) {
        val df =
          if (f.endsWith(".csv")) Normalize.readAlpha(spark, f)
          else Normalize.readBeta(spark, f)
        tracer.attr("rows", df.agg(count(lit(1)), Claims.hashAll(df)).head().getLong(0).toDouble)
        df
      }
    }
    val claims = normalized.reduce(_.unionByName(_)).persist()
    tracer.span("claims.cache", run) { claims.count() }
    tracer.span("claims.eligibility", run) {
      val derived = Eligibility.withDerived(claims, config)
      val r = derived.agg(count_if(col("eligible")), count(lit(1)), Claims.hashAll(derived)).head()
      tracer.attr("flagged", r.getLong(0).toDouble)
      tracer.attr("processed", r.getLong(1).toDouble)
    }
    val candidates = Eligibility.candidates(claims, config).persist()
    tracer.span("claims.candidates", run) { candidates.count() }
    val out = Paths.get(scratch, "layer_candidates.json")
    tracer.span("claims.sinks", run) {
      val rows = Sinks.writeCandidatesPretty(candidates, out.toString)
      tracer.attr("rows", rows.size.toDouble)
      tracer.attr("bytes", Files.size(out).toDouble)
    }
    Files.deleteIfExists(out)
    candidates.unpersist(blocking = true)
    claims.unpersist(blocking = true)
  }

  def run(): List[JField] = {
    val ops = ArrayBuffer.empty[JObject]
    (0 until warmup).foreach(i => ops += record(timedRun(batches(i % batches.size)), "warmup"))
    var measured = 0.0
    var i = 0
    // Whole passes over the batches, so every run times the same mix.
    while (measured < seconds || i < minOps || i % batches.size != 0) {
      val batch = batches(i % batches.size)
      if (!tracer.enabled) {
        val t = timedRun(batch)
        ops += record(t, "timed")
        measured += t.secs
      } else {
        // Alternate which of the pair runs first, so neither is always
        // the warmer second call.
        def untraced(): Unit = {
          val u = timedRun(batch)
          ops += record(u, "untraced")
          measured += u.secs
        }
        if (i % 2 == 0) untraced()
        val run = s"${batch._1}#$i"
        tracer.attach()
        val t = tracer.span("claims.batch", run) {
          val t = tracer.span("claims.pipeline", run) { timedRun(batch) }
          layers(batch._2, run)
          t
        }
        tracer.detach()
        ops += record(t, "traced")
        measured += t.secs
        if (i % 2 == 1) untraced()
      }
      i += 1
    }
    List("ops" -> JArray(ops.toList))
  }
}

object Claims {
  /** Sum of a hash over all of `df`'s columns. */
  def hashAll(df: DataFrame): Column = sum(hash(df.columns.toSeq.map(df(_)): _*))

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Stream-parse a candidates file: is it one JSON array of objects, how
    * many, and the SHA-256 of its claim_id sequence (one id per line, a
    * null id as NUL) — the same digest gen_claims.py computes.
    */
  def scanCandidates(file: File): JObject = {
    val p = new JsonFactory().createParser(file)
    try {
      if (p.nextToken() != JsonToken.START_ARRAY) return JObject("array" -> JBool(false))
      val md = MessageDigest.getInstance("SHA-256")
      var n = 0L
      var tok = p.nextToken()
      while (tok == JsonToken.START_OBJECT) {
        var id: String = null
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName()
          val v = p.nextToken()
          if (name == "claim_id" && v != JsonToken.VALUE_NULL) id = p.getText
          else p.skipChildren()
        }
        md.update(((if (id == null) "\u0000" else id) + "\n").getBytes(StandardCharsets.UTF_8))
        n += 1
        tok = p.nextToken()
      }
      val closed = tok == JsonToken.END_ARRAY && p.nextToken() == null
      JObject("array" -> JBool(closed), "count" -> JInt(n),
        "id_sha256" -> JString(hex(md.digest())))
    } catch {
      case e: JsonProcessingException =>
        JObject("array" -> JBool(false), "error" -> JString(e.getOriginalMessage))
    } finally p.close()
  }
}
