package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Benchmark JVM entry point.
  *
  * Usage: Harness PLAN.json RESULT.json
  *
  * The plan (written by run.py) names the mode — `setup`, `claims`,
  * `analytics` or `goldens` — and its inputs. The harness starts a
  * SparkSession, runs one tiny job, prints `READY` (the launcher's set-up
  * clock stops there), runs the mode, and writes the raw samples to
  * RESULT.json once at the end. All statistics and output checks against
  * expectations happen in run.py.
  */
object Harness {

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Harness PLAN.json RESULT.json")
    implicit val formats: Formats = DefaultFormats
    val plan = parse(new String(Files.readAllBytes(Paths.get(args(0))),
      StandardCharsets.UTF_8))
    val mode = (plan \ "mode").extract[String]
    val spark = session((plan \ "cores").extract[Int], (plan \ "work").extract[String])
    println("READY")
    System.out.flush()

    val tracer = new Tracer(spark, (plan \ "trace").extractOrElse[Int](0) == 1)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val body: List[JField] = mode match {
      case "setup" => Nil
      case "claims" => new Claims(spark, plan, tracer).run()
      case "analytics" => new Analytics(spark, plan, tracer).run()
      case "goldens" => new Analytics(spark, plan, tracer).goldens()
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val result = JObject(List[JField](
      "mode" -> JString(mode),
      "heap_peak_mb" -> JDouble(heapPeakMb),
      "spans" -> tracer.spans,
    ) ++ body)
    Files.write(Paths.get(args(1)),
      compact(render(result)).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
