package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--spans <file>] [--cores <k>] [--smoke]
  * [--t1]`. Prints one `GRAFTBENCH_RESULT {json}` line; `crawlbench/run.py`
  * turns it into the benchmark's result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val hasValue = i + 1 < args.length && !args(i + 1).startsWith("--")
      opts(args(i).stripPrefix("--")) = if (hasValue) args(i + 1) else ""
      i += (if (hasValue) 2 else 1)
    }
    def flag(k: String) = opts.contains(k)
    val cores = opts.getOrElse("cores", "4").toInt
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = graft.GraftSession.builder(cores)
      .appName("graftbench")
      // keep every byte the run writes inside the work directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = opts.getOrElse("trace", "0") == "1"
    val ctx = new Ctx(spark, opts("workload"), opts("seed").toLong,
      opts.getOrElse("seconds", "10").toDouble, trace, cores, flag("smoke"), work,
      new Tracer(spark.sparkContext, trace, cores))
    try {
      if (flag("t1")) Workloads.frontierSingle(ctx)
      else ctx.workload match {
        case "crawl_steady" => Workloads.crawlSteady(ctx)
        case "deep_queue" => Workloads.deepQueue(ctx)
        case "frontier_round" => Workloads.frontierRound(ctx)
        case w => ctx.error(s"unknown workload $w")
      }
    } catch {
      case NonFatal(e) =>
        ctx.error(s"run aborted: $e")
        e.printStackTrace()
    } finally {
      ctx.log("workload finished")
      if (trace) opts.get("spans").foreach(p => ctx.tracer.writeSpans(Paths.get(p)))
      spark.stop()
      ctx.log("session stopped")
    }
    println("GRAFTBENCH_RESULT " + ctx.resultJson)
  }
}

/** Per-run state: inputs, counters of attempted and failed rounds, and the
  * metrics gathered so far.
  */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val cores: Int, val smoke: Boolean,
    val work: Path, val tracer: Tracer) {
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val failedRounds = mutable.Set[Long]()
  private val errors = mutable.ArrayBuffer[String]()
  var attempted = 0
  var digest = ""
  /** Wall seconds of every measured round, in order. */
  val roundWalls = mutable.ArrayBuffer[Double]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def has(name: String): Boolean = metrics.contains(name)

  private val born = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"graftbench [${(System.nanoTime() - born) / 1e9}%7.1f s] $msg")

  /** A round whose output failed a check, or that threw. */
  def failRound(round: Long, why: String): Unit = {
    failedRounds += round
    errors += s"round $round: $why"
    System.err.println(s"CHECK FAILED round $round: $why")
  }

  def check(round: Long, ok: Boolean, why: => String): Unit = if (!ok) failRound(round, why)

  def error(why: String): Unit = {
    errors += why
    System.err.println(s"ERROR $why")
  }

  def failed: Int = failedRounds.size

  def resultJson: String = {
    put("failed_frac", if (attempted > 0) failed.toDouble / attempted else 1.0, "ratio")
    Json.obj(
      "correct" -> (errors.isEmpty && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "digest" -> digest,
      "rounds" -> roundWalls.toSeq,
      "errors" -> errors.toSeq,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
  }

  /** Heap still in use after a full collection, in MB. Called only between
    * timed regions; the largest value a run sees is `peak_heap_mb`.
    */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def dir(name: String): String = work.resolve(name).toString
}
