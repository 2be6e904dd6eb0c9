package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM half of the benchmark (`run.py` is the other half).
  *
  * `run.py` generates the inputs and the oracle results, then starts this
  * main with one workload. It sets up, measures for the given seconds in
  * a closed loop with one client thread, and writes one JSON object to
  * `--out`: attempted/failed operation counts, the first failure
  * messages, and either the end-to-end metrics (`--trace 0`) or the
  * per-layer metrics (`--trace 1`).
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, expected: String, queries: Seq[String],
      out: String, spans: Option[String], plantWrong: Option[String])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      workload = m("workload"), seed = m("seed").toLong, seconds = m("seconds").toDouble,
      trace = m("trace") == "1", work = m("work"), data = m.getOrElse("data", ""),
      expected = m.getOrElse("expected", ""),
      queries = m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      out = m("out"), spans = m.get("spans"), plantWrong = m.get("plant-wrong"))
  }

  /** what a workload hands back */
  final class Result {
    var attempted = 0L
    var failed = 0L
    /** wall-clock ms when set-up ended and the first timed operation began */
    var setupEndMs = 0L
    val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
    val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    def fail(what: String): Unit = {
      failed += 1
      if (errors.size < 50) errors += what
    }
  }

  private val started = System.nanoTime()

  /** a progress line in the harness log */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%8.2f s] $msg")

  /** wall seconds of `body` */
  def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e9)
  }

  def session(a: Args, cores: Int): SparkSession = {
    val local = new File(a.work, "spark-local"); local.mkdirs()
    val b = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(a.work, "tmp").getAbsolutePath)
      // object-store-shaped listing for fakegs:// topics: 1000-object
      // LIST pages at 10 ms per page
      .config("spark.hadoop.fs.fakegs.impl", classOf[graft.rawdata.FakeGsFileSystem].getName)
      .config("spark.hadoop.fs.fakegs.impl.disable.cache", "true")
      .config("spark.hadoop.fs.fakegs.auth.token", graft.rawdata.FakeGsFileSystem.ExpectedToken)
      .config("spark.hadoop.fs.fakegs.list.page.size", "1000")
      .config("spark.hadoop.fs.fakegs.list.page.latency.ms", "10"))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** the fixed-work host-speed probe of graft.Bench (hash-sum over a
    * constant range)
    */
  def noiseProbeSec(spark: SparkSession, cores: Int): Double = {
    import org.apache.spark.sql.functions._
    timed(spark.range(0L, 400000000L, 1L, cores)
      .select(sum(pmod(xxhash64(col("id")), lit(1024L)))).head())._2
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val res = new Result
    val spark = session(a, cores)
    log("session started")
    val trace = if (a.trace) Some(new Trace(spark.sparkContext)) else None
    try {
      trace.foreach(spark.sparkContext.addSparkListener)
      val noise0 = if (a.trace) noiseProbeSec(spark, cores) else 0.0
      a.workload match {
        case "topic_log" => TopicLog.run(spark, a, trace, res)
        case "query_floor" => QueryRun.run(spark, a, trace, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (a.trace) {
        val noise1 = noiseProbeSec(spark, cores)
        res.metrics("host.noise_probe_s") = math.max(noise0, noise1)
        res.metrics("host.peak_rss_mb") = peakRssMb()
        a.spans.foreach(p => trace.get.writeSpans(p))
      }
    } finally spark.stop()
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val metrics = res.metrics.map { case (k, v) =>
      js(k) + ":" + (if (v.isNaN || v.isInfinite) "null" else v.toString)
    }.mkString("{", ",", "}")
    val json = s"""{"attempted":${res.attempted},"failed":${res.failed},""" +
      s""""setup_end_ms":${res.setupEndMs},"errors":${res.errors.map(js).mkString("[", ",", "]")},""" +
      s""""metrics":$metrics}"""
    Files.write(new File(a.out).toPath, json.getBytes(UTF_8))
  }
}
