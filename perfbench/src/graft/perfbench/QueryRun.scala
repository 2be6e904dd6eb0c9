package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** The query workloads (`query_floor`, `query_heavy`): registered
  * queries, each built, planned, run and checked against the DuckDB
  * oracle's result, one after another.
  *
  * Set-up builds the events topic and every materialized index so no
  * query pays for them, then runs one untimed warm-up pass. The timed
  * loop repeats whole passes over the query list (in the seed's order)
  * until the run's seconds are up, so every query is sampled equally
  * often. A traced run makes one pass instead and runs each query twice,
  * untraced and traced in alternating order: the traced execution gives
  * the per-layer split, the pair gives the tracing overhead.
  */
object QueryRun {

  /** one query execution: seconds per phase, the traced phases' counter
    * deltas, and the check verdict
    */
  final case class Exec(constructS: Double, planS: Double, executeS: Double, totalS: Double,
      error: Option[String], cachedRdds: Int, phases: Map[String, Trace.Snap])

  /** runs query `name` once; with `trace`, each phase is a span of
    * operation `op`
    */
  private def exec(spark: SparkSession, name: String, dir: String, exp: Check.Expected,
      plantWrong: Boolean, trace: Option[Trace], op: String): Exec = {
    val fn = SparkEntry.queries(name)
    val phases = Map.newBuilder[String, Trace.Snap]
    def phase[A](k: String)(body: => A): A = trace match {
      case Some(t) => val (r, _, d) = t.span(op, k)(body); phases += k -> d; r
      case None => body
    }
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    var cached = 0
    val error =
      try {
        val df: DataFrame = phase("construct")(fn(spark, dir))
        t1 = System.nanoTime()
        phase("plan")(df.queryExecution.executedPlan)
        t2 = System.nanoTime()
        val rows: Array[Row] = phase("execute")(df.collect())
        t3 = System.nanoTime()
        val checked = if (plantWrong) rows.drop(1) else rows
        Check.verify(df.columns.toSeq, checked, exp)
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally {
        cached = spark.sparkContext.getPersistentRDDs.size
        spark.catalog.clearCache()
      }
    val t4 = System.nanoTime()
    Exec((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t4 - t0) / 1e9,
      error.map(e => s"$name: ${e.take(300)}"), cached, phases.result())
  }

  def run(spark: SparkSession, a: Main.Args, trace: Option[Trace], res: Main.Result): Unit = {
    val dir = a.data
    val expected = Check.load(a.expected)
    val names = a.queries
    require(names.nonEmpty, "no queries")
    names.foreach(n => require(SparkEntry.queries.contains(n) && expected.contains(n), s"unknown query $n"))

    // ---- set-up. Queries build the events topic and the indexes they
    // read on first use, inside the warm-up pass. A traced run builds all
    // of them up front instead, one by one, to time each build.
    trace.foreach { t =>
      val builds = Seq[(String, () => Unit)](
        "rawdata.events_topic_build_s" -> (() => graft.rawdata.EventsAsTopic.topicDir(spark, dir): Unit),
        "index.build_s.lsh" -> { () =>
          graft.queries.CorpusLshIndex.ensure(spark, dir)
          graft.queries.CorpusLshIndex.embedPairs(spark, dir).count(): Unit
        },
        "index.build_s.token" -> (() => graft.queries.CorpusTokenIndex.ensure(spark, dir)),
        "index.build_s.graph" -> (() => graft.queries.CoPurchaseGraph.ensure(spark, dir)),
        "index.build_s.ivf" -> (() => graft.queries.EmbIvfIndex.ensure(spark, dir)),
        "index.build_s.bpe" -> (() => graft.queries.CurationQueries.merges(spark, dir).count(): Unit))
      var jobs = 0L
      builds.foreach { case (k, f) =>
        val (_, sec, d) = t.span("setup", k)(f())
        res.metrics(k) = sec
        jobs += d.jobs
      }
      res.metrics("index.build_jobs") = jobs.toDouble
      Main.log("set-up builds " + builds.map(b => f"${b._1}=${res.metrics(b._1)}%.2f").mkString(" "))
      spark.catalog.clearCache()
    }

    // untimed warm-up pass (JIT and codegen caches), results checked
    names.foreach { n =>
      val e = exec(spark, n, dir, expected(n), plantWrong = false, None, n)
      e.error.foreach(msg => res.fail("warm-up " + msg))
    }
    res.setupEndMs = System.currentTimeMillis()
    Main.log("warm-up pass done")

    if (trace.isEmpty) measure(spark, a, names, expected, res)
    else traced(spark, a, names, expected, trace.get, res)
  }

  private def measure(spark: SparkSession, a: Main.Args, names: Seq[String],
      expected: Map[String, Check.Expected], res: Main.Result): Unit = {
    val lat = Seq.newBuilder[Double]
    var done = 0L
    val start = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - start) / 1e9 < a.seconds) {
      names.foreach { n =>
        val e = exec(spark, n, a.data, expected(n), a.plantWrong.contains(n), None, n)
        res.attempted += 1
        e.error match {
          case Some(msg) => res.fail(msg)
          case None => lat += e.totalS; done += 1
        }
      }
      passes += 1
    }
    val wall = (System.nanoTime() - start) / 1e9
    val l = lat.result()
    if (l.nonEmpty) {
      res.metrics("op_ms_p50") = Stats.quantile(l, 0.5) * 1e3
    }
    res.metrics("ops_per_min") = done / wall * 60.0
  }

  private def traced(spark: SparkSession, a: Main.Args, names: Seq[String],
      expected: Map[String, Check.Expected], t: Trace, res: Main.Result): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    val s = new Samples
    val ratios = Seq.newBuilder[Double]
    names.zipWithIndex.foreach { case (n, i) =>
      def plain() = exec(spark, n, a.data, expected(n), false, None, n)
      def spanned() = exec(spark, n, a.data, expected(n), a.plantWrong.contains(n), Some(t), n)
      val (u, tr) = if (i % 2 == 0) { val u = plain(); (u, spanned()) } else { val tr = spanned(); (plain(), tr) }
      res.attempted += 2
      u.error.foreach(res.fail)
      tr.error.foreach(res.fail)
      if (u.error.isEmpty && tr.error.isEmpty) {
        ratios += tr.totalS / u.totalS
        val construct = tr.phases("construct")
        val ex = tr.phases("execute")
        s.add("queries.construct_s", tr.constructS)
        s.add("queries.construct_jobs", construct.jobs.toDouble)
        s.add("spark.plan_s", tr.planS)
        s.add("spark.execute_s", tr.executeS)
        s.add("spark.jobs", ex.jobs.toDouble)
        s.add("spark.stages", ex.stages.toDouble)
        s.add("spark.tasks", ex.tasks.toDouble)
        s.add("spark.task_wait_s", ex.waitS)
        s.add("spark.failed_tasks", ex.failedTasks.toDouble)
        s.add("spark.executor_run_s", ex.runS)
        s.add("spark.executor_cpu_s", ex.cpuS)
        s.add("spark.busy_frac", ex.runS / math.max(1e-9, tr.executeS * cores))
        s.add("spark.gc_s", ex.gcS)
        s.add("spark.shuffle_read_bytes", ex.shuffleRead.toDouble)
        s.add("spark.shuffle_write_bytes", ex.shuffleWrite.toDouble)
        s.add("spark.spill_bytes", ex.spill.toDouble)
        s.add("queries.cached_rdds_after", tr.cachedRdds.toDouble)
      }
    }
    // per-query means, so the counts sum to the pass's totals / n
    s.names.foreach(k => res.metrics(k) = Stats.mean(s.get(k)))
    val r = ratios.result()
    if (r.nonEmpty) res.metrics("trace.overhead_frac") = Stats.median(r) - 1.0
  }
}
