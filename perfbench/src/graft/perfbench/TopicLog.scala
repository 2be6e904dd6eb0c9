package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.rawdata.{GraftRawdataClient, RawdataMessage, TopicConfig}

/** The `topic_log` workload: the reference client's own traffic against
  * a topic on the fakegs object-store scheme (1000-object LIST pages,
  * 10 ms per page).
  *
  * The traffic's shape comes from fixtures already in the engine: files
  * are one-minute windows of 100 messages, the shape of graft.Bench's
  * listing probe (`<ts>_100_..._p.avro` files 60 s apart), and a message
  * is shaped like `EventsAsTopic`'s (an event type as ordering group, a
  * `props` JSON object `{"k": n}` and a user id as data), the topic the
  * rd_* queries read. A tail step publishes one such file's worth.
  *
  * Set-up backfills the topic through `Producer.publish(df)` with one
  * file per minute over more minutes than a LIST page holds, reads it
  * back once in ULID order through `Consumer.messages`, and drains it
  * through the tail consumer. The timed loop then repeats one step: a
  * small batch goes through `buffer` + `publish(positions)`, `receive`
  * returns it and `commitCursor` records it (the delivery time), then
  * one lookup from a seeded rotation of `lastMessage`, `cursorOf` and
  * `seek`, and the committed cursor is read back. Every answer is
  * checked against the generator's own record of what was published.
  */
object TopicLog {

  val Topic = "log"
  val Group = "bench"
  val WindowMs = 60000L
  val Windows = 1001          // > one 1000-object LIST page of files
  val PerWindow = 100         // messages per one-minute file
  val Chunks = 2              // backfill publishes
  val Batch = PerWindow       // messages per tail step: one file
  val WarmSteps = 2           // untimed steps that settle the JIT
  val MinSteps = 10
  val T0 = 1704067200000L     // 2024-01-01T00:00:00Z

  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  val Users = 150             // the sf0.01 corpus's user count

  final class Msg(val id: Array[Byte], val hex: String, val tsMs: Long, val position: String,
      val seq: Long, val file: Int, val group: String, val data: Map[String, Array[Byte]]) {
    def raw: RawdataMessage = RawdataMessage(id, Some(group), seq, position, data)
    def sameAs(m: RawdataMessage): Boolean =
      java.util.Arrays.equals(id, m.id) && position == m.position && m.sequenceNumber == seq &&
        m.orderingGroup.contains(group) && m.data.size == data.size &&
        data.forall { case (k, v) => m.data.get(k).exists(java.util.Arrays.equals(_, v)) }
  }

  private def hexOf(b: Array[Byte]): String = {
    val digits = "0123456789abcdef"
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach { x => sb.append(digits.charAt((x >> 4) & 0xf)).append(digits.charAt(x & 0xf)) }
    sb.toString
  }

  /** seeded messages at the given timestamps, sorted by ULID */
  private def messages(rnd: SplittableRandom, ts: Seq[Long], firstSeq: Long, file: Int => Int): IndexedSeq[Msg] = {
    val ids = ts.map { t =>
      val id = new Array[Byte](16)
      var i = 0
      while (i < 6) { id(i) = ((t >>> (8 * (5 - i))) & 0xff).toByte; i += 1 }
      val ent = new Array[Byte](10)
      rnd.nextBytes(ent)
      System.arraycopy(ent, 0, id, 6, 10)
      (t, id, hexOf(id))
    }.sortBy(_._3)
    ids.zipWithIndex.map { case ((t, id, hex), i) =>
      val seq = firstSeq + i
      val data = Map(
        "props" -> s"""{"k": ${rnd.nextInt(100)}}""".getBytes(UTF_8),
        "user" -> rnd.nextInt(Users).toString.getBytes(UTF_8))
      new Msg(id, hex, t, f"pos-$seq%08d", seq, file(i), EventTypes(rnd.nextInt(EventTypes.size)), data)
    }.toIndexedSeq
  }

  def run(spark: SparkSession, a: Main.Args, trace: Option[Trace], res: Main.Result): Unit = {
    import spark.implicits._
    val rnd = new SplittableRandom(a.seed)
    val topicRoot = new File(a.work, "topics")
    topicRoot.mkdirs()
    val client = new GraftRawdataClient(spark, "fakegs://bench" + topicRoot.getAbsolutePath)
    val cfg = TopicConfig(maxWindowMs = WindowMs)
    val producer = client.producer(Topic, cfg)
    def span[A](op: String, name: String)(body: => A): (A, Double, Trace.Snap) = trace match {
      case Some(t) => t.span(op, name)(body)
      case None =>
        val (r, sec) = Main.timed(body)
        (r, sec, Trace.Zero)
    }

    // ---- backfill: Windows files of PerWindow messages each
    val backfill = messages(rnd,
      (0 until Windows).flatMap { w =>
        Seq.fill(PerWindow)(T0 + w * WindowMs + rnd.nextLong(WindowMs)).sorted
      }, 0L, i => i / PerWindow)
    val all = mutable.ArrayBuffer.empty[Msg] ++= backfill
    Main.log("backfill generated")
    var publishS = 0.0
    val perChunk = backfill.size / Chunks
    val pubTrace = mutable.ArrayBuffer.empty[Trace.Snap]
    (0 until Chunks).foreach { c =>
      val df = spark.createDataset(backfill.slice(c * perChunk, (c + 1) * perChunk).map(_.raw)).toDF()
      val (_, s, d) = span(s"backfill#$c", "publish")(producer.publish(df))
      publishS += s
      pubTrace += d
    }
    val topicDir = client.topicDir(Topic)
    val topicBytes = new File(topicRoot, Topic).listFiles().filter(_.getName.endsWith(".avro")).map(_.length).sum
    val payloadBytes = backfill.map(_.data.values.map(_.length.toLong).sum).sum

    Main.log(f"backfill published in $publishS%.2f s")
    // ---- one full ordered read
    val (scanned, scanS, scanTrace) = span("scan", "scan")(
      client.consumer(Topic).messages.toDF().select("id", "position").orderBy("id").collect())
    if (scanned.length != backfill.size ||
        !scanned.indices.forall(i => scanned(i).getString(1) == backfill(i).position))
      res.fail(s"scan returned ${scanned.length} messages out of order or wrong, expected ${backfill.size}")

    Main.log(f"scanned in $scanS%.2f s")
    // ---- drain the backlog through the tail consumer
    val consumer = client.consumer(Topic, 100L, Long.MaxValue)
    val drained = mutable.ArrayBuffer.empty[RawdataMessage]
    val drainDeadline = System.nanoTime() + 60000000000L
    while (drained.size < backfill.size && System.nanoTime() < drainDeadline) drained ++= consumer.receive(5000)
    if (drained.size != backfill.size || !drained.indices.forall(i => backfill(i).sameAs(drained(i))))
      res.fail(s"backlog delivered ${drained.size} messages, not the ${backfill.size} published, once each in ULID order")

    Main.log("backlog drained")
    val lookups = client.consumer(Topic)
    val tailT0 = T0 + Windows * WindowMs
    var step = 0
    val rotation = mutable.Queue.empty[Int]

    final case class StepOut(deliverS: Double, kind: Int, lookupS: Double)
    val spans = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Trace.Snap)]]
    def note(k: String, s: Double, d: Trace.Snap): Unit = spans.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((s, d))
    var useful, opened = 0L

    /** one closed-loop step; spans are recorded when `traced` */
    def doStep(traced: Boolean): Option[StepOut] = {
      def timed[A](k: String)(body: => A): (A, Double) =
        if (traced) { val (r, s, d) = span(s"step#$step", k)(body); note(k, s, d); (r, s) }
        else Main.timed(body)
      // one minute window per step, like the backfill's
      val batch = messages(rnd,
        Seq.fill(Batch)(tailT0 + step * WindowMs + rnd.nextLong(WindowMs)).sorted, all.size.toLong,
        _ => Windows + step)
      all ++= batch
      step += 1
      val t0 = System.nanoTime()
      timed("publish") {
        producer.buffer(batch.map(_.raw): _*)
        producer.publish(batch.map(_.position): _*)
      }
      val got = mutable.ArrayBuffer.empty[RawdataMessage]
      val deadline = System.nanoTime() + 30000000000L
      timed("receive") {
        while (got.size < Batch && System.nanoTime() < deadline) got ++= consumer.receive(10000)
      }
      timed("commit")(client.commitCursor(Topic, Group, batch.last.hex))
      val deliverS = (System.nanoTime() - t0) / 1e9
      var ok = got.size == Batch && batch.indices.forall(i => batch(i).sameAs(got(i)))
      if (!ok) res.fail(s"step $step: receive returned ${got.size} messages, not the published batch")

      if (rotation.isEmpty) {
        val b = Array(0, 1, 2)
        for (i <- 2 to 1 by -1) { val j = rnd.nextInt(i + 1); val x = b(i); b(i) = b(j); b(j) = x }
        rotation ++= b
      }
      val kind = rotation.dequeue()
      val lookupS = kind match {
        case 0 =>
          val (m, s) = timed("last_message")(client.lastMessage(Topic))
          if (!m.exists(all.last.sameAs)) { res.fail(s"step $step: lastMessage is not the last published message"); ok = false }
          if (traced) useful += 1
          s
        case 1 =>
          val target = backfill(rnd.nextInt(backfill.size))
          val approx = target.tsMs + rnd.nextLong(40000L) - 20000L
          val (h, s) = timed("cursor_of")(client.cursorOf(Topic, target.position, approx, 30000L))
          if (!h.contains(target.hex)) { res.fail(s"step $step: cursorOf(${target.position}) = $h, expected ${target.hex}"); ok = false }
          if (traced) useful += 1
          s
        case _ =>
          // a recent timestamp: the first 100 rows after it lie in the
          // backfill's last two files; the tail's files follow
          val from = backfill.size - 150 + rnd.nextInt(50)
          val ts = backfill(from).tsMs
          val first = all.indexWhere(_.tsMs >= ts)
          val want = all.slice(first, first + 100)
          val (rows, s) = timed("seek")(lookups.seek(ts).select("ulid_hex").orderBy("ulid_hex").limit(100).collect())
          if (rows.map(_.getString(0)).toSeq != want.map(_.hex)) {
            res.fail(s"step $step: seek($ts) first page differs"); ok = false
          }
          if (traced) useful += want.map(_.file).distinct.size
          s
      }
      if (traced) opened += spans(Seq("last_message", "cursor_of", "seek")(kind)).last._2.opens
      val (c, _) = timed("get")(client.committedCursor(Topic, Group))
      if (!c.contains(batch.last.hex)) { res.fail(s"step $step: committedCursor = $c, expected ${batch.last.hex}"); ok = false }
      if (ok) Some(StepOut(deliverS, kind, lookupS)) else None
    }

    // untimed warm-up steps
    (0 until WarmSteps).foreach(_ => doStep(false): Unit)
    val setupFiles = graft.rawdata.Topic.listFiles(topicDir).size
    res.setupEndMs = System.currentTimeMillis()
    Main.log("warm-up steps done")

    val deliver = mutable.ArrayBuffer.empty[Double]
    val tracedDeliver = mutable.ArrayBuffer.empty[Double]
    val lookupLat = Array.fill(3)(mutable.ArrayBuffer.empty[Double])
    var done = 0L
    val start = System.nanoTime()
    var n = 0
    while (n < MinSteps || (System.nanoTime() - start) / 1e9 < a.seconds) {
      // a traced run alternates untraced and traced steps
      val traced = trace.isDefined && n % 2 == 1
      res.attempted += 1
      doStep(traced).foreach { o =>
        done += 1
        if (traced) tracedDeliver += o.deliverS
        else { deliver += o.deliverS; lookupLat(o.kind) += o.lookupS }
      }
      n += 1
    }
    val wall = (System.nanoTime() - start) / 1e9

    if (trace.isEmpty) {
      if (deliver.nonEmpty) {
        res.metrics("op_ms_p50") = Stats.quantile(deliver.toSeq, 0.5) * 1e3
      }
      res.metrics("ops_per_min") = done / wall * 60.0
    } else {
      val m = res.metrics
      m("rawdata.publish_msgs_per_s") = backfill.size / publishS
      m("rawdata.scan_msgs_per_s") = backfill.size / scanS
      m("rawdata.bytes_per_payload_byte") = topicBytes.toDouble / payloadBytes
      Seq("last_message", "cursor_of", "seek").zipWithIndex.foreach { case (k, i) =>
        if (lookupLat(i).nonEmpty) m(s"rawdata.${k}_ms_p50") = Stats.median(lookupLat(i).toSeq) * 1e3
      }
      def per(k: String)(f: Trace.Snap => Double): Double = {
        val xs = spans.getOrElse(k, mutable.ArrayBuffer.empty)
        if (xs.isEmpty) 0.0 else xs.map(x => f(x._2)).sum / xs.size
      }
      def meanS(k: String): Double = {
        val xs = spans.getOrElse(k, mutable.ArrayBuffer.empty)
        if (xs.isEmpty) 0.0 else xs.map(_._1).sum / xs.size
      }
      m("rawdata.publish_s") = meanS("publish")
      m("rawdata.creates_per_publish") = per("publish")(_.creates.toDouble)
      m("rawdata.jobs_per_publish") = per("publish")(_.jobs.toDouble)
      m("rawdata.backfill_jobs_per_publish") = pubTrace.map(_.jobs).sum.toDouble / pubTrace.size
      m("rawdata.receive_s") = meanS("receive")
      Seq("publish", "receive", "commit", "get", "last_message", "cursor_of", "seek").foreach { k =>
        m(s"rawdata.list_rpcs_per_op.$k") = per(k)(_.lists.toDouble)
        m(s"rawdata.list_pages_per_op.$k") = per(k)(_.listPages.toDouble)
      }
      Seq("receive", "last_message", "cursor_of", "seek").foreach { k =>
        m(s"rawdata.opens_per_op.$k") = per(k)(_.opens.toDouble)
      }
      m("rawdata.list_pages_per_op.scan") = scanTrace.listPages.toDouble
      m("rawdata.lookup_useful_ratio") = if (opened == 0) 0.0 else useful.toDouble / opened
      m("rawdata.scan_tasks") = scanTrace.tasks.toDouble
      m("rawdata.topic_files") = setupFiles.toDouble
      m("metadata.commit_ms") = meanS("commit") * 1e3
      m("metadata.get_ms") = meanS("get") * 1e3
      if (deliver.nonEmpty && tracedDeliver.nonEmpty)
        m("trace.overhead_frac") = Stats.median(tracedDeliver.toSeq) / Stats.median(deliver.toSeq) - 1.0
    }
    client.close()
  }
}
