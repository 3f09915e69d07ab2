package brokerbench

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.GraftEngine
import graft.model.StreamMessage
import graft.store.MessageStore
import graft.streaming.IngestPipeline

/** `live`: an open-loop generator feeds the streaming ingest from a
  * `MemoryStream` at a fixed offered rate while subscribers drain their
  * queues. Each message's timestamp is its scheduled send time, so delivery
  * latency is receipt time minus timestamp. */
object Live {
  val Hot: Map[String, String] = Map("hot0" -> MessageStore.HourBucket, "hot1" -> MessageStore.HourBucket)
  val Parts: Seq[(String, Int)] =
    Seq("hot0" -> 0, "hot1" -> 0) ++ (for (s <- 0 until 19; p <- 0 until 2) yield (s"s$s", p))
  // messages per second offered: a batch of ~2.5 s carries ~300 rows at this
  // rate, well inside capacity, so the backlog cannot grow over a run
  val Rate = 120
  val TickMs = 50
  val HotShare = 0.2 // each hot stream's share of the traffic
  val TriggerMs = 3000L
  val WarmS = 9 // seconds of traffic before the measured window: three triggers

  /** A `MemoryStream` offset, written as its number. */
  private def offsetOf(json: String): Long = json.trim.toLong

  final case class Sub(id: String, key: (String, Int), format: String)

  final class Running(val engine: GraftEngine, val query: StreamingQuery,
      val input: MemoryStream[StreamMessage])

  /** Start the ingest on a fresh store and wait until a first message has been
    * delivered. Untraced runs use `GraftEngine.startIngest`; traced runs make
    * the same composition (`IngestPipeline.processBatch` with the engine's
    * dispatch as `onBatch`) inside a foreachBatch of their own, so each layer
    * gets a span. */
  def start(ctx: Ctx, dir: String): Running = {
    val spark = ctx.spark
    import spark.implicits._
    val engine = new GraftEngine(spark, s"$dir/store", granularityFor = Hot)
    val warm = engine.subscribe("warm", "warm", 0)
    // one input partition per core, as a partitioned log source would give,
    // rather than one per generator tick
    val input = MemoryStream[StreamMessage](spark, ctx.cores)
    val ckpt = s"$dir/checkpoint"
    // the first message is in the source before the ingest starts, so the
    // first batch takes it at once rather than at the next trigger tick
    input.addData(StreamMessage("warm", 0, Gen.ldt(System.currentTimeMillis()), 0, "p", "c", "{}"))
    val t = ctx.tracer
    val query =
      if (!t.enabled) engine.startIngest(input.toDF(), ckpt, TriggerMs)
      else {
        val cache = new MessageStore.BucketWidthCache
        input.toDF().writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.ProcessingTime(TriggerMs))
          .foreachBatch { (batch: DataFrame, id: Long) =>
            t.span(spark, "op.batch") {
              val now = System.currentTimeMillis()
              Layers.prepareApart(ctx, batch, now, engine.assignment.get())
              t.span(spark, "ingest.process")(IngestPipeline.processBatch(batch, id,
                engine.storePath, ckpt, engine.assignment.get _, now,
                onBatch = (df, bid) => t.span(spark, "serve.dispatch")(engine.subscriptions.dispatch(df, bid)),
                granularityFor = Hot, widthCache = Some(cache)))
            }
            ()
          }
          .start()
      }
    if (warm.queue.poll(120, TimeUnit.SECONDS) == null)
      throw new IllegalStateException("ingest did not deliver its first message within 120 s")
    new Running(engine, query, input) // the first message went in batch 0
  }

  def run(ctx: Ctx): Unit = {
    val small = ctx.selfcheck
    val seconds = if (small) 2 else ctx.seconds
    // set-up: fresh ingests, each until its first delivery; the last is the
    // one measured
    var live: Running = null
    val setups = (0 until (if (small) 1 else 3)).map { i =>
      if (live != null) { live.query.stop(); live.engine.close() }
      ctx.timeS { live = start(ctx, s"${ctx.dir}/setup$i") }._2
    }
    ctx.setupMedian(setups)
    ctx.note("live set-ups (s): " + setups.map(x => f"$x%.2f").mkString(" "))
    ctx.phase("set-up")
    val (engine, query, input) = (live.engine, live.query, live.input)

    val gen = new Gen(ctx.seed, Parts.drop(2))
    val subs = Seq(
      Sub("sub-a", "hot0" -> 0, "object"), Sub("sub-b", "hot1" -> 0, "protocol"),
      Sub("sub-c", gen.popularity(0), "raw"), Sub("sub-d", gen.popularity(1), "object"),
      Sub("sub-d", gen.popularity(7), "protocol"))
    val queues = subs.map(s => s -> engine.subscribe(s.id, s.key._1, s.key._2, s.format).queue)

    // the JVM's CPU time at the end of each batch, from the progress events,
    // and when they start to be recorded
    val cpuAt = new java.util.concurrent.ConcurrentHashMap[Long, Double]().asScala
    cpuAt(Long.MinValue) = Stats.cpuMs()
    val cpuListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == query.id) cpuAt.getOrElseUpdate(e.progress.batchId, Stats.cpuMs())
    }
    ctx.spark.streams.addListener(cpuListener)

    // subscriber side: one thread drains every queue continuously
    val receipts = new ConcurrentLinkedQueue[(Int, String, Long)]()
    val stop = new AtomicBoolean(false)
    val drainer = new Thread(() => {
      val buf = new java.util.ArrayList[String]()
      while (!stop.get) {
        var got = 0
        for (((_, q), i) <- queues.zipWithIndex) {
          buf.clear(); q.drainTo(buf)
          if (!buf.isEmpty) {
            val at = System.currentTimeMillis()
            buf.forEach(m => receipts.add((i, m, at)))
            got += buf.size
          }
        }
        if (got == 0) Thread.sleep(1)
      }
    }, "brokerbench-subscribers")
    drainer.start()

    // open-loop generator: message i is due at t0 + i / Rate. The first
    // WarmS seconds warm the measured ingest up (JIT, first writes into every
    // bucket) and are checked but not timed; the next `seconds` are measured.
    // Triggers fire at whole multiples of TriggerMs, so with t0 on one every
    // batch carries the messages due in one trigger interval. Every addData
    // call is one offset of the source, and none mixes warm-up and measured
    // messages, so the rows of a batch are the rows added between its start
    // and end offsets
    val warmN = (if (small) 0 else WarmS) * Rate
    val rowsAt = mutable.LongMap(0L -> 1) // offset 0 held the set-up's first message
    var firstMeasured = Long.MaxValue
    val sent = mutable.ArrayBuffer.empty[Msg]
    val lateness = mutable.ArrayBuffer.empty[Double]
    val recent = mutable.ArrayBuffer.empty[Msg]
    val t0 = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs
    val total = warmN + seconds * Rate
    val measuredFrom = t0 + warmN * 1000L / Rate // due time of the first timed message
    var i = 0
    while (i < total) {
      val now = System.currentTimeMillis()
      val due = mutable.ArrayBuffer.empty[Msg]
      val from = i
      while (i < total && t0 + i * 1000L / Rate <= now && !(i == warmN && due.nonEmpty)) {
        val ts = t0 + i * 1000L / Rate
        val u = gen.rnd.nextDouble()
        val key = if (u < HotShare) "hot0" -> 0 else if (u < 2 * HotShare) "hot1" -> 0 else gen.pickSkewed()
        val r = gen.rnd.nextInt(100)
        val m =
          if (r < 2) gen.invalid(key, ts, ts)
          else if (r < 4 && recent.nonEmpty) gen.replayOf(recent(gen.rnd.nextInt(recent.size)))
          else gen.next(key, ts)
        if (m.kind == Msg.Valid) { recent += m; if (recent.size > 2 * Rate) recent.remove(0, Rate) }
        due += m
        i += 1
      }
      if (due.nonEmpty) {
        val off = offsetOf(input.addData(due.map(_.row).toSeq: _*).json)
        rowsAt(off) = due.size
        if (from == warmN) firstMeasured = off
        val at = System.currentTimeMillis()
        if (from >= warmN)
          due.foreach(m => lateness += (at - (if (m.kind == Msg.Future) at else m.ts)).toDouble)
        sent ++= due
      }
      val sleep = t0 + i.toLong * 1000L / Rate - System.currentTimeMillis()
      if (sleep > 0) Thread.sleep(math.min(sleep, TickMs))
    }
    ctx.attempted.addAndGet(sent.size)
    ctx.phase("generator")
    try query.processAllAvailable()
    catch { case e: Exception => ctx.fail("ingest", s"stream failed: $e", sent.size) }
    Thread.sleep(50)
    stop.set(true); drainer.join()
    // measured batches: those holding only messages of the measured window
    def rowsOf(p: StreamingQueryProgress): Long = {
      val src = p.sources.head
      val start = Option(src.startOffset).fold(-1L)(offsetOf)
      (start + 1 to offsetOf(src.endOffset)).map(o => rowsAt.getOrElse(o, 0).toLong).sum
    }
    val progress = query.recentProgress.filter(p =>
      p.numInputRows > 0 && Option(p.sources.head.startOffset).fold(-1L)(offsetOf) + 1 >= firstMeasured)
    query.stop()
    // progress events reach the listener asynchronously
    val eventsBy = System.nanoTime() + 10000000000L
    while (!progress.forall(p => cpuAt.contains(p.batchId)) && System.nanoTime() < eventsBy) Thread.sleep(10)
    ctx.spark.streams.removeListener(cpuListener)
    ctx.phase("drain and stop")

    // correctness: each subscriber's delivered set, and the store
    val valid = sent.filter(_.kind == Msg.Valid)
    val byKey = valid.groupBy(_.key)
    val got = receipts.asScala.toSeq.groupBy(_._1)
    val latencies = mutable.ArrayBuffer.empty[Double]
    for (((sub, _), idx) <- queues.zipWithIndex) {
      val msgs = byKey.getOrElse(sub.key, Nil)
      val expected = msgs.map(m => m.render(sub.format) -> m.ts).toMap
      val first = got.getOrElse(idx, Nil).groupBy(_._2).map { case (s, rs) => s -> rs.map(_._3).min }
      first.foreach { case (s, at) =>
        expected.get(s).filter(_ >= measuredFrom).foreach(ts => latencies += (at - ts).toDouble)
      }
      val missing = expected.keySet -- first.keySet
      val extra = first.keySet -- expected.keySet
      if (!ctx.check(s"live.delivered[${sub.id}]", expected.keySet, first.keySet)(_ + "never-sent"))
        ctx.failed.addAndGet((missing.size + extra.size - 1).max(0).toLong)
    }
    val stored = History.partStats(engine) - (("warm", 0))
    ctx.check("live.stored", History.expectedStats(valid.toSeq), stored)(
      m => m.map { case (k, v) => k -> v.copy(_1 = v._1 + 1) })
    ctx.metric("store_bytes_per_payload_byte",
      History.parquetBytes(engine.storePath).toDouble / stored.values.map(_._2).sum.max(1L), "ratio")
    engine.close()
    ctx.phase("checks")

    // rows counted from the offsets, not the source's own row count: traced
    // runs read each batch more than once, which inflates that count. A
    // batch's CPU time is the JVM's CPU time between its progress event and
    // the one before it, so idle time between batches is counted too
    val rows = progress.map(rowsOf).sum
    val trig = progress.map(_.durationMs.get("triggerExecution").longValue).sum
    val cpu = progress.map(p => cpuAt(p.batchId) - cpuAt.filter(_._1 < p.batchId).maxBy(_._1)._2)
    val cpuPerMsg = cpu.sum / rows.max(1L)
    val p50 = Stats.median(latencies.toSeq)
    ctx.metric("cpu_ms_per_op", cpuPerMsg, "ms")
    ctx.metric("serve.deliver_p90_ms", Stats.quantile(latencies.toSeq, 0.9), "ms")
    if (ctx.tracer.enabled) {
      ctx.metric("trace.latency_p50_ms", p50, "ms")
      ctx.metric("trace.throughput_per_s", rows * 1000.0 / trig.max(1L), "1/s")
      ctx.metric("trace.cpu_ms_per_op", cpuPerMsg, "ms")
      def d(k: String) = progress.map(_.durationMs.getOrDefault(k, 0L).toDouble).toSeq
      ctx.metricAll("streaming.batch_ms", d("triggerExecution"))
      ctx.metricAll("streaming.add_batch_ms", d("addBatch"))
      ctx.metricAll("streaming.wal_commit_ms", d("walCommit"))
      ctx.metricAll("streaming.commit_offsets_ms", d("commitOffsets"))
      ctx.metric("streaming.rows_per_batch", rows.toDouble / progress.size.max(1), "count")
      ctx.metric("streaming.trigger_wait_ms", p50 - Stats.median(d("triggerExecution")), "ms")
      ctx.metricAll("loadgen.lateness_ms", lateness.toSeq)
    }
    ctx.note(f"live: cpu_ms_per_msg=$cpuPerMsg%.3f sent=${sent.size} batches=${progress.size} rows=$rows " +
      f"p50=$p50%.0fms p90=${Stats.quantile(latencies.toSeq, 0.9)}%.0fms capacity=${rows * 1000.0 / trig.max(1L)}%.1f/s " +
      f"lateness_p50=${Stats.median(lateness.toSeq)}%.1fms")
    ctx.note("live batches (ms/cpu ms/rows): " + progress.zip(cpu).map { case (p, c) =>
      f"${p.durationMs.get("triggerExecution")}/$c%.0f/${rowsOf(p)}" }.mkString(" "))
  }
}
