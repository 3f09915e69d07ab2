package brokerbench

import scala.collection.mutable

import graft.GraftEngine
import graft.serve.{QueryApi, Resend}
import graft.store.MessageStore

/** `resend`: the store's cold path. Set-up builds the store with the engine's
  * own bulk publishes and compaction and leaves it in a broker's steady state
  * (history compacted, newest day still dirty); closed-loop clients then read
  * it through `QueryApi.handle` and `GraftEngine.metadata` with no writes;
  * per-stream retention runs last. */
object ResendLoad {
  import History._

  val Parts: Seq[(String, Int)] = for (s <- 0 until 2; p <- 0 until 2) yield (s"s$s", p)
  val Days = 2
  val PerPartDay = 150
  val Clients = 2
  val Round = Seq("last", "from", "range", "metadata", "last")
  val Formats = Seq("object", "protocol", "raw")
  val Retention: Map[String, Int] = Map("s0" -> 1, "s1" -> 2)
  val DefaultRetention = 30
  val NewestDay: Long = Now - Now % Gen.DayMs

  /** Build the store with the engine's own publishes and compaction: history
    * in two publishes that put a file into every history bucket each, then
    * `autoCompact`, then the newest day in two publishes. `state`: `mixed`
    * (the default) compacts history and leaves the newest day dirty, `dirty`
    * compacts nothing, `clean` compacts everything. */
  def build(ctx: Ctx, h: History, store: String, state: String): GraftEngine = {
    val engine = new GraftEngine(ctx.spark, store)
    val cache = new MessageStore.BucketWidthCache
    val (newest, old) = h.valid.partition(_.ts >= NewestDay)
    def publishAll(batches: Seq[Seq[Msg]]): Unit = batches.zipWithIndex.foreach { case (b, i) =>
      ctx.attempt(s"publish[$i]") {
        ctx.check(s"resend.publish_accepted[$i]", accepted(b).toLong, History.publish(ctx, engine, cache, b))(_ + 1)
      }
    }
    publishAll(h.batches(old, 2))
    if (state != "dirty") compact(ctx, engine, store)
    publishAll(h.batches(newest, 2))
    if (state == "clean") compact(ctx, engine, store)
    ctx.check("resend.rows_after_build", expectedStats(h.valid), partStats(engine))(
      m => m.map { case (k, v) => k -> v.copy(_1 = v._1 + 1) })
    engine
  }

  /** `autoCompact` at two files per bucket: every bucket holding two or more
    * files must come out with exactly one. */
  private def compact(ctx: Ctx, engine: GraftEngine, store: String): Unit =
    ctx.attempt("autoCompact") {
      val before = filesPerBucket(store)
      val due = before.filter(_._2 >= 2).keySet
      val n = ctx.tracer.span(ctx.spark, "store.compact")(engine.autoCompact(2))
      val after = filesPerBucket(store)
      if (ctx.tracer.enabled) {
        ctx.metricAdd("store.compacted_buckets", n.toDouble)
        ctx.metricAll("store.files_per_bucket_before", due.toSeq.map(before(_).toDouble))
        ctx.metricAll("store.files_per_bucket_after", due.toSeq.map(after.getOrElse(_, 0).toDouble))
      }
      ctx.check("resend.compacted_buckets", due.size, n)(_ + 1)
      ctx.check("resend.one_file_per_compacted_bucket",
        due.toSeq.map(_ -> 1).toMap, due.toSeq.map(b => b -> after.getOrElse(b, 0)).toMap)(
        m => m.take(m.size - 1) ++ m.lastOption.map(kv => kv._1 -> 2))
    }

  /** Per-stream retention: exactly the buckets whose newest row is older
    * than their stream's cutoff must go. */
  private def retention(ctx: Ctx, engine: GraftEngine, h: History, store: String): Unit =
    ctx.attempt("deleteExpired") {
      val buckets = filesPerBucket(store).keySet
      val expired = h.valid.groupBy(h.bucketOf).collect {
        case (b, ms) if ms.map(_.ts).max < Now - Retention.getOrElse(b._1, DefaultRetention) * Gen.DayMs => b
      }.toSet
      val dropped = ctx.tracer.span(ctx.spark, "store.retention") {
        engine.deleteExpired(Retention, DefaultRetention, Now)
      }
      ctx.check("resend.dropped_count", expired.size, dropped.size)(_ + 1)
      ctx.check("resend.buckets_after_retention", buckets -- expired, filesPerBucket(store).keySet)(_.drop(1))
    }

  def frames(it: Iterator[Resend.Frame]): Seq[String] = it.map {
    case Resend.Unicast(m) => m
    case f => f.kind
  }.toSeq

  def envelope(msgs: Seq[Msg], format: String): Seq[String] =
    if (msgs.isEmpty) Seq("no_resend") else ("resending" +: msgs.map(_.render(format))) :+ "resent"

  private def wrongAnswer(xs: Seq[String]): Seq[String] =
    if (xs.size > 2) xs.patch(1, Nil, 1) else Seq("resending", "x", "resent")

  def run(ctx: Ctx, state: String): Unit = {
    val small = ctx.selfcheck
    // warm-up: the first publish of a fresh JVM pays class loading and code
    // generation; it goes to a scratch store so the build below is timed warm
    val warm = new History(ctx.seed + 7919, Parts.take(1), 1, 20)
    new GraftEngine(ctx.spark, s"${ctx.dir}/warm-up").publish(ctx.df(warm.valid), Now)
    ctx.phase("warm-up")

    // set-up: building the store is the workload's set-up. It is made once:
    // at several seconds a build, repeating it would not fit the run budget
    val h = new History(ctx.seed, Parts, Days, if (small) 10 else PerPartDay)
    val store = s"${ctx.dir}/store"
    val (engine, buildS) = ctx.timeS(build(ctx, h, store, state))
    ctx.metric("setup_s", buildS, "s")
    ctx.metric("store_bytes_per_payload_byte",
      parquetBytes(store).toDouble / h.valid.map(_.payload.getBytes("UTF-8").length.toLong).sum, "ratio")
    ctx.phase("store build")
    val byPart: Map[(String, Int), IndexedSeq[Msg]] =
      h.valid.groupBy(_.key).map { case (k, ms) => k -> ms.sorted.toIndexedSeq }
    val parts = byPart.keys.toIndexedSeq.sorted

    // each client's first round warms the read path up (code generation, the
    // first listing of the store): it is checked but not timed. The timed
    // window opens when every client has finished that round
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var rowsOut = 0L
    @volatile var t0 = 0L
    @volatile var cpu0 = 0.0
    @volatile var deadline = 0L
    val warmed = new java.util.concurrent.CyclicBarrier(Clients, () => {
      cpu0 = Stats.cpuMs(); t0 = System.nanoTime(); deadline = t0 + ctx.seconds * 1000000000L
    })
    val threads = (0 until Clients).map { c =>
      val rnd = new java.util.Random(ctx.seed * 31 + c)
      val pick = new Gen(ctx.seed, parts) // the same skewed popularity for every client
      def part(): (String, Int) = { pick.rnd.setSeed(rnd.nextLong()); pick.pickSkewed() }
      def round(timed: Boolean): Unit = for (op <- Round) {
        val key = part()
        val fmt = Formats(rnd.nextInt(Formats.size))
        request(ctx, engine, op, key, fmt, byPart(key), rnd).foreach { case (ms, n) =>
          if (timed) ResendLoad.synchronized {
            lat.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
            rowsOut += n
          }
        }
      }
      new Thread(() => {
        round(timed = false)
        warmed.await()
        var rounds = 0
        while (rounds == 0 || (!small && System.nanoTime() < deadline)) {
          round(timed = true)
          rounds += 1
        }
      }, s"brokerbench-client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuMs = Stats.cpuMs() - cpu0
    ctx.phase("clients")
    retention(ctx, engine, h, store)
    engine.close()
    ctx.phase("retention")

    // the four request kinds form clusters of different cost, and a pooled
    // median lands on the edge between two of them, where a few samples move
    // it far; the mean of the per-kind medians does not have that edge
    val all = lat.values.flatten.toSeq
    val kinds = Seq("last", "from", "range", "metadata").map(op => op -> Stats.median(lat.getOrElse(op, Nil).toSeq))
    val p50 = Stats.mean(kinds.map(_._2))
    ctx.metric("cpu_ms_per_op", cpuMs / all.size.max(1), "ms")
    kinds.foreach { case (op, v) => ctx.metric(s"serve.${op}_p50_ms", v, "ms") }
    if (ctx.tracer.enabled) {
      ctx.metric("trace.latency_p50_ms", p50, "ms")
      ctx.metric("trace.throughput_per_s", all.size / wallS, "1/s")
      ctx.metric("trace.cpu_ms_per_op", cpuMs / all.size.max(1), "ms")
      ctx.metricAdd("serve.rows_returned", rowsOut.toDouble)
    }
    ctx.note(f"resend[$state]: cpu_ms_per_op=${cpuMs / all.size}%.1f ops/s=${all.size / wallS}%.2f build=$buildS%.1fs ops=${all.size} p50=$p50%.0fms " +
      kinds.map { case (o, v) => f"$o=$v%.0f" }.mkString(" "))
  }

  /** One request, timed from its call until its last frame is drained.
    * Returns (latency ms, unicast rows). */
  private def request(ctx: Ctx, engine: GraftEngine, op: String, key: (String, Int),
      fmt: String, msgs: IndexedSeq[Msg], rnd: java.util.Random): Option[(Double, Long)] = {
    val t = ctx.tracer
    val (stream, part) = key
    ctx.attempt(s"$op $stream/$part") {
      if (op == "metadata") {
        if (t.enabled) t.span(ctx.spark, "store.open")(engine.table.schema)
        val (got, s) = ctx.timeS(t.span(ctx.spark, "op.metadata")(engine.metadata(stream, part)))
        val expected = Some((msgs.size.toLong, msgs.map(_.payload.getBytes("UTF-8").length.toLong).sum,
          msgs.head.ts, msgs.last.ts))
        ctx.check("resend.metadata", expected, got)(_.map(e => e.copy(_1 = e._1 + 1)))
        (s * 1000, 0L)
      } else {
        val (query, expected) = op match {
          case "last" =>
            val n = Seq(1, 10, 100, 1000)(rnd.nextInt(4))
            (Map("count" -> n.toString), msgs.takeRight(n))
          case "from" =>
            val fromTs = msgs.last.ts - (rnd.nextDouble() * 36 * Gen.HourMs).toLong
            val fromSeq = rnd.nextInt(2)
            (Map("fromTimestamp" -> fromTs.toString, "fromSequenceNumber" -> fromSeq.toString),
              msgs.filter(m => m.ts > fromTs || (m.ts == fromTs && m.seq >= fromSeq)))
          case "range" =>
            val fromTs = Now - (1 + rnd.nextInt(Days)) * Gen.DayMs + rnd.nextInt(12) * Gen.HourMs
            val toTs = fromTs + Gen.DayMs
            (Map("fromTimestamp" -> fromTs.toString, "toTimestamp" -> toTs.toString),
              msgs.filter(m => m.ts >= fromTs && m.ts <= toTs))
        }
        // traced runs time the store layer apart, outside the request's span
        if (t.enabled) {
          if (op == "last")
            t.span(ctx.spark, "store.last_bounded")(MessageStore.requestLastBounded(
              ctx.spark, engine.storePath, stream, part, query("count").toInt))
          else t.span(ctx.spark, "store.open")(engine.table.schema)
        }
        val req = QueryApi.QueryRequest(op, stream, part.toString, query + ("format" -> fmt))
        val t0 = System.nanoTime()
        val (got, ff) = t.span(ctx.spark, s"op.$op") {
          QueryApi.handle(engine, req) match {
            case Left(err) => (Left(err), -1.0)
            case Right(it) =>
              val first = if (it.hasNext) frames(Iterator(it.next())) else Nil
              val ffMs = (System.nanoTime() - t0) / 1e6
              (Right(first ++ frames(it)), ffMs)
          }
        }
        val ms = (System.nanoTime() - t0) / 1e6
        if (t.enabled) {
          ctx.metricAll("serve.first_frame_ms", Seq(ff))
          ctx.metricAll("serve.drain_ms", Seq(ms - ff))
        }
        got match {
          case Left(err) =>
            throw new IllegalStateException(s"QueryApi answered ${err.status}: ${err.error}")
          case Right(fr) =>
            ctx.check(s"resend.$op", envelope(expected, fmt), fr)(wrongAnswer)
            (ms, (fr.size - 2).max(0).toLong)
        }
      }
    }
  }
}
