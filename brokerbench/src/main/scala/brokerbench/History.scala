package brokerbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.GraftEngine
import graft.store.MessageStore
import graft.streaming.IngestPipeline

/** Historical messages as the `resend` workload generates them, on a fixed
  * virtual clock: day-bucketed stream-parts over `days` whole days plus the
  * partial current day. Volumes are drawn per bucket, so every bucket holds
  * at least `minPerBucket` messages. */
final class History(seed: Long, val parts: Seq[(String, Int)], val days: Int,
    val perPartDay: Int, minPerBucket: Int = 3) {
  import History._
  val gen = new Gen(seed, parts)

  /** Valid messages, each chain in timestamp order. */
  val valid: IndexedSeq[Msg] = {
    val r = gen.rnd
    val midnight = Now - Now % Gen.DayMs
    val dayStarts = (days to 1 by -1).map(d => (midnight - d * Gen.DayMs, Gen.DayMs)) :+
      (midnight, Now - midnight)
    parts.flatMap { key =>
      val w = 0.5 + r.nextDouble() // per-part volume between 0.5x and 1.5x
      dayStarts.flatMap { case (start, len) =>
        val n = (perPartDay * w * len / Gen.DayMs).toInt.max(minPerBucket)
        Seq.fill(n)(start + (r.nextDouble() * len).toLong)
      }.sorted.map(ts => gen.next(key, ts))
    }.toIndexedSeq
  }

  def bucketOf(m: Msg): (String, Int, String) = (m.stream, m.part, Gen.dayOf(m.ts))

  /** Split `msgs` into `k` batches that each carry a share of every bucket
    * (so a bucket with k or more messages gets one file per batch), adding
    * 2 % rejects (future timestamp or broken JSON) and 2 % replays of
    * messages in the same or an earlier batch. */
  def batches(msgs: Seq[Msg], k: Int): IndexedSeq[IndexedSeq[Msg]] = {
    val r = gen.rnd
    val shuffle = scala.util.Random.javaRandomToRandom(r)
    val out = IndexedSeq.fill(k)(mutable.ArrayBuffer.empty[Msg])
    msgs.groupBy(bucketOf).toSeq.sortBy(_._1).foreach { case (_, ms) =>
      val offset = r.nextInt(k)
      shuffle.shuffle(ms).zipWithIndex.foreach { case (m, j) => out((j + offset) % k) += m }
    }
    val sent = mutable.ArrayBuffer.empty[Msg]
    out.map { b =>
      sent ++= b
      val extra = (0 until b.size / 50).flatMap { _ =>
        val m = b(r.nextInt(b.size))
        Seq(gen.invalid(m.key, m.ts, Now), gen.replayOf(sent(r.nextInt(sent.size))))
      }
      shuffle.shuffle(b ++ extra).toIndexedSeq
    }
  }
}

object History {
  /** The virtual "now" of historical workloads: 2026-03-10T18:00Z. */
  val Now: Long = java.time.LocalDateTime.of(2026, 3, 10, 18, 0)
    .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  /** Rows the engine must accept from one publish: the distinct uniqueness
    * keys of the batch's valid messages and replays. */
  def accepted(batch: Seq[Msg]): Int =
    batch.filter(m => m.kind == Msg.Valid || m.kind == Msg.Replay)
      .map(m => (m.stream, m.part, m.ts, m.seq, m.pub, m.chain)).distinct.size

  /** Parquet files per bucket directory of a store, from a plain listing. */
  def filesPerBucket(store: String): Map[(String, Int, String), Int] = {
    def ls(f: File) = Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
    (for {
      s <- ls(new File(store)) if s.getName.startsWith("stream_id=")
      p <- ls(s) if p.getName.startsWith("stream_partition=")
      b <- ls(p) if b.getName.startsWith("bucket=")
    } yield (s.getName.stripPrefix("stream_id="), p.getName.stripPrefix("stream_partition=").toInt,
      b.getName.stripPrefix("bucket=")) -> ls(b).count(_.getName.endsWith(".parquet"))).toMap
  }

  /** Bytes of the store's Parquet data files. */
  def parquetBytes(store: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    walk(new File(store))
  }

  /** Per stream-part (count, payload bytes, first ts, last ts) of the store,
    * read through the engine's merged view. */
  def partStats(engine: GraftEngine): Map[(String, Int), (Long, Long, Long, Long)] =
    engine.table.groupBy(col("stream_id"), col("stream_partition"))
      .agg(count(lit(1)), sum(octet_length(col("payload"))),
        min(unix_millis(col("ts").cast("timestamp"))), max(unix_millis(col("ts").cast("timestamp"))))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap

  def expectedStats(msgs: Seq[Msg]): Map[(String, Int), (Long, Long, Long, Long)] =
    msgs.groupBy(_.key).map { case (k, ms) =>
      k -> (ms.size.toLong, ms.map(_.payload.getBytes("UTF-8").length.toLong).sum,
        ms.map(_.ts).min, ms.map(_.ts).max)
    }

  /** Publish through the engine. Traced runs compose the same steps
    * `GraftEngine.publish` makes from the public layer functions, so the
    * append and the dispatch get spans of their own, and time the ingest
    * chain apart on the same batch first. */
  def publish(ctx: Ctx, engine: GraftEngine, cache: MessageStore.BucketWidthCache,
      batch: Seq[Msg]): Long = {
    val t = ctx.tracer
    val input = ctx.df(batch)
    if (!t.enabled) engine.publish(input, Now)
    else t.span(ctx.spark, "op.publish") {
      Layers.prepareApart(ctx, input, Now, engine.assignment.get())
      val prepared = IngestPipeline.prepareBatch(input, Now, engine.assignment.get()).cache()
      try {
        val n = prepared.count()
        if (n > 0) t.span(ctx.spark, "store.append") {
          MessageStore.appendPerStream(prepared, engine.storePath, Map.empty, widthCache = Some(cache))
        }
        t.span(ctx.spark, "serve.dispatch")(engine.subscriptions.dispatch(prepared, -1L))
        n
      } finally prepared.unpersist()
    }
  }
}
