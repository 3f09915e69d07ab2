package brokerbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.ingest.Validate
import graft.streaming.IngestPipeline

/** Per-layer metrics of a traced run, summarised from the spans and from the
  * figures the workloads recorded. A layer a workload never calls reports 0. */
object Layers {
  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.trigger_wait_ms" -> "ms", "streaming.rows_per_batch" -> "count",
    "streaming.jobs_per_batch" -> "count",
    "ingest.prepare_ms" -> "ms", "ingest.rejected" -> "count", "dedup.dropped" -> "count",
    "store.append_ms" -> "ms", "store.append_jobs" -> "count",
    "store.files_written" -> "count", "store.buckets_per_append" -> "count",
    "store.open_ms" -> "ms", "store.last_bounded_ms" -> "ms", "store.last_bounded_jobs" -> "count",
    "store.rows_read_per_row_returned" -> "ratio",
    "store.compact_ms_per_bucket" -> "ms", "store.files_per_bucket_before" -> "count",
    "store.files_per_bucket_after" -> "count", "store.retention_ms" -> "ms",
    "store.fs_list_ops" -> "count", "store.fs_write_ops" -> "count",
    "serve.dispatch_ms" -> "ms", "serve.dispatch_jobs" -> "count",
    "serve.first_frame_ms" -> "ms", "serve.drain_ms" -> "ms",
    "serve.last_p50_ms" -> "ms", "serve.from_p50_ms" -> "ms", "serve.range_p50_ms" -> "ms",
    "serve.metadata_p50_ms" -> "ms", "serve.deliver_p90_ms" -> "ms",
    "spark.jobs" -> "count", "spark.task_ms" -> "ms", "spark.shuffle_bytes" -> "bytes",
    "spark.driver_unattributed_ms" -> "ms",
    "loadgen.lateness_ms" -> "ms",
    "trace.latency_p50_ms" -> "ms", "trace.throughput_per_s" -> "1/s",
    "trace.cpu_ms_per_op" -> "ms")

  /** The ingest chain timed apart on a batch the engine is about to take:
    * `IngestPipeline.prepareBatch` plus a count, and a count of the rows that
    * pass validation, so rejects and dedup drops are counted as the engine
    * sees them. */
  def prepareApart(ctx: Ctx, batch: DataFrame, nowMs: Long, assigned: Option[Set[String]]): Unit = {
    val t = ctx.tracer
    val input = batch.count()
    val validated = Validate.accepted(batch, lit(Gen.ldt(nowMs))).count()
    val prepared = t.span(ctx.spark, "ingest.prepare")(
      IngestPipeline.prepareBatch(batch, nowMs, assigned).count())
    ctx.metricAdd("ingest.rejected", (input - validated).toDouble)
    ctx.metricAdd("dedup.dropped", (validated - prepared).toDouble)
  }

  def report(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val spans = t.spans
    val children = spans.groupBy(_.parent)
    def named(n: String) = spans.filter(_.name == n)
    def set(n: String, v: Double): Unit =
      if (!ctx.metrics.contains(n)) ctx.metric(n, v, PerLayer.toMap.getOrElse(n, "count"))
    def medMs(n: String) = Stats.median(named(n).map(_.ms))
    def jobs(s: Span) = t.subtreeWork(s)._1.toDouble

    Seq("ingest.prepare", "store.open", "store.last_bounded", "serve.dispatch", "store.retention")
      .foreach(n => set(s"${n}_ms", medMs(n)))
    set("store.last_bounded_jobs", Stats.median(named("store.last_bounded").map(jobs)))
    set("serve.dispatch_jobs", Stats.median(named("serve.dispatch").map(jobs)))

    // the append: its own span on the publish path; on the streaming path the
    // append runs inside IngestPipeline.processBatch, so it is that call less
    // the dispatch it makes (the append plus the batch's commit marker)
    val appends = named("store.append").map(s => (s.ms, jobs(s), s.parquetCreated, s.bucketsCreated)) ++
      named("ingest.process").map { s =>
        val d = children.getOrElse(s.id, Nil).filter(_.name == "serve.dispatch")
        (s.ms - d.map(_.ms).sum, jobs(s) - d.map(jobs).sum, s.parquetCreated, s.bucketsCreated)
      }
    set("store.append_ms", Stats.median(appends.map(_._1)))
    set("store.append_jobs", Stats.median(appends.map(_._2)))
    set("store.files_written", Stats.mean(appends.map(_._3.toDouble)))
    set("store.buckets_per_append", Stats.mean(appends.map(_._4.toDouble)))

    val compactMs = named("store.compact").map(_.ms).sum
    set("store.compact_ms_per_bucket", compactMs / ctx.sums.getOrElse("store.compacted_buckets", 0.0).max(1.0))
    val storeSpans = spans.filter(s => s.name.startsWith("store.") || s.name == "ingest.process")
    set("store.fs_list_ops", Stats.mean(storeSpans.map(_.fsList.toDouble)))
    set("store.fs_write_ops", Stats.mean(storeSpans.map(_.fsWrite.toDouble)))

    val ops = spans.filter(_.name.startsWith("op."))
    val work = ops.map(s => s -> t.subtreeWork(s))
    set("spark.jobs", Stats.mean(work.map(_._2._1.toDouble)))
    set("spark.task_ms", Stats.mean(work.map(_._2._2)))
    set("spark.shuffle_bytes", Stats.mean(work.map(_._2._3.toDouble)))
    set("spark.driver_unattributed_ms", Stats.mean(work.map { case (s, w) => s.ms - w._2 / ctx.cores }))
    set("streaming.jobs_per_batch", Stats.mean(work.filter(_._1.name == "op.batch").map(_._2._1.toDouble)))
    val read = work.filter(w => Set("op.last", "op.from", "op.range")(w._1.name)).map(_._2._4).sum
    set("store.rows_read_per_row_returned", read / ctx.sums.getOrElse("serve.rows_returned", 0.0).max(1.0))

    Seq("store.files_per_bucket_before", "store.files_per_bucket_after")
      .foreach(n => set(n, Stats.mean(ctx.samples.get(n).map(_.toSeq).getOrElse(Nil))))
    ctx.samples.foreach { case (n, vs) => set(n, Stats.median(vs.toSeq)) }
    ctx.sums.foreach { case (n, v) => set(n, v) }
  }
}
