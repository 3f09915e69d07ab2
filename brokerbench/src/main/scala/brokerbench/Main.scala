package brokerbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared state of one benchmark run: the session, the tracer, counters of
  * attempted and failed operations, and the metrics to print. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Int, val dir: String, val selfcheck: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val wrong = new AtomicBoolean(false)
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var notes = 0

  def note(msg: String): Unit = synchronized {
    if (notes < 20) System.err.println(s"[brokerbench] $msg")
    notes += 1
  }
  private var lastPhase = System.nanoTime()
  /** Log the time since the previous phase mark (standard error only). */
  def phase(name: String): Unit = synchronized {
    val now = System.nanoTime()
    System.err.println(f"[brokerbench] phase $name: ${(now - lastPhase) / 1e9}%.1f s")
    lastPhase = now
  }
  def fail(op: String, why: String, n: Long = 1L): Unit = {
    failed.addAndGet(n); note(s"FAILED $op: $why")
  }
  def metric(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit)
  }

  /** Per-layer raw figures of a traced run: sums and samples by name. */
  val sums = mutable.Map.empty[String, Double]
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  def metricAdd(name: String, v: Double): Unit = synchronized {
    sums(name) = sums.getOrElse(name, 0.0) + v
  }
  def metricAll(name: String, vs: Seq[Double]): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) ++= vs
  }

  /** Compare an answer with the expectation recomputed from the generator's
    * record. A mismatch is a wrong answer: it fails the operation and marks
    * the run incorrect. In self-check mode the same comparison is also made
    * against `corrupt(expected)`, a deliberately wrong expectation, and the
    * check must notice it. */
  def check[T](name: String, expected: T, actual: T)(corrupt: T => T): Boolean = {
    val ok = expected == actual
    if (!ok) {
      wrong.set(true)
      fail(name, s"expected ${show(expected)} got ${show(actual)}")
    }
    if (selfcheck) SelfCheck.record(name, corrupt(expected) != actual)
    ok
  }
  private def show(x: Any): String = {
    val s = String.valueOf(x); if (s.length > 300) s.take(300) + "..." else s
  }

  /** Run an operation, counting it as attempted and an exception as a failure. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: InterruptedException => throw e
      case e: Exception => fail(op, s"exception ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  def df(msgs: Seq[Msg]): DataFrame = {
    import spark.implicits._
    msgs.map(_.row).toDS().toDF()
  }

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `setup_s` is the median of the set-ups a workload repeated. */
  def setupMedian(times: Seq[Double]): Unit =
    metric("setup_s", Stats.median(times), "s")
}

/** Records, in self-check mode, whether every correctness check noticed the
  * deliberately wrong expectation it was given. */
object SelfCheck {
  private val seen = mutable.LinkedHashMap.empty[String, Boolean]
  def record(name: String, detected: Boolean): Unit = synchronized {
    val base = name.takeWhile(_ != '[')
    seen(base) = seen.getOrElse(base, true) && detected
  }
  def results: Seq[(String, Boolean)] = synchronized(seen.toSeq)
}

/** Entry point: `brokerbench.Main --workload <live|resend> --seed <n>
  * --seconds <s> --trace <0|1> --dir <scratch dir> --out <result file>`
  * [`--store-state dirty|clean|mixed`] [`--selfcheck`]. Writes the one-line
  * JSON result to `--out`. */
object Main {
  val Workloads = Seq("live", "resend")

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val selfcheck = args.contains("--selfcheck")
    val dir = opts("dir")
    val out = opts("out")
    val trace = opts.getOrElse("trace", "0") == "1"
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val cores = Runtime.getRuntime.availableProcessors()
    val workloads = if (selfcheck) Workloads else Seq(opts("workload"))
    require(workloads.forall(Workloads.contains), s"unknown workload ${workloads.mkString(",")}")

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("brokerbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    if (trace)
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
        .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(trace)
    if (trace) spark.sparkContext.addSparkListener(new tracer.JobListener)

    System.err.println(f"[brokerbench] session ready after ${(System.nanoTime() - started) / 1e9}%.1f s")
    val results = workloads.map { w =>
      val ctx = new Ctx(spark, tracer, seed, seconds, s"$dir/$w", selfcheck)
      try w match {
        case "live" => Live.run(ctx)
        case "resend" => ResendLoad.run(ctx, opts.getOrElse("store-state", "mixed"))
      } catch {
        case e: Exception =>
          e.printStackTrace()
          ctx.fail(w, s"workload aborted: $e")
          ctx.wrong.set(true)
      }
      ctx.metric("rss_peak_mb", Stats.rssPeakMb(), "MB")
      if (trace) { tracer.quiesce(); Layers.report(ctx) }
      System.err.println(f"[brokerbench] $w done after ${(System.nanoTime() - started) / 1e9}%.1f s")
      w -> ctx
    }

    val text =
      if (selfcheck) {
        val sc = SelfCheck.results
        sc.foreach { case (n, d) =>
          System.err.println(s"[selfcheck] $n: wrong expectation ${if (d) "detected" else "NOT detected"}")
        }
        results.foreach { case (w, c) =>
          System.err.println(s"[selfcheck] $w: attempted=${c.attempted.get} failed=${c.failed.get} correct=${!c.wrong.get}")
        }
        val ok = sc.nonEmpty && sc.forall(_._2) &&
          results.forall { case (_, c) => !c.wrong.get && c.failed.get == 0 }
        s"""{"selfcheck": $ok, "checks": ${sc.size}}"""
      } else {
        val c = results.head._2
        val wanted = if (trace) Layers.PerLayer else EndToEnd
        val ms = wanted.map { case (name, unit) =>
          val v = c.metrics.get(name).map(_._1).getOrElse(0.0)
          f""""$name": {"value": ${num(v)}, "unit": "$unit"}"""
        }
        s"""{"correct": ${!c.wrong.get}, "attempted": ${c.attempted.get}, "failed": ${c.failed.get}, "metrics": {${ms.mkString(", ")}}}"""
      }
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(text) finally w.close()
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** End-to-end metrics every workload reports (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "rss_peak_mb" -> "MB",
    "cpu_ms_per_op" -> "ms",
    "store_bytes_per_payload_byte" -> "ratio")
}
