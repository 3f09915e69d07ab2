package brokerbench

import java.time.{Instant, LocalDateTime, ZoneOffset}

import graft.model.StreamMessage

/** One generated message, as the benchmark records it. `kind` says what the
  * engine must do with it: store it (`Valid`), reject it (`Future`,
  * `BadJson`) or fold it onto an earlier copy (`Replay`). */
final case class Msg(
    stream: String, part: Int, ts: Long, seq: Int, pub: String, chain: String,
    payload: String, prevTs: Long, prevSeq: Int, sigType: Int, sig: String,
    kind: Msg.Kind) {

  def key: (String, Int) = (stream, part)

  def row: StreamMessage = StreamMessage(stream, part, Gen.ldt(ts), seq, pub, chain,
    payload,
    if (prevTs < 0) None else Some(Gen.ldt(prevTs)),
    if (prevTs < 0) None else Some(prevSeq),
    0, None, None, sigType, Option(sig))

  /** `object` wire format, rendered here apart from the engine. */
  def objectJson: String = {
    val sb = new StringBuilder(payload.length + 200)
    sb.append("{\"streamId\":\"").append(Gen.esc(stream))
      .append("\",\"streamPartition\":").append(part)
      .append(",\"timestamp\":").append(ts)
      .append(",\"sequenceNumber\":").append(seq)
      .append(",\"publisherId\":\"").append(Gen.esc(pub))
      .append("\",\"msgChainId\":\"").append(Gen.esc(chain))
      .append("\",\"prevMsgRef\":").append(prevRef)
      .append(",\"encryptionType\":0,\"content\":\"").append(Gen.esc(payload))
      .append("\",\"signatureType\":").append(sigType)
      .append(",\"signature\":").append(sigJson).append("}")
    sb.toString
  }

  /** `protocol`/`raw` wire format, version 31, rendered apart from the engine. */
  def protocolJson: String =
    s"""[31,["${Gen.esc(stream)}",$part,$ts,$seq,"${Gen.esc(pub)}","${Gen.esc(chain)}"],""" +
      s"""$prevRef,27,0,"${Gen.esc(payload)}",$sigType,$sigJson]"""

  def render(format: String): String =
    if (format == "object") objectJson else protocolJson

  private def prevRef = if (prevTs < 0) "null" else s"[$prevTs,$prevSeq]"
  private def sigJson = if (sig == null) "null" else "\"" + Gen.esc(sig) + "\""
}

object Msg {
  sealed trait Kind
  case object Valid extends Kind
  case object Future extends Kind
  case object BadJson extends Kind
  case object Replay extends Kind

  /** The engine's order within a stream-part: ascending (ts, seq, pub, chain). */
  implicit val order: Ordering[Msg] =
    Ordering.by((m: Msg) => (m.ts, m.seq, m.pub, m.chain))
}

/** Seeded input generator. Every choice comes from one `java.util.Random`
  * seeded by the workload seed, so a seed fixes the inputs; only the
  * absolute clock of the live workload moves with the wall clock.
  *
  * Make-up (documented in README.md): payloads are JSON objects of 40..400
  * bytes carrying quotes, backslashes, newlines and a non-ASCII letter; one
  * publisher and two message chains per stream-part, a prev-ref chain per
  * message chain, and a quarter of messages signed. Stream-part popularity
  * follows a Zipf(1.1) law over `streams`. */
final class Gen(seed: Long, val streams: Seq[(String, Int)]) {
  val rnd = new java.util.Random(seed)

  /** Zipf(1.1) weights over `streams`, in a seed-shuffled order. */
  val popularity: IndexedSeq[(String, Int)] =
    scala.util.Random.javaRandomToRandom(new java.util.Random(seed ^ 0x5eed))
      .shuffle(streams.toIndexedSeq)
  private val cumWeights: Array[Double] = {
    val w = popularity.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def pickSkewed(): (String, Int) = {
    val u = rnd.nextDouble()
    val i = cumWeights.indexWhere(_ >= u)
    popularity(if (i < 0) popularity.size - 1 else i)
  }

  // per (stream, part, chain) sequence state: last ts and seq
  private val chainState = scala.collection.mutable.Map.empty[(String, Int, String), (Long, Int)]

  private val letters = "abcdefghijklmnopqrstuvwxyz"
  def payload(): String = {
    val len = 30 + rnd.nextInt(360)
    val sb = new StringBuilder(len + 40)
    sb.append("{\"n\":").append(rnd.nextInt(1000000)).append(",\"t\":\"")
    while (sb.length < len) {
      val r = rnd.nextInt(40)
      if (r == 0) sb.append("\\\"") else if (r == 1) sb.append("\\n")
      else if (r == 2) sb.append("\\\\") else if (r == 3) sb.append('é')
      else sb.append(letters.charAt(rnd.nextInt(26)))
    }
    sb.append("\"}").toString
  }

  /** Next valid message of a stream-part at (or after) `tsMs`: timestamps of
    * a chain never go backwards, sequence numbers restart per millisecond
    * like the reference's message chains. */
  def next(key: (String, Int), tsMs: Long): Msg = {
    val chain = "c" + rnd.nextInt(2)
    val ck = (key._1, key._2, chain)
    val (prevTs, prevSeq) = chainState.getOrElse(ck, (-1L, 0))
    val ts = math.max(tsMs, prevTs)
    val seq = if (ts == prevTs) prevSeq + 1 else 0
    chainState(ck) = (ts, seq)
    val signed = rnd.nextInt(4) == 0
    Msg(key._1, key._2, ts, seq, s"pub-${key._1}", chain, payload(),
      prevTs, prevSeq, if (signed) 2 else 0,
      if (signed) f"0x${rnd.nextLong()}%016x" else null, Msg.Valid)
  }

  /** A message the engine must reject: a timestamp beyond now + 5 min, or a
    * payload that is not JSON. Rejects never enter the chain state. */
  def invalid(key: (String, Int), tsMs: Long, nowMs: Long): Msg =
    if (rnd.nextBoolean())
      Msg(key._1, key._2, nowMs + 3600000L + rnd.nextInt(1000), 0, s"pub-${key._1}", "cx",
        payload(), -1L, 0, 0, null, Msg.Future)
    else
      Msg(key._1, key._2, tsMs, 0, s"pub-${key._1}", "cbad",
        "{\"n\":" + rnd.nextInt(100) + ",", -1L, 0, 0, null, Msg.BadJson)

  def replayOf(m: Msg): Msg = m.copy(kind = Msg.Replay)
}

object Gen {
  def ldt(ms: Long): LocalDateTime = LocalDateTime.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC)

  /** JSON string escaping (RFC 8259): quote, backslash, and every control
    * character below U+0020. */
  def esc(s: String): String = {
    var i = 0
    while (i < s.length && s.charAt(i) >= 0x20 && s.charAt(i) != '"' && s.charAt(i) != '\\') i += 1
    if (i == s.length) return s
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\b' => sb.append("\\b")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\f' => sb.append("\\f")
      case '\r' => sb.append("\\r")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  val HourMs = 3600000L
  val DayMs = 86400000L

  /** Day bucket name of a timestamp, as the store names directories. */
  def dayOf(ts: Long): String = ldt(ts).toLocalDate.toString
}
