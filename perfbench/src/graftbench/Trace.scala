package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator

import graft.sinks.RestSink
import graft.state.StateStore

/** One span: a call from the benchmark into a graft module. `parent` is -1
  * for an operation's root span; `op` is the timed operation's index. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Records nothing while `on` is false, so the
  * untraced run pays one volatile read per call. Spans nest through a stack,
  * which is sound because graft calls back into its store and sink from the
  * thread that called it (the driver thread); they are written out at exit. */
final class Tracer {
  @volatile var on = false
  var op = -1
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Span duration minus the time its direct children cover. Children run
    * one after another on the same thread, so their durations never overlap. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

/** Delegating store: every call into `StateStore.onFile` becomes a span. */
final class TracedStore(inner: StateStore, tracer: Tracer) extends StateStore {
  def get(key: Seq[String]): Option[String] = tracer.span("state.get")(inner.get(key))
  def set(key: Seq[String], value: String): Unit = tracer.span("state.set")(inner.set(key, value))
  def del(key: Seq[String]): Unit = tracer.span("state.del")(inner.del(key))
  def list(prefix: Seq[String]): Seq[(Seq[String], String)] = tracer.span("state.list")(inner.list(prefix))
  def deleteByPrefix(prefix: Seq[String]): Int = tracer.span("state.deleteByPrefix")(inner.deleteByPrefix(prefix))
  override def size(prefix: Seq[String]): Long = tracer.span("state.size")(inner.size(prefix))
}

/** Order-independent 64-bit key checksum: a sum of mixed FNV-1a hashes, so
  * the same key set delivered in any batch order or partition layout gives
  * the same value, and a key delivered twice changes it. */
object Keys {
  def hash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    Gen.mix(h)
  }

  def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    val hex = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      hex(2 * i) = Character.forDigit((d(i) >> 4) & 0xf, 16)
      hex(2 * i + 1) = Character.forDigit(d(i) & 0xf, 16)
      i += 1
    }
    new String(hex)
  }
}

/** Totals one destination has received. */
final case class Delivered(rows: Long, bytes: Long, keySum: Long, busyNs: Long) {
  def -(o: Delivered): Delivered = Delivered(rows - o.rows, bytes - o.bytes, keySum - o.keySum, busyNs - o.busyNs)
}

/** Driver-side accumulators of one in-process destination. */
final class Destination(sc: SparkContext, name: String) extends Serializable {
  val rows: LongAccumulator = sc.longAccumulator(s"$name.rows")
  val bytes: LongAccumulator = sc.longAccumulator(s"$name.bytes")
  val keySum: LongAccumulator = sc.longAccumulator(s"$name.keySum")
  val busyNs: LongAccumulator = sc.longAccumulator(s"$name.busyNs")
  def delivered: Delivered = Delivered(rows.value, bytes.value, keySum.value, busyNs.value)
}

/** In-process REST destination: JSON-serializes every batch as the HTTP
  * transport would, then counts rows, wire bytes and the key checksum.
  * `keyField` names the row key; with `members` set, each row is an audience
  * payload and its keys are the hashed members inside `payload_json`. */
final case class CountingTransport(dest: Destination, keyField: String, members: Boolean = false)
    extends RestSink.Transport {
  def send(batch: Seq[Map[String, Any]]): Unit = {
    val t0 = System.nanoTime()
    val body = org.json4s.jackson.Serialization.write(batch)(org.json4s.DefaultFormats)
    var n = 0L
    var sum = 0L
    batch.foreach { r =>
      if (members) {
        val data = org.json4s.jackson.JsonMethods.parse(r(keyField).toString) \ "data"
        data.children.foreach { case org.json4s.JString(h) => n += 1; sum += Keys.hash(h); case _ => () }
      } else { n += 1; sum += Keys.hash(String.valueOf(r(keyField))) }
    }
    dest.rows.add(n)
    dest.bytes.add(body.getBytes("UTF-8").length.toLong)
    dest.keySum.add(sum)
    dest.busyNs.add(System.nanoTime() - t0)
  }
}

/** Spark-side totals of one traced operation. */
final class OpSpark {
  var jobs = 0L
  var tasks = 0L
  var runNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var output = 0L
  var spill = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [from, to] during which no job of this operation ran. */
  def noJobMs(from: Long, to: Long): Long = {
    var covered = 0L
    var end = from
    jobIntervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (to - from) - covered
  }
}

/** Listener that attributes jobs and tasks to the traced operation whose id
  * the driver thread set as a local property when the job was submitted. */
final class SparkMeter extends SparkListener {
  private val perOp = scala.collection.mutable.Map.empty[Int, OpSpark]
  private val stageOp = scala.collection.mutable.Map.empty[Int, Int]
  private val jobOp = scala.collection.mutable.Map.empty[Int, (Int, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkMeter.OpKey))).map(_.toInt).foreach { op =>
      e.stageIds.foreach(stageOp(_) = op)
      jobOp(e.jobId) = (op, e.time)
      perOp.getOrElseUpdate(op, new OpSpark).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) => perOp(op).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val s = perOp(op)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runNs += m.executorRunTime * 1000000L
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.output += m.outputMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def of(op: Int): OpSpark = synchronized(perOp.getOrElse(op, new OpSpark))
}

object SparkMeter {
  val OpKey = "graftbench.op"
}
