package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.perfbench.Main._

/** `stream_payments`: the reference pipeline — JSON payment messages
  * through `KafkaPipeline.paymentRangeSum` into a `foreachBatch` sink —
  * fed from a `MemoryStream` by one generator thread.
  *
  * Input (`payments.tsv`, one message per line, in push order):
  * `window  segment  k  sched_us  json`. Segments: `warm` and `open`
  * are pushed on their schedule (open loop; `sched_us` is relative to
  * the segment's start), `drain` lines are pushed all at once as a
  * standing backlog (one backlog per `k`; `warmdrain` is one more, pushed
  * during warm-up), `setup` lines seed each set-up repetition.
  */
private final case class Msg(window: Int, segment: String, k: Int,
    schedUs: Long, json: String)

final class StreamPayments(spark: SparkSession, o: Opts, counter: TaskCounter)
    extends Workload {

  private val msgs: IndexedSeq[Msg] = {
    val src = scala.io.Source.fromFile(s"${o.data}/payments.tsv", "UTF-8")
    try src.getLines().map { l =>
      val f = l.split("\t", 5)
      Msg(f(0).toInt, f(1), f(2).toInt, f(3).toLong, f(4))
    }.toIndexedSeq
    finally src.close()
  }

  /** (offset after the push, first index, end index, push time ns). */
  private val pushes = new ConcurrentLinkedQueue[Array[Long]]()
  /** (batch id, emit time ns, rows as (province, amount)). */
  private val emits = new ConcurrentLinkedQueue[(Long, Long, Array[(Int, Double)])]()
  private val drains = mutable.ArrayBuffer[Map[String, Any]]()

  private var stream: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private var runs = 0

  // Micro-batches run only when messages arrive: an empty batch that
  // only advances the watermark would otherwise hold a backlog pushed
  // while it runs, and add its length to the drain time at random.
  spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

  private def start(record: Boolean): (MemoryStream[String], StreamingQuery) = {
    // one input partition per core, as a topic with that many partitions
    // would give; unpartitioned, every push would become its own task
    val ms = MemoryStream[String](spark, o.cpus)(Encoders.STRING)
    val out = graft.streaming.KafkaPipeline.paymentRangeSum(spark, ms.toDF())
    runs += 1
    val sink = new VoidFunction2[Dataset[Row], java.lang.Long] {
      def call(df: Dataset[Row], id: java.lang.Long): Unit = {
        val rows = df.collect().map(r => (r.getInt(0), r.getDouble(1)))
        if (record) emits.add((id.longValue, System.nanoTime(), rows))
      }
    }
    val q = out.writeStream.outputMode("append").foreachBatch(sink)
      .option("checkpointLocation", s"${o.work}/ckpt$runs")
      .queryName(s"perfbench_payments_$runs").start()
    (ms, q)
  }

  private def indices(p: Msg => Boolean): IndexedSeq[Int] =
    msgs.indices.filter(i => p(msgs(i)))

  private def push(ms: MemoryStream[String], from: Int, until: Int): Unit = {
    val off = ms.addData((from until until).map(msgs(_).json))
    pushes.add(Array(off.json.toLong, from.toLong, until.toLong, System.nanoTime()))
  }

  /** Pushes a contiguous run of messages on their schedule from one
    * generator thread; a late generator catches up by pushing every
    * message already due in one call. Returns the segment's start (ns).
    */
  private def openLoop(idx: IndexedSeq[Int]): Long = {
    require(idx.isEmpty || idx.last - idx.head + 1 == idx.size, "segment not contiguous")
    val t0 = System.nanoTime()
    val gen = new Thread(() => {
      var i = 0
      while (i < idx.size) {
        val due = t0 + msgs(idx(i)).schedUs * 1000L
        val now = System.nanoTime()
        if (now < due) LockSupport.parkNanos(math.min(due - now, 1000000L))
        else {
          var j = i + 1
          while (j < idx.size && t0 + msgs(idx(j)).schedUs * 1000L <= now) j += 1
          push(stream, idx(i), idx(j - 1) + 1)
          i = j
        }
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    t0
  }

  def setupOnce(): Map[String, Any] = {
    val (ms, q) = start(record = false)
    val idx = indices(_.segment == "setup")
    ms.addData(idx.map(msgs(_).json))
    q.processAllAvailable()
    q.stop()
    Map.empty
  }

  def warm(): Unit = {
    val (ms, q) = start(record = true)
    stream = ms
    query = q
    openLoop(indices(m => m.window == 0 && m.segment == "warm"))
    query.processAllAvailable()
    val backlog = indices(m => m.window == 0 && m.segment == "warmdrain")
    push(stream, backlog.head, backlog.last + 1)
    query.processAllAvailable()
  }

  def window(index: Int, seconds: Double, tracer: Option[Tracer]): Window = {
    tracer.foreach(_.op = s"w$index")
    val env = new EnvProbe
    val c0 = counter.get
    val t0 = openLoop(indices(m => m.window == index && m.segment == "open"))
    query.processAllAvailable()
    val openMs = msSince(t0)
    val ks = msgs.filter(m => m.window == index && m.segment == "drain").map(_.k).distinct
    val drainRecs = ks.map { k =>
      val idx = indices(m => m.window == index && m.segment == "drain" && m.k == k)
      val p0 = System.nanoTime()
      push(stream, idx.head, idx.last + 1)
      query.processAllAvailable()
      Map("window" -> index, "k" -> k, "events" -> idx.size, "push_ns" -> p0)
    }
    drains ++= drainRecs
    tracer.foreach(_.drain())
    Window(tracer.isDefined,
      Seq(Op(s"w$index.open", "open", openMs, counter.get - c0,
        tracer.map(t => Map("exec" -> t.countersOf(s"w$index").toJson))
          .getOrElse(Map.empty))),
      Map("open_start_ns" -> t0, "drains" -> drainRecs), env.finish(), Map.empty)
  }

  def checks(): Map[String, Any] = {
    query.processAllAvailable()
    val progress = query.recentProgress.toSeq.map { p =>
      val src = p.sources.headOption
      val st = p.stateOperators.headOption
      Map("batch" -> p.batchId,
        "start_offset" -> src.flatMap(s => Option(s.startOffset)).getOrElse("null"),
        "end_offset" -> src.flatMap(s => Option(s.endOffset)).getOrElse("null"),
        "rows" -> p.numInputRows,
        "watermark" -> Option(p.eventTime.get("watermark")).getOrElse(""),
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "dropped_by_watermark" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
    }
    Map("pushes" -> pushes.asScala.toSeq.map(_.toSeq),
      "emits" -> emits.asScala.toSeq.map { case (b, t, rows) =>
        Map("batch" -> b, "emit_ns" -> t,
          "rows" -> rows.toSeq.map { case (p, v) => Seq(p, v) }) },
      "progress" -> progress,
      "drains" -> drains.toSeq)
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination()
  }
}
