package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: drives graft's public entry points on
  * generated inputs and writes raw measurements as JSON. The Python
  * front end (`run.py`) generates the inputs, checks the outputs and
  * turns these measurements into metrics.
  *
  * Usage: Main --workload W --data DIR --work DIR --out FILE
  *             --seconds S --seed N --trace 0|1 --cpus N
  */
object Main {

  final case class Opts(workload: String, data: String, work: String,
      out: String, seconds: Double, seed: Long, trace: Boolean, cpus: Int)

  /** One measured operation. `fields` holds workload-specific values. */
  final case class Op(id: String, kind: String, wallMs: Double, tasks: Long,
      fields: Map[String, Any] = Map.empty)

  /** Everything a workload hands back for one measurement window. */
  final case class Window(traced: Boolean, ops: Seq[Op],
      extra: Map[String, Any], env: Map[String, Any],
      layers: Map[String, Any])

  /** A workload: untimed set-up (repeated, median reported), one
    * measurement window per call, and its output checks' raw data.
    */
  trait Workload {
    def setupOnce(): Map[String, Any]
    def warm(): Unit
    def window(index: Int, seconds: Double, tracer: Option[Tracer]): Window
    def checks(): Map[String, Any]
    def close(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("data"), kv("work"), kv("out"),
      kv("seconds").toDouble, kv("seed").toLong, kv("trace") == "1",
      kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.rdd.compress", "true")
      .config("spark.sql.queryExecutionListeners", classOf[SqlTraceListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val counter = new TaskCounter
    spark.sparkContext.addSparkListener(counter)

    val w: Workload = o.workload match {
      case "stream_payments" => new StreamPayments(spark, o, counter)
      case "dedup_corpus"    => new DedupCorpus(spark, o, counter)
      case other             => sys.error(s"unknown workload $other")
    }
    val setups = (1 to 5).map { _ =>
      val s0 = System.nanoTime()
      val parts = w.setupOnce()
      Map("s" -> (System.nanoTime() - s0) / 1e9) ++ parts
    }
    phase("setup", t0)
    w.warm()
    phase("warm-up", t0)
    // Tracing on: the window untraced, traced, and untraced again, so
    // the tracing overhead is measured in one JVM with its warm-up
    // drift cancelled.
    val windows = mutable.ArrayBuffer[Window]()
    windows += w.window(0, o.seconds, None)
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    tracer.foreach { t =>
      t.attach()
      windows += w.window(1, o.seconds, Some(t))
      t.detach()
      windows += w.window(2, o.seconds, None)
    }
    phase("windows", t0)
    val checks = w.checks()
    w.close()
    phase("checks", t0)
    val result = Map(
      "workload" -> o.workload,
      "cpus" -> o.cpus,
      "spark_start_s" -> sparkStartS,
      "setup" -> setups,
      "windows" -> windows.map(win => Map(
        "traced" -> win.traced,
        "ops" -> win.ops.map(op => Map("id" -> op.id, "kind" -> op.kind,
          "wall_ms" -> op.wallMs, "tasks" -> op.tasks) ++ op.fields),
        "extra" -> win.extra, "env" -> win.env, "layers" -> win.layers)),
      "spans" -> tracer.map(_.spansJson).getOrElse(Seq.empty),
      "checks" -> checks,
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(o.out), Json(result))
    scala.util.Try(spark.streams.active.foreach(_.stop()))
    scala.util.Try(org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    spark.stop()
  }

  /** Run-validity evidence at a window's edges: host steal and iowait
    * (graft's own `/proc/stat` reader), concurrent graft JVMs (graft's
    * own process scan), and this JVM's GC and JIT time.
    */
  final class EnvProbe {
    private val stat0 = graft.Bench.procStat()
    private val jvms0 = graft.Bench.concurrentGraftJvms()
    private val (gc0, jit0) = jvmGcJit()
    def finish(): Map[String, Any] = {
      val stat1 = graft.Bench.procStat()
      val jvms1 = graft.Bench.concurrentGraftJvms()
      val (gc1, jit1) = jvmGcJit()
      val host = (stat0, stat1) match {
        case (Some((_, _, w0, s0)), Some((_, _, w1, s1))) =>
          Map("steal_s" -> (s1 - s0) / 100.0, "iowait_s" -> (w1 - w0) / 100.0)
        case _ => Map("steal_s" -> -1.0, "iowait_s" -> -1.0)
      }
      host ++ Map(
        "concurrent_graft_jvms" -> math.max(jvms0.size, jvms1.size),
        "concurrent_graft_start" -> jvms0, "concurrent_graft_end" -> jvms1,
        "gc_s" -> (gc1 - gc0) / 1000.0, "jit_s" -> (jit1 - jit0) / 1000.0)
    }
  }

  private def jvmGcJit(): (Long, Long) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    (gc, jit)
  }

  private def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(
        _.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    }.getOrElse(-1.0)

  private def phase(name: String, t0: Long): Unit =
    System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  /** Milliseconds since `t0` (a `System.nanoTime` reading). */
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Waits until every listener has seen every event posted so far, so
    * per-operation counts are complete before the next operation starts.
    */
  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext)

  /** `body` as span `name` of the current operation, when tracing. */
  def traced[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name, "op")(body)
      case None    => body
    }

  def errorOf(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.result()
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String =>
      sb += '"'
      s.foreach {
        case '"'  => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c    => sb += c
      }
      sb += '"'
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        write(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case a: Array[_] => write(sb, a.toSeq)
    case xs: Iterable[_] =>
      sb += '['
      xs.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb += ','
        write(sb, x)
      }
      sb += ']'
    case other => write(sb, other.toString)
  }
}
