package graft

import org.apache.spark.sql.SparkSession

/** Temporarily override session confs around an EAGERLY-executed block.
  *
  * The iterative graph loops (connected components, PageRank) launch
  * dozens of small jobs over KB–MB-sized label/rank tables. Per-job
  * fixed costs dominate there — plan/codegen text construction and
  * freshly compiled codegen classes per round were measured as the
  * r2–r6 driver-bench spike (BENCH_r06: q102 315 CPU-s, q133 397 CPU-s
  * vs 5–6 s for the same code warm; the watchdog dump caught the driver
  * in codegen-string machinery, executors idle). Whole-stage codegen
  * and AQE's replan loop buy nothing on tiny per-round plans, so the
  * loops scope them OFF — in a try/finally so the caller's session
  * (where both earn their keep on real scans) is untouched.
  *
  * Only valid around code whose Spark actions all run INSIDE `body`
  * (the loops checkpoint eagerly each round); a lazily returned plan
  * would be planned after restore, outside the scope.
  *
  * SINGLE-THREADED SESSION ASSUMPTION: the override mutates
  * session-global SQL confs for the duration of `body` — any query
  * planned CONCURRENTLY on the same SparkSession (a parallel bench
  * thread, a streaming micro-batch) would silently plan with
  * codegen/AQE off, and nested scopes on different threads restore
  * stale values. Every caller in this repo runs its loop on the one
  * driver thread of a dedicated/child session; if concurrent use is
  * ever needed, isolate via `SparkSession.cloneSession()` (confs are
  * per-session) instead of widening this scope.
  */
object ScopedConf {
  def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The iterative-loop profile: no whole-stage codegen, no adaptive
    * replanning — per-round plans compile to nothing and run as-is.
    */
  def forTinyLoop[T](s: SparkSession)(body: => T): T =
    withConf(s,
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.adaptive.enabled" -> "false")(body)

  /** Per-round row volume below which an iterative loop runs with the
    * tiny profile. The trade: with codegen OFF each round saves
    * seconds of fixed driver/JIT cost but pays ~2-5× per ROW
    * (interpreted evaluation); with codegen ON the reverse. At 100M
    * rows/round the interpreted penalty (~tens of CPU-s) still
    * roughly matches one cold compile storm, and beyond it per-row
    * cost dominates — a web-scale graph keeps codegen and AQE (skew
    * handling) and amortizes compilation over billions of rows.
    * Measured at ×8 (19M edge cells/round, warm JVM, r7): PageRank
    * 26.7 s interpreted vs 25.3 s codegen'd — a wash; shuffle cost
    * dominates well past the gate scale, so the threshold's exact
    * value is uncritical there and earns its keep in cold
    * (JIT-throttled) environments. Override with
    * SPARK_GRAFT_TINY_LOOP_ROWS for deployment-shaped tuning; a value
    * that is not a non-negative integer throws at first use, naming
    * the variable.
    */
  lazy val TinyLoopRows: Long = tinyLoopRows(sys.env.get("SPARK_GRAFT_TINY_LOOP_ROWS"))

  private[graft] def tinyLoopRows(env: Option[String]): Long =
    env.fold(100L * 1000 * 1000) { v =>
      v.trim.toLongOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_TINY_LOOP_ROWS='$v' is not a non-negative integer"))
    }

  /** Loop-shuffle width budget, in measured per-round ROWS per
    * partition (r16, optimization round). A tiny-profile loop's
    * per-round joins/aggregations used to shuffle at the session's
    * static width — 32 near-empty partitions per stage per round for
    * a KB-sized rank/label table, pure fixed task cost multiplied by
    * (stages × rounds). The tiny branch (AQE is OFF there, so nothing
    * else coalesces) now derives the width from the SAME measured
    * per-round volume that picks the profile: 4 M rows/partition ≈
    * 100–160 MB at the 24–40 B loop-row shapes (guide §2.2's
    * partition sizing). Above [[TinyLoopRows]] the loop keeps session
    * defaults — AQE owns the width there.
    */
  val LoopRowsPerPartitionKey = "spark.graft.loop.rowsPerPartition"
  val LoopRowsPerPartitionDefault = 4L * 1000 * 1000

  /** Size-aware loop scope: tiny profile under [[TinyLoopRows]]
    * per-round rows (with the loop's shuffle width derived from that
    * same measured volume — see [[LoopRowsPerPartitionKey]]), session
    * defaults (codegen + AQE) above.
    */
  def forLoopOf[T](s: SparkSession, rowsPerRound: Long)(body: => T): T =
    if (rowsPerRound <= TinyLoopRows) {
      val per = positive(s, LoopRowsPerPartitionKey, LoopRowsPerPartitionDefault)
      val w = math.max(1L, math.min(rowsPerRound / per + 1, 4096L))
      withConf(s,
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> w.toString)(body)
    } else body

  /** A positive integer `spark.graft.*` knob off session `s`, or
    * `default` when unset. Every graft knob is read through here (or
    * [[nonNegative]]): a value that is not a positive integer throws,
    * naming the key and the value, instead of silently running the
    * default.
    */
  def positive(s: SparkSession, key: String, default: Long): Long =
    positiveOption(s, key).getOrElse(default)

  /** [[positive]] for a knob whose consumer takes an Int. */
  def positiveInt(s: SparkSession, key: String, default: Int): Int = {
    val v = positive(s, key, default)
    if (v > Int.MaxValue) throw new IllegalArgumentException(
      s"$key='$v' exceeds ${Int.MaxValue}")
    v.toInt
  }

  /** [[positive]] for a knob with no default (None when unset). */
  def positiveOption(s: SparkSession, key: String): Option[Long] =
    longOption(s, key, 1L, "a positive integer")

  /** [[positive]] for a knob where 0 is a meaningful value. */
  def nonNegative(s: SparkSession, key: String, default: Long): Long =
    longOption(s, key, 0L, "a non-negative integer").getOrElse(default)

  private def longOption(s: SparkSession, key: String, min: Long,
      what: String): Option[Long] =
    s.conf.getOption(key).map { v =>
      v.trim.toLongOption.filter(_ >= min).getOrElse(
        throw new IllegalArgumentException(s"$key='$v' is not $what"))
    }

  /** The `SPARK_GRAFT_CONF` entry points' session overrides:
    * ';'-separated `key=value` pairs (blank entries ignored). An entry
    * without '=' or with an empty key throws, naming the entry.
    */
  def parseConfPairs(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }

  /** Set every `SPARK_GRAFT_CONF` pair on `s` (see [[parseConfPairs]]).
    * Dedup child sessions copy the parent's `spark.graft.*` keys, so
    * these reach the production pipelines.
    */
  def applyEnvConf(s: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConfPairs(_).foreach {
      case (k, v) => s.conf.set(k, v)
    })
}
