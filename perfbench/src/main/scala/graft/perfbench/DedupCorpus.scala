package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFunctions}
import graft.perfbench.Main._

/** `dedup_corpus`: the LLM-data dedup path over a generated corpus with
  * planted near-duplicate clusters, through graft's uncached pipeline
  * functions — MinHash-LSH pairs, SimHash pairs, and connected-component
  * labels over their union. One pass runs all three; a window is a
  * fixed number of passes (about `--seconds` long at the speed this
  * benchmark was written against).
  */
object DedupCorpus {
  /** Seconds per pass a window is sized by: 2 passes at 12 s. */
  val PassSeconds = 6.0
}

final class DedupCorpus(spark: SparkSession, o: Opts, counter: TaskCounter)
    extends Workload {

  /** A pipeline-scoped child session, configured as graft's own dedup
    * entry points configure theirs (adaptive execution off, marked as a
    * dedup child so shuffle widths follow the corpus).
    */
  private val child: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set(graft.queries.DedupQueries.DedupChildKey, "true")
    s
  }

  private def docs(dir: String): DataFrame = {
    val d = graft.Tables.documents(child, dir).select(col("doc_id"), col("text"))
    val width = child.sparkContext.defaultParallelism
    if (d.rdd.getNumPartitions < width) d.repartition(width) else d
  }

  private var nDocs = 0L
  private var lastPairs: Seq[Seq[Any]] = Nil
  private var lastSim: Seq[Seq[Any]] = Nil
  private var lastLabels: Seq[Seq[Any]] = Nil
  private val passDigests = mutable.ArrayBuffer[Seq[Int]]()

  def setupOnce(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val d = graft.Tables.documents(child, o.data)
    val loadMs = msSince(t0)
    nDocs = d.count()
    Map("tables_load_ms" -> loadMs)
  }

  /** Untimed: one pass over the corpus's first fifth (in `<data>/warm`),
    * where the cold JIT is cheap, then two over the whole corpus, so the
    * timed passes are not still compiling.
    */
  def warm(): Unit = {
    onePass("warm0", None, s"${o.data}/warm")
    passDigests.clear()
    for (i <- 1 to 2) onePass(s"warm$i", None, o.data)
  }

  def window(index: Int, seconds: Double, tracer: Option[Tracer]): Window = {
    val env = new EnvProbe
    val ops = mutable.ArrayBuffer[Op]()
    val passes = math.ceil(seconds / DedupCorpus.PassSeconds).toInt.max(1)
    for (pass <- 0 until passes) ops ++= onePass(s"w$index.p$pass", tracer, o.data)
    val layers = tracer.map { t =>
      drainBus(spark)
      t.op = s"w$index.kernels"
      kernelRates()
    }.getOrElse(Map.empty)
    Window(tracer.isDefined, ops.toSeq,
      Map("passes" -> passes, "docs" -> nDocs), env.finish(), layers)
  }

  private def onePass(pass: String, tracer: Option[Tracer], dir: String): Seq[Op] = {
    val (mh, mhOp) = step(s"$pass.minhash", "minhash", tracer)(
      graft.queries.DedupQueries.minHashPairs(docs(dir))) { df =>
      df.select(col("a"), col("b"), col("jaccard")).collect()
        .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val (sh, shOp) = step(s"$pass.simhash", "simhash", tracer)(
      graft.queries.DedupQueries.simHashPairsFor(spark, dir)) { df =>
      df.select(col("a"), col("b"), col("hamming")).collect()
        .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    }
    val edges = {
      import child.implicits._
      (mh ++ sh).map(p => (p(0).asInstanceOf[Long], p(1).asInstanceOf[Long]))
        .distinct.toDF("a", "b")
    }
    val (lb, lbOp) = step(s"$pass.labels", "labels", tracer)(
      graft.queries.ConnectedComponents.labelsFor(edges)) { df =>
      df.collect().map(r => Seq[Any](r.getLong(0), r.getLong(1))).toSeq
    }
    lastPairs = mh; lastSim = sh; lastLabels = lb
    passDigests += Seq(digest(mh), digest(sh), digest(lb))
    Seq(mhOp.copy(fields = mhOp.fields ++ Map("pairs" -> mh.size)),
      shOp.copy(fields = shOp.fields ++ Map("pairs" -> sh.size)),
      lbOp.copy(fields = lbOp.fields ++ Map("labelled" -> lb.size)))
  }

  private def digest(rows: Seq[Seq[Any]]): Int =
    rows.map(_.take(2).mkString(",")).sorted.hashCode

  /** One timed operation: the pipeline function's call (`build`; its
    * eager checkpoints run here) and the action on its result.
    */
  private def step[T](id: String, kind: String, tracer: Option[Tracer])(
      build: => DataFrame)(action: DataFrame => T): (T, Op) = {
    tracer.foreach(_.op = id)
    graft.RoundStats.drain()
    drainBus(spark)
    val c0 = counter.get
    val e0 = Clock.epochMs()
    val t0 = System.nanoTime()
    val df = traced(tracer, "build")(build)
    val buildMs = msSince(t0)
    val t1 = System.nanoTime()
    val out = traced(tracer, "action")(action(df))
    val actionMs = msSince(t1)
    val wall = msSince(t0)
    tracer.foreach(_.spans.add(Span(id, "op", "", e0, Clock.epochMs())))
    val rounds = graft.RoundStats.drain().count(_.tag.startsWith("cc_"))
    drainBus(spark)
    (out, Op(id, kind, wall, counter.get - c0,
      Map("build_ms" -> buildMs, "action_ms" -> actionMs, "label_rounds" -> rounds) ++
        tracer.map(t => Map("exec" -> t.countersOf(id).toJson)).getOrElse(Map.empty)))
  }

  /** Rows per second of graft's public text and signature kernels, each
    * timed alone over the whole corpus (shingles materialized first, so
    * the signature timings exclude tokenizing).
    */
  private def kernelRates(): Map[String, Any] = {
    def rate(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.collect()
      nDocs / ((System.nanoTime() - t0) / 1e9)
    }
    val tokens = rate(docs(o.data).select(sum(size(TextFunctions.tokens(col("text"))))))
    val shingles = docs(o.data).select(col("doc_id"),
        array_distinct(TextFunctions.wordNGrams(TextFunctions.tokens(col("text")), 2))
          .as("shingles"))
      .localCheckpoint()
    val minhash = rate(Hashing.minHashSignatures(shingles, "doc_id", "shingles", 128)
      .select(sum(size(col("sig")))))
    val simhash = rate(Hashing.simHashes(shingles, "doc_id", "shingles")
      .select(max(col("simhash"))))
    shingles.unpersist()
    Map("tokens_rows_per_s" -> tokens, "minhash_rows_per_s" -> minhash,
      "simhash_rows_per_s" -> simhash)
  }

  def checks(): Map[String, Any] = {
    import child.implicits._
    val codes = Hashing.simHashes(
      docs(o.data).select(col("doc_id"),
        array_distinct(TextFunctions.wordNGrams(TextFunctions.tokens(col("text")), 2))
          .as("shingles")), "doc_id", "shingles")
      .as[(Long, Long)].collect()
    Map("docs" -> nDocs, "minhash_pairs" -> lastPairs, "simhash_pairs" -> lastSim,
      "labels" -> lastLabels, "pass_digests" -> passDigests.toSeq,
      "simhash_codes" -> codes.toSeq.map { case (d, c) => Seq(d, c) })
  }
}
