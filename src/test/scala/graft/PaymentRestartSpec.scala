package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{Dataset, Encoders, Row}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{KafkaPipeline, LocalCheckpointFileManager}

/** The flagship pipeline, `KafkaPipeline.paymentRangeSum`, stopped
  * after a few micro-batches and restarted on the same checkpoint,
  * emits exactly what an uninterrupted run emits: offsets, the
  * watermark and the per-province state all come back. The checkpoint
  * of the first leg is written either by graft's manager or by Spark's
  * default one, so checkpoints written before graft installed its
  * manager keep working.
  */
class PaymentRestartSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Six micro-batches of payment messages, in event-time order with
    * in-delay disorder inside a batch, over three provinces; trailing
    * windows reach across batch boundaries. Batch 4 also carries one
    * event 40 s behind the newest, beyond the 15 s allowed delay, which
    * only a restored watermark drops.
    */
  private val batches: Seq[Seq[String]] = {
    val rnd = new scala.util.Random(11)
    val t0 = java.time.LocalDateTime.of(2023, 9, 20, 10, 0, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    def msg(id: Int, sec: Double, province: Int): String = {
      val ts = t0.plusNanos((sec * 1000).round * 1000000L).format(fmt)
      val amount = BigDecimal(rnd.nextInt(100000)) / 100
      s"""{"createTime": "$ts", "orderId": $id, "payAmount": $amount, """ +
        s""""payPlatform": 0, "provinceId": $province}"""
    }
    (0 until 6).map { b =>
      val onTime = (0 until 12).map { i =>
        val id = b * 100 + i
        msg(id, b * 9.0 + i * 0.75 + rnd.nextDouble() * 0.5, 1 + rnd.nextInt(3))
      }
      if (b == 4) onTime :+ msg(b * 100 + 99, b * 9.0 - 40, 2) else onTime
    }
  }

  /** Runs the pipeline over `batches` on a fresh checkpoint, one
    * micro-batch per entry. With `restartAt = Some(k)` the query is
    * stopped after batch k-1 and a new one is started on the same
    * checkpoint; `firstLeg` names the checkpoint manager of the part
    * before the restart. Returns the emitted rows, sorted, and the
    * manager each leg resolved.
    */
  private def run(restartAt: Option[Int], firstLeg: Option[String])
      : (Seq[(Int, Double)], Seq[Class[_]]) = {
    val s = spark.newSession()
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString
    val stream = MemoryStream[String](s, 2)(Encoders.STRING)
    val emitted = new ConcurrentHashMap[Long, Seq[(Int, Double)]]()
    val sink = new VoidFunction2[Dataset[Row], java.lang.Long] {
      // keyed by batch id: a batch replayed after the restart replaces
      // its first attempt, as an idempotent sink would
      def call(df: Dataset[Row], id: java.lang.Long): Unit =
        emitted.put(id, df.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq)
    }
    val managers = Seq.newBuilder[Class[_]]
    def leg(from: Int, until: Int): Unit = {
      val out = KafkaPipeline.paymentRangeSum(s, stream.toDF())
      managers += CheckpointFileManager.create(new Path(ckpt),
        s.sessionState.newHadoopConf()).getClass
      val q = out.writeStream.outputMode("append").foreachBatch(sink)
        .option("checkpointLocation", ckpt).start()
      try batches.slice(from, until).foreach { b =>
        stream.addData(b)
        q.processAllAvailable()
      } finally { q.stop(); q.awaitTermination() }
    }
    restartAt match {
      case None => leg(0, batches.size)
      case Some(k) =>
        firstLeg.foreach(s.conf.set(LocalCheckpointFileManager.ClassKey, _))
        leg(0, k)
        s.conf.unset(LocalCheckpointFileManager.ClassKey)
        leg(k, batches.size)
    }
    (emitted.values.asScala.flatten.toSeq.sorted, managers.result())
  }

  private lazy val uninterrupted = {
    val (rows, managers) = run(None, None)
    assert(managers === Seq(classOf[LocalCheckpointFileManager]))
    // every on-time event emits once; the late one is dropped
    assert(rows.size === batches.flatten.size - 1)
    rows
  }

  test("restart on a checkpoint written by graft's manager emits the uninterrupted run's sums") {
    val (rows, managers) = run(Some(3), None)
    assert(managers === Seq.fill(2)(classOf[LocalCheckpointFileManager]))
    assert(rows === uninterrupted)
  }

  test("restart on a checkpoint written by Spark's default manager emits the uninterrupted run's sums") {
    val (rows, managers) = run(Some(3),
      Some(classOf[FileContextBasedCheckpointFileManager].getName))
    assert(managers === Seq(classOf[FileContextBasedCheckpointFileManager],
      classOf[LocalCheckpointFileManager]))
    assert(rows === uninterrupted)
  }
}
