package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` knob is read through `ScopedConf.positive`
  * (or `nonNegative`, where 0 is a value), the `SPARK_GRAFT_*`
  * variables graft parses reject a bad value, and both entry points
  * that take `SPARK_GRAFT_CONF` parse it with
  * `ScopedConf.parseConfPairs`: a bad value fails loudly, naming what
  * was wrong, instead of silently running the default.
  */
class ScopedConfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val key = "spark.graft.test.knob"

  private def failure(body: => Any): String =
    intercept[IllegalArgumentException](body).getMessage

  test("knob reader: unset reads the default, a set value wins, a malformed value fails naming the key") {
    val s = spark.newSession()
    assert(ScopedConf.positive(s, key, 7L) === 7L)
    assert(ScopedConf.positiveOption(s, key) === None)
    s.conf.set(key, " 12 ")
    assert(ScopedConf.positive(s, key, 7L) === 12L)
    assert(ScopedConf.positiveInt(s, key, 7) === 12)
    s.conf.set(key, "12k")
    val msg = failure(ScopedConf.positive(s, key, 7L))
    assert(msg.contains(key) && msg.contains("12k"), msg)
    // a production site reads through the same reader
    import graft.queries.DedupQueries
    s.conf.set(DedupQueries.PairsPerTaskKey, "lots")
    assert(failure(DedupQueries.expandWidth(s, 10L, 1))
      .contains(DedupQueries.PairsPerTaskKey))
    // the pair storage level, the one non-numeric knob, fails the same way
    s.conf.set(DedupQueries.PairStorageKey, "DISK_ONYL")
    assert(failure(DedupQueries.bigCheckpoint(s.range(2).toDF()))
      .contains(DedupQueries.PairStorageKey))
  }

  test("knob reader: a zero, negative or Int-overflowing value fails naming the key") {
    val s = spark.newSession()
    for (bad <- Seq("0", "-3")) {
      s.conf.set(key, bad)
      val msg = failure(ScopedConf.positive(s, key, 7L))
      assert(msg.contains(key) && msg.contains(bad), msg)
      assert(failure(ScopedConf.positiveOption(s, key)).contains(key))
    }
    s.conf.set(key, (Int.MaxValue.toLong + 1).toString)
    assert(ScopedConf.positive(s, key, 7L) === Int.MaxValue.toLong + 1)
    assert(failure(ScopedConf.positiveInt(s, key, 7)).contains(key))
  }

  test("non-negative knob reader: 0 is a value, a negative or malformed value fails naming the key") {
    val s = spark.newSession()
    assert(ScopedConf.nonNegative(s, key, 7L) === 7L)
    s.conf.set(key, "0")
    assert(ScopedConf.nonNegative(s, key, 7L) === 0L)
    for (bad <- Seq("-1", "1e6", "")) {
      s.conf.set(key, bad)
      val msg = failure(ScopedConf.nonNegative(s, key, 7L))
      assert(msg.contains(s"$key='$bad'"), msg)
    }
    // the candidate-broadcast ceiling reads through it
    import graft.queries.DedupQueries
    s.conf.set(DedupQueries.CandBroadcastMaxKey, "-5")
    val docs = Tables.documents(s, SparkTestSession.sf).select("doc_id", "text")
    assert(failure(DedupQueries.minHashPairs(docs))
      .contains(DedupQueries.CandBroadcastMaxKey))
  }

  test("SPARK_GRAFT_TINY_LOOP_ROWS and SPARK_GRAFT_STREAM_SINK: a bad value fails naming the variable") {
    assert(ScopedConf.tinyLoopRows(None) === 100L * 1000 * 1000)
    assert(ScopedConf.tinyLoopRows(Some(" 0 ")) === 0L)
    for (bad <- Seq("lots", "-1")) {
      val msg = failure(ScopedConf.tinyLoopRows(Some(bad)))
      assert(msg.contains(s"SPARK_GRAFT_TINY_LOOP_ROWS='$bad'"), msg)
    }
    import graft.streaming.StreamingQueries.sinkModeOf
    assert(sinkModeOf(None) === "memory")
    assert(sinkModeOf(Some(" File ")) === "file")
    assert(sinkModeOf(Some("memory")) === "memory")
    val msg = failure(sinkModeOf(Some("parquet")))
    assert(msg.contains("SPARK_GRAFT_STREAM_SINK='parquet'"), msg)
  }

  test("SPARK_GRAFT_CONF parser: key=value pairs, blanks skipped, an entry without '=' fails naming it") {
    assert(ScopedConf.parseConfPairs(
      " spark.graft.a=1 ;; spark.sql.x=a=b;spark.graft.b=") ===
      Seq("spark.graft.a" -> "1", "spark.sql.x" -> "a=b",
        "spark.graft.b" -> ""))
    assert(ScopedConf.parseConfPairs("") === Nil)
    for (bad <- Seq("spark.graft.a=1;spark.graft.noValue", "=1")) {
      val msg = failure(ScopedConf.parseConfPairs(bad))
      assert(msg.contains(bad.split(";").last), msg)
    }
  }
}
