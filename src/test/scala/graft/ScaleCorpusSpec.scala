package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The replicated corpus: twice the rows, unique keys, and per replica the
  * same event timestamps and `event_id % 10` as its source. */
class ScaleCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = gps.TestSpark.spark
  val sf = "/root/testdata/sf0.001"
  lazy val out: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_scale_corpus")
      .toString
    ScaleCorpus.write(spark, sf, d, 2)
    d
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  override def afterAll(): Unit = {
    delete(new File(gps.parse.NmeaSynth.logDir(spark, out)))
    delete(new File(out))
  }

  private def src(t: String): DataFrame = engine.Core.t(spark, sf, t)
  private def scaled(t: String): DataFrame = engine.Core.t(spark, out, t)

  test("each table has exactly twice its source's rows") {
    for (t <- Seq("documents", "embeddings", "events", "orders", "lineitem"))
      assert(scaled(t).count() == 2 * src(t).count(), t)
  }

  test("replicas share no key: each key is unique where its source's is") {
    def keys(df: DataFrame, key: Seq[String]): Long =
      df.select(key.map(col): _*).distinct().count()
    for ((t, key) <- Seq("documents" -> Seq("doc_id"),
        "embeddings" -> Seq("vec_id"), "events" -> Seq("event_id"),
        "orders" -> Seq("o_orderkey"),
        "lineitem" -> Seq("l_orderkey", "l_linenumber"))) {
      val what = s"$t ${key.mkString(", ")}"
      assert(keys(scaled(t), key) == 2 * keys(src(t), key), what)
      // the testdata repeats (l_orderkey, l_linenumber) pairs
      if (t != "lineitem") assert(keys(scaled(t), key) == scaled(t).count(), what)
    }
  }

  test("each replica keeps its source's event_id % 10 and ts") {
    val want = src("events")
      .select(col("event_id"), col("event_id") % 10, col("ts"))
    for (k <- 0 until 2) {
      val replica = scaled("events")
        .filter(col("event_id") >= k * 1000000L &&
          col("event_id") < (k + 1) * 1000000L)
        .select((col("event_id") - k * 1000000L).as("event_id"),
          col("event_id") % 10, col("ts"))
      assert(replica.count() == want.count(), s"replica $k")
      assert(replica.exceptAll(want).isEmpty, s"replica $k")
    }
  }

  test("the NMEA log over the scaled dir has twice the lines and devices") {
    val (a, b) = (gps.parse.NmeaSynth.readLog(spark, sf),
      gps.parse.NmeaSynth.readLog(spark, out))
    assert(b.count() == 2 * a.count())
    assert(b.select("device").distinct().count() ==
      2 * a.select("device").distinct().count())
  }
}
