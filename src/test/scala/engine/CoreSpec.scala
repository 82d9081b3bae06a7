package engine

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Pins Core.publishOnce's locking contract: same-dir publishes
  * serialize and write exactly once; publishes of UNRELATED dirs overlap
  * instead of queueing on a global monitor; a failed produce step
  * deletes its temp dir and leaves no published marker; a publish that
  * writes logs its dir as built. Also pins the keyed registry's hit and
  * build contract, the one session-stop listener per context, the
  * scoping of Core.withConfs and Core.describe, and by source scans
  * that engine code changes session settings, sets job descriptions
  * and starts streams through nothing else. */
class CoreSpec extends AnyFunSuite {

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_corespec_$tag").toFile.getPath + "/pub"

  private def cleanup(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(dir))
    rm(new java.io.File(dir + ".lock"))
    Option(new java.io.File(dir).getParentFile).foreach(rm)
  }

  test("same-dir concurrent publishes write exactly once") {
    val dir = freshDir("same")
    val writes = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 8).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = Core.publishOnce(dir) { tmp =>
            writes.incrementAndGet()
            new java.io.File(tmp).mkdirs()
            Files.writeString(java.nio.file.Paths.get(tmp, "data"), "x")
            Files.writeString(java.nio.file.Paths.get(tmp, "_SUCCESS"), "")
          }
        })
      }
      tasks.foreach(_.get(30, TimeUnit.SECONDS))
      // the monitor serializes same-dir publishes, and every later entrant
      // sees the _SUCCESS marker and skips its write entirely
      assert(writes.get() == 1, s"expected 1 write, got ${writes.get()}")
      assert(new java.io.File(dir, "_SUCCESS").exists())
    } finally { pool.shutdownNow(); cleanup(dir) }
  }

  test("unrelated-dir publishes overlap (no global serialization)") {
    val dirA = freshDir("a"); val dirB = freshDir("b")
    // both writers must be INSIDE their produce step at the same moment —
    // impossible under the old JVM-global synchronized publishOnce
    val bothIn = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    def writer(dir: String) = pool.submit(new Runnable {
      def run(): Unit = Core.publishOnce(dir) { tmp =>
        bothIn.countDown()
        assert(release.await(10, TimeUnit.SECONDS),
          "peer publish never entered its produce step — publishes of " +
            "unrelated dirs are serializing")
        new java.io.File(tmp).mkdirs()
        Files.writeString(java.nio.file.Paths.get(tmp, "_SUCCESS"), "")
      }
    })
    try {
      val fa = writer(dirA); val fb = writer(dirB)
      assert(bothIn.await(10, TimeUnit.SECONDS),
        "publishes of unrelated dirs did not overlap")
      release.countDown()
      fa.get(30, TimeUnit.SECONDS); fb.get(30, TimeUnit.SECONDS)
      assert(new java.io.File(dirA, "_SUCCESS").exists())
      assert(new java.io.File(dirB, "_SUCCESS").exists())
    } finally { pool.shutdownNow(); cleanup(dirA); cleanup(dirB) }
  }

  test("failed produce step strands no temp dir and publishes nothing") {
    val dir = freshDir("fail")
    val parent = new java.io.File(dir).getParentFile
    try {
      intercept[RuntimeException] {
        Core.publishOnce(dir) { tmp =>
          new java.io.File(tmp).mkdirs()
          Files.writeString(java.nio.file.Paths.get(tmp, "partial"), "x")
          throw new RuntimeException("synthetic write failure")
        }
      }
      assert(!new java.io.File(dir).exists(), "failed publish left the dir")
      val leftovers = Option(parent.listFiles()).toSeq.flatten
      assert(leftovers.isEmpty,
        s"failed publish stranded: ${leftovers.map(_.getName).toSeq}")
      // a later publish of the same dir succeeds normally
      Core.publishOnce(dir) { tmp =>
        new java.io.File(tmp).mkdirs()
        Files.writeString(java.nio.file.Paths.get(tmp, "_SUCCESS"), "")
      }
      assert(new java.io.File(dir, "_SUCCESS").exists())
    } finally cleanup(dir)
  }

  test("a publish that writes its dir logs it as built, once") {
    val dir = s"${freshDir("built")}_${System.nanoTime}"
    val name = new java.io.File(dir).getName
    def publish(): Unit = Core.publishOnce(dir) { tmp =>
      new java.io.File(tmp).mkdirs()
      Files.writeString(java.nio.file.Paths.get(tmp, "_SUCCESS"), "")
    }: Unit
    try {
      ScratchCache.drainBuiltLog()
      publish()
      assert(ScratchCache.drainBuiltLog().count(_ == name) == 1)
      publish() // already published: nothing written, nothing logged
      assert(!ScratchCache.drainBuiltLog().contains(name))
    } finally cleanup(dir)
  }

  test("persistKeyed reuses a hit without rebuilding and logs a first build once") {
    val spark = gps.TestSpark.spark
    import spark.implicits._
    ScratchCache.drainBuiltLog()
    val a = ScratchCache.persistKeyed("corespec_keyed_a")(Seq(1, 2, 3).toDF("x"))
    assert(a.count() == 3 && a.storageLevel.useMemory)
    assert(ScratchCache.drainBuiltLog() == Seq("corespec_keyed_a"))
    // a HIT never re-derives (the by-name builder must not run) and
    // logs nothing
    val a2 = ScratchCache.persistKeyed("corespec_keyed_a")(
      sys.error("hit must not re-derive"))
    assert(a2.count() == 3)
    assert(ScratchCache.drainBuiltLog().isEmpty)
  }

  test("cleanupAtSessionStop adds at most one listener per session") {
    val spark = gps.TestSpark.spark
    val sc = spark.sparkContext
    val dirs = (1 to 3).map(i => Files.createTempDirectory(s"graft_stop_$i").toFile)
    try {
      val before = org.apache.spark.graft.ListenerCount(sc)
      dirs.foreach(Core.cleanupAtSessionStop(spark, _))
      assert(org.apache.spark.graft.ListenerCount(sc) - before <= 1)
    } finally dirs.foreach(Core.deleteRecursively)
  }

  test("boundedCollect returns within-bound rows and throws past the " +
      "declared bound (r15 verdict item 8)") {
    val spark = gps.TestSpark.spark
    import spark.implicits._
    val ds = spark.range(10).as[Long]
    assert(Core.boundedCollect(ds, 10, "ok").sorted == (0L until 10))
    val ex = intercept[IllegalArgumentException] {
      Core.boundedCollect(ds, 9, "overflow-probe")
    }
    assert(ex.getMessage.contains("overflow-probe"))
  }

  private val setKey = "corespec.withconfs.set"
  private val absentKey = "corespec.withconfs.absent"

  test("withConfs restores a prior value") {
    val spark = gps.TestSpark.spark
    spark.conf.set(setKey, "before")
    try {
      val seen = Core.withConfs(spark)(setKey -> "inside")(
        spark.conf.get(setKey))
      assert(seen == "inside")
      assert(spark.conf.get(setKey) == "before")
    } finally spark.conf.unset(setKey)
  }

  test("withConfs unsets a key that was absent") {
    val spark = gps.TestSpark.spark
    assert(spark.conf.getOption(absentKey).isEmpty)
    Core.withConfs(spark)(absentKey -> "inside") {
      assert(spark.conf.get(absentKey) == "inside")
    }
    assert(spark.conf.getOption(absentKey).isEmpty)
  }

  test("withConfs restores when its body throws") {
    val spark = gps.TestSpark.spark
    spark.conf.set(setKey, "before")
    try {
      intercept[IllegalStateException] {
        Core.withConfs(spark)(setKey -> "inside", absentKey -> "inside")(
          throw new IllegalStateException("body failed"))
      }
      assert(spark.conf.get(setKey) == "before")
      assert(spark.conf.getOption(absentKey).isEmpty)
    } finally spark.conf.unset(setKey)
  }

  test("withConfs nests: each scope restores what it found") {
    val spark = gps.TestSpark.spark
    Core.withConfs(spark)(absentKey -> "outer") {
      Core.withConfs(spark)(absentKey -> "inner", setKey -> "inner") {
        assert(spark.conf.get(absentKey) == "inner")
      }
      assert(spark.conf.get(absentKey) == "outer")
      assert(spark.conf.getOption(setKey).isEmpty)
    }
    assert(spark.conf.getOption(absentKey).isEmpty)
  }

  test("describe restores the prior job description, also when its " +
      "body throws") {
    val spark = gps.TestSpark.spark
    def label = spark.sparkContext.getLocalProperty("spark.job.description")
    val before = label
    Core.describe(spark, "corespec:outer") {
      assert(Core.describe(spark, "corespec:inner")(label) == "corespec:inner")
      assert(label == "corespec:outer")
      intercept[IllegalStateException] {
        Core.describe(spark, "corespec:inner")(
          throw new IllegalStateException("body failed"))
      }
      assert(label == "corespec:outer")
    }
    assert(label == before)
  }

  /** Lines of the Scala sources under `root` that match `call`, outside
    * the bodies of the definitions whose first line contains one of
    * `defns` in the file named `home`. */
  private def hitsOutside(root: String, call: scala.util.matching.Regex,
      home: String, defns: String*): Seq[String] = {
    val files = Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toSeq
      val helper = if (f.getFileName.toString == home) defns.flatMap { defn =>
        val from = lines.indexWhere(_.contains(defn))
        assert(from >= 0, s"$defn not found in $home")
        val to = lines.indexWhere(_.startsWith("  }"), from)
        from to to
      } else Seq.empty
      lines.zipWithIndex.collect {
        case (l, i) if call.findFirstIn(l).isDefined && !helper.contains(i) =>
          s"$f:${i + 1}: ${l.trim}"
      }
    }
  }

  test("engine code changes a session setting only through withConfs") {
    // a save/set/restore block of its own leaks a setting when it gets the
    // restore wrong, and hides from anyone looking for shared-session
    // writes; this scan leaves Core.withConfs as the one place to look
    val hits = hitsOutside("src/main/scala/engine", raw"conf\.(set|unset)\(".r,
      "Core.scala", "def withConfs[")
    assert(hits.isEmpty, "scope session settings with Core.withConfs:\n" +
      hits.mkString("\n"))
  }

  test("engine and harness code set a job description only through " +
      "describe") {
    // an unscoped label leaks onto the next op's jobs
    val hits = hitsOutside("src/main/scala", raw"setJobDescription\(".r,
      "Core.scala", "def describe[")
    assert(hits.isEmpty, "label jobs with Core.describe:\n" +
      hits.mkString("\n"))
  }

  test("engine code starts a stream only through runToCompletion") {
    val hits = hitsOutside("src/main/scala/engine",
      raw"checkpointLocation|AvailableNow\(\)".r,
      "StreamQueries.scala", "def runToCompletion(")
    assert(hits.isEmpty, "run streams with StreamQueries.runToCompletion:\n" +
      hits.mkString("\n"))
  }

  test("engine code starts a thread only in DeferredCommit and " +
      "ann_recall_report's lanes") {
    // every sibling thread plans under whatever settings another thread
    // has scoped at that moment; the online capstones' deferred index
    // commit and the recall report's rung lanes are the overlaps kept
    val hits = hitsOutside("src/main/scala/engine", raw"new Thread\(".r,
      "SearchQueries.scala", "final class DeferredCommit", "def inLanes(")
    assert(hits.isEmpty, "run engine work on the caller's thread:\n" +
      hits.mkString("\n"))
  }

  test("the small-frame width is the session's cores, capped at 8") {
    // tests run on 4 cores; Bench and Verify default to 32, where more
    // stores than 8 only add commits
    assert(Seq(1, 4, 8, 16, 32).map(Core.smallFrameWidthFor) ==
      Seq(1, 4, 8, 8, 8))
    val spark = gps.TestSpark.spark
    assert(Core.smallFrameWidth(spark) ==
      Core.smallFrameWidthFor(spark.sparkContext.defaultParallelism))
  }

  test("engine code sizes small frames only through smallFrameWidth") {
    // a literal width skips the session's core count; the scan reads each
    // file whole, so a key and its value on separate lines still match
    val literal = (raw"""spark\.sql\.shuffle\.partitions"\s*(->|,)\s*"\d""" +
      raw"|HashPartitioner\(\s*\d").r
    val files = Files.walk(java.nio.file.Paths.get("src/main/scala/engine"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val hits = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      literal.findAllMatchIn(text).map { m =>
        s"$f:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
      }
    }
    assert(hits.isEmpty, "size small frames with Core.smallFrameWidth(s):\n" +
      hits.mkString("\n"))
  }

  test("no per-query trigger-size key is left") {
    // one setting sizes every sized source's triggers
    // (StreamQueries.MaxFilesPerTriggerKey)
    val hits = hitsOutside("src",
      raw"spark\.graft\.[\w.]*(\.mft|filesPerTrigger)\b".r,
      home = "") // no file is exempt
    assert(hits.isEmpty, "per-query trigger-size keys:\n" + hits.mkString("\n"))
  }
}
