package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame

/** The wave-staging seam ([[Tables.stageWaves]]): one derivation per
  * key, and the waves it publishes. */
class TablesSpec extends SparkSpec {

  test("stageWaves derives a key once when two threads stage it at once; both destinations hold every wave whole at its policy mtime") {
    import spark.implicits._
    val base = Paths.get("target/tmp/tablesspec_race")
    graft.util.Fs.deleteRecursive(base)
    val dsts = Seq(base.resolve("a"), base.resolve("b"))
    dsts.foreach(Files.createDirectories(_))
    val waves = Seq((0 until 50).toDF("id"), (50 until 80).toDF("id"))
    val derivations = new AtomicInteger(0)
    def derive(): Seq[DataFrame] = {
      derivations.incrementAndGet()
      Thread.sleep(500) // hold the first build open for the second caller
      waves
    }
    val key = s"tablesspec_race_${Tables.dirTag(base.toString)}"
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val runs = dsts.map(d => pool.submit(new Runnable {
      def run(): Unit = {
        go.await()
        val stage = Tables.stageWaves(key, derive())
        (0 to 1).foreach(stage(_, Seq(d)))
      }
    }))
    go.countDown()
    try runs.foreach(_.get(120, TimeUnit.SECONDS)) finally pool.shutdown()

    assert(derivations.get == 1,
      "two concurrent first callers of one key must run its derivation once")
    assert(Tables.waveMtime(1) - Tables.waveMtime(0) == 60000L)
    dsts.foreach { d =>
      assert(graft.state.StateDir.children(d).map(_.getFileName.toString)
        .sorted == Seq("wave00.parquet", "wave01.parquet"),
        s"$d must hold exactly the two published waves")
      waves.indices.foreach { i =>
        val f = d.resolve(f"wave$i%02d.parquet")
        assert(Files.getLastModifiedTime(f).toMillis == Tables.waveMtime(i))
        assert(spark.read.parquet(f.toString).as[Int].collect().sorted.toSeq ==
          waves(i).as[Int].collect().sorted.toSeq, s"$f is not wave $i whole")
      }
    }
  }
}
