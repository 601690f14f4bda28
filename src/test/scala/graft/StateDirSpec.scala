package graft

import java.nio.file.Paths
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.state.StateDir
import graft.util.Fs

/** The durable-state substrate's races: the writer lease's mkdir
  * collision retry and the checkpoint bind's first-bind race, driven by
  * threads released together from one barrier. */
class StateDirSpec extends AnyFunSuite {

  private val base = Paths.get("target/tmp/state_dir_spec")

  /** Run `n` bodies at once (a barrier releases them together) and
    * return each one's outcome, in thread order. */
  private def race[T](n: Int)(body: Int => T): Seq[Try[T]] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(n)
    try {
      val fs = (0 until n).map(i => Future { barrier.await(); Try(body(i)) })
      Await.result(Future.sequence(fs), 60.seconds)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("8 racing acquireWriter calls get the distinct epochs 0..7 and only the highest passes the fence") {
    val dir = base.resolve("lease").toString
    Fs.deleteRecursive(Paths.get(dir))
    val epochs = race(8)(_ => StateDir.acquireWriter(dir)).map(_.get)
    assert(epochs.sorted == (0L to 7L))
    StateDir.fence(dir, 7L)
    (0L to 6L).foreach { e =>
      val ex = intercept[IllegalArgumentException](StateDir.fence(dir, e))
      assert(ex.getMessage.contains("fenced"))
    }
  }

  test("two checkpoints racing the first bind: at most one wins and at most one marker stays") {
    (0 until 10).foreach { round =>
      val dir = base.resolve(s"bind$round").toString
      Fs.deleteRecursive(Paths.get(dir))
      val outcomes = race(2)(i => StateDir.bindCheckpoint(dir, s"$base/ckpt$i"))
      val won = outcomes.zipWithIndex.collect { case (r, i) if r.isSuccess => i }
      assert(won.size <= 1, s"round $round: both binds succeeded")
      outcomes.filter(_.isFailure).foreach { r =>
        val ex = r.failed.get
        assert(ex.isInstanceOf[IllegalArgumentException], ex)
        assert(ex.getMessage.contains("bound to a different admission checkpoint"))
      }
      val markers = StateDir.children(Paths.get(dir, "writers"))
        .map(_.getFileName.toString).filter(_.startsWith("ckpt="))
      assert(markers.size == won.size, s"round $round: markers $markers")
      // the winner, if any, keeps binding; the loser keeps refusing
      won.foreach { w =>
        StateDir.bindCheckpoint(dir, s"$base/ckpt$w")
        intercept[IllegalArgumentException] {
          StateDir.bindCheckpoint(dir, s"$base/ckpt${1 - w}")
        }
      }
    }
  }
}
