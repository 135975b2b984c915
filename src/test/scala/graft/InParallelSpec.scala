package graft

import graft.transforms.IndexMaintenance
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.concurrent.{Await, Future, blocking}
import scala.jdk.CollectionConverters._

class InParallelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Group = "spark.jobGroup.id"

  /** One task on each thread of the global pool, plus two more: every
    * task waits until all have started, so no thread takes two. Returns
    * each task's thread and the job group that thread carries.
    */
  private def onEveryPoolThread(): Seq[(Thread, String)] = {
    val n = Thread.getAllStackTraces.keySet.asScala
      .count(_.getName.startsWith("scala-execution-context-global")) + 2
    val started = new CountDownLatch(n)
    Await.result(Future.sequence((1 to n).map(_ => Future(blocking {
      val seen = (Thread.currentThread,
        spark.sparkContext.getLocalProperty(Group))
      started.countDown()
      started.await(20, TimeUnit.SECONDS)
      seen
    }))), 60.seconds)
  }

  test("inParallel restores the pooled threads' own job group after the legs") {
    val sc = spark.sparkContext
    sc.setLocalProperty(Group, null)
    // pool threads created now inherit no group from this caller
    val clean = onEveryPoolThread().map(_._1).toSet
    sc.setLocalProperty(Group, "stmt-1")
    val (a, b) =
      try IndexMaintenance.inParallel(
        (Thread.currentThread, sc.getLocalProperty(Group)),
        (Thread.currentThread, sc.getLocalProperty(Group)))
      finally sc.setLocalProperty(Group, null)
    assert(a._2 == "stmt-1" && b._2 == "stmt-1")
    val legThreads = Set(a._1, b._1).intersect(clean)
    assert(legThreads.nonEmpty)
    val after = onEveryPoolThread().filter(r => legThreads(r._1))
    assert(after.nonEmpty)
    assert(after.forall(_._2 == null), after)
  }

  test("inParallel rethrows the first leg's failure with the second's suppressed") {
    spark
    val e = intercept[IllegalStateException](IndexMaintenance.inParallel(
      throw new IllegalStateException("leg a"),
      throw new IllegalArgumentException("leg b")))
    assert(e.getMessage == "leg a")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("leg b"))
  }
}
