package graft

import graft.transforms.CellStore
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.concurrent.{Await, Future, blocking}
import scala.jdk.CollectionConverters._

class InParallelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Group = "spark.jobGroup.id"

  /** One task on each thread of the global pool, plus two more: every
    * task waits until all have started, so no thread takes two. Returns
    * each task's thread and the local property `key` that thread carries.
    */
  private def onEveryPoolThread(key: String = Group): Seq[(Thread, String)] = {
    val n = Thread.getAllStackTraces.keySet.asScala
      .count(_.getName.startsWith("scala-execution-context-global")) + 2
    val started = new CountDownLatch(n)
    Await.result(Future.sequence((1 to n).map(_ => Future(blocking {
      val seen = (Thread.currentThread,
        spark.sparkContext.getLocalProperty(key))
      started.countDown()
      started.await(20, TimeUnit.SECONDS)
      seen
    }))), 60.seconds)
  }

  /** The leg threads of the first `attempt` (of at most 10) that ran a
    * leg on a pool thread sampled with no `key` just before. A pool
    * thread created while the legs are submitted inherits the caller's
    * properties, so a leg landing on one shows nothing about the
    * restore; which thread takes a leg depends on the pool's history.
    */
  private def legsOnCleanThreads(key: String)(attempt: () => Seq[Thread])
      : Set[Thread] =
    Iterator.range(0, 10).map { _ =>
      val clean = onEveryPoolThread(key)
        .collect { case (t, v) if v == null || v.isEmpty => t }.toSet
      attempt().toSet.intersect(clean)
    }.find(_.nonEmpty).getOrElse(Set.empty)

  test("inParallel restores the pooled threads' own job group after the legs") {
    val sc = spark.sparkContext
    sc.setLocalProperty(Group, null)
    val legThreads = legsOnCleanThreads(Group) { () =>
      sc.setLocalProperty(Group, "stmt-1")
      val legs =
        try CellStore.inParallel(Seq.fill(2)(() =>
          (Thread.currentThread, sc.getLocalProperty(Group))))
        finally sc.setLocalProperty(Group, null)
      assert(legs.forall(_._2 == "stmt-1"), legs)
      legs.map(_._1)
    }
    assert(legThreads.nonEmpty)
    val after = onEveryPoolThread().filter(r => legThreads(r._1))
    assert(after.nonEmpty)
    assert(after.forall(_._2 == null), after)
  }

  test("inParallel rethrows the first leg's failure with the second's suppressed") {
    spark
    val e = intercept[IllegalStateException](CellStore.inParallel(Seq(
      () => throw new IllegalStateException("leg a"),
      () => throw new IllegalArgumentException("leg b"))))
    assert(e.getMessage == "leg a")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("leg b"))
  }

  test("inParallel runs every leg's jobs under the caller's job tags") {
    val sc = spark.sparkContext
    val Tags = "spark.job.tags" // SparkContext.SPARK_JOB_TAGS
    sc.clearJobTags()
    val seen = new ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty(Tags))))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val legThreads =
      try legsOnCleanThreads(Tags) { () =>
        sc.addJobTag("stmt-2")
        try CellStore.inParallel(Seq.fill(2)(() => {
          spark.range(100).repartition(2).count()
          Thread.currentThread
        }))
        finally sc.removeJobTag("stmt-2")
      }
      finally {
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    val tagged = seen.asScala.toSeq
    assert(tagged.size >= 2, tagged)
    assert(tagged.forall(_.exists(_.split(",").contains("stmt-2"))), tagged)
    assert(legThreads.nonEmpty)
    val after = onEveryPoolThread(Tags).filter(r => legThreads(r._1))
    assert(after.nonEmpty)
    assert(after.forall(r => r._2 == null || r._2.isEmpty), after)
  }
}
