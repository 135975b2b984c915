package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** The Spark jobs a block of code launches, each named by the code that
  * started it. A job inside a SQL execution is named by the first
  * `graft.` frame of that execution's call site — under adaptive query
  * execution a shuffle stage's job is submitted from a pool thread, and
  * its own stage name only says `CompletableFuture.java`. Any other job
  * is named by its last stage (`collect at CellStore.scala:NNN`).
  */
object SparkJobs {
  def of(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val sites = new ConcurrentHashMap[String, String]
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.details.split('\n').map(_.trim).find(_.startsWith("graft."))
            .foreach(sites.put(s.executionId.toString, _))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val stage = e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse("")
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(sites.get(id))).getOrElse(stage))
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }
}
