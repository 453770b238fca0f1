package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftext.ListenerBus
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val (result, sites) = jobSitesDuring(body)
    (result, sites.size)
  }

  /** `body`'s result and the call site of every Spark job it started:
    * a short name plus the first `graft.` frame of the long form. The
    * call site is the SQL execution's that started the job, where there
    * is one: an adaptive query submits its stage jobs from a pool
    * thread, whose stages name no frame of the caller. Otherwise it is
    * the job's last stage's. */
  def jobSitesDuring[A](body: => A): (A, Seq[String]) = {
    def site(name: String, details: String): String = {
      val frame = details.linesIterator.map(_.trim).find(_.startsWith("graft."))
      s"$name [${frame.getOrElse("no graft frame")}]"
    }
    val executions = new ConcurrentHashMap[Long, String]
    val sites = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.put(x.executionId, site(x.description, x.details))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val last = e.stageInfos.maxBy(_.stageId)
        val execution = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(executions.get(id.toLong)))
        sites.add(execution.getOrElse(site(last.name, last.details)))
      }
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val result =
      try body
      finally {
        ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    (result, sites.asScala.toSeq)
  }

  /** `sites` as one line per distinct call site with its job count,
    * most jobs first: the failure message of a job ceiling. */
  def bySite(sites: Seq[String]): String =
    sites.groupBy(identity).toSeq.sortBy { case (s, n) => (-n.size, s) }
      .map { case (s, n) => s"  ${n.size} x $s" }.mkString("\n")
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
