package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import graft.market.MarketOps
import graft.storage.Lake

/** The point requests take their instant by reference: the code Spark
  * generates for them is the same at every instant, so a new instant
  * compiles nothing, while the parquet scan still gets both validity
  * bounds as pushed filters. Code strings are compared, not a global
  * compile counter, because suites share the JVM. */
class InstantCodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-instant-codegen")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def generatedCode(df: DataFrame): Seq[String] = {
    df.collect()
    codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
  }

  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  test("orderBook, startingDepth and spreadAt generate the same code at two instants") {
    val path = java.nio.file.Files.createTempDirectory("graft-instant").toString
    Lake.writeLevel3(OrderBookFixture.level3(spark), path)
    val lake = Lake.readLevel3(spark, path)
    val t1 = OrderBookFixture.Start + 12345L
    val t2 = OrderBookFixture.Start + 43210L
    val requests: Seq[(String, Long => DataFrame)] = Seq(
      "orderBook" -> (t => MarketOps.orderBookQuery(lake, t)),
      "startingDepth" -> (t => MarketOps.startingDepth(lake, t)),
      "spreadAt" -> (t => MarketOps.spreadAt(lake, t)))
    requests.foreach { case (name, request) =>
      val (a, b) = (request(t1), request(t2))
      val code = generatedCode(a)
      assert(code.nonEmpty, s"$name: no whole-stage code")
      assert(code == generatedCode(b), s"$name: generated code differs")
      Seq(t1 -> a, t2 -> b).foreach { case (t, df) =>
        val pushed = df.queryExecution.explainString(FormattedMode)
          .linesIterator.filter(_.trim.startsWith("PushedFilters:")).toSeq
        assert(pushed.exists(l =>
          l.contains(s"LessThanOrEqual(microtimestamp,$t)") &&
            l.contains(s"GreaterThan(next_microtimestamp,$t)")),
          s"$name: instant bounds not pushed: ${pushed.mkString("; ")}")
      }
    }
    val book = initialPlan(MarketOps.orderBookQuery(lake, t1))
    assert(book.collect { case e: ShuffleExchangeExec => e }.size == 1, book)
    assert(book.collect { case w: WindowExec => w }.isEmpty, book)
  }
}
