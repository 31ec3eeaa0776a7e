package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Catalog-wide physical-plan audit: one line per query with the plan
  * facts that matter at 100 TB — shuffle-exchange count, broadcast count,
  * cross-product/nested-loop joins, and unpartitioned window operators.
  * Run it after adding operators; anything surprising here is a scale bug
  * before it is a perf bug. PlanAuditSpec runs the same sweep as a
  * regression GATE (zero cartesian/BNLJ, global windows frozen to an
  * explicit allowlist); this main remains the human-readable report.
  *
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001"
  */
object PlanAudit {

  /** Plan facts for one query. `globalWindows` counts WindowExec operators
    * with an empty partitionSpec — every row in one partition, the classic
    * never-at-100TB shape unless the input is provably bounded first. */
  final case class Counts(
      shuffles: Int, broadcasts: Int, cartesian: Int, bnlj: Int,
      globalWindows: Int, error: Option[String])

  /** Sweep every catalog query's STATIC physical plan (caller must have
    * AQE disabled — adaptive wrapping hides the pre-runtime shape). */
  def sweep(spark: SparkSession, sfDir: String): Seq[(String, Counts)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        def count(p: SparkPlan => Boolean): Int = {
          var n = 0
          plan.foreachWithSubqueries(x => if (p(x)) n += 1)
          n
        }
        Counts(
          count(_.isInstanceOf[ShuffleExchangeExec]),
          count(_.isInstanceOf[BroadcastExchangeExec]),
          count(_.isInstanceOf[CartesianProductExec]),
          count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
          count {
            case w: WindowExec => w.partitionSpec.isEmpty
            case _ => false
          },
          None)
      } catch {
        case scala.util.control.NonFatal(t) =>
          Counts(0, 0, 0, 0, 0, Some(Option(t.getMessage).getOrElse(
            t.getClass.getName).take(120)))
      })
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // audit the static plan: AQE would hide the pre-runtime shape
    val spark = GraftSession.local(8, Seq("spark.sql.adaptive.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-28s shuf bcast cartesian bnlj gwindow")
    sweep(spark, sfDir).foreach {
      case (name, Counts(_, _, _, _, _, Some(err))) =>
        println(f"$name%-28s ERROR $err")
      case (name, c) =>
        val flag =
          if (c.cartesian > 0 || c.bnlj > 0 || c.globalWindows > 0) "  <--"
          else ""
        println(f"$name%-28s ${c.shuffles}%4d ${c.broadcasts}%5d " +
          f"${c.cartesian}%9d ${c.bnlj}%4d ${c.globalWindows}%7d$flag")
    }
    spark.stop()
  }
}
