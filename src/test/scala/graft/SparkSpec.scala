package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy),
  * built by GraftSession like every main, so graft's functions are in it
  * and in every `isolated` child. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Every message down the cause chain — Spark wraps raise_error /
    * require failures in SparkException layers, so asserts on error text
    * must search the whole chain. */
  def msgs(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  /** Session with ISOLATED SQLConf (shared SparkContext/catalog) for any
    * test that needs non-default conf — broadcast thresholds, AQE
    * toggles, state-store providers. sbt runs suites in parallel inside
    * the forked JVM, so a `spark.conf.set` on the SHARED session races
    * with every concurrently-planning suite (a -1 broadcast threshold
    * momentarily turns another suite's broadcast joins into SMJ/cartesian
    * and fails its plan audit). Rule: never mutate `spark.conf` in a
    * test; take an `isolated(...)` session instead — no restore needed,
    * nothing leaks. */
  def isolated(pairs: (String, String)*): SparkSession = {
    val s = SparkSpec.session.newSession()
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4, Seq("spark.app.name" -> "graft-test"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
