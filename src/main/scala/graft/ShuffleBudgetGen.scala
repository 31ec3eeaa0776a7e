package graft

/** Freezes the catalog-wide SHUFFLE BUDGET: one sweep of every query's
  * static physical plan (AQE off — the pre-runtime shape), rendered as the
  * `graft.ShuffleBudget` test source. PlanAuditSpec then fails BY NAME any
  * query whose ShuffleExchange count rises above its frozen budget — the
  * cheapest catalog-wide guard against the classic scale regression (a
  * refactor that silently adds an Exchange to a map-only plan, invisible
  * to correctness gates and to sub-second sf0.1 timings, ruinous at
  * 100 TB). Broadcast exchanges are budgeted too: a broadcast that
  * silently becomes a shuffle (or multiplies) is the same class of
  * regression.
  *
  * Regenerate ONLY when a deliberate plan change moves a count, and say
  * why in the commit:
  * sbt "runMain graft.ShuffleBudgetGen src/test/scala/graft/ShuffleBudget.scala"
  */
object ShuffleBudgetGen {
  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse(
      "src/test/scala/graft/ShuffleBudget.scala")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(8, Seq("spark.sql.adaptive.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")
    val counts = PlanAudit.sweep(spark, sfDir)
    val errs = counts.collect { case (n, c) if c.error.isDefined => n }
    require(errs.isEmpty, s"plan build failed for: ${errs.mkString(", ")}")
    val sb = new StringBuilder
    sb ++= "package graft\n\n"
    sb ++= "/** GENERATED by `graft.ShuffleBudgetGen` — do not hand-edit.\n"
    sb ++= "  * Frozen (shuffle, broadcast) Exchange budget per catalog query,\n"
    sb ++= "  * from the static plan at sf0.001 with AQE off. PlanAuditSpec\n"
    sb ++= "  * fails any query that exceeds its budget; regenerate only for\n"
    sb ++= "  * DELIBERATE plan changes, and justify in the commit message.\n"
    sb ++= "  */\n"
    sb ++= "object ShuffleBudget {\n"
    sb ++= "  val budget: Map[String, (Int, Int)] = Map(\n"
    sb ++= counts.map { case (name, c) =>
      s"""    "$name" -> (${c.shuffles}, ${c.broadcasts})"""
    }.mkString(",\n")
    sb ++= ")\n}\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $outFile (${counts.size} queries)")
    spark.stop()
  }
}
