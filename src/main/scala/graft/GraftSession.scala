package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every graft main and the test session come
  * from here. Built with `GraftExtensions`, so graft's native functions
  * are in every session it makes and in every `newSession()` child. The
  * engine configuration: shuffle partitions sized to cores (not the 200
  * default), UTC session timezone (oracle parity), AQE on, UI off, and a
  * codegen class cache sized to the catalog. `conf` pairs are applied
  * after these defaults, so a caller overrides only where it differs.
  *
  * `getOrCreate` semantics: if the JVM already has a session, that
  * session is returned and the runtime confs are applied to it. */
object GraftSession {

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      conf: Seq[(String, String)] = Nil): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), cores, conf)

  /** For cluster deploys: caller supplies master/deploy settings, graft
    * supplies the engine config. Shuffle partitions should be ~2-3x total
    * executor cores (ARCHITECTURE.md §2). */
  def configure(builder: SparkSession.Builder, shufflePartitions: Int,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    // Codegen class cache sized to the catalog (round-13). The default
    // 100-entry cache can't hold 234 distinct plans' codegen units, so a
    // full sweep recompiled EVERY whole-stage source on EVERY timed pass
    // (Janino time, not plan time): the top-40 subset measured 59.9 s at
    // the default vs 45.0 s at 5000 entries. Any long-lived driver cycling
    // a catalog of plans hits the same cliff; 5000 entries bounds
    // metaspace at a few hundred MB worst-case.
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "5000")
    val spark = (defaults ++ conf)
      .foldLeft(builder.withExtensions(new graft.plans.GraftExtensions)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    // a session that predates this call was built without the extensions
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
