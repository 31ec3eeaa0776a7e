package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.sources.Tables
import graft.streaming.Events

/** The benchmark's client inside the JVM. One closed-loop thread calls the
  * public functions of each layer from outside and times them: every call
  * starts only after the previous one returned.
  *
  * Catalog workloads: a call is `QueryCatalog.queries(name)(spark, fixture)`
  * (the `queries` layer, which reads through `sources` and may run eager
  * checkpoint jobs) followed by a noop-sink write (the `plan` and `exec`
  * layers). Stream workload: a call drains the landing directory through one
  * `Events` pipeline under `Trigger.AvailableNow`.
  *
  * Set-up runs the untimed warm-up pass, whose outputs are kept for the
  * correctness checks: catalog results are written as parquet for the
  * DuckDB oracle check done by `run.py`, and stream micro-batches are
  * collected and compared here with the batch computation over the same
  * landing files once the timed passes are over, so no check runs inside
  * set-up or the timed window. On the catalog one more untimed pass
  * follows, made as the timed ones. Timed passes follow until the run's
  * seconds are spent (at least `--min-passes`, twice that when traced); the
  * seed sets the order of calls within each pass. In a traced run, odd passes
  * are traced and even passes run without the listeners, so the tracing
  * overhead is measured in the same process. Raw per-call records go to
  * `<work>/result.json`; `run.py` turns them into metrics.
  *
  * Usage: Harness --workload W --fixture DIR --work DIR --seed N
  *   --seconds S --min-passes N --trace 0|1 --cpus N [--queries q1,q2,...]
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val fixture = args("fixture")
    val work = new File(args("work"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cpus = args("cpus").toInt
    val minPasses = args("min-passes").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Run.log("session started")
    // the fixtures are one parquet file per table, as graft.Bench assumes
    spark.conf.set("graft.bench.singleFileFixture", "true")

    val tracer = new Tracer(spark)
    val spans = new Spans
    val run = new Run(spark, fixture, work, new scala.util.Random(seed), seconds,
      if (trace) 2 * minPasses else minPasses, trace, tracer, spans)
    val body =
      if (workload == "stream_microbatch") run.stream()
      else run.catalog(args("queries").split(",").toSeq)
    val env = Map(
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark" -> spark.version,
      "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.version")}")
    Files.writeString(Paths.get(work.getPath, "result.json"),
      Json(body ++ Map("workload" -> workload, "seed" -> seed, "traced" -> trace,
        "env" -> env)))
    if (trace) Files.writeString(Paths.get(work.getPath, "spans.json"), Json(spans.all))
    spark.stop()
  }
}

private object Run {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.3f s: $what")
}

private final class Run(
    spark: SparkSession, fixture: String, work: File, rng: scala.util.Random,
    seconds: Double, minPasses: Int, trace: Boolean, tracer: Tracer, spans: Spans) {
  private var heapPeak = 0L
  private var setupS = 0.0

  /** Timed passes: whole passes until the seconds are spent. */
  private def timed(pass: (Int, Boolean) => Unit): Seq[Map[String, Any]] = {
    setupS = (System.currentTimeMillis() - Run.jvmStartMs) / 1000.0
    Run.log("set-up done")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    while (i < minPasses || System.nanoTime() < deadline) {
      val traced = trace && i % 2 == 1
      if (traced) tracer.setOn(true)
      spans.on = traced
      val t0 = System.nanoTime()
      pass(i, traced)
      val ms = (System.nanoTime() - t0) / 1e6
      spans.on = false
      if (traced) tracer.setOn(false)
      passes += Map("pass" -> i, "traced" -> traced, "ms" -> ms)
      // live heap at the pass boundary: after a full collection
      System.gc()
      heapPeak = math.max(heapPeak,
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      i += 1
    }
    passes.toSeq
  }

  private def common(passes: Seq[Map[String, Any]]): Map[String, Any] = Map(
    "setup_s" -> setupS, "passes" -> passes, "heap_peak_mb" -> heapPeak / 1048576.0) ++
    (if (!trace) Map.empty else Map(
      "totals" -> tracer.totals.toMap, "strays" -> tracer.strays))

  private def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def message(t: Throwable): String =
    Option(t.getMessage).getOrElse(t.getClass.getName).linesIterator.take(3).mkString(" ").take(300)

  /** One timed layer call: `build` then `exec` on its result. Build and exec
    * times exclude the bus drains of a traced call; `call_ms` is the whole
    * call as the client waits for it, tracing work included. */
  private def call[T](pass: Int, name: String, traced: Boolean)(
      build: () => T)(exec: T => Unit): Map[String, Any] = {
    val id = s"p$pass:$name"
    val c0 = System.nanoTime()
    val (cg0, cgNs0) = if (traced) codegen() else (0L, 0L)
    val start = System.currentTimeMillis()
    val rec = spans(id, "call") { root =>
      if (traced) tracer.enter(id, "build")
      var buildMs, execMs = 0.0
      val outcome = try {
        val t0 = System.nanoTime()
        val built = spans("build", "queries", Some(root))(_ => build())
        buildMs = (System.nanoTime() - t0) / 1e6
        if (traced) tracer.enter(id, "exec")
        val t1 = System.nanoTime()
        spans("exec", "exec", Some(root))(_ => exec(built))
        execMs = (System.nanoTime() - t1) / 1e6
        None
      } catch { case NonFatal(t) => Some(message(t)) }
      if (traced) tracer.leave()
      val end = System.currentTimeMillis()
      val base = Map[String, Any]("pass" -> pass, "traced" -> traced, "name" -> name,
        "ok" -> outcome.isEmpty, "error" -> outcome.orNull,
        "build_ms" -> buildMs, "exec_ms" -> execMs, "latency_ms" -> (buildMs + execMs),
        "window_ms" -> Seq(start, end))
      if (!traced) base
      else {
        val (cg1, cgNs1) = codegen()
        base ++ Map(
          "build" -> tracer.group(id, "build").toMap, "exec" -> tracer.group(id, "exec").toMap,
          "codegen_compiles" -> (cg1 - cg0), "codegen_ms" -> (cgNs1 - cgNs0) / 1e6,
          "storage_bytes" -> spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      }
    }
    rec + ("call_ms" -> (System.nanoTime() - c0) / 1e6)
  }

  /** Direct reads through the `sources` layer, three per input, in the traced run. */
  private def sourceReads(inputs: Seq[(String, () => DataFrame)]): Map[String, Any] =
    if (!trace) Map.empty
    else {
      tracer.setOn(true)
      spans.on = true
      val reads = for ((name, read) <- inputs; r <- 0 until 3) yield {
        val id = s"read$r:$name"
        tracer.enter(id, "read")
        val t0 = System.nanoTime()
        spans(id, "sources")(_ => read().schema)
        val ms = (System.nanoTime() - t0) / 1e6
        tracer.leave()
        val g = tracer.group(id, "read")
        Map("name" -> name, "round" -> r, "ms" -> ms, "jobs" -> g.jobs, "counters" -> g.toMap)
      }
      spans.on = false
      tracer.setOn(false)
      Map("source_reads" -> reads)
    }

  // ------------------------------------------------------------------ catalog

  def catalog(names: Seq[String]): Map[String, Any] = {
    val catalog = SparkEntry.queries
    val missing = names.filterNot(catalog.contains)
    require(missing.isEmpty, s"workload names queries the catalog lacks: ${missing.mkString(", ")}")
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "documents", "embeddings")
    val warm = tables.map(t => t -> (() => Tables.table(spark, fixture, t))) :+
      ("events" -> (() => Tables.events(spark, fixture)))
    warm.foreach { case (_, read) => read().count() }
    Run.log("tables warm")

    // warm-up pass: build each query, write it to the noop sink as the timed
    // passes do (twice: its first writes are still cold), then to parquet
    // for the oracle check
    if (trace) tracer.setCollectTables(true)
    val resDir = new File(work, "results")
    val checks = names.map { n =>
      val err = try {
        val df = catalog(n)(spark, fixture)
        for (_ <- 0 until 2) df.write.format("noop").mode("overwrite").save()
        df.write.mode("overwrite").parquet(new File(resDir, n).getPath)
        None
      } catch { case NonFatal(t) => Some(message(t)) }
      n -> err
    }
    if (trace) tracer.setCollectTables(false)
    // one more untimed pass, made as the timed ones: the JIT is still
    // compiling the build path through the first passes; a failure here
    // shows in the timed calls
    rng.shuffle(names).foreach { n =>
      try catalog(n)(spark, fixture).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => }
    }
    Run.log("warm-up passes done")
    Files.writeString(Paths.get(work.getPath, "oracle_sql.json"),
      Json(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    val reads = sourceReads(warm.filter { case (t, _) => tracer.tablesRead(t) })

    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = timed { (pass, traced) =>
      rng.shuffle(names).foreach { n =>
        calls += call(pass, n, traced)(() => catalog(n)(spark, fixture)) { df =>
          df.write.format("noop").mode("overwrite").save()
        }
      }
    }
    common(passes) ++ reads ++ Map(
      "calls" -> calls.toSeq,
      "dumps" -> checks.map { case (n, e) => Map("name" -> n, "ok" -> e.isEmpty, "error" -> e.orNull) })
  }

  // ------------------------------------------------------------------ stream

  private val gapMs = 3600000L

  /** A pipeline builds its streaming DataFrame, then starts it into a sink. */
  private case class Pipeline(name: String, mode: String, build: () => DataFrame)

  def stream(): Map[String, Any] = {
    import spark.implicits._
    val landing = new File(fixture, "events.parquet").getPath
    def events() = Events.readEventStream(spark, landing, Map("maxFilesPerTrigger" -> "1"))
    def evs() = events().select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[Events.Ev]
    val pipelines = Seq(
      Pipeline("sessionize_event_time", "append",
        () => Events.sessionizeEventTime(evs(), gapMs = gapMs).toDF()),
      Pipeline("dedup_deliveries", "append", () => Events.dedupDeliveries(events())),
      Pipeline("tumbling_counts", "update", () => Events.tumblingCounts(events(), "1 hour")),
      Pipeline("interval_join", "append", { () =>
        val clicks = events().filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = events().filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        Events.intervalJoinStreams(clicks, purchases, key = "user_id",
          wmDelay = "2 hours", before = "0 minutes", after = "30 minutes")
      }),
      Pipeline("upsert_sink", "append", () => events()))

    val streamDir = new File(work, "stream")
    val upsertMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()

    /** Start `p` and wait until it has drained the landing directory.
      * `collect` receives each micro-batch instead of the noop sink. */
    def drain(p: Pipeline, tag: String, df: DataFrame,
        collect: Option[(Long, Array[Row]) => Unit]): (StreamingQuery, String) = {
      val dir = new File(streamDir, s"$tag-${p.name}")
      val target = new File(dir, "target").getPath
      val w = df.writeStream.outputMode(p.mode)
        .option("checkpointLocation", new File(dir, "checkpoint").getPath)
        .trigger(Trigger.AvailableNow())
      val q = (p.name, collect) match {
        case ("upsert_sink", _) => w.foreachBatch { (b: DataFrame, id: Long) =>
            val t0 = System.nanoTime()
            Events.applyUpsertBatch(b, id, target, Seq("user_id"), Seq("ts", "event_id"))
            upsertMs.add((System.nanoTime() - t0) / 1e6)
            ()
          }.start()
        case (_, Some(f)) => w.foreachBatch((b: DataFrame, id: Long) => f(id, b.collect())).start()
        case (_, None) => w.format("noop").start()
      }
      if (!q.awaitTermination(120000L)) { q.stop(); sys.error(s"${p.name} did not drain in 120 s") }
      q.exception.foreach(e => throw e)
      (q, target)
    }

    def batches(q: StreamingQuery): Seq[Map[String, Any]] = q.recentProgress.toSeq.map {
      (p: StreamingQueryProgress) =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        Map[String, Any](
          "rows" -> p.numInputRows,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "addBatch_ms" -> d.getOrElse("addBatch", 0L),
          "queryPlanning_ms" -> d.getOrElse("queryPlanning", 0L),
          "walCommit_ms" -> d.getOrElse("walCommit", 0L),
          "commitOffsets_ms" -> d.getOrElse("commitOffsets", 0L),
          "latestOffset_ms" -> d.getOrElse("latestOffset", 0L),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
    }

    // warm-up pass: keep each pipeline's output, or its error, for the checks
    val outputs = pipelines.map { p =>
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Array[Row])]()
      p.name -> (try {
        val (q, target) = drain(p, "check", p.build(),
          Some((id: Long, rows: Array[Row]) => { got.add(id -> rows); () }))
        Right((got.asScala.toSeq.sortBy(_._1).flatMap(_._2), q.lastProgress, target))
      } catch { case NonFatal(t) => Left(message(t)) })
    }
    upsertMs.clear()
    Run.log("warm-up pass done")
    val reads = sourceReads(Seq("events.parquet" -> (() => events())))

    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = timed { (pass, traced) =>
      rng.shuffle(pipelines).foreach { p =>
        var progress = Seq.empty[Map[String, Any]]
        val rec = call(pass, p.name, traced)(p.build) { df =>
          progress = batches(drain(p, s"p$pass", df, None)._1)
        }
        calls += rec ++ Map("batches" -> progress)
      }
    }

    // correctness, after the timed passes: against the batch computation
    val batchEvents = Tables.events(spark, fixture)
    val checks = outputs.map { case (name, out) =>
      val verdict = out match {
        case Left(err) => Some(err)
        case Right((rows, last, target)) =>
          try Checks(spark, batchEvents, gapMs).verify(name, rows, last, target)
          catch { case NonFatal(t) => Some(message(t)) }
      }
      Map("name" -> name, "ok" -> verdict.isEmpty, "error" -> verdict.orNull)
    }
    Run.log("checks done")
    common(passes) ++ reads ++ Map(
      "calls" -> calls.toSeq, "stream_checks" -> checks,
      "upsert_batch_ms" -> upsertMs.asScala.map(_.doubleValue).toSeq)
  }
}

/** Stream outputs against the batch computation over the same landing files. */
private final case class Checks(spark: SparkSession, events: DataFrame, gapMs: Long) {
  import spark.implicits._

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))

  /** None when the output matches, else what differs. */
  def verify(name: String, rows: Seq[Row], last: StreamingQueryProgress, target: String): Option[String] =
    name match {
      case "sessionize_event_time" =>
        // a session is emitted once the watermark passes its end + gap
        val wm = java.time.Instant.parse(last.eventTime.get("watermark")).toEpochMilli
        def key(r: Row) = (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("session_start").getTime,
          r.getAs[java.sql.Timestamp]("session_end").getTime, r.getAs[Long]("n_events"))
        val want = Events.sessionizeBatch(events, gapMs).collect()
          .filter(r => r.getAs[java.sql.Timestamp]("session_end").getTime + gapMs <= wm)
        compare(rows.map(r => key(r) -> r.getAs[Double]("total_value")),
          want.toSeq.map(r => key(r) -> r.getAs[Double]("total_value")))
      case "dedup_deliveries" =>
        val got = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")))
        val want = events.select("user_id", "event_id").distinct().as[(Long, Long)].collect().toSet
        val dup = got.size - got.toSet.size
        val loss = want.size - got.toSet.intersect(want).size
        if (dup == 0 && loss == 0 && got.toSet == want) None else Some(s"dup=$dup loss=$loss")
      case "tumbling_counts" =>
        // update mode: the last emitted row of each window is its count
        def key(r: Row) = (r.getAs[java.sql.Timestamp]("window_start").getTime,
          r.getAs[String]("event_type"), r.getAs[Long]("n"))
        val latest = rows.map(r => (key(r)._1, key(r)._2) -> r).toMap.values.toSeq
        compare(latest.map(r => key(r) -> r.getAs[Double]("sum_value")),
          Events.tumblingCounts(events, "1 hour").collect().toSeq
            .map(r => key(r) -> r.getAs[Double]("sum_value")))
      case "interval_join" =>
        val got = rows.map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("r_event_id")))
        val c = events.filter($"event_type" === "click").select($"user_id", $"ts", $"event_id")
        val p = events.filter($"event_type" === "purchase")
          .select($"user_id".as("r_user_id"), $"ts".as("r_ts"), $"event_id".as("r_event_id"))
        val want = c.join(p, $"user_id" === $"r_user_id" && $"r_ts" >= $"ts" &&
            $"r_ts" <= $"ts" + expr("INTERVAL 30 minutes"))
          .select($"event_id", $"r_event_id").as[(Long, Long)].collect().toSeq
        if (want.nonEmpty && got.sorted == want.sorted) None
        else Some(s"pairs stream=${got.size} batch=${want.size}")
      case "upsert_sink" =>
        val got = Events.readUpsertTarget(spark, target).select("user_id", "event_id")
          .as[(Long, Long)].collect().toSet
        val want = graft.ops.Core.dedupLatest(events, Seq("user_id"), Seq($"ts", $"event_id"))
          .select("user_id", "event_id").as[(Long, Long)].collect().toSet
        if (got == want) None else Some(s"target rows=${got.size} batch=${want.size}")
    }

  private def compare[K](got: Seq[(K, Double)], want: Seq[(K, Double)]): Option[String] = {
    val g = got.groupBy(_._1)
    val w = want.toMap
    val bad = want.count { case (k, v) => !g.get(k).exists(s => s.size == 1 && close(s.head._2, v)) } +
      got.count { case (k, _) => !w.contains(k) }
    if (want.nonEmpty && bad == 0 && got.size == want.size) None
    else Some(s"rows stream=${got.size} batch=${want.size} mismatched=$bad")
  }
}

/** Minimal JSON writer for the result files. */
private object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
