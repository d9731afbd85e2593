package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.meta.Metadata
import graft.pipeline.IncrementalPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the graft benchmark (driven by perfbench/run.py).
  *
  * Runs one workload in this fresh JVM under Bench's session settings,
  * repeating it until `--seconds` have been measured, and writes the raw
  * facts (per-repetition and per-operation walls, failures, and for
  * traced repetitions the per-layer figures) as one JSON document to
  * `--out`. It calls graft only through `Metadata.parse`,
  * `IncrementalPipeline.run` and `SparkEntry.queries`.
  */
object Harness {

  val Cores = 4

  final case class Op(name: String, startMs: Long, endMs: Long, wallS: Double, eagerS: Double,
      finalS: Double, error: Option[String], eager: (Long, Long) = (0L, 0L))

  final case class Rep(index: Int, traced: Boolean, startMs: Long, endMs: Long, wallS: Double,
      stealS: Double, ops: Seq[Op], extra: Seq[(String, String)], layers: Seq[(String, Double)])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val stealLimit = a("steal-limit").toDouble
    val maxContended = a("max-contended").toInt
    val setup = mutable.ArrayBuffer[(String, String)]()

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionReadyMs = System.currentTimeMillis()
    setup += "session_s" -> Json.num((System.nanoTime() - t0) / 1e9)
    val tracer = new Tracer(spark)

    val steal0 = Host.stealS()
    val reps = mutable.ArrayBuffer[Rep]()
    var warmS = 0.0
    val spans = mutable.ArrayBuffer[String]()

    workload match {
      case "etl_incremental" =>
        val meta = Metadata.parse(new String(Files.readAllBytes(Paths.get(a("metadata"))), "UTF-8"))
        val (b, t) = (a("backfill").toInt, a("trickle").toInt)
        // warm-up: an untimed repetition, cut to a backfill of one batch
        // and two trickle runs (both consolidation paths); a traced run
        // warms up with a whole repetition, so the untraced repetition
        // its tracing overhead is measured against is warm too
        val w0 = System.nanoTime()
        if (trace) Etl.rep(spark, meta, s"$data/landing", s"$work/etl/warm", b, t, -1, false, tracer)
        else Etl.rep(spark, meta, s"$data/landing", s"$work/etl/warm", 1, math.min(t, 2), -1, false, tracer)
        warmS = (System.nanoTime() - w0) / 1e9
        loop(seconds, trace, stealLimit, maxContended) { (i, traced) =>
          Etl.rep(spark, meta, s"$data/landing", s"$work/etl/rep$i", b, t, i, traced, tracer)
        }(reps)
      case _ =>
        val queryDir = s"$data/base"
        val names = a("queries").split(",").toSeq
        val fns = SparkEntry.queries
        val missing = names.filterNot(fns.contains)
        require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
        val order = new scala.util.Random(seed).shuffle(names.sorted)
        setup += "order" -> order.map(Json.str).mkString("[", ",", "]")
        // warm-up pass: the same queries on the same inputs, written to
        // parquet for the output checks; outside the timed region
        val w0 = System.nanoTime()
        Queries.rep(spark, order, queryDir, s"$work/q/check", Some(s"$work/check"), -1, false, tracer)
        val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
        Files.write(Paths.get(s"$work/check/oracle_sql.json"),
          Json.obj(oracles.toSeq.map { case (k, v) => k -> Json.str(v) }).getBytes("UTF-8"))
        // a traced run adds a second, noop-forced pass, as its ETL
        // counterpart warms up with a whole repetition
        if (trace) Queries.rep(spark, order, queryDir, s"$work/q/warm", None, -1, false, tracer)
        warmS = (System.nanoTime() - w0) / 1e9
        loop(seconds, trace, stealLimit, maxContended) { (i, traced) =>
          Queries.rep(spark, order, queryDir, s"$work/q/rep$i", None, i, traced, tracer)
        }(reps)
    }
    setup += "warmup_s" -> Json.num(warmS)
    val stealS = Host.stealS() - steal0

    reps.filter(_.traced).foreach { r =>
      spans += s"""{"span":"rep-${r.index}","parent":"$workload","kind":"repetition","start_ms":${r.startMs},"end_ms":${r.endMs}}"""
      r.ops.foreach { o =>
        val taskS = tracer.synchronized {
          tracer.tasks.filter(t => t.launch >= o.startMs && t.launch < o.endMs).map(_.runMs).sum / 1000.0
        }
        spans += s"""{"span":"rep-${r.index}/${o.name}","parent":"rep-${r.index}","kind":"operation","start_ms":${o.startMs},"end_ms":${o.endMs},"task_run_s":$taskS}"""
        tracer.spans(o.startMs, o.endMs, s"rep-${r.index}/${o.name}", spans)
      }
    }
    if (spans.nonEmpty) Files.write(Paths.get(s"$work/spans.jsonl"), spans.asJava)

    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val doc = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "session_ready_ms" -> sessionReadyMs.toString,
      "setup" -> Json.obj(setup.toSeq),
      "reps" -> reps.map(r => repJson(r, contaminated(r, stealLimit))).mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(Host.peakRssMb()),
      "host_steal_s" -> Json.num(stealS),
      "load_avg_1m" -> Json.num(load)))
    Files.write(Paths.get(a("out")), doc.getBytes("UTF-8"))
    spark.stop()
  }

  /** Bench's session: local[4], its AQE and page-size settings and the
    * graft extensions; every scratch and spill directory under `work`. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", false)
      .config("spark.sql.adaptive.enabled", true)
      .config("spark.sql.adaptive.coalescePartitions.enabled", true)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config(graft.io.Scratch.ConfKey, s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Repeat `body` until `seconds` have been measured, at least once.
    * A repetition in which the host stole more than `stealLimit` CPU
    * seconds per wall second measured the host, not graft: it does not
    * count, and up to `maxContended` more are run in its place.
    * A traced run alternates untraced and traced repetitions, three, so
    * the traced one sits between two untraced ones: the same run yields
    * the per-layer figures and the tracing overhead. */
  def loop(seconds: Double, trace: Boolean, stealLimit: Double, maxContended: Int)(
      body: (Int, Boolean) => Rep)(
      reps: mutable.ArrayBuffer[Rep]): Unit = {
    var measured = 0.0
    var i, clean, contended = 0
    def more = if (trace) i < 3
      else (clean < 1 || measured < seconds) && contended <= maxContended
    while (more) {
      val r = body(i, trace && i % 2 == 1)
      reps += r
      if (contaminated(r, stealLimit)) contended += 1
      else { clean += 1; measured += r.wallS }
      i += 1
    }
  }

  def contaminated(r: Rep, stealLimit: Double): Boolean = r.stealS > stealLimit * r.wallS

  private def repJson(r: Rep, contended: Boolean): String = Json.obj(Seq(
    "index" -> r.index.toString,
    "traced" -> r.traced.toString,
    "contended" -> contended.toString,
    "wall_s" -> Json.num(r.wallS),
    "steal_s" -> Json.num(r.stealS),
    "ops" -> r.ops.map { o =>
      Json.obj(Seq("name" -> Json.str(o.name), "wall_s" -> Json.num(o.wallS),
        "eager_s" -> Json.num(o.eagerS), "final_s" -> Json.num(o.finalS),
        "error" -> o.error.map(Json.str).getOrElse("null")))
    }.mkString("[", ",", "]"),
    "layers" -> Json.obj(r.layers.map { case (k, v) => k -> Json.num(v) })) ++ r.extra)

  /** Per-layer figures of one traced repetition [a, b). Pipeline runs and
    * query operations are the repetition's operations. */
  def layers(tr: Tracer, a: Long, b: Long, ops: Seq[Op], pipeline: Boolean,
      gcS: Double, stealS: Double): Seq[(String, Double)] = {
    tr.drain()
    tr.synchronized {
      val wallS = (b - a) / 1000.0
      val plans = tr.plans.filter(p => p.end >= a && p.end < b)
      val execs = tr.execsIn(a, b)
      val jobs = tr.jobs.values.filter(j => j.start >= a && j.start < b).toSeq
      val stages = tr.stages.filter(s => s.start >= a && s.start < b)
      val tasks = tr.tasks.filter(t => t.launch >= a && t.launch < b)
      val streams = tr.streams.values.filter(s => s.start >= a && s.start < b).toSeq
      def metric(x: tr.Exec, name: String) = tr.writeMetrics((x.id, name)).toDouble
      def dur(x: tr.Exec) = (x.end - x.start) / 1000.0
      def isSink(x: tr.Exec) = x.writePath.exists(p => p.contains("_ok/batch-") || p.contains("_ko/batch-"))
      def isConsolidation(x: tr.Exec) = x.writePath.exists(_.endsWith("_consolidated_tmp"))
      def within(o: Op)(x: tr.Exec) = x.start >= o.startMs && x.start < o.endMs
      val (runs, queries) = if (pipeline) (ops, Seq.empty) else (Seq.empty, ops)
      val consolidations = runs.flatMap(o => execs.filter(x => within(o)(x) && isConsolidation(x)).map(o -> _))
      val trickle = consolidations.filter { case (o, _) => o.name.startsWith("trickle") }
      // rows the new batch brought: what its customers OK sink wrote
      def newRows(o: Op) = execs.filter(x => within(o)(x) && x.writePath.exists(_.contains("customers_ok/batch-")))
        .map(metric(_, "number of output rows")).sum
      val readAmp = trickle.map { case (o, x) => (tr.recordsRead(x.id), newRows(o)) }
        .collect { case (read, rows) if rows > 0 => read / rows }
      val written = execs.filter(isSink).map(x => x.writePath.get -> metric(x, "number of output rows"))
      val ko = written.filter(_._1.contains("_ko/batch-")).map(_._2).sum
      val taskRunS = tasks.map(_.runMs).sum / 1000.0
      Seq(
        "spark.plan.analysis_ms" -> plans.map(_.analysisMs).sum.toDouble,
        "spark.plan.optimizer_ms" -> plans.map(_.optimizerMs).sum.toDouble,
        "spark.plan.physical_ms" -> plans.map(_.physicalMs).sum.toDouble,
        "spark.sql_executions" -> execs.size.toDouble,
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> tasks.size.toDouble,
        "spark.no_task_s" -> (b - a - tr.busyMs(a, b)) / 1000.0,
        "spark.task_run_s" -> taskRunS,
        "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "spark.core_util" -> taskRunS / (wallS * Cores),
        "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
        "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
        "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
        "pipeline.run_s" -> median(runs.map(_.wallS)),
        "pipeline.driver_s" -> median(runs.map(o =>
          (o.endMs - o.startMs - tr.execCoveredMs(o.startMs, o.endMs)) / 1000.0)),
        "io.sink_s" -> execs.filter(isSink).map(dur).sum,
        "io.files_written" -> execs.map(metric(_, "number of written files")).sum,
        "io.bytes_written" -> execs.map(metric(_, "written output")).sum,
        "operators.consolidate_s" -> median(consolidations.map(c => dur(c._2))),
        "operators.consolidate_rows_read" -> median(trickle.map(c => tr.recordsRead(c._2.id).toDouble)),
        "operators.consolidate_read_amp" -> median(readAmp),
        "operators.ko_ratio" -> (if (written.isEmpty) 0.0 else ko / written.map(_._2).sum),
        "queries.eager_s" -> queries.map(_.eagerS).sum,
        "queries.eager_jobs" -> queries.map(o =>
          jobs.count(j => j.start >= o.eager._1 && j.start < o.eager._2)).sum.toDouble,
        "queries.final_s" -> queries.map(_.finalS).sum,
        "streaming.query_starts" -> streams.size.toDouble,
        "streaming.micro_batches" -> streams.map(_.batches).sum.toDouble,
        "streaming.start_s" -> streams.flatMap(s => s.firstProgressEnd.map(_ - s.start)).sum / 1000.0,
        "jvm.gc_s" -> gcS,
        "host.steal_s" -> stealS)
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Run `body` as one repetition: wall time, GC and steal deltas, and,
    * when traced, the tracer attached around it. */
  def timedRep(index: Int, traced: Boolean, tracer: Tracer, pipeline: Boolean)(
      body: => (Seq[Op], Seq[(String, String)])): Rep = {
    if (traced) tracer.attach()
    val gc0 = Host.gcS()
    val steal0 = Host.stealS()
    val a = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ops, extra) = body
    val wall = (System.nanoTime() - t0) / 1e9
    val b = System.currentTimeMillis()
    val gc = Host.gcS() - gc0
    val steal = Host.stealS() - steal0
    val ls = if (traced) layers(tracer, a, b, ops, pipeline, gc, steal) else Seq.empty
    if (traced) tracer.detach()
    Rep(index, traced, a, b, wall, steal, ops, extra :+ ("gc_s" -> Json.num(gc)), ls)
  }

  /** Hard-link every file under `src` into `dst`: a new directory name
    * over the same bytes. graft's session memos key on the directory,
    * so each repetition pays their builds, as one Bench pass does. */
  def linkTree(src: Path, dst: Path): Unit = {
    val files = Files.walk(src)
    try files.iterator().asScala.foreach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.createLink(d, p)
    } finally files.close()
  }
}

object Queries {
  import Harness._

  /** One pass over `order`: each query forced with a noop write (or, for
    * the check pass, written to parquet under `outDir`), persisted data
    * dropped between queries, as Bench does. */
  def rep(spark: SparkSession, order: Seq[String], dataDir: String, repDir: String,
      outDir: Option[String], index: Int, traced: Boolean, tracer: Tracer): Rep = {
    val dir = Paths.get(repDir, "data")
    linkTree(Paths.get(dataDir), dir)
    timedRep(index, traced, tracer, pipeline = false) {
      val ops = order.map { name =>
        val a = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        var eagerEnd = a
        val err = try {
          val df: DataFrame = SparkEntry.queries(name)(spark, dir.toString)
          t1 = System.nanoTime()
          eagerEnd = System.currentTimeMillis()
          outDir match {
            case Some(o) => df.write.mode("overwrite").parquet(s"$o/$name")
            case None    => df.write.format("noop").mode("overwrite").save()
          }
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        val t2 = System.nanoTime()
        val b = System.currentTimeMillis()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
        Op(name, a, b, (t2 - t0) / 1e9, (t1 - t0) / 1e9, if (err.isEmpty) (t2 - t1) / 1e9 else 0.0,
          err, (a, eagerEnd))
      }
      (ops, Seq.empty)
    }
  }
}

object Etl {
  import Harness._

  /** One repetition on clean state: a backfill run over the first `b`
    * batches, then `t` trickle runs that each land one batch and run.
    * Everything the pipeline writes lives under `repDir`. */
  def rep(spark: SparkSession, meta: graft.meta.PipelineMeta, landing: String, repDir: String,
      b: Int, t: Int, index: Int, traced: Boolean, tracer: Tracer): Rep = {
    val input = Paths.get(repDir, "input")
    Files.createDirectories(input)
    val batches = Files.list(Paths.get(landing)).iterator().asScala.map(_.getFileName.toString)
      .toSeq.sorted
    require(batches.size >= b + t, s"need ${b + t} batches under $landing, found ${batches.size}")
    def land(batch: String): Unit = linkTree(Paths.get(landing, batch), input.resolve(batch))
    def lines(batch: String): Long = {
      val files = Files.walk(Paths.get(landing, batch))
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => Files.readAllLines(p).size.toLong).sum
      finally files.close()
    }
    val config = IncrementalPipeline.Config(
      inputBaseDir = input.toString, batchPrefix = "batch-",
      manifestPath = s"$repDir/manifest.json", runId = "",
      substitutions = Map("in" -> input.toString, "out" -> s"$repDir/out"))
    val backfillRows = batches.take(b).map(lines).sum

    def run(name: String, landed: Seq[String]): Op = {
      val a = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err = try {
        if (name != "backfill") landed.foreach(land)
        val r = IncrementalPipeline.run(spark, meta, config.copy(runId = name))
        if (r.processedBatches != landed.map(_.stripPrefix("batch-")))
          Some(s"processed ${r.processedBatches} instead of $landed")
        else None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val wall = (System.nanoTime() - t0) / 1e9
      Op(name, a, System.currentTimeMillis(), wall, 0.0, 0.0, err)
    }

    batches.take(b).foreach(land)
    timedRep(index, traced, tracer, pipeline = true) {
      val backfill = run("backfill", batches.take(b))
      val trickle = (0 until t).map(i => run(s"trickle-$i", Seq(batches(b + i))))
      (backfill +: trickle,
        Seq("backfill_s" -> Json.num(backfill.wallS), "backfill_rows" -> backfillRows.toString))
    }
  }
}

object Host {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcS(): Double = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Steal time of all CPUs since boot, from /proc/stat (USER_HZ = 100). */
  def stealS(): Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    } catch { case _: Throwable => 0.0 }

  /** VmHWM: the peak resident set of this JVM, in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }
}
