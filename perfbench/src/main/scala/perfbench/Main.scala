package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable

/** Shared state of one benchmark run. The session is a `var` because the
  * traced frontier run restarts it at one core for `spark.speedup_1to4`.
  */
final class Ctx(val seed: Long, val work: Path, val cores: Int) {
  var spark: SparkSession = _
  val meter = new SparkMeter
  var tracer: Tracer = _

  def startSession(n: Int): SparkSession = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      // the Crawl CLI's session shape: one shuffle partition per core
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(meter)
    spark
  }

  def dir(name: String): String = work.resolve(name).toString

  /** Computes every column of `df` without writing it anywhere. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `body` in a span named `name`; returns the task metrics of the
    * Spark jobs it submitted.
    */
  def layerCall(name: String)(body: => Unit): TaskSums = {
    meter.reset()
    tracer.span(name)(body)
    meter.drain(spark.sparkContext)
    meter.bySpan(name)
  }
}

/** One workload: inputs built by [[setup]], one closed-loop unit [[job]],
  * output checks, and the traced per-layer measurements.
  */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Generates and commits the inputs into fresh directories. */
  def setup(): Unit
  /** How many times set-up runs; `setup_s` takes the median. */
  def setupReps: Int = 3
  /** One untimed job after set-up, so JIT and caches are warm. */
  def warmUp(): Unit
  /** How many warm-up jobs run before timing starts. */
  def warmUps: Int = 1
  /** Untimed work before each timed job (e.g. copying a committed root). */
  def beforeJob(): Unit = ()
  /** One timed unit job; returns the items it completed. */
  def job(): Long
  /** Untimed clean-up after each timed job. */
  def afterJob(): Unit = ()
  /** False while a job sequence that must finish as a whole is open. */
  def atBoundary: Boolean = true
  /** Jobs in one such sequence (1 when jobs stand alone). */
  def jobsPerSequence: Int = 1
  /** Checks the output of the job that just completed, before the next
    * job replaces it. Untimed; see [[Report.checkJob]].
    */
  def checkJob(r: Report): Unit
  /** Measured input properties. */
  def inputProps(r: Report): Unit
  /** Traced run: times each layer's public functions over staged inputs.
    * `loop` holds every timed job of the run, traced and untraced.
    */
  def layers(r: Report, loop: Loop.Result): Unit
}

object Loop {
  /** Fewest timed jobs in an untraced run, whatever `--seconds` says. Job
    * times still fall over the first jobs of a JVM; the median of three
    * leaves out the slowest, which is nearly always the first.
    */
  val MinJobs = 3

  final case class Job(seconds: Double, items: Long, sums: TaskSums,
      jobs: Seq[(JobInfo, TaskSums)], traced: Boolean)

  final case class Result(all: Seq[Job]) {
    def times: Seq[Double] = all.map(_.seconds)
    def items: Long = all.map(_.items).sum
    def wall: Double = times.sum
    def median: Double = Stats.median(times)
    def medianRate: Double = Stats.median(all.map(j => j.items / j.seconds))
    def medianCpuUsPerItem: Double = Stats.median(all.map(j => j.sums.cpuNs / 1e3 / j.items))
    def sums: TaskSums = { val t = new TaskSums; all.foreach(j => t.add(j.sums)); t }
    def jobs: Seq[(JobInfo, TaskSums)] = all.flatMap(_.jobs)
    def perJobJobs: Seq[Int] = all.map(_.jobs.size)
    def perJobStages: Seq[Int] = all.map(_.jobs.map(_._1.stages).sum)
    def traced(flag: Boolean): Result = Result(all.filter(_.traced == flag))
  }

  /** Closed loop, one client: the next job starts only when the previous
    * one has completed. Runs until the timed jobs add up to `seconds` (at
    * least `minJobs` jobs, and never stopping inside an open job sequence);
    * each job's output is checked, untimed, after it completes. With
    * `alternate`, jobs run untraced, traced, traced, untraced, and so on in
    * blocks of four, so a drift in job time over the run (JIT warm-up)
    * cancels out of the traced-minus-untraced difference.
    */
  def run(w: Workload, r: Report, seconds: Double, minJobs: Int, alternate: Boolean): Result = {
    val ctx = w.ctx
    val sc = ctx.spark.sparkContext
    val done = mutable.ArrayBuffer.empty[Job]
    var failures = 0
    var timed = 0.0
    def more = done.size < minJobs || timed < seconds || !w.atBoundary ||
      (alternate && w.jobsPerSequence == 1 && done.size % 4 != 0)
    while (more && failures < 3) {
      val traced = alternate && (r.attempted % 4 == 1 || r.attempted % 4 == 2)
      ctx.tracer.enabled = traced
      w.beforeJob()
      ctx.meter.drain(sc)
      ctx.meter.reset()
      val t0 = System.nanoTime()
      val n = try Some(ctx.tracer.span("job")(w.job()))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] ${w.name} job failed: $e")
          e.printStackTrace()
          None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      timed += dt
      ctx.tracer.enabled = alternate
      System.err.println(f"[perfbench] ${w.name} job ${r.attempted + 1}${if (traced) " (traced)" else ""}: $dt%.3f s")
      ctx.meter.drain(sc)
      r.attempted += 1
      n match {
        case Some(k) =>
          done += Job(dt, k, ctx.meter.totals, ctx.meter.jobs, traced)
          val c0 = System.nanoTime()
          r.checkJob(w.checkJob(r))
          System.err.println(f"[perfbench] ${w.name} job ${r.attempted} checked in ${(System.nanoTime() - c0) / 1e9}%.3f s")
        case None =>
          r.failedJobs += 1
          failures += 1
      }
      w.afterJob()
    }
    Result(done.toSeq)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
}

/** Tree helpers the program's own `graft.core.Fs` does not have (it has
  * `deleteTree`, and `treeBytes` for trees nothing else is changing).
  */
object Files2 {
  def count(dir: String, suffix: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).count()
      finally st.close()
    }
  }

  /** Bytes under a directory Spark may be changing while it is walked
    * (its local dir, whose shuffle files the context cleaner deletes):
    * files that vanish meanwhile are skipped. `Fs.treeBytes` fails on them.
    */
  def liveBytes(dir: String): Long = {
    var total = 0L
    val p = Paths.get(dir)
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        total += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult = FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = FileVisitResult.CONTINUE
    })
    total
  }

  def copy(fromDir: String, toDir: String): Unit = {
    val (from, to) = (Paths.get(fromDir), Paths.get(toDir))
    val st = Files.walk(from)
    try st.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally st.close()
  }
}

/** Entry point:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --report FILE`
  * Prints every metric by name and unit, then the one-line JSON result.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val r = new Report(workload, seed, traced)
    Files.createDirectories(work)
    val ctx = new Ctx(seed, work, cores = 4)
    val code = try { run(ctx, r, workload, seconds, traced); 0 }
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        1
    } finally {
      if (ctx.spark != null) ctx.spark.stop()
    }
    if (code == 0) {
      Files.writeString(Paths.get(a("report")), r.toJson)
      r.humanLines.foreach(println)
      println(r.resultLine)
    }
    System.exit(code)
  }

  private def run(ctx: Ctx, r: Report, workload: String, seconds: Double, traced: Boolean): Unit = {
    val t0 = System.nanoTime()
    val spark = ctx.startSession(ctx.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    ctx.tracer = new Tracer(s"$workload-${ctx.seed}", spark.sparkContext, enabled = false)
    val w: Workload = workload match {
      case "frontier_wave" => new FrontierWave(ctx)
      case "crawl_loop" => new CrawlLoop(ctx)
      case "text_corpus" => new TextCorpus(ctx)
      case "near_dup" => new NearDup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    recordEnv(ctx, r)
    val localDir = ctx.dir("spark-local")
    r.info("local_dir_bytes_before") = Files2.liveBytes(localDir).toString
    r.info("persistent_rdds_before") = spark.sparkContext.getPersistentRDDs.size.toString

    // set-up: the data phase runs setupReps times into fresh directories
    // and its median joins session start-up and the warm-up job. The median
    // leaves out most of the cold first set-up (JIT compilation), so the set-up
    // a single cold start pays is recorded beside it as info.setup_first_s.
    val reps = (1 to w.setupReps).map { k =>
      val s = System.nanoTime(); w.setup()
      val dt = (System.nanoTime() - s) / 1e9
      System.err.println(f"[perfbench] $workload set-up $k: $dt%.3f s")
      dt
    }
    val tw = System.nanoTime()
    (1 to w.warmUps).foreach(_ => w.warmUp())
    val warmS = (System.nanoTime() - tw) / 1e9
    r.endToEnd("setup_s") = sessionS + Stats.median(reps) + warmS
    r.info("setup_first_s") = Json.num(sessionS + reps.head + warmS)
    r.info("setup_parts_s") = Json.obj(Seq("session" -> Json.num(sessionS),
      "data_reps" -> reps.map(Json.num).mkString("[", ",", "]"), "warm_up" -> Json.num(warmS)))

    // end-to-end metrics: tracing off. A traced run alternates traced and
    // untraced jobs, so the tracing overhead is measured within the run.
    val loop = Loop.run(w, r, seconds, if (traced) 8 else Loop.MinJobs, alternate = traced)
    val plain = loop.traced(false)
    r.endToEnd("job_s") = plain.median
    r.endToEnd("items_per_s") = plain.medianRate
    r.endToEnd("cpu_us_per_item") = plain.medianCpuUsPerItem
    r.info("job_samples") = plain.times.size.toString
    r.info("job_s_all") = plain.times.map(Json.num).mkString("[", ",", "]")
    r.info("items_per_job") = Json.num(plain.items.toDouble / plain.times.size)
    w.inputProps(r)

    if (traced) {
      val tl = loop.traced(true)
      r.layer("trace.job_s") = tl.median
      r.layer("trace.overhead_s") = tl.median - plain.median
      val s = tl.sums
      val n = math.max(1, tl.times.size)
      r.layer("spark.util") = s.runMs / 1e3 / (tl.wall * ctx.cores)
      r.layer("spark.gc_frac") = if (s.runMs > 0) s.gcMs.toDouble / s.runMs else 0.0
      r.layer("spark.shuffle_write_mb") = s.shuffleWriteMb / n
      r.layer("spark.shuffle_fetch_wait_s") = s.fetchWaitMs / 1e3 / n
      r.layer("spark.spill_mb") = s.spillBytes / 1048576.0 / n
      r.layer("spark.tasks") = s.tasks.toDouble / n
      r.layer("spark.task_failures") = s.failures.toDouble
      // job time by the action's call site: the phases of one job
      val bySite = tl.jobs.groupBy(_._1.callSite).toSeq.map { case (site, js) =>
        site -> Json.obj(Seq("jobs" -> js.size.toString,
          "run_s" -> Json.num(js.map(_._2.runMs).sum / 1e3),
          "cpu_s" -> Json.num(js.map(_._2.cpuNs).sum / 1e9)))
      }.sortBy(_._1)
      r.info("traced_jobs_by_call_site") = Json.obj(bySite)
      w.layers(r, loop)
      r.selfTimes = ctx.tracer.selfSeconds
      r.spans = ctx.tracer.toJson
      Metrics.LayerDetail.foreach(d => if (!r.layer.contains(d.name)) r.layer(d.name) = 0.0)
      r.layerSelf = Layers.selfSeconds(r.selfTimes, r.layer)
      // the wave loop's share is a residual (wave time minus the others), so
      // the two summary figures cover the measured layers only
      val measured = r.layerSelf.filter(_._1 != "waveloop").map(_._2)
      r.layer("layers.self_s") = measured.sum
      r.layer("layers.top_share") = if (measured.sum > 0) measured.max / measured.sum else 0.0
      // VmHWM varies by more than a tenth between runs (G1 sizes the heap
      // adaptively), so it is a per-layer figure, not an end-to-end metric
      r.layer("peak_rss_mb") = peakRssMb
    }

    r.info("peak_rss_mb") = Json.num(peakRssMb)
    r.info("local_dir_bytes_after") = Files2.liveBytes(localDir).toString
    r.info("persistent_rdds_after") = ctx.spark.sparkContext.getPersistentRDDs.size.toString
  }


  /** JVM resident-set high-water mark (VmHWM), MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def recordEnv(ctx: Ctx, r: Report): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    def sql(k: String) = Json.str(scala.util.Try(spark.conf.get(k)).getOrElse("<unset>"))
    def core(k: String, dflt: String) = Json.str(sc.getConf.get(k, s"$dflt (default)"))
    r.env("spark.master") = Json.str(sc.master)
    r.env("spark.version") = Json.str(spark.version)
    r.env("spark.sql.shuffle.partitions") = sql("spark.sql.shuffle.partitions")
    r.env("spark.shuffle.sort.bypassMergeThreshold") = core("spark.shuffle.sort.bypassMergeThreshold", "200")
    r.env("spark.sql.execution.sortBeforeRepartition") = sql("spark.sql.execution.sortBeforeRepartition")
    r.env("spark.sql.adaptive.enabled") = sql("spark.sql.adaptive.enabled")
    r.env("spark.sql.adaptive.coalescePartitions.enabled") = sql("spark.sql.adaptive.coalescePartitions.enabled")
    r.env("spark.sql.autoBroadcastJoinThreshold") = sql("spark.sql.autoBroadcastJoinThreshold")
    r.env("cores") = Runtime.getRuntime.availableProcessors.toString
    r.env("task_threads") = ctx.cores.toString
    r.env("heap_max_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
    r.env("jdk") = Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
    r.env("source") = Json.str(System.getProperty("perfbench.source", "unknown"))
  }
}
