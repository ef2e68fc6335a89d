package perfbench

import graft.core.Fs
import graft.frontier.{Ledger, Scheduler, Seen, WaveLoop}
import graft.functions.{canonicalize_url, host_of}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate-frontier generator. Row layout by `i mod 100`: 0–49 pick an
  * already-seen URL, 50–96 a new one, 97–99 repeat the new URL of row
  * i−47 (an in-wave duplicate with its own spelling and seed_idx).
  * `decorateShare` of the rows are spelled so they need canonicalization.
  */
final class FrontierGen(seed: Long, val seen: Long, val hosts: Gen.Hosts,
    decorateShare: Double) extends Serializable {

  def hostOf(j: Long): Int = hosts.pick(Gen.unit(Gen.hash(seed, 20, j)))

  def canonical(j: Long): String = Gen.canonicalUrl(hosts.names(hostOf(j)), j)

  def candidate(i: Long): (String, Long) = {
    val m = i % 100
    val j =
      if (m < 50) (Gen.hash(seed, 21, i) >>> 1) % seen
      else if (m < 97) seen + i
      else seen + (i - 47)
    val c = canonical(j)
    val url =
      if (Gen.unit(Gen.hash(seed, 22, i)) < decorateShare) Gen.decorate(c, Gen.hash(seed, 23, i))
      else c
    (url, Gen.hash(seed, 24, i) >>> 24) // seed_idx < 2^40
  }
}

/** frontier_wave: one large wave through `WaveLoop.run` against a ledger
  * that already holds a committed seen set. Set-up commits wave 0 (the seen
  * URLs), whose link discovery yields the candidate frontier as
  * `next/wave=0`; each timed job resumes a copy of that root and runs wave
  * 1 with no discovery and no pages.
  */
final class FrontierWave(ctx: Ctx) extends Workload(ctx) {
  val name = "frontier_wave"

  private val nSeen = 40000
  private val nCand = 100000
  private val gen = new FrontierGen(ctx.seed, nSeen, new Gen.Hosts(4000, ctx.seed), 0.4)
  private val base = ctx.dir("fw-base")
  private var jobNo = 0
  private def jobRoot(k: Int) = ctx.dir(s"fw-job-$k")
  private var lastScheduled = 0L

  private def spark: SparkSession = ctx.spark

  private def seenUrls: DataFrame = {
    val g = gen
    val canon = udf((j: Long) => g.canonical(j))
    spark.range(nSeen).select(canon(col("id")).as("url"), col("id").as("seed_idx"))
  }

  private def candidates: DataFrame = {
    val g = gen
    val cand = udf((i: Long) => g.candidate(i))
    spark.range(nCand).select(cand(col("id")).as("c"))
      .select(col("c._1").as("url"), col("c._2").as("seed_idx"))
  }

  private def emptyFrontier: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      seenUrls.schema)

  private def ledgerAt(root: String) = new Ledger(spark, s"$root/seenstate")

  /** Each set-up commits a whole wave (seconds of fixed cost), so it runs
    * twice rather than three times to keep a run inside its time budget;
    * the second set-up also serves as the warm-up.
    */
  override def setupReps: Int = 2

  def setup(): Unit = {
    Fs.deleteTree(base)
    WaveLoop.run(spark, base, seenUrls, _ => candidates, maxWaves = 1,
      ledger = Some(ledgerAt(base)))
  }

  private def runWave(root: String): Long =
    WaveLoop.run(spark, root, emptyFrontier, _ => emptyFrontier, maxWaves = 2,
      ledger = Some(ledgerAt(root))).map(_.scheduled).sum

  def warmUp(): Unit = ()

  override def beforeJob(): Unit = {
    Fs.deleteTree(jobRoot(jobNo))
    jobNo += 1
    Files2.copy(base, jobRoot(jobNo))
  }

  def job(): Long = {
    lastScheduled = runWave(jobRoot(jobNo))
    lastScheduled
  }

  /** Candidates with their canonical form and whether that form is a seen
    * URL, in plain SQL (string equality, no hashes, no bloom).
    */
  private lazy val keyedCandidates: DataFrame =
    spark.read.parquet(s"$base/next/wave=0")
      .select(col("url"), canonicalize_url(col("url")).as("canonical_url"))
      .join(seenUrls.select(col("url").as("canonical_url"), lit(true).as("seen")),
        Seq("canonical_url"), "left")
      .withColumn("host", host_of(col("canonical_url")))
      .localCheckpoint(true)

  /** The exact recomputation: distinct canonical candidates minus seen. */
  private lazy val expected: DataFrame =
    keyedCandidates.where(col("seen").isNull).select("canonical_url").distinct()
      .localCheckpoint(true)
  private lazy val nExpected = expected.count()

  def checkJob(r: Report): Unit = {
    r.check("frontier_wave.scheduled_count", lastScheduled == nExpected,
      s"job $jobNo scheduled $lastScheduled, expected $nExpected")
    val sched = spark.read.parquet(s"${jobRoot(jobNo)}/schedule/wave=1")
    // URLs the recomputation has and the schedule lacks; scheduled rows
    // beyond one per expected URL (repeats and URLs it does not have)
    val a = sched.groupBy("canonical_url").count()
      .join(expected.withColumn("expected", lit(true)), Seq("canonical_url"), "full_outer")
      .agg(sum(when(col("count").isNull, 1).otherwise(0)),
        sum(when(col("expected").isNull, col("count")).otherwise(col("count") - 1)))
      .collect()(0)
    val missing = a.getLong(0)
    val extra = if (a.isNullAt(1)) 0L else a.getLong(1)
    r.check("frontier_wave.scheduled_set", missing == 0 && extra == 0,
      s"job $jobNo: missing $missing, unexpected $extra")
    val gap = 3L
    val badHosts = sched.groupBy("host_rev")
      .agg(count(lit(1)).as("n"), countDistinct(col("slot")).as("d"),
        min(col("slot")).as("lo"), max(col("slot")).as("hi"))
      .where(col("n") =!= col("d") || col("lo") =!= 0 || col("hi") =!= (col("n") - 1) * gap)
      .count()
    r.check("frontier_wave.host_gap", badHosts == 0,
      s"job $jobNo: $badHosts hosts break the $gap s slot gap")
  }

  def inputProps(r: Report): Unit = {
    val k = keyedCandidates
    val unseen = col("seen").isNull
    val a = k.agg(count(lit(1)), sum(when(col("url") === col("canonical_url"), 1).otherwise(0)),
      sum(when(col("host").rlike("[^\\x00-\\x7F]"), 1).otherwise(0)),
      sum(when(col("seen"), 1).otherwise(0)),
      sum(when(unseen, 1).otherwise(0)), countDistinct(when(unseen, col("canonical_url"))),
      countDistinct(col("host"))).collect()(0)
    val n = a.getLong(0).toDouble
    val top = k.groupBy("host").count().agg(max(col("count"))).collect()(0).getLong(0)
    r.props("rows") = n
    r.props("canonical_share") = a.getLong(1) / n
    r.props("non_ascii_host_share") = a.getLong(2) / n
    r.props("seen_share") = a.getLong(3) / n
    // rows that repeat an unseen URL an earlier row of the wave already
    // holds; repeated draws of seen URLs are not counted (the probe drops them)
    r.props("inwave_duplicate_share") = (a.getLong(4) - a.getLong(5)) / n
    r.props("hosts") = a.getLong(6).toDouble
    r.props("top_host_share") = top / n
    r.props("seen_urls") = nSeen.toDouble
  }

  def layers(r: Report, loop: Loop.Result): Unit = {
    val tr = ctx.tracer
    val stage = ctx.dir("fw-stage")
    def staged(name: String, df: DataFrame): DataFrame = {
      tr.span("stage")(df.write.mode("overwrite").parquet(s"$stage/$name"))
      spark.read.parquet(s"$stage/$name")
    }
    val cand = spark.read.parquet(s"$base/next/wave=0")
    val keys = ctx.layerCall("url.keys")(ctx.force(Seen.withUrlKeys(cand)))
    r.layer("url.keys_s") = tr.seconds("url.keys")
    r.layer("url.keys_cpu_s") = keys.cpuS
    val keyed = staged("keyed", Seen.withUrlKeys(cand))
    val rows = keyed.count().toDouble
    r.layer("url.rows") = rows
    r.layer("url.canonical_input_frac") = r.props("canonical_share")
    r.layer("url.non_ascii_host_frac") = r.props("non_ascii_host_share")

    val ledger = ledgerAt(base)
    tr.span("ledger.probe")(ctx.force(ledger.filterUnseen(keyed, 0)))
    r.layer("ledger.probe_s") = tr.seconds("ledger.probe")
    val unseen = staged("unseen", ledger.filterUnseen(keyed, 0))
    val nUnseen = unseen.count().toDouble
    val (pos, fp) = Probe.bloomPositives(spark, s"$base/seenstate", 0, keyed, unseen)
    r.layer("ledger.bloom_pos_frac") = pos / rows
    r.layer("ledger.bloom_fp_frac") = if (pos > 0) fp / pos else 0.0
    r.layer("ledger.unseen_frac") = nUnseen / rows

    val dedup = ctx.layerCall("seen.dedup")(ctx.force(Seen.dropInWaveDuplicates(unseen)))
    r.layer("seen.dedup_s") = tr.seconds("seen.dedup")
    r.layer("seen.shuffle_write_mb") = dedup.shuffleWriteMb
    val deduped = staged("deduped", Seen.dropInWaveDuplicates(unseen))
    val nDeduped = deduped.count().toDouble
    r.layer("seen.inwave_dup_frac") = 1.0 - nDeduped / nUnseen

    Probe.schedule(ctx, r, deduped)

    // append and compact on a copy of the committed root
    val copy = ctx.dir("fw-append")
    Fs.deleteTree(copy)
    Files2.copy(base, copy)
    val l2 = ledgerAt(copy)
    val delta = deduped.select("url_hash", "canonical_url")
    tr.span("ledger.append")(l2.appendWithBlooms(delta, 1))
    tr.span("ledger.compact")(l2.compact())
    r.layer("ledger.append_s") = tr.seconds("ledger.append")
    r.layer("ledger.compact_s") = tr.seconds("ledger.compact")
    Fs.deleteTree(copy)

    val root = jobRoot(jobNo)
    Probe.ledgerState(spark, r, s"$root/seenstate")
    Probe.stateBytes(r, root)
    val layerSelf = Seq("url.keys", "ledger.probe", "seen.dedup", "sched.schedule", "ledger.append")
      .map(tr.seconds).sum
    Probe.waveLoop(ctx, r, loop.traced(true), layerSelf)

    // scaling: the same job at one task thread against four
    val t4 = loop.traced(false).median
    ctx.startSession(1)
    beforeJob()
    val t0 = System.nanoTime()
    runWave(jobRoot(jobNo))
    val t1 = (System.nanoTime() - t0) / 1e9
    r.layer("spark.speedup_1to4") = t1 / t4
    r.info("job_s_local1") = Json.num(t1)
    Fs.deleteTree(stage)
  }
}

/** Layer probes shared by the frontier workloads. */
object Probe {

  /** Bloom-bank positives among `keyed` rows, and how many of them the
    * exact anti-join found unseen (verification the bloom wasted).
    */
  def bloomPositives(spark: SparkSession, ledgerRoot: String, wave: Int,
      keyed: DataFrame, unseen: DataFrame): (Double, Double) = {
    val dir = s"$ledgerRoot/blooms/wave=$wave"
    if (!Fs.exists(dir)) return (0.0, 0.0)
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Int]("bucket"), r.getAs[Array[Byte]]("bloom")))
    val buckets = rows.length
    val bank = new graft.functions.BloomBank(spark.sparkContext.broadcast(rows))
    val probe = udf((h: Long) => bank.mightContain(Math.floorMod(h, buckets.toLong).toInt, h))
    val marked = keyed.select(col("url_hash"), probe(col("url_hash")).as("pos"))
      .join(unseen.select(col("url_hash"), lit(true).as("unseen")).distinct(), Seq("url_hash"), "left")
    val a = marked.agg(sum(when(col("pos"), 1).otherwise(0)),
      sum(when(col("pos") && col("unseen").isNotNull, 1).otherwise(0))).collect()(0)
    (a.getLong(0).toDouble, a.getLong(1).toDouble)
  }

  /** Times `Scheduler.schedule` over a staged, deduped frontier and
    * records its shape: hosts, top-host share and output partition skew.
    */
  def schedule(ctx: Ctx, r: Report, deduped: DataFrame): Unit = {
    val tr = ctx.tracer
    val in = deduped.select("url", "canonical_url", "url_hash", "host", "host_rev", "seed_idx")
    val mm = in.agg(min(col("seed_idx")), max(col("seed_idx"))).collect()(0)
    val range = if (mm.isNullAt(0)) None else Some((mm.getLong(0), mm.getLong(1)))
    def sched = Scheduler.schedule(in, 3L, salted = true, orderKeyRange = range)
    val sums = ctx.layerCall("sched.schedule")(ctx.force(sched))
    r.layer("sched.schedule_s") = tr.seconds("sched.schedule")
    r.layer("sched.cpu_s") = sums.cpuS
    r.layer("sched.shuffle_write_mb") = sums.shuffleWriteMb
    val perHost = in.groupBy("host_rev").count().agg(count(lit(1)), max(col("count")), sum(col("count")))
      .collect()(0)
    r.layer("sched.hosts") = perHost.getLong(0).toDouble
    r.layer("sched.top_host_share") =
      if (perHost.isNullAt(2)) 0.0 else perHost.getLong(1).toDouble / perHost.getLong(2)
    val parts = sched.groupBy(spark_partition_id().as("p")).count().collect().map(_.getLong(1))
    r.layer("sched.partition_skew") =
      if (parts.isEmpty) 0.0 else parts.max / (parts.sum.toDouble / parts.length)
  }

  /** Size of the ledger a wave left behind. */
  def ledgerState(spark: SparkSession, r: Report, ledgerRoot: String): Unit = {
    val tableDirs = Fs.childNames(ledgerRoot).filter(_.startsWith("ledger_v")).map(d => s"$ledgerRoot/$d")
    r.layer("ledger.rows") = tableDirs.map(d => spark.read.parquet(d).count()).sum.toDouble
    r.layer("ledger.bytes") = tableDirs.map(d => Fs.treeBytes(d, ".parquet")).sum.toDouble
    r.layer("ledger.files") = tableDirs.map(d => Files2.count(d, ".parquet")).sum.toDouble
    r.layer("ledger.bank_bytes") = Fs.treeBytes(s"$ledgerRoot/blooms", ".parquet").toDouble
  }

  /** The `scheduled` count a committed wave's manifest records, or -1. */
  def manifestScheduled(root: String, wave: Int): Long =
    "\"scheduled\":(\\d+)".r.findFirstMatchIn(Fs.readString(WaveLoop.manifestPath(root, wave)))
      .map(_.group(1).toLong).getOrElse(-1L)

  /** Bytes under a crawl root per URL its committed waves scheduled. */
  def stateBytes(r: Report, root: String): Unit = {
    val scheduled = WaveLoop.committedWaves(root).map(w => math.max(0L, manifestScheduled(root, w))).sum
    r.layer("state_bytes_per_url") = Fs.treeBytes(root, "").toDouble / math.max(1L, scheduled)
  }

  /** Job and stage counts per wave, and the wave time its layers' self
    * times leave unexplained.
    */
  def waveLoop(ctx: Ctx, r: Report, loop: Loop.Result, layerSelfS: Double): Unit = {
    r.layer("waveloop.jobs_per_wave") = Stats.median(loop.perJobJobs.map(_.toDouble))
    r.layer("waveloop.stages_per_wave") = Stats.median(loop.perJobStages.map(_.toDouble))
    r.layer("waveloop.overhead_s") = loop.median - layerSelfS
    r.layer("waveloop.persisted_rdds") = ctx.spark.sparkContext.getPersistentRDDs.size.toDouble
  }
}
