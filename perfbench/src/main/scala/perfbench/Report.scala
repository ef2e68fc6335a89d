package perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Metric names and units. `EndToEnd` and `PerLayer` are the lists
  * `BENCHMARK.json` declares, and every run reports every metric of its
  * list, so `PerLayer` holds only figures every workload measures.
  * `LayerDetail` holds the figures of single layers; a traced run's report
  * carries all of them (0 for a layer the workload does not run).
  */
object Metrics {
  final case class Def(name: String, unit: String)

  val EndToEnd: Seq[Def] = Seq(
    Def("setup_s", "s"), Def("job_s", "s"), Def("items_per_s", "items/s"),
    Def("cpu_us_per_item", "us"))

  val PerLayer: Seq[Def] = Seq(
    Def("layers.self_s", "s"), Def("layers.top_share", "ratio"),
    Def("trace.job_s", "s"), Def("trace.overhead_s", "s"),
    Def("spark.util", "ratio"), Def("spark.gc_frac", "ratio"), Def("spark.tasks", "count"),
    Def("spark.shuffle_write_mb", "MiB"), Def("spark.task_failures", "count"),
    Def("peak_rss_mb", "MiB"))

  val LayerDetail: Seq[Def] = Seq(
    Def("url.keys_s", "s"), Def("url.keys_cpu_s", "s"), Def("url.rows", "count"),
    Def("url.canonical_input_frac", "ratio"), Def("url.non_ascii_host_frac", "ratio"),
    Def("seen.dedup_s", "s"), Def("seen.inwave_dup_frac", "ratio"), Def("seen.shuffle_write_mb", "MiB"),
    Def("ledger.probe_s", "s"), Def("ledger.bloom_pos_frac", "ratio"), Def("ledger.bloom_fp_frac", "ratio"),
    Def("ledger.unseen_frac", "ratio"), Def("ledger.append_s", "s"), Def("ledger.compact_s", "s"),
    Def("ledger.rows", "count"), Def("ledger.bytes", "B"), Def("ledger.files", "count"),
    Def("ledger.bank_bytes", "B"),
    Def("sched.schedule_s", "s"), Def("sched.cpu_s", "s"), Def("sched.hosts", "count"),
    Def("sched.top_host_share", "ratio"), Def("sched.partition_skew", "ratio"),
    Def("sched.shuffle_write_mb", "MiB"),
    Def("discover.links_s", "s"), Def("discover.links_per_page", "ratio"),
    Def("discover.fetchable_frac", "ratio"), Def("discover.fetchparse_s", "s"),
    Def("discover.hit_frac", "ratio"),
    Def("waveloop.jobs_per_wave", "count"), Def("waveloop.stages_per_wave", "count"),
    Def("waveloop.overhead_s", "s"), Def("waveloop.persisted_rdds", "count"),
    Def("wave_s_max", "s"), Def("state_bytes_per_url", "B"),
    Def("text.extract_s", "s"), Def("text.chunk_s", "s"), Def("text.chunks_per_page", "ratio"),
    Def("text.long_para_frac", "ratio"), Def("text.boilerplate_byte_frac", "ratio"),
    Def("text.extract_ns_per_byte", "ns"), Def("text.chunk_ns_per_word", "ns"),
    Def("embed.embed_s", "s"), Def("embed.vectors", "count"), Def("embed.ns_per_token", "ns"),
    Def("pipeline.write_s", "s"), Def("pipeline.out_bytes_per_page", "B"),
    Def("dedup.minhash_s", "s"), Def("dedup.pairs", "count"), Def("dedup.recall", "ratio"),
    Def("dedup.cc_s", "s"), Def("dedup.cc_rounds", "count"), Def("dedup.persisted_rdds", "count"),
    Def("spark.shuffle_fetch_wait_s", "s"), Def("spark.spill_mb", "MiB"),
    Def("spark.speedup_1to4", "ratio"))

  private val units = (EndToEnd ++ PerLayer ++ LayerDetail).map(d => d.name -> d.unit).toMap
  def unitOf(name: String): String = units(name)
}

/** Which spans belong to which layer. `stage` spans (writing staged
  * inputs) and `ledger.compact` (a frontier_wave job never compacts, a crawl
  * once in ten waves) belong to none; the pipeline's own time is its write,
  * and the wave loop's is the wave time its layers do not account for.
  */
object Layers {
  private val OfSpan = Map(
    "url.keys" -> "url", "seen.dedup" -> "seen", "ledger.probe" -> "ledger",
    "ledger.append" -> "ledger", "sched.schedule" -> "sched",
    "discover.links" -> "discover", "discover.fetchparse" -> "discover",
    "text.extract" -> "text", "text.chunk" -> "text", "embed.embed" -> "embed",
    "dedup.minhash" -> "dedup", "dedup.cc" -> "dedup")

  /** Layer -> self seconds, largest first. */
  def selfSeconds(spanSelf: Map[String, Double], layer: collection.Map[String, Double]): Seq[(String, Double)] = {
    val bySpan = spanSelf.toSeq.flatMap { case (s, v) => OfSpan.get(s).map(_ -> v) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val extra = Seq("pipeline" -> layer.getOrElse("pipeline.write_s", 0.0),
      "waveloop" -> layer.getOrElse("waveloop.overhead_s", 0.0)).filter(_._2 != 0.0)
    (bySpan.toSeq ++ extra).sortBy(-_._2)
  }
}

/** Everything one run measures: metrics, input properties, output checks,
  * environment record and the per-layer self-time table.
  */
final class Report(val workload: String, val seed: Long, val traced: Boolean) {
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Measured input properties (shares and sizes), cited by later claims. */
  val props = mutable.LinkedHashMap.empty[String, Double]
  /** Extra facts: sample counts, per-call-site job times, and so on. */
  val info = mutable.LinkedHashMap.empty[String, String]
  val env = mutable.LinkedHashMap.empty[String, String]
  /** Output checks by name: jobs checked, jobs failed, and the detail of
    * the first failure (or of the last pass while none failed).
    */
  final class Tally(var checked: Long, var failed: Long, var detail: String)
  val checks = mutable.LinkedHashMap.empty[String, Tally]
  var attempted = 0L
  var failedJobs = 0L
  /** Completed jobs whose output failed at least one check. */
  var wrongJobs = 0L
  private var checkFailures = 0L
  var spans = "[]"
  var selfTimes: Map[String, Double] = Map.empty
  /** Self seconds per layer (see [[Layers.selfSeconds]]). */
  var layerSelf: Seq[(String, Double)] = Nil

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    val t = checks.getOrElseUpdate(name, new Tally(0, 0, detail))
    t.checked += 1
    if (!ok) {
      if (t.failed == 0) t.detail = detail
      t.failed += 1
      checkFailures += 1
    } else if (t.failed == 0) t.detail = detail
  }

  /** Runs the output checks of one completed job. The job counts once in
    * `failed` however many of its checks fail; a check that throws fails.
    */
  def checkJob(body: => Unit): Unit = {
    val before = checkFailures
    try body
    catch { case e: Exception => check("check_error", ok = false, e.toString) }
    if (checkFailures > before) wrongJobs += 1
  }

  def failed: Long = failedJobs + wrongJobs
  def correct: Boolean = failed == 0 && attempted > 0
  def failFrac: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted

  private def metricsJson(m: collection.Map[String, Double]): String =
    Json.obj(m.map { case (k, v) =>
      k -> s"""{"value":${Json.num(v)},"unit":${Json.str(Metrics.unitOf(k))}}""" })

  /** The one-line result the benchmark contract asks for. */
  def resultLine: String = {
    val m = if (traced) Metrics.PerLayer.map(d => d.name -> layer(d.name))
      else Metrics.EndToEnd.map(d => d.name -> endToEnd.getOrElse(d.name, 0.0))
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${metricsJson(m.toMap)}}"""
  }

  def toJson: String = Json.obj(Seq(
    "workload" -> Json.str(workload),
    "seed" -> seed.toString,
    "trace" -> (if (traced) "1" else "0"),
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "fail_frac" -> Json.num(failFrac),
    "end_to_end" -> metricsJson(endToEnd),
    "per_layer" -> metricsJson(layer),
    "input_properties" -> Json.obj(props.map { case (k, v) => k -> Json.num(v) }),
    "checks" -> checks.map { case (n, t) =>
      s"""{"name":${Json.str(n)},"jobs":${t.checked},"failed":${t.failed},"detail":${Json.str(t.detail)}}"""
    }.mkString("[", ",", "]"),
    "info" -> Json.obj(info.map { case (k, v) => k -> v }),
    "env" -> Json.obj(env.map { case (k, v) => k -> v }),
    "self_s" -> Json.obj(selfTimes.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
    "layer_self_s" -> Json.obj(layerSelf.map { case (k, v) => k -> Json.num(v) }),
    "spans" -> spans))

  /** Human-readable lines: every metric by name with its unit. */
  def humanLines: Seq[String] = {
    def fmt(v: Double) = if (v == math.rint(v) && math.abs(v) < 1e12) v.toLong.toString else f"$v%.6g"
    val e = endToEnd.toSeq.map { case (k, v) => f"[perfbench] $workload%-13s $k%-28s ${fmt(v)}%14s ${Metrics.unitOf(k)}" }
    val l = layer.toSeq.map { case (k, v) => f"[perfbench] $workload%-13s $k%-28s ${fmt(v)}%14s ${Metrics.unitOf(k)}" }
    val p = props.toSeq.map { case (k, v) => f"[perfbench] $workload%-13s input.$k%-22s ${fmt(v)}%14s" }
    val c = checks.map { case (n, t) =>
      val verdict = if (t.failed == 0) s"ok in ${t.checked} jobs" else s"FAILED in ${t.failed} of ${t.checked} jobs"
      s"[perfbench] $workload check $n: $verdict; ${t.detail}"
    }
    e ++ l ++ p ++ c :+ f"[perfbench] $workload%-13s fail_frac                    ${fmt(failFrac)}%14s ratio ($failed failed of $attempted attempted)"
  }
}
