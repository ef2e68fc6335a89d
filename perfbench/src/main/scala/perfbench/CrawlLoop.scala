package perfbench

import graft.core.Fs
import graft.frontier.{Discover, Ledger, Seen, WaveLoop}
import graft.functions.canonicalize_url
import graft.sources.PageTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Linked page table for crawl_loop. Pages are laid out in BFS layers of
  * `width`; page i of layer l links to its child i+width, to a random page
  * of layer l+1, back to a random earlier page, and to a missing page on
  * its own host (a fetch miss). One child link in five is spelled so it
  * needs canonicalization.
  */
final class CrawlGen(seed: Long, val width: Int, val hosts: Gen.Hosts) extends Serializable {

  def url(i: Long): String =
    s"http://${hosts.names(hosts.pick(Gen.unit(Gen.hash(seed, 30, i))))}/d/$i"

  def links(i: Long): Seq[String] = {
    val layer = i / width
    val child = url(i + width)
    val h = Gen.hash(seed, 33, i)
    Seq(
      if (Gen.below(h, 5) == 0) Gen.decorate(child, h >>> 8) else child,
      url((layer + 1) * width + Gen.below(Gen.hash(seed, 31, i), width)),
      url((Gen.hash(seed, 32, i) >>> 1) % (i + 1)),
      s"/missing/$i")
  }

  def page(i: Long): (String, Array[Byte]) = {
    val p = Gen.page(seed, i, maxParagraphs = 4, longEvery = 0,
      links = links(i).map(_.replace("&", "&amp;")))
    (url(i), p.html.getBytes("UTF-8"))
  }
}

/** crawl_loop: many small waves through `WaveLoop.run` with the Crawl
  * CLI's defaults (default `Ledger`, `Discover.fromPages`, fetch metrics
  * over the page table). Each timed job is one wave: `run` is called with
  * `maxWaves = k+1` and resumes exactly one wave. A crawl is `Waves` waves,
  * so the ledger compacts once (at wave 8, `compactEvery` = 8); the loop
  * runs whole crawls, each from a fresh root.
  */
final class CrawlLoop(ctx: Ctx) extends Workload(ctx) {
  val name = "crawl_loop"

  private val Waves = 10
  private val width = 1500
  private val gen = new CrawlGen(ctx.seed, width, new Gen.Hosts(400, ctx.seed))
  private val pagesRoot = ctx.dir("cl-pages")
  private var crawlNo = 0
  private var wave = 0
  private val completed = scala.collection.mutable.ArrayBuffer.empty[String]
  private def root(k: Int) = ctx.dir(s"cl-crawl-$k")

  private def spark: SparkSession = ctx.spark
  private def pages: DataFrame = PageTable.read(spark, pagesRoot)

  private def seeds: DataFrame = {
    val g = gen
    val u = udf((i: Long) => g.url(i))
    spark.range(width).select(u(col("id")).as("url"), col("id").as("seed_idx"))
  }

  def setup(): Unit = {
    Fs.deleteTree(pagesRoot)
    val g = gen
    val pg = udf((i: Long) => g.page(i))
    val df = spark.range(width.toLong * Waves).select(pg(col("id")).as("p"))
      .select(col("p._1").as("url"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("warc_ts"),
        col("p._2").as("html"),
        lit(null).cast("string").as("text"),
        lit("en").as("lang"))
    PageTable.commit(spark, pagesRoot, df)
  }

  private def runWave(r: String, k: Int): Long = {
    val p = pages
    WaveLoop.run(spark, r, seeds, Discover.fromPages(p), maxWaves = k + 1,
      pages = Some(p), ledger = Some(new Ledger(spark, s"$r/seenstate")))
      .map(_.scheduled).sum
  }

  private val warmRoot = ctx.dir("cl-warm")
  private val WarmWaves = 3

  /** A short crawl; its waves are also the repetition the crawl order of
    * every timed crawl is compared against.
    */
  def warmUp(): Unit = {
    Fs.deleteTree(warmRoot)
    (0 until WarmWaves).foreach(runWave(warmRoot, _))
  }

  override def beforeJob(): Unit =
    if (wave == 0) {
      crawlNo += 1
      Fs.deleteTree(root(crawlNo))
    }

  def job(): Long = {
    val n = runWave(root(crawlNo), wave)
    wave += 1
    n
  }

  override def afterJob(): Unit =
    if (wave == Waves) {
      completed += root(crawlNo)
      wave = 0
    }

  /** Whole crawls only. */
  override def atBoundary: Boolean = wave == 0 && completed.nonEmpty
  override def jobsPerSequence: Int = Waves

  /** SHA-256 over the crawl order of waves below `waves`. */
  private def digest(r: String, waves: Int): String = {
    val order = WaveLoop.crawlOrder(spark, r).where(col("wave") < waves)
    val hs = order.select(xxhash64(order.columns.toIndexedSeq.map(col): _*)).collect().map(_.getLong(0))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    hs.foreach { h => buf.clear(); buf.putLong(h); md.update(buf.array()) }
    md.digest().map("%02x".format(_)).mkString
  }

  private lazy val warmDigest = digest(warmRoot, WarmWaves)
  private var compacted = 0

  /** The wave's manifest against its schedule file; at the end of a crawl,
    * its crawl order against the warm-up crawl's.
    */
  def checkJob(r: Report): Unit = {
    val (rt, w) = (root(crawlNo), wave - 1)
    val n = Probe.manifestScheduled(rt, w)
    val rows = spark.read.parquet(s"$rt/schedule/wave=$w").count()
    r.check("crawl_loop.manifest_counts", n == rows, s"crawl $crawlNo wave $w: manifest $n, file $rows")
    if (wave == Waves) {
      val d = digest(rt, WarmWaves)
      r.check("crawl_loop.crawl_order_digest", d == warmDigest,
        s"crawl $crawlNo waves 0-${WarmWaves - 1}: ${d.take(16)}, warm-up crawl ${warmDigest.take(16)}")
      if (Fs.readString(s"$rt/seenstate/_ledger_version").trim.toInt >= 1) compacted += 1
      r.info("crawls_compacted") = s"$compacted"
      // the crawl before this one is no longer needed
      Fs.deleteTree(root(crawlNo - 1))
    }
  }

  def inputProps(r: Report): Unit = {
    val pg = pages
    val n = pg.count().toDouble
    val links = pg.select(col("url").as("base"),
        explode(graft.functions.extract_links(col("html").cast("string"))).as("href"))
      .select(canonicalize_url(graft.functions.resolve_url(col("base"), col("href"))).as("c"))
    val known = pg.select(col("url").as("c"), lit(1).as("hit"))
    val a = links.join(known, Seq("c"), "left")
      .agg(count(lit(1)), sum(coalesce(col("hit"), lit(0)))).collect()(0)
    val top = pg.groupBy(graft.functions.host_of(col("url"))).count().agg(max(col("count"))).collect()(0).getLong(0)
    r.props("pages") = n
    r.props("waves_per_crawl") = Waves
    r.props("links_per_page") = a.getLong(0) / n
    r.props("fetchable_link_share") = a.getLong(1).toDouble / a.getLong(0)
    r.props("top_host_share") = top / n
  }

  def layers(r: Report, loop: Loop.Result): Unit = {
    val tr = ctx.tracer
    val rt = completed.last
    val last = Waves - 1
    val stage = ctx.dir("cl-stage")
    def staged(name: String, df: DataFrame): DataFrame = {
      tr.span("stage")(df.write.mode("overwrite").parquet(s"$stage/$name"))
      spark.read.parquet(s"$stage/$name")
    }
    val pg = pages
    val sched = spark.read.parquet(s"$rt/schedule/wave=$last")
    val frontier = spark.read.parquet(s"$rt/next/wave=$last")

    tr.span("url.keys")(ctx.force(Seen.withUrlKeys(frontier)))
    r.layer("url.keys_s") = tr.seconds("url.keys")
    val keyed = staged("keyed", Seen.withUrlKeys(frontier))
    val rows = keyed.count().toDouble
    r.layer("url.rows") = rows

    val ledger = new Ledger(spark, s"$rt/seenstate")
    tr.span("ledger.probe")(ctx.force(ledger.filterUnseen(keyed, last)))
    r.layer("ledger.probe_s") = tr.seconds("ledger.probe")
    val unseen = staged("unseen", ledger.filterUnseen(keyed, last))
    val nUnseen = unseen.count().toDouble
    val (pos, fp) = Probe.bloomPositives(spark, s"$rt/seenstate", last, keyed, unseen)
    r.layer("ledger.bloom_pos_frac") = pos / rows
    r.layer("ledger.bloom_fp_frac") = if (pos > 0) fp / pos else 0.0
    r.layer("ledger.unseen_frac") = nUnseen / rows

    tr.span("seen.dedup")(ctx.force(Seen.dropInWaveDuplicates(unseen)))
    r.layer("seen.dedup_s") = tr.seconds("seen.dedup")
    val deduped = staged("deduped", Seen.dropInWaveDuplicates(unseen))
    r.layer("seen.inwave_dup_frac") = 1.0 - deduped.count() / nUnseen
    Probe.schedule(ctx, r, deduped)

    val discovered = Discover.fromPages(pg)(sched)
    tr.span("discover.links")(ctx.force(discovered))
    r.layer("discover.links_s") = tr.seconds("discover.links")
    val links = staged("links", discovered)
    val nLinks = links.count().toDouble
    val fetched = sched.join(pg.select(col("url").as("canonical_url")), Seq("canonical_url")).count()
    r.layer("discover.links_per_page") = nLinks / math.max(1L, fetched)
    val hits = links.select(canonicalize_url(col("url")).as("c"))
      .join(pg.select(col("url").as("c")), Seq("c")).count()
    r.layer("discover.fetchable_frac") = hits / math.max(1.0, nLinks)
    val fp0 = Discover.fetchParse(sched.select("url", "canonical_url", "url_hash", "seed_idx"), pg,
      urlCol = "canonical_url")
    tr.span("discover.fetchparse")(ctx.force(fp0))
    r.layer("discover.fetchparse_s") = tr.seconds("discover.fetchparse")
    val st = fp0.agg(count(lit(1)), sum(when(col("status") === 200, 1).otherwise(0))).collect()(0)
    r.layer("discover.hit_frac") = st.getLong(1).toDouble / math.max(1L, st.getLong(0))

    // append the last wave's delta again as the next wave, then compact,
    // on a copy of the committed root
    val copy = ctx.dir("cl-append")
    Fs.deleteTree(copy)
    Files2.copy(rt, copy)
    val l2 = new Ledger(spark, s"$copy/seenstate")
    val delta = spark.read.parquet(s"$rt/seen/wave=$last")
    tr.span("ledger.append")(l2.appendWithBlooms(delta, Waves))
    tr.span("ledger.compact")(l2.compact())
    r.layer("ledger.append_s") = tr.seconds("ledger.append")
    r.layer("ledger.compact_s") = tr.seconds("ledger.compact")
    Fs.deleteTree(copy)

    Probe.ledgerState(spark, r, s"$rt/seenstate")
    Probe.stateBytes(r, rt)
    val layerSelf = Seq("url.keys", "ledger.probe", "seen.dedup", "sched.schedule",
      "discover.links", "discover.fetchparse", "ledger.append").map(tr.seconds).sum
    Probe.waveLoop(ctx, r, loop.traced(true), layerSelf)
    r.layer("wave_s_max") = loop.times.max
    Fs.deleteTree(stage)
  }
}
