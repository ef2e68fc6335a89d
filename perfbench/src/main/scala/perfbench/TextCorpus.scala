package perfbench

import graft.core.Fs
import graft.embed.HashEmbed
import graft.pipeline.TextPipeline
import graft.text.{Chunker, HtmlText}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** text_corpus: `TextPipeline.results` over generated pages, written as
  * parquet as `Crawl` writes its results. One job is one pass over the
  * page batch.
  */
final class TextCorpus(ctx: Ctx) extends Workload(ctx) {
  val name = "text_corpus"

  private val nPages = 4000
  private val staging = ctx.dir("tc-pages")
  private val out = ctx.dir("tc-out")
  private def spark: SparkSession = ctx.spark

  /** What the program reads: url and html only. */
  private def pages: DataFrame = spark.read.parquet(staging).select("url", "html")

  def setup(): Unit = {
    val seed = ctx.seed
    val pg = udf((i: Long) => {
      val p = Gen.page(seed, i, maxParagraphs = 60, longEvery = 16)
      (p.html, p.text, p.paragraphs, p.longParagraphs, p.boilerplateBytes)
    })
    spark.range(nPages).select(col("id"), pg(col("id")).as("p"))
      .select(concat(lit("http://text.test/doc/"), col("id").cast("string")).as("url"),
        col("p._1").as("html"), col("p._2").as("expected"), col("p._3").as("paragraphs"),
        col("p._4").as("long_paragraphs"), col("p._5").as("boilerplate_chars"))
      .repartition(ctx.cores * 2)
      .write.mode("overwrite").parquet(staging)
  }

  private def runPass(): Long = {
    TextPipeline.results(pages).write.mode("overwrite").parquet(out)
    nPages
  }

  def warmUp(): Unit = runPass()
  /** Pass times keep falling over the first passes of a JVM. */
  override def warmUps: Int = 3

  def job(): Long = runPass()

  /** The generator's expected text by url, kept in memory for the checks. */
  private lazy val expected: DataFrame =
    spark.read.parquet(staging).select("url", "expected").localCheckpoint(true)

  def checkJob(r: Report): Unit = {
    val res = spark.read.parquet(out)
    val rows = res.count()
    // one pass collects every page whose text differs (or that only one
    // side has) and one page in about fifty for the kernel comparison
    val picked = res.join(expected, Seq("url"), "full_outer")
      .select(col("expected"), col("chunks"), col("embeddings"),
        (col("full_text").isNull || col("expected").isNull ||
          col("full_text") =!= col("expected")).as("differs"),
        (pmod(xxhash64(col("url")), lit(50)) === 0).as("sampled"))
      .where(col("differs") || col("sampled")).collect()
    val differ = picked.count(_.getBoolean(3))
    r.check("text_corpus.full_text_identical", rows == nPages && differ == 0,
      s"$rows rows, $differ differ from the generator's expected text")
    // sampled pages: chunks and embeddings against direct kernel calls
    val sample = picked.filter(row => row.getBoolean(4) && !row.getBoolean(3))
    val bad = sample.count { row =>
      val text = row.getString(0)
      val chunks = row.getSeq[String](1)
      val embs = row.getSeq[scala.collection.Seq[Float]](2)
      val want = Chunker.chunk(text)
      chunks != want || embs.size != want.size ||
        want.indices.exists(k => !java.util.Arrays.equals(embs(k).toArray, HashEmbed.embed(want(k))))
    }
    r.check("text_corpus.chunks_and_embeddings", sample.nonEmpty && bad == 0,
      s"${sample.length} sampled pages, $bad differ from Chunker.chunk/HashEmbed.embed")
  }

  def inputProps(r: Report): Unit = {
    val s = spark.read.parquet(staging)
    val a = s.agg(count(lit(1)), sum(col("paragraphs")), sum(col("long_paragraphs")),
      sum(col("boilerplate_chars")), sum(length(col("html"))),
      sum(when(col("html").rlike("[^\\x00-\\x7F]"), 1).otherwise(0))).collect()(0)
    val sizes = s.select(octet_length(col("html")).cast("double")).collect().map(_.getDouble(0)).toSeq
    r.props("pages") = a.getLong(0).toDouble
    r.props("long_paragraph_share") = a.getLong(2).toDouble / a.getLong(1)
    r.props("pages_with_long_paragraph_share") =
      s.where(col("long_paragraphs") > 0).count().toDouble / a.getLong(0)
    r.props("boilerplate_char_share") = a.getLong(3).toDouble / a.getLong(4)
    r.props("non_ascii_page_share") = a.getLong(5).toDouble / a.getLong(0)
    r.props("html_bytes_p50") = Stats.quantile(sizes, 0.5)
    r.props("html_bytes_p90") = Stats.quantile(sizes, 0.9)
    r.props("html_bytes_p99") = Stats.quantile(sizes, 0.99)
    r.props("html_bytes_max") = sizes.max
  }

  def layers(r: Report, loop: Loop.Result): Unit = {
    val tr = ctx.tracer
    val stage = ctx.dir("tc-stage")
    def staged(name: String, df: DataFrame): DataFrame = {
      tr.span("stage")(df.write.mode("overwrite").parquet(s"$stage/$name"))
      spark.read.parquet(s"$stage/$name")
    }
    val pg = pages
    tr.span("text.extract")(ctx.force(TextPipeline.withExtractedText(pg)))
    val text = staged("text", TextPipeline.withExtractedText(pg).select("url", "text"))
    tr.span("text.chunk")(ctx.force(TextPipeline.chunks(text)))
    val chunks = staged("chunks", TextPipeline.chunks(text))
    tr.span("embed.embed")(ctx.force(TextPipeline.withEmbeddings(chunks)))
    val nChunks = chunks.count().toDouble
    r.layer("text.extract_s") = tr.seconds("text.extract")
    r.layer("text.chunk_s") = tr.seconds("text.chunk")
    r.layer("embed.embed_s") = tr.seconds("embed.embed")
    r.layer("text.chunks_per_page") = nChunks / nPages
    r.layer("embed.vectors") = nChunks
    r.layer("text.long_para_frac") = r.props("long_paragraph_share")
    r.layer("text.boilerplate_byte_frac") = r.props("boilerplate_char_share")

    // the write's own cost: the same results to parquet and to no sink
    tr.span("pipeline.results_nosink")(ctx.force(TextPipeline.results(pg)))
    tr.span("pipeline.results_parquet")(TextPipeline.results(pg).write.mode("overwrite").parquet(out))
    r.layer("pipeline.write_s") = tr.seconds("pipeline.results_parquet") - tr.seconds("pipeline.results_nosink")
    r.layer("pipeline.out_bytes_per_page") =
      Fs.treeBytes(out, ".parquet").toDouble / nPages

    // single-thread driver kernels over a sample of pages
    val sample = spark.read.parquet(staging).select("html", "expected")
      .where(pmod(xxhash64(col("url")), lit(10)) === 0).collect()
      .map(row => (row.getString(0), row.getString(1)))
    val htmlBytes = sample.map(_._1.length.toLong).sum
    r.layer("text.extract_ns_per_byte") = Kernel.nsPer(htmlBytes)(sample.foreach(p => HtmlText.extractReadable(p._1)))
    val words = sample.map(p => graft.core.Py.wordCount(p._2).toLong).sum
    r.layer("text.chunk_ns_per_word") = Kernel.nsPer(words)(sample.foreach(p => Chunker.chunk(p._2)))
    val chunkTexts = sample.flatMap(p => Chunker.chunk(p._2))
    val tokens = chunkTexts.map(c => graft.core.Py.wordCount(c).toLong).sum
    r.layer("embed.ns_per_token") = Kernel.nsPer(tokens)(chunkTexts.foreach(c => HashEmbed.embed(c)))
    Fs.deleteTree(stage)
  }
}

object Kernel {
  /** Nanoseconds per unit of one single-threaded pass, best of passes
    * repeated for at least 0.3 s after one warm-up pass.
    */
  def nsPer(units: Long)(body: => Unit): Double = {
    body
    var best = Long.MaxValue
    val start = System.nanoTime()
    var passes = 0
    while (passes < 3 || System.nanoTime() - start < 300000000L) {
      val t = System.nanoTime(); body; best = math.min(best, System.nanoTime() - t)
      passes += 1
    }
    best.toDouble / math.max(1L, units)
  }
}
