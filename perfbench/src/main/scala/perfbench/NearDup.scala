package perfbench

import graft.core.Fs
import graft.dedup.{Components, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Documents with planted near-duplicate chains. Chain member t+1 is member
  * t with one more word replaced, so neighbours are near-duplicates while
  * the ends of a long chain are not: only the chain links them, and the
  * clustering needs several rounds to join it.
  */
final class NearDupGen(seed: Long, val docs: Int, plantedShare: Double,
    val words: Int) extends Serializable {

  /** Chain lengths cycling through 2–24, laid end to end over the first
    * planted docs. The lengths do not depend on the seed, so every seed
    * gives the same graph shape; the seed varies only the words.
    */
  val chains: Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var used = 0
    var k = 0
    val target = (docs * plantedShare).toInt
    while (used < target) {
      val len = math.min(target - used, 2 + k % 23)
      if (len >= 2) out += len
      used += len
      k += 1
    }
    out.toArray
  }
  private val starts: Array[Int] = chains.scanLeft(0)(_ + _)
  val planted: Int = starts.last

  /** A fixed scramble of the document index: the id order decides how many
    * rounds the clustering takes, so it too stays the same for every seed.
    */
  def id(d: Int): Long = Gen.hash(0, 41, d) >>> 2

  def text(d: Int): String =
    if (d >= planted) Gen.randomWords(seed, 1000000L + d, words).mkString(" ")
    else {
      val c = {
        val k = java.util.Arrays.binarySearch(starts, d)
        if (k >= 0) k else -k - 2
      }
      val t = d - starts(c)
      val w = Gen.randomWords(seed, c, words)
      (1 to t).foreach { e =>
        w(Gen.below(Gen.hash(seed, 42L * 1000003L + c, e), words)) = s"e${c}x$e"
      }
      w.mkString(" ")
    }

  /** Consecutive chain members as (id_a, id_b). */
  def plantedPairs: Seq[(Long, Long)] =
    chains.indices.flatMap(c => (starts(c) until starts(c + 1) - 1).map(d => (id(d), id(d + 1))))
}

/** near_dup: `Dedup.minHashNearDups` then
  * `Components.connectedComponentsWithRounds` over the documents. One job
  * is one near-dup and clustering pass.
  */
final class NearDup(ctx: Ctx) extends Workload(ctx) {
  val name = "near_dup"

  private val gen = new NearDupGen(ctx.seed, 12000, 0.3, 150)
  private val staging = ctx.dir("nd-docs")
  private val out = ctx.dir("nd-labels")
  private var lastRounds = 0
  private def spark: SparkSession = ctx.spark
  private def docs: DataFrame = spark.read.parquet(staging)

  def setup(): Unit = {
    val g = gen
    val doc = udf((d: Long) => (g.id(d.toInt), g.text(d.toInt)))
    spark.range(g.docs).select(doc(col("id")).as("d"))
      .select(col("d._1").as("id"), col("d._2").as("text"))
      .repartition(ctx.cores * 2)
      .write.mode("overwrite").parquet(staging)
  }

  private def runPass(): Long = {
    val pairs = Dedup.minHashNearDups(docs, "id", "text")
    val (labels, rounds) = Components.connectedComponentsWithRounds(pairs)
    labels.write.mode("overwrite").parquet(out)
    lastRounds = rounds
    gen.docs
  }

  def warmUp(): Unit = runPass()
  /** Pass times keep falling over the first passes of a JVM. */
  override def warmUps: Int = 2

  def job(): Long = runPass()

  private def plantedDf: DataFrame = {
    val s = spark
    import s.implicits._
    gen.plantedPairs.toDF("id_a", "id_b")
  }

  def checkJob(r: Report): Unit = {
    val labels = spark.read.parquet(out)
    val la = labels.select(col("id").as("id_a"), col("cluster_id").as("ca"))
    val lb = labels.select(col("id").as("id_b"), col("cluster_id").as("cb"))
    val p = plantedDf
    val split = p.join(la, Seq("id_a"), "left").join(lb, Seq("id_b"), "left")
      .where(col("ca").isNull || col("cb").isNull || col("ca") =!= col("cb")).count()
    r.check("near_dup.planted_pairs_joined", split == 0,
      s"${gen.plantedPairs.size} planted pairs, $split not in one component")
    r.info("cc_rounds_last_job") = lastRounds.toString
  }

  def inputProps(r: Report): Unit = {
    r.props("docs") = gen.docs
    r.props("words_per_doc") = gen.words
    r.props("planted_dup_share") = gen.planted.toDouble / gen.docs
    r.props("chains") = gen.chains.length
    r.props("chain_len_max") = gen.chains.max
    r.props("chain_len_mean") = gen.chains.sum.toDouble / gen.chains.length
    r.props("planted_pairs") = gen.plantedPairs.size
  }

  def layers(r: Report, loop: Loop.Result): Unit = {
    val tr = ctx.tracer
    val pairsDir = ctx.dir("nd-stage-pairs")
    tr.span("dedup.minhash")(ctx.force(Dedup.minHashNearDups(docs, "id", "text")))
    tr.span("stage")(Dedup.minHashNearDups(docs, "id", "text").write.mode("overwrite").parquet(pairsDir))
    val pairs = spark.read.parquet(pairsDir)
    val nPairs = pairs.count().toDouble
    val found = plantedDf.join(pairs.select("id_a", "id_b"), Seq("id_a", "id_b")).count() +
      plantedDf.join(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")), Seq("id_a", "id_b")).count()
    val rounds = tr.span("dedup.cc") {
      val (labels, n) = Components.connectedComponentsWithRounds(pairs)
      ctx.force(labels)
      n
    }
    r.layer("dedup.minhash_s") = tr.seconds("dedup.minhash")
    r.layer("dedup.cc_s") = tr.seconds("dedup.cc")
    r.layer("dedup.pairs") = nPairs
    r.layer("dedup.recall") = found.toDouble / gen.plantedPairs.size
    r.layer("dedup.cc_rounds") = rounds
    r.layer("dedup.persisted_rdds") = spark.sparkContext.getPersistentRDDs.size.toDouble
    Fs.deleteTree(pairsDir)
  }
}
