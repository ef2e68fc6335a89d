package perfbench

import java.util.Locale

/** Seeded input generators. Every value is a pure function of (seed, index),
  * so the same seed gives the same inputs however Spark partitions the
  * generating range. The program never sees these functions, only the rows
  * they produce.
  */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + stream) + i)

  /** Uniform double in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  def below(h: Long, n: Int): Int = ((h >>> 1) % n).toInt

  // ---------------------------------------------------------------- hosts

  /** Non-ASCII labels that survive upper-casing and lower-casing unchanged
    * (no 'ß'-style expansions), so a decorated host canonicalizes back to
    * its own name.
    */
  private val NonAsciiLabels = Vector("café", "münchen", "niño", "中文", "données", "россия", "ελλάδα", "日本")

  /** A host pool with Zipf(1.0)-skewed popularity. One host in eight
    * carries a non-ASCII label.
    */
  final class Hosts(val n: Int, seed: Long) extends Serializable {
    val names: Array[String] = Array.tabulate(n) { i =>
      val h = hash(seed, 11, i)
      if (i % 8 == 7)
        s"www.${NonAsciiLabels(below(h, NonAsciiLabels.length))}$i.test"
      else s"www.site$i.test"
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    /** Host index for a uniform draw: rank 0 is the most popular host. */
    def pick(u: Double): Int = {
      val k = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (k >= 0) k else -k - 1)
    }
  }

  // ----------------------------------------------------- frontier URLs

  private val Sections = Vector("a", "news", "item", "docs", "blog", "p", "shop")

  /** Canonical URL of frontier identity `j` on host `host`. */
  def canonicalUrl(host: String, j: Long): String = {
    val sec = Sections((j % Sections.length).toInt)
    val q = if (j % 5 == 0) s"?ref=${j % 13}" else ""
    s"http://$host/$sec/n$j$q"
  }

  /** A spelling of `canonical` that needs canonicalization, chosen by `h`:
    * upper-case scheme and host, an explicit default port, dot-segments, a
    * fragment, percent-encoded unreserved characters, or a mix.
    */
  def decorate(canonical: String, h: Long): String = {
    val hostStart = "http://".length
    val pathStart = canonical.indexOf('/', hostStart)
    val host = canonical.substring(hostStart, pathStart)
    val path = canonical.substring(pathStart)
    def pct(p: String): String = "/%" + f"${p.charAt(1).toInt}%02x" + p.substring(2)
    below(h, 6) match {
      case 0 => "HTTP://" + host.toUpperCase(Locale.ROOT) + path
      case 1 => "http://" + host + ":80" + path
      case 2 => "http://" + host + (if ((h & 64) == 0) "/x/.." else "/.") + path
      case 3 => canonical + "#s" + ((h >>> 8) & 63)
      case 4 => "http://" + host + pct(path)
      case _ => "Http://" + host.toUpperCase(Locale.ROOT) + ":80/y/.." + path + "#top"
    }
  }

  // ------------------------------------------------------------- text

  private val Vocab: Array[String] = {
    val base = Vector("spark", "table", "crawl", "frontier", "query", "data", "row",
      "column", "key", "value", "merge", "stream", "index", "page", "link", "text",
      "chunk", "embed", "vector", "model", "token", "batch", "shuffle", "join",
      "straße", "café", "niño", "中文", "données", "schnell", "übersicht", "résumé",
      "καλημέρα", "привет", "日本語", "العربية")
    (base ++ (0 until 220).map(i => s"w${Integer.toString(i * 7919 % 4096, 36)}")).toArray
  }

  private def word(h: Long): String = Vocab(below(h, Vocab.length))

  /** `n` words with a sentence end every 6–21 words. */
  def sentences(seed: Long, stream: Long, n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 7)
    var left = 6 + below(hash(seed, stream, -1), 16)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(word(hash(seed, stream, i)))
      left -= 1
      if (left == 0 || i == n - 1) {
        sb.append('.')
        left = 6 + below(hash(seed, stream, -2 - i), 16)
      }
      i += 1
    }
    sb.toString
  }

  /** A generated HTML page and its expected extraction, built side by side
    * from the same parts (the extractor is never called to make `text`).
    */
  final case class Page(html: String, text: String, paragraphs: Int,
      longParagraphs: Int, boilerplateBytes: Int)

  private val Boilerplate = Vector(
    "<nav><ul><li>home</li><li>about</li><li>contact</li></ul></nav>",
    "<header><p>site header text</p></header>",
    "<footer><p>copyright footer</p><li>terms</li></footer>",
    "<aside><h3>related</h3><p>sidebar links</p></aside>",
    "<script>var x = '<p>not text</p>'; if (a > b) { go(); }</script>",
    "<style>p > a { color: red; } li::before { content: \"<li>\"; }</style>",
    "<noscript><p>enable scripts</p></noscript>")

  /** One page: heavy-tailed paragraph count, about one paragraph in
    * `longEvery` over the chunker's 512-word limit, boilerplate blocks the
    * extractor removes, `div` text it skips, and inline tags and entities
    * that split text nodes. `links` are extra anchors (already-escaped
    * href values) placed in a nav block the extractor strips.
    */
  def page(seed: Long, id: Long, maxParagraphs: Int, longEvery: Int,
      links: Seq[String] = Nil): Page = {
    val html = new java.lang.StringBuilder(4096)
    val text = new java.lang.StringBuilder(2048)
    var boiler = 0
    def addBoiler(s: String): Unit = { html.append(s); boiler += s.length }
    def emit(line: String): Unit = { if (text.length > 0) text.append('\n'); text.append(line) }
    html.append("<html><head><title>page ").append(id).append("</title>")
    addBoiler(Boilerplate(below(hash(seed, id, 1), Boilerplate.length)))
    html.append("</head><body>\n")
    if (links.nonEmpty) {
      val nav = links.map(h => s"""<a href="$h">link</a>""").mkString("<nav>", " ", "</nav>\n")
      addBoiler(nav)
    }
    val u = math.max(1e-9, unit(hash(seed, id, 2)))
    val nPara = math.min(maxParagraphs, 1 + (2.0 * math.pow(1.0 / u, 0.7)).toInt)
    var longs = 0
    var p = 0
    while (p < nPara) {
      val h = hash(seed, id * 1000003L + p, 3)
      val stream = id * 7919L + p
      below(h, 12) match {
        case 0 =>
          val t = sentences(seed, stream, 3 + below(h >>> 8, 6)).stripSuffix(".")
          val lvl = 1 + below(h >>> 16, 6)
          html.append(s"<h$lvl>").append(t).append(s"</h$lvl>\n")
          emit(t)
        case 1 =>
          addBoiler(Boilerplate(below(h >>> 8, Boilerplate.length)) + "\n")
        case 2 =>
          html.append("<div>").append(sentences(seed, stream, 8)).append("</div>\n")
        case 3 =>
          val a = sentences(seed, stream, 4)
          val b = sentences(seed, stream + 1, 3)
          html.append("<p>").append(a).append(" <b>").append(b).append("</b>\n  R&amp;D</p>\n")
          emit(s"$a $b R&D")
        case _ =>
          val long = longEvery > 0 && below(h >>> 24, longEvery) == 0
          val n = if (long) 520 + below(h >>> 32, 500) else 15 + below(h >>> 32, 110)
          if (long) longs += 1
          val t = sentences(seed, stream, n)
          html.append("<p>").append(t).append("</p>\n")
          emit(t)
      }
      p += 1
    }
    if (text.length == 0) {
      val t = sentences(seed, id * 7919L - 1, 12)
      html.append("<p>").append(t).append("</p>\n")
      emit(t)
    }
    html.append("</body></html>")
    Page(html.toString, text.toString, nPara, longs, boiler)
  }

  // ------------------------------------------------------- near-dup docs

  /** `n` words drawn from a 40k-word space, so unrelated documents share
    * almost no 3-word shingles.
    */
  def randomWords(seed: Long, stream: Long, n: Int): Array[String] =
    Array.tabulate(n)(i => "t" + Integer.toString(below(hash(seed, stream, i), 40000), 36))
}
