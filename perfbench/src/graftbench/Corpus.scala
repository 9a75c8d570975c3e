package graftbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.security.MessageDigest
import java.sql.Timestamp

import graft.spark.{Page, PageGen}

/** Seeded, deterministic input generators for the three workloads. Every
  * byte is a pure function of (seed, index): no wall clock, no hash order.
  * The engine only ever sees the generated pages.
  */
object Corpus {

  /** splitmix64 finaliser: decorrelates (seed, stream) pairs. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): PageGen.Rng =
    new PageGen.Rng(mix(mix(seed * 31 + stream) + i))

  /** The 30 words of the documents table's text (`perfbench/data` holds a
    * sample; the self-check confirms the two agree). The generated
    * workloads draw their filler text from them.
    */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  private def words(r: PageGen.Rng, n: Int): String = {
    val sb = new StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** Corpus digest: SHA-256 over every page's url and payload, in order. */
  def digest(pages: Array[Page]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    pages.foreach { p => md.update(p.url.getBytes(UTF_8)); md.update(0.toByte); md.update(p.html) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def bytes(pages: Array[Page]): Long = pages.iterator.map(_.html.length.toLong).sum

  // ---- crawl_mix: PageGen.makePage over the documents sample ----

  /** A document of the documents table: id, language and text. */
  final case class Doc(docId: Long, lang: String, text: String)

  /** Fixed sample of the documents table, written by
    * `perfbench/data/make_sample.py`; read relative to the checkout root.
    */
  val SamplePath: java.nio.file.Path = java.nio.file.Paths.get("perfbench/data/documents_sample.tsv.gz")

  lazy val documents: Array[Doc] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(java.nio.file.Files.newInputStream(SamplePath)), UTF_8))
    try {
      Iterator.continually(in.readLine()).takeWhile(_ != null).map { l =>
        val f = l.split("\t", 3)
        Doc(f(0).toLong, f(1), f(2))
      }.toArray
    } finally in.close()
  }

  /** `baseDocs` documents drawn from the sample by the seed, amplified
    * `factor`-fold exactly as `PageGen.pages` amplifies (doc_id * factor +
    * i, same text and language). Doc ids are a seed-derived multiple of 10
    * plus the draw index, so the `doc_id % 10` variant mix of PageGen is
    * the same for every seed.
    */
  def crawlMix(seed: Long, baseDocs: Int, factor: Int): Array[Page] = {
    val src = documents
    require(baseDocs <= src.length, s"the documents sample holds ${src.length} docs, not $baseDocs")
    // partial Fisher-Yates: the first baseDocs slots are the draw
    val order = Array.range(0, src.length)
    val r = rng(seed, 1, 0)
    (0 until baseDocs).foreach { d =>
      val j = d + r.nextInt(src.length - d)
      val t = order(d); order(d) = order(j); order(j) = t
    }
    val offset = 10L * (1 + (mix(seed) >>> 44))
    val out = new Array[Page](baseDocs * factor)
    var d = 0
    while (d < baseDocs) {
      val doc = src(order(d))
      val docId = offset + d
      var i = 0
      while (i < factor) {
        out(d * factor + i) = PageGen.makePage(docId * factor + i, doc.text, doc.lang)
        i += 1
      }
      d += 1
    }
    out
  }

  // ---- table_lattice: island-heavy and hostile pages ----

  val LatticeKinds: Array[String] = Array("lattice", "tiny_tables", "bordered_boxes",
    "deep_nesting", "entity_flood", "pre_blocks", "pdf", "pdf_lookalike")

  private def page(url: String, i: Long, html: Array[Byte], lang: String = "en"): Page =
    Page(url, new Timestamp(1735689600000L + i * 37000L), html, null, lang)

  def tableLattice(seed: Long, n: Int): Array[Page] = {
    val base = 1 + (mix(seed + 7) >>> 44)
    Array.tabulate(n) { k =>
      val id = base * 100000 + k
      val r = rng(seed, 2, id)
      // page shapes (table counts and sizes) depend on the page index only,
      // so every seed has the same cost mix and only the content varies
      val sh = rng(0, 5, k)
      val kind = LatticeKinds(k % LatticeKinds.length)
      val url = s"https://lattice-${id % 13}.example/$kind/$id"
      val html = kind match {
        case "pdf" => pdfPayload(r, sh, id)
        case "pdf_lookalike" =>
          ("<!-- converted from %PDF-1.7 by an export tool -->" + htmlDoc(id,
            latticeTable(r, sh, 2, 2) + paras(r, 3))).getBytes(UTF_8)
        case other => htmlDoc(id, other match {
          case "lattice" => latticeTable(r, sh, 3 + sh.nextInt(3), 3 + sh.nextInt(3)) + paras(r, 2)
          case "tiny_tables" => tinyTables(r, 4 + sh.nextInt(8))
          case "bordered_boxes" => borderedBoxes(r, sh, 2 + sh.nextInt(3))
          case "deep_nesting" => deepNesting(r, sh, 40 + sh.nextInt(80))
          case "entity_flood" => entityFlood(r, 300 + sh.nextInt(600))
          case "pre_blocks" => preBlocks(r, sh, 2 + sh.nextInt(3))
        }).getBytes(UTF_8)
      }
      page(url, id, html)
    }
  }

  private def htmlDoc(id: Long, body: String): String =
    s"<!DOCTYPE html><html><head><title>Report $id</title></head><body>" +
      "<nav><a href=\"/\">home</a> <a href=\"/reports\">reports</a></nav><main>" +
      body + "</main><footer><p>(c) lattice reports</p></footer></body></html>"

  private def paras(r: PageGen.Rng, n: Int): String =
    (0 until n).map(_ => "<p>" + words(r, 12 + r.nextInt(30)) + "</p>").mkString

  private def cellValue(r: PageGen.Rng): String = r.nextInt(4) match {
    case 0 => Vocab(r.nextInt(Vocab.length))
    case 1 => s"${r.nextInt(100000)}.${r.nextInt(100)}"
    case _ => r.nextInt(100000).toString
  }

  /** One `<table>` holding a bR x bC lattice of data blocks separated by
    * empty rows and at least two empty columns: every block is an island.
    */
  def latticeTable(r: PageGen.Rng, sh: PageGen.Rng, bR: Int, bC: Int): String = {
    val h = Array.fill(bR)(4 + sh.nextInt(9))
    val w = Array.fill(bC)(3 + sh.nextInt(4))
    val gapC = 2
    val cols = w.sum + gapC * (bC - 1)
    val sb = new StringBuilder
    sb.append("<table>")
    def emptyRow(): Unit = {
      sb.append("<tr>"); (0 until cols).foreach(_ => sb.append("<td></td>")); sb.append("</tr>")
    }
    for (br <- 0 until bR) {
      if (br > 0) { emptyRow(); if (r.nextInt(2) == 0) emptyRow() }
      for (row <- 0 until h(br)) {
        sb.append("<tr>")
        for (bc <- 0 until bC) {
          if (bc > 0) (0 until gapC).foreach(_ => sb.append("<td></td>"))
          for (c <- 0 until w(bc)) {
            if (row == 0) sb.append("<th>h").append(bc).append('_').append(c).append("</th>")
            else sb.append("<td>").append(cellValue(r)).append("</td>")
          }
        }
        sb.append("</tr>")
      }
    }
    sb.append("</table>").toString
  }

  def tinyTables(r: PageGen.Rng, n: Int): String = {
    val sb = new StringBuilder
    for (t <- 0 until n) {
      sb.append("<table><tr><th>k").append(t).append("</th><th>v</th></tr>")
      (0 until 1 + r.nextInt(2)).foreach { _ =>
        sb.append("<tr><td>").append(Vocab(r.nextInt(Vocab.length))).append("</td><td>")
          .append(r.nextInt(1000)).append("</td></tr>")
      }
      sb.append("</table>")
      if (t % 4 == 3) sb.append("<p>").append(words(r, 12)).append("</p>")
    }
    sb.toString
  }

  def borderedBoxes(r: PageGen.Rng, sh: PageGen.Rng, n: Int): String = {
    val sb = new StringBuilder
    val b = "style=\"border: 1px solid black\""
    for (t <- 0 until n) {
      val cols = 3 + sh.nextInt(3)
      if (t % 2 == 0) {
        sb.append("<table><tr>"); (0 to cols).foreach(_ => sb.append("<td></td>")); sb.append("</tr>")
        sb.append("<tr><td></td>")
        (0 until cols).foreach(c => sb.append(s"<th $b>col$c</th>"))
        sb.append("</tr>")
        (0 until 4 + sh.nextInt(8)).foreach { _ =>
          sb.append("<tr><td></td>")
          (0 until cols).foreach(_ => sb.append(s"<td $b>").append(cellValue(r)).append("</td>"))
          sb.append("</tr>")
        }
      } else {
        sb.append("<table border=\"1\"><tr>")
        (0 until cols).foreach(c => sb.append("<th>f").append(c).append("</th>"))
        sb.append("</tr>")
        (0 until 4 + sh.nextInt(8)).foreach { _ =>
          sb.append("<tr>")
          (0 until cols).foreach(_ => sb.append("<td>").append(cellValue(r)).append("</td>"))
          sb.append("</tr>")
        }
      }
      sb.append("</table><p>").append(words(r, 14)).append("</p>")
    }
    sb.toString
  }

  def deepNesting(r: PageGen.Rng, sh: PageGen.Rng, depth: Int): String = {
    val sb = new StringBuilder
    (0 until depth).foreach(d => sb.append(if (d % 3 == 0) "<div><span>" else "<div>"))
    sb.append("<p>").append(words(r, 20)).append("</p>")
    val tables = 3 + sh.nextInt(5)
    (0 until tables).foreach { t =>
      sb.append("<table><tr><th>a</th><th>b</th><th>c</th></tr><tr><td>")
        .append(cellValue(r)).append("</td><td>").append(cellValue(r)).append("</td><td>")
    }
    sb.append(cellValue(r))
    (0 until tables).foreach(_ => sb.append("</td></tr><tr><td>1</td><td>2</td><td>3</td></tr></table>"))
    (depth - 1 to 0 by -1).foreach(d => sb.append(if (d % 3 == 0) "</span></div>" else "</div>"))
    sb.toString
  }

  private val Entities = Array("&amp;", "&lt;", "&gt;", "&quot;", "&#169;", "&#x263A;",
    "&nbsp;", "&eacute;", "&uuml;", "&#8364;", "&mdash;", "&hellip;")

  def entityFlood(r: PageGen.Rng, n: Int): String = {
    val sb = new StringBuilder
    sb.append("<p>")
    (0 until n).foreach { i =>
      sb.append(Entities(r.nextInt(Entities.length)))
      if (i % 5 == 0) sb.append(' ').append(Vocab(r.nextInt(Vocab.length))).append(' ')
      if (i % 120 == 119) sb.append("</p><p>")
    }
    sb.append("</p><table><tr><th>sym</th><th>name</th></tr>")
    (0 until 20).foreach { _ =>
      sb.append("<tr><td>").append(Entities(r.nextInt(Entities.length)))
        .append(Entities(r.nextInt(Entities.length))).append("</td><td>")
        .append(Vocab(r.nextInt(Vocab.length))).append("&amp;co</td></tr>")
    }
    sb.append("</table>").toString
  }

  private val Delims = Array('\t', ',', '|', ';')

  def preBlocks(r: PageGen.Rng, sh: PageGen.Rng, n: Int): String = {
    val sb = new StringBuilder
    (0 until n).foreach { b =>
      val d = Delims(r.nextInt(Delims.length))
      val cols = 4 + sh.nextInt(5)
      sb.append("<pre>")
      sb.append((0 until cols).map(c => s"field$c").mkString(d.toString)).append('\n')
      (0 until 20 + sh.nextInt(40)).foreach { row =>
        sb.append((0 until cols).map(c => if (c == 0) s"r$row" else r.nextInt(5000).toString)
          .mkString(d.toString)).append('\n')
      }
      sb.append("</pre><p>").append(words(r, 16)).append("</p>")
    }
    sb.toString
  }

  /** A PdfText-valid payload in the shape `q_pdf_extract` builds: BT/ET
    * text operators, odd ids ASCIIHex-encoded behind a /Filter entry.
    */
  def pdfPayload(r: PageGen.Rng, sh: PageGen.Rng, id: Long): Array[Byte] = {
    val lines = 4 + sh.nextInt(20)
    val sb = new StringBuilder("BT\n72 720 Td (Invoice \\(No. ").append(id).append(")) Tj\n")
    (0 until lines).foreach { l =>
      sb.append("0 -14 Td [(").append(Vocab(r.nextInt(Vocab.length))).append(": ) (")
        .append(r.nextInt(100000)).append(") ( units)] TJ\n")
      if (l % 4 == 0) sb.append("T* (Contact: billing@example").append(l).append(".com) Tj\n")
    }
    sb.append("ET")
    val content = sb.toString
    val (body, filt) =
      if (id % 2 == 1)
        (content.getBytes(ISO_8859_1).map(b => f"$b%02x").mkString + ">", " /Filter /ASCIIHexDecode")
      else (content, "")
    ("%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n" +
      s"4 0 obj << /Length ${body.length}$filt >>\nstream\n" + body +
      "\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n").getBytes(ISO_8859_1)
  }

  // ---- screen_ingest: pages carrying planted boilerplate ----

  /** Planted boilerplate: `passages` token runs of `passageLen` words and
    * `lines` one-line notices, each repeated across documents.
    */
  final case class Plants(passages: Array[String], lines: Array[String])

  def plants(seed: Long, passages: Int, lines: Int, passageLen: Int): Plants = {
    val r = rng(seed, 3, 0)
    // plant words come from their own vocabulary, so no filler run can
    // ever reproduce a plant by chance
    def tok(): String = s"q${r.nextInt(1 << 20)}"
    Plants(
      Array.fill(passages)((0 until passageLen).map(_ => tok()).mkString(" ")),
      Array.tabulate(lines)(i => s"notice $i: " + (0 until 6).map(_ => tok()).mkString(" ")))
  }

  /** Screen pages: doc `d` carries filler paragraphs plus, with fixed
    * probabilities, planted passages (inside a filler paragraph) and
    * planted lines (as their own paragraph). In the corpus part
    * (`d < corpusDocs`) each plant is placed at most once, so the corpus
    * holds one copy; batch docs repeat plants freely.
    */
  def screenIngest(seed: Long, p: Plants, corpusDocs: Int, batchDocs: Int): Array[Page] = {
    val usedP = new Array[Boolean](p.passages.length)
    val usedL = new Array[Boolean](p.lines.length)
    Array.tabulate(corpusDocs + batchDocs) { d =>
      val r = rng(seed, 4, d)
      val inCorpus = d < corpusDocs
      val sb = new StringBuilder("<!DOCTYPE html><html><body><article>")
      val nPara = 2 + r.nextInt(4)
      (0 until nPara).foreach { i =>
        sb.append("<p>").append(words(r, 8 + r.nextInt(24)))
        if (i == 0 && r.nextInt(3) == 0) {
          val k = r.nextInt(p.passages.length)
          if (!inCorpus || !usedP(k)) {
            usedP(k) = true
            sb.append(' ').append(p.passages(k)).append(' ').append(words(r, 3))
          }
        }
        sb.append("</p>")
        if (r.nextInt(4) == 0) {
          val k = r.nextInt(p.lines.length)
          if (!inCorpus || !usedL(k)) {
            usedL(k) = true
            sb.append("<p>").append(p.lines(k)).append("</p>")
          }
        }
      }
      sb.append("</article></body></html>")
      page(s"https://screen.example/doc/$d", d, sb.toString.getBytes(UTF_8))
    }
  }
}
