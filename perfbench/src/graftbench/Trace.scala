package graftbench

import java.lang.management.ManagementFactory

import graft.core.detect.{Cascade, DetectConfig, MetadataHints}
import graft.core.extract.{DetectedTable, Extractor, PageExtract, RegionHint, TableExtractor}
import graft.core.html.{Encoding, PageParser, ParsedPage}
import graft.core.pdf.PdfText

/** Allocation and CPU counters of the calling thread (HotSpot ThreadMXBean). */
object ThreadMx {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def allocBytes(): Long = mx.getCurrentThreadAllocatedBytes

  /** CPU time of the calling thread, comparable to Spark's executorCpuTime. */
  def cpuNs(): Long = mx.getCurrentThreadCpuTime
}

/** In-memory span recorder. A span has a name, start, end, parent span and
  * the shared document id; it also records the thread's allocated bytes at
  * both ends. Spans opened while another is open become its children.
  * Nothing is written until [[writeTsv]] at the end of a run. With
  * `cpuClock` a span's start and end are the thread's CPU time instead of
  * wall time, so that its self time compares with Spark's task CPU.
  */
final class Spans(initial: Int = 1 << 16, cpuClock: Boolean = false) {
  private var n = 0
  private var name = new Array[Int](initial)
  private var parent = new Array[Int](initial)
  private var doc = new Array[Long](initial)
  private var t0 = new Array[Long](initial)
  private var t1 = new Array[Long](initial)
  private var b0 = new Array[Long](initial)
  private var b1 = new Array[Long](initial)
  private var top = -1
  private val names = scala.collection.mutable.ArrayBuffer.empty[String]
  private val ids = scala.collection.mutable.HashMap.empty[String, Int]

  def size: Int = n
  def nameOf(i: Int): String = names(name(i))
  def parentOf(i: Int): Int = parent(i)
  def start(i: Int): Long = t0(i)
  def end(i: Int): Long = t1(i)
  def bytes(i: Int): Long = b1(i) - b0(i)

  def id(s: String): Int = ids.getOrElseUpdate(s, { names += s; names.size - 1 })

  private def grow(): Unit = {
    val m = name.length * 2
    name = java.util.Arrays.copyOf(name, m); parent = java.util.Arrays.copyOf(parent, m)
    doc = java.util.Arrays.copyOf(doc, m); t0 = java.util.Arrays.copyOf(t0, m)
    t1 = java.util.Arrays.copyOf(t1, m); b0 = java.util.Arrays.copyOf(b0, m)
    b1 = java.util.Arrays.copyOf(b1, m)
  }

  def open(nameId: Int, docId: Long): Int = {
    if (n == name.length) grow()
    val i = n
    n += 1
    name(i) = nameId; parent(i) = top; doc(i) = docId
    top = i
    b0(i) = ThreadMx.allocBytes()
    t0(i) = now()
    i
  }

  private def now(): Long = if (cpuClock) ThreadMx.cpuNs() else System.nanoTime()

  def close(i: Int): Unit = {
    t1(i) = now()
    b1(i) = ThreadMx.allocBytes()
    top = parent(i)
  }

  /** Adds a finished span with explicit times, for hand-built trees. */
  def add(nameId: Int, parentSpan: Int, docId: Long, start: Long, end: Long,
      allocBytes: Long = 0L): Int = {
    if (n == name.length) grow()
    val i = n
    n += 1
    name(i) = nameId; parent(i) = parentSpan; doc(i) = docId
    t0(i) = start; t1(i) = end; b0(i) = 0L; b1(i) = allocBytes
    i
  }

  def writeTsv(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("span\tparent\tname\tdoc\tstart_ns\tend_ns\talloc_b\n")
      var i = 0
      while (i < n) {
        w.write(s"$i\t${parent(i)}\t${names(name(i))}\t${doc(i)}\t${t0(i)}\t${t1(i)}\t${b1(i) - b0(i)}\n")
        i += 1
      }
    } finally w.close()
  }
}

/** Self time and self bytes per span name. */
final case class Rollup(count: Long, selfNs: Long, selfBytes: Long, totalNs: Long)

object Rollup {

  /** A span's self time is its duration minus the part of its interval
    * that its children cover (children clipped to the parent, overlaps
    * counted once); self bytes are its bytes minus its children's.
    */
  def of(s: Spans): Map[String, Rollup] = {
    val kids = Array.fill(s.size)(List.empty[Int])
    var i = s.size - 1
    while (i >= 0) {
      val p = s.parentOf(i)
      if (p >= 0) kids(p) = i :: kids(p)
      i -= 1
    }
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Rollup]
    i = 0
    while (i < s.size) {
      val lo = s.start(i)
      val hi = s.end(i)
      val iv = kids(i).map(k => (math.max(lo, s.start(k)), math.min(hi, s.end(k))))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      val selfBytes = s.bytes(i) - kids(i).map(s.bytes).sum
      val prev = acc.getOrElse(s.nameOf(i), Rollup(0, 0, 0, 0))
      acc(s.nameOf(i)) = Rollup(prev.count + 1, prev.selfNs + (hi - lo - covered),
        prev.selfBytes + selfBytes, prev.totalNs + (hi - lo))
      i += 1
    }
    acc.toMap
  }
}

/** Kernel span names: the module and public function each span wraps. */
object TracedKernel {
  val Kernel = "kernel.extractHtml"
  val Pdf = "pdf.PdfText.extractText"
  val Decode = "html.Encoding.decode"
  val Parse = "html.PageParser.parse"
  val Detect = "detect.Cascade.detect"
  val Tables = "extract.TableExtractor.extractStats"
  val Canon = "extract.Extractor.canonicalText"
  val Sha = "extract.Extractor.sha256Hex"
  val All: Seq[String] = Seq(Kernel, Pdf, Decode, Parse, Detect, Tables, Canon, Sha)
}

/** Counts recorded at the same boundaries as the kernel spans. */
final class KernelCounts {
  var docs, pdfDocs, regions, cells, grids, tables, tablesExtracted = 0L
  val methods: scala.collection.mutable.Map[String, Long] =
    scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** The extraction kernel with a span around each call into a layer's public
  * functions. It performs the same calls, in the same order, as
  * `Extractor.extractHtml`; the benchmark checks that its text digest
  * matches the untraced kernel's on every page.
  */
final class TracedKernel(config: DetectConfig, val spans: Spans) {
  val counts = new KernelCounts
  private val Kernel = spans.id(TracedKernel.Kernel)
  private val Pdf = spans.id(TracedKernel.Pdf)
  private val Decode = spans.id(TracedKernel.Decode)
  private val Parse = spans.id(TracedKernel.Parse)
  private val Detect = spans.id(TracedKernel.Detect)
  private val Tables = spans.id(TracedKernel.Tables)
  private val Canon = spans.id(TracedKernel.Canon)
  private val Sha = spans.id(TracedKernel.Sha)

  def extract(html: Array[Byte], doc: Long): PageExtract = {
    val root = spans.open(Kernel, doc)
    counts.docs += 1
    val page =
      if (PdfText.isPdf(html)) {
        counts.pdfDocs += 1
        val s = spans.open(Pdf, doc)
        val text = PdfText.extractText(html)
        spans.close(s)
        val blocks = text.split('\n').iterator.filter(_.nonEmpty).toVector
        ParsedPage(blocks, Vector.empty,
          math.max(0L, html.length.toLong - blocks.iterator.map(_.length + 1).sum))
      } else {
        val s = spans.open(Decode, doc)
        val decoded = Encoding.decode(html)
        spans.close(s)
        val p = spans.open(Parse, doc)
        val parsed =
          if (Extractor.looksLikeHtml(decoded)) PageParser.parse(decoded)
          else Extractor.parsePlainText(decoded)
        spans.close(p)
        parsed
      }
    counts.regions += page.regions.size
    page.regions.foreach(r => counts.cells += r.grid.size)

    val detected = Vector.newBuilder[DetectedTable]
    val tableExtractor = if (config.extractTables) new TableExtractor() else null
    var regionIdx = 0
    page.regions.foreach { region =>
      val d = spans.open(Detect, doc)
      val outcome = Cascade.detect(region.grid, region.kind, config)
      spans.close(d)
      val kept = outcome.tables.take(config.maxTablesPerSheet)
      counts.grids += 1
      counts.tables += kept.size
      counts.methods(outcome.methodUsed) += 1
      kept.foreach { hit =>
        if (tableExtractor != null) {
          val t = spans.open(Tables, doc)
          val (shape, hi, quality) = tableExtractor.extractStats(region.grid, hit.span)
          spans.close(t)
          counts.tablesExtracted += 1
          detected += DetectedTable(regionIdx, region.kind, region.origin, outcome.methodUsed,
            hit, hi.map(_.orientation).getOrElse(""), hi.map(_.headerRows).getOrElse(0),
            hi.exists(_.hasHeaders), hi.map(_.tableType).getOrElse(""), quality,
            shape.map(_._1).getOrElse(0), shape.map(_._2).getOrElse(0))
        } else {
          detected += DetectedTable(regionIdx, region.kind, region.origin, outcome.methodUsed, hit)
        }
      }
      regionIdx += 1
    }
    val tables = detected.result()
    val c = spans.open(Canon, doc)
    val text = Extractor.canonicalText(page, tables)
    spans.close(c)
    val hints = page.regions.iterator.zipWithIndex.flatMap { case (region, idx) =>
      MetadataHints.hints(region.meta).map(h => RegionHint(idx, h.source, h.name, h.confidence))
    }.toVector
    val h = spans.open(Sha, doc)
    val sha = Extractor.sha256Hex(text)
    spans.close(h)
    spans.close(root)
    PageExtract(text, sha, tables, page.regions.size, page.bytesStripped, hints)
  }
}
