package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.util.LongAccumulator

import graft.core.detect.DetectConfig
import graft.core.extract.Extractor
import graft.ops.{Dedup, LineIndex, PassageIndex}
import graft.spark.{Page, Pipeline, StreamingPipeline}

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <crawl_mix|table_lattice|screen_ingest> --seed <n>
  *      --seconds <s> --trace <0|1>
  * Main --selfcheck
  * }}}
  *
  * The last stdout line is one JSON object with `correct`, `attempted`,
  * `failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
  * per-layer metrics of the traced run with `--trace 1`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  val Workloads: Seq[String] = Seq("crawl_mix", "table_lattice", "screen_ingest")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      })
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds >= 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        if (argv.sameElements(Array("--selfcheck"))) { if (SelfCheck.run(verbose = true)) 0 else 1 }
        else new Run(parse(argv)).run()
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }
}

/** One benchmark run of one workload. */
final class Run(a: Main.Args) {
  import Run._

  private val cpus = Runtime.getRuntime.availableProcessors
  private val buildDir = Paths.get(".bench_build").toAbsolutePath
  private val work = buildDir.resolve(s"run/${a.workload}-${ProcessHandle.current.pid}")
  private val checks = new Checks
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var attempted = 0L
  private val budgetNs = a.seconds * 1000000000L

  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private def setup(sparkS: Double, genS: Double, stageS: Double): Unit = {
    println(f"setup: spark $sparkS%.2f s, corpus generation $genS%.2f s (median of $SetupReps), " +
      f"staging and warm-up $stageS%.2f s")
    if (!a.trace) put("setup_s", sparkS + genS + stageS, "s")
  }

  def run(): Int = {
    if (!SelfCheck.run(verbose = false)) checks.fail("benchmark self-check failed")
    val t0 = System.nanoTime()
    val spark = session()
    val sparkS = secs(t0)
    try {
      a.workload match {
        case "crawl_mix" =>
          extraction(spark, sparkS, DetectConfig(),
            Corpus.crawlMix(_, CrawlBaseDocs, CrawlFactor))
        case "table_lattice" =>
          extraction(spark, sparkS, DetectConfig(extractTables = true),
            Corpus.tableLattice(_, LatticePages))
        case "screen_ingest" => screen(spark, sparkS)
      }
    } finally {
      spark.stop()
      deleteTree(work)
    }
    report()
    if (checks.failed == 0) 0 else 1
  }

  private def session(): SparkSession = {
    Files.createDirectories(work)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- set-up shared by every workload ----

  /** Generates the corpus [[SetupReps]] times: the median time is the
    * generation share of `setup_s`, and every repetition must reproduce
    * the same digest.
    */
  private def generate(gen: Long => Array[Page]): (Array[Page], Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var pages: Array[Page] = null
    var digest: String = null
    (0 until SetupReps).foreach { _ =>
      val t = System.nanoTime()
      val p = gen(a.seed)
      val d = Corpus.digest(p)
      times += secs(t)
      if (digest == null) { pages = p; digest = d }
      else checks.require(d == digest, s"generator not deterministic: $digest vs $d")
    }
    println(s"corpus workload=${a.workload} seed=${a.seed} docs=${pages.length} " +
      s"bytes=${Corpus.bytes(pages)} digest=$digest")
    (pages, median(times))
  }

  private def stagePages(spark: SparkSession, pages: Array[Page], dir: Path): Dataset[Page] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(pages.toIndexedSeq, 2 * cpus))
      .write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString).as[Page]
  }

  private def stageDocs(spark: SparkSession, docs: Seq[(Long, String)], dir: Path): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(docs, cpus)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  // ---- the untraced kernel loop (doc_p50_us, doc_p99_us, alloc_kb_per_doc) ----

  /** Timed passes of `Extractor.extractHtml` over every page on `threads`
    * threads at once. In pass k thread t takes the pages i with
    * (i + k) % threads == t, so each page meets every thread in turn.
    */
  final class KernelLoop(pages: Array[Page], config: DetectConfig, threads: Int) {
    val shas = new Array[String](pages.length)
    val texts = new Array[String](pages.length)
    val latNs = mutable.ArrayBuffer.empty[Array[Long]]
    val allocPerDoc = mutable.ArrayBuffer.empty[Double]
    val passNs = mutable.ArrayBuffer.empty[Long]
    val passCpuNs = mutable.ArrayBuffer.empty[Long]
    private var recorded = false

    /** One pass over every page, each call timed. The first pass keeps
      * every page's text and digest.
      */
    def pass(): Unit = {
      val lat = new Array[Long](pages.length)
      val alloc, cpu = new java.util.concurrent.atomic.AtomicLong()
      val shift = passNs.size
      def work(t: Int): Unit = {
        val b0 = ThreadMx.allocBytes()
        val c0 = ThreadMx.cpuNs()
        var i = Math.floorMod(t - shift, threads)
        while (i < pages.length) {
          val t0 = System.nanoTime()
          val r = Extractor.extractHtml(pages(i).html, config)
          lat(i) = System.nanoTime() - t0
          if (!recorded) { shas(i) = r.sha256; texts(i) = r.text }
          i += threads
        }
        cpu.addAndGet(ThreadMx.cpuNs() - c0)
        alloc.addAndGet(ThreadMx.allocBytes() - b0)
      }
      val p0 = System.nanoTime()
      if (threads == 1) work(0)
      else {
        val ts = (0 until threads).map(t => new Thread(() => work(t)))
        ts.foreach(_.start())
        ts.foreach(_.join())
      }
      passNs += System.nanoTime() - p0
      passCpuNs += cpu.get
      allocPerDoc += alloc.get.toDouble / pages.length
      latNs += lat
      recorded = true
    }

    /** Drops the samples taken so far (warm-up), keeping texts and digests. */
    def reset(): Unit = { latNs.clear(); allocPerDoc.clear(); passNs.clear(); passCpuNs.clear() }

    /** Quantile over documents of each document's fastest timed pass: the
      * host's slow spells only ever add time, and the passes are spread
      * over the run and over the threads, so the fastest of them is the
      * engine's own latency.
      */
    def percentileUs(q: Double): Double = {
      val best = Array.tabulate(pages.length)(i => latNs.iterator.map(_(i)).min)
      java.util.Arrays.sort(best)
      best(math.min(best.length - 1, math.ceil(q * best.length).toInt - 1)) / 1000.0
    }
  }

  private def noopExtract(spark: SparkSession, ds: Dataset[Page], config: DetectConfig): Unit =
    noop(Pipeline.extract(spark, ds, config))

  // ---- crawl_mix and table_lattice ----

  private def extraction(spark: SparkSession, sparkS: Double, config: DetectConfig,
      gen: Long => Array[Page]): Unit = {
    val (pages, genS) = generate(gen)
    val n = pages.length
    attempted = n
    val meter = new SparkMeter(spark)
    val t0 = System.nanoTime()
    val ds = stagePages(spark, pages, work.resolve("pages"))
    // warm-up: a kernel pass (which also yields the direct digests and the
    // texts the index is built from), then rounds of extraction jobs and
    // index builds until the Spark side has been compiled
    val loop = new KernelLoop(pages, config, cpus)
    loop.pass()
    val docs = stageDocs(spark, pages.indices.map(i => (i.toLong, loop.texts(i))),
      work.resolve("docs"))
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpuNs = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[Double]
    def round(pass: Boolean): Unit = {
      if (pass) (0 until PassesPerRound).foreach(_ => loop.pass())
      (0 until 2).foreach { _ =>
        meter.reset()
        val t = System.nanoTime()
        noopExtract(spark, ds, config)
        walls += secs(t)
        cpuNs += meter.read().cpuNs.toDouble
      }
      builds += timedBuild(docs)
    }
    (0 until WarmRounds).foreach(_ => round(pass = false))
    walls.clear(); cpuNs.clear(); builds.clear()
    loop.reset()
    setup(sparkS, genS, secs(t0))

    if (!a.trace) {
      // rounds of kernel passes, two extraction jobs and an index build,
      // so that every metric samples the whole window
      val start = System.nanoTime()
      while (builds.size < MinRounds || System.nanoTime() - start < budgetNs) round(pass = true)
      put("docs_per_s", n / median(walls), "docs/s")
      put("cpu_us_per_doc", median(cpuNs) / n / 1000.0, "us")
      put("doc_p50_us", loop.percentileUs(0.50), "us")
      put("doc_p99_us", loop.percentileUs(0.99), "us")
      put("alloc_kb_per_doc", median(loop.allocPerDoc) / 1024.0, "KiB")
      put("index_build_s", median(builds), "s")
      println(s"measured: ${walls.size} extraction jobs, ${loop.latNs.size} kernel passes " +
        s"(${loop.latNs.size * n} latency samples), ${builds.size} index builds")
      println("samples: job_s " + walls.map(w => f"$w%.3f").mkString(" ") +
        " | pass_s " + loop.passNs.map(w => f"${w / 1e9}%.3f").mkString(" ") +
        " | pass_cpu_s " + loop.passCpuNs.map(w => f"${w / 1e9}%.3f").mkString(" ") +
        " | build_s " + builds.map(w => f"$w%.3f").mkString(" "))
    } else {
      tracedExtraction(spark, pages, ds, config, loop, meter)
    }
    checkShas(spark, ds, config, pages, loop)
  }

  private def checkShas(spark: SparkSession, ds: Dataset[Page], config: DetectConfig,
      pages: Array[Page], loop: KernelLoop): Unit = {
    import spark.implicits._
    val rows = Pipeline.extract(spark, ds, config)
      .select("url", "text_sha256", "parse_failed").as[(String, String, Boolean)].collect()
    checks.shas(rows.toSeq, pages.indices.map(i => pages(i).url -> loop.shas(i)).toMap)
  }

  /** Builds both indexes of `docs` into a scratch directory; seconds. */
  private def timedBuild(docs: DataFrame): Double = {
    val dir = work.resolve("index_build")
    val t = System.nanoTime()
    buildIndex(docs, dir)
    val s = secs(t)
    deleteTree(dir)
    s
  }

  private def buildIndex(docs: DataFrame, dir: Path): Unit = {
    PassageIndex.write(PassageIndex(Dedup.passageFingerprints(docs, w = W), W),
      dir.resolve("passage").toString)
    LineIndex.write(LineIndex(Dedup.lineFingerprints(docs)), dir.resolve("line").toString)
  }

  // ---- traced run ----

  /** Untraced and traced single-thread kernel passes, alternated; the last
    * traced pass supplies the spans and the per-layer kernel metrics.
    * `direct` holds the untraced kernel's digests.
    */
  private def kernelLayers(pages: Array[Page], config: DetectConfig, direct: KernelLoop,
      share: Int): Unit = {
    val start = System.nanoTime()
    var traced: TracedKernel = null
    val overhead = mutable.ArrayBuffer.empty[Double]
    val loop = new KernelLoop(pages, config, 1)
    while (overhead.size < 3 || System.nanoTime() - start < budgetNs * share / 100) {
      loop.pass()
      traced = new TracedKernel(config, new Spans())
      val t = ThreadMx.cpuNs()
      var i = 0
      while (i < pages.length) {
        val r = traced.extract(pages(i).html, i)
        if (overhead.isEmpty && r.sha256 != direct.shas(i))
          checks.fail(s"traced kernel disagrees with Extractor.extractHtml on ${pages(i).url}")
        i += 1
      }
      overhead += (ThreadMx.cpuNs() - t).toDouble / loop.passCpuNs.last - 1.0
    }
    val untraced = median(loop.passNs.map(_.toDouble))
    put("trace.overhead_frac", median(overhead), "ratio")
    traced.spans.writeTsv(buildDir.resolve(s"trace/${a.workload}-seed${a.seed}.spans.tsv"))
    val roll = Rollup.of(traced.spans)
    val kc = traced.counts
    def r(name: String) = roll.getOrElse(name, Rollup(0, 0, 0, 0))
    def per(x: Double, d: Long) = if (d > 0) x / d else 0.0
    val nonPdf = kc.docs - kc.pdfDocs
    put("kernel.ns_per_doc", untraced / pages.length, "ns")
    put("kernel.cpu_ns_per_doc", median(loop.passCpuNs.map(_.toDouble)) / pages.length, "ns")
    put("html.Encoding.decode.ns_per_doc", per(r(L.Decode).selfNs, nonPdf), "ns")
    put("html.PageParser.parse.ns_per_doc", per(r(L.Parse).selfNs, nonPdf), "ns")
    put("html.PageParser.parse.b_per_doc", per(r(L.Parse).selfBytes, nonPdf), "B")
    put("html.regions_per_doc", per(kc.regions, kc.docs), "count")
    put("grid.cells_per_doc", per(kc.cells, kc.docs), "count")
    put("pdf.PdfText.extractText.ns_per_doc", per(r(L.Pdf).selfNs, kc.pdfDocs), "ns")
    put("pdf.docs", kc.pdfDocs, "count")
    put("detect.Cascade.detect.ns_per_grid", per(r(L.Detect).selfNs, kc.grids), "ns")
    put("detect.Cascade.detect.b_per_grid", per(r(L.Detect).selfBytes, kc.grids), "B")
    put("detect.tables_per_grid", per(kc.tables, kc.grids), "ratio")
    Methods.foreach(m => put(s"detect.method.$m.share", per(kc.methods(m), kc.grids), "ratio"))
    put("extract.TableExtractor.extractStats.ns_per_table",
      per(r(L.Tables).selfNs, kc.tablesExtracted), "ns")
    put("extract.TableExtractor.extractStats.b_per_table",
      per(r(L.Tables).selfBytes, kc.tablesExtracted), "B")
    put("extract.Extractor.canonicalText.ns_per_doc", per(r(L.Canon).selfNs, kc.docs), "ns")
    put("extract.Extractor.canonicalText.b_per_doc", per(r(L.Canon).selfBytes, kc.docs), "B")
    put("extract.Extractor.sha256Hex.ns_per_doc", per(r(L.Sha).selfNs, kc.docs), "ns")
    val total = roll.valuesIterator.map(_.selfNs).sum.toDouble
    L.All.foreach(l => put(s"kernel.share.$l", per(r(l).selfNs, 1) / math.max(total, 1), "ratio"))
  }

  private def tracedExtraction(spark: SparkSession, pages: Array[Page], ds: Dataset[Page],
      config: DetectConfig, loop: KernelLoop, meter: SparkMeter): Unit = {
    val n = pages.length
    kernelLayers(pages, config, loop, 40)
    sparkJobMetrics(sparkLayers(spark, ds, config, meter, n, 30))
    // the ops layer over the extracted text: the last tenth of the pages is
    // one micro-batch screened against an index of the rest
    val held = n - n / 10
    val corpus = stageDocs(spark, (0 until held).map(i => (i.toLong, loop.texts(i))),
      work.resolve("traced_corpus"))
    val batch = stageDocs(spark, (held until n).map(i => (i.toLong, loop.texts(i))),
      work.resolve("traced_batch"))
    tracedOps(spark, corpus, Seq(batch), work.resolve("traced"), meter)
    put("spark.codegen.compile_ms", Codegen.totalMs(), "ms")
    put("spark.codegen.compiles", Codegen.compiles().toDouble, "count")
  }

  private def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()

  /** Task CPU per doc of four jobs over the same staged pages, each written
    * through `noop`, in rounds for `share` % of the budget (at least
    * fifteen): the scan with its `Page` decode alone; scan + kernel
    * (`Extractor.extractHtml`, one digest out per row); the same with the
    * traced kernel, whose spans sum the layers' CPU self time
    * inside the tasks; and `Pipeline.extract`. The residual (row encode and
    * whatever else `Pipeline.extract` adds) is the extract job's CPU beyond
    * the scan + kernel job's, paired per round. Returns the last extract
    * job's task totals.
    */
  private def sparkLayers(spark: SparkSession, ds: Dataset[Page], config: DetectConfig,
      meter: SparkMeter, n: Long, share: Int): TaskTotals = {
    def cpu(f: => Unit): TaskTotals = { meter.reset(); f; meter.read() }
    val scan, kernel, selfNs, jobs = mutable.ArrayBuffer.empty[Double]
    var job: TaskTotals = null
    val start = System.nanoTime()
    while (jobs.size < 15 || System.nanoTime() - start < budgetNs * share / 100) {
      scan += cpu(noop(ds.mapPartitions(it => Iterator.single(it.size.toLong))(Encoders.scalaLong)))
        .cpuNs.toDouble / n
      val acc = spark.sparkContext.longAccumulator("kernel_self_ns")
      cpu(noop(tracedKernelJob(ds, config, acc)))
      selfNs += acc.value.toDouble / n
      // the paired jobs swap order every round, so drift cancels
      def kernelJ(): Unit = kernel += cpu(noop(kernelJob(ds, config))).cpuNs.toDouble / n
      def extractJ(): Unit = { job = cpu(noopExtract(spark, ds, config)); jobs += job.cpuNs.toDouble / n }
      if (jobs.size % 2 == 0) { kernelJ(); extractJ() } else { extractJ(); kernelJ() }
    }
    val residual = median(jobs.indices.map(i => jobs(i) - kernel(i)))
    put("spark.scan.cpu_us_per_doc", median(scan) / 1000, "us")
    put("spark.kernel_job.cpu_us_per_doc", median(kernel) / 1000, "us")
    put("spark.residual.cpu_us_per_doc", residual / 1000, "us")
    put("kernel.reconcile_ratio", (median(scan) + median(selfNs)) / median(jobs), "ratio")
    println(f"spark layers per doc: scan ${median(scan) / 1000}%.1f us, scan + kernel " +
      f"${median(kernel) / 1000}%.1f us, kernel self time in tasks ${median(selfNs) / 1000}%.1f us, " +
      f"extract job ${median(jobs) / 1000}%.1f us; residual share of the job ${residual / median(jobs)}%.3f")
    println("samples: kernel_job_us " + kernel.map(v => f"${v / 1000}%.1f").mkString(" ") +
      " | extract_job_us " + jobs.map(v => f"${v / 1000}%.1f").mkString(" "))
    job
  }

  private def sparkJobMetrics(t: TaskTotals): Unit = {
    put("spark.shuffle_write_bytes", t.shuffleWriteBytes.toDouble, "B")
    put("spark.spill_bytes", t.spillBytes.toDouble, "B")
    put("spark.gc_share", t.gcShare, "ratio")
    put("spark.task_cpu_skew", t.cpuSkew, "ratio")
  }

  private def tracedIndexBuild(docs: DataFrame, dir: Path, sp: Spans): Unit = {
    def timed[T](name: String)(f: => T): T = {
      val s = sp.open(sp.id(name), -1)
      try f finally sp.close(s)
    }
    val pf = timed(O.PassageFps) {
      val f = Dedup.passageFingerprints(docs, w = W).persist()
      noop(f)
      f
    }
    timed(O.PassageWrite)(PassageIndex.write(PassageIndex(pf, W), dir.resolve("passage").toString))
    pf.unpersist(blocking = true)
    val lf = timed(O.LineFps) {
      val f = Dedup.lineFingerprints(docs).persist()
      noop(f)
      f
    }
    timed(O.LineWrite)(LineIndex.write(LineIndex(lf), dir.resolve("line").toString))
    lf.unpersist(blocking = true)
  }

  /** The ops and stream layers, traced: both indexes built over `corpus`,
    * then every batch through both micro-batch ingests. Returns the task
    * totals of the ingest phase.
    */
  private def tracedOps(spark: SparkSession, corpus: DataFrame, batches: Seq[DataFrame],
      dir: Path, meter: SparkMeter): TaskTotals = {
    val sp = new Spans()
    tracedIndexBuild(corpus, dir.resolve("index"), sp)
    meter.reset()
    tracedIngest(spark, batches, dir, sp)
    val job = meter.read()
    val roll = Rollup.of(sp)
    def avgS(name: String) = roll.get(name).map(r => r.totalNs / 1e9 / r.count).getOrElse(0.0)
    Seq(O.PassageFps, O.LineFps, O.PassageWrite, O.LineWrite, O.PassageLoad, O.LineLoad,
      O.PassageCompact, O.LineCompact).foreach(nm => put(s"$nm.s", avgS(nm), "s"))
    def perBatch(name: String) = roll.get(name).map(_.totalNs / 1e9 / batches.size).getOrElse(0.0)
    put(s"${O.StreamPassage}.s_per_batch", perBatch(O.StreamPassage), "s")
    put(s"${O.StreamLine}.s_per_batch", perBatch(O.StreamLine), "s")
    put("ops.strip.useful_ratio", usefulRatio(spark, batches, dir), "ratio")
    job
  }

  // ---- screen_ingest ----

  private def screen(spark: SparkSession, sparkS: Double): Unit = {
    val plants = Corpus.plants(a.seed, PlantPassages, PlantLines, PlantLen)
    val (pages, genS) =
      generate(Corpus.screenIngest(_, plants, ScreenCorpusDocs, ScreenBatches * ScreenBatchDocs))
    val config = DetectConfig()
    val n = pages.length
    attempted = n
    val meter = new SparkMeter(spark)
    val t0 = System.nanoTime()
    // the screen corpus is the pages' extracted text
    val loop = new KernelLoop(pages, config, cpus)
    loop.pass()
    val texts = loop.texts.clone()
    val corpus = stageDocs(spark, (0 until ScreenCorpusDocs).map(d => (d.toLong, texts(d))),
      work.resolve("corpus"))
    val batches = (0 until ScreenBatches).map { b =>
      val from = ScreenCorpusDocs + b * ScreenBatchDocs
      stageDocs(spark, (from until from + ScreenBatchDocs).map(d => (d.toLong, texts(d))),
        work.resolve(s"batch_$b"))
    }
    // warm-up: one ingest cycle (append, compact, vacuum) compiles every plan
    ingestSequence(corpus, batches.take(1), work.resolve("warm"))
    deleteTree(work.resolve("warm"))
    setup(sparkS, genS, secs(t0))

    val start = System.nanoTime()
    val batchDocs = ScreenBatches * ScreenBatchDocs
    if (!a.trace) {
      loop.reset()
      val builds = mutable.ArrayBuffer.empty[Double]
      val walls = mutable.ArrayBuffer.empty[Double]
      val cpuNs = mutable.ArrayBuffer.empty[Double]
      var last: Path = null
      while (walls.size < 2 || System.nanoTime() - start < budgetNs) {
        (0 until ScreenPassesPerRound).foreach(_ => loop.pass())
        if (last != null) deleteTree(last)
        last = work.resolve(s"rep_${walls.size}")
        val t = System.nanoTime()
        buildIndex(corpus, last.resolve("index"))
        builds += secs(t)
        meter.reset()
        val t1 = System.nanoTime()
        ingestSequence(corpus, batches, last, indexBuilt = true)
        walls += secs(t1)
        cpuNs += meter.read().cpuNs.toDouble
      }
      put("docs_per_s", batchDocs / median(walls), "docs/s")
      put("cpu_us_per_doc", median(cpuNs) / batchDocs / 1000.0, "us")
      put("doc_p50_us", loop.percentileUs(0.50), "us")
      put("doc_p99_us", loop.percentileUs(0.99), "us")
      put("alloc_kb_per_doc", median(loop.allocPerDoc) / 1024.0, "KiB")
      put("index_build_s", median(builds), "s")
      println(s"measured: ${loop.latNs.size} kernel passes, ${walls.size} index builds + " +
        s"ingest sequences of $ScreenBatches batches")
      println("samples: ingest_s " + walls.map(w => f"$w%.3f").mkString(" ") +
        " | build_s " + builds.map(w => f"$w%.3f").mkString(" "))
      checkScreen(spark, plants, texts, batches, last)
    } else {
      kernelLayers(pages, config, loop, 15)
      sparkLayers(spark, stagePages(spark, pages, work.resolve("pages")), config, meter, n, 15)
      val dir = work.resolve("traced")
      val job = tracedOps(spark, corpus, batches, dir, meter)
      sparkJobMetrics(job)
      put("spark.codegen.compile_ms", Codegen.totalMs(), "ms")
      put("spark.codegen.compiles", Codegen.compiles().toDouble, "count")
      checkScreen(spark, plants, texts, batches, dir)
    }
  }

  /** Index build (unless done) plus every batch through both micro-batch
    * ingests, with compaction bounding the index to [[MaxSegments]].
    */
  private def ingestSequence(corpus: DataFrame, batches: Seq[DataFrame], dir: Path,
      indexBuilt: Boolean = false): Unit = {
    if (!indexBuilt) buildIndex(corpus, dir.resolve("index"))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingPipeline.ingestPassageMicroBatch(b, dir.resolve("index/passage").toString,
        dir.resolve("out/passage").toString, s"batch_$i", maxSegments = MaxSegments)
      StreamingPipeline.ingestLineMicroBatch(b, dir.resolve("index/line").toString,
        dir.resolve("out/line").toString, s"batch_$i", maxSegments = MaxSegments)
      checks.require(PassageIndex.readMeta(dir.resolve("index/passage").toString)
        .segments.size <= MaxSegments, s"passage index above $MaxSegments segments")
      checks.require(LineIndex.readMeta(dir.resolve("index/line").toString)
        .segments.size <= MaxSegments, s"line index above $MaxSegments segments")
    }
  }

  /** The ingest sequence with spans: index loads, each ingest call (with
    * compaction left to the benchmark so it gets its own span; the engine
    * runs the same compact + vacuum after its commit when `maxSegments`
    * is set).
    */
  private def tracedIngest(spark: SparkSession, batches: Seq[DataFrame], dir: Path,
      sp: Spans): Unit = {
    val pDir = dir.resolve("index/passage").toString
    val lDir = dir.resolve("index/line").toString
    def timed[T](name: String, doc: Long)(f: => T): T = {
      val s = sp.open(sp.id(name), doc)
      try f finally sp.close(s)
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      timed(O.PassageLoad, i) {
        noop(PassageIndex.load(spark, pDir).fps)
      }
      timed(O.StreamPassage, i) {
        StreamingPipeline.ingestPassageMicroBatch(b, pDir, dir.resolve("out/passage").toString,
          s"batch_$i")
        if (PassageIndex.readMeta(pDir).segments.size > MaxSegments) timed(O.PassageCompact, i) {
          PassageIndex.compact(spark, pDir)
          PassageIndex.vacuum(pDir)
        }
      }
      timed(O.LineLoad, i) {
        noop(LineIndex.load(spark, lDir).fps)
      }
      timed(O.StreamLine, i) {
        StreamingPipeline.ingestLineMicroBatch(b, lDir, dir.resolve("out/line").toString,
          s"batch_$i")
        if (LineIndex.readMeta(lDir).segments.size > MaxSegments) timed(O.LineCompact, i) {
          LineIndex.compact(spark, lDir)
          LineIndex.vacuum(lDir)
        }
      }
    }
    sp.writeTsv(buildDir.resolve(s"trace/${a.workload}-seed${a.seed}.ops.spans.tsv"))
  }

  /** Share of fingerprinted passage windows and lines that the ingest
    * excised: (windows lost + lines lost) / (windows + lines fingerprinted).
    */
  private def usefulRatio(spark: SparkSession, batches: Seq[DataFrame], dir: Path): Double = {
    var before, lost = 0L
    batches.zipWithIndex.foreach { case (b, i) =>
      val pw = spark.read.parquet(dir.resolve(s"out/passage/rewritten/batch_$i").toString)
      val lw = spark.read.parquet(dir.resolve(s"out/line/rewritten/batch_$i").toString)
      val wb = Dedup.passageFingerprints(b, w = W).count()
      val lb = Dedup.lineFingerprints(b).count()
      before += wb + lb
      lost += (wb - Dedup.passageFingerprints(pw, w = W).count()) +
        (lb - Dedup.lineFingerprints(lw).count())
    }
    if (before > 0) lost.toDouble / before else 0.0
  }

  /** Each plant that occurs anywhere keeps exactly one holder across the
    * corpus and the rewritten batches; every batch keeps its row count; a
    * committed segment replays as a no-op.
    */
  private def checkScreen(spark: SparkSession, plants: Corpus.Plants, texts: Array[String],
      batches: Seq[DataFrame], dir: Path): Unit = {
    import spark.implicits._
    val corpusTexts = texts.take(ScreenCorpusDocs).toSeq
    def rewritten(kind: String) = batches.indices.map { i =>
      val rw = spark.read.parquet(dir.resolve(s"out/$kind/rewritten/batch_$i").toString)
      checks.require(rw.count() == batches(i).count(),
        s"$kind batch_$i row count changed: ${rw.count()} vs ${batches(i).count()}")
      rw.select("text").as[String].collect().toSeq
    }.flatten
    val before = texts.toSeq
    val beforeTok = before.map(Checks.tokens)
    val afterTok = (corpusTexts ++ rewritten("passage")).map(Checks.tokens)
    var repeated = 0
    plants.passages.foreach { p =>
      val was = Checks.passageHolders(beforeTok, p)
      if (was > 1) repeated += 1
      if (was > 0) {
        val now = Checks.passageHolders(afterTok, p)
        checks.require(now == 1, s"planted passage has $now holders (had $was)")
      }
    }
    val beforeLines = before.map(Checks.lines)
    val afterLines = (corpusTexts ++ rewritten("line")).map(Checks.lines)
    plants.lines.foreach { l =>
      val was = Checks.lineHolders(beforeLines, l)
      if (was > 1) repeated += 1
      if (was > 0) {
        val now = Checks.lineHolders(afterLines, l)
        checks.require(now == 1, s"planted line '$l' has $now holders (had $was)")
      }
    }
    checks.require(repeated > 0, "no plant repeats: the holder check would be vacuous")
    val last = batches.size - 1
    checks.require(!StreamingPipeline.ingestPassageMicroBatch(batches(last),
      dir.resolve("index/passage").toString, dir.resolve("out/passage").toString,
      s"batch_$last"), "replayed passage segment was not a no-op")
    checks.require(!StreamingPipeline.ingestLineMicroBatch(batches(last),
      dir.resolve("index/line").toString, dir.resolve("out/line").toString,
      s"batch_$last"), "replayed line segment was not a no-op")
  }

  // ---- result ----

  private def report(): Unit = {
    metrics.foreach { case (k, (v, _)) =>
      checks.require(!v.isNaN && !v.isInfinite, s"metric $k is not a finite number")
    }
    val failedFrac = if (attempted > 0) checks.failed.toDouble / attempted else 1.0
    checks.problems.foreach(p => println(s"check failed: $p"))
    metrics.foreach { case (k, (v, u)) => println(f"metric $k%-52s $v%16.4f $u") }
    println(f"metric ${"failed_frac"}%-52s $failedFrac%16.6f ratio")
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${checks.failed == 0}, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": ${checks.failed}, "metrics": {$ms}}""")
  }
}

object Run {
  // corpus sizes
  val CrawlBaseDocs = 1500
  val CrawlFactor = 4
  val LatticePages = 1600
  val ScreenCorpusDocs = 2000
  val ScreenBatches = 2
  val ScreenBatchDocs = 400
  val PlantPassages = 40
  val PlantLines = 40
  val PlantLen = 24
  // passage window of the fingerprint indexes
  val W = 16
  // every append takes the index past one segment, so each batch compacts
  val MaxSegments = 1
  val SetupReps = 3
  val WarmRounds = 4
  val MinRounds = 3
  // kernel passes per round: each page keeps its fastest pass, so more
  // passes make the latency quantiles steadier on a noisy host
  val PassesPerRound = 3
  val ScreenPassesPerRound = 30

  val Methods: Seq[String] = Seq("none", "ultra_fast", "simple_case_fast",
    "box_table_detection", "structured_text_detection", "island_detection_fast", "simple_case")

  val L: TracedKernel.type = TracedKernel

  /** ops and streaming span names. */
  object O {
    val PassageFps = "ops.Dedup.passageFingerprints"
    val LineFps = "ops.Dedup.lineFingerprints"
    val PassageWrite = "ops.PassageIndex.write"
    val LineWrite = "ops.LineIndex.write"
    val PassageLoad = "ops.PassageIndex.load"
    val LineLoad = "ops.LineIndex.load"
    val PassageCompact = "ops.PassageIndex.compact"
    val LineCompact = "ops.LineIndex.compact"
    val StreamPassage = "stream.ingestPassageMicroBatch"
    val StreamLine = "stream.ingestLineMicroBatch"
  }

  /** Scan + kernel: the staged pages through `Extractor.extractHtml`, one
    * digest out per row.
    */
  def kernelJob(ds: Dataset[Page], config: DetectConfig): Dataset[String] =
    ds.map(p => Extractor.extractHtml(p.html, config).sha256)(Encoders.STRING)

  /** [[kernelJob]] with the traced kernel on the thread CPU clock; each task
    * adds its spans' summed self time to `selfNs`.
    */
  def tracedKernelJob(ds: Dataset[Page], config: DetectConfig,
      selfNs: LongAccumulator): Dataset[String] =
    ds.mapPartitions { it =>
      val k = new TracedKernel(config, new Spans(1 << 12, cpuClock = true))
      var doc = -1L
      val out = it.map { p => doc += 1; k.extract(p.html, doc).sha256 }.toVector
      selfNs.add(Rollup.of(k.spans).valuesIterator.map(_.selfNs).sum)
      out.iterator
    }(Encoders.STRING)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "median of nothing")
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
