package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A persistable fingerprint index: the (doc_id, key, fp) set of one
  * [[ScreenUnit]] plus that unit — what a production pipeline PERSISTS so
  * each ingest screens its batch against every unit the corpus already
  * holds ([[FingerprintScreen.stripAgainst]]). Scalar-only rows (8+4+8
  * bytes); the canonical view is derived at query time.
  */
final case class ScreenIndex(fps: DataFrame, unit: ScreenUnit)

/** Parquet persistence for [[ScreenIndex]] under the shared
  * [[SegmentedManifest]] contract (data first, manifest ATOMIC_MOVE as the
  * commit point, absorbed record, SINGLE WRITER per directory). The unit
  * is known from the manifest alone: a passage manifest carries its `w`,
  * a line manifest no parameter field — the bytes the per-unit indexes
  * always wrote. `kind`, when set, restricts the view to indexes of one
  * unit kind ([[PassageIndex]], [[LineIndex]]); [[ScreenIndex]] reads
  * either.
  */
sealed class ScreenIndexStore private[ops] (kind: Option[String]) {

  def readMeta(dir: String): ScreenIndex.Meta = {
    val root = SegmentedManifest.readTree(dir, s"${kind.getOrElse("screen")} index")
    val unit = if (root.has("w")) Passage(root.get("w").asInt()) else Line
    kind.foreach(k => require(unit.kind == k,
      s"index at $dir holds ${unit.kind} fingerprints, not $k fingerprints"))
    val (segments, absorbed) = SegmentedManifest.readSegments(root)
    ScreenIndex.Meta(unit, segments, absorbed)
  }

  private def commitManifest(dir: String, unit: ScreenUnit, segments: Seq[String],
      absorbed: Seq[String]): Unit =
    SegmentedManifest.commit(dir, segments, absorbed) { m =>
      unit match { case Passage(w) => m.put("w", w); case Line => }
    }

  private def writeFps(idx: ScreenIndex, dir: String, segment: String): Unit =
    idx.fps.select("doc_id", idx.unit.key, "fp").write.mode("overwrite")
      .parquet(s"$dir/fps/$segment")

  /** Write a fresh index as segment `base`, replacing any manifest at
    * `dir` and resetting the ingest history (explicit rebuild = new
    * lineage; stale data is orphaned until [[vacuum]]).
    */
  def write(idx: ScreenIndex, dir: String): Unit = {
    writeFps(idx, dir, "base")
    commitManifest(dir, idx.unit, Seq("base"), Seq.empty)
  }

  /** Append one ingest's (rewritten) batch fingerprints idempotently:
    * false without touching anything when `segment` is already committed
    * (live or absorbed) — the streaming replay contract. Unit mismatch
    * fails loudly: windows of different w, or windows and lines, are not
    * comparable.
    */
  def appendSegment(delta: ScreenIndex, dir: String, segment: String): Boolean = {
    SegmentedManifest.checkSegmentName(segment)
    val m = readMeta(dir)
    require(m.unit == delta.unit,
      s"index at $dir holds ${m.unit}; delta holds ${delta.unit} — fingerprints " +
        "of different units are not comparable")
    if (m.committed.contains(segment)) return false
    writeFps(delta, dir, segment)
    commitManifest(dir, m.unit, m.segments :+ segment, m.absorbed)
    true
  }

  /** Compact live segments into one fresh segment (crash-safe, replays
    * stay no-ops — see [[MinhashIndex.compact]]); None when already one.
    */
  def compact(spark: SparkSession, dir: String): Option[String] = {
    val m = readMeta(dir)
    if (m.segments.size <= 1) return None
    val name = SegmentedManifest.freshCompactName(m.committed)
    spark.read.parquet(m.segments.map(s => s"$dir/fps/$s"): _*)
      .write.mode("overwrite").parquet(s"$dir/fps/$name")
    commitManifest(dir, m.unit, Seq(name), (m.absorbed ++ m.segments).distinct)
    Some(name)
  }

  /** Delete fp data directories not listed live by the committed manifest. */
  def vacuum(dir: String): Seq[String] =
    SegmentedManifest.vacuum(dir, Seq("fps"), readMeta(dir).segments.toSet)

  /** Load the committed index as a plain parquet scan of the live segments. */
  def load(spark: SparkSession, dir: String): ScreenIndex = {
    val m = readMeta(dir)
    require(m.segments.nonEmpty, s"index at $dir has no committed segments")
    ScreenIndex(spark.read.parquet(m.segments.map(s => s"$dir/fps/$s"): _*), m.unit)
  }
}

object ScreenIndex extends ScreenIndexStore(None) {
  final case class Meta(unit: ScreenUnit, segments: Seq[String], absorbed: Seq[String]) {
    def committed: Set[String] = segments.toSet ++ absorbed
  }
}

/** [[ScreenIndex]] restricted to passage indexes. */
object PassageIndex extends ScreenIndexStore(Some("passage")) {
  def apply(fps: DataFrame, w: Int): ScreenIndex = ScreenIndex(fps, Passage(w))
}

/** [[ScreenIndex]] restricted to line indexes. */
object LineIndex extends ScreenIndexStore(Some("line")) {
  def apply(fps: DataFrame): ScreenIndex = ScreenIndex(fps, Line)
}
