package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** The shared atomic-manifest machinery behind every persistable index
  * artifact ([[MinhashIndex]], [[IvfIndex]], and the [[ScreenIndex]] behind
  * [[PassageIndex]] and [[LineIndex]]): parquet
  * segment directories land FIRST, one `index.json` (written to a temp
  * file, ATOMIC_MOVE'd into place) is the commit point, `segments` lists
  * the live data, `absorbed` records names compacted away so replayed
  * appends stay no-ops, and vacuum deletes data directories the manifest
  * does not list live. Each index keeps its own typed parameter fields in
  * the JSON (byte-compatible with the pre-refactor manifests); this
  * object owns only the commit/idempotency/maintenance mechanics.
  *
  * SINGLE WRITER per index directory: the manifest update is a
  * read-modify-write guarded only by the ATOMIC_MOVE — callers serialize
  * all mutators (append/compact/vacuum) of one directory.
  */
private[ops] object SegmentedManifest {

  val mapper = new ObjectMapper()

  def manifestPath(dir: String): Path = Paths.get(dir, "index.json")

  def checkSegmentName(segment: String): Unit =
    require(segment.nonEmpty && segment.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"segment name '$segment' must be a plain file-name token")

  /** Read the segment lists; `absorbed` is absent in pre-round-7 manifests. */
  def readSegments(root: com.fasterxml.jackson.databind.JsonNode)
      : (Seq[String], Seq[String]) = {
    val segments = root.get("segments").elements().asScala.map(_.asText()).toSeq
    val absorbed =
      if (root.has("absorbed")) root.get("absorbed").elements().asScala.map(_.asText()).toSeq
      else Seq.empty
    (segments, absorbed)
  }

  def readTree(dir: String, what: String): com.fasterxml.jackson.databind.JsonNode = {
    val p = manifestPath(dir)
    require(Files.exists(p), s"no $what manifest at $p")
    mapper.readTree(Files.readAllBytes(p))
  }

  /** Atomic commit: `fill` writes the index's typed parameter fields, the
    * segment lists are appended, the temp file ATOMIC_MOVEs into place.
    */
  def commit(dir: String, segments: Seq[String], absorbed: Seq[String])
      (fill: ObjectNode => Unit): Unit = {
    Files.createDirectories(Paths.get(dir))
    val root = mapper.createObjectNode()
    root.put("format", 1)
    fill(root)
    val arr = root.putArray("segments")
    segments.foreach(arr.add)
    val abs = root.putArray("absorbed")
    absorbed.foreach(abs.add)
    val tmp = Paths.get(dir, ".index.json.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    Files.move(tmp, manifestPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** First `compacted_N` name never committed before (a crashed compact's
    * leftover directory with the same name is safely overwritten).
    */
  def freshCompactName(taken: Set[String]): String =
    Iterator.from(0).map(i => s"compacted_$i").find(!taken.contains(_)).get

  /** Delete sub-directories of `dir/<sub>` whose name is not live, for
    * each data kind in `subs`. Returns the deleted `sub/name` paths.
    */
  def vacuum(dir: String, subs: Seq[String], live: Set[String]): Seq[String] = {
    val deleted = Seq.newBuilder[String]
    for (sub <- subs) {
      val p = Paths.get(dir, sub)
      if (Files.isDirectory(p)) {
        val ds = Files.list(p)
        val children = try ds.iterator().asScala.toVector finally ds.close()
        children.filter(c => Files.isDirectory(c) && !live.contains(c.getFileName.toString))
          .foreach { c =>
            deleteRecursively(c)
            deleted += s"$sub/${c.getFileName}"
          }
      }
    }
    deleted.result()
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val ds = Files.list(p)
      val children = try ds.iterator().asScala.toVector finally ds.close()
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }
}
