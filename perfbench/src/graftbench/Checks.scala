package graftbench

/** Output checks. Each returns the number of failed checks, so the count
  * can feed `failed` and `failed_frac`; `problems` collects the first few
  * failures for the report.
  */
final class Checks {
  val problems: scala.collection.mutable.ArrayBuffer[String] =
    scala.collection.mutable.ArrayBuffer.empty[String]
  var failed = 0L

  def fail(msg: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += msg
  }

  def require(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** Every url's `text_sha256` from `Pipeline.extract` must equal the
    * direct `Extractor.extractHtml` digest of the same bytes; every
    * `parse_failed` row is a failure too.
    */
  def shas(pipeline: Seq[(String, String, Boolean)], direct: Map[String, String]): Unit = {
    require(pipeline.size == direct.size,
      s"pipeline returned ${pipeline.size} rows for ${direct.size} pages")
    pipeline.foreach { case (url, sha, parseFailed) =>
      if (parseFailed) fail(s"parse_failed: $url")
      else direct.get(url) match {
        case Some(d) if d == sha => ()
        case Some(d) => fail(s"text_sha256 mismatch on $url: pipeline $sha, direct $d")
        case None => fail(s"unexpected url $url")
      }
    }
  }
}

object Checks {

  /** Lowercased tokens joined by single spaces, padded so that a
    * containment test matches whole tokens only.
    */
  def tokens(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).mkString(" ", " ", " ")

  /** The line normalisation of the line screen: lower case, trimmed of
    * space, tab and CR, empty lines dropped.
    */
  def lines(s: String): Set[String] =
    s.split("\n", -1).iterator
      .map(l => l.toLowerCase(java.util.Locale.ROOT).replaceAll("^[ \t\r]+|[ \t\r]+$", ""))
      .filter(_.nonEmpty).toSet

  /** Documents (given as [[tokens]] strings) holding the passage. */
  def passageHolders(tokenTexts: Iterable[String], passage: String): Int = {
    val p = tokens(passage)
    tokenTexts.count(_.contains(p))
  }

  /** Documents (given as [[lines]] sets) holding the line. */
  def lineHolders(lineSets: Iterable[Set[String]], line: String): Int = {
    val l = lines(line).head
    lineSets.count(_.contains(l))
  }
}
