package graft

import org.scalatest.funsuite.AnyFunSuite

/** Standing DURATION audit: the ISO 8601 duration text — the `PT0S`
  * default and the `P…Y…M…W…D` / `T…H…M…S` field patterns — appears
  * only in `graft/functions/CypherFunctions.scala`, whose one writer and
  * one set of field readers build, read and add every Cypher duration.
  * A second evaluator of the format elsewhere (a compile-time folder, a
  * hand-built `"P" + n + "D"`) fails here. Scans comment-stripped source
  * ([[AuditLex]]), so a comment that names the format never trips it.
  *
  * No SparkSession needed: this is a pure source check.
  */
class DurationAuditSpec extends AnyFunSuite {

  private val owner = "graft/functions/CypherFunctions.scala"

  /** The zero duration, a field pattern of a regex (`\d+)Y`, `\\d+M`), a
    * field written by a format string (`%dD`) or by interpolation
    * (`${d}D"`), or a bare "P"/"PT" prefix literal. */
  private val isoText =
    "PT0S|\\\\d\\+\\)?[YMWDHS]|%[0-9.]*[df][YMWDHS]|\\}[YMWDHS]\"|\"PT?\"".r

  test("duration audit: only CypherFunctions knows the ISO duration text") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"audit must run from the repo root, missing $root")
    val scanned = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    val rels = scanned.map(p => root.relativize(p).toString)
    assert(rels.contains(owner), s"duration owner file moved or renamed: $owner")
    def hits(rel: String, text: String) = for {
      (line, no) <- AuditLex.stripComments(text).split("\n", -1).toSeq.zipWithIndex
      m <- isoText.findAllMatchIn(line)
    } yield s"$rel:${no + 1}: ${m.matched}"
    val found = scanned.zip(rels).filter(_._2 != owner).flatMap { case (p, rel) =>
      hits(rel, new String(Files.readAllBytes(p), "UTF-8"))
    }
    assert(found.isEmpty,
      "ISO duration text outside CypherFunctions — build, read and add durations " +
        s"through CypherFunctions' writer and readers instead: $found")
    // the markers still see the owner's writer and readers
    val own = hits(owner, new String(Files.readAllBytes(root.resolve(owner)), "UTF-8"))
    assert(own.exists(_.endsWith("PT0S")) && own.exists(_.endsWith("D")), own)
  }
}
