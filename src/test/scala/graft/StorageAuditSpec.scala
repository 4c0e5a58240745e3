package graft

import org.scalatest.funsuite.AnyFunSuite

/** Standing STORAGE audit: every checkpoint, cache and release in main
  * source goes through `graft.util.Frames` (over the `GraftShims`
  * bridge), so the storage mechanism is chosen in one module and new
  * code cannot bypass it. Scans comment-stripped source
  * ([[AuditLex]]), so a comment that names an API never trips it.
  *
  * No SparkSession needed: this is a pure source check.
  */
class StorageAuditSpec extends AnyFunSuite {

  /** The only files allowed to touch Spark's storage API. */
  private val owners = Set("graft/util/Frames.scala",
    "org/apache/spark/sql/graftshim/GraftShims.scala")

  private val storageApi = Seq("localCheckpoint", "releaseCheckpoint",
    "\\.persist\\(", "\\.unpersist\\(", "\\.cache\\(\\)", "\\.checkpoint\\(",
    "StorageLevel")

  test("storage audit: only Frames and GraftShims call Spark's storage API") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"audit must run from the repo root, missing $root")
    val marker = storageApi.mkString("(", "|", ")").r
    val scanned = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector
    val ownersSeen = scanned.map(p => root.relativize(p).toString).filter(owners)
    assert(ownersSeen.toSet == owners,
      s"storage owner file(s) moved or renamed: ${owners -- ownersSeen}")
    val bypasses = for {
      p <- scanned
      rel = root.relativize(p).toString
      if !owners(rel)
      stripped = AuditLex.stripComments(new String(Files.readAllBytes(p), "UTF-8"))
      (line, no) <- stripped.split("\n", -1).zipWithIndex
      m <- marker.findAllMatchIn(line)
    } yield s"$rel:${no + 1}: ${m.matched}"
    assert(bypasses.isEmpty,
      s"storage API called outside graft.util.Frames — store frames through " +
        s"Frames.materialize/cache/release/materializeOver instead: $bypasses")
  }

  test("loop audit: Algos frees frames only through Frames.loop and Rounds") {
    import java.nio.file.{Files, Paths}
    val p = Paths.get("src/main/scala/graft/algos/Algos.scala")
    assert(Files.exists(p), s"audit must run from the repo root, missing $p")
    val lines = AuditLex.stripComments(new String(Files.readAllBytes(p), "UTF-8"))
      .split("\n", -1)
    // the object's members sit at two-space indent; a call belongs to the
    // last member def above it
    val member = "^  (?:private(?:\\[\\w+\\])? )?def (\\w+)".r
    val call = "\\b(release|uncache|clampedSession|retarget)\\(".r
    val owners = lines.scanLeft("")((o, l) =>
      member.findFirstMatchIn(l).fold(o)(_.group(1))).tail
    val found = for {
      ((line, owner), no) <- lines.toSeq.zip(owners).zipWithIndex
      m <- call.findAllMatchIn(line)
    } yield s"Algos.scala:${no + 1} in $owner: ${m.group(1)}("
    assert(found.isEmpty,
      "an Algos loop stores, advances and frees its frames through " +
        s"Frames.loop and Frames.Rounds, never by hand: $found")
  }
}
