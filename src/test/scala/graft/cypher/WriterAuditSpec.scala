package graft.cypher

import graft.AuditLex
import org.scalatest.funsuite.AnyFunSuite

/** Standing source audit of the write path: `CypherWriter` finds the frame
  * of every bound node through one helper (`homes`) and answers an
  * unlabeled write in one pass, so it never re-runs a query per label.
  * Scans comment-stripped source ([[AuditLex]]), so a comment that names
  * a construct never trips it.
  *
  * No SparkSession needed: this is a pure source check.
  */
class WriterAuditSpec extends AnyFunSuite {

  test("writer audit: one bound-node rule, no per-label re-run") {
    import java.nio.file.{Files, Paths}
    val p = Paths.get("src/main/scala/graft/cypher/CypherWriter.scala")
    assert(Files.exists(p), s"audit must run from the repo root, missing $p")
    val lines = AuditLex.stripComments(new String(Files.readAllBytes(p), "UTF-8"))
      .split("\n", -1).toSeq
    def hits(re: String) = lines.zipWithIndex.collect {
      case (l, no) if re.r.findFirstIn(l).nonEmpty => s"CypherWriter.scala:${no + 1}: ${l.trim}"
    }
    assert(hits("""new\s+CypherWriter\b""").isEmpty,
      s"CypherWriter must not re-run a query through a nested writer: ${hits("""new\s+CypherWriter\b""")}")
    assert(hits("__uk_|__ua_|__os_").isEmpty,
      s"no per-label RETURN split columns: ${hits("__uk_|__ua_|__os_")}")
    // a scope's static labels are read in `homes` only (the pinned edge
    // classes of rel variables are not a node lookup). The class's
    // members sit at two-space indent; a lookup belongs to the last
    // member def above it
    val member = "^  (?:private(?:\\[\\w+\\])? )?def (\\w+)".r
    val owners = lines.scanLeft("")((o, l) =>
      member.findFirstMatchIn(l).fold(o)(_.group(1))).tail
    val lookups = for {
      ((line, owner), no) <- lines.zip(owners).zipWithIndex
      if owner != "homes" && """labels\.getOrElse\(|\.labels\.get\(""".r.findFirstIn(line).nonEmpty
    } yield s"CypherWriter.scala:${no + 1} in $owner: ${line.trim}"
    assert(owners.contains("homes"), "the bound-node helper `homes` moved or was renamed")
    assert(lookups.isEmpty,
      s"a write finds a bound node's frame through `homes` only: $lookups")
  }
}
