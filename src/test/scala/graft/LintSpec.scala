package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Style lint — the flake8 analog of the reference's CI
  * (/root/reference/.github/workflows/ci.yml:30-38 runs flake8 before
  * pytest; .flake8:1-14 carries its line-length/exclusion config).
  * scalafmt/scalastyle need network-resolved sbt plugins, so the same
  * contract is enforced here as a plain test over the source tree:
  * CI's `sbt test` then runs lint + tests exactly like the
  * reference's `flake8 && pytest`.
  *
  * Rules (violations print file:line):
  *  - no tab characters, no trailing whitespace, files end in \n
  *  - lines ≤ 120 columns
  *  - no unfinished-work markers (that work belongs in issues, not
  *    shipped source)
  *  - no `println` in library code (mains and the debug-print
  *    StageLog are the sanctioned output surfaces)
  *  - the stored indexes' commit-marker, id-bloom and tombstone paths
  *    are spelled only in `ext/StoredIndex.scala` (callers go through
  *    its helpers, e.g. `isCommitted`)
  *  - the medallion layers (bronze, silver, gold, meta) read parquet
  *    only with a declared schema: a schema-less `.read.parquet(`
  *    pays a schema-inference Spark job per read
  */
class LintSpec extends AnyFunSuite {

  private val MaxLine = 120

  /** Mains whose stdout IS their contract (Bench's JSON line, the
    * pipeline/setup/verify run reports) plus the logging utility. */
  private val PrintlnAllowed = Set(
    "Bench.scala", "Verify.scala", "Pipeline.scala", "Setup.scala",
    "StageLog.scala", "ScaleUp.scala", "ScalingProbe.scala",
    "ProfileQuery.scala")

  /** One walk, one read per file, shared by every rule (the walk
    * stream is closed eagerly — Files.walk holds directory handles). */
  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src"))
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .map(p => (p, Files.readString(p)))
    finally walk.close()
  }

  private def check(rule: String)(
      violation: (Path, Int, String) => Boolean): Unit = {
    val hits = for {
      (p, text) <- sources
      (line, i) <- text.linesIterator.zipWithIndex
      if violation(p, i, line)
    } yield s"$p:${i + 1}"
    assert(hits.isEmpty, s"$rule violated at:\n  ${hits.mkString("\n  ")}")
  }

  test("no tab characters") {
    check("no-tabs")((_, _, l) => l.contains('\t'))
  }

  test("no trailing whitespace") {
    check("no-trailing-ws")((_, _, l) => l != l.replaceAll("\\s+$", ""))
  }

  test(s"lines fit in $MaxLine columns") {
    check(s"max-line-$MaxLine")((_, _, l) => l.length > MaxLine)
  }

  test("no unfinished-work markers") {
    // markers assembled at runtime so this file passes its own rule
    val markers = Seq("TO" + "DO", "FIX" + "ME", "XX" + "X")
    check("no-todo")((_, _, l) => markers.exists(l.contains))
  }

  test("no println outside the runnable mains") {
    check("no-println")((p, _, l) =>
      p.toString.startsWith("src/main") &&
        !PrintlnAllowed(p.getFileName.toString) &&
        l.contains("println("))
  }

  test("commit-protocol asset paths only in StoredIndex") {
    val paths = Seq("/meta\"", "/idbloom", "/deletes\"")
    check("stored-index-paths")((p, _, l) =>
      p.toString.startsWith("src/main") &&
        !p.endsWith(Paths.get("ext", "StoredIndex.scala")) &&
        paths.exists(l.contains))
  }

  test("medallion layers read parquet only with a declared schema") {
    val layers = Seq("bronze", "silver", "gold", "meta")
      .map(l => Paths.get("src", "main", "scala", "graft", l))
    val schemaLess = "\\.read\\s*\\.parquet\\(".r
    // matched over the whole text: the call may span a line break
    val hits = for {
      (p, text) <- sources if layers.exists(p.startsWith)
      m <- schemaLess.findAllMatchIn(text)
    } yield s"$p:${text.take(m.start).count(_ == '\n') + 1}"
    assert(hits.isEmpty,
      s"schema-less-parquet-read violated at:\n  ${hits.mkString("\n  ")}")
  }

  test("files end with a newline") {
    val hits = sources.collect { case (p, t) if !t.endsWith("\n") => p }
    assert(hits.isEmpty, s"missing final newline:\n  ${hits.mkString("\n  ")}")
  }
}
