package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on hand-written materialization sites: every persist, cache,
  * checkpoint and unpersist call in `src/main` is one more lifecycle to get
  * right (the cache-fill races and lost-block reads this codebase shipped
  * came from such sites), so their count may only go down. Lower `Max`
  * when a change removes sites; a change that needs a new one folds an
  * old one into a shared rule first. */
class MaterializationSitesSpec extends AnyFunSuite {

  private val Max = 17
  private val Site = """\.(persist|localCheckpoint|checkpoint|unpersist|cache)\(""".r
  // every way an operator or query can store a frame: a cache, or a
  // checkpoint, local or reliable
  private val Owned = """\.(persist|cache|localCheckpoint|checkpoint)\(""".r
  private val root = Paths.get("src/main/scala")

  /** Lines matching `re` per file under `dir`, files with none left out. */
  private def sites(dir: Path, re: scala.util.matching.Regex): List[(String, Int)] = {
    assert(Files.isDirectory(dir), s"run from the repository root: $dir")
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(p => root.relativize(p).toString ->
        Files.readAllLines(p).asScala.count(re.findFirstIn(_).isDefined))
      .filter(_._2 > 0).sortBy(-_._2)
  }

  // the name leaves the bound out, so lowering it keeps the test's name
  test("src/main has at most Max persist/cache/checkpoint/unpersist lines") {
    val perFile = sites(root, Site)
    val total = perFile.map(_._2).sum
    assert(total <= Max, s"$total materialization call lines (max $Max): " +
      perFile.map { case (f, n) => s"$f $n" }.mkString(", "))
  }

  test("operators and queries persist only through Materialize and Loops") {
    val owners = Set("graft/operators/Materialize.scala", "graft/operators/Loops.scala")
    val others = Seq("operators", "queries")
      .flatMap(d => sites(root.resolve(s"graft/$d"), Owned))
      .filterNot { case (f, _) => owners(f) }
    assert(others.isEmpty, "persist or checkpoint outside Materialize and Loops: " +
      others.map { case (f, n) => s"$f $n" }.mkString(", "))
  }
}
