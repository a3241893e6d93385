package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on hand-written materialization sites: every persist, cache,
  * checkpoint and unpersist call in `src/main` is one more lifecycle to get
  * right (the cache-fill races and lost-block reads this codebase shipped
  * came from such sites), so their count may only go down. Lower `Max`
  * when a change removes sites; a change that needs a new one folds an
  * old one into a shared rule first. */
class MaterializationSitesSpec extends AnyFunSuite {

  private val Max = 77
  private val Site = """\.(persist|localCheckpoint|checkpoint|unpersist|cache)\(""".r

  test(s"src/main has at most $Max persist/cache/checkpoint/unpersist call lines") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val perFile = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(p => root.relativize(p).toString ->
        Files.readAllLines(p).asScala.count(Site.findFirstIn(_).isDefined))
      .filter(_._2 > 0).sortBy(-_._2)
    val total = perFile.map(_._2).sum
    assert(total <= Max, s"$total materialization call lines (max $Max): " +
      perFile.map { case (f, n) => s"$f $n" }.mkString(", "))
  }
}
