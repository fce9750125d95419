package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard against dead mains: every object under `src/main/scala` that
  * defines `def main(args: Array[String])` must have a row (name and
  * one-line purpose) in the "Mains" table of the verify recipe, and
  * every row must name such an object. A tool nothing calls then has to
  * be listed, with its purpose, to stay in the tree. No Spark session
  * needed — pure file reading. */
class MainsSpec extends AnyFunSuite {

  private val recipe = Paths.get(".claude/skills/verify/SKILL.md")

  /** Fully qualified names of the objects that define a main. */
  private def mainsInCode(): Set[String] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    val Pkg = """(?m)^package\s+([\w.]+)""".r
    // modifiers allowed (`private[graft] object X`); comment lines are not
    val Obj = """(?m)^\s*(?:\w+(?:\[\w+\])?\s+)*object\s+(\w+)""".r
    val Main = """def\s+main\s*\(\s*args\s*:\s*Array\[String\]\s*\)""".r
    files.flatMap { f =>
      val src = Files.readString(f)
      val pkg = Pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objects = Obj.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      // a main belongs to the nearest object declared above it
      Main.findAllMatchIn(src).map { m =>
        val owner = objects.filter(_._1 < m.start).lastOption
        assert(owner.nonEmpty, s"$f: def main outside an object")
        pkg + owner.get._2
      }
    }.toSet
  }

  /** (name, purpose) rows of the recipe's "## Mains" table. */
  private def mainsInRecipe(): Seq[(String, String)] = {
    val lines = Files.readString(recipe).linesIterator.toSeq
      .dropWhile(_.trim != "## Mains").drop(1).takeWhile(!_.startsWith("## "))
    val Row = """\|\s*`([\w.]+)`\s*\|(.*)\|\s*""".r
    lines.collect { case Row(name, purpose) => name -> purpose.trim }
  }

  test("every main is listed in the verify recipe's Mains table, and only those") {
    val rows = mainsInRecipe()
    assert(rows.nonEmpty, s"no '## Mains' table rows in $recipe")
    rows.foreach { case (name, purpose) =>
      assert(purpose.nonEmpty, s"$name has no purpose in $recipe")
    }
    val listed = rows.map(_._1)
    assert(listed.distinct == listed, s"duplicate rows in $recipe: $listed")
    val code = mainsInCode()
    assert(code -- listed == Set.empty,
      s"mains missing from the table in $recipe (list them or delete them)")
    assert(listed.toSet -- code == Set.empty,
      s"table rows in $recipe name no main under src/main/scala")
  }
}
