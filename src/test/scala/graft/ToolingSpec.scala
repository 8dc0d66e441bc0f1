package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards for the runnable tooling: every main shares
  * [[BenchSession]], and no test-side object shadows a main-side one
  * (`runMain` would pick whichever comes first on the classpath). */
class ToolingSpec extends AnyFunSuite {
  private lazy val root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).find(p => Files.exists(p.resolve("build.sbt")))
      .getOrElse(fail("no build.sbt at or above the working directory"))

  private def sources(dir: String): Seq[Path] = {
    val walk = Files.walk(root.resolve(dir))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally walk.close()
  }

  private val TopLevelDef =
    """^(?:(?:private\[\w+\]|final|sealed|abstract|case)\s+)*(?:class|trait|object)\s+(\w+).*""".r

  /** Fully qualified names of a file's top-level classes, traits and
    * objects. */
  private def topLevelNames(file: Path): Seq[String] = {
    val lines = Files.readAllLines(file).asScala.toSeq
    val pkg = lines.filter(_.startsWith("package "))
      .map(_.stripPrefix("package ").trim).mkString(".")
    lines.collect { case TopLevelDef(name) => s"$pkg.$name" }
  }

  private def buildersIn(dir: String): Seq[String] =
    sources(dir).filter(f => Files.readString(f).contains("SparkSession.builder"))
      .map(_.getFileName.toString)

  test("no fully qualified name is defined in both src/main and src/test") {
    val main = sources("src/main/scala").flatMap(topLevelNames).toSet
    val shadowed = sources("src/test/scala").flatMap(topLevelNames).filter(main)
    assert(shadowed.isEmpty, s"defined on both sides: $shadowed")
  }

  test("src/main builds a SparkSession only in BenchSession") {
    assert(buildersIn("src/main/scala") == Seq("BenchSession.scala"))
  }

  test("src/main renames only in graft/store/Swap.scala, and no private " +
      "swap scheme's temp or aside name remains") {
    val main = root.resolve("src/main/scala")
    val renaming = sources("src/main/scala")
      .filter(f => Files.readString(f).contains(".rename("))
      .map(f => main.relativize(f).toString)
    assert(renaming == Seq("graft/store/Swap.scala"),
      s"FileSystem.rename outside the commit protocol: $renaming")
    val retired = Seq("__compact_tmp__", "__repair_tmp__", "__layout_tmp__",
      "__zorder_tmp__", ".__old__")
    val found = for {
      f <- sources("src/main/scala")
      name <- retired if Files.readString(f).contains(name)
    } yield s"${main.relativize(f)}: $name"
    assert(found.isEmpty, s"a private swap scheme is back: $found")
  }

  test("the string joins run one filter–verify skeleton: no retired " +
      "per-family guard helper comes back in src/main") {
    val main = root.resolve("src/main/scala")
    val retired = Seq("edGuard", "edGuardBoth", "edPairCounts", "jwGuard")
    val found = for {
      f <- sources("src/main/scala")
      name <- retired if s"\\b$name\\b".r.findFirstIn(Files.readString(f)).isDefined
    } yield s"${main.relativize(f)}: $name"
    assert(found.isEmpty, s"a per-family guard is back: $found")
  }

  test("a resident search finishes in one evaluator: the retired local " +
      "helpers stay gone and only its file builds a LocalRelation") {
    val main = root.resolve("src/main/scala")
    val retired = Seq("localFrame", "localTopK", "joinOnIds")
    val found = for {
      f <- sources("src/main/scala")
      name <- retired if s"\\b$name\\b".r.findFirstIn(Files.readString(f)).isDefined
    } yield s"${main.relativize(f)}: $name"
    assert(found.isEmpty, s"a retired local-frame helper is back: $found")
    // a construction or a companion factory call; a type or extractor
    // pattern (`case r: LocalRelation`, `case LocalRelation(...)`) reads one
    val builds = """(?<!case )\bLocalRelation\s*[.(]""".r
    val building = sources("src/main/scala")
      .filter(f => builds.findFirstIn(Files.readString(f)).isDefined)
      .map(f => main.relativize(f).toString)
    assert(building == Seq("org/apache/spark/sql/ResidentScan.scala"),
      s"a LocalRelation built outside the resident evaluator: $building")
  }

  test("src/test builds a SparkSession only in *Spec.scala fixtures") {
    val outside = buildersIn("src/test/scala").filterNot(_.endsWith("Spec.scala"))
    assert(outside.isEmpty, s"session builders outside spec fixtures: $outside")
  }
}
