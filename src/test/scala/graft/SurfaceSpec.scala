package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every public face of `graft.operators` and `graft.functions` must be
  * reached: named by code in `src/main` outside its own definition (a
  * query, a TVF, another operator), or in `perfbench/src`, or listed in
  * README's "Deployment API" section. A face only a spec calls is either
  * a deployment face (README lists it) or a spec's reference, which
  * lives in `src/test`. A source scan: no Spark session.
  */
class SurfaceSpec extends AnyFunSuite {

  private def sources(root: String): Seq[Path] =
    if (!Files.isDirectory(Paths.get(root))) Nil
    else {
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
        .toList.sorted
      finally s.close()
    }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** The source with `//` and (nested) block comments blanked; string
    * and char literals, including the code inside `${…}` of an
    * interpolated string, are kept, so a `//` inside a string is not a
    * comment.
    */
  private def stripComments(s: String): String = {
    val out = new StringBuilder
    var i = 0
    def code(closeOnBrace: Boolean): Unit = {
      var depth = 0
      var done = false
      while (!done && i < s.length) {
        val c = s(i)
        if (s.startsWith("//", i)) {
          while (i < s.length && s(i) != '\n') i += 1
        } else if (s.startsWith("/*", i)) {
          var nest = 0
          var closed = false
          while (!closed && i < s.length) {
            if (s.startsWith("/*", i)) { nest += 1; i += 2 }
            else if (s.startsWith("*/", i)) { nest -= 1; i += 2; closed = nest == 0 }
            else { if (s(i) == '\n') out += '\n'; i += 1 }
          }
          out += ' '
        } else if (c == '"') {
          string()
        } else if (c == '\'' && i + 2 < s.length && s(i + 2) == '\'') {
          out ++= s.substring(i, i + 3); i += 3
        } else if (c == '\'' && i + 3 < s.length && s(i + 1) == '\\' && s(i + 3) == '\'') {
          out ++= s.substring(i, i + 4); i += 4
        } else {
          if (closeOnBrace && c == '{') depth += 1
          if (closeOnBrace && c == '}') { if (depth == 0) done = true else depth -= 1 }
          out += c; i += 1
        }
      }
    }
    def string(): Unit = {
      val interpolated = i > 0 && s(i - 1).isLetter
      if (s.startsWith("\"\"\"", i)) {
        out ++= "\"\"\""; i += 3
        while (i < s.length && !s.startsWith("\"\"\"", i)) {
          if (interpolated && s.startsWith("${", i)) { out ++= "${"; i += 2; code(true) }
          else { out += s(i); i += 1 }
        }
        while (i < s.length && s(i) == '"') { out += '"'; i += 1 }
      } else {
        out += '"'; i += 1
        var closed = false
        while (!closed && i < s.length && s(i) != '\n') {
          if (s(i) == '\\' && i + 1 < s.length) { out ++= s.substring(i, i + 2); i += 2 }
          else if (interpolated && s.startsWith("${", i)) { out ++= "${"; i += 2; code(true) }
          else { closed = s(i) == '"'; out += s(i); i += 1 }
        }
      }
    }
    code(false)
    out.toString
  }

  /** (object, def) for each public def at an object's top level: one
    * object per file in these packages, its members indented two spaces.
    */
  private def publicFaces: Seq[(String, String)] =
    Seq("operators", "functions").flatMap(pkg => sources(s"src/main/scala/graft/$pkg"))
      .flatMap { p =>
        val src = stripComments(read(p))
        val obj = "(?m)^object (\\w+)".r.findFirstMatchIn(src).map(_.group(1))
          .getOrElse(fail(s"$p defines no top-level object"))
        "(?m)^  (?:@\\w+\\s+)*(?:final |override |implicit )*def (\\w+)".r
          .findAllMatchIn(src).map(m => (obj, m.group(1)))
      }.distinct

  /** The `Object.def` names that head the list items of README's
    * "Deployment API" section (none when README has no such section).
    */
  private def deploymentApi: Set[String] = {
    val readme = read(Paths.get("README.md"))
    val start = readme.indexOf("\n## Deployment API")
    if (start < 0) Set.empty
    else {
      val end = readme.indexOf("\n## ", start + 1)
      val section = readme.substring(start, if (end < 0) readme.length else end)
      section.linesIterator.filter(_.startsWith("- ")).flatMap { item =>
        "`(\\w+\\.\\w+)`".r.findAllMatchIn(item.takeWhile(_ != '—')).map(_.group(1))
      }.toSet
    }
  }

  test("every public operator/function face is reached or is a listed deployment face") {
    val code = (sources("src/main") ++ sources("perfbench/src"))
      .map(p => stripComments(read(p))).mkString("\n")
    val faces = publicFaces
    assert(faces.size > 100, s"the scan found only ${faces.size} faces")
    val api = deploymentApi
    val ghosts = api -- faces.map { case (obj, name) => s"$obj.$name" }
    assert(ghosts.isEmpty,
      s"README's Deployment API lists faces that do not exist: " +
        ghosts.toSeq.sorted.mkString(", "))
    val unreached = faces.filter { case (obj, name) =>
      val uses = s"\\b$name\\b".r.findAllMatchIn(code).size
      val defs = s"\\bdef $name\\b".r.findAllMatchIn(code).size
      uses <= defs && !api.contains(s"$obj.$name")
    }.map { case (obj, name) => s"$obj.$name" }.sorted
    assert(unreached.isEmpty,
      s"${unreached.size} public faces have no caller in src/main or perfbench/src " +
        s"and are not in README's Deployment API: ${unreached.mkString(", ")}")
  }
}
