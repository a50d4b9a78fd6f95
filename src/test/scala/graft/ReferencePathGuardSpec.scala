package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guard: no code under `src/main` or `src/test` opens a file in the
  * reference checkout that SURVEY.md cites. That checkout is not part of
  * this repository, so a read from it passes only on a machine that happens
  * to have it. What a spec needs from it is vendored under
  * `src/test/resources/reference/`. Citations in comments stay allowed;
  * any string outside comments that names a path under the checkout fails,
  * whether it is passed straight to `Paths.get`, `new File` or
  * `Source.fromFile` or kept in a val first.
  */
class ReferencePathGuardSpec extends AnyFunSuite {
  import ReferencePathGuardSpec._

  test("no Scala source outside comments names a path under the reference checkout") {
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repository root: $r"))
    val sources = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.size > 100, s"expected the whole source tree, found ${sources.size} files")
    val offenders = sources.flatMap { p =>
      offendingLines(new String(Files.readAllBytes(p), "UTF-8")).map(l => s"$p:$l")
    }
    assert(offenders.isEmpty,
      s"sources open files in the reference checkout (vendor them under src/test/resources): " +
        offenders.mkString(", "))
  }

  test("the guard flags reads in code and passes citations in comments") {
    val tq = "\"\"\""
    val read =
      s"""object A {
         |  // cited: ${ReferenceRoot}lib/stack.ts:722
         |  /* cited: ${ReferenceRoot}README.md:19 /* nested */ still a comment */
         |  val c = '"' // a char literal must not open a string
         |  val ok = "// not a comment"
         |  val json = new String(Files.readAllBytes(Paths.get(
         |    "${ReferenceRoot}resources/x.json")))
         |  val f = new java.io.File(s$tq${ReferenceRoot}y$tq)
         |}""".stripMargin
    assert(offendingLines(read) === Seq(7, 8))
    assert(offendingLines(s"/** ${ReferenceRoot}a */ val x = 1 // ${ReferenceRoot}b") === Nil)
  }
}

object ReferencePathGuardSpec {

  /** The checkout's root, spelled in pieces so this file does not trip its
    * own check. */
  val ReferenceRoot: String = Seq("", "root", "reference", "").mkString("/")

  /** 1-based lines on which `ReferenceRoot` appears outside comments. */
  def offendingLines(source: String): Seq[Int] = {
    val code = stripComments(source)
    Iterator.iterate(code.indexOf(ReferenceRoot))(i => code.indexOf(ReferenceRoot, i + 1))
      .takeWhile(_ >= 0)
      .map(i => code.substring(0, i).count(_ == '\n') + 1)
      .toSeq.distinct
  }

  /** `source` with line and (nested) block comments blanked out and
    * newlines kept, so offsets map to the same lines. String and char
    * literals are kept and never open a comment. */
  def stripComments(source: String): String = {
    val out = new StringBuilder(source.length)
    val n = source.length
    def at(i: Int, s: String): Boolean = source.startsWith(s, i)
    def blank(from: Int, until: Int): Unit =
      (from until until).foreach(j => out += (if (source(j) == '\n') '\n' else ' '))
    var i = 0
    while (i < n) {
      if (at(i, "//")) {
        val end = { val e = source.indexOf('\n', i); if (e < 0) n else e }
        blank(i, end); i = end
      } else if (at(i, "/*")) {
        var depth = 0
        var j = i
        do {
          if (at(j, "/*")) { depth += 1; j += 2 }
          else if (at(j, "*/")) { depth -= 1; j += 2 }
          else j += 1
        } while (depth > 0 && j < n)
        blank(i, j min n); i = j min n
      } else if (at(i, "\"\"\"")) {
        val e = source.indexOf("\"\"\"", i + 3)
        val end = if (e < 0) n else e + 3
        out ++= source.substring(i, end); i = end
      } else if (source(i) == '"') {
        var j = i + 1
        while (j < n && source(j) != '"' && source(j) != '\n') j += (if (source(j) == '\\') 2 else 1)
        val end = (j + 1) min n
        out ++= source.substring(i, end); i = end
      } else if (source(i) == '\'' && i + 2 < n && (source(i + 2) == '\'' || source(i + 1) == '\\')) {
        val e = source.indexOf('\'', i + 2)
        val end = if (e < 0) n else e + 1
        out ++= source.substring(i, end); i = end
      } else {
        out += source(i); i += 1
      }
    }
    out.result()
  }
}
