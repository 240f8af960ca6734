package graft.domain

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over the lake serve modules: live vs pinned reads are one
  * [[ReadView]] argument, so no serve may grow a public `*At` twin again. */
class ServeSurfaceSpec extends AnyFunSuite {

  test("no public *At serve twin in LexLake, VectorLake or Retrieval") {
    // private helpers (`private def vectorsAt`) do not match: the `def`
    // must open the declaration
    val publicAt = """(?m)^\s*(?:final\s+|override\s+)*def\s+(\w+At)\s*[\[(]""".r
    for (name <- Seq("LexLake", "VectorLake", "Retrieval")) {
      val f = new java.io.File(s"src/main/scala/graft/domain/$name.scala")
      assert(f.isFile, s"source not found: ${f.getAbsolutePath}")
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      val found = publicAt.findAllMatchIn(text).map(_.group(1)).toList
      assert(found.isEmpty,
        s"$name declares public *At methods ${found.mkString(", ")} — take " +
          "a `view: ReadView` on the one serve instead")
    }
  }
}
