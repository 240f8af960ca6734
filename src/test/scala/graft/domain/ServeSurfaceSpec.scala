package graft.domain

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over the lake serve modules: live vs pinned reads are one
  * [[ReadView]] argument, and a single probe is a batch of one, so no serve
  * may grow a public `*At` twin or a scalar twin of its batch form again. */
class ServeSurfaceSpec extends AnyFunSuite {

  private def source(path: String): String = {
    val f = new java.io.File(s"src/main/scala/graft/$path.scala")
    assert(f.isFile, s"source not found: ${f.getAbsolutePath}")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  /** Public `def`s of `path` whose name matches `name` — private helpers
    * (`private def vectorsAt`) do not match: the `def` must open the
    * declaration. */
  private def publicDefs(path: String, name: String): List[String] =
    s"""(?m)^\\s*(?:final\\s+|override\\s+)*def\\s+($name)\\s*[\\[(]""".r
      .findAllMatchIn(source(path)).map(_.group(1)).toList

  private val serveModules =
    Seq("domain/LexLake", "domain/VectorLake", "domain/Retrieval")

  test("no public *At serve twin in LexLake, VectorLake or Retrieval") {
    for (path <- serveModules) {
      val found = publicDefs(path, """\w+At""")
      assert(found.isEmpty,
        s"$path declares public *At methods ${found.mkString(", ")} — take " +
          "a `view: ReadView` on the one serve instead")
    }
  }

  test("no scalar serve twin beside a batch serve, nor the transcriptions only they shared") {
    // each positional and vector serve family keeps ONE batch method; a
    // single probe passes a one-row probe frame to it
    val twins =
      serveModules.map(_ -> "phraseServe|proximityServe|passageServe|search") :+
        ("operators/TextStats" ->
          "proximityPairsFromPositions|bestPassageWindowFromPositions")
    val found = twins.flatMap { case (path, names) =>
      publicDefs(path, names).map(n => s"$path.$n") }
    assert(found.isEmpty,
      s"scalar twins are back: ${found.mkString(", ")} — pass a one-row " +
        "probe frame to the family's batch serve instead")
  }
}
