package graft

/** The code lines of `src/main/scala` for the source-scan specs: each line
  * with its `path:line` location, comment lines (scaladoc, block and line
  * comments, which may name what a scan bans) left out. */
object SourceScan {

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
  }

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** (file, [(location, line)]) for every main source file but `exclude`. */
  def mainCode(exclude: Set[String] = Set.empty)
      : Seq[(java.io.File, Seq[(String, String)])] = {
    val files = scalaFiles(new java.io.File("src/main/scala"))
      .filterNot(f => exclude(f.getName))
    require(files.nonEmpty, "no sources found under src/main/scala")
    files.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      f -> lines.zipWithIndex.filterNot(l => isComment(l._1))
        .map { case (l, i) => (s"${f.getPath}:${i + 1}", l) }
    }
  }
}
