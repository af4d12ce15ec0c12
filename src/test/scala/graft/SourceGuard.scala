package graft

/** Source lines of the main tree, for the specs that keep a construct to
  * the one file that owns it. */
object SourceGuard {

  /** (file, 1-based line number, line) for every Scala line under `root`. */
  def lines(root: String): Seq[(java.io.File, Int, String)] = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val all = files(new java.io.File(root))
    assert(all.nonEmpty, s"no Scala sources under $root")
    all.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex
        .map { case (l, i) => (f, i + 1, l) }.toList
      finally src.close()
    }
  }

  def show(hit: (java.io.File, Int, String)): String =
    s"${hit._1.getName}:${hit._2}: ${hit._3.trim}"
}
