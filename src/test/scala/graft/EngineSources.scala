package graft

/** The engine source the lint specs read: every `.scala` file under
  * `src/main/scala/graft` except the probe harness `SparkEntry.scala`. */
object EngineSources {
  private val Root = "src/main/scala/graft/"

  def files(): Seq[java.io.File] = {
    val root = new java.io.File(Root)
    assert(root.isDirectory, s"lint must run from the repo root; missing ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala") && f.getName != "SparkEntry.scala") Seq(f)
      else Seq.empty
    walk(root)
  }

  /** (path under `src/main/scala/graft`, 1-based line number, raw line) of
    * every line that is not a comment line. */
  def codeLines(): Seq[(String, Int, String)] = files().flatMap { f =>
    val rel = f.getPath.replace('\\', '/').stripPrefix(Root)
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try {
      src.getLines().zipWithIndex.collect { case (raw, i) if !isComment(raw.trim) =>
        (rel, i + 1, raw)
      }.toList
    } finally src.close()
  }

  private def isComment(t: String): Boolean =
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
}
