package graft

import scala.jdk.CollectionConverters._

/** The non-comment lines of `src/main/scala`, for specs that keep a
  * call in one place: (file, 0-based line index, trimmed line). */
object SourceScan {
  val root = new java.io.File("src/main/scala")

  def read(f: java.io.File): Seq[String] =
    java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq

  def codeLines: Seq[(java.io.File, Int, String)] = {
    require(root.isDirectory, s"source root missing: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    for {
      f <- files(root)
      (line, i) <- read(f).zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/**") &&
        !code.startsWith("//")
    } yield (f, i, code)
  }
}
