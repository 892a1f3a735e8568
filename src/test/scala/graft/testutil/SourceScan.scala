package graft.testutil

import java.io.File

import scala.jdk.CollectionConverters._

/** The project's Scala sources as code lines, for the source guards
  * (MaterializeSpec, StreamingSpec, ReachabilitySpec, KernelCallSpec). Paths are
  * relative to the repository root, where sbt runs the tests. */
object SourceScan {

  /** The code part of one line: "" for a scaladoc/comment line, else the
    * text before a trailing `//` comment. String literals are kept. */
  def code(line: String): String = line.trim match {
    case t if t.startsWith("*") || t.startsWith("/*") => ""
    case t => t.split("//", 2)(0)
  }

  /** Every `.scala` file under `dir`, in path order. */
  def scalaFiles(dir: String): Seq[File] = {
    val root = new File(dir)
    require(root.isDirectory, s"not a directory: ${root.getAbsolutePath}")
    org.apache.commons.io.FileUtils.listFiles(root, Array("scala"), true)
      .asScala.toSeq.sortBy(_.getPath)
  }

  /** `f`'s lines through [[code]]; line n is at index n - 1. */
  def codeLines(f: File): IndexedSeq[String] =
    java.nio.file.Files.readAllLines(f.toPath).asScala.map(code).toIndexedSeq
}
