package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.{BeforeAndAfterAll, Suite}

/** One scratch root per suite under java.io.tmpdir. Every directory a test
  * writes goes beneath it, and the suite's afterAll deletes it, so test
  * runs leave nothing in the temp dir. A suite with its own afterAll calls
  * `super.afterAll()` last. */
trait ScratchRoot extends BeforeAndAfterAll { this: Suite =>

  lazy val scratchRoot: File =
    Files.createTempDirectory(s"graft_${getClass.getSimpleName}_").toFile

  /** A fresh path under [[scratchRoot]], not created. */
  def scratch(name: String): String =
    new File(scratchRoot, s"${name}_${System.nanoTime()}").getPath

  /** A fresh directory under [[scratchRoot]], created. */
  def scratchDir(name: String): String =
    Files.createTempDirectory(scratchRoot.toPath, name).toString

  override def afterAll(): Unit = graft.data.Frames.deleteRecursively(scratchRoot)
}
