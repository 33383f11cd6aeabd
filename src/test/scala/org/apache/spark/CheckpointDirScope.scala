package org.apache.spark

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils

/** Runs a block with the SparkContext's checkpoint directory set to a
  * fresh temporary directory, then restores the previous setting and
  * deletes the directory. `SparkContext.setCheckpointDir` has no unset,
  * and the context is shared by every suite in the JVM, so the restore
  * writes the `private[spark]` field directly; later suites stay on the
  * executor-local path of `graft.Tables.materialize`.
  */
object CheckpointDirScope {

  def withCheckpointDir[T](sc: SparkContext)(f: File => T): T = {
    val dir = Files.createTempDirectory("graft_ckpt").toFile
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir.getPath)
    try f(dir)
    finally {
      sc.checkpointDir = prev
      FileUtils.deleteDirectory(dir)
    }
  }

  /** Regular files anywhere under `dir`: what checkpoints wrote there. */
  def filesUnder(dir: File): Int =
    FileUtils.listFiles(dir, null, true).size
}
