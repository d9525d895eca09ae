package graft

import org.scalatest.{Outcome, TestSuite}

/** Per-test temp directories: every directory [[tempDir]] makes during a
  * test is deleted, with its contents, when the test ends, pass or fail.
  */
trait TempDirs extends TestSuite {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A new empty directory under `java.io.tmpdir` named `prefix…`. */
  protected def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.toString
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      var d = made.poll()
      while (d != null) {
        org.apache.commons.io.FileUtils.deleteQuietly(d)
        d = made.poll()
      }
    }
}
