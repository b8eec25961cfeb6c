package graft

import java.nio.file.{Files, Path}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs a spec creates through [[tempDir]], deleted recursively
  * after its last test.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override def afterAll(): Unit =
    try made.forEach { d =>
      try graft.store.Snapshot.deleteRecursively(d)
      catch { case e: java.io.IOException => System.err.println(s"[temp] $d left: $e") }
    } finally super.afterAll()
}
