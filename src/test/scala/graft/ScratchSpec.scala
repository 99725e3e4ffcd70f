package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** The per-process scratch root: fresh per-call dirs under it, and the
  * sweep that reclaims roots left behind by exited processes.
  */
class ScratchSpec extends AnyFunSuite {

  test("Scratch.dir gives every call a fresh empty dir under the root") {
    val a = new File(Scratch.dir("scratchspec"))
    val b = new File(Scratch.dir("scratchspec"))
    assert(a != b && a.isDirectory && b.isDirectory)
    assert(a.list().isEmpty && b.list().isEmpty)
    assert(a.getParentFile.getAbsolutePath === Scratch.root)
    assert(b.getParentFile.getAbsolutePath === Scratch.root)
  }

  test("the sweep deletes an idle dead-pid root and keeps a fresh one " +
      "and the live process's own") {
    val base = new File(Scratch.dir("sweep"))
    // a pid no process can hold (above any pid_max)
    val deadPid = Int.MaxValue.toLong
    assert(!ProcessHandle.of(deadPid).isPresent)
    val now = System.currentTimeMillis()
    val old = now - 31L * 60 * 1000
    def root(name: String, mtime: Long): File = {
      val r = new File(base, name)
      val f = new File(r, "v=0/part-0.parquet")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      Seq(f, f.getParentFile, r).foreach(_.setLastModified(mtime))
      r
    }
    val staleDead = root(s"graft_sinks_${deadPid}_18f00000000", old)
    val freshDead = root(s"graft_sinks_${deadPid}_18f00000001", now)
    val own = root(
      s"graft_sinks_${ProcessHandle.current().pid()}_18f00000002", old)
    val other = root("not_a_root", old)
    val swept = Scratch.sweepStale(base, now)
    assert(swept === Seq(staleDead))
    assert(!staleDead.exists())
    assert(freshDead.isDirectory && own.isDirectory && other.isDirectory)
  }
}
