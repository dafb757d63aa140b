package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Scratch dirs are ephemeral: the JVM-exit cleanup deletes every one that
  * [[Scratch.dir]] made, contents included, and leaves the base in place.
  * The test cleans only its own dirs, so dirs that other suites' lazily read
  * DataFrames still use are left to the exit hook.
  */
class ScratchSpec extends AnyFunSuite {

  test("the exit hook's cleanup deletes Scratch dirs recursively, never the base") {
    val a = Paths.get(Scratch.dir("graft-spec-a"))
    val b = Paths.get(Scratch.dir("graft-spec-b"))
    val kept = Paths.get(Scratch.dir("graft-spec-kept"))
    Files.createDirectories(a.resolve("x/y"))
    Files.writeString(a.resolve("x/y/f"), "z")
    Files.writeString(b.resolve("g"), "z")
    Scratch.deleteCreated(Set(a, b))
    assert(!Files.exists(a) && !Files.exists(b))
    assert(Files.isDirectory(kept), "a dir the cleanup did not select is left")
    assert(Scratch.base.isDirectory)
    // a second call finds nothing left to delete
    Scratch.deleteCreated(Set(a, b))
    Scratch.deleteCreated(Set(kept))
    assert(!Files.exists(kept))
  }
}
