package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class TempDirsSpec extends AnyFunSuite {

  test("a configured scratch dir that does not exist is created") {
    val base = Files.createTempDirectory("graft-scratch-spec")
    val dir = base.resolve("a").resolve("b")
    assert(!Files.exists(dir))
    assert(TempDirs.scratchRootFor(Some(dir.toString)) == dir)
    assert(Files.isDirectory(dir))
    graft.core.Fs.deleteRecursively(base)
  }

  test("a configured scratch dir that cannot be created fails with its path") {
    val file = Files.createTempFile("graft-scratch-spec", ".txt")
    val dir = file.resolve("scratch").toString // under a regular file
    val e = intercept[IllegalStateException](TempDirs.scratchRootFor(Some(dir)))
    assert(e.getMessage.contains(dir))
    Files.delete(file)
  }
}
