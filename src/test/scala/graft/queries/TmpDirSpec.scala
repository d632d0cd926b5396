package graft.queries

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class TmpDirSpec extends AnyFunSuite {
  test("query scratch dir is one directory per process") {
    val a = tmpDir()
    assert(tmpDir() == a)
    assert(Files.isDirectory(Paths.get(a)))
    assert(Paths.get(a).getFileName.toString == s"pid-${ProcessHandle.current().pid()}")
    assert(Paths.get(a).getParent.getFileName.toString == "graft-qtmp")
  }
}
