package graft.ops

import graft.SparkSpec

/** Pins the [[Staging]] mutation contract: `once` memoizes a shared
  * artifact, so it is safe only for read-only or idempotently-mutating
  * consumers — a mutation through it is seen by every later caller. */
class StagingSpec extends SparkSpec {

  private def mkInput(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_staging_in").toFile
    d.deleteOnExit()
    d
  }

  private def write(f: java.io.File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8")): Unit
  }

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("once memoizes: build runs exactly once, same path returned") {
    val in = mkInput()
    var builds = 0
    def call() = Staging.once("/tmp/graft_staging_spec", in.getPath, "memo") { p =>
      builds += 1
      write(new java.io.File(p, "state.txt"), "pristine")
    }
    val a = call()
    val b = call()
    assert(a === b)
    assert(builds === 1)
    assert(read(new java.io.File(a, "state.txt")) === "pristine")
  }

  test("once vs onceCopied: a mutation through `once` IS shared (why the contract exists)") {
    val in = mkInput()
    val shared = Staging.once("/tmp/graft_staging_spec", in.getPath, "shared") { p =>
      write(new java.io.File(p, "state.txt"), "pristine")
    }
    write(new java.io.File(shared, "state.txt"), "mutated")
    val again = Staging.once("/tmp/graft_staging_spec", in.getPath, "shared")(_ => fail("rebuilt"))
    assert(read(new java.io.File(again, "state.txt")) === "mutated",
      "`once` consumers share one artifact")
  }
}
