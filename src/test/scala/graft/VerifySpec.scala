package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** `graft.Verify` rejects unknown query names before it starts a
  * session, so a typo cannot pass as an empty, clean oracle dump (and
  * the closing `spark.stop()` never touches a shared session). */
class VerifySpec extends AnyFunSuite {

  test("an unknown query name throws and writes no oracle_sql.json") {
    val out = Files.createTempDirectory(Paths.get("target"), "verify")
    assertThrows[IllegalArgumentException] {
      Verify.main(Array("/root/testdata/sf0.001", out.toString, "q1_nope"))
    }
    assert(!Files.exists(out.resolve("oracle_sql.json")))
  }
}
