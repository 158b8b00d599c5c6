package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  test("SPARK_GRAFT_MAX_PARTITION_BYTES: unset is 16 MB, a positive count passes, anything else names the variable") {
    assert(GraftSession.maxPartitionBytes(None) == 16L * 1024 * 1024)
    assert(GraftSession.maxPartitionBytes(Some("2097152")) == 2097152L)
    assert(GraftSession.maxPartitionBytes(Some(" 4194304 ")) == 4194304L)
    for (bad <- Seq("", "16m", "-1", "0", "1.5", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException](GraftSession.maxPartitionBytes(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_MAX_PARTITION_BYTES"), e.getMessage)
    }
  }
}
