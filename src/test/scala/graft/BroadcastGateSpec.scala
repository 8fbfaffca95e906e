package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Catalog.vertexBroadcast

/** The two-tier vertex-table broadcast gate behind `bcastIfSmall`. */
class BroadcastGateSpec extends AnyFunSuite {

  private val limit = 8L << 30
  private def noCount: Long = fail("row count evaluated")

  test("unset row limit: a small fixture broadcasts without counting rows") {
    assert(vertexBroadcast(None, inputBytes = 1L << 20, limit, rows = noCount))
  }

  test("SPARK_GRAFT_BCAST_MAX_ROWS=0 disables the broadcast on a small fixture") {
    assert(!vertexBroadcast(Some(0L), inputBytes = 1L << 20, limit, rows = 42L))
  }
}
