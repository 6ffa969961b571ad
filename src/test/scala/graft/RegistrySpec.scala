package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry bookkeeping invariant the oracle gate depends on:
  * `queries` and `oracleSql` name exactly the same entries (a missing
  * oracle silently downgrades the check to rows-only; an orphan
  * oracle names an entry that no longer exists). */
class RegistrySpec extends AnyFunSuite {

  test("every query entry has an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"entries without oracleSql: $missing")
  }

  test("every oracle names a registered entry") {
    val orphan = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphan.isEmpty, s"oracles without a queries entry: $orphan")
  }
}
