package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

class QueryRegistrySpec extends AnyFunSuite {

  test("registry names are unique") {
    val names = QueryDef.registry.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("the derived views carry the same 107 keys") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 107)
  }

  test("every oracle string is non-empty") {
    val empty = QueryDef.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(empty.isEmpty)
  }
}
