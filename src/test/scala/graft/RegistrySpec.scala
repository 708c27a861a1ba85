package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry._

/** Invariants of the query registry (`SparkEntry.registry`), the one
  * table that `queries`, `oracleSql` and Bench's rosters are views of.
  * Needs no Spark session: it reads the rows, it runs no query. */
class RegistrySpec extends AnyFunSuite {

  test("registry names are unique, so the derived maps drop no row") {
    val dups = registry.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate registry names: $dups")
    assert(queries.size == registry.size)
  }

  test("every row has either non-empty oracle SQL or a non-empty no-oracle reason") {
    registry.foreach { r =>
      r.check match {
        case Oracle(sql) => assert(sql.trim.nonEmpty, s"${r.name}: empty oracle SQL")
        case NoOracle(why) => assert(why.trim.nonEmpty, s"${r.name}: empty no-oracle reason")
      }
    }
  }

  test("registry counts are pinned: rows, oracled, bench roles") {
    assert(registry.size == 228)
    assert(oracleSql.size == 177)
    assert(registry.count(_.check.isInstanceOf[NoOracle]) == 51)
    assert(registry.count(_.role == Headline) == 58)
    assert(registry.count(_.role == Probe) == 50)
    assert(registry.count(_.warehoused) == 54)
  }

  test("warehoused rows are all timed: headline or probe") {
    val stray = registry.filter(r => r.warehoused && r.role == Untimed).map(_.name)
    assert(stray.isEmpty, s"warehoused but never timed: $stray")
  }
}
