package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-surface smoke gate: EVERY declared query must plan and execute
  * against the current testdata without throwing.
  *
  * Round 9's lesson: the driver regenerated `events.parquet` under a new
  * physical `ts` encoding and 28 queries silently lost their green rows —
  * only the specs that happened to share code with an events consumer
  * noticed in-repo; queries with no events-adjacent spec (j2, d2) had zero
  * signal. This spec is the day-one alarm for any future environment
  * drift: it runs the ENTIRE `SparkEntry.queries` surface at sf0.001 (the
  * cheapest scale factor) and reports every failing query by name in one
  * assertion, so a schema change in any table fails loudly with the full
  * blast radius in the message, not one suite at a time.
  *
  * Row counts are deliberately NOT asserted here: some queries are
  * legitimately empty at gated scale factors (q22's above-average
  * no-order customers). Correctness belongs to the DuckDB oracle gate;
  * this spec owns "still executes at all".
  */
class SmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("every declared query executes against the current testdata") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, sf).collect(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries failed to execute:\n${failures.mkString("\n")}")
  }

  test("every query has oracle SQL — the rows-only set is EMPTY") {
    // an entry in `queries` without oracle SQL downgrades the driver's
    // gate to rows-only. QueryDef makes the oracle a required field, so
    // this holds by construction; the assertion is the tripwire should
    // the two views ever be split again.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == Set.empty[String],
      s"undeclared rows-only queries: ${rowsOnly.toSeq.sorted.mkString(", ")}")
    // and no orphaned oracle SQL for queries that no longer exist
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracle SQL without queries: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("every registry name is distinct, and a repeated name fails by name") {
    // a name defined twice would silently drop one definition from the
    // keyed views; `index` must refuse it and name the culprit.
    val names = SparkEntry.registry.map(_.name)
    val repeated = names.diff(names.distinct)
    assert(repeated.isEmpty, s"repeated names: ${repeated.mkString(", ")}")
    val d = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.index(Seq(d, d.copy(oracleSql = "SELECT 1"))))
    assert(e.getMessage.contains(d.name), e.getMessage)
  }
}
