package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions

/** The SparkSessionExtensions seam: SQL-text access to custom
  * expressions.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dot =
    """SELECT float_dot_product(
      |  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
      |  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin

  // Declared first: it must see the session before any registerOn call.
  test("float_dot_product resolves on the test session without registerOn") {
    assert(spark.sql(dot).collect()(0).getDouble(0) == 11.0)
  }

  test("registerOn is a no-op when the function is already registered") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    // a child session, so the shared registry is never touched; a
    // sentinel that answers 7.0 shows whether registerOn replaced it
    val s = spark.newSession()
    Bridge.registerFunction(s, FunctionIdentifier("float_dot_product"),
      new ExpressionInfo("sentinel", "float_dot_product"),
      _ => Literal(7.0))
    GraftExtensions.registerOn(s)
    GraftExtensions.registerOn(s)
    assert(s.sql(dot).collect()(0).getDouble(0) == 7.0)
  }

  test("float_dot_product callable from SQL after registration") {
    GraftExtensions.registerOn(spark)
    assert(spark.sql(dot).collect()(0).getDouble(0) == 11.0)
  }

  test("extensions object injects without error at construction") {
    // smoke: applying the extensions hook to a fresh container must not
    // throw (full wiring needs a new session, which local tests share)
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("graftbridge reaches Spark's private Column<->Expression seam") {
    // Bridge (org.apache.spark.sql.graftbridge) depends on the
    // `private[sql]` classic.ExpressionUtils — a deliberate, version-pinned
    // dependency on Spark 4.1 internals. If a Spark upgrade moves or
    // removes it, this test fails loudly at build time instead of the
    // library failing at runtime; the round-trip also pins the semantics.
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.graftbridge.Bridge
    // Column -> Expression -> Column round trip must yield an executable
    // column (the expression side is a lazily-resolved wrapper node, so
    // execution — not a type check — is what pins the seam).
    val expr = Bridge.expression(lit(42))
    val col = Bridge.column(expr)
    val out = spark.range(1).select(col.as("v")).collect()(0).getInt(0)
    assert(out == 42)
  }
}
