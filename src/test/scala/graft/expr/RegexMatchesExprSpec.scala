package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native regex_matches ≡ the `findMatches` kernel, inside codegen. */
class RegexMatchesExprSpec extends SparkSpec {
  import spark.implicits._

  test("native expression agrees with findMatches on corpus-like data") {
    val df = Seq(
      ("pay 5133 2181 9600 1338 now", "\\b\\d{4}( \\d{4}){3}\\b"),
      ("Ssn: 1\nssn: 2", "^ssn: (\\d+)$"),
      ("no hits here", "\\d{9}"),
      (null.asInstanceOf[String], "x"))
      .toDF("text", "pattern")
    val rows = df.select(col("text"), col("pattern"),
      RegexMatchesExpr.regexMatchesNative(col("text"), col("pattern")).as("m"))
      .collect()
    rows.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(2), "null text must give null")
      else {
        val want = RegexMatches.findMatches(r.getString(0), r.getString(1))
        val got = r.getSeq[org.apache.spark.sql.Row](2)
          .map(m => RegexMatch(m.getString(0), m.getInt(1), m.getString(2)))
        assert(got == want, s"on '${r.getString(0)}'")
      }
    }
    // position/excerpt semantics preserved end to end
    val one = df.limit(1).select(
      RegexMatchesExpr.regexMatchesNative(col("text"), col("pattern")).as("m"))
      .selectExpr("inline(m)").collect()
    assert(one(0).getString(0) == "5133 2181 9600 1338")
    assert(one(0).getInt(1) == 4)
  }

  test("stays inside whole-stage codegen") {
    val df = Seq(("a 123-45-6789 b", "\\d{3}-\\d{2}-\\d{4}")).toDF("t", "p")
      .select(size(RegexMatchesExpr.regexMatchesNative(col("t"), col("p"))).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    assert(df.collect()(0).getInt(0) == 1)
  }
}
