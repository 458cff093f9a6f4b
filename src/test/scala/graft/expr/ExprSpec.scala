package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DetHash parity, RegexMatches semantics, TextGen determinism. */
class ExprSpec extends SparkSpec {

  test("DetHash: Scala and Column draws are bit-identical") {
    import spark.implicits._
    val df = (1L to 500L).toDF("key")
      .withColumn("c10", DetHash.nextIntCol(col("key"), lit(3L), 10))
      .withColumn("c100", DetHash.pctCol(col("key"), lit(7L)))
      .withColumn("u", DetHash.uniformIntCol(col("key"), lit(9L), 500, 1500))
    df.collect().foreach { r =>
      val k = r.getLong(0)
      assert(r.getInt(1) == DetHash.nextInt(k, 3, 10))
      assert(r.getInt(2) == DetHash.pct(k, 7))
      assert(r.getInt(3) == DetHash.uniformInt(k, 9, 500, 1500))
    }
  }

  test("DetHash draws are roughly uniform") {
    val counts = (1L to 10000L).map(k => DetHash.nextInt(k, 1, 10))
      .groupBy(identity).view.mapValues(_.size)
    counts.values.foreach(c => assert(c > 800 && c < 1200, counts.toMap))
  }

  test("RegexMatches: values, positions, excerpts") {
    val text = "start 123-45-6789 middle 987-65-4321 end"
    val ms = RegexMatches.findMatches(text, "\\d{3}-\\d{2}-\\d{4}")
    assert(ms.map(_.value) == Seq("123-45-6789", "987-65-4321"))
    assert(ms.head.start == 6)
    assert(ms.head.excerpt == text.substring(0, 6 + 11 + 30 min text.length))
    // excerpt window: start-30 .. end+30, newlines flattened
    val m2 = RegexMatches.findMatches("a\nb 42 c\nd", "\\d+").head
    assert(!m2.excerpt.contains("\n"))
    assert(m2.excerpt.contains("42"))
  }

  test("RegexMatches: flags match reference (MULTILINE|IGNORECASE)") {
    val ms = RegexMatches.findMatches("Ssn: abc\nssn: def", "^ssn: (\\w+)$")
    assert(ms.size == 2) // (?m) anchors per line, (?i) case-fold
    assert(RegexMatches.findMatches(null, "x").isEmpty)
    assert(RegexMatches.findMatches("x", "").isEmpty)
  }

  test("RegexMatches native column returns struct array") {
    import spark.implicits._
    val df = Seq(("a1b2", "\\d")).toDF("t", "p")
      .select(RegexMatchesExpr.regexMatchesNative(col("t"), col("p")).as("m"))
    val row = df.collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(row.map(_.getString(0)) == Seq("1", "2"))
    assert(row.map(_.getInt(1)) == Seq(1, 3))
  }

  test("TextGen: deterministic and partition-independent") {
    import spark.implicits._
    val df = (1L to 100L).toDF("id").repartition(7)
      .select(col("id"),
        TextGenColumns.emailCol(col("id"), lit(9001L)).as("email"),
        TextGenColumns.fullNameCol(col("id"), lit(5L)).as("name"),
        TextGenColumns.hhmmCol(col("id"), lit(6L)).as("hhmm"))
    df.collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == TextGen.email(id, 9001L))
      assert(r.getString(2) == TextGen.fullName(id, 5L))
      assert(r.getString(3) == TextGen.hhmm(id, 6L))
      assert(r.getString(3).matches("\\d{2}:\\d{2}"))
    }
  }

  test("TextGen: lorem filler emits exactly n words") {
    import spark.implicits._
    val df = Seq((1L, 17), (2L, 1), (3L, 0)).toDF("id", "n")
      .select(col("n"),
        TextGenColumns.loremWordsCol(col("id"), col("n"), lit(100L)).as("w"))
    df.collect().foreach { r =>
      val n = r.getInt(0)
      val words = r.getString(1).split(" ").filter(_.nonEmpty)
      assert(words.length == n, s"n=$n got ${words.length}")
    }
  }
}
