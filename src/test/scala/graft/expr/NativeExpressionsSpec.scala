package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native codegen expressions, served as Columns. */
class NativeExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("is_placeholder: null-safe, agrees with the composed Column form") {
    val df = Seq(Some("XXX-XX-XXXX"), Some("841-269-960"), None).toDF("v")
      .select(Placeholder.isPlaceholderFast(col("v")).as("ph"))
    val rows = df.collect()
    assert(rows(0).getBoolean(0) && !rows(1).getBoolean(0))
    assert(rows(2).isNullAt(0)) // null-safe
    // agreement with the composed Column form of P5 on generated values
    val vals = (1L to 200L).map(k =>
      graft.pipeline.SitValues.value("SIT_CCN", "Credit Card Number",
        if (k % 2 == 0) "TP" else "FP", k, 0)).toDF("v")
    val disagree = vals
      .withColumn("native", Placeholder.isPlaceholderFast(col("v")))
      .withColumn("composed", Placeholder.isPlaceholderCol(col("v")))
      .filter(col("native") =!= col("composed")).count()
    assert(disagree == 0)
  }

  test("native expressions survive executor task serialization") {
    // unit tests mostly evaluate LocalRelations DRIVER-side — a parquet
    // scan forces the plan (expressions included) through Java
    // serialization into real tasks, which catches non-serializable
    // expression superclasses ("no valid constructor")
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .repartition(4)
    val n = orders.select(
        Placeholder.isPlaceholderFast(col("o_orderstatus")).as("p"),
        graft.ops.Similarity.cosineCol(
          array(lit(1.0), lit(0.0)), array(lit(1.0), lit(0.0))).as("c"))
      .filter(col("c") > 0.5 || col("p"))
      .count()
    assert(n > 0)
  }

  test("cosine_sim native expression: bit-identical to the UDF twin, codegen'd") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (1L to 300L).map { i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
    val both = vecs.select(
      graft.ops.Similarity.cosineCol(col("a"), col("b")).as("native"),
      graft.ops.Similarity.cosineUdfCol(col("a"), col("b")).as("udf"))
    assert(both.collect().forall(r => r.getDouble(0) == r.getDouble(1)),
      "native and UDF cosine diverge")
    // double arrays and ragged lengths too
    val ragged = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
    val rr = ragged.select(
      graft.ops.Similarity.cosineCol(col("a"), col("b")).as("n"),
      graft.ops.Similarity.cosineUdfCol(col("a"), col("b")).as("u")).collect()(0)
    assert(rr.getDouble(0) == rr.getDouble(1))
    // stays inside codegen: no ScalaUDF node in the plan
    val plan = vecs.select(
      graft.ops.Similarity.cosineCol(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"native form fell back to UDF:\n$plan")
    // null input → null, like any binary expression
    val withNull = Seq((Some(Array(1.0f, 2.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    assert(withNull.select(
      graft.ops.Similarity.cosineCol(col("a"), col("b"))).collect()(0).isNullAt(0))
  }
}
