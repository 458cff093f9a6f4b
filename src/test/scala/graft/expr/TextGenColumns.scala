package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-DSL mirrors of [[TextGen]]'s draws, the form the DLP render used
  * before its native kernel: the specs' identity reference for the Scala
  * draws and for [[LoremWordsKernel]]. */
object TextGenColumns {
  import TextGen._

  private def pick(arr: IndexedSeq[String], key: Column, slot: Column): Column =
    element_at(constArray(arr), DetHash.nextIntCol(key, slot, arr.size) + 1)

  def firstNameCol(key: Column, slot: Column): Column = pick(FirstNames, key, slot)
  def lastNameCol(key: Column, slot: Column): Column = pick(LastNames, key, slot)
  def fullNameCol(key: Column, slot: Column): Column =
    concat(firstNameCol(key, slot), lit(" "), lastNameCol(key, slot + lit(1000L)))
  def emailCol(key: Column, slot: Column): Column =
    concat(lower(firstNameCol(key, slot)), lit("."),
      lower(lastNameCol(key, slot + lit(1000L))), lit("@"),
      pick(Domains, key, slot + lit(2000L)))
  def hhmmCol(key: Column, slot: Column): Column =
    concat(lpad(DetHash.nextIntCol(key, slot, 24).cast("string"), 2, "0"), lit(":"),
      lpad(DetHash.nextIntCol(key, slot + lit(1L), 60).cast("string"), 2, "0"))
  def loremWordCol(key: Column, slot: Column): Column = pick(Lorem, key, slot)

  /** `n` lorem words, word i the `(key, slotBase + i)` draw; n ≤ 0 → "". */
  def loremWordsCol(key: Column, n: Column, slotBase: Column): Column =
    when(n <= 0, lit("")).otherwise(
      array_join(
        transform(sequence(lit(1L), greatest(n.cast("long"), lit(1L))),
          i => loremWordCol(key, slotBase + i)),
        " "))

  /** [[LoremWordsKernel.append]]'s words as a string. */
  def loremWords(key: Long, n: Long, slotBase: Long, prose: Boolean = false): String = {
    val sb = new java.lang.StringBuilder
    LoremWordsKernel.append(sb, key, n, slotBase, prose)
    sb.toString
  }

  /** `n` words of [[TextGen.LoremCycle]] from a per-key rotation offset. */
  def loremFillCol(key: Column, slot: Column, n: Column): Column = {
    val cycle = constArray(LoremCycle)
    val off = DetHash.nextIntCol(key, slot, LoremRotations)
    when(n <= 0, lit(""))
      .otherwise(array_join(
        slice(cycle, off + 1, greatest(n.cast("int"), lit(1))), " "))
  }
}
