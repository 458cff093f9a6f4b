package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Deterministic replacement for the reference's Faker usage (SURVEY.md §2.3
  * V16): names, emails, sentences, times, lorem filler. Every draw is keyed on
  * `(docId, slot)` through [[DetHash]] — stable across partitions/retries, no
  * task-local RNG state (Faker seeding at `modules/content_generator.py:259-262`
  * is global-stream and unreproducible in parallel).
  *
  * Wordlists are small embedded arrays; Column draws use `element_at` over
  * array literals so everything stays inside whole-stage codegen.
  */
object TextGen {

  val FirstNames: IndexedSeq[String] = IndexedSeq(
    "James", "Mary", "Robert", "Patricia", "John", "Jennifer", "Michael",
    "Linda", "David", "Elizabeth", "William", "Barbara", "Richard", "Susan",
    "Joseph", "Jessica", "Thomas", "Karen", "Charles", "Sarah", "Daniel",
    "Lisa", "Matthew", "Nancy", "Anthony", "Betty", "Mark", "Sandra",
    "Steven", "Ashley", "Paul", "Kimberly", "Andrew", "Emily", "Joshua",
    "Donna", "Kenneth", "Michelle", "Kevin", "Carol")

  val LastNames: IndexedSeq[String] = IndexedSeq(
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller",
    "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez",
    "Wilson", "Anderson", "Thomas", "Taylor", "Moore", "Jackson", "Martin",
    "Lee", "Perez", "Thompson", "White", "Harris", "Sanchez", "Clark",
    "Ramirez", "Lewis", "Robinson", "Walker", "Young", "Allen", "King")

  val Domains: IndexedSeq[String] = IndexedSeq(
    "example.com", "example.org", "example.net", "mail.test", "corp.test",
    "acme.test", "globex.test", "initech.test")

  /** Lorem vocabulary (generic filler words, same role as Faker's lorem). */
  val Lorem: IndexedSeq[String] = IndexedSeq(
    "lorem", "ipsum", "dolor", "sit", "amet", "consectetur", "adipiscing",
    "elit", "sed", "do", "eiusmod", "tempor", "incididunt", "ut", "labore",
    "et", "dolore", "magna", "aliqua", "enim", "ad", "minim", "veniam",
    "quis", "nostrud", "exercitation", "ullamco", "laboris", "nisi",
    "aliquip", "ex", "ea", "commodo", "consequat", "duis", "aute", "irure",
    "in", "reprehenderit", "voluptate", "velit", "esse", "cillum", "fugiat",
    "nulla", "pariatur", "excepteur", "sint", "occaecat", "cupidatat",
    "non", "proident", "sunt", "culpa", "qui", "officia", "deserunt",
    "mollit", "anim", "id", "est", "laborum")

  // ---- pure draws ----
  def firstName(key: Long, slot: Long): String =
    FirstNames(DetHash.nextInt(key, slot, FirstNames.size))
  def lastName(key: Long, slot: Long): String =
    LastNames(DetHash.nextInt(key, slot, LastNames.size))
  def fullName(key: Long, slot: Long): String =
    firstName(key, slot) + " " + lastName(key, slot + 1000)
  def email(key: Long, slot: Long): String = {
    val f = firstName(key, slot).toLowerCase(java.util.Locale.ROOT)
    val l = lastName(key, slot + 1000).toLowerCase(java.util.Locale.ROOT)
    val d = Domains(DetHash.nextInt(key, slot + 2000, Domains.size))
    s"$f.$l@$d"
  }
  def hhmm(key: Long, slot: Long): String =
    f"${DetHash.nextInt(key, slot, 24)}%02d:${DetHash.nextInt(key, slot + 1, 60)}%02d"
  def loremWord(key: Long, slot: Long): String =
    Lorem(DetHash.nextInt(key, slot, Lorem.size))
  /** A ~nWords sentence of lorem, capitalized, period-terminated. */
  def sentence(key: Long, slot: Long, nWords: Int): String = {
    val ws = (0 until nWords).map(i => loremWord(key, slot + i))
    ws.head.capitalize + (if (ws.tail.nonEmpty) " " + ws.tail.mkString(" ") else "") + "."
  }

  // ---- Column mirrors ----

  /** `xs` as one `array<string>` literal with non-null elements: the type
    * of `array(xs.map(lit): _*)`, which the optimizer folds to this same
    * literal, but one Column instead of one per element, each of which
    * records its origin and is analyzed again in every frame built on it. */
  def constArray(xs: Seq[String]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      Literal.create(xs, ArrayType(StringType, containsNull = false)))

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

  /** `n`-word lorem filler in one expression (closed-form replacement for the
    * reference's grow-until-target loop, `modules/content_generator.py:236-242`;
    * SURVEY.md §2.4 T6). `n` may be a computed Column; n<=0 → empty string. */
  def loremWordsCol(key: Column, n: Column, slotBase: Column): Column =
    when(n <= 0, lit("")).otherwise(
      array_join(
        transform(sequence(lit(1L), greatest(n.cast("long"), lit(1L))),
          i => loremWordCol(key, slotBase + i)),
        " "))

  /** [[loremWordsCol]] via the NATIVE codegen expression
    * ([[LoremWordsExpr]]): one compiled loop renders every word, no
    * per-word interpreted lambda and no materialized sequence array.
    * Bit-identical to the HOF form (KernelPropertySpec pins it); the
    * scale-run render path uses this one. */
  def loremWordsNativeCol(key: Column, n: Column, slotBase: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(LoremWordsExpr(
      expression(key.cast("long")),
      expression(n.cast("long")),
      expression(slotBase.cast("long"))))
  }

  /** Line-structured variant: same word stream, but ~every 12th separator
    * is a newline (deterministic draw). `replace('\n', ' ')` recovers
    * [[loremWordsNativeCol]] exactly. Organic corpora have line structure;
    * one multi-KB line is the worst case for per-boundary regex scans
    * (see [[LoremWordsKernel.render]]). */
  def loremProseNativeCol(key: Column, n: Column, slotBase: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(LoremWordsExpr(
      expression(key.cast("long")),
      expression(n.cast("long")),
      expression(slotBase.cast("long")), prose = true))
  }

  /** Precomputed deterministic lorem cycle — sized for the max word target
    * (4000, `config.json:8`) plus the rotation window. */
  private val MaxFill = 4000
  private val Rotations = 61
  val LoremCycle: IndexedSeq[String] =
    (0 until (MaxFill + Rotations)).map(i => Lorem((i * 7 + i / Lorem.size) % Lorem.size))

  /** Fast filler: `n` lorem words starting at a per-key rotation offset.
    * Semantically the same role as [[loremWordsCol]] but evaluated as
    * `slice` + `array_join` over a plan-constant array — stays inside
    * whole-stage codegen instead of running one interpreted lambda per word
    * (which dominated render time: ~40 ms/doc at a 4000-word target). */
  def loremFillCol(key: Column, slot: Column, n: Column): Column = {
    val cycle = constArray(LoremCycle)
    val off = DetHash.nextIntCol(key, slot, Rotations)
    when(n <= 0, lit(""))
      .otherwise(array_join(
        slice(cycle, off + 1, greatest(n.cast("int"), lit(1))), " "))
  }
}
