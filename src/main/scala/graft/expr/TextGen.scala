package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Deterministic replacement for the reference's Faker usage (SURVEY.md §2.3
  * V16): names, emails, lorem words, times, filler. Every draw is keyed on
  * `(docId, slot)` through [[DetHash]] — stable across partitions/retries, no
  * task-local RNG state (Faker seeding at `modules/content_generator.py:259-262`
  * is global-stream and unreproducible in parallel).
  *
  * Wordlists are small embedded arrays; the DLP render draws from them in
  * its native kernel ([[graft.pipeline.RenderKernel]]).
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
  /** `HH:MM`, hour and minute each zero-padded to two digits. */
  def hhmm(key: Long, slot: Long): String = {
    val (h, m) = (DetHash.nextInt(key, slot, 24), DetHash.nextInt(key, slot + 1, 60))
    new String(Array((h / 10 + '0').toChar, (h % 10 + '0').toChar, ':',
      (m / 10 + '0').toChar, (m % 10 + '0').toChar))
  }
  def loremWord(key: Long, slot: Long): String =
    Lorem(DetHash.nextInt(key, slot, Lorem.size))

  /** `xs` as one `array<string>` literal with non-null elements: the type
    * of `array(xs.map(lit): _*)`, which the optimizer folds to this same
    * literal, but one Column instead of one per element, each of which
    * records its origin and is analyzed again in every frame built on it. */
  def constArray(xs: Seq[String]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      Literal.create(xs, ArrayType(StringType, containsNull = false)))

  /** The default filler is `n` words of [[LoremCycle]] from a per-doc
    * rotation offset in [0, LoremRotations)
    * ([[graft.pipeline.RenderKernel.text]]): maximally boilerplate-heavy,
    * as the reference's filler is. */
  val LoremRotations = 61

  /** Precomputed deterministic lorem cycle — sized for the max word target
    * (4000, `config.json:8`) plus the rotation window. */
  val LoremCycle: IndexedSeq[String] =
    (0 until (4000 + LoremRotations)).map(i => Lorem((i * 7 + i / Lorem.size) % Lorem.size))
}
