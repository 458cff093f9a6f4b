package graft.ops

import graft.SparkSpec
import graft.pipeline.DefaultSits
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Curation: redaction inverse-property, split determinism, quality gate. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("redactSits removes every detectable SIT value (inverse property)") {
    val dim = DefaultSits.all
    val text = "card 5133 2181 9600 1338 and iban GB82WEST12345698765432 " +
      "ssn 472-51-2711 ip 192.168.43.17 end"
    val out = Curation.redactSits(Seq((1L, text)).toDF("doc_id", "t"), "t", dim)
      .select("redacted_text", "n_redactions").collect()(0)
    val redacted = out.getString(0)
    dim.filter(_.regex.nonEmpty).foreach { s =>
      val p = java.util.regex.Pattern.compile(s.regex,
        java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.MULTILINE)
      // no SIT pattern may still match outside the inserted [SIT_*] tokens
      val m = p.matcher(redacted.replaceAll("\\[SIT_[A-Z_0-9]+\\]", ""))
      assert(!m.find() || s.regex.contains("(?=.*\\d)"),
        s"${s.id} still matches: $redacted")
    }
    assert(out.getLong(1) >= 4)
  }

  test("splitCol: deterministic, complete, proportions roughly honored") {
    val df = (1L to 20000L).toDF("id")
      .withColumn("split", Curation.splitCol(col("id")))
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 20000L)
    assert(counts("train") > 15000 && counts("train") < 17000)
    assert(counts("val") > 1500 && counts("val") < 2500)
    // stable across partitionings
    val again = (1L to 20000L).toDF("id").repartition(7)
      .withColumn("split", Curation.splitCol(col("id")))
    assert(again.exceptAll(df).count() == 0)
  }

  test("decontamination flags docs overlapping the benchmark, spares clean ones") {
    val corpus = Seq(
      (1L, "the capital of france is paris and it is on the seine river"),
      (2L, "completely unrelated text about spark physical plans and shuffles"))
      .toDF("doc_id", "text")
    val benchmark = Seq(
      (100L, "question: the capital of france is paris answer: true"))
      .toDF("doc_id", "text")
    val flags = Curation.decontaminationFlags(corpus, benchmark,
      "doc_id", "text", n = 3, minHits = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(flags.contains(1L) && !flags.contains(2L))
    assert(flags(1L)._1 >= 2 && flags(1L)._2 == 1)
    val clean = Curation.decontaminate(corpus, benchmark, "doc_id", "text",
      n = 3, minHits = 2).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L))
  }

  test("dup clusters: transitive chains collapse to the min id") {
    import spark.implicits._
    // a≈b, b≈c chain (a and c never pair directly) + an island pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dup clusters: identical labels with the broadcast hint withheld " +
    "(the past-the-gate path)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (4L, 1L))
      .toDF("id_a", "id_b")
    // gate 6: the 8 symmetrized edges run the distributed rounds, the 6
    // nodes keep the broadcast hint
    val hinted = Dedup.dupClusters(pairs, smallGraphMaxRows = 6L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unhinted = Dedup.dupClusters(pairs, smallGraphMaxRows = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hinted === unhinted)
    assert(hinted === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dup clusters: a 100-node chain converges within the round budget") {
    import spark.implicits._
    // worst case for plain propagation (needs diameter=99 rounds);
    // pointer jumping must close it in O(log n)
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(chain, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 100)
    assert(clusters.values.forall(_ == 1L), s"unconverged: ${clusters.filter(_._2 != 1L)}")
  }

  test("dup clusters: exhausting maxIter without the fixpoint fails loudly") {
    // partially-propagated labels would silently dedup the WRONG docs
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // both regimes: driver-local (default gate) and distributed (gate 0)
    Seq(2000000L, 0L).foreach { gate =>
      val e = intercept[IllegalArgumentException] {
        Dedup.dupClusters(chain, maxIter = 1, smallGraphMaxRows = gate).count()
      }
      assert(e.getMessage.contains("fixpoint"), s"gate $gate")
    }
  }

  test("dup clusters: the driver-local regime equals the distributed " +
    "regime; null ids stay distributed") {
    def isLocal(df: DataFrame) =
      df.queryExecution.logical.isInstanceOf[LocalRelation]
    // in the order returned: both regimes return the rows in id order
    def rows(df: DataFrame) =
      df.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    val rnd = new scala.util.Random(39)
    val inputs = Seq[(String, Seq[(java.lang.Long, java.lang.Long)])](
      "chain" -> (1L until 40L).map(i => (Long.box(i), Long.box(i + 1))),
      "islands" -> Seq((1L, 2L), (10L, 11L), (12L, 11L), (20L, 20L))
        .map { case (a, b) => (Long.box(a), Long.box(b)) },
      // duplicate and reversed pairs, self-pairs
      "random pairs" -> (Seq.fill(200)(
          (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong)) ++
        Seq((3L, 4L), (3L, 4L), (4L, 3L), (7L, 7L)))
        .map { case (a, b) => (Long.box(a), Long.box(b)) },
      "empty" -> Seq.empty,
      "null id" -> Seq((1L, 2L), (2L, null), (null, 3L)))
    inputs.foreach { case (name, ps) =>
      val pairs = ps.toDF("id_a", "id_b")
      val default = Dedup.dupClusters(pairs)
      assert(isLocal(default) === (name != "null id"), name)
      assert(rows(default) ===
        rows(Dedup.dupClusters(pairs, smallGraphMaxRows = 0L)), name)
    }
  }

  test("qualityFilter drops low-score docs and listed near-dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and more and more"),
      (2L, ";;; !!! ,,,"),
      (3L, "the quick brown fox jumps over the lazy dog and more and more"))
      .toDF("doc_id", "text")
    val drops = Seq(3L).toDF("id")
    val kept = Curation.qualityFilter(docs, "text", 0.4, drops)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("boilerplateProfile: hand-counted frequent-shingle shares") {
    // "a b c" appears in docs 1-3 (df=3 ≥ minDf); every other shingle is rare
    val docs = Seq(
      (1L, "a b c x1 y1"), // shingles: {a b c, b c x1, c x1 y1} → 1/3 boiler
      (2L, "a b c x2"),    // {a b c, b c x2}                    → 1/2
      (3L, "a b c"),       // {a b c}                            → 1/1
      (4L, "p q"))         // short fallback {p q}               → 0/1
      .toDF("doc_id", "text")
    val out = Curation.boilerplateProfile(docs, "doc_id", "text", n = 3, minDf = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((3L, 1L, 333L)))
    assert(out(2L) == ((2L, 1L, 500L)))
    assert(out(3L) == ((1L, 1L, 1000L)))
    assert(out(4L) == ((1L, 0L, 0L)))
  }

  test("normalizeText: accents stripped, case folded, runs collapsed") {
    assert(Curation.normalizeText("Café Ångström Ñoño ÜBER") ==
      "cafe angstrom nono uber")
    // the ﬁ ligature is NOT decomposed by NFC/NFD (that's NFKC) — it must
    // fall to the non-alphanumeric collapse, exactly as DuckDB's
    // strip_accents leaves it for the regex
    assert(Curation.normalizeText("Ärgernis—ﬁn") == "argernis n")
    assert(Curation.normalizeText("  Tabs\tand\nlines  ") == "tabs and lines")
    assert(Curation.normalizeText("") == "")
    assert(Curation.normalizeText(null) == null)
    // Column form serves the same kernel
    val got = Seq("Café—ﬁn").toDF("t")
      .select(Curation.normalizeTextCol(col("t"))).collect()(0).getString(0)
    assert(got == "cafe n")
  }

  test("normalize_text native expression matches TextNorm.normalize on real tasks") {
    // parquet-backed (multi-task serialization path — LocalRelation-only
    // tests evaluate driver-side and would mask a non-serializable expr)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("t", concat(lit("Café Ångström — ﬁ "), col("text")))
    val rows = docs.select(col("t"), Curation.normalizeTextCol(col("t")).as("n"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(1) == graft.expr.TextNorm.normalize(r.getString(0)))
    }
  }

  test("sqrtQuotaMix: per-domain quota floor(scale*sqrt(n)), deterministic") {
    // domains: a→100 rows (quota floor(3*10)=30), b→9 (quota 9: floor(3*3)=9
    // keeps all), c→4 (quota 6 > n keeps all 4)
    val df = ((1L to 100L).map(i => (i, "a")) ++
      (101L to 109L).map(i => (i, "b")) ++
      (110L to 113L).map(i => (i, "c"))).toDF("id", "dom")
    val out = Curation.sqrtQuotaMix(df, "id", "dom", scale = 3.0)
    val counts = out.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 30L, "b" -> 9L, "c" -> 4L))
    // repartitioning must not change WHICH rows are kept (md5 order, not
    // arrival order)
    val again = Curation.sqrtQuotaMix(df.repartition(7), "id", "dom", 3.0)
    assert(out.select("id").exceptAll(again.select("id")).count() == 0)
  }

  test("stratified sample: deterministic, proportions honored") {
    import spark.implicits._
    val df = spark.range(100000)
      .withColumn("stratum", when(col("id") % 2 === 0, "keep_half")
        .otherwise("keep_tenth"))
    val sampled = graft.ops.Curation.stratifiedSample(df, "id", "stratum",
      Map("keep_half" -> 500, "keep_tenth" -> 100))
    val counts = sampled.groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("keep_half") - 25000L) < 1500,
      s"keep_half ${counts("keep_half")}")
    assert(math.abs(counts("keep_tenth") - 5000L) < 800,
      s"keep_tenth ${counts("keep_tenth")}")
    // exact determinism across partitionings
    val again = graft.ops.Curation.stratifiedSample(df.repartition(7),
      "id", "stratum", Map("keep_half" -> 500, "keep_tenth" -> 100))
    assert(again.exceptAll(sampled).count() == 0)
  }
}
