package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup / Similarity / TextAnalysis operator semantics on hand-made
  * inputs. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("bm25TopK: hand-computed scores, excluded non-matchers, tie order") {
    val corpus = Seq(
      (1L, "spark spark streams data"), // tf(spark)=2, tf(data)=1, len 4
      (2L, "data lake"),                // tf(data)=1, len 2
      (3L, "nothing relevant here"),    // no query terms → excluded
      (4L, "spark")                     // tf(spark)=1, len 1
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(corpus, "doc_id", "text",
      Seq("spark", "data"), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // independent replication of the formula (N=4, avgdl=10/4)
    def idf(df: Long) = math.log(1.0 + (4.0 - df + 0.5) / (df + 0.5))
    def part(tf: Long, dfc: Long, len: Long) =
      math.round(idf(dfc) * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * len / (10.0 / 4.0))) * 1e6)
    val exp1 = part(2, 2, 4) + part(1, 2, 4) // spark df=2, data df=2
    val exp2 = part(1, 2, 2)
    val exp4 = part(1, 2, 1)
    assert(out.map(_._1) == out.sortBy(r => (-r._3, r._1)).map(_._1),
      "ordered by score desc, id asc")
    assert(out.toSet == Set((1L, 2L, exp1), (2L, 1L, exp2), (4L, 1L, exp4)))
  }

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),     // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog"),     // near dup
    (3L, "completely different text about spark engines"),
    (4L, "the quick brown fox jumps over the lazy cat")      // near dup
  ).toDF("doc_id", "text")

  test("exact dedup groups by content hash") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .filter(col("n_docs") > 1).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n_docs") == 2 && g(0).getAs[Long]("keep_id") == 0)
    val drops = Dedup.exactDropIds(docs, "doc_id", "text").collect()
    assert(drops.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("shingles: n-grams with short-text fallback") {
    val sh = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "t")
      .select(col("id"), Dedup.shinglesCol(col("t"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq("a b"))
  }

  test("jaccard: identical=1, disjoint=0") {
    val j = Seq(("a b c", "a b c"), ("a b c", "x y z"))
      .toDF("t1", "t2")
      .select(Dedup.jaccardCol(
        Dedup.shinglesCol(col("t1"), 1), Dedup.shinglesCol(col("t2"), 1)).as("j"))
      .collect().map(_.getDouble(0))
    assert(j(0) == 1.0 && j(1) == 0.0)
  }

  test("minhash LSH finds exact and near dups, not the unrelated doc") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.3, n = 2, bands = 8, rows = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))          // exact dup always collides
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard pairs: exact all-pairs path agrees on the dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 2L)) || pairs.contains((0L, 4L)))
  }

  test("hashedShinglesCol is bit-identical to the exploded " +
    "xxhash64(array_distinct(shinglesCol)) chain on a real corpus") {
    val real = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    val fused = real.select(col("id"),
      explode(Dedup.hashedShinglesCol(col("text"), 3)).as("shingle"))
    val legacy = real.select(col("id"),
      explode(array_distinct(Dedup.shinglesCol(col("text"), 3))).as("sh"))
      .select(col("id"), xxhash64(col("sh")).as("shingle"))
    // multiset equality per doc (order differs only if HashSet iteration
    // diverged from first-occurrence order — it must not: the kernel
    // appends in encounter order, same as array_distinct)
    assert(fused.exceptAll(legacy).isEmpty && legacy.exceptAll(fused).isEmpty)
    // null text follows the shingles(null) = [""] convention
    val nulls = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
      .select(Dedup.hashedShinglesCol(col("text"), 3).as("hs")).head
    assert(nulls.getSeq[Long](0).length == 1)
  }

  test("simhash: identical texts equal codes; near dups within distance") {
    val codes = docs.select(col("doc_id"),
      Dedup.simhashCol(col("text"), 16).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes(0L) == codes(1L))
    assert(codes.values.forall(h => h >= 0 && h < (1L << 16)))
    val d02 = java.lang.Long.bitCount(codes(0L) ^ codes(2L))
    val d03 = java.lang.Long.bitCount(codes(0L) ^ codes(3L))
    assert(d02 < d03, s"near-dup distance $d02 should beat unrelated $d03")
    val dups = Dedup.simhashDups(docs, "doc_id", "text", 16).collect()
    assert(dups.exists(r => r.getAs[Long]("keep_id") == 0L))
  }

  test("simhash banded near-dup pairs: pigeonhole blocking finds close codes") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text",
      bits = 32, chunks = 8, maxDist = 6).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming"))).toMap
    assert(pairs.get((0L, 1L)).contains(0)) // exact dup: distance 0
    // near-dups (one word changed) should appear well inside maxDist when
    // blocking admits them; the unrelated doc 3 must not pair with 0 at d<=6
    assert(!pairs.contains((0L, 3L)))
    // every reported pair respects the verification threshold
    pairs.values.foreach(d => assert(d <= 6))
  }

  test("bucket cap: 10k identical docs complete, dropped buckets accounted") {
    // a degenerate corpus where every doc shares every LSH bucket — without
    // the cap each pair generator would materialize ~50M pairs in one task
    val clones = spark.range(10000)
      .select(col("id"), lit("same text everywhere again and again").as("text"))
    assert(Dedup.minhashNearDups(clones, "id", "text", threshold = 0.5,
      n = 2, bands = 2, rows = 2, maxBucket = 100).count() == 0)
    // the DEFAULT cap must also keep a degenerate corpus memory-safe
    // (10k-member buckets > default 1000 → dropped, not materialized)
    assert(Dedup.minhashNearDups(clones, "id", "text", threshold = 0.5,
      n = 2, bands = 2, rows = 2).count() == 0)
    assert(Dedup.ngramJaccardPairs(clones, "id", "text", n = 2,
      threshold = 0.5, maxBucket = 100).count() == 0)
    assert(Dedup.simhashNearDups(clones, "id", "text", bits = 32, chunks = 8,
      maxDist = 6, maxBucket = 100).count() == 0)
    // accounting twin reports exactly what was dropped
    val over = Dedup.oversizedBuckets(
      Dedup.minhashBands(clones, "id", "text", 2, 2, 2), "band", 100).collect()
    assert(over.nonEmpty && over.forall(_.getAs[Long]("n_members") == 10000L))
    // members of a dropped bucket are identical → the exact-dedup route
    // recovers them without pairwise work
    assert(Dedup.exactGroups(clones, "id", "text")
      .filter(col("n_docs") === 10000).count() == 1)
    // embedding leg: one hot bucket of 10k identical vectors is capped too
    val vecs = spark.range(10000).select(col("id").as("vec_id"),
      array((0 until 64).map(i => lit(0.1f * ((i % 7) - 3))): _*).as("embedding"))
    assert(Similarity.cosineNearDups(vecs, 0.9, nBits = 8, dim = 64,
      maxBucket = 100).count() == 0)
  }

  test("fused langid and quality kernels match their Column twins") {
    val lang = docs.select(
        TextAnalysis.langIdCol(col("text")).as("k"),
        TextAnalysis.langIdColExpr(col("text")).as("e")).collect()
    assert(lang.forall(r => r.getString(0) == r.getString(1)),
      "langid kernel diverges from Column twin")
    val qCols = TextAnalysis.qualityColumns(col("text"))
    val qExpr = TextAnalysis.qualityColumnsExpr(col("text"))
    val q = docs.select(
      (qCols.map { case (n, c) => c.as("k_" + n) } ++
        qExpr.map { case (n, c) => c.as("e_" + n) } :+
        TextAnalysis.qualityScoreCol(col("text")).as("k_score") :+
        TextAnalysis.qualityScoreColExpr(col("text")).as("e_score")): _*)
      .collect()
    val nm = qCols.length // k metrics [0,nm), e metrics [nm,2nm), scores last
    q.foreach { r =>
      qCols.map(_._1).zipWithIndex.foreach { case (n, i) =>
        assert(r.get(i) == r.get(i + nm),
          s"quality '$n': kernel ${r.get(i)} vs twin ${r.get(i + nm)}")
      }
      assert(r.get(2 * nm) == r.get(2 * nm + 1),
        s"score: kernel ${r.get(2 * nm)} vs twin ${r.get(2 * nm + 1)}")
    }
  }

  test("fused repetition kernel matches the Column twin") {
    val kCols = TextAnalysis.repetitionColumns(col("text"))
    val eCols = TextAnalysis.repetitionColumnsExpr(col("text"))
    val r = docs.select(
      (kCols.map { case (n, c) => c.as("k_" + n) } ++
        eCols.map { case (n, c) => c.as("e_" + n) }): _*).collect()
    val nm = kCols.length
    r.foreach { row =>
      kCols.map(_._1).zipWithIndex.foreach { case (n, i) =>
        // twin n_lines is int, kernel long — compare as values
        val (k, e) = (row.get(i), row.get(i + nm))
        assert(k.toString == e.toString,
          s"repetition '$n': kernel $k vs twin $e")
      }
    }
  }

  test("counting kernels match the array-materializing Column forms") {
    val r = docs.select(
        TextAnalysis.bpeishCountCol(col("text")).as("k_bpe"),
        TextAnalysis.bpeishCountColExpr(col("text")).cast("long").as("e_bpe"),
        TextAnalysis.tokenCountCol(col("text")).as("k_tok"),
        size(TextAnalysis.tokensCol(col("text"))).cast("long").as("e_tok"))
      .collect()
    r.foreach { row =>
      assert(row.getLong(0) == row.getLong(1), "bpeish count diverges")
      assert(row.getLong(2) == row.getLong(3), "token count diverges")
    }
  }

  test("fused simhash kernel is code-identical to the Column twin") {
    val a = docs.select(col("doc_id"), Dedup.simhashCol(col("text"), 16).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = docs.select(col("doc_id"),
        Dedup.simhashColExpr(col("text"), 16).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, s"fused vs Column simhash differ")
  }

  test("fused minhash band kernel is row-identical to the exploded twin") {
    val a = Dedup.minhashBands(docs, "doc_id", "text", 3, 4, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Dedup.minhashBandsExploded(docs, "doc_id", "text", 3, 4, 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b, s"fused vs exploded differ: ${(a diff b).take(3)} / ${(b diff a).take(3)}")
    // and the fused path plans NO exchange before the band frame
    val plan = Dedup.minhashBands(docs, "doc_id", "text", 3, 4, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fused band frame shuffles:\n$plan")
  }

  test("cross-corpus dedup: finds cross pairs only, id spaces may collide") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark physical plans"),
      (3L, "another unrelated document mentioning parquet readers")) // in-corpus unique
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // ≈ existing 1; SAME id
      (7L, "fresh unseen text with no counterpart whatsoever here"),
      (8L, "fresh unseen text with no counterpart whatsoever here")) // in-corpus dup pair
      .toDF("doc_id", "text")
    val got = Dedup.crossCorpusNearDups(existing, incoming, "doc_id", "text",
        threshold = 0.4, n = 3, bands = 4, rows = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the cross-corpus match — never the incoming 7≈8 in-corpus pair
    assert(got == Set((1L, 1L)), s"got $got")
  }

  test("unigram surprisal: rare tokens score higher, values hand-checked") {
    // corpus: "a a a b" + "c" → T=5; c(a)=3, c(b)=1, c(c)=1
    val docs = Seq((1L, "a a a b"), (2L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def micro(x: Double) = math.round(x * 1e6)
    val rt = micro(math.log(5))
    val exp1 = (4 * rt - (3 * micro(math.log(3)) + 1 * micro(math.log(1)))) / 4.0 / 1e6
    val exp2 = (1 * rt - micro(math.log(1))) / 1.0 / 1e6
    assert(out(1L)._1 == 4 && out(2L)._1 == 1)
    assert(math.abs(out(1L)._2 - BigDecimal(exp1).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out(2L)._2 > out(1L)._2, "all-rare doc must score higher")
    assert(math.abs(out(2L)._2 - BigDecimal(exp2).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("bigram LM: counts and top-next ranking hand-checked") {
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the dog sat"),
      (4L, "x")). // single token → no bigrams
      toDF("doc_id", "text")
    val counts = TextAnalysis.bigramCounts(docs, "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts == Map(("the", "cat") -> 2L, ("the", "dog") -> 1L,
      ("cat", "sat") -> 1L, ("cat", "ran") -> 1L, ("dog", "sat") -> 1L))
    val top = TextAnalysis.bigramTopNext(docs, "text", k = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // ties broken by token order: cat → ran (not sat)
    assert(top == Map("the" -> "cat", "cat" -> "ran", "dog" -> "sat"))
  }

  test("IVF ANN: disjoint cells, self excluded, recall vs brute force") {
    val vecs = spark.range(200).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        sin(i * (col("id") % 7 + 1) * 0.37 + col("id") * 0.11).cast("float"))
        .as("embedding"))
    val queries = vecs.filter(col("vec_id") % 40 === 0)
    val ivf = Similarity.ivfTopK(vecs, queries, k = 3,
      centroidStride = 20, nProbe = 3)
    val rows = ivf.collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)), "self-match")
    assert(rows.groupBy(r => (r.getLong(0), r.getLong(1))).forall(_._2.length == 1))
    val bf = Similarity.bruteForceTopK(vecs, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect got).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF nProbe=3 recall $recall vs brute force")
  }

  test("bruteForceTopK refuses a query frame above the closure ceiling") {
    val v = array((0 until 4).map(i => lit(0.1f * i)): _*)
    val corpus = spark.range(10).select(col("id").as("vec_id"), v.as("embedding"))
    val hugeQ = spark.range(Similarity.BruteForceMaxQueries + 1)
      .select(col("id").as("vec_id"), v.as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(corpus, hugeQ, k = 3)
    }
    assert(e.getMessage.contains("annTopK"))
  }

  test("cosineNearDups: duplicate input ids yield no self-pairs or repeats") {
    // the same vec_id appearing twice lands twice in its bucket list;
    // the pair generator must not emit (id, id) or repeated (a, b) rows
    val v = array((0 until 64).map(i => lit(0.1f * ((i % 5) - 2))): _*)
    val vecs = spark.range(3).select(col("id").as("vec_id"), v.as("embedding"))
      .union(spark.range(1).select(col("id").as("vec_id"), v.as("embedding")))
    val pairs = Similarity.cosineNearDups(vecs, 0.9, nBits = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length)
    assert(pairs.toSet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("bucket cap leaves normal corpora unchanged") {
    def pairsOf(maxBucket: Int) =
      Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3,
        n = 2, bands = 8, rows = 1, maxBucket = maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf(10000) == pairsOf(5)) // 5-doc corpus: no bucket near cap
  }

  test("cosine: self-similarity 1, orthogonal 0, topk ranks by similarity") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val self = vecs.select(Similarity.cosineCol(col("embedding"), col("embedding")))
      .collect().map(_.getDouble(0))
    self.foreach(s => assert(math.abs(s - 1.0) < 1e-9))
    val topk = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 3)
      .orderBy("rank").collect()
    assert(topk.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(topk.head.getAs[Double]("cosine_sim") > 0.99)
  }

  test("LSH ANN: same vector lands in the same bucket; recall on clones") {
    val base = (0 until 64).map(i => (i % 7 - 3) * 0.1f).toArray
    val vecs = Seq((0L, base), (1L, base.map(x => x * 2)), // same direction
      (2L, base.map(x => -x))).toDF("vec_id", "embedding")
    val ann = Similarity.annTopK(vecs, vecs.filter(col("vec_id") === 0), 2,
      nBits = 6, dim = 64).collect()
    assert(ann.exists(r => r.getAs[Long]("neighbor_id") == 1L)) // scaled clone found
  }

  test("ANN recall vs brute force on real embeddings (documented trade-off)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(emb, queries, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann1 = Similarity.annTopK(emb, queries, 3, nBits = 6, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val annT = Similarity.annTopK(emb, queries, 3, nBits = 4, dim = 64,
      tables = 8).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall1 = (brute & ann1).size.toDouble / brute.size
    val recallT = (brute & annT).size.toDouble / brute.size
    // multi-table LSH must recover substantially more of the true top-k
    // than a single table (1-(1-p)^T vs p), and clear a usable floor
    assert(recallT > recall1, s"multi-table $recallT <= single $recall1")
    assert(recallT > 0.35, s"recall $recallT")
  }

  test("langId picks the marker language; 'und' with no markers") {
    val df = Seq(
      "the cat and the dog is in that house for fun",
      "der hund und die katze ist ein tier mit fell",
      "xyzzy qwerty 12345").toDF("text")
      .select(TextAnalysis.langIdCol(col("text")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "de", "und"))
  }

  test("quality: clean text scores above punctuation soup") {
    val scores = Seq(
      "the quick brown fox jumps over the lazy dog and runs for the hills",
      ";;;;; !!!! ???? ,,,, ::: ;;; !!!").toDF("text")
      .select(TextAnalysis.qualityScoreCol(col("text")).as("q"))
      .collect().map(_.getDouble(0))
    assert(scores(0) > scores(1))
    scores.foreach(s => assert(s >= 0.0 && s <= 1.0))
  }

  test("token counting: word vs BPE-ish segments") {
    val r = Seq("Hello, world! x2").toDF("text").select(
      size(TextAnalysis.tokensCol(col("text"))).as("w"),
      TextAnalysis.bpeishCountCol(col("text")).as("b")).collect()(0)
    assert(r.getInt(0) == 3)      // hello, world, x2
    assert(r.getLong(1) == 6)     // Hello , world ! x 2 (kernel: long)
  }

  test("tfidf: vocabulary broadcast and N folded into the DAG (no extra job)") {
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"no broadcast in:\n$plan")
    // correctness smoke: top term of the unrelated doc is one of its own words
    val top3 = out.filter(col("id") === 3L && col("rank") === 1)
      .collect()(0).getAs[String]("term")
    assert("completely different text about spark engines".split(" ").contains(top3))
  }

  test("repetition flags: Gopher-style rules on hand vectors") {
    val df = Seq(
      (1L, "unique one\nunique two\nunique three"),          // clean
      (2L, "same line\nsame line\nsame line\nother"),        // 50% dup lines
      (3L, "to be continued...\nmore...\nend...\nok..."),    // all ellipsis
      (4L, "### ## # lots of #### symbols # here #")         // symbol soup
    ).toDF("doc_id", "text")
    val cols = TextAnalysis.repetitionColumns(col("text"))
    val out = df.select((col("doc_id") +: cols.map { case (n, c) => c.as(n) })
      :+ TextAnalysis.gopherKeepCol(col("text")).as("keep"): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Double]("dup_line_frac") == 0.5)
    assert(!out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Double]("ellipsis_line_frac") == 1.0)
    assert(!out(3L).getAs[Boolean]("keep"))
    assert(out(4L).getAs[Double]("symbol_word_ratio") > 0.1)
    assert(!out(4L).getAs[Boolean]("keep"))
  }

  test("fingerprint: whitespace/case-insensitive canonical form") {
    val fp = Seq("The  QUICK fox", "the quick fox").toDF("t")
      .select(TextAnalysis.fingerprintCol(col("t")).as("f"))
      .collect().map(_.getString(0))
    assert(fp(0) == fp(1))
  }

  test("codegen fingerprint equals the definitional array form") {
    // edge shapes: separator runs at both ends, all-separator, empty,
    // apostrophes (in-class), digits, plus the real corpus
    val edges = Seq("  Lead--trail!! ", "?!.,;", "", "don't stop", "a1 b2",
      "ONE").toDF("text")
    Seq(edges, docs.select("text")).foreach { d =>
      val n = d.select(
          TextAnalysis.fingerprintCol(col("text")).as("a"),
          TextAnalysis.fingerprintColExpr(col("text")).as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(n == 0, "codegen fingerprint diverges from the array form")
    }
  }

  test("chunkTokens: overlapping windows cover every token; tail is short") {
    val df = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "a b"),                           // shorter than one chunk
      (3L, ""))                              // no tokens → no chunks
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(df, "doc_id", "text",
        chunkSize = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: starts 0,3,6,9 → lengths 4,4,4,1
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, 0L, 4L), (1L, 1L, 3L, 4L), (1L, 2L, 6L, 4L), (1L, 3L, 9L, 1L)))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 2L)))
    assert(!out.exists(_._1 == 3L))
    // fingerprint covers exactly the window: chunk (start 3, len 4) of doc 1
    val md5s = TextAnalysis.chunkTokens(df, "doc_id", "text", 4, 3)
      .filter(col("id") === 1 && col("chunk_idx") === 1)
      .select("chunk_md5").collect()(0).getString(0)
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("t3 t4 t5 t6".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(md5s == expect)
  }

  test("pqEncode: centroid-equal vectors get their own code, distortion 0") {
    // 4 codebook vectors at ids 0,10,20,30 (stride 10, k=4), dim 8, m=2
    def vec(base: Float): Seq[Float] = (0 until 8).map(i => base + i * 0.01f)
    val rows = Seq(
      (0L, vec(0f)), (10L, vec(1f)), (20L, vec(2f)), (30L, vec(3f)),
      (5L, vec(1f)),           // equals centroid 1 exactly → codes (1,1), d=0
      (6L, vec(2.9f)))         // nearest centroid 3 in both halves
      .toDF("vec_id", "embedding")
    val out = Similarity.pqEncode(rows, m = 2, k = 4, centroidStride = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(out(5L) == ((1, 1, 0L)))
    assert(out(0L) == ((0, 0, 0L)))
    assert(out(6L)._1 == 3 && out(6L)._2 == 3 && out(6L)._3 > 0L)
    // determinism across partitionings
    val again = Similarity.pqEncode(rows.repartition(3), 2, 4, 10)
    assert(again.exceptAll(Similarity.pqEncode(rows, 2, 4, 10)).count() == 0)
  }

  test("pqTopK: ADC distance equals the hand-computed LUT sum; clusters rank first") {
    def vec(base: Float): Seq[Float] = (0 until 8).map(i => base + i * 0.01f)
    // codebook ids 0,10,20,30 → centroids 0..3; clones sit exactly on
    // centroids so their codes are their cluster and ADC(query, clone) is
    // the exact integer distance query→centroid
    val corpus = Seq(
      (0L, vec(0f)), (10L, vec(1f)), (20L, vec(2f)), (30L, vec(3f)),
      (41L, vec(1f)), (42L, vec(2f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, vec(1.1f))).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(corpus, queries, k = 3, m = 2, nCent = 4,
        centroidStride = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // nearest cluster is centroid 1 (base 1.0 vs query 1.1): id 10 and its
    // clone 41 tie on adist, id order breaks the tie
    assert(out.map(_._1).take(2).toSeq == Seq(10L, 41L))
    // exact ADC value: integer L2 between scaled query and centroid 1
    val qi = vec(1.1f).map(x => math.floor(x.toDouble * 1e6).toLong)
    val ci = vec(1f).map(x => math.floor(x.toDouble * 1e6).toLong)
    val expect = qi.zip(ci).map { case (a, b) => (a - b) * (a - b) }.sum
    assert(out.head._2 == expect)
    assert(out.map(_._3).toSeq == Seq(1L, 2L, 3L))
  }

  test("hashedLogit: additive over tokens, null-safe, repartition-stable") {
    val one = TextAnalysis.hashedLogit("spark", 1024)
    val twice = TextAnalysis.hashedLogit("spark spark", 1024)
    assert(twice == 2 * one) // tf-linear: same bucket weight gathered twice
    assert(TextAnalysis.hashedLogit(null, 1024) == 0L)
    assert(TextAnalysis.hashedLogit("", 1024) == 0L)
    val mixed = TextAnalysis.hashedLogit("spark rows", 1024)
    assert(mixed == one + TextAnalysis.hashedLogit("rows", 1024))
    val df = Seq((1L, "spark rows"), (2L, ""), (3L, "spark"))
      .toDF("doc_id", "text")
    val scored = TextAnalysis.hashedLinearScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(scored(1L)._1 == mixed && scored(3L)._1 == one)
    assert(scored(2L) == ((0L, false)))
    val again = TextAnalysis.hashedLinearScore(df.repartition(3), "doc_id", "text")
    assert(again.exceptAll(
      TextAnalysis.hashedLinearScore(df, "doc_id", "text")).count() == 0)
  }

  test("fuzzyPairs: blocking confines comparisons; distance filter + a<b") {
    val recs = Seq(
      (1L, "alice smith", "nyc"), (2L, "alice smyth", "nyc"), // dist 1
      (3L, "bob jones", "nyc"),                               // far from both
      (4L, "alice smith", "sfo"))  // identical to 1 but other block
      .toDF("id", "name", "city")
    val pairs = Dedup.fuzzyPairs(recs, "id", "name", "city", maxDist = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(pairs.toSeq == Seq((1L, 2L, 1L))) // only the in-block near pair
  }

  test("ivfPqTopK: probed-cell candidates only; ADC agrees with pqTopK there") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val ivfpq = Similarity.ivfPqTopK(emb, queries, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ivfpq.nonEmpty)
    // every (query, neighbor) ADC distance must equal the full ADC scan's
    // distance for that pair (cells only PRUNE; they never change scores)
    val full = Similarity.pqTopK(emb, queries, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    ivfpq.foreach { case (pair, d) =>
      assert(full(pair) == d, s"ADC mismatch for $pair: $d vs ${full(pair)}")
    }
  }

  test("bloom-prune join: exact join result, fact side actually pruned") {
    val dim = (1L to 50L).filter(_ % 10 == 0).toDF("k")
    val fact = (1L to 1000L).map(i => (i % 60, i)).toDF("fk", "payload")
    val plain = fact.join(dim, col("fk") === col("k"))
    val pruned = RuntimeFilter.bloomPruneJoin(fact, dim, "fk", "k",
      expectedItems = 100, fpp = 0.01)
    assert(pruned.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(pruned).count() == 0)
    // the prefilter alone must pass matches and cut most non-matches
    val bf = dim.stat.bloomFilter("k", 100, 0.01)
    val kept = (0L until 60L).count(bf.mightContainLong)
    assert(kept >= 5 && kept < 20) // 5 true keys + ≤ fpp-ish slip-through
  }
}
