package graft.ops

import graft.SparkSpec
import graft.expr.TextGenColumns.loremWords
import graft.sink.TarShards
import org.apache.spark.sql.functions._

/** Seeded randomized property checks for the round's kernels — invariants
  * that must hold on ARBITRARY input, not just the curated vectors. */
class KernelPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812)

  test("packSequences: offsets bounded, sequences monotone, fold-consistent") {
    val maxTokens = 64L
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox")
    val docs = (0L until 300L).map { id =>
      (id, Seq.fill(rnd.nextInt(40))(words(rnd.nextInt(words.length)))
        .mkString(" "))
    }
    val out = TextAnalysis.packSequences(docs.toDF("doc_id", "text"),
        "doc_id", "text", maxTokens, docsPerShard = 50)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.length == 300)
    out.foreach { case (_, _, _, _, off) =>
      assert(off >= 0 && off < maxTokens, s"offset $off out of range")
    }
    // replay the greedy fold per shard and compare every assignment
    out.groupBy(_._2).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, n, seq, off) =>
        assert(seq == cum / maxTokens, s"doc $id seq $seq != ${cum / maxTokens}")
        assert(off == cum % maxTokens, s"doc $id off $off != ${cum % maxTokens}")
        cum += n
      }
    }
  }

  test("lorem_words native expression == HOF twin, incl. degenerate n") {
    // the render's one-compiled-loop kernel, pinned bit-identical to the
    // transform(sequence(...)) form on random keys and word counts,
    // including n <= 0 (empty string)
    val cases = (0 until 200).map(_ =>
      (rnd.nextLong(), rnd.nextInt(300).toLong - 5L)) :+ ((42L, 0L)) :+ ((7L, -3L))
    val hof = cases.toDF("key", "n").select(
      graft.expr.TextGenColumns.loremWordsCol(col("key"), col("n"),
        lit(20000L))).collect().map(_.getString(0))
    cases.zip(hof).foreach { case ((key, n), want) =>
      val got = loremWords(key, n, 20000L)
      assert(got == want, s"key=$key n=$n")
      // and the word count really is max(n, 0)
      assert(got.split(" ").count(_.nonEmpty) == math.max(n, 0L),
        s"n=$n got ${got.split(" ").count(_.nonEmpty)} words")
    }
  }

  test("lorem prose form: newline→space recovers the flat form exactly") {
    val cases = (0 until 50).map(_ => (rnd.nextLong(), rnd.nextInt(3000).toLong))
    val rows = cases.map { case (key, n) =>
      (loremWords(key, n, 20000L, prose = true),
        loremWords(key, n, 20000L))
    }
    rows.foreach { case (prose, flat) =>
      assert(prose.replace('\n', ' ') == flat)
    }
    // line structure is real: a 3000-word draw must produce many lines,
    // none absurdly long (the quadratic-regex hazard is line length)
    val long = rows.map(_._1).maxBy(_.length)
    val lines = long.split("\n")
    assert(lines.length > 50, s"expected prose lines, got ${lines.length}")
    assert(lines.map(_.length).max < 2000,
      s"line too long: ${lines.map(_.length).max}")
  }

  test("BPE: rank-map encode == literal rule-by-rule encode on random text") {
    // random corpora over a small alphabet force deep merge chains and
    // heavy tie-breaking; the rank-based production encoder must equal
    // the sequential oracle twin token-for-token
    for (round <- 1 to 10) {
      val alphabet = "abcd0'"
      def word() = Seq.fill(1 + rnd.nextInt(10))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val corpus = Seq.fill(60)(Seq.fill(1 + rnd.nextInt(12))(word()).mkString(" "))
      val wc = corpus.flatMap(Bpe.wordTokens)
        .groupBy(identity).map { case (w, g) => w -> g.size.toLong }.toSeq
      val merges = Bpe.train(wc, nMerges = 12)
      val ranks = merges.zipWithIndex.toMap
      val words = wc.map(_._1) ++ Seq.fill(20)(word()) // incl. unseen words
      words.foreach { w =>
        assert(Bpe.encodeWord(w, ranks) == Bpe.encodeWordSequential(w, merges),
          s"round $round word $w merges $merges")
      }
      // every encoding concatenates back to the original word
      words.foreach { w =>
        assert(Bpe.encodeWord(w, ranks).mkString == w)
      }
    }
  }

  test("BPE packing and chunking budget in exact subword tokens") {
    val docs = (0L until 120L).map { id =>
      (id, Seq.fill(1 + rnd.nextInt(30))(
        Seq("stream", "process", "dataset", "token", "merge")(rnd.nextInt(5)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val merges = Bpe.trainOnCorpus(docs, "text", vocabSize = 50, nMerges = 8)
    val enc = docs.join(
      Bpe.encode(docs, "doc_id", "text", merges), "doc_id").cache()
    val maxTokens = 48L
    val packed = TextAnalysis.packSequencesBy(enc, "doc_id", col("n_bpe"),
        maxTokens, docsPerShard = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // exact-budget invariant: replaying the fold with the REAL subword
    // counts reproduces every (sequence, offset) assignment
    packed.groupBy(_._2).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, n, seq, off) =>
        assert(seq == cum / maxTokens && off == cum % maxTokens, s"doc $id")
        cum += n
      }
    }
    // chunking over bpe_tokens: chunk token counts are exact subword counts
    val chunks = TextAnalysis.chunkTokensBy(enc, "doc_id",
        col("bpe_tokens"), chunkSize = 16, stride = 16)
      .groupBy("id").agg(sum("n_tok").as("tot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nBpe = enc.select("doc_id", "n_bpe")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunks == nBpe, "non-overlapping chunks must cover exactly n_bpe")
    enc.unpersist()
  }

  test("tar: arbitrary printable names and binary payloads round-trip") {
    for (_ <- 1 to 20) {
      val n = 1 + rnd.nextInt(12)
      val names = scala.collection.mutable.LinkedHashSet.empty[String]
      while (names.size < n) {
        val candidate = (1 to (1 + rnd.nextInt(40)))
          .map(_ => (33 + rnd.nextInt(94)).toChar).mkString
          .replace("/", "_") // flat archive: no directories
        names += candidate
      }
      val entries = names.toSeq.map { name =>
        val b = new Array[Byte](rnd.nextInt(1500))
        rnd.nextBytes(b)
        name -> b
      }
      val back = TarShards.tarEntries(TarShards.tarBytes(entries)).get
      assert(back.map(_._1) == entries.map(_._1))
      back.zip(entries).foreach { case ((_, b), (nm, exp)) =>
        assert(b.sameElements(exp), s"payload differs for $nm")
      }
    }
  }

  test("bandKeys: deterministic, right arity, parseable signatures") {
    for (_ <- 1 to 50) {
      val text = (1 to rnd.nextInt(60))
        .map(_ => ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(5)))
        .mkString(" ")
      val (bands, rows) = (1 + rnd.nextInt(6), 1 + rnd.nextInt(3))
      val k1 = Dedup.bandKeys(text, 3, bands, rows)
      val k2 = Dedup.bandKeys(text, 3, bands, rows)
      assert(k1 == k2, "non-deterministic band keys")
      assert(k1.length == bands)
      k1.zipWithIndex.foreach { case (key, b) =>
        val parts = key.split("\\|")
        assert(parts.length == rows + 1 && parts(0) == b.toString, key)
        parts.drop(1).foreach { sig =>
          val v = sig.toLong
          assert(v >= 0 && v < 4294967296L, s"sig $v out of 32-bit range")
        }
      }
    }
  }

  test("chunkTokens: every token covered; overlap = chunk - stride; reassembly") {
    val words = Vector("ka", "ko", "ki", "ku", "ke")
    val docs = (0L until 60L).map { id =>
      (id, Seq.fill(rnd.nextInt(50))(words(rnd.nextInt(words.length)))
        .mkString(" "))
    }
    val chunkSize = 7
    val stride = 4
    val out = TextAnalysis.chunkTokens(docs.toDF("doc_id", "text"),
        "doc_id", "text", chunkSize, stride)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    docs.foreach { case (id, text) =>
      val n = text.split(" ").count(_.nonEmpty)
      val chunks = out.getOrElse(id, Array.empty).sortBy(_._2)
      if (n == 0) assert(chunks.isEmpty)
      else {
        // starts are exactly 0, stride, 2·stride … < n (every token covered,
        // consecutive chunks overlap by chunkSize - stride except the tail)
        assert(chunks.map(_._3).toSeq ==
          (0L until n.toLong by stride.toLong).toSeq)
        chunks.foreach { case (_, idx, start, len) =>
          assert(start == idx * stride)
          assert(len == math.min(chunkSize.toLong, n - start))
        }
        assert(chunks.map(c => c._3 until c._3 + c._4).flatten.distinct.size
          == n.toLong)
      }
    }
  }

  test("normalizeText: idempotent, ASCII-alnum-space closed, on random unicode") {
    val pool = "aZ9 éÅñüß—ﬁ\t\n№☃".toCharArray
    (1 to 200).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.length))).mkString
      val n1 = Curation.normalizeText(s)
      assert(Curation.normalizeText(n1) == n1, s"not idempotent on '$s'")
      assert(n1.forall(c => c.isDigit || (c >= 'a' && c <= 'z') || c == ' '),
        s"non-normalized char survived in '$n1'")
      assert(!n1.startsWith(" ") && !n1.endsWith(" ") && !n1.contains("  "))
    }
  }

  test("htmlToTextCol on tag-free text == whitespace-collapsed text") {
    val texts = (1 to 40).map { _ =>
      (1 to rnd.nextInt(30)).map(_ =>
        if (rnd.nextBoolean()) "word" + rnd.nextInt(100)
        else Seq(" ", "\n", "\t", "  ")(rnd.nextInt(4))).mkString(" ")
    }
    val out = texts.toDF("t")
      .select(TextAnalysis.htmlToTextCol(col("t")).as("x"), col("t"))
      .collect()
    out.foreach { r =>
      val expected = r.getString(1).replaceAll("\\s+", " ").trim
      assert(r.getString(0) == expected, s"'${r.getString(0)}' != '$expected'")
    }
  }
}
