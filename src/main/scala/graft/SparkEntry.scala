package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.Placeholder
import graft.ops.{Dedup, Similarity, TextAnalysis, VectorIndex}
import graft.pipeline._

/** Driver contract — one `queries` entry per implemented operator family from
  * SURVEY.md §2 (+ the LLM-data-pipeline extensions), each with a DuckDB
  * oracle over the same parquet tables.
  *
  * Oracle-determinism rules (SURVEY.md §5/§7.5): no `rand()`, no wall-clock;
  * pseudo-randomness is integer arithmetic on keys; cross-engine hashing is
  * md5; money sums are exact floor-to-cents BIGINTs; double ratios are
  * rounded before comparison/ordering; every output is explicitly ordered and
  * every computed column aliased identically in Spark and SQL.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` with `ts` normalized to raw epoch-nanos LONGs regardless of how
    * the parquet encodes it (NANOS long, MICROS NTZ, or MICROS UTC) — see
    * [[graft.ops.EventTime]] for the exact, timezone-free conversion rules. */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventTime.readNanos(s, dir)

  /** Exact, engine-portable money sum: Σ floor(x·100) as BIGINT cents. */
  private def cents(c: Column): Column = floor(c * 100).cast("long")

  /** Flagship: the four-stage DLP pipeline end-to-end at small scale —
    * plan → rendered corpus → mapping → validator report (per-SIT rollup).
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = PipelineConfig.scaled(perSit = 4)
    val docs = MetaGen.docs(spark, cfg)
    val corpus = ContentGen.corpus(docs)
    val mapping = ContentGen.mappingFromCorpus(corpus)
    val (report, _, _) = Validator.run(
      mapping, corpus.select("filename", "text"), cfg.sitDim(spark).toDF())
    report
  }

  // ------------------------------------------------------------------
  //  §2.6/§2.7 — aggregates, windows, sorts, limits
  // ------------------------------------------------------------------

  /** A1/A2/A5 — grouped count/sum/avg rollup (validator-report shape). */
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("revenue_cents"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A9/W6 — grouped top-K. Served by the typed bounded-state Aggregator:
    * measured at sf0.1 it beats the rank-window form (1.1s vs 1.4s here;
    * at scale it partial-aggregates to ≤k rows per group map-side instead
    * of sorting every group's full row set after the shuffle). Rank
    * windows still gate q24/q25/q33; q36 keeps the Aggregator's own
    * oracle row. */
  private def q02(s: SparkSession, dir: String): DataFrame =
    graft.ops.TopK.grouped(t(s, dir, "orders"), "o_custkey", "o_orderkey",
      "o_totalprice", k = 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
      .orderBy("o_custkey", "rank")

  /** A7 — value_counts histogram. */
  private def q03(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** A6 — per-group sorted distinct set, `;`-joined (tcs canonical form). */
  private def q04(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").groupBy("o_custkey")
      .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ";")
        .as("priority_set"))
      .orderBy("o_custkey")

  /** A8/G4 — Bernoulli-style label from key arithmetic + global ratio. */
  private def q05(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("label",
        when((col("l_orderkey") * 2654435761L) % 100 < 50, "TP").otherwise("FP"))
      .groupBy("label").agg(count(lit(1)).as("n"))
      .orderBy("label")

  // ------------------------------------------------------------------
  //  §2.5 — joins
  // ------------------------------------------------------------------

  /** J1/J2 — broadcast dimension star join. */
  private def q06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("revenue_cents"))
      .orderBy("r_name", "n_name")

  /** J3/J4 — full-outer upsert with per-column coalesce (library fn). */
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val existing = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").as("doc_id"),
        col("o_totalprice").as("price"), lit("old").as("src"))
    val incoming = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("doc_id"),
        (col("o_totalprice") * 2).as("price"), lit("new").as("src"))
    ContentGen.upsertMapping(existing, incoming)
      .orderBy("doc_id")
  }

  /** Anti-join — the "needed SITs" filter shape: customers with no URGENT
    * order (non-empty on the testdata, unlike no-orders-at-all). */
  private def q08(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** J6 — first-existing-candidate resolution via coalesce/nullif. */
  private def q09(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("cand1",
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("p1_"), col("o_orderkey"))))
      .withColumn("cand2",
        when(col("o_orderkey") % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("p2_"), col("o_orderkey"))))
      .select(col("o_orderkey"),
        coalesce(col("cand1"), col("cand2"), lit("fallback")).as("resolved"))
      .orderBy("o_orderkey")

  // ------------------------------------------------------------------
  //  §2.2 — generators/samplers (deterministic, key-hash driven)
  // ------------------------------------------------------------------

  /** G2/G3 — inverse-CDF bucket sampling + within-bucket expansion. */
  private def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("r", (col("o_orderkey") * 48271) % 100)
      .withColumn("bucket",
        when(col("r") < 30, "1").when(col("r") < 60, "2-3")
          .when(col("r") < 90, "4-6").otherwise(">6"))
      .withColumn("n_sits",
        when(col("r") < 30, lit(1L))
          .when(col("r") < 60, lit(2L) + (col("o_orderkey") * 16807) % 2)
          .when(col("r") < 90, lit(4L) + (col("o_orderkey") * 69621) % 3)
          .otherwise(lit(7L) + (col("o_orderkey") * 40692) % 4))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_sits").as("total_sits"))
      .orderBy("bucket")

  /** G5 — rule-based confidence CASE (library column fn). */
  private def q11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("label",
        when((col("l_orderkey") + col("l_linenumber")) % 2 === 0, "TP")
          .otherwise("FP"))
      .withColumn("instances", (col("l_partkey") % 12 + 1).cast("int"))
      .withColumn("confidence",
        MetaGen.confidenceCol(col("label"), col("instances")))
      .groupBy("label", "confidence").agg(count(lit(1)).as("n"))
      .orderBy("label", "confidence")

  /** G7/G9 — format choice + printf filename. */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val formats = PipelineConfig.default.formats
    t(s, dir, "orders")
      .withColumn("format",
        element_at(array(formats.map(lit): _*),
          (col("o_orderkey") % 5).cast("int") + 1))
      .select(col("o_orderkey").as("doc_id"), col("format"))
      // filename formatting above the sort — single parallel evaluation,
      // no sampling re-run; see the q29 shape note
      .orderBy("doc_id")
      .select(col("doc_id"), col("format"),
        format_string("doc_%05d_%s.txt", col("doc_id"), col("format"))
          .as("filename"))
  }

  // ------------------------------------------------------------------
  //  §2.8 — predicates / scalar functions
  // ------------------------------------------------------------------

  /** P8 — `;`-packed parallel arrays → split/zip/posexplode through the
    * validator's library fn. The packed columns are synthesized identically
    * in both engines (ordered string_agg).
    *
    * Bench-number honesty note: no packed-string table exists in the
    * testdata, so the INPUT SYNTHESIS (a collect_list groupBy packing
    * lineitem rows into `;`-strings) used to dominate every recorded rep
    * at ~90% of q13's time (r9 verdict item 5 — ~6 s of the bench wall
    * spent re-synthesizing a constant). The synthesized frame is
    * deterministic per sf-dir, so it now materializes ONCE per JVM to a
    * temp parquet and later invocations read it back: rep 1 still pays
    * synthesize+write (visible in the artifact's rep list), reps 2+ and
    * therefore the reported MEDIAN measure the split/zip/posexplode
    * operator under test. ValidatorSpec exercises the operator in
    * isolation on pre-packed rows; Verify runs q13 once, paying the full
    * synthesis, so the oracle compares the identical frame either way. */
  /** Per-JVM memoized parquet cache (the q13/q100 bench-honesty pattern:
    * a deterministic-per-key frame materializes ONCE per JVM to a temp
    * parquet; later calls read it back). The builder runs OUTSIDE the
    * map's lock — a lazy-holder indirection means concurrent first calls
    * for the same key block on the holder's initializer, not on the map —
    * and every created directory is deleted by a JVM shutdown hook
    * (r11 ADVICE: the first cut leaked one /tmp parquet per (JVM, key)
    * and held the map lock across a full Spark write job). */
  private object MemoParquet {
    private val dirs =
      new java.util.concurrent.ConcurrentHashMap[String, () => String]()
    private val created =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      created.forEach { d =>
        try {
          java.nio.file.Files.walk(java.nio.file.Paths.get(d))
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case _: Exception => () }
      }
    }))
    def apply(key: String)(build: String => Unit): String = {
      val holder = dirs.computeIfAbsent(key, _ => {
        lazy val path: String = {
          val out = java.nio.file.Files
            .createTempDirectory("graft_memo_").toString
          created.add(out)
          build(out)
          out
        }
        () => path
      })
      holder()
    }

    private val schemas = new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()

    /** The memoized table at `path` (a path [[apply]] returned), read
      * with the schema its first read inferred: the table never changes
      * once written, so later reads skip Spark's parquet footer job. */
    def read(s: SparkSession, path: String): DataFrame =
      s.read.schema(schemas.computeIfAbsent(path,
        _ => s.read.parquet(path).schema)).parquet(path)
  }

  private def q13(s: SparkSession, dir: String): DataFrame = {
    val path = MemoParquet(s"q13_packed:$dir") { out =>
      val d = dir
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("q"))
      val packed = li.groupBy(col("l_orderkey").as("doc_id"))
        .agg(array_sort(collect_list(
          struct(col("l_linenumber").as("ln"), col("q")))).as("rows"))
        .select(col("doc_id"),
          array_join(transform(col("rows"),
            x => concat(lit("S"), x.getField("ln"))), ";").as("sit_ids"),
          array_join(transform(col("rows"),
            x => when(x.getField("ln") % 2 === 0, "TP").otherwise("FP")), ";")
            .as("labels"),
          array_join(transform(col("rows"),
            x => x.getField("q").cast("string")), ";").as("instances"))
        .withColumn("filename", lit(""))
      packed.write.mode("overwrite").parquet(out)
    }
    Validator.explodeAssignments(s.read.parquet(path))
      .select("doc_id", "sit_id", "label", "instances")
      .orderBy("doc_id", "sit_id")
  }

  /** P2/P3 — regex findall over the corpus (count + first match).
    * Kernel above the sort — q29 shape note. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val pat = "\\bs[a-z]+\\b"
    t(s, dir, "documents")
      .select("doc_id", "text")
      .orderBy("doc_id")
      .withColumn("ms", regexp_extract_all(col("text"), lit(pat), lit(0)))
      .select(col("doc_id"),
        size(col("ms")).cast("long").as("n_matches"),
        when(size(col("ms")) > 0, element_at(col("ms"), 1))
          .otherwise(lit(null).cast("string")).as("first_match"))
  }

  /** P5 — the placeholder heuristic over synthesized candidate values
    * (library Column fn; the oracle re-states the 10 rules in SQL). */
  private def q15(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("value",
        when(col("o_orderkey") % 8 === 0, "0000 0000 0000 0000")
          .when(col("o_orderkey") % 8 === 1, "XXX-XX-XXXX")
          .when(col("o_orderkey") % 8 === 2,
            concat(lit("Customer#"), lpad(col("o_orderkey").cast("string"), 9, "0")))
          .when(col("o_orderkey") % 8 === 3, "sig=XXXXX")
          .when(col("o_orderkey") % 8 === 4, "ab")
          .when(col("o_orderkey") % 8 === 5, "abc123")
          .when(col("o_orderkey") % 8 === 6, "--- ---")
          .otherwise("841-269-960"))
      // heuristic above the sort — single parallel evaluation, no
      // sampling re-run; see the q29 shape note
      .orderBy("o_orderkey")
      .select(col("o_orderkey"), col("value"),
        Placeholder.isPlaceholderFast(col("value")).as("is_placeholder"))

  /** T6/T7 — word/char counts (Python `len(s.split())` semantics).
    * Kernel above the sort — q29 shape note. */
  private def q16(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"),
        ContentGen.wordCountCol(col("text")).cast("long").as("n_words"),
        length(col("text")).cast("long").as("n_chars"))

  // ------------------------------------------------------------------
  //  scale extensions — dedup / similarity / text analysis / byte metadata
  // ------------------------------------------------------------------

  /** Exact dedup groups via content hash. */
  private def q17(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("content_hash")

  /** MinHash + LSH near-dup pairs, verified by exact shingle Jaccard. */
  private def q18(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
      threshold = 0.4, n = 3, bands = 4, rows = 2)
      .orderBy("id_a", "id_b")

  /** Exact n-gram Jaccard pairs via shingle inverted index.
    *
    * maxBucket=100 (df cap, mirrored exactly in the oracle's `df <= 100`):
    * the operator is quadratic within identical-shingle groups by design,
    * and the regenerated, more-templated corpus pushed many boilerplate
    * shingles toward the old df≤1000 cap — r4 measured 25.6s at sf0.1
    * (5.5× r3) with the pair collapse as the whole cost. A shingle shared
    * by >2% of a 5k-doc corpus is template boilerplate, not similarity
    * signal, so the tighter filtered universe is semantically the point,
    * not a shortcut — and both engines compute Jaccard over the SAME
    * filtered universe, so the oracle still hash-matches. */
  private def q19(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      n = 3, threshold = 0.4, maxBucket = 100)
      .orderBy("id_a", "id_b")

  /** 16-bit SimHash signatures (per-row fold, no shuffle).
    * Kernel above the sort — q29 shape note. */
  private def q20(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"), Dedup.simhashCol(col("text"), 16).as("simhash"))

  /** Language ID: marker-word argmax with deterministic tie-break.
    * Kernel above the sort — q29 shape note. */
  private def q21(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"), TextAnalysis.langIdCol(col("text")).as("lang_pred"))

  /** Quality profile + composite score.
    * Kernels above the sort — q29 shape note. */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    t(s, dir, "documents")
      .select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id") +:
        (TextAnalysis.qualityColumns(text).map { case (n, c) => c.as(n) } :+
          TextAnalysis.qualityScoreCol(text).as("quality_score")): _*)
  }

  /** Token statistics: word count + BPE-ish pre-tokenizer count.
    * Kernels above the sort — q29 shape note. */
  private def q23(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"),
        TextAnalysis.tokenCountCol(col("text")).as("n_tokens"),
        TextAnalysis.bpeishCountCol(col("text")).cast("long").as("bpeish_tokens"))

  /** Brute-force cosine top-k (ANN baseline). */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 25 === 0), k = 5)
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed ANN top-k (the scale path; recall < 1 by construction). */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.annTopK(emb, emb.filter(col("vec_id") % 25 === 0), k = 3,
      nBits = 8, dim = 64)
      .orderBy("query_id", "rank")
  }

  /** Per-doc UTF-8 byte length and `md5` of `text`, in `doc_id` order.
    * Kernels above the sort — q29 shape note. */
  private def q26(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        md5(col("text")).as("content_md5"))

  /** Event-time tumbling-window aggregate (batch form of the streaming
    * validator shape: event_time bucketing + keyed counts). */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized reader
    // rejects; read it as raw nanos and truncate with exact integer division.
    val ev = events(s, dir)
    // string timestamps: representation-proof across engines/comparators
    // (ns vs us timestamp physical types would otherwise differ)
    ev
      .withColumn("window_start",
        date_format(timestamp_seconds(expr("ts DIV 3600000000000") * 3600),
          "yyyy-MM-dd HH:mm:ss"))
      .groupBy("window_start", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("value_cents"))
      .orderBy("window_start", "event_type")
  }

  /** V1/V2 — Luhn check digit: Scala implementation vs SQL-arithmetic
    * oracle (cross-checks the checksum kernel itself). */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val luhnUdf = udf { body: String =>
      val full = body + graft.expr.Checksums.luhnCheckDigit(body)
      full.grouped(4).mkString(" ")
    }
    t(s, dir, "orders")
      .withColumn("body",
        concat(lit("4"), lpad((col("o_orderkey") % 100000000000000L).cast("string"), 14, "0")))
      // kernel above the sort — single parallel evaluation, no sampling
      // re-run; see the q29 shape note
      .orderBy("o_orderkey")
      .select(col("o_orderkey"), luhnUdf(col("body")).as("ccn"))
  }

  /** V3/V4 — IBAN mod-97 check digits: Scala kernel vs HUGEINT oracle.
    *
    * r16 shape (guide §2.3/§2.5 applied to the whole per-row-kernel
    * family, see OPTIMIZATION_r16.md): the kernel projects ABOVE the
    * orderBy, not below it. Written below, the UDF (a) runs inside the
    * single-split scan stage — serial on a one-row-group parquet however
    * many cores the session has — and (b) runs AGAIN over every row in
    * the range-partitioner's sampling pass of the sort exchange. Above
    * the sort it evaluates exactly once, post-exchange, on all cores,
    * and the exchange carries the narrow input instead of the derived
    * string. Row content and global order are unchanged (the sort key
    * rides through untouched, per-row projection after a sort preserves
    * ordering), so the oracle row is identical. */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    val ibanUdf = udf { bban: String =>
      "GB" + graft.expr.Checksums.ibanCheckDigits("GB", bban) + bban
    }
    t(s, dir, "orders")
      .withColumn("bban",
        lpad((col("o_orderkey") % 10000000000000000L).cast("string"), 16, "0"))
      .orderBy("o_orderkey")
      .select(col("o_orderkey"), ibanUdf(col("bban")).as("iban"))
  }

  /** Gap-based sessionization over the events stream (lag + cumulative-sum
    * windows; the batch analog of session windows). */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    graft.ops.Sessions.sessionStats(ev, "user_id", "event_id", "ts",
        gapNanos = 30L * 60 * 1000000000L)
      .withColumn("session_start",
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("session_end",
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss"))
  }

  /** Salted two-phase aggregation on a skewed key (event_type has ~5
    * values for 100k+ rows) — results identical to a plain groupBy, which
    * is exactly what the oracle asserts. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    graft.ops.Skew.saltedAgg(ev, "event_type", col("event_id"),
      cents(col("value")), salts = 16)
      .orderBy("event_type")
  }

  /** Embedding-cosine near-duplicate pairs over LSH buckets. */
  private def q32(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDups(t(s, dir, "embeddings"), threshold = 0.4,
      nBits = 8, dim = 64)
      .orderBy("id_a", "id_b")

  /** TF-IDF top-3 terms per document (explode → two hash aggs → window). */
  private def q33(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy("id", "rank")

  /** PII redaction (inverse of detection): plant SSN/IP-shaped values into
    * the corpus deterministically, then scrub with portable patterns. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents")
      .withColumn("text2",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" ssn "),
            lpad((col("doc_id") % 900 + 100).cast("string"), 3, "0"),
            lit("-42-"),
            lpad((col("doc_id") % 9000 + 1000).cast("string"), 4, "0")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" host 10.0."),
              (col("doc_id") % 250).cast("string"), lit(".7")))
          .otherwise(col("text")))
    val pats = Seq(
      "SSN" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
      "IP" -> "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b")
    // the fused gated kernel (RedactKernel, SCALE.md finding 13) — the
    // serving path of Curation.redactSits, so the DuckDB oracle gates the
    // gated scan itself (both patterns classify as digit-window here);
    // RedactKernelSpec pins bit equality with the legacy chain twin.
    // Kernels above the sort — q29 shape note (text2 synthesis stays
    // below: cheap concat, and the sort key needs only doc_id).
    planted.select("doc_id", "text2")
      .orderBy("doc_id")
      .select(col("doc_id"),
      graft.expr.RedactExprs.countAllCol(col("text2"), pats).as("n_redactions"),
      md5(graft.expr.RedactExprs.redactAllCol(col("text2"), pats)).as("redacted_md5"))
  }

  /** Deterministic train/val/test split assignment + per-split stats. */
  private def q35(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("split", graft.ops.Curation.splitCol(col("doc_id")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"))
      .orderBy("split")

  /** Grouped top-K via the typed Aggregator (bounded partial-agg state) —
    * same oracle as the window form q02: the two implementations must be
    * row-identical. */
  private def q36(s: SparkSession, dir: String): DataFrame =
    graft.ops.TopK.grouped(t(s, dir, "orders"), "o_custkey", "o_orderkey",
      "o_totalprice", k = 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
      .orderBy("o_custkey", "rank")

  /** As-of join: each click event enriched with the latest prior purchase
    * value per user (oracled against DuckDB's native ASOF JOIN). */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value", "event_id")
    graft.ops.AsOf.joinAsOf(clicks, purchases, "user_id", "ts", "value",
      "event_id", asofCol = "last_purchase_value")
      .select(col("event_id"), col("user_id"),
        round(col("last_purchase_value"), 6).as("last_purchase_value"))
      .orderBy("event_id")
  }

  /** Exact grouped quantiles (the oracle-able twin of the approx_percentile
    * sketch path — `ops/Sketches`): per-priority order-value quartiles,
    * exploded to scalar rows for the hash compare. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val probs = Seq(0.25, 0.5, 0.75)
    graft.ops.Sketches.exactQuantiles(
      t(s, dir, "orders"), "o_orderpriority", "o_totalprice", probs)
      .select(col("o_orderpriority"),
        posexplode(col("quantiles")).as(Seq("pos", "q")))
      .select(col("o_orderpriority"),
        element_at(lit(probs.toArray), col("pos") + 1).as("p"), col("q"))
      .orderBy("o_orderpriority", "p")
  }

  /** Near-dup cluster assignment: connected components (min-label
    * propagation) over the q18 LSH candidate graph — oracled against a
    * DuckDB recursive-CTE transitive closure. */
  private def q39(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.dupClusters(
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
        n = 3, bands = 4, rows = 2)
        .select("id_a", "id_b"))

  /** Benchmark decontamination: corpus docs sharing ≥5 distinct word
    * 3-grams with the "benchmark" slice (every 20th doc). */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Curation.decontaminationFlags(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", n = 3, minHits = 5)
      .orderBy("id")
  }

  /** Gopher/C4-style repetition + structure quality flags (published
    * pre-training corpus filters) per document. */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val cols = graft.ops.TextAnalysis.repetitionColumns(col("text"))
    t(s, dir, "documents").select(
      (col("doc_id") +: cols.map { case (n, c) => c.as(n) }) :+
        graft.ops.TextAnalysis.gopherKeepCol(col("text")).as("keep"): _*)
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling: per-priority keep rates (corpus
    * mixing), reproducible from key arithmetic alone. */
  private def q42(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.stratifiedSample(t(s, dir, "orders"),
      "o_orderkey", "o_orderpriority",
      Map("1-URGENT" -> 500, "2-HIGH" -> 200), defaultPerMille = 50)
      .select("o_orderkey", "o_orderpriority")
      .orderBy("o_orderkey")

  /** Interval (attribution-window) join: for each purchase, the number of
    * clicks by the same user in the preceding 30 minutes — time-bucketed
    * hash equi-join, never a nested loop. */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts")
    graft.ops.IntervalJoin.countPreceding(purchases, clicks, "user_id",
        "ts", "ts", window = 30L * 60 * 1000000000L, countAlias = "n_clicks")
      .select("event_id", "user_id", "n_clicks")
      .orderBy("event_id")
  }

  /** Corpus-unigram-LM surprisal per document (micro-nat integer
    * arithmetic — engine-exact sums). */
  private def q44(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("id")

  /** Bigram LM count table: top-3 next tokens per leading token. */
  private def q45(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramTopNext(t(s, dir, "documents"), "text", k = 3)
      .orderBy("a", "rank")

  /** IVF ANN top-3: deterministic coarse codebook (every 50th vector),
    * nProbe=2 cells per query, exact cosine re-rank within cells. */
  private def q46(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings"),
      t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0),
      k = 3, centroidStride = 50, nProbe = 2)
      .orderBy("query_id", "rank")

  /** Exact heavy hitters: top-20 corpus tokens (the oracle-able twin of
    * the count-min-sketch path, SketchesSpec bounds the CMS error). */
  private def q47(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.exactTopK(
      t(s, dir, "documents").select(
        explode(TextAnalysis.tokensCol(col("text"))).as("token")),
      "token", k = 20)

  /** Rolling window stats: per-user trailing-5-event value sum/avg over
    * event time (ROWS frame — bounded state, reuses the user partition). */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    ev.select(col("event_id"), col("user_id"),
        sum(cents(col("value"))).over(w).as("roll_sum_cents"),
        count(lit(1)).over(w).as("roll_n"))
      .withColumn("roll_avg",
        round(col("roll_sum_cents") / col("roll_n") / 100.0, 6))
      .orderBy("event_id")
  }

  /** Group z-score outliers from EXACT integer moments (Σx, Σx² in cents
    * — identical doubles on any engine, unlike built-in stddev whose
    * summation order differs): per event_type mean/std and the count of
    * |z| > 2 events. */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val x = ev.select(col("event_type"), cents(col("value")).as("xc"))
    val stats = x.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("xc")).as("sx"),
      sum(col("xc") * col("xc")).as("sxx"))
    val mean = col("sx") / col("n")
    val variance = (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)
    val std = sqrt(variance)
    x.join(broadcast(stats), "event_type")
      .withColumn("z", (col("xc") - mean) / std)
      .groupBy("event_type")
      .agg(
        first(col("n")).as("n"),
        round(first(mean) / 100.0, 6).as("mean_value"),
        round(first(std) / 100.0, 6).as("std_value"),
        sum(when(abs(col("z")) > 2, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Pivot (crosstab): events per (user decile bucket × event type) —
    * fixed pivot values so the schema is deterministic. */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    ev.withColumn("user_bucket", col("user_id") % 10)
      .groupBy("user_bucket")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_bucket")
  }

  /** ROLLUP grouping sets over (returnflag, linestatus) with grouping_id —
    * subtotal/grand-total rows, null groups made hash-stable via coalesce. */
  private def q51(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_rows"),
        sum(cents(col("l_extendedprice"))).as("revenue_cents"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
        col("gid"), col("n_rows"), col("revenue_cents"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  /** Cross-corpus incremental dedup: incoming docs (doc_id % 20 ≠ 0)
    * near-dup-matched against the existing corpus (doc_id % 20 = 0) via
    * the band join — neither corpus is paired against itself. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Dedup.crossCorpusNearDups(
      docs.filter(col("doc_id") % 20 === 0),
      docs.filter(col("doc_id") % 20 =!= 0),
      "doc_id", "text", threshold = 0.4)
      .orderBy("id_in", "id_ex")
  }

  /** HTML boilerplate strip: wrap each doc in a deterministic HTML shell
    * (script/style/comments/entities included), extract, fingerprint. */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>t</title><script>if (a<b) { spam(); }" +
        "</script><style>p { color: red }</style></head><body>" +
        "<!-- nav --><h1>Doc</h1><p>"),
      col("text"),
      lit("</p><div class=\"footer\">&amp;copy; 2026 Example &lt;corp&gt;" +
        "&nbsp;&#39;q&#39;</div></body></html>"))
    // kernel above the sort — q29 shape note
    t(s, dir, "documents").select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"),
        TextAnalysis.htmlToTextCol(html).as("extracted"))
      .select(col("doc_id"),
        length(col("extracted")).cast("long").as("n_chars"),
        md5(col("extracted")).as("text_md5"))
  }

  /** Sequence packing (concat-and-chunk, per shard of 100 docs, 512-token
    * sequences). */
  private def q54(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text",
      maxTokens = 512, docsPerShard = 100)
      .select("doc_id", "shard", "n_tokens", "seq_in_shard", "seq_offset")
      .orderBy("doc_id")

  /** Set operators (INTERSECT / EXCEPT, distinct semantics): customers
    * with urgent-and-high orders vs urgent-only. */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    val high = o.filter(col("o_orderpriority") === "2-HIGH")
      .select("o_custkey")
    urgent.intersect(high).withColumn("tag", lit("both"))
      .unionByName(urgent.except(high).withColumn("tag", lit("urgent_only")))
      .select("tag", "o_custkey")
      .orderBy("tag", "o_custkey")
  }

  /** Ordered string aggregation (the list-agg export shape): per customer,
    * their order keys as a sorted comma-joined string + count. Sorting
    * INSIDE the aggregate makes collect_list's arrival order irrelevant —
    * the only way string aggregation can be deterministic distributed. */
  private def q56(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        array_join(array_sort(collect_list(col("o_orderkey").cast("string"))),
          ",").as("order_keys"))
      .orderBy("o_custkey")

  /** Corpus-frequent n-gram boilerplate profile: per doc, the share of its
    * distinct 3-gram shingles that appear in ≥ 5 documents (exact integer
    * per-mille — no cross-engine double division). */
  private def q57(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.boilerplateProfile(t(s, dir, "documents"),
      "doc_id", "text", n = 3, minDf = 5)
      .orderBy("id")

  /** Unicode normalization: NFC + accent strip + ROOT lowercase +
    * non-alphanumeric collapse, over docs decorated with a diacritic-heavy
    * prefix so the kernel's unicode path is actually exercised (the corpus
    * itself is ASCII). Gated byte-for-byte via md5 against DuckDB's
    * nfc_normalize/strip_accents pipeline. */
  private def q58(s: SparkSession, dir: String): DataFrame =
    // kernel above the sort — q29 shape note
    t(s, dir, "documents").select("doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"),
        graft.ops.Curation.normalizeTextCol(
          concat(lit("Café Ångström Ñoño ÜBER Ärgernis—ﬁ "), col("text")))
          .as("norm"))
      .select(col("doc_id"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        md5(col("norm")).as("norm_md5"))

  /** Sliding-window chunking with overlap (64-token chunks, stride 48):
    * the long-document → training-window split, chunk text fingerprinted
    * for downstream chunk-level dedup. */
  private def q59(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
      chunkSize = 64, stride = 48)
      .orderBy("id", "chunk_idx")

  /** Temperature-weighted (α = 0.5) language rebalancing: lang d keeps
    * floor(10·√n_d) docs in deterministic md5 order — the square-root
    * corpus-mixing step that up-weights tail languages. */
  private def q60(s: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.sqrtQuotaMix(t(s, dir, "documents"),
      "doc_id", "lang", scale = 10.0)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Product-quantization codes (m=4 subspaces × k=8 centroids over the
    * 64-dim embeddings; deterministic codebook, exact integer distances). */
  private def q61(s: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(t(s, dir, "embeddings"), m = 4, k = 8,
      centroidStride = 50)
      .orderBy("vec_id")

  /** Bloom-runtime-filtered star join: lineitem pruned against URGENT
    * orders' keys before the join shuffle; FPs die in the join, so the
    * result is exactly the plain join the oracle runs. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val li = t(s, dir, "lineitem").select(col("l_orderkey"),
      cents(col("l_extendedprice")).as("price_cents"), col("l_returnflag"))
    // expectedItems must bound the LARGEST measured dim side (sf0.1 has
    // ~30k URGENT orders) — an undersized filter saturates and its real
    // fpp degrades, quietly un-pruning the shuffle this query exists to prune
    graft.ops.RuntimeFilter.bloomPruneJoin(li, urgent,
        "l_orderkey", "o_orderkey", expectedItems = 40000, fpp = 0.01)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum(col("price_cents")).as("revenue_cents"))
      .orderBy("l_returnflag")
  }

  /** PQ asymmetric-distance top-3 (the search half of IVF-PQ): corpus
    * scanned as codes, per-query centroid LUTs, exact integer distances. */
  private def q63(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(t(s, dir, "embeddings"),
      t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0),
      k = 3, m = 4, nCent = 8, centroidStride = 50)
      .orderBy("query_id", "rank")

  /** Ordered funnel (view → click → purchase): cascading running-window
    * mins qualify each stage only after the previous stage's earliest
    * qualifying event — ONE shuffle on the user key serves both window
    * passes and the final per-user aggregate (the sequential-pattern
    * analytics shape; a per-stage self-join would shuffle events three
    * times). Stage times compare in exact integer MICROseconds — DuckDB's
    * parquet reader truncates timestamps to µs, so qualifying on raw nanos
    * would let a same-µs event pair order differently across engines (the
    * same rule q68 follows). */
  private def q64(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sessions.funnelUserTimes(
      events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), expr("ts div 1000").as("ts")),
      "user_id", "event_type", "ts", "event_id",
      Seq("view", "click", "purchase"))
      .agg(
        count(col("t0")).as("n_view"),
        count(col("t1")).as("n_view_click"),
        count(col("t2")).as("n_view_click_purchase"))

  /** Retention cohorts: users grouped by first-activity day, distinct
    * active users per (cohort day, day offset) — the standard retention
    * triangle. The cohort assignment is a window min over the SAME user
    * partitioning the distinct-count shuffle needs. Day buckets by exact
    * integer division of epoch nanos. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Semi-structured (JSON) column round-trip: a JSON metadata string is
    * built with explicit concatenation (identical bytes in both engines),
    * then each engine extracts typed fields with its own JSON functions —
    * the metadata-sidecar shape every training-data pipeline carries. */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val j = concat(lit("{\"lang\":\""), col("lang"),
      lit("\",\"src\":\""), col("source"),
      lit("\",\"n\":"), col("n_chars"), lit("}"))
    t(s, dir, "documents")
      .select(col("doc_id"), j.as("meta_json"))
      // ONE from_json parse per row — n get_json_object calls would each
      // re-parse the document (n× the work in the scan stage at 100 TB)
      .select(col("doc_id"),
        from_json(col("meta_json"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "lang string, src string, n bigint")).as("m"))
      .select(col("doc_id"), col("m.lang").as("lang"),
        col("m.src").as("src"), col("m.n").as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("src")).as("n_sources"))
      .orderBy("lang")
  }

  /** CUBE grouping sets (all four marginal combinations) with grouping_id
    * — q51's ROLLUP sibling, null groups coalesced for hash stability. */
  private def q67(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_rows"),
        sum(cents(col("l_extendedprice"))).as("revenue_cents"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
        col("gid"), col("n_rows"), col("revenue_cents"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  /** Inter-event arrival gaps per user (lag over the event-time order):
    * gap count, total, and max — the latency-profile shape; one shuffle,
    * window and aggregate share the user key. Gaps are exact integer
    * MICROseconds: ns ordering stays (event-time order is full precision)
    * but emitted gaps truncate to µs, the finest unit DuckDB's parquet
    * timestamp reader preserves. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"), col("ts"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .groupBy("user_id")
      .agg(
        count(col("gap")).as("n_gaps"),
        sum(col("gap")).as("sum_gap_us"),
        max(col("gap")).as("max_gap_us"))
      .orderBy("user_id")
  }

  /** Gap-filled date spine: the full (day × event type) grid from data
    * bounds, daily counts zero-filled — the time-series densification
    * every dashboard/feature pipeline needs (a group-by alone silently
    * drops empty days). Spine is tiny by construction → broadcast side. */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(expr("ts div 86400000000000").as("day"), col("event_type"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .crossJoin(ev.select("event_type").distinct())
    spine
      .join(ev.groupBy("day", "event_type").agg(count(lit(1)).as("n_events")),
        Seq("day", "event_type"), "left")
      .na.fill(0L, Seq("n_events"))
      .orderBy("day", "event_type")
  }

  /** Blocked fuzzy-match join (entity resolution): suppliers within a
    * nation paired at Levenshtein distance ≤ 2 — the equi-join blocking
    * discipline, never an all-pairs cross product. */
  private def q70(s: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyPairs(t(s, dir, "supplier"),
      "s_suppkey", "s_name", "s_nationkey", maxDist = 2)
      .orderBy("block", "id_a", "id_b")

  /** SCD2-style validity intervals (the CDC-compaction shape): each event
    * is the user's "current" state from its µs timestamp until the next
    * event's (`lead`), open-ended for the latest — one shuffle, window
    * only. */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** Exact interpolated percentiles (median + p90 of order value per
    * priority): both engines define the continuous quantile as
    * a + (b−a)·frac over the two adjacent sorted values — identical
    * double arithmetic on exact cent inputs. */
  private def q72(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderpriority"), cents(col("o_totalprice")).as("pc"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        expr("percentile(pc, 0.5)").as("median_cents"),
        expr("percentile(pc, 0.9)").as("p90_cents"))
      .orderBy("o_orderpriority")

  /** Composed IVF-PQ top-3: coarse cells prune candidates (nProbe=2), ADC
    * scores survivors from PQ codes — the production vector-index shape,
    * all integer-exact. */
  private def q73(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(t(s, dir, "embeddings"),
      t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0),
      k = 3, m = 4, nCent = 8, pqStride = 50, coarseStride = 50, nProbe = 2)
      .orderBy("query_id", "rank")

  /** Left-semi join (EXISTS): customers holding at least one URGENT
    * order — completes the join-type matrix next to inner/outer/anti/
    * cross/asof/interval/bloom/fuzzy. Semi joins ship only the key to
    * the build side and emit each probe row at most once. */
  private def q74(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(
        t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("acctbal_cents"))
      .orderBy("c_custkey")

  /** UNPIVOT (melt) — the inverse of q50's pivot: wide per-nation money
    * columns back to (nation, measure, value) rows via `stack`. */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "supplier")
      .groupBy("s_nationkey")
      .agg(
        sum(cents(col("s_acctbal"))).as("total_cents"),
        max(cents(col("s_acctbal"))).as("max_cents"),
        min(cents(col("s_acctbal"))).as("min_cents"))
    wide.select(col("s_nationkey"),
        expr("stack(3, 'total', total_cents, 'max', max_cents, " +
          "'min', min_cents) AS (measure, value_cents)"))
      .orderBy("s_nationkey", "measure")
  }

  /** Model-based quality filter (fasttext-inference shape): hashed
    * bag-of-words → weight gather → exact integer logit, keep = logit>0. */
  private def q76(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashedLinearScore(t(s, dir, "documents"),
      "doc_id", "text", dim = 1024)
      .orderBy("id")

  /** Repeated-passage mining: non-overlapping 32-token chunks
    * fingerprinted and counted across the corpus — chunk-level exact
    * dedup's discovery stage (the md5 is the shuffle key, never text). */
  private def q77(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
      chunkSize = 32, stride = 32)
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("id")).as("n_docs"))
      .filter(col("n_occurrences") > 1)
      .orderBy("chunk_md5")

  /** Per-stratum ntile deciles of order value. Partitioning by the
    * stratum keeps the sort parallel (|strata| tasks) — a GLOBAL ntile
    * would single-task the whole table at 100 TB; true global deciles go
    * through [[graft.ops.Sketches.exactGlobalNtile]] (q80). */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority").orderBy(col("pc"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        cents(col("o_totalprice")).as("pc"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy("o_orderpriority", "decile")
      .agg(count(lit(1)).as("n_orders"),
        min(col("pc")).as("min_cents"), max(col("pc")).as("max_cents"))
      .orderBy("o_orderpriority", "decile")
  }

  /** EXACT GLOBAL deciles at scale — the operator q78's scaladoc promises:
    * approx boundaries bucket the table (parallel), a tiny offsets frame
    * prefix-sums bucket counts, per-bucket window ranks refine to the
    * exact global rank, and the ntile fill rule assigns the tile. Same
    * answer as a global `ntile(10) OVER (ORDER BY pc, key)` — without its
    * single-task sort. Verified per-tile (count/min/max of the cents). */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    val priced = t(s, dir, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("pc"))
    ops.Sketches.exactGlobalNtile(priced, "pc", "o_orderkey", k = 10)
      .groupBy(col("tile").as("decile"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("pc")).as("min_cents"), max(col("pc")).as("max_cents"))
      .orderBy("decile")
  }

  /** Corpus-trained BPE: ONE word-count shuffle bounds a 200-word
    * frequency table, 16 greedy merges train driver-side on it, and the
    * merges broadcast back for narrow one-pass encoding. The oracle
    * RETRAINS the identical table in DuckDB (unrolled list-op stages,
    * ties by (count desc, pair asc)) and re-encodes — the per-doc md5
    * pins every merge decision cross-engine. */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = ops.Bpe.trainOnCorpus(docs, "text",
      vocabSize = BpeVocab, nMerges = BpeMerges)
    // encode ABOVE the sort (q29 shape note): written below it, the BPE
    // kernel ran serially in the one-split scan stage AND re-ran in the
    // range-partitioner's sampling pass; above it, one parallel pass.
    // Rows and their doc_id order are identical — the projection is
    // per-row and the filter inside encode only drops rows, so the
    // pre-established sort order carries through (no outer orderBy: the
    // optimizer's EliminateSorts would fold it onto the inner one and
    // re-sink the kernel below the exchange).
    ops.Bpe.encode(docs.select("doc_id", "text").orderBy("doc_id"),
        "doc_id", "text", merges)
      .select(col("doc_id"), col("n_bpe"),
        md5(array_join(col("bpe_tokens"), " ")).as("bpe_md5"))
  }

  /** Okapi BM25 top-50 against a fixed query-term set: query-filtered tf
    * (narrow before the shuffle), df via window over tf, N/avgdl as a
    * broadcast 1-row aggregate, integer micro-unit partials so the
    * per-doc sum is summation-order-free cross-engine. */
  private def q82(s: SparkSession, dir: String): DataFrame =
    ops.TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      Bm25Terms, k = 50)

  private val Bm25Terms = Seq("join", "vector", "stream", "data", "filter")

  private val BpeVocab = 200
  private val BpeMerges = 16

  /** q81's DuckDB oracle, generated: BPE training is a fixed-point loop,
    * so the `nMerges` rounds unroll into CTE stages (the same
    * rank-by-rank shape q39 used a recursive CTE for). Each stage counts
    * adjacent pairs over the split vocabulary (weighted by word
    * frequency), picks the (count desc, a, b asc) argmax, and applies it
    * with a left-to-right list_reduce fold; encoding replays the stages
    * over the corpus' distinct words. */
  private def bpeOracle(vocabSize: Int, nMerges: Int): String = {
    val fold =
      """list_reduce(
        list_transform(parts, x -> [x]),
        (acc, x) -> CASE WHEN len(acc)>0 AND acc[-1] = a AND x[1] = b
                    THEN array_append(array_pop_back(acc), a || b)
                    ELSE array_concat(acc, x) END)"""
    // MATERIALIZED: each s_i is referenced twice (pair counts + merge
    // application), so inlined CTEs would expand the base scan 2^nMerges
    // times — materialization keeps the chain linear
    val trainStage = (i: Int) => s"""
      p$i AS (SELECT u.pr[1] AS a, u.pr[2] AS b, sum(freq) AS cnt
          FROM s${i - 1}, unnest(list_zip(parts, parts[2:])) AS u(pr)
          WHERE u.pr[2] IS NOT NULL GROUP BY 1, 2),
      m$i AS MATERIALIZED (SELECT a, b FROM p$i
          ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
      s$i AS MATERIALIZED (SELECT word, freq, $fold AS parts
          FROM s${i - 1} CROSS JOIN m$i)"""
    val encStage = (i: Int) => s"""
      e$i AS MATERIALIZED (SELECT word, $fold AS parts
          FROM e${i - 1} CROSS JOIN m$i)"""
    s"""WITH tk AS MATERIALIZED (SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
            x -> x <> '') AS toks
        FROM documents),
      vocab AS (SELECT word, count(*) AS freq
          FROM (SELECT unnest(toks) AS word FROM tk) GROUP BY word
          ORDER BY freq DESC, word ASC LIMIT $vocabSize),
      s0 AS (SELECT word, freq, regexp_extract_all(word, '.') AS parts
          FROM vocab),${(1 to nMerges).map(trainStage).mkString(",")},
      dw AS (SELECT doc_id, g.i AS idx, toks[g.i] AS word
          FROM tk, unnest(generate_series(1, len(toks))) AS g(i)),
      e0 AS (SELECT word, regexp_extract_all(word, '.') AS parts
          FROM (SELECT DISTINCT word FROM dw))${(1 to nMerges).map(encStage).mkString(",", ",", "")}
      SELECT d.doc_id, CAST(sum(len(e.parts)) AS BIGINT) AS n_bpe,
        md5(string_agg(array_to_string(e.parts, ' '), ' ' ORDER BY d.idx))
          AS bpe_md5
      FROM dw d JOIN e$nMerges e USING (word)
      GROUP BY d.doc_id ORDER BY d.doc_id"""
  }

  /** RANGE-frame window (event-time, not row-count): each event counts
    * same-user events in its trailing 10 minutes — peers at equal
    * timestamps are all included, so the result is deterministic under
    * ties by definition. Per user: total events + max 10-minute burst. */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-600000000L, 0)
    events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
      .withColumn("burst", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max(col("burst")).as("max_burst_10m"))
      .orderBy("user_id")
  }

  /** Multi-touch attribution: purchase revenue split across the user's
    * preceding-7-day click/view/signup touches under first/last/linear
    * credit, rolled up per channel — exact integer money end-to-end. */
  private def q83(s: SparkSession, dir: String): DataFrame =
    graft.ops.Attribution.byChannel(events(s, dir),
      "event_id", "user_id", "ts", "event_type", "value",
      convType = "purchase", touchTypes = Seq("click", "signup", "view"),
      lookbackNanos = 7L * 24 * 3600 * 1000000000L)

  /** PageRank (10 rounds, d=0.85, integer picorank fixed point) over the
    * symmetrized customer–supplier trade graph from orders⋈lineitem.
    * Under pageRank's 2M-edge gate (sf0.01: 97k edges, sf0.1: 1.17M) the
    * rounds run on the driver. */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    // symmetrize with ONE explode, not union(pairs, pairs.reversed): the
    // union form evaluates the orders⋈lineitem+distinct subtree TWICE
    // (the two legs' aliases differ, so no exchange reuse)
    graft.ops.Graph.pageRank(
      pairs.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
  }

  /** Compaction planning: documents as stand-in file metadata (size =
    * n_chars), packed size-DESC into 64 KiB bins via the distributed
    * prefix sum — never a single-task global window. */
  private def q85(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.compactionBins(t(s, dir, "documents"),
      "doc_id", "n_chars", targetBytes = 65536L)

  /** Z-order locality audit: Morton-interleave (l_partkey, l_suppkey),
    * roll up per 2^14-wide z-cell — each cell bounds BOTH dimensions,
    * the property parquet min/max skipping needs. */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val zkey = graft.ops.Layout.zorderKey(
      Seq(col("l_partkey"), col("l_suppkey")), bits = 21)
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        shiftright(zkey, 14).as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
        min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
      .orderBy("cell")
  }

  /** ANN quality evaluation: recall@3 of the IVF index (nProbe=2)
    * against the exact brute-force neighbors, per query — the metric an
    * index parameter sweep tunes before a full 100 TB build. */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    graft.ops.Similarity.recallAtK(
      graft.ops.Similarity.bruteForceTopK(emb, queries, k = 3),
      graft.ops.Similarity.ivfTopK(emb, queries, k = 3,
        centroidStride = 50, nProbe = 2),
      k = 3)
  }

  /** Train/val/test near-dup leakage detector: 16-bit SimHash buckets
    * whose members span more than one split — the contamination a naive
    * random split leaks when near-duplicates exist (the reason dedup
    * must run BEFORE splitting; the curation DAG orders it that way). */
  private def q88(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      // zero-token docs (NULL or alnum-free text) simhash to code 0 here
      // but vanish from the oracle's unnest-based CTE entirely — exclude
      // them on this side too so the two legs agree BY CONSTRUCTION, not
      // because the generated corpus happens to contain none
      .filter(col("text").isNotNull && col("text").rlike("(?i)[a-z0-9]"))
      .select(col("doc_id"),
        graft.ops.Dedup.simhashCol(col("text"), 16).as("code"),
        graft.ops.Curation.splitCol(col("doc_id")).as("split"))
      .groupBy("code")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
      .orderBy("code")

  /** Dedup threshold sensitivity: pair counts per exact Jaccard decile
    * over the q19 pair universe — the sweep one runs BEFORE committing a
    * near-dup cutoff at full scale. Integer deciles
    * (`10·n_common DIV union`), so the histogram is engine-exact. */
  private def q89(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardDecileHistogram(t(s, dir, "documents"), "doc_id", "text",
      n = 3, maxBucket = 100)

  /** Substring-level exact dedup, detection half (Lee et al. 2022): every
    * maximal token span covered by 10-token shingles repeated ≥2 times
    * corpus-wide — the span-granular curation op that document-level
    * dedup (q17–q20) structurally misses. */
  private def q90(s: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text", n = 10)
      .select(col("id").as("doc_id"), col("span_id").cast("long").as("span_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("n_shingles").cast("long").as("n_shingles"))
      .orderBy("doc_id", "span_start")

  /** Substring-level exact dedup, removal half: kept-token counts + md5 of
    * each doc's span-stripped token stream. */
  private def q91(s: SparkSession, dir: String): DataFrame =
    Dedup.stripRepeatedSpans(t(s, dir, "documents"), "doc_id", "text", n = 10)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
        col("clean_md5"))
      .orderBy("doc_id")

  /** Incremental substring dedup (the q52 cross-corpus pattern applied to
    * q90): even-id docs play the persisted base corpus — their per-shingle
    * occurrence table is built once — and odd-id docs arrive as the
    * increment, probing the table without re-shingling the base. The
    * oracle is deliberately the BATCH form's SQL over the full corpus
    * restricted to odd ids: a hash match proves the incremental path
    * computes exactly what re-running batch dedup over the union would. */
  /** The ONE memoized build of q100/q101's shared base occurrence table
    * (even-id docs, n=10) — a single closure so the two callers can never
    * silently diverge on what the shared memo key materializes
    * (r11 review: two independently-maintained copies were an
    * execution-order hazard). */
  private def q100BaseOccPath(s: SparkSession, dir: String): String =
    MemoParquet(s"q100_base_occ:$dir") { out =>
      Dedup.shingleOccurrenceTable(
          t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
          "text", n = 10)
        .write.mode("overwrite").parquet(out)
    }

  private def q100(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // Bench-number honesty note (the q13 pattern, r11 verdict item 2):
    // the BASE-state build (shingleOccurrenceTable over the even half) is
    // the deployment's ONE-TIME indexing cost — in the streaming lane it
    // persists across every increment — while the operator under test is
    // the per-increment probe. The table is deterministic per sf-dir, so
    // it materializes once per JVM: rep 1 pays build+write (visible in
    // the artifact's rep list), reps 2+ and the reported MEDIAN measure
    // the increment. Verify runs q100 once, paying the full path, and the
    // oracle compares the identical frame either way.
    val basePath = q100BaseOccPath(s, dir)
    // microBatchMaxBytes = -1: q100's claim is the AT-SCALE shuffle lane
    // (finding 20's slim shape, PlanAuditSpec-pinned) — at sf-dir sizes
    // the r11 micro-batch broadcast gate would otherwise engage and the
    // bench would measure the streaming shape instead (that gate's
    // correctness and plan have their own pins in IncrementalDedupSpec)
    Dedup.incrementalRepeatedSpans(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", s.read.parquet(basePath), n = 10,
        microBatchMaxBytes = Dedup.MicroBatchGateDisabled)
      .select(col("id").as("doc_id"),
        col("span_id").cast("long").as("span_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("n_shingles").cast("long").as("n_shingles"))
      .orderBy("doc_id", "span_start")
  }

  /** Retroactive-coverage sweep (q100's other lambda half,
    * [[graft.ops.Dedup.retroactiveSpanSweep]]): even-id docs are the
    * INDEXED base — positions index, occurrence table, and prior spans
    * are the persisted one-time artifacts, memoized per JVM like q100's
    * state (Verify's single run pays them; the median measures the
    * sweep) — and the odd-id docs are the accumulated increments, whose
    * counts push base shingles over the threshold. The sweep recomputes
    * ONLY the affected base docs from the positions index (no base text
    * re-shingles) and composes with the kept prior spans; the oracle is
    * the batch form's SQL over the full corpus restricted to EVEN ids,
    * so a hash match proves kept-prior ∪ sweep == re-running batch span
    * dedup over the union, base side — the retroactive companion to
    * q100's increment-side claim. Under the sweep's row gate
    * ([[graft.ops.DriverLocal.MaxRows]] per input) the sweep and its
    * composition ([[graft.ops.Dedup.composeSweep]], ordered by doc_id,
    * span_start) run on the driver and the result is a LocalRelation;
    * past it the Spark forms serve. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    // read only by the memo builders, which run once per JVM
    lazy val docs = t(s, dir, "documents")
    lazy val base = docs.filter(col("doc_id") % 2 === 0)
    val basePosPath = MemoParquet(s"q101_base_pos:$dir") { out =>
      Dedup.shinglePositionsTable(base, "doc_id", "text", n = 10)
        .write.mode("overwrite").parquet(out)
    }
    val baseSpansPath = MemoParquet(s"q101_base_spans:$dir") { out =>
      Dedup.repeatedSpans(base, "doc_id", "text", n = 10)
        .write.mode("overwrite").parquet(out)
    }
    // state tables: prev = base-only (shared with q100's memo), delta =
    // the increments' counts — in deployment both are OccStateStore
    // reads (read(prev) + readDeltasBetween), not sweep work
    val baseOccPath = q100BaseOccPath(s, dir)
    val deltaOccPath = MemoParquet(s"q101_delta_occ:$dir") { out =>
      Dedup.shingleOccurrenceTable(
          docs.filter(col("doc_id") % 2 === 1), "text", n = 10)
        .write.mode("overwrite").parquet(out)
    }
    val sweep = Dedup.retroactiveSpanSweepDelta(
      MemoParquet.read(s, basePosPath), MemoParquet.read(s, baseOccPath),
      MemoParquet.read(s, deltaOccPath), n = 10)
    Dedup.composeSweep(MemoParquet.read(s, baseSpansPath), sweep)
      .select(col("id").as("doc_id"),
        col("span_id").cast("long").as("span_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("n_shingles").cast("long").as("n_shingles"))
  }

  /** ANN serving over an APPENDED persisted IVF index (r12,
    * [[graft.ops.VectorIndex.appendToIvf]]): the index is built ONCE over
    * the base vectors (vec_id % 10 ≠ 3 — a split that keeps every stride-50
    * codebook row in the base, so the frozen codebook equals the
    * full-corpus one) and the remaining tenth arrives later as an append,
    * encoded with the persisted codebook and landed inside the existing
    * cell partitions. The oracle is deliberately q46's declarative IVF SQL
    * verbatim: with this split, serve-over-(build ∪ append) must equal a
    * single-shot build over the union — a hash match proves the append
    * path (frozen-codebook encode, partition-preserving file append,
    * static cell pruning over base+appended files) drops, duplicates, and
    * mis-routes nothing. Build+append memoized per sf-dir (one-time
    * artifacts; the bench median measures serving). */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idxPath = MemoParquet(s"q102_ivf_idx:$dir") { out =>
      VectorIndex.buildIvf(emb.filter(col("vec_id") % 10 =!= 3), out,
        centroidStride = 50)
      VectorIndex.appendToIvf(emb.filter(col("vec_id") % 10 === 3), out,
        appendId = 0L)
    }
    VectorIndex.ivfTopKIndexed(s, idxPath,
        emb.filter(col("vec_id") % 25 === 0), k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
  }

  /** ANN serving over a MULTI-batch appended IVF index WITH a replayed
    * append (r13, the `append_id` idempotency contract): the base drops
    * two tenths (vec_id % 10 ∈ {3, 7} — every stride-50 codebook row has
    * vec_id % 10 = 0, so the frozen codebook still equals the
    * full-corpus one), the tenths arrive as appends 0 and 1, and append
    * 1 is DELIBERATELY APPLIED TWICE — the foreachBatch-retry shape.
    * The oracle is again q46's single-shot IVF SQL verbatim: a hash
    * match proves the replay duplicated nothing and the multi-append
    * union serves exactly the one-shot build (the streaming ingest
    * lane's correctness premise, DuckDB-gated). */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idxPath = MemoParquet(s"q104_ivf_multi:$dir") { out =>
      VectorIndex.buildIvf(
        emb.filter(col("vec_id") % 10 =!= 3 && col("vec_id") % 10 =!= 7),
        out, centroidStride = 50)
      VectorIndex.appendToIvf(emb.filter(col("vec_id") % 10 === 3), out,
        appendId = 0L)
      VectorIndex.appendToIvf(emb.filter(col("vec_id") % 10 === 7), out,
        appendId = 1L)
      // replay of append 1: must overwrite itself, not duplicate
      VectorIndex.appendToIvf(emb.filter(col("vec_id") % 10 === 7), out,
        appendId = 1L)
    }
    VectorIndex.ivfTopKIndexed(s, idxPath,
        emb.filter(col("vec_id") % 25 === 0), k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
  }

  /** ANN serving through the append fold
    * ([[graft.ops.VectorIndex.compactAppends]] — copy-then-commit, the
    * fold that bounds a long-running ingest cadence's directory growth):
    * the base drops three tenths (every stride-50 codebook row has
    * vec_id % 10 = 0, so the frozen codebook still equals the
    * full-corpus one); each tenth is appended, folded, and then REPLAYED
    * (must be a tombstoned no-op — re-landing it would duplicate every
    * row). The second and third folds copy the previous merged dir
    * together with the new append. The oracle is q46's single-shot IVF
    * SQL verbatim: a hash match proves every fold copied every row
    * exactly once, every tombstone swallowed its replay, and post-fold
    * appends still serve. */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idxPath = MemoParquet(s"q105_ivf_compact:$dir") { out =>
      VectorIndex.buildIvf(
        emb.filter(col("vec_id") % 10 =!= 3 && col("vec_id") % 10 =!= 7 &&
          col("vec_id") % 10 =!= 9),
        out, centroidStride = 50)
      Seq(3, 7, 9).zipWithIndex.foreach { case (tenth, appendId) =>
        val batch = emb.filter(col("vec_id") % 10 === tenth)
        VectorIndex.appendToIvf(batch, out, appendId.toLong)
        VectorIndex.compactAppends(s, out)
        VectorIndex.appendToIvf(batch, out, appendId.toLong)
      }
    }
    VectorIndex.ivfTopKIndexed(s, idxPath,
        emb.filter(col("vec_id") % 25 === 0), k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
  }

  /** ANN serving over an index grown by the STREAMING INGEST DRIVER
    * (the composition q105 gates only through the batch API): three
    * vector tenths arrive as micro-batches through
    * [[graft.streaming.StreamingVectorIngest.processBatch]] — the
    * literal foreachBatch body: kind dispatch, `appendId = batchId`
    * keying, and the `compactEvery = 2` cadence, so batch 2's commit
    * FOLDS batches 1–2 into one merged dir mid-stream — and batch 2 is
    * then REPLAYED through the same driver (the foreachBatch-retry shape;
    * its cadence fires again and folds batch 3 into a new merged dir, so
    * the retry exercises both the tombstone and a retry-triggered
    * compaction). The oracle is q46's single-shot IVF SQL verbatim: a
    * hash match proves the whole driver loop — append, cadence fold,
    * replay — serves exactly the one-shot build. (Text→vector at ingest
    * composes in front of this driver; StreamingVectorIngestSpec pins
    * the featurized stream bit-identical to batch featurize, so this
    * identity carries.) */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idxPath = MemoParquet(s"q106_ivf_ingest:$dir") { out =>
      VectorIndex.buildIvf(
        emb.filter(col("vec_id") % 10 =!= 3 && col("vec_id") % 10 =!= 7 &&
          col("vec_id") % 10 =!= 9),
        out, centroidStride = 50)
      Seq(1L -> 3, 2L -> 7, 3L -> 9).foreach { case (batchId, tenth) =>
        graft.streaming.StreamingVectorIngest.processBatch(
          emb.filter(col("vec_id") % 10 === tenth), batchId, out,
          compactEvery = 2)
      }
      // foreachBatch retry of batch 2 AFTER the cadence folded it
      graft.streaming.StreamingVectorIngest.processBatch(
        emb.filter(col("vec_id") % 10 === 7), 2L, out, compactEvery = 2)
    }
    VectorIndex.ivfTopKIndexed(s, idxPath,
        emb.filter(col("vec_id") % 25 === 0), k = 3, nProbe = 2)
      .orderBy("query_id", "rank")
  }

  /** Substring-span dedup through the STREAMING DRIVER (r16, r15 verdict
    * item 5 — the q106 pattern applied to the biggest spec-only lane):
    * the corpus arrives as five micro-batches through the literal
    * [[graft.streaming.StreamingSpanDedup.processBatch]] +
    * [[graft.streaming.StreamingSpanDedup.maybeSweep]] loop — batches
    * 1/3/5 under the default gate (the r16 driver-local lane at micro
    * sizes), 2/4 with the gate DISABLED (the distributed bulk lane),
    * sweeps firing at v3 and v5 on the `sweepEvery = 2` cadence (each
    * with its post-sweep compaction and positions maintenance), and
    * batch 5 REPLAYED through both calls after its sweep (the
    * foreachBatch-retry shape). The serving composition — latest sweep
    * containing an id wins over arrival spans — is hash-matched against
    * q90's batch SQL over the full corpus: a match proves the whole
    * driver loop (micro + bulk lanes, state advance, cadenced sweeps,
    * replay) computes exactly what one batch `repeatedSpans` over
    * everything ingested would. Drive memoized per sf-dir (the one-time
    * stream history; the bench median measures the composition read). */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    val outPath = MemoParquet(s"q107_span_stream:$dir") { out =>
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val work = s"$out/work"
      val stateDir = s"$work/state"
      val spansDir = s"$work/spans"
      val posPath = s"$work/positions"
      val sweepDir = s"$work/sweeps"
      def drive(bid: Long, gate: Long): Unit = {
        graft.streaming.StreamingSpanDedup.processBatch(
          docs.filter(col("doc_id") % 5 === (bid - 1L)), bid, "doc_id",
          "text", stateDir, spansDir, n = 10, minOcc = 2,
          retainVersions = 3, compactAt = 4,
          positionsPath = posPath, microBatchMaxBytes = gate)
        graft.streaming.StreamingSpanDedup.maybeSweep(s, stateDir, bid,
          sweepEvery = 2, positionsPath = posPath, sweepDir = sweepDir,
          n = 10, minOcc = 2, retainVersions = 3, compactAt = 4)
      }
      drive(1L, graft.ops.Dedup.MicroBatchMaxBytes)
      drive(2L, graft.ops.Dedup.MicroBatchGateDisabled)
      drive(3L, graft.ops.Dedup.MicroBatchMaxBytes)
      drive(4L, graft.ops.Dedup.MicroBatchGateDisabled)
      drive(5L, graft.ops.Dedup.MicroBatchMaxBytes)
      drive(5L, graft.ops.Dedup.MicroBatchMaxBytes) // foreachBatch retry
      val arrivals = s.read.parquet(spansDir)
        .select("id", "span_id", "span_start", "span_end", "n_shingles")
      val s3 = s.read.parquet(s"$sweepDir/sweep_v=3")
      val s5 = s.read.parquet(s"$sweepDir/sweep_v=5")
      val swept = s5.unionByName(
        s3.join(s5.select("id").distinct(), Seq("id"), "left_anti"))
      arrivals
        .join(swept.select("id").distinct(), Seq("id"), "left_anti")
        .unionByName(swept)
        .write.mode("overwrite").parquet(s"$out/result")
    }
    s.read.parquet(s"$outPath/result")
      .select(col("id").as("doc_id"),
        col("span_id").cast("long").as("span_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("n_shingles").cast("long").as("n_shingles"))
      .orderBy("doc_id", "span_start")
  }

  /** PQ ADC serving over an APPENDED persisted codes table (r12,
    * [[graft.ops.VectorIndex.appendToPq]]): same base/append split and
    * same oracle-by-identity argument as q102 — the PQ codebook rows
    * (vec_id ∈ {0, 50, …, 350}) all live in the base, so q63's
    * integer-exact ADC SQL is the oracle for the appended index. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idxPath = MemoParquet(s"q103_pq_idx:$dir") { out =>
      VectorIndex.buildPq(emb.filter(col("vec_id") % 10 =!= 3), out,
        m = 4, nCent = 8, centroidStride = 50)
      VectorIndex.appendToPq(emb.filter(col("vec_id") % 10 === 3), out,
        appendId = 0L)
    }
    VectorIndex.pqTopKIndexed(s, idxPath,
        emb.filter(col("vec_id") % 25 === 0), k = 3)
      .orderBy("query_id", "rank")
  }

  /** SemDeDup-style semantic dedup: IVF cells prune the pair space, a doc
    * drops when a lower-id cell-mate sits at cosine ≥ 0.4 — the
    * embedding-space (paraphrase) leg of the dedup suite. */
  private def q92(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(t(s, dir, "embeddings"), threshold = 0.4,
      centroidStride = 50)
      .orderBy("drop_id")

  /** Trained k-means codebook (2 Lloyd rounds, scaled-integer exact):
    * per-cell member counts + distortion under the TRAINED centroids —
    * the codebook-training step the stride-based IVF/PQ queries
    * deliberately skip (their docstrings point here). */
  private def q93(s: SparkSession, dir: String): DataFrame =
    graft.ops.Kmeans.kmeansCells(t(s, dir, "embeddings"), k = 8, iters = 2,
      centroidStride = 50)

  /** Hard-negative mining: per query, top-3 most-similar OTHER-label
    * vectors (exact leg; hardNegativesIvf is the guarded scale path). */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 25 === 0),
      k = 3)
      .orderBy("query_id", "rank")
  }

  /** Cluster-balanced sampling: every trained k-means cell capped at 3
    * members, picked in deterministic Knuth-hash order. */
  private def q95(s: SparkSession, dir: String): DataFrame =
    graft.ops.Kmeans.cellBalancedSample(t(s, dir, "embeddings"), m = 3,
      k = 8, iters = 2, centroidStride = 50)
      .orderBy("cell", "pick_rank")

  /** LSH candidate-retrieval quality: MinHash band pairs vs exact integer
    * Jaccard ≥ 0.4 — precision/recall per-mille, one row. */
  private def q96(s: SparkSession, dir: String): DataFrame =
    Dedup.lshQualityEval(t(s, dir, "documents"), "doc_id", "text",
      n = 3, bands = 4, rows = 2, thresholdPermille = 400,
      maxBucket = 1000, truthMaxBucket = 100)

  /** Deterministic text→embedding featurizer (hashing trick, md5 bucket +
    * sign hash, scaled-integer L2 norm): per-component signed count and
    * micro-normalized value, exploded to scalars — gates the full
    * raw-text→vector chain the similarity/k-means stack consumes. */
  private def q97(s: SparkSession, dir: String): DataFrame =
    graft.ops.Featurize.featurize(t(s, dir, "documents"), "doc_id", "text",
        dim = 64)
      .select(col("id").as("doc_id"),
        posexplode(arrays_zip(col("counts"), col("embedding_micro")))
          .as(Seq("i", "z")))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        col("z.counts").as("cnt"), col("z.embedding_micro").as("val_micro"))
      .orderBy("doc_id", "i")

  /** Trained char-bigram Naive Bayes language ID (integer micro-nat
    * log-probs, add-one smoothing), trained on the corpus's own lang
    * labels and self-classified — gates train AND inference arithmetic. */
  private def q98(s: SparkSession, dir: String): DataFrame =
    graft.ops.LangModel.langIdTrained(t(s, dir, "documents"), "doc_id",
        "text", "lang", n = 2)
      .select(col("id").as("doc_id"), col("pred_lang"), col("score_micro"))
      .orderBy("doc_id")

  /** RAW TEXT → hashed embedding → semantic dedup, end to end: q97's
    * featurizer feeds q92's SemDeDup directly (no pre-supplied embeddings
    * table anywhere in the chain) — the oracle gate for the own-featurized
    * vector lane ScaleRun phase 10 runs at 504k docs. Threshold 0.9 on
    * 64-dim hashed bag-of-words vectors (the common-word mass puts the
    * unrelated-pair cosine around 0.66 — 0.9 isolates genuine near-dups). */
  private def q99(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(
      // semanticDedup scans its input twice (codebook collect, then the
      // fused cell-assign + in-cell pair kernel — finding 15);
      // checkpointing the featurized frame runs the md5 featurizer ONCE,
      // and at scale the checkpoint is |docs|·dim·8 B — far smaller than
      // repeated corpus tokenizations
      graft.ops.Featurize.featurize(t(s, dir, "documents"), "doc_id",
        "text", dim = 64)
        .select("id", "embedding").localCheckpoint(),
      threshold = 0.9, centroidStride = 50, idCol = "id",
      vecCol = "embedding")
      .orderBy("drop_id")

  // ------------------------------------------------------------------
  //  assembled maps (ListMap: stable iteration order for Bench output)
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "q01_groupby_rollup" -> (q01 _),
    "q02_grouped_topk" -> (q02 _),
    "q03_histogram" -> (q03 _),
    "q04_distinct_set" -> (q04 _),
    "q05_label_ratio" -> (q05 _),
    "q06_star_join" -> (q06 _),
    "q07_upsert" -> (q07 _),
    "q08_anti_join" -> (q08 _),
    "q09_coalesce_path" -> (q09 _),
    "q10_bucket_sampler" -> (q10 _),
    "q11_confidence_case" -> (q11 _),
    "q12_filename_format" -> (q12 _),
    "q13_split_zip_explode" -> (q13 _),
    "q14_regex_findall" -> (q14 _),
    "q15_placeholder_rules" -> (q15 _),
    "q16_word_count" -> (q16 _),
    "q17_dedup_exact" -> (q17 _),
    "q18_minhash_lsh" -> (q18 _),
    "q19_ngram_jaccard" -> (q19 _),
    "q20_simhash" -> (q20 _),
    "q21_lang_id" -> (q21 _),
    "q22_quality_score" -> (q22 _),
    "q23_token_stats" -> (q23 _),
    "q24_cosine_topk" -> (q24 _),
    "q25_ann_lsh" -> (q25 _),
    "q26_binary_meta" -> (q26 _),
    "q27_events_window" -> (q27 _),
    "q28_luhn_ccn" -> (q28 _),
    "q29_iban_mod97" -> (q29 _),
    "q30_sessionize" -> (q30 _),
    "q31_salted_agg" -> (q31 _),
    "q32_cosine_near_dups" -> (q32 _),
    "q33_tfidf_topk" -> (q33 _),
    "q34_redact" -> (q34 _),
    "q35_dataset_split" -> (q35 _),
    "q36_topk_aggregator" -> (q36 _),
    "q37_asof_join" -> (q37 _),
    "q38_quantiles" -> (q38 _),
    "q39_dup_clusters" -> (q39 _),
    "q40_decontaminate" -> (q40 _),
    "q41_repetition_flags" -> (q41 _),
    "q42_stratified_sample" -> (q42 _),
    "q43_interval_join" -> (q43 _),
    "q44_unigram_surprisal" -> (q44 _),
    "q45_bigram_lm" -> (q45 _),
    "q46_ivf_ann" -> (q46 _),
    "q47_heavy_hitters" -> (q47 _),
    "q48_rolling_stats" -> (q48 _),
    "q49_zscore_outliers" -> (q49 _),
    "q50_pivot" -> (q50 _),
    "q51_rollup" -> (q51 _),
    "q52_cross_corpus_dedup" -> (q52 _),
    "q53_html_extract" -> (q53 _),
    "q54_sequence_pack" -> (q54 _),
    "q55_set_ops" -> (q55 _),
    "q56_string_agg" -> (q56 _),
    "q57_boilerplate" -> (q57 _),
    "q58_normalize" -> (q58 _),
    "q59_chunk_overlap" -> (q59 _),
    "q60_temperature_mix" -> (q60 _),
    "q61_pq_codes" -> (q61 _),
    "q62_bloom_join" -> (q62 _),
    "q63_pq_adc" -> (q63 _),
    "q64_funnel" -> (q64 _),
    "q65_retention" -> (q65 _),
    "q66_json_extract" -> (q66 _),
    "q67_cube" -> (q67 _),
    "q68_event_gaps" -> (q68 _),
    "q69_date_spine" -> (q69 _),
    "q70_fuzzy_join" -> (q70 _),
    "q71_scd2_intervals" -> (q71 _),
    "q72_percentiles" -> (q72 _),
    "q73_ivf_pq" -> (q73 _),
    "q74_semi_join" -> (q74 _),
    "q75_unpivot" -> (q75 _),
    "q76_linear_filter" -> (q76 _),
    "q77_repeated_chunks" -> (q77 _),
    "q78_ntile_deciles" -> (q78 _),
    "q79_range_frame" -> (q79 _),
    "q80_global_deciles" -> (q80 _),
    "q81_bpe_encode" -> (q81 _),
    "q82_bm25_topk" -> (q82 _),
    "q83_attribution" -> (q83 _),
    "q84_pagerank" -> (q84 _),
    "q85_compaction_bins" -> (q85 _),
    "q86_zorder_cells" -> (q86 _),
    "q87_ann_recall" -> (q87 _),
    "q88_split_leakage" -> (q88 _),
    "q89_jaccard_deciles" -> (q89 _),
    "q90_substring_spans" -> (q90 _),
    "q91_substring_strip" -> (q91 _),
    "q92_semantic_dedup" -> (q92 _),
    "q93_kmeans_cells" -> (q93 _),
    "q94_hard_negatives" -> (q94 _),
    "q95_cell_balanced_sample" -> (q95 _),
    "q96_lsh_quality" -> (q96 _),
    "q97_featurize" -> (q97 _),
    "q98_langid_trained" -> (q98 _),
    "q99_featurize_dedup" -> (q99 _),
    "q100_incremental_spans" -> (q100 _),
    "q101_retroactive_sweep" -> (q101 _),
    "q102_ivf_append" -> (q102 _),
    "q103_pq_append" -> (q103 _),
    "q104_ivf_replayed_append" -> (q104 _),
    "q105_ivf_append_compact" -> (q105 _),
    "q106_ivf_stream_ingest" -> (q106 _),
    "q107_span_stream_driver" -> (q107 _))

  /** Shared CTE chain for the q90/q91 substring-dedup oracles: positional
    * 10-token shingles (pos zero-based, window [pos, pos+10)), occurrence
    * filter (≥2 sites corpus-wide, multiplicity), gaps-and-islands span
    * merge — the DuckDB twin of `Dedup.repeatedSpans`' arithmetic. */
  private val substringSpanCtes: String =
    """WITH tok AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '') AS t
         FROM documents),
       sh AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+9], ' ') AS s
              FROM (SELECT doc_id, t,
                      unnest(generate_series(1, len(t) - 9)) AS i
                    FROM tok WHERE len(t) >= 10)),
       occ AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
       cov AS (SELECT doc_id, pos FROM sh JOIN occ USING (s)),
       isl AS (SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(max(pos + 10) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS new_span
               FROM cov),
       sp AS (SELECT doc_id, pos,
                sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
              FROM isl)"""

  /** q46's declarative IVF SQL (stride-50 codebook over the FULL table,
    * nProbe=2, exact in-cell cosine re-rank, k=3). Shared verbatim with
    * q102: the append split (vec_id % 10 = 3) keeps every stride row in
    * the base, so serve-over-(build ∪ append) must hash-match a
    * single-shot build over the union — the oracle FOR the append path. */
  private val ivfStride50OracleSql: String =
    """WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
                  WHERE vec_id % 50 = 0),
         ad AS (SELECT e.vec_id, c.cid,
                  round(sum(e.embedding[idx.i]::DOUBLE * c.ce[idx.i]::DOUBLE), 6)
                    AS dot
                FROM embeddings e, cent c, idx GROUP BY 1, 2),
         asn AS (SELECT vec_id, cid AS cell FROM
                   (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                      ORDER BY dot DESC, cid ASC) AS rn FROM ad)
                 WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, cid AS cell FROM
                      (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                         ORDER BY dot DESC, cid ASC) AS rn
                       FROM ad WHERE vec_id % 25 = 0)
                    WHERE rn <= 2),
         n AS (SELECT vec_id,
                 sqrt(sum(embedding[idx.i]::DOUBLE * embedding[idx.i]::DOUBLE)) AS nrm
               FROM embeddings, idx GROUP BY vec_id),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
                  FROM probes p JOIN asn a ON a.cell = p.cell
                  WHERE a.vec_id <> p.query_id),
         d AS (SELECT query_id, neighbor_id,
                 sum(eq.embedding[idx.i]::DOUBLE * ec.embedding[idx.i]::DOUBLE) AS dot
               FROM cand JOIN embeddings eq ON eq.vec_id = query_id
                         JOIN embeddings ec ON ec.vec_id = neighbor_id, idx
               GROUP BY 1, 2),
         sc AS (SELECT query_id, neighbor_id,
                 round(dot / (nq.nrm * nc.nrm), 6) AS cosine_sim
                FROM d JOIN n nq ON nq.vec_id = query_id
                       JOIN n nc ON nc.vec_id = neighbor_id),
         r AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
               FROM sc)
         SELECT query_id, neighbor_id, cosine_sim, rank FROM r
         WHERE rank <= 3 ORDER BY query_id, rank"""

  /** q63's integer-exact PQ ADC SQL (m=4, nCent=8, stride-50 codebook) —
    * shared verbatim with q103 under the same append-split identity. */
  private val pqAdcOracleSql: String =
    """WITH iv AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
           FROM embeddings),
         cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx,
             v AS cv
           FROM iv WHERE vec_id % 50 = 0 AND vec_id < 400),
         sub AS (SELECT vec_id, v, s
           FROM iv CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)),
         dist AS (SELECT vec_id, s, cidx,
             CAST(list_sum(list_transform(generate_series(1, 16),
               i -> (v[s*16+i] - cv[s*16+i]) * (v[s*16+i] - cv[s*16+i]))) AS BIGINT) AS d
           FROM sub CROSS JOIN cb),
         codes AS (SELECT vec_id, s, cidx FROM (
             SELECT vec_id, s, cidx,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cidx) AS rn
             FROM dist) WHERE rn = 1),
         qd AS (SELECT vec_id AS query_id, s, cidx, d
           FROM dist WHERE vec_id % 25 = 0),
         ad AS (SELECT qd.query_id, c.vec_id AS neighbor_id,
             CAST(sum(qd.d) AS BIGINT) AS adist
           FROM codes c JOIN qd ON qd.s = c.s AND qd.cidx = c.cidx
           WHERE c.vec_id <> qd.query_id
           GROUP BY qd.query_id, c.vec_id),
         r AS (SELECT query_id, neighbor_id, adist,
             row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
           FROM ad)
         SELECT query_id, neighbor_id, adist, CAST(rn AS BIGINT) AS rank
         FROM r WHERE rn <= 3 ORDER BY query_id, rank"""

  def oracleSql: Map[String, String] = ListMap(
    "q01_groupby_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_grouped_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
           FROM orders) WHERE rank <= 3
         ORDER BY o_custkey, rank""",
    "q03_histogram" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q04_distinct_set" ->
      """SELECT o_custkey,
         string_agg(DISTINCT o_orderpriority, ';' ORDER BY o_orderpriority) AS priority_set
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q05_label_ratio" ->
      """SELECT CASE WHEN (l_orderkey*2654435761)%100 < 50 THEN 'TP' ELSE 'FP' END AS label,
         count(*) AS n FROM lineitem GROUP BY 1 ORDER BY label""",
    "q06_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q07_upsert" ->
      """SELECT coalesce(i.doc_id, e.doc_id) AS doc_id,
                coalesce(i.price, e.price) AS price,
                coalesce(i.src, e.src) AS src
         FROM (SELECT o_orderkey AS doc_id, o_totalprice AS price, 'old' AS src
               FROM orders WHERE o_orderkey % 3 <> 0) e
         FULL OUTER JOIN
              (SELECT o_orderkey AS doc_id, o_totalprice*2 AS price, 'new' AS src
               FROM orders WHERE o_orderkey % 2 = 0) i
         ON e.doc_id = i.doc_id
         ORDER BY doc_id""",
    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q09_coalesce_path" ->
      """SELECT o_orderkey,
         coalesce(
           CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE 'p1_' || o_orderkey END,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'p2_' || o_orderkey END,
           'fallback') AS resolved
         FROM orders ORDER BY o_orderkey""",
    "q10_bucket_sampler" ->
      """WITH r AS (SELECT o_orderkey, (o_orderkey*48271)%100 AS r FROM orders)
         SELECT CASE WHEN r < 30 THEN '1' WHEN r < 60 THEN '2-3'
                     WHEN r < 90 THEN '4-6' ELSE '>6' END AS bucket,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN r < 30 THEN 1
                    WHEN r < 60 THEN 2 + (o_orderkey*16807)%2
                    WHEN r < 90 THEN 4 + (o_orderkey*69621)%3
                    ELSE 7 + (o_orderkey*40692)%4 END) AS BIGINT) AS total_sits
         FROM r GROUP BY 1 ORDER BY bucket""",
    "q11_confidence_case" ->
      """SELECT label,
           CASE WHEN label = 'TP' THEN
                  CASE WHEN instances >= 6 THEN 'High'
                       WHEN instances BETWEEN 3 AND 5 THEN 'Medium'
                       ELSE 'Low' END
                ELSE CASE WHEN instances >= 3 THEN 'Medium' ELSE 'Low' END
           END AS confidence,
           count(*) AS n
         FROM (SELECT CASE WHEN (l_orderkey + l_linenumber) % 2 = 0
                           THEN 'TP' ELSE 'FP' END AS label,
                      l_partkey % 12 + 1 AS instances
               FROM lineitem)
         GROUP BY label, confidence ORDER BY label, confidence""",
    "q13_split_zip_explode" ->
      """WITH packed AS (
           SELECT l_orderkey AS doc_id,
             string_agg('S' || l_linenumber, ';' ORDER BY l_linenumber) AS sit_ids,
             string_agg(CASE WHEN l_linenumber % 2 = 0 THEN 'TP' ELSE 'FP' END,
                        ';' ORDER BY l_linenumber) AS labels,
             string_agg(CAST(CAST(l_quantity AS INT) AS VARCHAR),
                        ';' ORDER BY l_linenumber) AS instances
           FROM lineitem GROUP BY l_orderkey),
         exploded AS (
           SELECT doc_id,
             unnest(string_split(sit_ids, ';')) AS sit_id,
             unnest(string_split(labels, ';')) AS label,
             unnest(list_transform(string_split(instances, ';'),
               x -> CAST(x AS INT))) AS instances
           FROM packed)
         SELECT doc_id, sit_id, label, instances FROM exploded
         ORDER BY doc_id, sit_id""",
    "q12_filename_format" ->
      """SELECT o_orderkey AS doc_id,
         ['email','chat','document','pdf','email_with_attachment'][(o_orderkey % 5) + 1] AS format,
         printf('doc_%05d_%s.txt', o_orderkey,
           ['email','chat','document','pdf','email_with_attachment'][(o_orderkey % 5) + 1]) AS filename
         FROM orders ORDER BY doc_id""",
    "q14_regex_findall" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\bs[a-z]+\b')) AS BIGINT) AS n_matches,
         CASE WHEN len(regexp_extract_all(text, '\bs[a-z]+\b')) > 0
              THEN regexp_extract_all(text, '\bs[a-z]+\b')[1] ELSE NULL END AS first_match
         FROM documents ORDER BY doc_id""",
    "q15_placeholder_rules" ->
      """WITH vals AS (
           SELECT o_orderkey, CASE (o_orderkey % 8)
             WHEN 0 THEN '0000 0000 0000 0000'
             WHEN 1 THEN 'XXX-XX-XXXX'
             WHEN 2 THEN 'Customer#' || lpad(CAST(o_orderkey AS VARCHAR), 9, '0')
             WHEN 3 THEN 'sig=XXXXX'
             WHEN 4 THEN 'ab'
             WHEN 5 THEN 'abc123'
             WHEN 6 THEN '--- ---'
             ELSE '841-269-960' END AS value
           FROM orders),
         pre AS (
           SELECT o_orderkey, value, trim(value) AS sv, lower(trim(value)) AS low,
             regexp_replace(trim(value), '[^0-9]', '', 'g') AS d,
             regexp_replace(trim(value), '\s+', '', 'g') AS tok
           FROM vals)
         SELECT o_orderkey, value,
           (sv = ''
            OR contains(low,'xxx') OR contains(low,'xxxx') OR contains(low,'placeholder')
            OR contains(low,'redacted') OR contains(low,'example') OR contains(low,'sample')
            OR contains(low,'please') OR contains(low,'share') OR contains(low,'confidential')
            OR contains(low,'document') OR contains(low,'subject') OR contains(low,'generated')
            OR contains(low,'sig=xxxxx') OR contains(low,'fake') OR contains(low,'n/a')
            OR contains(low,'number') OR contains(low,'account')
            OR (contains(low,'sig=') AND (contains(low,'xxxxx') OR contains(low,'fake')))
            OR regexp_full_match(sv, '[xX*\-_]{3,}')
            OR (length(sv) >= 6 AND sv = repeat(substring(sv,1,1), length(sv)))
            OR (d <> '' AND (regexp_full_match(d, '0+')
                             OR (length(d) < 4 AND length(d) < length(sv))))
            OR length(tok) <= 2
            OR regexp_full_match(sv, '(?i)[a-z0-9._-]{1,6}')
            OR CAST(length(regexp_replace(sv, '[a-zA-Z0-9]', '', 'g')) AS DOUBLE)
               / greatest(1, length(sv)) > 0.6
            OR regexp_matches(sv, '[ilIoO0]{6,}')) AS is_placeholder
         FROM pre ORDER BY o_orderkey""",
    "q16_word_count" ->
      """SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_words,
         CAST(length(text) AS BIGINT) AS n_chars
         FROM documents ORDER BY doc_id""",
    "q17_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
         FROM documents GROUP BY 1 ORDER BY content_hash""",
    "q18_minhash_lsh" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks)-2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
           FROM tok),
         hx AS (SELECT doc_id,
             list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h1s,
             list_transform(sh, s -> (('0x' || substr(md5(s), 9, 8))::BIGINT | 1)) AS h2s
           FROM sh),
         sg AS (SELECT doc_id,
             list_transform(generate_series(0, 7), j ->
               list_min(list_transform(generate_series(1, len(h1s)), i ->
                 (h1s[i] + j * h2s[i]) % 4294967296))) AS sig
           FROM hx),
         bands AS (SELECT doc_id,
             ['0|' || sig[1] || '|' || sig[2],
              '1|' || sig[3] || '|' || sig[4],
              '2|' || sig[5] || '|' || sig[6],
              '3|' || sig[7] || '|' || sig[8]] AS bk
           FROM sg),
         expd AS (SELECT doc_id, unnest(bk) AS band FROM bands),
         -- model the engine's maxBucket=1000 band cap: an oversized band
         -- bucket contributes no candidate pairs (BoundedCollect collapse)
         capped AS (SELECT doc_id, band FROM expd
                    QUALIFY count(*) OVER (PARTITION BY band) <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id),
         dist AS (SELECT doc_id, list_distinct(sh) AS s FROM sh),
         j AS (SELECT id_a, id_b,
                 CAST(len(list_intersect(da.s, db.s)) AS DOUBLE) /
                 CAST(len(da.s) + len(db.s) - len(list_intersect(da.s, db.s)) AS DOUBLE) AS jaccard
               FROM cand JOIN dist da ON id_a = da.doc_id JOIN dist db ON id_b = db.doc_id)
         SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.4 ORDER BY id_a, id_b""",
    "q19_ngram_jaccard" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks)-2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS s
           FROM tok),
         inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         freq AS (SELECT shingle, count(*) AS df FROM inv0 GROUP BY shingle),
         inv AS (SELECT doc_id, i.shingle FROM inv0 i
                 JOIN freq USING (shingle) WHERE df <= 100),
         sz AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                   FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
         FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
         WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= 0.4
         ORDER BY id_a, id_b""",
    "q20_simhash" ->
      """WITH tok AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
           FROM documents),
         bits AS (SELECT doc_id, p,
             ((CASE WHEN ascii(substring(md5(t), (p//4)+1, 1)) >= 97
                    THEN ascii(substring(md5(t), (p//4)+1, 1)) - 87
                    ELSE ascii(substring(md5(t), (p//4)+1, 1)) - 48 END)
              >> (3 - (p % 4))) & 1 AS b
           FROM tok, (SELECT unnest(generate_series(0, 15)) AS p)),
         cnt AS (SELECT doc_id, p, sum(2*b - 1) AS c FROM bits GROUP BY doc_id, p)
         SELECT doc_id,
           CAST(sum(CASE WHEN c > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS simhash
         FROM cnt GROUP BY doc_id ORDER BY doc_id""",
    "q21_lang_id" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS toks
           FROM documents),
         sc AS (SELECT doc_id,
             len(list_filter(toks, t -> t IN ('der','die','das','und','nicht','ist','ein','mit'))) AS s_de,
             len(list_filter(toks, t -> t IN ('the','and','of','to','is','in','that','for'))) AS s_en,
             len(list_filter(toks, t -> t IN ('el','la','los','las','es','una','por','para'))) AS s_es,
             len(list_filter(toks, t -> t IN ('le','la','les','des','est','une','dans','pour'))) AS s_fr,
             len(list_filter(toks, t -> t IN ('de','shi','le','bu','wo','zhe','ni','men'))) AS s_zh
           FROM tok)
         SELECT doc_id,
           CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
                WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
                WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
                WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
                WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
         FROM sc ORDER BY doc_id""",
    "q22_quality_score" ->
      """WITH tok AS (SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS toks
           FROM documents),
         m AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(toks) AS BIGINT) AS n_words,
             round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                   / CAST(greatest(1, length(text)) AS DOUBLE), 6) AS punct_ratio,
             round(CAST(len(list_filter(toks, t -> t IN (
                 'der','die','das','und','nicht','ist','ein','mit',
                 'the','and','of','to','is','in','that','for',
                 'el','la','los','las','es','una','por','para',
                 'le','les','des','est','une','dans','pour',
                 'de','shi','bu','wo','zhe','ni','men'))) AS DOUBLE)
                   / CAST(greatest(1, len(toks)) AS DOUBLE), 6) AS stopword_ratio,
             round(CASE WHEN len(toks) > 0
                   THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                   ELSE 0.0 END, 6) AS mean_word_len
           FROM tok)
         SELECT doc_id, n_chars, n_words, punct_ratio, stopword_ratio, mean_word_len,
           round((least(n_words / 100.0, 1.0)
                  + greatest(0.0, 1.0 - punct_ratio * 5)
                  + least(stopword_ratio * 4, 1.0)
                  + CASE WHEN mean_word_len BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) / 4,
                 6) AS quality_score
         FROM m ORDER BY doc_id""",
    "q23_token_stats" ->
      """SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens
         FROM documents ORDER BY doc_id""",
    "q24_cosine_topk" ->
      """WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         n AS (SELECT vec_id, sqrt(sum(embedding[idx.i]::DOUBLE * embedding[idx.i]::DOUBLE)) AS nrm
               FROM embeddings, idx GROUP BY vec_id),
         q AS (SELECT vec_id AS query_id, embedding AS eq FROM embeddings WHERE vec_id % 25 = 0),
         d AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                 sum(q.eq[idx.i]::DOUBLE * c.embedding[idx.i]::DOUBLE) AS dot
               FROM q, embeddings c, idx
               WHERE c.vec_id <> q.query_id GROUP BY 1, 2),
         sc AS (SELECT query_id, neighbor_id,
                 round(dot / (nq.nrm * nc.nrm), 6) AS cosine_sim
                FROM d JOIN n nq ON nq.vec_id = query_id
                       JOIN n nc ON nc.vec_id = neighbor_id),
         r AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
               FROM sc)
         SELECT query_id, neighbor_id, cosine_sim, rank FROM r
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "q25_ann_lsh" ->
      """WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         jdx AS (SELECT unnest(generate_series(0, 7)) AS j),
         dots AS (SELECT e.vec_id, jdx.j,
                    sum(e.embedding[idx.i]::DOUBLE *
                        CAST((((idx.i - 1) * 131 + jdx.j * 137 + 7) % 19) - 9 AS DOUBLE)) AS dj
                  FROM embeddings e, idx, jdx GROUP BY e.vec_id, jdx.j),
         b AS (SELECT vec_id,
                 CAST(sum(CASE WHEN dj > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS bucket
               FROM dots GROUP BY vec_id),
         n AS (SELECT vec_id, sqrt(sum(embedding[idx.i]::DOUBLE * embedding[idx.i]::DOUBLE)) AS nrm
               FROM embeddings, idx GROUP BY vec_id),
         q AS (SELECT e.vec_id AS query_id, e.embedding AS eq, b.bucket
               FROM embeddings e JOIN b ON e.vec_id = b.vec_id WHERE e.vec_id % 25 = 0),
         c AS (SELECT e.vec_id AS neighbor_id, e.embedding AS ec, b.bucket
               FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
         d AS (SELECT query_id, neighbor_id,
                 sum(eq[idx.i]::DOUBLE * ec[idx.i]::DOUBLE) AS dot
               FROM q JOIN c USING (bucket), idx
               WHERE neighbor_id <> query_id GROUP BY 1, 2),
         sc AS (SELECT query_id, neighbor_id,
                 round(dot / (nq.nrm * nc.nrm), 6) AS cosine_sim
                FROM d JOIN n nq ON nq.vec_id = query_id
                       JOIN n nc ON nc.vec_id = neighbor_id),
         r AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
               FROM sc)
         SELECT query_id, neighbor_id, cosine_sim, rank FROM r
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "q26_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS content_md5
         FROM documents ORDER BY doc_id""",
    "q27_events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
         count(*) AS n_events,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "q28_luhn_ccn" ->
      """WITH b AS (SELECT o_orderkey,
             '4' || lpad(CAST(o_orderkey % 100000000000000 AS VARCHAR), 14, '0') AS body
           FROM orders),
         d AS (SELECT o_orderkey, body,
             list_sum(list_transform(generate_series(1, 15), i ->
               CASE WHEN (15 - i) % 2 = 0 THEN
                 CASE WHEN 2 * CAST(substring(body, i, 1) AS INT) > 9
                      THEN 2 * CAST(substring(body, i, 1) AS INT) - 9
                      ELSE 2 * CAST(substring(body, i, 1) AS INT) END
               ELSE CAST(substring(body, i, 1) AS INT) END)) AS total
           FROM b),
         f AS (SELECT o_orderkey,
             body || CAST((10 - total % 10) % 10 AS VARCHAR) AS fullnum FROM d)
         SELECT o_orderkey,
           substring(fullnum,1,4) || ' ' || substring(fullnum,5,4) || ' ' ||
           substring(fullnum,9,4) || ' ' || substring(fullnum,13,4) AS ccn
         FROM f ORDER BY o_orderkey""",
    "q29_iban_mod97" ->
      """WITH b AS (SELECT o_orderkey,
             lpad(CAST(o_orderkey % 10000000000000000 AS VARCHAR), 16, '0') AS bban
           FROM orders),
         c AS (SELECT o_orderkey, bban,
             98 - CAST(bban || '161100' AS HUGEINT) % 97 AS chk FROM b)
         SELECT o_orderkey,
           'GB' || lpad(CAST(chk AS VARCHAR), 2, '0') || bban AS iban
         FROM c ORDER BY o_orderkey""",
    "q30_sessionize" ->
      """WITH l AS (SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
           FROM events),
         n AS (SELECT user_id, event_id, ts,
             CASE WHEN pts IS NULL OR ts - pts > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
           FROM l),
         s AS (SELECT user_id, ts,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM n)
         SELECT user_id, session_id, count(*) AS n_events,
           strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S') AS session_end
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""",
    "q31_salted_agg" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q32_cosine_near_dups" ->
      """WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         jdx AS (SELECT unnest(generate_series(0, 7)) AS j),
         dots AS (SELECT e.vec_id, jdx.j,
                    sum(e.embedding[idx.i]::DOUBLE *
                        CAST((((idx.i - 1) * 131 + jdx.j * 137 + 7) % 19) - 9 AS DOUBLE)) AS dj
                  FROM embeddings e, idx, jdx GROUP BY e.vec_id, jdx.j),
         b AS (SELECT vec_id,
                 CAST(sum(CASE WHEN dj > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS bucket
               FROM dots GROUP BY vec_id),
         n AS (SELECT vec_id, sqrt(sum(embedding[idx.i]::DOUBLE * embedding[idx.i]::DOUBLE)) AS nrm
               FROM embeddings, idx GROUP BY vec_id),
         pairs AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b
                   FROM (SELECT e.vec_id, b.bucket FROM embeddings e JOIN b ON e.vec_id = b.vec_id) a
                   JOIN (SELECT e.vec_id, b.bucket FROM embeddings e JOIN b ON e.vec_id = b.vec_id) b2
                   USING (bucket) WHERE a.vec_id < b2.vec_id),
         d AS (SELECT id_a, id_b,
                 sum(ea.embedding[idx.i]::DOUBLE * eb.embedding[idx.i]::DOUBLE) AS dot
               FROM pairs JOIN embeddings ea ON ea.vec_id = id_a
                          JOIN embeddings eb ON eb.vec_id = id_b, idx
               GROUP BY 1, 2)
         SELECT id_a, id_b,
           round(dot / (na.nrm * nb.nrm), 6) AS cosine_sim
         FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
         WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4
         ORDER BY id_a, id_b""",
    "q33_tfidf_topk" ->
      """WITH terms AS (SELECT doc_id AS id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                    x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         nn AS (SELECT count(*) AS n FROM documents),
         sc AS (SELECT id, term, tf, df,
                  round(tf * ln((nn.n + 1.0) / (df + 1.0)), 6) AS tfidf
                FROM tf JOIN dfreq USING (term), nn),
         r AS (SELECT id, term, tf, df, tfidf,
                 CAST(row_number() OVER (PARTITION BY id
                   ORDER BY tfidf DESC, term ASC) AS INT) AS rank
               FROM sc)
         SELECT id, rank, term, tf, df, tfidf FROM r
         WHERE rank <= 3 ORDER BY id, rank""",
    "q34_redact" ->
      """WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN
                    text || ' ssn ' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')
                         || '-42-' || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0')
                  WHEN doc_id % 3 = 1 THEN
                    text || ' host 10.0.' || CAST(doc_id % 250 AS VARCHAR) || '.7'
                  ELSE text END AS text2
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text2, '\b\d{3}-\d{2}-\d{4}\b'))
                + len(regexp_extract_all(text2, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT)
             AS n_redactions,
           md5(regexp_replace(regexp_replace(text2,
                 '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                 '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g')) AS redacted_md5
         FROM planted ORDER BY doc_id""",
    "q35_dataset_split" ->
      """SELECT CASE WHEN (doc_id*2654435761) % 1000 < 800 THEN 'train'
                     WHEN (doc_id*2654435761) % 1000 < 900 THEN 'val'
                     ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
         FROM documents GROUP BY 1 ORDER BY split""",
    "q36_topk_aggregator" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
           FROM orders) WHERE rank <= 3
         ORDER BY o_custkey, rank""",
    "q37_asof_join" ->
      """SELECT l.event_id, l.user_id,
           round(r.value, 6) AS last_purchase_value
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN
              (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "q38_quantiles" ->
      """WITH qs AS (SELECT o_orderpriority,
             list_transform(quantile_cont(o_totalprice, [0.25, 0.5, 0.75]),
               x -> round(x, 6)) AS ql
           FROM orders GROUP BY 1)
         SELECT o_orderpriority, unnest([0.25, 0.5, 0.75]) AS p, unnest(ql) AS q
         FROM qs ORDER BY o_orderpriority, p""",
    "q39_dup_clusters" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks)-2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
           FROM tok),
         hx AS (SELECT doc_id,
             list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h1s,
             list_transform(sh, s -> (('0x' || substr(md5(s), 9, 8))::BIGINT | 1)) AS h2s
           FROM sh),
         sg AS (SELECT doc_id,
             list_transform(generate_series(0, 7), j ->
               list_min(list_transform(generate_series(1, len(h1s)), i ->
                 (h1s[i] + j * h2s[i]) % 4294967296))) AS sig
           FROM hx),
         bands AS (SELECT doc_id,
             ['0|' || sig[1] || '|' || sig[2],
              '1|' || sig[3] || '|' || sig[4],
              '2|' || sig[5] || '|' || sig[6],
              '3|' || sig[7] || '|' || sig[8]] AS bk
           FROM sg),
         expd AS (SELECT doc_id, unnest(bk) AS band FROM bands),
         -- model the engine's maxBucket=1000 band cap (see q18)
         capped AS (SELECT doc_id, band FROM expd
                    QUALIFY count(*) OVER (PARTITION BY band) <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id),
         edges AS (SELECT id_a AS s, id_b AS d FROM cand
                   UNION SELECT id_b, id_a FROM cand),
         reach AS (SELECT s, d FROM edges
                   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         SELECT s AS id, least(s, min(d)) AS cluster
         FROM reach GROUP BY s ORDER BY id""",
    "q40_decontaminate" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks)-2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
           FROM tok),
         corpus AS (SELECT doc_id AS id, unnest(sh) AS shingle FROM sh WHERE doc_id % 20 <> 0),
         bench AS (SELECT doc_id AS bench_id, unnest(sh) AS shingle FROM sh WHERE doc_id % 20 = 0)
         SELECT c.id, count(DISTINCT c.shingle) AS n_contaminated,
           count(DISTINCT b.bench_id) AS n_bench_docs
         FROM corpus c JOIN bench b USING (shingle)
         GROUP BY c.id HAVING count(DISTINCT c.shingle) >= 5 ORDER BY id""",
    "q41_repetition_flags" ->
      """WITH ls AS (SELECT doc_id, text,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS ls,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                 x -> x <> '')) AS n_words
           FROM documents),
         m AS (SELECT doc_id,
             len(ls) AS n_lines,
             CASE WHEN len(ls) > 0 THEN
               round(1.0 - len(list_distinct(ls))::DOUBLE / len(ls), 6)
               ELSE 0.0 END AS dup_line_frac,
             CASE WHEN len(ls) > 0 THEN
               round(len(list_filter(ls, l -> ends_with(trim(l), '...')
                 OR ends_with(trim(l), '…')))::DOUBLE / len(ls), 6)
               ELSE 0.0 END AS ellipsis_line_frac,
             round((length(regexp_replace(text, '[^#…]', '', 'g')) +
               (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE
               / greatest(1, n_words), 6) AS symbol_word_ratio,
             CASE WHEN len(ls) > 0 THEN
               round(list_sum(list_transform(ls, l -> length(l)))::DOUBLE
                 / len(ls), 6)
               ELSE 0.0 END AS mean_line_len
           FROM ls)
         SELECT doc_id, n_lines, dup_line_frac, ellipsis_line_frac,
           symbol_word_ratio, mean_line_len,
           (dup_line_frac <= 0.3 AND ellipsis_line_frac <= 0.3
            AND symbol_word_ratio <= 0.1) AS keep
         FROM m ORDER BY doc_id""",
    "q42_stratified_sample" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE (o_orderkey * 2654435761 + 40503) % 1000 <
           CASE WHEN o_orderpriority = '1-URGENT' THEN 500
                WHEN o_orderpriority = '2-HIGH' THEN 200
                ELSE 50 END
         ORDER BY o_orderkey""",
    "q43_interval_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
         SELECT p.event_id, p.user_id,
           CAST(count(c.ts) AS BIGINT) AS n_clicks
         FROM p LEFT JOIN c ON c.user_id = p.user_id
           AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
         GROUP BY 1, 2 ORDER BY event_id""",
    "q44_unigram_surprisal" ->
      """WITH terms AS (SELECT doc_id AS id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                    x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         c AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term),
         doc AS (SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             CAST(sum(tf * CAST(round(ln(c.c) * 1000000) AS BIGINT)) AS BIGINT)
               AS partial
           FROM tf JOIN c USING (term) GROUP BY id),
         tot AS (SELECT CAST(round(ln(count(*)) * 1000000) AS BIGINT) AS rt
                 FROM terms)
         SELECT id, n_tokens,
           round((n_tokens * tot.rt - partial) / n_tokens / 1e6, 6)
             AS avg_surprisal
         FROM doc, tot ORDER BY id""",
    "q45_bigram_lm" ->
      """WITH tok AS (SELECT
             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                         x -> x <> '') AS toks
           FROM documents),
         bg AS (SELECT unnest(toks[1:len(toks)-1]) AS a,
                       unnest(toks[2:len(toks)]) AS b
                FROM tok WHERE len(toks) >= 2),
         pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS pair_n
                FROM bg GROUP BY 1, 2),
         r AS (SELECT a, b, pair_n,
                 CAST(row_number() OVER (PARTITION BY a
                   ORDER BY pair_n DESC, b ASC) AS INT) AS rank
               FROM pc)
         SELECT a, b, pair_n, rank FROM r WHERE rank <= 3 ORDER BY a, rank""",
    "q46_ivf_ann" -> ivfStride50OracleSql,
    "q47_heavy_hitters" ->
      """WITH terms AS (SELECT
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                    x -> x <> '')) AS key
           FROM documents)
         SELECT key, CAST(count(*) AS BIGINT) AS n FROM terms
         GROUP BY key ORDER BY n DESC, key ASC LIMIT 20""",
    "q48_rolling_stats" ->
      """WITH w AS (SELECT event_id, user_id,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER roll AS BIGINT)
               AS roll_sum_cents,
             CAST(count(*) OVER roll AS BIGINT) AS roll_n
           FROM events
           WINDOW roll AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, roll_sum_cents, roll_n,
           round(roll_sum_cents / roll_n / 100.0, 6) AS roll_avg
         FROM w ORDER BY event_id""",
    "q49_zscore_outliers" ->
      """WITH x AS (SELECT event_type,
             CAST(floor(value * 100) AS BIGINT) AS xc FROM events),
         st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(xc * xc) AS BIGINT) AS sxx
           FROM x GROUP BY event_type)
         SELECT x.event_type, st.n,
           round(st.sx / st.n / 100.0, 6) AS mean_value,
           round(sqrt((st.sxx - st.sx * st.sx / st.n) / (st.n - 1)) / 100.0, 6)
             AS std_value,
           CAST(sum(CASE WHEN abs((x.xc - st.sx / st.n) /
               sqrt((st.sxx - st.sx * st.sx / st.n) / (st.n - 1))) > 2
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM x JOIN st USING (event_type)
         GROUP BY x.event_type, st.n, st.sx, st.sxx ORDER BY event_type""",
    "q50_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
         FROM events GROUP BY 1 ORDER BY user_bucket""",
    "q51_rollup" ->
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
           coalesce(l_linestatus, '(all)') AS l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag, l_linestatus""",
    "q52_cross_corpus_dedup" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks)-2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
           FROM tok),
         hx AS (SELECT doc_id,
             list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h1s,
             list_transform(sh, s -> (('0x' || substr(md5(s), 9, 8))::BIGINT | 1)) AS h2s
           FROM sh),
         sg AS (SELECT doc_id,
             list_transform(generate_series(0, 7), j ->
               list_min(list_transform(generate_series(1, len(h1s)), i ->
                 (h1s[i] + j * h2s[i]) % 4294967296))) AS sig
           FROM hx),
         bands AS (SELECT doc_id,
             ['0|' || sig[1] || '|' || sig[2],
              '1|' || sig[3] || '|' || sig[4],
              '2|' || sig[5] || '|' || sig[6],
              '3|' || sig[7] || '|' || sig[8]] AS bk
           FROM sg),
         expd AS (SELECT doc_id, unnest(bk) AS band FROM bands),
         -- the engine caps only the EXISTING side's band buckets
         -- (crossCorpusNearDups collapses bandsEx through BoundedCollect)
         ex AS (SELECT doc_id, band FROM expd WHERE doc_id % 20 = 0
                QUALIFY count(*) OVER (PARTITION BY band) <= 1000),
         cand AS (SELECT DISTINCT b.doc_id AS id_in, a.doc_id AS id_ex
                  FROM ex a JOIN expd b ON a.band = b.band
                  WHERE b.doc_id % 20 <> 0),
         dist AS (SELECT doc_id, list_distinct(sh) AS s FROM sh),
         j AS (SELECT id_in, id_ex,
                 CAST(len(list_intersect(di.s, de.s)) AS DOUBLE) /
                 CAST(len(di.s) + len(de.s) - len(list_intersect(di.s, de.s)) AS DOUBLE) AS jaccard
               FROM cand JOIN dist di ON id_in = di.doc_id
                         JOIN dist de ON id_ex = de.doc_id)
         SELECT id_in, id_ex, jaccard FROM j WHERE jaccard >= 0.4
         ORDER BY id_in, id_ex""",
    "q53_html_extract" ->
      """WITH h AS (SELECT doc_id,
             '<html><head><title>t</title><script>if (a<b) { spam(); }' ||
             '</script><style>p { color: red }</style></head><body>' ||
             '<!-- nav --><h1>Doc</h1><p>' || text ||
             '</p><div class="footer">&amp;copy; 2026 Example &lt;corp&gt;' ||
             '&nbsp;&#39;q&#39;</div></body></html>' AS html
           FROM documents),
         x AS (SELECT doc_id, regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(
               html,
               '(?is)<script.*?</script>', ' ', 'g'),
               '(?is)<style.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
               '<[^>]+>', ' ', 'g'),
               '&lt;', '<', 'g'),
               '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
               '&#39;', '''', 'g'),
               '&nbsp;', ' ', 'g'),
               '&amp;', '&', 'g') AS e0
           FROM h),
         e AS (SELECT doc_id,
             trim(regexp_replace(e0, '\s+', ' ', 'g')) AS extracted
           FROM x)
         SELECT doc_id, CAST(length(extracted) AS BIGINT) AS n_chars,
           md5(extracted) AS text_md5
         FROM e ORDER BY doc_id""",
    "q54_sequence_pack" ->
      """WITH tk AS (SELECT doc_id, doc_id // 100 AS shard,
             CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                  x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM tk)
         SELECT doc_id, shard, n_tokens,
           (cum - n_tokens) // 512 AS seq_in_shard,
           (cum - n_tokens) % 512 AS seq_offset
         FROM c ORDER BY doc_id""",
    "q55_set_ops" ->
      """WITH u AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
         h AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
         SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM u INTERSECT SELECT * FROM h)
         UNION ALL
         SELECT 'urgent_only' AS tag, o_custkey FROM (SELECT * FROM u EXCEPT SELECT * FROM h)
         ORDER BY tag, o_custkey""",
    "q56_string_agg" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
             ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_keys
         FROM orders WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_custkey ORDER BY o_custkey""",
    "q57_boilerplate" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks)-2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
           FROM tok),
         dist AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh),
         fr AS (SELECT s FROM dist GROUP BY s HAVING count(*) >= 5),
         hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boiler
                  FROM dist JOIN fr USING (s) GROUP BY doc_id),
         base AS (SELECT doc_id, CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles
                  FROM sh)
         SELECT b.doc_id AS id, b.n_shingles,
           CAST(coalesce(h.n_boiler, 0) AS BIGINT) AS n_boiler,
           CAST((1000 * coalesce(h.n_boiler, 0)) // b.n_shingles AS BIGINT) AS boiler_pm
         FROM base b LEFT JOIN hits h ON b.doc_id = h.doc_id ORDER BY id""",
    "q58_normalize" ->
      """WITH d AS (SELECT doc_id,
             'Café Ångström Ñoño ÜBER Ärgernis—ﬁ ' || text AS t FROM documents),
         n AS (SELECT doc_id,
             trim(regexp_replace(lower(strip_accents(nfc_normalize(t))),
               '[^a-z0-9]+', ' ', 'g')) AS norm
           FROM d)
         SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars_norm,
           md5(norm) AS norm_md5
         FROM n ORDER BY doc_id""",
    "q59_chunk_overlap" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS toks
           FROM documents),
         st AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS ntok FROM tok),
         ex AS (SELECT doc_id, toks, ntok,
             unnest(generate_series(0, ntok - 1, 48)) AS start_tok
           FROM st WHERE ntok > 0)
         SELECT doc_id AS id, start_tok // 48 AS chunk_idx, start_tok,
           CAST(least(64, ntok - start_tok) AS BIGINT) AS n_tok,
           md5(array_to_string(list_slice(toks, start_tok + 1, start_tok + 64), ' '))
             AS chunk_md5
         FROM ex ORDER BY id, chunk_idx""",
    "q60_temperature_mix" ->
      """WITH n AS (SELECT lang,
             CAST(floor(10 * sqrt(count(*))) AS BIGINT) AS quota
           FROM documents GROUP BY lang),
         r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         SELECT doc_id, lang FROM r JOIN n USING (lang)
         WHERE rn <= quota ORDER BY doc_id""",
    "q61_pq_codes" ->
      """WITH iv AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
           FROM embeddings),
         cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx,
             v AS cv
           FROM iv WHERE vec_id % 50 = 0 AND vec_id < 400),
         sub AS (SELECT vec_id, v, s
           FROM iv CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)),
         dist AS (SELECT vec_id, s, cidx,
             CAST(list_sum(list_transform(generate_series(1, 16),
               i -> (v[s*16+i] - cv[s*16+i]) * (v[s*16+i] - cv[s*16+i]))) AS BIGINT) AS d
           FROM sub CROSS JOIN cb),
         best AS (SELECT vec_id, s, cidx, d,
             row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cidx) AS rn
           FROM dist)
         SELECT vec_id,
           CAST(max(CASE WHEN s = 0 THEN cidx END) AS INTEGER) AS c0,
           CAST(max(CASE WHEN s = 1 THEN cidx END) AS INTEGER) AS c1,
           CAST(max(CASE WHEN s = 2 THEN cidx END) AS INTEGER) AS c2,
           CAST(max(CASE WHEN s = 3 THEN cidx END) AS INTEGER) AS c3,
           CAST(sum(d) AS BIGINT) AS distortion
         FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""",
    "q62_bloom_join" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q63_pq_adc" -> pqAdcOracleSql,
    "q64_funnel" ->
      """WITH w1 AS (SELECT user_id, event_id, event_type, ts,
             min(CASE WHEN event_type = 'view' THEN ts END) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS v1
           FROM events),
         w2 AS (SELECT *, CASE WHEN event_type = 'click' AND v1 IS NOT NULL
             AND ts >= v1 THEN ts END AS c2 FROM w1),
         w3 AS (SELECT *, min(c2) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS v2 FROM w2),
         w4 AS (SELECT *, CASE WHEN event_type = 'purchase' AND v2 IS NOT NULL
             AND ts >= v2 THEN ts END AS c3 FROM w3),
         u AS (SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
             min(c2) AS t2, min(c3) AS t3
           FROM w4 GROUP BY user_id)
         SELECT CAST(count(t1) AS BIGINT) AS n_view,
           CAST(count(t2) AS BIGINT) AS n_view_click,
           CAST(count(t3) AS BIGINT) AS n_view_click_purchase
         FROM u""",
    "q65_retention" ->
      """WITH e AS (SELECT user_id,
             epoch_ns(ts) // 86400000000000 AS day FROM events),
         c AS (SELECT user_id, day,
             min(day) OVER (PARTITION BY user_id) AS cohort_day FROM e)
         SELECT cohort_day, day - cohort_day AS day_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM c GROUP BY 1, 2 ORDER BY cohort_day, day_offset""",
    "q66_json_extract" ->
      """WITH j AS (SELECT doc_id,
             '{"lang":"' || lang || '","src":"' || source || '","n":' ||
               n_chars || '}' AS meta_json
           FROM documents),
         x AS (SELECT doc_id,
             json_extract_string(meta_json, '$.lang') AS lang,
             json_extract_string(meta_json, '$.src') AS src,
             CAST(json_extract_string(meta_json, '$.n') AS BIGINT) AS n_chars
           FROM j)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT src) AS BIGINT) AS n_sources
         FROM x GROUP BY lang ORDER BY lang""",
    "q67_cube" ->
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
           coalesce(l_linestatus, '(all)') AS l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag, l_linestatus""",
    "q68_event_gaps" ->
      """WITH l AS (SELECT user_id, event_id, ts,
             epoch_us(ts) - epoch_us(lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
           FROM events)
         SELECT user_id, CAST(count(gap) AS BIGINT) AS n_gaps,
           CAST(sum(gap) AS BIGINT) AS sum_gap_us,
           CAST(max(gap) AS BIGINT) AS max_gap_us
         FROM l GROUP BY user_id ORDER BY user_id""",
    "q69_date_spine" ->
      """WITH e AS (SELECT epoch_ns(ts) // 86400000000000 AS day, event_type
           FROM events),
         b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
         days AS (SELECT unnest(generate_series(d0, d1)) AS day FROM b),
         types AS (SELECT DISTINCT event_type FROM e),
         c AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_events
           FROM e GROUP BY 1, 2)
         SELECT d.day AS day, t.event_type,
           CAST(coalesce(c.n_events, 0) AS BIGINT) AS n_events
         FROM days d CROSS JOIN types t
         LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
         ORDER BY d.day, t.event_type""",
    "q70_fuzzy_join" ->
      """SELECT a.s_nationkey AS block, a.s_suppkey AS id_a,
           b.s_suppkey AS id_b,
           CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
         FROM supplier a JOIN supplier b
           ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
         WHERE levenshtein(a.s_name, b.s_name) <= 2
         ORDER BY block, id_a, id_b""",
    "q71_scd2_intervals" ->
      """SELECT user_id, event_id, event_type,
           epoch_us(ts) AS ts_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS valid_to_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) IS NULL AS is_current
         FROM events ORDER BY user_id, ts_us, event_id""",
    "q72_percentiles" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           quantile_cont(CAST(floor(o_totalprice * 100) AS BIGINT), 0.5)
             AS median_cents,
           quantile_cont(CAST(floor(o_totalprice * 100) AS BIGINT), 0.9)
             AS p90_cents
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q73_ivf_pq" ->
      """WITH iv AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
           FROM embeddings),
         coarse AS (SELECT vec_id AS ccid, v AS ccv FROM iv WHERE vec_id % 50 = 0),
         cd AS (SELECT iv.vec_id, ccid,
             CAST(list_sum(list_transform(generate_series(1, 64),
               i -> (v[i] - ccv[i]) * (v[i] - ccv[i]))) AS BIGINT) AS cdist
           FROM iv CROSS JOIN coarse),
         cr AS (SELECT vec_id, ccid, row_number() OVER
             (PARTITION BY vec_id ORDER BY cdist, ccid) AS rn FROM cd),
         cell AS (SELECT vec_id, ccid AS cell FROM cr WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, ccid AS cell FROM cr
           WHERE rn <= 2 AND vec_id % 25 = 0),
         cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx,
             v AS cv
           FROM iv WHERE vec_id % 50 = 0 AND vec_id < 400),
         sub AS (SELECT vec_id, v, s
           FROM iv CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)),
         dist AS (SELECT vec_id, s, cidx,
             CAST(list_sum(list_transform(generate_series(1, 16),
               i -> (v[s*16+i] - cv[s*16+i]) * (v[s*16+i] - cv[s*16+i]))) AS BIGINT) AS d
           FROM sub CROSS JOIN cb),
         codes AS (SELECT vec_id, s, cidx FROM (
             SELECT vec_id, s, cidx,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cidx) AS rn
             FROM dist) WHERE rn = 1),
         qd AS (SELECT vec_id AS query_id, s, cidx, d
           FROM dist WHERE vec_id % 25 = 0),
         cand AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
           FROM probes p JOIN cell c ON c.cell = p.cell
           WHERE c.vec_id <> p.query_id),
         ad AS (SELECT cand.query_id, cand.neighbor_id,
             CAST(sum(qd.d) AS BIGINT) AS adist
           FROM cand JOIN codes ON codes.vec_id = cand.neighbor_id
             JOIN qd ON qd.query_id = cand.query_id AND qd.s = codes.s
               AND qd.cidx = codes.cidx
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, adist,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adist, neighbor_id) AS rn
           FROM ad)
         SELECT query_id, neighbor_id, adist, CAST(rn AS BIGINT) AS rank
         FROM r WHERE rn <= 3 ORDER BY query_id, rank""",
    "q74_semi_join" ->
      """SELECT c_custkey, c_nationkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_cents
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey
             AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q75_unpivot" ->
      """WITH wide AS (SELECT s_nationkey,
             CAST(sum(CAST(floor(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_cents,
             CAST(max(CAST(floor(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS max_cents,
             CAST(min(CAST(floor(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS min_cents
           FROM supplier GROUP BY s_nationkey)
         SELECT s_nationkey, measure, value_cents
         FROM wide UNPIVOT INCLUDE NULLS (value_cents FOR measure IN
           (total_cents AS 'total', max_cents AS 'max', min_cents AS 'min'))
         ORDER BY s_nationkey, measure""",
    "q76_linear_filter" ->
      """WITH tok AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
               x -> x <> '')) AS t
           FROM documents),
         h AS (SELECT doc_id,
             ('0x' || substr(md5(t), 1, 8))::BIGINT % 1024 AS bucket FROM tok),
         w AS (SELECT doc_id,
             (('0x' || substr(md5(CAST(bucket AS VARCHAR)), 1, 4))::BIGINT
               % 1000) - 500 AS w
           FROM h),
         agg AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS s
           FROM w GROUP BY doc_id)
         SELECT d.doc_id AS id, CAST(coalesce(a.s, 0) AS BIGINT) AS logit_micro,
           coalesce(a.s, 0) > 0 AS keep
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY id""",
    "q77_repeated_chunks" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS toks
           FROM documents),
         st AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS ntok FROM tok),
         ex AS (SELECT doc_id, toks, ntok,
             unnest(generate_series(0, ntok - 1, 32)) AS start_tok
           FROM st WHERE ntok > 0),
         ch AS (SELECT doc_id,
             md5(array_to_string(list_slice(toks, start_tok + 1, start_tok + 32), ' '))
               AS chunk_md5
           FROM ex)
         SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM ch GROUP BY chunk_md5 HAVING count(*) > 1
         ORDER BY chunk_md5""",
    "q78_ntile_deciles" ->
      """WITH x AS (SELECT o_orderpriority, o_orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS pc,
             CAST(ntile(10) OVER (PARTITION BY o_orderpriority
               ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT), o_orderkey)
               AS BIGINT) AS decile
           FROM orders)
         SELECT o_orderpriority, decile, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(pc) AS BIGINT) AS min_cents,
           CAST(max(pc) AS BIGINT) AS max_cents
         FROM x GROUP BY 1, 2 ORDER BY o_orderpriority, decile""",
    "q79_range_frame" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         b AS (SELECT user_id,
             count(*) OVER (PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS burst
           FROM e)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(burst) AS BIGINT) AS max_burst_10m
         FROM b GROUP BY user_id ORDER BY user_id""",
    "q80_global_deciles" ->
      """WITH x AS (SELECT
             CAST(floor(o_totalprice * 100) AS BIGINT) AS pc,
             CAST(ntile(10) OVER (
               ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT), o_orderkey)
               AS BIGINT) AS decile
           FROM orders)
         SELECT decile, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(pc) AS BIGINT) AS min_cents,
           CAST(max(pc) AS BIGINT) AS max_cents
         FROM x GROUP BY decile ORDER BY decile""",
    "q81_bpe_encode" -> bpeOracle(BpeVocab, BpeMerges),
    "q82_bm25_topk" ->
      s"""WITH toks AS (SELECT doc_id AS id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                    x -> x <> '')) AS term
           FROM documents),
         lens AS (SELECT id, count(*) AS len FROM toks GROUP BY id),
         stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                          (SELECT coalesce(sum(len), 0) FROM lens) AS total),
         tf AS (SELECT id, term, count(*) AS tf FROM toks
                WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
                GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         sc AS (SELECT tf.id,
                  CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
                    (tf * 2.2) /
                    (tf + 1.2 * (0.25 + 0.75 * len / (total / n))) * 1e6)
                    AS BIGINT) AS micro
                FROM tf JOIN dfreq USING (term) JOIN lens USING (id), stats),
         agg AS (SELECT id, count(*) AS n_terms,
                   CAST(sum(micro) AS BIGINT) AS bm25_micro
                 FROM sc GROUP BY id)
         SELECT id, n_terms, bm25_micro FROM agg
         ORDER BY bm25_micro DESC, id ASC LIMIT 50""",
    "q83_attribution" ->
      """WITH c AS (SELECT event_id AS conv_id, user_id, epoch_us(ts) AS cus,
             CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         t AS (SELECT user_id, event_type AS channel, epoch_us(ts) AS tus,
             event_id AS tid
           FROM events WHERE event_type IN ('click', 'signup', 'view')),
         j AS (SELECT c.conv_id, c.cents, t.channel, t.tus, t.tid
           FROM c JOIN t ON c.user_id = t.user_id
           WHERE t.tus < c.cus AND t.tus >= c.cus - 604800000000),
         r AS (SELECT *,
             count(*) OVER (PARTITION BY conv_id) AS k,
             row_number() OVER (PARTITION BY conv_id
               ORDER BY tus, tid) AS rf,
             row_number() OVER (PARTITION BY conv_id
               ORDER BY tus DESC, tid DESC) AS rl
           FROM j)
         SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(CASE WHEN rf = 1 THEN cents ELSE 0 END) AS BIGINT)
             AS first_touch_cents,
           CAST(sum(CASE WHEN rl = 1 THEN cents ELSE 0 END) AS BIGINT)
             AS last_touch_cents,
           CAST(sum((cents * 10000) // k) AS BIGINT) AS linear_microcents
         FROM r GROUP BY channel ORDER BY channel""",
    "q84_pagerank" -> graft.ops.Graph.pageRankOracleSql(
      """SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         FROM (SELECT DISTINCT o_custkey, l_suppkey
               FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
         UNION ALL
         SELECT l_suppkey * 2 + 1, o_custkey * 2
         FROM (SELECT DISTINCT o_custkey, l_suppkey
               FROM orders JOIN lineitem ON l_orderkey = o_orderkey)"""),
    "q85_compaction_bins" ->
      """WITH f AS (SELECT doc_id, n_chars,
             sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM documents)
         SELECT CAST((cum - n_chars) // 65536 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS bytes
         FROM f GROUP BY bin ORDER BY bin""",
    "q86_zorder_cells" ->
      s"""WITH z AS (SELECT l_partkey, l_suppkey,
             (${graft.ops.Layout.zorderKeySql(
               Seq("l_partkey", "l_suppkey"), 21)}) AS zkey
           FROM lineitem)
         SELECT CAST(zkey >> 14 AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(l_partkey) AS BIGINT) AS min_part,
           CAST(max(l_partkey) AS BIGINT) AS max_part,
           CAST(min(l_suppkey) AS BIGINT) AS min_supp,
           CAST(max(l_suppkey) AS BIGINT) AS max_supp
         FROM z GROUP BY cell ORDER BY cell""",
    "q87_ann_recall" ->
      """WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         n AS (SELECT vec_id, sqrt(sum(embedding[idx.i]::DOUBLE * embedding[idx.i]::DOUBLE)) AS nrm
               FROM embeddings, idx GROUP BY vec_id),
         q AS (SELECT vec_id AS query_id, embedding AS eq FROM embeddings WHERE vec_id % 25 = 0),
         bfd AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                   sum(q.eq[idx.i]::DOUBLE * c.embedding[idx.i]::DOUBLE) AS dot
                 FROM q, embeddings c, idx
                 WHERE c.vec_id <> q.query_id GROUP BY 1, 2),
         bfs AS (SELECT query_id, neighbor_id,
                   round(dot / (nq.nrm * nc.nrm), 6) AS cosine_sim
                 FROM bfd JOIN n nq ON nq.vec_id = query_id
                          JOIN n nc ON nc.vec_id = neighbor_id),
         bf AS (SELECT query_id, neighbor_id FROM
                  (SELECT query_id, neighbor_id, row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
                   FROM bfs)
                WHERE rank <= 3),
         cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
                  WHERE vec_id % 50 = 0),
         ad AS (SELECT e.vec_id, c.cid,
                  round(sum(e.embedding[idx.i]::DOUBLE * c.ce[idx.i]::DOUBLE), 6)
                    AS dot
                FROM embeddings e, cent c, idx GROUP BY 1, 2),
         asn AS (SELECT vec_id, cid AS cell FROM
                   (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                      ORDER BY dot DESC, cid ASC) AS rn FROM ad)
                 WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, cid AS cell FROM
                      (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                         ORDER BY dot DESC, cid ASC) AS rn
                       FROM ad WHERE vec_id % 25 = 0)
                    WHERE rn <= 2),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
                  FROM probes p JOIN asn a ON a.cell = p.cell
                  WHERE a.vec_id <> p.query_id),
         ivd AS (SELECT query_id, neighbor_id,
                   sum(eq.embedding[idx.i]::DOUBLE * ec.embedding[idx.i]::DOUBLE) AS dot
                 FROM cand JOIN embeddings eq ON eq.vec_id = query_id
                           JOIN embeddings ec ON ec.vec_id = neighbor_id, idx
                 GROUP BY 1, 2),
         ivs AS (SELECT query_id, neighbor_id,
                   round(dot / (nq.nrm * nc.nrm), 6) AS cosine_sim
                 FROM ivd JOIN n nq ON nq.vec_id = query_id
                          JOIN n nc ON nc.vec_id = neighbor_id),
         ivf AS (SELECT query_id, neighbor_id FROM
                   (SELECT query_id, neighbor_id, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
                    FROM ivs)
                 WHERE rank <= 3),
         sel AS (SELECT b.query_id,
                   CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
                 FROM bf b LEFT JOIN ivf i
                   ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id)
         SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_hits,
           CAST(sum(hit) * 1000 // 3 AS BIGINT) AS recall_permille
         FROM sel GROUP BY query_id ORDER BY query_id""",
    "q88_split_leakage" ->
      """WITH tok AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
           FROM documents),
         bits AS (SELECT doc_id, p,
             ((CASE WHEN ascii(substring(md5(t), (p//4)+1, 1)) >= 97
                    THEN ascii(substring(md5(t), (p//4)+1, 1)) - 87
                    ELSE ascii(substring(md5(t), (p//4)+1, 1)) - 48 END)
              >> (3 - (p % 4))) & 1 AS b
           FROM tok, (SELECT unnest(generate_series(0, 15)) AS p)),
         cnt AS (SELECT doc_id, p, sum(2*b - 1) AS c FROM bits GROUP BY doc_id, p),
         sh AS (SELECT doc_id,
             CAST(sum(CASE WHEN c > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS code
           FROM cnt GROUP BY doc_id),
         s AS (SELECT doc_id, code,
             CASE WHEN (doc_id*2654435761) % 1000 < 800 THEN 'train'
                  WHEN (doc_id*2654435761) % 1000 < 900 THEN 'val'
                  ELSE 'test' END AS split
           FROM sh)
         SELECT code, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT split) AS BIGINT) AS n_splits
         FROM s GROUP BY code HAVING count(DISTINCT split) > 1
         ORDER BY code""",
    "q90_substring_spans" ->
      s"""$substringSpanCtes
         SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 10 AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_shingles
         FROM sp GROUP BY doc_id, span_id
         ORDER BY doc_id, span_start""",
    // q90's SQL verbatim IS the oracle for the streaming driver: the
    // composed serving view must equal one batch recompute over
    // everything the five batches ingested (see q107's scaladoc)
    "q107_span_stream_driver" ->
      s"""$substringSpanCtes
         SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 10 AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_shingles
         FROM sp GROUP BY doc_id, span_id
         ORDER BY doc_id, span_start""",
    "q91_substring_strip" ->
      s"""$substringSpanCtes,
         spans AS (SELECT doc_id, min(pos) AS s0, max(pos) + 10 AS s1
                   FROM sp GROUP BY doc_id, span_id),
         tokp AS (SELECT doc_id, i - 1 AS p, t[i] AS tk
                  FROM (SELECT doc_id, t,
                          unnest(generate_series(1, len(t))) AS i
                        FROM tok WHERE len(t) >= 1)),
         k AS (SELECT tp.doc_id, tp.p, tp.tk,
                 NOT EXISTS (SELECT 1 FROM spans s
                             WHERE s.doc_id = tp.doc_id
                               AND tp.p >= s.s0 AND tp.p < s.s1) AS kept
               FROM tokp tp)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(
             string_agg(CASE WHEN kept THEN tk END, ' ' ORDER BY p), ''))
             AS clean_md5
         FROM k GROUP BY doc_id ORDER BY doc_id""",
    "q93_kmeans_cells" ->
      graft.ops.Kmeans.kmeansOracleSql(k = 8, iters = 2, stride = 50,
        dim = 64),
    "q94_hard_negatives" ->
      """WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         n AS (SELECT vec_id, sqrt(sum(embedding[idx.i]::DOUBLE * embedding[idx.i]::DOUBLE)) AS nrm
               FROM embeddings, idx GROUP BY vec_id),
         q AS (SELECT vec_id AS query_id, label AS ql, embedding AS eq
               FROM embeddings WHERE vec_id % 25 = 0),
         d AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                 sum(q.eq[idx.i]::DOUBLE * c.embedding[idx.i]::DOUBLE) AS dot
               FROM q, embeddings c, idx
               WHERE c.vec_id <> q.query_id AND c.label <> q.ql
               GROUP BY 1, 2),
         sc AS (SELECT query_id, neighbor_id,
                 round(dot / (nq.nrm * nc.nrm), 6) AS cosine_sim
                FROM d JOIN n nq ON nq.vec_id = query_id
                       JOIN n nc ON nc.vec_id = neighbor_id),
         r AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS INT) AS rank
               FROM sc)
         SELECT query_id, neighbor_id, cosine_sim, rank FROM r
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "q95_cell_balanced_sample" ->
      graft.ops.Kmeans.cellBalancedSampleOracleSql(m = 3, k = 8, iters = 2,
        stride = 50, dim = 64),
    "q96_lsh_quality" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks)-2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
           FROM tok),
         hx AS (SELECT doc_id,
             list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h1s,
             list_transform(sh, s -> (('0x' || substr(md5(s), 9, 8))::BIGINT | 1)) AS h2s
           FROM sh),
         sg AS (SELECT doc_id,
             list_transform(generate_series(0, 7), j ->
               list_min(list_transform(generate_series(1, len(h1s)), i ->
                 (h1s[i] + j * h2s[i]) % 4294967296))) AS sig
           FROM hx),
         bands AS (SELECT doc_id,
             ['0|' || sig[1] || '|' || sig[2],
              '1|' || sig[3] || '|' || sig[4],
              '2|' || sig[5] || '|' || sig[6],
              '3|' || sig[7] || '|' || sig[8]] AS bk
           FROM sg),
         expd AS (SELECT doc_id, unnest(bk) AS band FROM bands),
         -- candidate leg models the engine's maxBucket=1000 band cap (the
         -- truth leg already models its own df<=100 cap via freq below)
         capped AS (SELECT doc_id, band FROM expd
                    QUALIFY count(*) OVER (PARTITION BY band) <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id),
         dst AS (SELECT doc_id, list_distinct(sh) AS s FROM sh),
         inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM dst),
         freq AS (SELECT shingle, count(*) AS df FROM inv0 GROUP BY shingle),
         inv AS (SELECT doc_id, i.shingle FROM inv0 i
                 JOIN freq USING (shingle) WHERE df <= 100),
         sz AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                   FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         truth AS (SELECT id_a, id_b FROM inter
                   JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
                   WHERE (1000 * n_common) // (sa.n + sb.n - n_common) >= 400),
         u AS (SELECT id_a, id_b, 1 AS c, 0 AS t FROM cand
               UNION ALL
               SELECT id_a, id_b, 0 AS c, 1 AS t FROM truth),
         g AS (SELECT id_a, id_b, max(c) AS c, max(t) AS t FROM u GROUP BY 1, 2)
         SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(sum(t), 0) AS BIGINT) AS n_true,
           CAST(coalesce(sum(c*t), 0) AS BIGINT) AS n_tp,
           CAST((1000 * coalesce(sum(c*t), 0)) // greatest(1, coalesce(sum(c), 0)) AS BIGINT) AS precision_permille,
           CAST((1000 * coalesce(sum(c*t), 0)) // greatest(1, coalesce(sum(t), 0)) AS BIGINT) AS recall_permille
         FROM g""",
    "q97_featurize" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         tkn AS (SELECT doc_id, unnest(toks) AS tk FROM tok),
         h AS (SELECT doc_id,
             ('0x' || substr(md5(tk), 1, 8))::BIGINT % 64 AS i,
             CASE WHEN ('0x' || substr(md5(tk), 9, 8))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS s
           FROM tkn),
         c AS (SELECT doc_id, i, CAST(sum(s) AS BIGINT) AS cnt
               FROM h GROUP BY 1, 2),
         spine AS (SELECT doc_id, unnest(generate_series(0, 63)) AS i
                   FROM documents),
         f AS (SELECT doc_id, i, coalesce(cnt, 0) AS cnt
               FROM spine LEFT JOIN c USING (doc_id, i)),
         ss AS (SELECT doc_id, sum(cnt * cnt) AS ss FROM f GROUP BY 1)
         SELECT f.doc_id, CAST(f.i AS BIGINT) AS i, f.cnt,
           CAST(CASE WHEN ss.ss = 0 THEN 0
                     ELSE floor((1000000 * f.cnt) / sqrt(ss.ss)) END
             AS BIGINT) AS val_micro
         FROM f JOIN ss ON f.doc_id = ss.doc_id
         ORDER BY f.doc_id, i""",
    "q98_langid_trained" ->
      """WITH g0 AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
         grams AS (SELECT doc_id, lang,
             unnest(list_transform(
               generate_series(1, greatest(len(t) - 1, 0)),
               i -> substr(t, i, 2))) AS gram
           FROM g0),
         cnt AS (SELECT lang, gram, count(*) AS c FROM grams GROUP BY 1, 2),
         vocab AS (SELECT count(DISTINCT gram) AS v FROM grams),
         tot AS (SELECT lang, count(*) AS tot FROM grams GROUP BY 1),
         w AS (SELECT lang, gram,
             CAST(round(ln((c + 1.0) / (tot + v)) * 1000000) AS BIGINT) AS w_micro
           FROM cnt JOIN tot USING (lang) CROSS JOIN vocab),
         langs AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         alln AS (SELECT count(*) AS n_all FROM documents),
         stats AS (SELECT lang,
             CAST(round(ln(CAST(n_docs AS DOUBLE) / n_all) * 1000000) AS BIGINT) AS prior_micro,
             CAST(round(ln(1.0 / (tot + v)) * 1000000) AS BIGINT) AS default_micro
           FROM langs JOIN tot USING (lang) CROSS JOIN vocab CROSS JOIN alln),
         dg AS (SELECT doc_id, gram, count(*) AS tf FROM grams GROUP BY 1, 2),
         seen AS (SELECT doc_id, w.lang, sum(tf * w_micro) AS sum_seen,
                    sum(tf) AS tf_seen
                  FROM dg JOIN w USING (gram) GROUP BY 1, 2),
         ng AS (SELECT doc_id, greatest(len(lower(text)) - 1, 0) AS n_grams
                FROM documents),
         scored AS (SELECT ng.doc_id, s.lang,
             s.prior_micro + coalesce(sum_seen, 0)
               + (n_grams - coalesce(tf_seen, 0)) * s.default_micro AS score_micro
           FROM ng CROSS JOIN stats s
           LEFT JOIN seen ON seen.doc_id = ng.doc_id AND seen.lang = s.lang)
         SELECT doc_id, lang AS pred_lang, CAST(score_micro AS BIGINT) AS score_micro
         FROM scored
         QUALIFY row_number() OVER (PARTITION BY doc_id
           ORDER BY score_micro DESC, lang ASC) = 1
         ORDER BY doc_id""",
    "q92_semantic_dedup" ->
      """WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
                  WHERE vec_id % 50 = 0),
         ad AS (SELECT e.vec_id, c.cid,
                  round(sum(e.embedding[idx.i]::DOUBLE * c.ce[idx.i]::DOUBLE), 6)
                    AS dot
                FROM embeddings e, cent c, idx GROUP BY 1, 2),
         asn AS (SELECT vec_id, cid AS cell FROM
                   (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                      ORDER BY dot DESC, cid ASC) AS rn FROM ad)
                 WHERE rn = 1),
         okcell AS (SELECT cell FROM asn GROUP BY cell
                    HAVING count(*) <= 1000),
         pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM asn a JOIN asn b ON a.cell = b.cell
                     AND a.vec_id < b.vec_id
                   JOIN okcell ok ON ok.cell = a.cell),
         n AS (SELECT vec_id,
                 sqrt(sum(embedding[idx.i]::DOUBLE * embedding[idx.i]::DOUBLE))
                   AS nrm
               FROM embeddings, idx GROUP BY vec_id),
         d AS (SELECT p.id_a, p.id_b,
                 sum(ea.embedding[idx.i]::DOUBLE * eb.embedding[idx.i]::DOUBLE)
                   AS dot
               FROM pairs p JOIN embeddings ea ON ea.vec_id = p.id_a
                            JOIN embeddings eb ON eb.vec_id = p.id_b, idx
               GROUP BY 1, 2),
         s AS (SELECT id_a, id_b, round(d.dot / (na.nrm * nb.nrm), 6) AS cos
               FROM d JOIN n na ON na.vec_id = id_a
                      JOIN n nb ON nb.vec_id = id_b)
         SELECT id_b AS drop_id, CAST(min(id_a) AS BIGINT) AS kept_by,
           max(cos) AS max_cosine
         FROM s WHERE cos >= 0.4 GROUP BY id_b ORDER BY drop_id""",
    "q89_jaccard_deciles" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks)-2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS s
           FROM tok),
         inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         freq AS (SELECT shingle, count(*) AS df FROM inv0 GROUP BY shingle),
         inv AS (SELECT doc_id, i.shingle FROM inv0 i
                 JOIN freq USING (shingle) WHERE df <= 100),
         sz AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                   FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT (10 * n_common) // (sa.n + sb.n - n_common) AS decile
                   FROM inter JOIN sz sa ON id_a = sa.doc_id
                              JOIN sz sb ON id_b = sb.doc_id)
         SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_pairs
         FROM pairs GROUP BY decile ORDER BY decile""",
    // q97's featurize chain composed into q92's SemDeDup chain — the
    // raw-text→embedding→semantic-dedup path gated cross-engine end to end
    "q99_featurize_dedup" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         tkn AS (SELECT doc_id, unnest(toks) AS tk FROM tok),
         h AS (SELECT doc_id,
             ('0x' || substr(md5(tk), 1, 8))::BIGINT % 64 AS i,
             CASE WHEN ('0x' || substr(md5(tk), 9, 8))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS s
           FROM tkn),
         c AS (SELECT doc_id, i, CAST(sum(s) AS BIGINT) AS cnt
               FROM h GROUP BY 1, 2),
         spine AS (SELECT doc_id, unnest(generate_series(0, 63)) AS i
                   FROM documents),
         f AS (SELECT doc_id, i, coalesce(cnt, 0) AS cnt
               FROM spine LEFT JOIN c USING (doc_id, i)),
         ssq AS (SELECT doc_id, sum(cnt * cnt) AS ss FROM f GROUP BY 1),
         emb AS (SELECT f.doc_id, f.i,
             CAST(CASE WHEN ssq.ss = 0 THEN 0
                       ELSE floor((1000000 * f.cnt) / sqrt(ssq.ss)) END
               AS BIGINT) / 1000000.0 AS e
           FROM f JOIN ssq ON f.doc_id = ssq.doc_id),
         cent AS (SELECT doc_id AS cid, i, e AS ce FROM emb
                  WHERE doc_id % 50 = 0),
         ad AS (SELECT emb.doc_id AS vec_id, c.cid,
                  round(sum(emb.e * c.ce), 6) AS dot
                FROM emb JOIN cent c USING (i) GROUP BY 1, 2),
         asn AS (SELECT vec_id, cid AS cell FROM
                   (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                      ORDER BY dot DESC, cid ASC) AS rn FROM ad)
                 WHERE rn = 1),
         okcell AS (SELECT cell FROM asn GROUP BY cell
                    HAVING count(*) <= 1000),
         pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM asn a JOIN asn b ON a.cell = b.cell
                     AND a.vec_id < b.vec_id
                   JOIN okcell ok ON ok.cell = a.cell),
         n AS (SELECT doc_id, sqrt(sum(e * e)) AS nrm FROM emb
               GROUP BY doc_id),
         d AS (SELECT p.id_a, p.id_b, sum(ea.e * eb.e) AS dot
               FROM pairs p JOIN emb ea ON ea.doc_id = p.id_a
                            JOIN emb eb ON eb.doc_id = p.id_b
                              AND ea.i = eb.i
               GROUP BY 1, 2),
         s AS (SELECT id_a, id_b, round(d.dot / (na.nrm * nb.nrm), 6) AS cos
               FROM d JOIN n na ON na.doc_id = id_a
                      JOIN n nb ON nb.doc_id = id_b)
         SELECT id_b AS drop_id, CAST(min(id_a) AS BIGINT) AS kept_by,
           max(cos) AS max_cosine
         FROM s WHERE cos >= 0.9 GROUP BY id_b ORDER BY drop_id""",
    // the q100 oracle is the BATCH form over the FULL corpus restricted
    // to the increment's (odd) ids — hash equality against the Spark
    // side's incremental computation (base table from even ids, probe
    // with odd ids) is exactly the incremental lane's correctness claim
    "q100_incremental_spans" ->
      s"""$substringSpanCtes
         SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 10 AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_shingles
         FROM sp WHERE doc_id % 2 = 1 GROUP BY doc_id, span_id
         ORDER BY doc_id, span_start""",
    // q101 is q100's mirror: the BATCH form restricted to the BASE (even)
    // ids — hash equality proves the sweep-composed base side (kept prior
    // spans + recomputed affected docs) matches a full union recompute
    "q101_retroactive_sweep" ->
      s"""$substringSpanCtes
         SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 10 AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_shingles
         FROM sp WHERE doc_id % 2 = 0 GROUP BY doc_id, span_id
         ORDER BY doc_id, span_start""",
    // q102/q103 reuse the q46/q63 SQL VERBATIM by design: the append split
    // keeps every codebook row in the base, so the appended index must
    // serve exactly what a single-shot build over the union serves — the
    // hash gate is on the APPEND machinery (frozen-codebook encode,
    // partition-preserving file append), not on new query semantics
    "q102_ivf_append" -> ivfStride50OracleSql,
    "q103_pq_append" -> pqAdcOracleSql,
    "q104_ivf_replayed_append" -> ivfStride50OracleSql,
    "q105_ivf_append_compact" -> ivfStride50OracleSql,
    "q106_ivf_stream_ingest" -> ivfStride50OracleSql)
}
