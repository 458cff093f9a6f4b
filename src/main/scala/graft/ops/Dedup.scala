package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora (BASELINE.json
  * north-star: LLM-training-data pipeline ops beyond the reference surface).
  *
  * All variants avoid the O(n²) all-pairs trap:
  *   - exact: one shuffle on a 128-bit content hash;
  *   - MinHash+LSH: per-row signatures (narrow), then an equi-join on band
  *     keys — only same-bucket pairs are compared;
  *   - SimHash: per-row 64/16-bit signature, banded for candidate joins;
  *   - n-gram Jaccard verify: per-pair `array_intersect`/`array_union` on
  *     carried shingle arrays — no explode at verify time.
  *
  * Hashes are md5-based (not `xxhash64`) so every signature is reproducible
  * in any engine — the DuckDB oracle computes the identical values.
  */
object Dedup {

  /** Lowercased word tokens (ASCII word chars). */
  def tokensCol(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Drop rows whose `keyCol` bucket has more than `maxBucket` members.
    *
    * Every pair generator below collapses a bucket into one row and emits
    * its member combinations — O(n²) in bucket size. Honest LSH parameters
    * keep buckets tiny, but at 100 TB one degenerate bucket (millions of
    * empty/boilerplate docs sharing a band) would materialize an
    * O(n²)-element array in a single task and OOM it. This guard counts per
    * bucket with a window aggregate — which hash-partitions on `keyCol`,
    * exactly the distribution the downstream groupBy requires, so
    * EnsureRequirements inserts no second exchange — and drops oversized
    * buckets before any pair array exists. Members of a dropped bucket are
    * by construction near-identical under the sketch; route them through
    * `exactGroups` instead of pairwise comparison. Use [[oversizedBuckets]]
    * to account for what was dropped.
    *
    * The default cap of 1000 IS the per-task memory bound: a full bucket
    * emits ≤ maxBucket²/2 pair structs from one row (1000 → ≤500k ≈ 12 MB),
    * so the cap must stay well under sqrt(task heap / struct size) — a
    * 10000 cap (50M pairs ≈ 1.2 GB in one task) OOMs a default executor,
    * observed on a 50k-doc clone-heavy corpus. */
  /** Accounting twin of the `maxBucket` guard: every bucket of `keyCol`
    * that the capped pair generators would drop, with its member count.
    * Feed it the same keyed frame (e.g. [[minhashBands]] output on "band"). */
  def oversizedBuckets(df: DataFrame, keyCol: String,
                       maxBucket: Int): DataFrame =
    df.groupBy(keyCol).agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBucket)

  /** Pure shingle kernel (n-gram windowing over lowercased word tokens;
    * short texts collapse to one whole-text shingle). */
  def shingles(text: String, n: Int): Seq[String] = {
    if (text == null) return Seq("")
    // regex-free token scan — JDK regex is serial under multithreading on
    // this JVM (see graft.expr.TokenKernel)
    val toks = graft.expr.TokenKernel.shingleTokens(text)
    if (toks.length < n) Seq(toks.mkString(" "))
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" "))
  }

  private val shinglesUdf = udf((text: String, n: Int) => shingles(text, n))

  /** Word `n`-gram shingles as strings ("w1 w2 w3"). Compiled UDF — the
    * equivalent higher-order `transform`/`slice` expression is interpreted
    * (CodegenFallback) and was the dominant cost of the dedup suite. */
  def shinglesCol(text: Column, n: Int = 3): Column =
    shinglesUdf(text, lit(n))

  /** Fused per-doc HASHED-shingle kernel: tokenize → shingle → distinct →
    * xxhash64, emitting 8-byte hashes so the shingle STRINGS never become
    * rows (`explode(array_distinct(shinglesCol))` + `xxhash64` paid a
    * string copy and a per-occurrence hash eval per exploded row).
    * Bit-identical to that chain: distinct on the TEXT (a 64-bit
    * collision of two different shingles must yield the hash twice,
    * exactly as the exploded form would — hash-hit entries are
    * byte-compared against an arena of the distinct shingles seen), and
    * the same hash value as the `xxhash64` SQL function (XXH64 over the
    * shingle's UTF-8 bytes, seed 42). Byte-level like [[shingleHashes]]
    * and [[bandKeys]] (SCALE.md finding 19): one tokenize scan emits a
    * pre-spaced byte arena ([[graft.expr.TokenBytes]]), every window is
    * a CONTIGUOUS arena slice hashed/compared in place — zero copies per
    * window. The original body built every window as a slice+mkString
    * String, deduped through `HashSet[String]`, and re-copied each
    * survivor into a `UTF8String` to hash (5.16 → 2.86 s/30k docs
    * single-thread across the two r9 rewrites). Pinned by OpsSpec's
    * real-corpus identity test + ShingleHashesSpec's sibling
    * random-unicode battery. */
  def hashedShingles(text: String, n: Int): Array[Long] = {
    val tk = graft.expr.TokenKernel.shingleTokenBytes(text)
    val count = tk.count
    val nWin = if (count < n) 1 else count - n + 1
    val win = math.min(n, count)
    var cap = 4
    while (cap < nWin * 2) cap <<= 1
    val mask = cap - 1
    val slots = new Array[Int](cap)
    java.util.Arrays.fill(slots, -1)
    val eHash = new Array[Long](nWin)
    val eOff = new Array[Int](nWin)
    val eLen = new Array[Int](nWin)
    val out = new Array[Long](nWin)
    var k = 0
    var w = 0
    while (w < nWin) {
      // window w is a contiguous pre-spaced arena slice (TokenBytes)
      val p0 = if (win == 0) 0 else tk.starts(w)
      val len = if (win == 0) 0 else tk.starts(w + win) - 1 - p0
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        tk.bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + p0,
        len, 42L)
      var hh = h ^ (h >>> 33)
      hh *= 0xff51afd7ed558ccdL
      hh ^= hh >>> 29
      var s = (hh & mask).toInt
      var dup = false
      while (!dup && slots(s) != -1) {
        val e = slots(s)
        // distinct-on-TEXT: equal-hash entries byte-compare, both sides
        // slices of the same arena
        if (eHash(e) == h && eLen(e) == len &&
          java.util.Arrays.equals(
            tk.bytes, eOff(e), eOff(e) + len, tk.bytes, p0, p0 + len))
          dup = true
        else s = (s + 1) & mask
      }
      if (!dup) {
        eHash(k) = h; eOff(k) = p0; eLen(k) = len
        slots(s) = k
        out(k) = h
        k += 1
      }
      w += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  private val hashedShinglesUdf = udf(hashedShingles _)

  def hashedShinglesCol(text: Column, n: Int = 3): Column =
    hashedShinglesUdf(text, lit(n))

  /** Distinct shingle hashes with distinct-on-HASH semantics — the
    * boilerplate chain's committed `array_distinct(transform(shinglesCol,
    * xxhash64))` form (contrast [[hashedShingles]], whose distinct is on
    * the shingle TEXT, the jaccard chain's form; the two differ only when
    * two shingles of ONE doc collide in 64 bits, ~1.3e-14 per doc).
    * Allocation-lean where both older chains were allocation-bound
    * (SCALE.md finding 19): one tokenize scan emits a pre-spaced byte
    * arena ([[graft.expr.TokenBytes]] — token bytes joined by single
    * spaces, exactly the UTF-8 bytes of the `shingles` strings, since
    * UTF-8 concatenates), every window is a CONTIGUOUS arena slice
    * hashed IN PLACE with Spark's XXH64 at the `xxhash64` SQL function's
    * seed 42; dedup is an open-addressed long set. No shingle String,
    * slice, or UTF8String copy per window.
    * First-occurrence order, like `array_distinct`. Bit-identity vs the
    * legacy chain is property-spec-pinned (`ShingleHashesSpec`). */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val tk = graft.expr.TokenKernel.shingleTokenBytes(text)
    val count = tk.count
    val nWin = if (count < n) 1 else count - n + 1
    val win = math.min(n, count) // < n tokens → one whole-text shingle
    // per-doc open-addressed long set (0 ⇔ empty slot + explicit 0L flag)
    var cap = 4
    while (cap < nWin * 2) cap <<= 1
    val mask = cap - 1
    val set = new Array[Long](cap)
    var hasZero = false
    val out = new Array[Long](nWin)
    var k = 0
    var w = 0
    while (w < nWin) {
      // window w is a contiguous pre-spaced arena slice (TokenBytes)
      val p0 = if (win == 0) 0 else tk.starts(w)
      val len = if (win == 0) 0 else tk.starts(w + win) - 1 - p0
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        tk.bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + p0,
        len, 42L)
      val fresh =
        if (h == 0L) { val f = !hasZero; hasZero = true; f }
        else {
          var hh = h ^ (h >>> 33)
          hh *= 0xff51afd7ed558ccdL
          hh ^= hh >>> 29
          var s = (hh & mask).toInt
          while (set(s) != 0L && set(s) != h) s = (s + 1) & mask
          val f = set(s) != h
          set(s) = h
          f
        }
      if (fresh) { out(k) = h; k += 1 }
      w += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  private val shingleHashesUdf = udf(shingleHashes _)

  def shingleHashesCol(text: Column, n: Int = 3): Column =
    shingleHashesUdf(text, lit(n))

  /** Blocked fuzzy-match pairs (entity resolution): records sharing a
    * blocking key are pairwise compared by Levenshtein edit distance;
    * pairs at or under `maxDist` survive. The blocking key turns the
    * quadratic all-pairs comparison into an equi-join — same discipline
    * as the LSH band join; pick the key so blocks stay small (here the
    * caller's natural partition: nation, zip prefix, name initial …) and
    * cap pathological blocks upstream (an [[oversizedBuckets]] pass plus
    * an anti join, or a [[BoundedCollect]]-fused collapse) if the key can
    * skew. Edit distance is exactly defined, so any engine agrees. */
  def fuzzyPairs(df: DataFrame, idCol: String, nameCol: String,
                 blockCol: String, maxDist: Int): DataFrame = {
    val a = df.select(col(blockCol).as("block"),
      col(idCol).cast("long").as("id_a"), col(nameCol).as("name_a"))
    val b = df.select(col(blockCol).as("block"),
      col(idCol).cast("long").as("id_b"), col(nameCol).as("name_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("block", "id_a", "id_b", "dist")
  }

  /** Exact duplicate groups: groupBy on md5(text). Scales as a single
    * hash-partitioned shuffle; at 100 TB use the hash (16 bytes), never the
    * text, as the shuffle key. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), md5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("keep_id"))

  /** Rows to drop under exact dedup (everything but min-id per hash). */
  def exactDropIds(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy("id")
    df.select(col(idCol).cast("long").as("id"), md5(col(textCol)).as("content_hash"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select("id", "content_hash")
  }

  /** Kirsch–Mitzenmacher permutation value for one shingle hash: permutation
    * `j` is `(h1 + j·h2) mod 2³²` where h1/h2 are the two 32-bit halves of
    * the shingle's md5 (h2 forced odd). ONE digest per shingle serves every
    * permutation — ~k× cheaper than md5-per-permutation with the same
    * minhash collision guarantee (Kirsch & Mitzenmacher, ESA 2006) — and
    * the arithmetic is engine-portable for the oracle. */
  private val PermMod = 4294967296L // 2^32
  private def kmPerm(h1: Column, h2: Column, j: Int): Column =
    (h1 + lit(j.toLong) * h2) % PermMod

  private def hex32(h: Column, start: Int): Column =
    conv(substring(h, start, 8), 16, 10).cast("long")

  /** Fused per-doc band-key kernel: tokenize → shingle → md5 → running
    * min per permutation → band keys, all in ONE compiled pass — the
    * whole signature never exists as rows. Arithmetic is bit-for-bit the
    * documented md5/Kirsch–Mitzenmacher form (bytes 0–3 = h1, bytes 4–7
    * |1 = h2, (h1 + j·h2) mod 2³²), so the DuckDB oracle and the
    * exploded twin reproduce it exactly. */
  def bandKeys(text: String, n: Int, bands: Int, rows: Int): Seq[String] = {
    // byte-level window digestion (SCALE.md finding 19's recipe): the md5
    // input is the shingle string's UTF-8 bytes, and UTF-8 concatenates —
    // one tokenize scan emits a pre-spaced byte arena (TokenBytes) and
    // each window digests a CONTIGUOUS arena slice, the EXACT bytes
    // `shingles(text,n).map(_.getBytes("UTF-8"))` would produce, with no
    // slice/mkString/String/copy per window (jstack at 504k docs put over
    // half this kernel's CPU in that string building). Duplicate shingles
    // need no dedup here: the running min is idempotent. Bit-identity vs
    // the string form is pinned by BandKeysBytesSpec (20k random + edge
    // cases), the exploded twin, and a 20k-real-doc × {3,5,8}-gram sweep
    // over the 504k scale corpus (zero mismatches). Interleaved
    // single-thread microbenches across the two r9 rewrites:
    // 53.63 → 30.81 s/90k docs (strings → per-token bytes), then
    // 9.88 → 8.06 s/30k docs (per-token bytes → arena slices; md5 is now
    // the kernel's floor).
    val tk = graft.expr.TokenKernel.shingleTokenBytes(text)
    val count = tk.count
    val nWin = if (count < n) 1 else count - n + 1
    val win = math.min(n, count)
    val sigs = Array.fill(bands * rows)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var w = 0
    while (w < nWin) {
      // window w is a contiguous pre-spaced arena slice (TokenBytes)
      val p0 = if (win == 0) 0 else tk.starts(w)
      val len = if (win == 0) 0 else tk.starts(w + win) - 1 - p0
      md.reset()
      md.update(tk.bytes, p0, len)
      val d = md.digest()
      val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val h2 = (((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) | 1L
      var p = 0
      while (p < sigs.length) {
        val v = (h1 + p * h2) % 4294967296L
        if (v < sigs(p)) sigs(p) = v
        p += 1
      }
      w += 1
    }
    (0 until bands).map(b => (b.toString +: (0 until rows).map(r =>
      sigs(b * rows + r).toString)).mkString("|"))
  }

  private val bandKeysUdf = udf(bandKeys _)

  /** Per-doc LSH band keys, one row per (id, band) — NARROW: the fused
    * [[bandKeys]] kernel computes the whole signature inside the row, so
    * there is no shingle explode and NO signature shuffle (the previous
    * explode + 8×partial-min groupBy needed one exchange per call; at
    * 100 TB that exchange carried one row per shingle). Measured ~2.2×
    * warm at sf0.1, row-identical (ExplodedTwin test). */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
                   n: Int, bands: Int, rows: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      explode(bandKeysUdf(col(textCol), lit(n), lit(bands), lit(rows)))
        .as("band"))

  /** Exploded + partial-aggregated twin of [[minhashBands]] (proof of the
    * fused kernel's arithmetic; OpsSpec asserts identical output). */
  private[ops] def minhashBandsExploded(df: DataFrame, idCol: String,
                                        textCol: String, n: Int, bands: Int,
                                        rows: Int): DataFrame = {
    val perms = 0 until bands * rows
    val exploded = df.select(col(idCol).cast("long").as("id"),
      explode(shinglesCol(col(textCol), n)).as("sh"))
    val hashed = exploded.select(col("id"), md5(col("sh")).as("h"))
    val halves = hashed.select(col("id"),
      hex32(col("h"), 1).as("h1"),
      hex32(col("h"), 9).bitwiseOR(lit(1L)).as("h2"))
    val sigs = halves.groupBy("id").agg(
      min(kmPerm(col("h1"), col("h2"), perms.head)).as(s"sig${perms.head}"),
      perms.tail.map(j =>
        min(kmPerm(col("h1"), col("h2"), j)).as(s"sig$j")): _*)
    sigs.select(col("id"),
      explode(array((0 until bands).map { b =>
        concat_ws("|", (lit(b.toString) +: (0 until rows).map(r =>
          col(s"sig${b * rows + r}"))): _*)
      }: _*)).as("band"))
  }

  /** Deduped candidate pairs (id_a < id_b) from the capped band buckets —
    * the shared pair generator behind [[minhashCandidates]] and
    * [[minhashNearDups]]. Only (id, band) rows are shuffled. */
  /** Kernel-stage width gate for the pair family's BATCH entry points
    * (r17, guide §2.5 "input skew — one huge unsplittable file … fix
    * otherwise repartition immediately after the read"): when the doc
    * input's plan-stats estimate fits in ≤ 2 scan splits but the session
    * has more cores, the per-doc shingle/band kernels would run on 1–2
    * tasks while the rest of the machine idles (the SCALE.md finding-23
    * serial-map artifact — every sf-dir table is ONE split). One narrow
    * round-robin shuffle of the doc rows (bytes = the doc text, small
    * exactly when the gate fires) parallelizes the kernel stage.
    * Same-JVM interleaved A/B (OPTIMIZATION_r17.md §7, 32 cores, sf0.1):
    * q19 2.51 → 1.98, q96 2.81 → 2.55 medians; warm in-sweep pairs
    * confirm for the jaccard pipeline (q19 −0.53, q89 −0.54, q96 −0.26).
    * APPLIED ONLY to jaccardPairCounts: everywhere the input feeds more
    * than one kernel subtree (minhash pairs + verify legs, cross-corpus
    * sides, decontamination, tfidf) or a checkpoint fan-out (langid),
    * the same-window A/Bs measured the widen LOSING warm — each
    * consumer re-evaluates the exchange and the extra stages outweigh
    * the serialized kernel (booked negatives in OPTIMIZATION_r17.md).
    * At scale the scan's own splits provide the parallelism and the
    * gate stays OFF — unknown stats estimate huge and also stay off
    * (the safe side; the round-10 q90/q91 A/B in SURVEY.md measured a
    * corpus-mass doc shuffle losing). Round-robin placement is
    * semantically invisible here: every consumer below is a groupBy/join,
    * never order-sensitive. */
  private[ops] def widenNarrowScan(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val parts = conf.numShufflePartitions
    val twoSplits = BigInt(conf.filesMaxPartitionBytes) * 2
    if (parts > 2 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= twoSplits)
      df.repartition(parts)
    else df
  }

  private[ops] def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                                n: Int, bands: Int, rows: Int,
                                maxBucket: Int): DataFrame = {
    // NOT widened (r17): the cold isolated A/B loved a widen here
    // (q18 4.61 → 2.73) but the WARM in-sweep pairs — the driver's
    // measurement shape — consistently lost (q18 +0.38, q39 +0.37,
    // q52 +0.65 across two reversed-order sweep pairs): every consumer
    // of this generator re-evaluates the widen exchange (pairs + verify
    // legs), and with a hot JIT the serial band kernel is cheaper than
    // those extra stages. jaccardPairCounts keeps its widen — single
    // kernel subtree, in-sweep wins (q19 −0.53, q89 −0.54, q96 −0.26).
    val bandDf = minhashBands(df, idCol, textCol, n, bands, rows)
    // pairs within a band bucket via in-group combinations — one pass over
    // the band table (a self-join would evaluate the whole minhash pipeline
    // twice); the bucket cap is FUSED into the collapse aggregate and
    // enforced INSIDE the update ([[BoundedCollect]] — an overflowed
    // bucket's buffer is dropped the moment it passes maxBucket, so a
    // degenerate hot band never materializes its members even transiently;
    // the former plain collect_list held the full bucket until the size
    // filter). The former pre-cap count-over-window sorted the whole keyed
    // stream, and that sort OOM'd the 504k-doc scale run in the sibling
    // boilerplate pipeline. Buffer bound: ≤ maxBucket 8-byte ids per group
    bandDf.groupBy("band")
      .agg(BoundedCollect.longs(maxBucket)(col("id")).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      // in-bucket combinations via the compiled PACKED kernel (sorts per
      // bucket → id_a < id_b by construction); pack/unpack is bijective
      // on the guarded id range, so dedup on the packed long IS dedup on
      // (id_a, id_b) — the cross-band dropDuplicates exchange carries one
      // primitive per pair (r16). The a<b filter stays as the guard
      // against duplicate ids ever reaching one bucket.
      .select(explode(sortedPackedPairsUdf(col("ids"))).as("pp"))
      .dropDuplicates("pp")
      .select(unpackPairCols(col("pp"))._1, unpackPairCols(col("pp"))._2)
      .filter(col("id_a") < col("id_b"))
  }

  /** All unordered pairs of a bucket's id array, emitted (min, max) — the
    * COMPILED kernel behind every in-bucket pair generator (minhash
    * bands, jaccard buckets; the simhash members form is
    * [[simhashPairsUdf]]). The former nested-transform Column form (kept
    * as [[pairsHofCol]], the identity-spec twin) is INTERPRETED:
    * higher-order functions have no codegen, so each outer element paid
    * a `slice` array copy and each emitted pair an InternalRow
    * allocation through `ArrayTransform.eval` — the r10 jstack of the
    * warm q19 loop put the family's task CPU exactly there
    * (`CreateNamedStruct.eval` under doubly-nested `ArrayTransform`).
    * This is the same O(m²) combination loop compiled; it sorts
    * internally (bucket-local, m ≤ maxBucket), so pairs come out
    * (min, max) by construction. PairGenSpec pins element-exact identity
    * to the HOF twin over a sorted input. */
  private val sortedPairsUdf = udf { (ids: Seq[Long]) =>
    val n = ids.length
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = ids(i); i += 1 }
    java.util.Arrays.sort(a)
    val out = new Array[(Long, Long)](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) { out(k) = (a(i), a(j)); k += 1; j += 1 }
      i += 1
    }
    out
  }

  /** [[sortedPairsUdf]]'s PACKED serving twin (r16): each (min, max) pair
    * leaves the kernel as ONE long — `(min << 32) | max` — so the pair
    * stream's exchange (the dropDuplicates / groupBy that immediately
    * follows every call) carries an 8-byte primitive key instead of a
    * 16-byte struct, and the kernel allocates a primitive array instead
    * of one boxed tuple per pair. Unpack is two codegen'd bit ops
    * ([[unpackPairCols]]). Range guard is LOUD, the same policy as
    * [[repeatedSpans]]' (id, pos) packing: ids must sit in [0, 2³¹) —
    * 2.1 B docs per dedup pass — and a violation raises with the value,
    * never silently corrupts a pair; a corpus past the bound shards its
    * dedup pass (SCALE.md) or falls back to the struct twin. */
  private val sortedPackedPairsUdf = udf { (ids: Seq[Long]) =>
    val n = ids.length
    val a = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = ids(i)
      if (v < 0L || v >= PackPairIdLimit) throw new IllegalArgumentException(
        s"pair packing needs 0 <= id < 2^31, got $v — shard the corpus " +
          "or use the struct pair kernel")
      a(i) = v; i += 1
    }
    java.util.Arrays.sort(a)
    val out = new Array[Long](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) { out(k) = (a(i) << 32) | a(j); k += 1; j += 1 }
      i += 1
    }
    out
  }

  private final val PackPairIdLimit = 1L << 31

  /** Unpack one [[sortedPackedPairsUdf]] long back to (id_a, id_b). */
  private def unpackPairCols(pp: Column): (Column, Column) =
    (shiftrightunsigned(pp, 32).as("id_a"),
      pp.bitwiseAND(lit((1L << 32) - 1)).as("id_b"))

  /** The interpreted nested-transform twin (PairGenSpec pins identity;
    * not a serving path — see [[sortedPairsUdf]]). Emits index pairs
    * i<j of the array AS GIVEN. */
  private[graft] def pairsHofCol(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(
        slice(ids, i + 2, greatest(size(ids) - i - 1, lit(0))),
        y => struct(x.as("_1"), y.as("_2")))))

  /** Compiled pair kernel over (id, simhash) members: (min id, max id,
    * hamming) per unordered pair — `Long.bitCount(a ^ b)` is exactly
    * `bit_count(a.bitwiseXOR(b))` ([[hammingCol]]). Index-pair order of
    * the members array as given (the consumer dropDuplicates across
    * buckets); PairGenSpec pins identity to the HOF twin. */
  private val simhashPairsUdf = udf { (members: Seq[(Long, Long)]) =>
    val n = members.length
    val out = new Array[(Long, Long, Int)](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val (ia, ha) = members(i)
      var j = i + 1
      while (j < n) {
        val (ib, hb) = members(j)
        out(k) = (math.min(ia, ib), math.max(ia, ib),
          java.lang.Long.bitCount(ha ^ hb))
        k += 1; j += 1
      }
      i += 1
    }
    out
  }

  /** Spec accessors for the private kernels (PairGenSpec). */
  private[graft] def minhashPairsKernelForSpec(ids: Column): Column =
    sortedPairsUdf(ids)
  private[graft] def packedPairsKernelForSpec(ids: Column): Column =
    sortedPackedPairsUdf(ids)
  private[graft] def unpackPairColsForSpec(pp: Column): (Column, Column) =
    unpackPairCols(pp)
  private[graft] def simhashPairsKernelForSpec(members: Column): Column =
    simhashPairsUdf(members)

  /** Interpreted twin of [[simhashPairsUdf]] (PairGenSpec identity pin). */
  private[graft] def simhashPairsHofCol(members: Column): Column =
    flatten(transform(members, (x, i) =>
      transform(
        slice(members, i + 2, greatest(size(members) - i - 1, lit(0))),
        y => struct(
          least(x.getField("_1"), y.getField("_1")).as("_1"),
          greatest(x.getField("_1"), y.getField("_1")).as("_2"),
          hammingCol(x.getField("_2"), y.getField("_2")).as("_3")))))

  /** Candidate near-duplicate pairs (a < b) via MinHash LSH with the full
    * shingle SETS attached per side — for consumers that need the sets
    * themselves. The attach aggregates an array-typed buffer, which Spark
    * can only plan as a SortAggregate (arrays have no mutable hash-agg
    * buffer), so every candidate row sorts with multi-KB payloads: fine
    * for bounded candidate sets, wrong as the bulk-verification path —
    * [[minhashNearDups]] verifies with a longs-only count instead (the
    * 500k-doc scale run's disk was filled by exactly this sort). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, bands: Int = 4, rows: Int = 2,
                        maxBucket: Int = 1000): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, n, bands, rows, maxBucket)
    // re-attach shingle sets through ONE join against one shingled frame
    // (explode each pair into its two member ids, join, fold back) —
    // joining a dist frame once per side would scan and shingle the corpus
    // once per side, and Catalyst cannot plan-share the two branches
    val dist = df.select(col(idCol).cast("long").as("id"),
      array_distinct(shinglesCol(col(textCol), n)).as("sh"))
    pairs
      .select(col("id_a"), col("id_b"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .join(dist, "id")
      .groupBy("id_a", "id_b")
      .agg(
        first(when(col("id") === col("id_a"), col("sh")), ignoreNulls = true)
          .as("sh_a"),
        first(when(col("id") === col("id_b"), col("sh")), ignoreNulls = true)
          .as("sh_b"))
  }

  /** Jaccard over shingle sets carried on the pair row (no explode). */
  def jaccardCol(shA: Column, shB: Column): Column = {
    val a = array_distinct(shA)
    val b = array_distinct(shB)
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")
  }

  /** MinHash LSH candidates verified by exact shingle Jaccard ≥ threshold.
    *
    * Verification never touches an array: each candidate pair explodes to
    * its two member ids, joins the per-doc distinct shingle-HASH rows
    * (8-byte xxhash64, never shingle text), and two hash aggregates
    * reconstruct |A|, |B|, |A∩B| from 0/1 membership sums — identical
    * Jaccard doubles to the set-based formula (same integer numerator and
    * denominator), but every shuffle row is a handful of longs and every
    * aggregate is a map-side-combinable HashAggregate. The previous
    * formulation attached the full shingle sets per pair ([[
    * minhashCandidates]]); its array-buffer SortAggregate sorted each
    * candidate with multi-KB payloads and filled the 500k-doc scale run's
    * scratch disk. Cost is Σ_pairs(|A|+|B|) longs-only rows, linear in the
    * (bucket-capped) candidate count.
    *
    * A 64-bit shingle-hash collision could nudge a count by 1 (two
    * colliding distinct shingles read as one common); at corpus scale the
    * expected count is ~pairs·|sh|²/2⁶⁴ — negligible, and the q18 oracle
    * hash-gate would catch any real drift. */
  /** Candidate-verify legs must cost O(candidates), not O(corpus)
    * (SCALE.md finding 14): when the pair set's id side fits this
    * broadcast bound (4M ids ≈ 32 MB), the corpus-wide shingle frame is
    * semi-filtered MAP-SIDE before its exchange, so the verify shuffle
    * carries only candidate docs' shingles — without it, the 504k-doc
    * near-dup stage spent ~260 s shuffling 724M shingle rows to verify
    * ZERO candidates. Oversized pair sets keep the plain shuffle plan
    * (a left-semi on the join key is a pure filter — row set identical
    * either way). */
  private final val MaxVerifyIdBroadcast = 4L << 20

  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, n: Int = 3,
                      bands: Int = 4, rows: Int = 2,
                      maxBucket: Int = 1000): DataFrame = {
    // materialize the (bucket-cap-bounded) pair frame once so its size
    // can pick the verify plan; the count also spares the band pipeline
    // a second evaluation through the two hs consumers below
    val pairs = minhashPairs(df, idCol, textCol, n, bands, rows, maxBucket)
      .localCheckpoint()
    val nPairs = pairs.count()
    // fused byte-level kernel — bit-identical to the previous
    // explode(array_distinct(shinglesCol)) + xxhash64 chain (OpsSpec pin)
    val hs0 = df.select(col(idCol).cast("long").as("id"),
      explode(hashedShinglesCol(col(textCol), n)).as("h"))
    val hs = if (nPairs * 2 <= MaxVerifyIdBroadcast) {
      val ids = pairs.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      hs0.join(broadcast(ids), Seq("id"), "left_semi")
    } else hs0
    val perShingle = pairs
      .select(col("id_a"), col("id_b"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .join(hs, "id")
      .groupBy("id_a", "id_b", "h")
      .agg(
        max(when(col("id") === col("id_a"), 1).otherwise(0)).as("in_a"),
        max(when(col("id") === col("id_b"), 1).otherwise(0)).as("in_b"))
    perShingle.groupBy("id_a", "id_b")
      .agg(sum("in_a").as("n_a"), sum("in_b").as("n_b"),
        sum(col("in_a") * col("in_b")).as("n_common"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus near-dup join — the INCREMENTAL dedup shape: match an
    * incoming shard against an existing corpus without re-pairing either
    * corpus internally (a continuously-ingesting pipeline dedups each new
    * crawl against the accumulated corpus; re-running the full self-join
    * would be quadratic in history).
    *
    * Both sides band once (at scale the existing corpus's band table is
    * the thing you PERSIST, bucketed by band, so each increment only
    * shuffles its own bands); candidates come from the band equi-join,
    * capped per band on the existing side against hot boilerplate
    * buckets. Shingle sets re-attach per side against that side's own
    * frame — id spaces of the two corpora may overlap freely. Output:
    * (id_in, id_ex, jaccard ≥ threshold). */
  def crossCorpusNearDups(existing: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String, threshold: Double,
                          n: Int = 3, bands: Int = 4, rows: Int = 2,
                          maxBucket: Int = 1000): DataFrame = {
    // NOT widened (r17): each side feeds TWO kernel subtrees (bands +
    // verify sets), so a widen exchange evaluates up to 4× — the warm
    // in-sweep pairs read q52 +0.65 s with it (see minhashPairs' note).
    // existing-side bucket cap fused into a per-band collapse: the band
    // join then carries ONE array row per band and explodes members after
    // the match (no pre-cap window sort — see minhashPairs); the cap is
    // enforced inside the aggregate update (BoundedCollect), so oversized
    // boilerplate bands drop before their members ever materialize
    val bandsEx = minhashBands(existing, idCol, textCol, n, bands, rows)
      .groupBy("band")
      .agg(BoundedCollect.longs(maxBucket)(col("id")).as("ids_ex"))
      .filter(col("ids_ex").isNotNull)
    val bandsIn = minhashBands(incoming, idCol, textCol, n, bands, rows)
      .select(col("id").as("id_in"), col("band"))
    // same verify gate as [[minhashNearDups]] (finding 14) — here BOTH
    // corpora's shingle-ARRAY frames would otherwise shuffle whole into
    // the verify joins regardless of how few band buckets matched
    val pairs = bandsIn.join(bandsEx, "band")
      .select(col("id_in"), explode(col("ids_ex")).as("id_ex"))
      .dropDuplicates("id_in", "id_ex")
      .localCheckpoint()
    val nPairs = pairs.count()
    val distEx0 = existing.select(col(idCol).cast("long").as("id_ex"),
      array_distinct(shinglesCol(col(textCol), n)).as("sh_ex"))
    val distIn0 = incoming.select(col(idCol).cast("long").as("id_in"),
      array_distinct(shinglesCol(col(textCol), n)).as("sh_in"))
    val (distEx, distIn) = if (nPairs <= MaxVerifyIdBroadcast) {
      (distEx0.join(broadcast(pairs.select("id_ex")), Seq("id_ex"),
        "left_semi"),
        distIn0.join(broadcast(pairs.select("id_in")), Seq("id_in"),
          "left_semi"))
    } else (distEx0, distIn0)
    pairs
      .join(distIn, "id_in").join(distEx, "id_ex")
      .withColumn("jaccard", jaccardCol(col("sh_in"), col("sh_ex")))
      .filter(col("jaccard") >= threshold)
      .select("id_in", "id_ex", "jaccard")
  }

  /** Exact all-pairs n-gram Jaccard via a shingle inverted index (explode +
    * self-equi-join on the shingle, then count). Quadratic only within
    * identical-shingle groups — use for verification/small corpora; the LSH
    * path is the scale route. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxBucket: Int = 1000): DataFrame =
    jaccardPairCounts(df, idCol, textCol, n, maxBucket)
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Threshold-sensitivity histogram: pair counts per exact Jaccard
    * decile — `(10·n_common) DIV (n_a+n_b−n_common)`, pure integer
    * arithmetic, so the sweep one runs BEFORE committing a dedup cutoff
    * at full scale is engine-exact. One extra tiny aggregate over the
    * same pair pipeline the pair generator uses. */
  def jaccardDecileHistogram(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, maxBucket: Int = 1000): DataFrame =
    jaccardPairCounts(df, idCol, textCol, n, maxBucket)
      .withColumn("decile",
        expr("(10 * n_common) div (n_a + n_b - n_common)"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("decile")

  /** Candidate-retrieval quality of the MinHash-LSH band scheme against
    * exact n-gram Jaccard ground truth — the eval one runs BEFORE trusting
    * an LSH configuration on a 100 TB dedup pass (is (bands, rows) recall
    * worth its candidate volume?).
    *
    * Candidates = [[minhashPairs]] (band-bucket pairs, pre-verification);
    * truth = the [[jaccardPairCounts]] pair universe at exact integer
    * Jaccard ≥ `thresholdPermille` (`(1000·n_common) div union ≥ t` ⇔
    * `jaccard ≥ t/1000` — floor(x) ≥ k ⇔ x ≥ k for integer k, so the
    * integer gate is exactly the real-threshold one, engine-identically).
    * Output is ONE row: candidate / truth / true-positive counts plus
    * floor per-mille precision and recall (zero denominators → 0, not
    * null). Scale shape: both legs are the existing capped-bucket
    * pipelines; the comparison is one marker-union + two tiny aggregates —
    * nothing new shuffles at corpus scale. The truth leg is quadratic in
    * near-dup group size by construction (it IS the exhaustive
    * ground-truth pass) — run the eval on a bounded slice at 100 TB, then
    * apply the chosen (bands, rows) with [[minhashNearDups]]. */
  def lshQualityEval(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, bands: Int = 4, rows: Int = 2,
                     thresholdPermille: Int = 400, maxBucket: Int = 1000,
                     truthMaxBucket: Int = 100): DataFrame = {
    val cand = minhashPairs(df, idCol, textCol, n, bands, rows, maxBucket)
      .select(col("id_a"), col("id_b"), lit(1L).as("c"), lit(0L).as("t"))
    val truth = jaccardPairCounts(df, idCol, textCol, n, truthMaxBucket)
      .filter(expr(
        s"(1000 * n_common) div (n_a + n_b - n_common) >= $thresholdPermille"))
      .select(col("id_a"), col("id_b"), lit(0L).as("c"), lit(1L).as("t"))
    cand.unionByName(truth)
      .groupBy("id_a", "id_b")
      .agg(max("c").as("c"), max("t").as("t"))
      // coalesce: a corpus with no pairs at all must report zeros, not a
      // null row (sum over zero rows is null)
      .agg(coalesce(sum("c"), lit(0L)).as("n_candidates"),
        coalesce(sum("t"), lit(0L)).as("n_true"),
        coalesce(sum(col("c") * col("t")), lit(0L)).as("n_tp"))
      .select(col("n_candidates"), col("n_true"), col("n_tp"),
        expr("(1000 * n_tp) div greatest(1, n_candidates)")
          .as("precision_permille"),
        expr("(1000 * n_tp) div greatest(1, n_true)").as("recall_permille"))
  }

  /** Shared pair pipeline: (id_a, id_b, n_common, n_a, n_b) over the
    * frequent-shingle-filtered universe (see [[ngramJaccardPairs]]). */
  private def jaccardPairCounts(df0: DataFrame, idCol: String, textCol: String,
                                n: Int, maxBucket: Int): DataFrame = {
    val df = widenNarrowScan(df0) // see the gate's scaladoc (r17)
    // the metric is Jaccard over the FREQUENT-SHINGLE-FILTERED universe:
    // shingles with document frequency > maxBucket (boilerplate/stopword
    // n-grams, which carry no similarity signal and would go quadratic in
    // the bucket collapse) are removed from BOTH the intersections and the
    // per-doc set sizes, so the ratio stays a true Jaccard of the filtered
    // sets — and the oracle applies the identical df filter.
    // shingles shuffle as 8-byte xxhash64 keys, never text — the df
    // filter, the cap, and the bucket collapse only need equality, and a
    // 64-bit collision (≈ d²/2⁶⁵ for d distinct shingles — ~10⁻⁷ at
    // 5M) could only nudge one pair's intersection count, the same
    // trade the decontamination and boilerplate paths document
    val inv = df.select(col(idCol).cast("long").as("id"),
      explode(hashedShinglesCol(col(textCol), n)).as("shingle"))
    // r9 shape (q19 3.50→3.28 s same-host median-of-5, same fusion as
    // q18's bandKeys; committed artifacts read 3.09–3.63 across host
    // windows, ≤ the r6 4.52 target in every window):
    // the df cap is FUSED into the collapse aggregate ([[BoundedCollect]]
    // — a bucket finishes null the moment it passes maxBucket, which IS
    // the df filter, exact same > boundary as the former capBuckets), so
    // the former capBuckets count-aggregate + anti join and its second
    // evaluation of the whole scan+shingle lineage are gone. Per-doc
    // sizes no longer ride through the inverted index on a
    // count-over-Window (a full-stream exchange + per-id sort): they are
    // derived from the collapsed frame — whose input exchange Spark
    // reuses across the two branches (ReusedExchange; the corpus is
    // scanned and shingled ONCE) — where the partial count collapses the
    // explode to ~numDocs rows before its exchange, and re-attached to
    // the far smaller PAIR frame by two joins (numDocs-row build sides;
    // AQE broadcasts them at bench scale and picks a shuffle join when
    // numDocs outgrows the threshold at corpus scale).
    val buckets = inv.groupBy("shingle")
      .agg(BoundedCollect.longs(maxBucket)(col("id")).as("ids"))
      .filter(col("ids").isNotNull)
    // singleton buckets can't pair, but their members still count toward
    // each doc's filtered set size — sizes read buckets BEFORE the ≥2
    // member filter
    val sizes = buckets.select(explode(col("ids")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_sh"))
    // ids within a bucket are distinct (array_distinct per doc upstream);
    // the compiled kernel sorts per bucket, so every generated pair is
    // (id_a < id_b) by construction — r10: this replaced the interpreted
    // nested-transform form the q19-family jstack attributed the task
    // CPU to (see the kernel's scaladoc)
    val (idA, idB) = (unpackPairCols(col("pp"))._1, unpackPairCols(col("pp"))._2)
    buckets
      .filter(size(col("ids")) > 1)
      // packed pair kernel (r16): the common-count exchange groups on ONE
      // primitive long instead of a two-long struct — see sortedPackedPairsUdf
      .select(explode(sortedPackedPairsUdf(col("ids"))).as("pp"))
      .groupBy(col("pp"))
      .agg(count(lit(1)).as("n_common"))
      .select(idA, idB, col("n_common"))
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select("id_a", "id_b", "n_a", "n_b", "n_common")
  }

  /** Positional n-token shingles: shingle i covers tokens [i, i+n). Unlike
    * [[shingles]] there is NO whole-text collapse — a doc with fewer than
    * `n` tokens cannot contain an n-token span and contributes nothing
    * (the set-similarity ops want every doc represented; span mining
    * wants exact positional windows only). */
  def posShingles(text: String, n: Int): Seq[String] = {
    if (text == null) return Seq.empty
    val toks = graft.expr.TokenKernel.shingleTokens(text)
    if (toks.length < n) Seq.empty
    else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" "))
  }

  private val shingleToksUdf =
    udf((text: String) => graft.expr.TokenKernel.shingleTokens(text).toSeq)

  /** Positional shingle HASHES — hash i is exactly
    * `xxhash64(posShingles(text, n)(i))` (XXH64 over the shingle's UTF-8
    * bytes, seed 42), with [[posShingles]]' semantics: no dedup, no
    * whole-text collapse, empty below `n` tokens. The fused byte-level
    * form (SCALE.md finding 19): windows are contiguous slices of the
    * pre-spaced [[graft.expr.TokenBytes]] arena, hashed in place — the
    * substring pipeline previously materialized ~724M shingle STRINGS
    * per corpus pass through the posShingles UDF before the `xxhash64`
    * expression could hash them. Identity pinned in SubstringDedupSpec. */
  def posShingleHashes(text: String, n: Int): Array[Long] = {
    val tk = graft.expr.TokenKernel.shingleTokenBytes(text)
    val count = tk.count
    if (count < n) return Array.emptyLongArray
    val nWin = count - n + 1
    val out = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      val p0 = tk.starts(w)
      val len = tk.starts(w + n) - 1 - p0
      out(w) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        tk.bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + p0,
        len, 42L)
      w += 1
    }
    out
  }

  // named so plan pins can count shingle-kernel evaluations (the
  // one-shingle-pass-per-micro-batch contract, StreamingSpanDedupSpec)
  private val posShingleHashesUdf =
    udf(posShingleHashes _).withName("posShingleHashes")

  /** Substring-level exact dedup, detection half (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — the span-granular op document-level dedup misses:
    * a boilerplate paragraph repeated across otherwise-distinct pages
    * survives every document dedup above, yet is exactly what an LLM
    * memorizes): every MAXIMAL token span covered by `n`-token shingles
    * occurring ≥ `minOcc` times corpus-wide (position-multiplicity, so a
    * span repeated twice WITHIN one doc counts too).
    *
    * Output: (id, span_id, span_start, span_end, n_shingles) — token
    * positions, end exclusive, span_id the per-doc 1-based island number
    * in position order. All-integer and deterministic, so engine-exact.
    *
    * Scale shape — never pairwise, linear in corpus size: positional
    * shingles shuffle ONCE as 8-byte xxhash64 keys (same collision trade
    * as [[jaccardPairCounts]], documented there) into a count-over-window
    * occurrence filter — measured fastest of three shapes on this
    * mostly-unique key profile, see the inline note (a hot boilerplate
    * shingle costs its row count, never a pair blowup); surviving
    * positions shuffle once more, partitioned per doc, where the classic
    * gaps-and-islands windows merge overlapping/adjacent [pos, pos+n)
    * intervals into maximal spans. Compare q77's repeated-passage miner
    * (fixed disjoint chunks, no merging): this is the span-exact form. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 10, minOcc: Int = 2,
                    occParts: Int = 0, docParts: Int = 0): DataFrame = {
    require(n >= 1 && minOcc >= 2, "need n >= 1 and minOcc >= 2")
    // Pre-shingle parallelism (r9): posexplode amplifies each doc into
    // ~|tokens| shingle rows (~450× the scan bytes at 504k docs), so a
    // scan-split-sized map task writes a shuffle buffer ~450× its input —
    // past per-task execution memory, and the shuffle WRITER's external
    // sorter flushes to disk (booked as the substring phase's 23 GB
    // "spill"; the occurrence filter itself is sort-free). One narrow
    // round-robin exchange of the DOC frame first (docs cross the wire
    // once, ~1/450th of the shingle stream) sizes the post-explode write
    // buffers to memory. Same 8× default as `occParts`.
    //
    // ADAPTIVE by default (r10, closing the r9 verdict's q90/q91 item):
    // on a SMALL corpus the exchange is pure overhead — the whole
    // post-explode stream fits scan-split write buffers with room to
    // spare. An interleaved same-JVM A/B at the bench shape (SURVEY.md,
    // round 10 item 1; median-of-5) measured the exchange costing q90
    // 1.29→1.53 s (+19%) and q91 2.02→2.09 s at sf0.1 — the mechanism behind the
    // r8→r9 bench medians the r9 verdict flagged (local q90 2.15→3.64,
    // q91 3.01→3.96; full-sweep context amplifies the isolated delta).
    // The passthrough leg RETAINS the r9 kernel/pack work and still beats
    // the r8 bench medians, so the exchange was the whole regression,
    // not the kernel swap. `docParts = 0` therefore
    // consults the doc frame's plan statistics (`sizeInBytes`) and
    // repartitions only when the doc frame's estimated bytes reach
    // [[DocRepartitionMinBytes]] (64 MB — post-explode that is ~1.3 GB
    // packed across a 32-split scan, still comfortably inside write
    // buffers; the 504k-doc scale corpus is 1.7 GB, 27× past the gate,
    // and an UNKNOWN size estimates to Long.Max → repartition, the
    // scale-safe direction). Explicit `docParts > 0` forces the exchange
    // at that width; `docParts < 0` forces passthrough (the A/B leg).
    val sh = adaptiveDocBase(df, docParts)
      .select(col(idCol).cast("long").as("id"),
        posexplode(posShingleHashesUdf(col(textCol), lit(n)))
          .as(Seq("pos", "shingle")))
    // occurrence filter: the sort-FREE hash shape ([[
    // coveredPositionsHash]]) — r7's fourth entrant in the 504k-doc /
    // 724M-position head-to-head (r6 sweep: count-over-window won with
    // one binary sort, 62 GB spill, 628 s; groupBy count spill-sorts the
    // mostly-unique stream twice, 267 GB, 1154 s; collect_list collapse
    // object-sorts past ObjectHashAggregate's fallback, 242 GB, 1452 s —
    // see SCALE.md finding 9 and the SCALE_REPORT substring row for the
    // hash shape's measured numbers). It pays the SAME one exchange on
    // the 8-byte shingle key but replaces the per-partition sort with a
    // primitive-array hash count + early-emit stream ([[OccurrenceFilter]]):
    // per-task memory is the partition's DISTINCT-key count (plus at most
    // minOcc−1 parked rows per key), never any single key's row count —
    // a head-of-zipf hot shingle streams through in O(1) extra memory.
    // Window twin retained below (SubstringDedupSpec pins row equality).
    // Contrast [[graft.ops.Curation.boilerplateProfile]], where 3-gram
    // keys repeat corpus-wide and a count aggregate + join wins — pick
    // the primitive by the key-repetition profile.
    val covered = coveredPositionsHash(sh, minOcc, occParts)
    islandsToSpans(covered, n)
  }

  /** Occurrence filter, sort-free hash shape: hash-exchange the
    * (id, pos, shingle) stream on the shingle key so every occurrence of
    * a key co-locates, then count and emit per partition with the
    * primitive-array [[OccurrenceFilter]] kernel — ONE exchange, ZERO
    * sorts, zero aggregate buffers.
    *
    * Why not the obvious aggregates: on a MOSTLY-UNIQUE key stream
    * (positional 10-token shingles — ~95% singletons) both groupBy-count
    * and count-over-window degrade into full-stream sorts (finding 9's
    * measured 267/62 GB spills at 724M positions); the decisive fact is
    * that after the exchange each task holds ALL occurrences of its keys,
    * so an open-addressing count over primitive longs answers
    * `occ >= minOcc` exactly with NO sort. Rows stream through with
    * early emit (see the kernel doc): per-task state is the count table
    * (distinct keys in the partition) plus at most `minOcc − 1` parked
    * rows per key — genuinely independent of any single key's row count,
    * so a head-of-zipf boilerplate shingle with 10⁹ occurrences costs
    * its partition CPU linearly and O(1) memory, where a buffer-to-drain
    * replay would park all 10⁹ rows in one unspillable task heap. `parts`
    * sizes the partitions (0 → 8× the session shuffle parallelism); an
    * explicit repartition count also keeps AQE from coalescing partitions
    * back into big tasks. Never a sort, never a pair blowup. */
  private[graft] def coveredPositionsHash(sh: DataFrame, minOcc: Int,
                                          parts: Int): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    // r16: width through the SAME plan-stats gate as the incremental
    // lanes ([[occExchangeParts]], r11 verdict item 6) instead of an
    // unconditional 8× — a batch-sized position stream was paying 8×
    // parallelism in empty-task scheduling (measured q90 2.94 → 2.71 s
    // isolated same-window at sf0.1); corpus-mass streams (≥
    // [[OccWideMinBytes]] plan-stats bytes, and UNKNOWN estimates) keep
    // the wide side exactly as before — scale behavior unchanged.
    val p = occExchangeParts(sh, parts)
    // (id, pos) pack into ONE long — id << 20 | pos (r9, verdict item 2):
    // the corpus-wide exchange here was the report's last spill (28.6 GB
    // at 724M rows of (key, id, pos)); packing drops each row 24 → 16 B
    // and halves the kernel's parked store. Range guards are LOUD, same
    // policy as the kernel's capacity ceilings: pos < 2²⁰ (a 1M-token
    // doc — posexplode positions, so this bounds doc length, not corpus)
    // and 0 ≤ id < 2⁴³ (dense doc ids; 8.8T headroom) — a violation
    // raises with the offending values, never silently corrupts spans.
    val packed = sh.select(col("shingle"),
      when(col("id").between(0L, (1L << 43) - 1) &&
        col("pos").between(0, PackPosLimit - 1),
        shiftleft(col("id"), PackPosBits)
          .bitwiseOR(col("pos").cast("long")))
        .otherwise(raise_error(concat(
          lit("repeatedSpans: (id, pos) outside packing range " +
            "(0 <= id < 2^43, 0 <= pos < 2^20): id="),
          col("id"), lit(" pos="), col("pos"))))
        .as("idpos"))
    packed
      .repartition(p, col("shingle"))
      .as[(Long, Long)]
      .mapPartitions(it => new OccurrenceFilter(minOcc)(it))
      .toDF("idpos")
      // restore the public (long id, int pos) schema (posexplode's) so it
      // is identical across occurrence-filter shapes
      .select(shiftrightunsigned(col("idpos"), PackPosBits).as("id"),
        col("idpos").bitwiseAND(lit(PackPosLimit - 1)).cast("int").as("pos"))
  }

  private final val PackPosBits = 20
  private final val PackPosLimit = 1L << PackPosBits

  /** Plan-stats gate for [[repeatedSpans]]'s pre-shingle repartition (see
    * the inline note there): doc frames estimated below this skip the
    * exchange. Package-visible so specs can pin both sides of the gate. */
  private[graft] final val DocRepartitionMinBytes = 64L << 20

  /** The shared pre-shingle parallelism dispatch of [[repeatedSpans]] /
    * [[incrementalRepeatedSpans]] / [[shingleOccurrenceTable]] — the full
    * rationale (amplification regime, measured costs on both sides, the
    * loud docParts contract) lives at the [[repeatedSpans]] call site. */
  private def adaptiveDocBase(df: DataFrame, docParts: Int): DataFrame = {
    val repartitionDocs =
      if (docParts > 0) true
      else if (docParts < 0) false
      else df.queryExecution.optimizedPlan.stats.sizeInBytes >=
        DocRepartitionMinBytes
    if (!repartitionDocs) df
    else df.repartition(if (docParts > 0) docParts
      else df.sparkSession.sessionState.conf.numShufflePartitions * 8)
  }

  /** Occurrence filter, count-over-window twin — r6's measured winner
    * over the aggregate shapes (one binary sort of the keyed stream),
    * superseded as the serving path by [[coveredPositionsHash]]; kept as
    * the proof twin (SubstringDedupSpec pins row equality) and for
    * engines where the object boundary is unavailable. */
  private[graft] def coveredPositionsWindow(sh: DataFrame,
                                            minOcc: Int): DataFrame =
    sh.withColumn("occ", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(col("occ") >= minOcc)
      .select("id", "pos")

  /** Gaps-and-islands merge of covered positions into maximal spans —
    * shared tail of [[repeatedSpans]] regardless of occurrence-filter
    * shape. */
  private def islandsToSpans(covered: DataFrame, n: Int): DataFrame = {
    val byPos = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + n)
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    covered
      // island break exactly when this window starts past every previous
      // window's end (pos > prevEnd); touching intervals merge — the
      // covered token region is contiguous
      .withColumn("new_span",
        when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0))
      .withColumn("span_id", sum("new_span")
        .over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("id", "span_id")
      .agg(min("pos").as("span_start"),
        (max(col("pos")) + n).as("span_end"),
        count(lit(1)).as("n_shingles"))
  }

  /** Substring-level exact dedup, removal half: strip every
    * [[repeatedSpans]] span out of each document's token stream. Returns
    * one row per doc that HAS tokens: (id, n_tokens, n_kept, clean_md5)
    * where clean_md5 hashes the kept tokens space-joined ("" when the
    * whole doc was duplicated spans) — the downstream pipeline would
    * carry the cleaned token stream itself; the md5 form is the
    * cross-engine gate.
    *
    * Shape: spans collapse to one small array per affected doc and come
    * back through ONE equi-join on id; the token stream never explodes —
    * kept-token selection, counting, and the md5 all happen in ONE
    * compiled pass over the token arena ([[stripKernelUdf]]; r10,
    * finding 21 applied at per-TOKEN granularity — the former Column
    * tail built a (token, pos) struct per token and ran an interpreted
    * `exists` probe per token through non-codegen HOF eval; it survives
    * as [[stripRepeatedSpansHof]], the identity-spec twin). The join is
    * hint-forced to SHUFFLE_HASH with the spans side as the build: a
    * sort-merge join would SORT the document frame, whose rows carry the
    * whole text (multi-KB payloads — the same sort class that filled the
    * 500k-doc scale run's scratch disk in the old minhash verify), while
    * the spans build side is a per-doc bounded frame.
    *
    * `precomputedSpans` lets a caller that already materialized
    * [[repeatedSpans]] output (e.g. to COUNT it — the ScaleRun phase)
    * reuse it: without this, detect + strip pays the corpus-wide shingle
    * exchange twice. CONTRACT: the frame must be [[repeatedSpans]] output
    * over the SAME `df` built with the SAME `n` and `minOcc` — span
    * positions are `n`-dependent token indexes, so spans from different
    * parameters would silently strip the wrong ranges. The schema
    * (id/span_start/span_end) is asserted here; the parameter coupling
    * cannot be checked from the frame and is the caller's obligation. */
  def stripRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 10, minOcc: Int = 2,
                         precomputedSpans: Option[DataFrame] = None,
                         docParts: Int = 0): DataFrame = {
    precomputedSpans.foreach { ps =>
      val missing = Seq("id", "span_start", "span_end")
        .filterNot(ps.columns.contains)
      require(missing.isEmpty,
        s"precomputedSpans must be repeatedSpans output (missing columns: " +
          s"${missing.mkString(", ")}; got: ${ps.columns.mkString(", ")}) " +
          s"built with the same n=$n, minOcc=$minOcc")
    }
    val spans = precomputedSpans
      .getOrElse(repeatedSpans(df, idCol, textCol, n, minOcc,
        docParts = docParts))
      .groupBy("id")
      .agg(collect_list(struct(col("span_start").cast("long").as("_1"),
        col("span_end").cast("long").as("_2"))).as("spans"))
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("__text"))
      .join(spans.hint("SHUFFLE_HASH"), Seq("id"), "left")
      .select(col("id"), stripKernelUdf(col("__text"),
        coalesce(col("spans"),
          array().cast("array<struct<_1:bigint,_2:bigint>>"))).as("__r"))
      .select(col("id"), col("__r._1").as("n_tokens"),
        col("__r._2").as("n_kept"), col("__r._3").as("clean_md5"))
      .filter(col("n_tokens") > 0)
  }

  /** Compiled strip kernel: one pass over the token arena per doc →
    * (n_tokens, n_kept, md5 of the kept tokens space-joined). Kept
    * tokens stream their pre-spaced arena slices straight into one
    * MessageDigest — the digested bytes are exactly the UTF-8 of
    * `concat_ws(" ", kept)` (arena tokens are the `shingleTokens`
    * elements, TokenizeSpec-pinned; joined with the same single 0x20).
    * The covered test is ANY span with start ≤ p < end — overlap-safe
    * and order-free, exactly the HOF twin's `exists` semantics
    * (repeatedSpans emits disjoint sorted spans, but `precomputedSpans`
    * is caller input and must not be assumed clean). A null/too-short
    * text yields n_tokens = 0 and is filtered, as the twin's pre-join
    * size filter did. Identity to [[stripRepeatedSpansHof]] is pinned
    * by SubstringDedupSpec on hand and real corpora. */
  // one MessageDigest per executor thread, reset per row — the per-row
  // getInstance("MD5") showed up as allocator noise on the strip hot path
  // (r11 ADVICE); reset() restores the empty-digest state exactly
  private val stripMd5 =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val stripKernelUdf = udf { (text: String, spans: Seq[(Long, Long)]) =>
    val tk = graft.expr.TokenKernel.shingleTokenBytes(text)
    val nTok = tk.count
    val md = stripMd5.get()
    md.reset()
    // Coverage probe: sort the spans once by start, then walk tokens and
    // spans together with a running max-end — covered(i) ⟺ some span has
    // start ≤ i < end ⟺ max{end : start ≤ i} > i. O(nTok + m log m)
    // instead of the former O(nTok × m) inner scan (r11 ADVICE: serving
    // spans from repeatedSpans are disjoint-sorted, but precomputedSpans
    // is caller input — the running-max walk stays correct for arbitrary
    // unsorted/overlapping spans, the semantics the HOF twin pins).
    val sp = spans.toArray
    java.util.Arrays.sort(sp, java.util.Comparator.comparingLong(
      (p: (Long, Long)) => p._1))
    var kept = 0L
    var i = 0
    var j = 0          // first span not yet activated (start > i)
    var activeEnd = 0L // max end among spans with start ≤ i
    while (i < nTok) {
      while (j < sp.length && sp(j)._1 <= i) {
        if (sp(j)._2 > activeEnd) activeEnd = sp(j)._2
        j += 1
      }
      if (i >= activeEnd) {
        if (kept > 0L) md.update(' '.toByte)
        val p0 = tk.starts(i)
        md.update(tk.bytes, p0, tk.starts(i + 1) - 1 - p0)
        kept += 1L
      }
      i += 1
    }
    val d = md.digest()
    val sb = new java.lang.StringBuilder(32)
    var b = 0
    while (b < d.length) {
      sb.append(Character.forDigit((d(b) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(b) & 0xf, 16))
      b += 1
    }
    (nTok.toLong, kept, sb.toString)
  }

  /** The interpreted Column-tail twin of [[stripRepeatedSpans]] (identity
    * spec only — finding 21's per-token allocator class; see the serving
    * method's scaladoc). */
  private[graft] def stripRepeatedSpansHof(df: DataFrame, idCol: String,
                                           textCol: String, n: Int = 10,
                                           minOcc: Int = 2): DataFrame = {
    val spans = repeatedSpans(df, idCol, textCol, n, minOcc)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val toks = df.select(col(idCol).cast("long").as("id"),
        shingleToksUdf(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
    toks.join(spans.hint("SHUFFLE_HASH"), Seq("id"), "left")
      .select(col("id"), col("toks"),
        coalesce(col("spans"),
          array().cast("array<struct<span_start:long,span_end:long>>"))
          .as("sp"))
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        filter(transform(col("toks"),
            (t, p) => struct(t.as("t"), p.cast("long").as("p"))),
          x => !exists(col("sp"), s =>
            x.getField("p") >= s.getField("span_start") &&
              x.getField("p") < s.getField("span_end"))).as("kept"))
      .select(col("id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ",
          transform(col("kept"), x => x.getField("t")))).as("clean_md5"))
  }

  /** Persisted state of the INCREMENTAL substring-dedup lane: per-shingle
    * corpus-wide occurrence counts — (shingle: long xxhash64 key, occ:
    * long position-multiplicity count), the exact quantity
    * [[repeatedSpans]]'s occurrence filter thresholds on. Built once over
    * a base corpus, persisted (parquet), probed by
    * [[incrementalRepeatedSpans]] for each arriving batch, advanced with
    * [[mergeOccurrenceTables]] — the q52 cross-corpus pattern applied to
    * span-level dedup.
    *
    * Scale shape: ONE exchange of bare 8-byte keys (ids/positions are
    * dropped before the shuffle — counts don't need them), then the
    * sort-free [[KeyedSum]] kernel per partition. groupBy().count() on
    * this mostly-unique key stream is the measured finding-9 pathology
    * (sort-based aggregate fallbacks, 267 GB spill at 724M positions);
    * the kernel's memory is the partition's distinct-key count, same
    * contract as [[OccurrenceFilter]]. Singletons (occ = 1) are KEPT —
    * a later increment can push them over the threshold; the table is
    * therefore distinct-shingle-sized, the inherent state of span-level
    * dedup (it shuffles and persists on 8-byte keys, never text). */
  def shingleOccurrenceTable(df: DataFrame, textCol: String,
                             n: Int = 10, parts: Int = 0,
                             docParts: Int = 0): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val spark = df.sparkSession
    import spark.implicits._
    val p = occExchangeParts(df, parts)
    adaptiveDocBase(df, docParts)
      .select(explode(posShingleHashesUdf(col(textCol), lit(n)))
        .as("shingle"))
      .select(col("shingle"), lit(1L).as("w"))
      .repartition(p, col("shingle"))
      .as[(Long, Long)]
      .mapPartitions(it => new KeyedSum()(it))
      .toDF("shingle", "occ")
  }

  /** Plan-stats gate for the 8× occurrence-exchange width (r11 verdict
    * item 6): the ×8 over-partitioning exists for CORPUS-mass key streams
    * (finding 9's regime — it keeps per-task count tables and parked rows
    * small), but the micro-batch lane feeds the same helpers batch-sized
    * frames where 8× is just empty-task scheduling overhead. Inputs whose
    * plan-stats bytes sit under this keep the session default; unknown
    * stats estimate HUGE and take the wide side — the scale-safe
    * direction, same discipline as [[DocRepartitionMinBytes]]. Both gate
    * sides spec-pinned (IncrementalDedupSpec). */
  private[graft] final val OccWideMinBytes = 64L << 20

  /** The shared occurrence-exchange width dispatch: >0 forced, 0
    * adaptive on the input's plan-stats bytes (≥ [[OccWideMinBytes]] →
    * 8× the session parallelism, under it → the session default). */
  private def occExchangeParts(df: DataFrame, parts: Int): Int = {
    val session = df.sparkSession.sessionState.conf.numShufflePartitions
    if (parts > 0) parts
    else if (df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      OccWideMinBytes) session * 8
    else session
  }

  /** Collapse a (possibly multi-row-per-shingle) occurrence frame to one
    * (shingle, occ) row per key: one 8-byte-key exchange + the
    * [[KeyedSum]] kernel — never a join, never a sort. The shared tail of
    * [[mergeOccurrenceTables]] and [[graft.streaming.OccStateStore]]'s
    * bucket compaction. */
  private[graft] def aggregateOccurrences(df: DataFrame,
                                          parts: Int = 0): DataFrame = {
    require(df.columns.contains("shingle") && df.columns.contains("occ"),
      s"occurrence table needs (shingle, occ); got ${df.columns.mkString(", ")}")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("shingle"), col("occ"))
      .repartition(occExchangeParts(df, parts), col("shingle"))
      .as[(Long, Long)]
      .mapPartitions(it => new KeyedSum()(it))
      .toDF("shingle", "occ")
  }

  /** Advance the incremental lane's state: element-wise sum of two
    * occurrence tables (either from [[shingleOccurrenceTable]] or a prior
    * merge). Union + one 8-byte-key exchange + the [[KeyedSum]] kernel —
    * never a join, never a sort. */
  def mergeOccurrenceTables(a: DataFrame, b: DataFrame,
                            parts: Int = 0): DataFrame = {
    Seq(a, b).foreach { t =>
      require(t.columns.contains("shingle") && t.columns.contains("occ"),
        s"occurrence table needs (shingle, occ); got ${t.columns.mkString(", ")}")
    }
    aggregateOccurrences(
      a.select(col("shingle"), col("occ"))
        .unionByName(b.select(col("shingle"), col("occ"))), parts)
  }

  /** Micro-batch gate for [[incrementalRepeatedSpans]]: a batch whose
    * plan-stats bytes sit at or under this (and whose distinct-shingle
    * count clears [[Curation.MaxFlaggedIdBroadcast]]) takes the
    * BROADCAST-slim path — the state is filtered map-side and NEVER
    * exchanges, the streaming regime's per-micro-batch shape (16 MB of
    * text ≈ ~3M shingle keys, inside the 4M broadcast gate by
    * construction). Unknown plan stats estimate huge → the default
    * (SHUFFLE_HASH) path, the scale-safe direction. Package-visible so
    * specs pin both gate sides. */
  private[graft] final val MicroBatchMaxBytes = 16L << 20

  /** Pass as `microBatchMaxBytes` to DISABLE the micro-batch gate: the
    * probe keeps the one-job lazy SHUFFLE_HASH plan — no eager
    * checkpoint/count jobs at construction, full lineage fault tolerance
    * (the gate's localCheckpoint blocks are not recomputed on executor
    * loss). Batch-context callers whose frames are small but who don't
    * want construction running jobs should pass this instead of the magic
    * -1 (r11 advice); q100 pins it to bench the at-scale shuffle lane. */
  final val MicroBatchGateDisabled = -1L

  /** Incremental substring-level exact dedup: [[repeatedSpans]] for an
    * ARRIVING batch against a persisted base corpus, without re-shingling
    * the base — the lane that makes span-level detection incremental
    * ([[graft.streaming.StreamingSpanDedup]] drives it per micro-batch;
    * it was batch-only before this).
    *
    * Contract: `baseOcc` carries the base corpus's per-shingle occurrence
    * counts built with the SAME `n` — either [[shingleOccurrenceTable]]
    * output directly, or ANY (shingle, occ) frame whose per-shingle SUM
    * equals it (several rows per shingle are summed after the slim, so
    * [[graft.streaming.OccStateStore]] can pass base + uncompacted delta
    * segments without a corpus-wide pre-merge). The schema is asserted;
    * the `n` coupling — shingle hashes are n-dependent — is the caller's
    * obligation, same policy as [[stripRepeatedSpans]]'s
    * `precomputedSpans`. A new-doc position is covered exactly when its
    * shingle's occurrences across base + batch reach `minOcc`, so the
    * output row-equals `repeatedSpans(base ∪ batch).filter(id ∈ batch)`
    * (IncrementalDedupSpec pins this on hand and real corpora; the
    * q100 oracle re-derives it in SQL over the union corpus). Spans for
    * BASE docs newly pushed over the threshold by the batch are NOT
    * re-emitted — base history is immutable, the q52 semantics; a caller
    * wanting them runs the batch form. Chained increments are
    * history-ordered by construction: spans emitted for batch k see
    * exactly base + batches 1..k.
    *
    * Scale shape: the batch shingles once and crosses ONE exchange as
    * (id, pos, shingle) rows partitioned on the 8-byte shingle key; that
    * exchange is read TWICE (plan-level reuse — built once) — once
    * projected to bare keys through the [[KeyedSum]] batch-count kernel,
    * once as the left of a SHUFFLE_HASH left-semi join against the
    * covered-key set (batch-count ⋈ broadcast-free base-table lookup,
    * both sides 8-byte keys). The base corpus never re-shingles and
    * never crosses the wire: only its (distinct-shingle-sized) count
    * table joins, partitioned on the same key. Islands merge per doc
    * exactly as the batch form. */
  def incrementalRepeatedSpans(batch: DataFrame, idCol: String,
                               textCol: String, baseOcc: DataFrame,
                               n: Int = 10, minOcc: Int = 2,
                               occParts: Int = 0,
                               docParts: Int = 0,
                               microBatchMaxBytes: Long = MicroBatchMaxBytes)
      : DataFrame = {
    require(n >= 1 && minOcc >= 2, "need n >= 1 and minOcc >= 2")
    require(baseOcc.columns.contains("shingle") &&
      baseOcc.columns.contains("occ"),
      s"baseOcc must be shingleOccurrenceTable output (shingle, occ) " +
        s"built with the same n=$n; got ${baseOcc.columns.mkString(", ")}")
    val spark = batch.sparkSession
    import spark.implicits._
    val p = occExchangeParts(batch, occParts)
    // Micro-batch regime (r11): at streaming cadence the batch is tiny
    // while the state stays corpus-sized, so paying the state's exchange
    // per micro-batch is the wrong side of the trade. Under the gate the
    // batch's (checkpointed, batch-sized) key set BROADCASTS into the
    // slim, the state is filtered in its scan stage, and nothing
    // state-sized ever shuffles; the checkpoint also stands in for the
    // plan-level exchange reuse the one-job path gets for free. NOTE the
    // gate makes CONSTRUCTION eager — the checkpoint + count jobs run
    // before this returns, and their blocks live until the
    // ContextCleaner collects the dropped frames — batch-sized by the
    // gate, the accepted price of keeping state bytes off the wire.
    // localCheckpoint blocks are NOT fault-tolerant (an executor loss
    // fails the query instead of recomputing) — batch-context callers
    // who want the lazy, lineage-recoverable one-job plan pass
    // [[MicroBatchGateDisabled]] (r11 advice).
    val microBatch = microBatchMaxBytes > 0 &&
      batch.queryExecution.optimizedPlan.stats.sizeInBytes <=
        BigInt(microBatchMaxBytes)
    val shEx0 = adaptiveDocBase(batch, docParts)
      .select(col(idCol).cast("long").as("id"),
        posexplode(posShingleHashesUdf(col(textCol), lit(n)))
          .as(Seq("pos", "shingle")))
      .repartition(p, col("shingle"))
    val shEx = if (microBatch) shEx0.localCheckpoint() else shEx0
    val batchCnt0 = shEx
      .select(col("shingle"), lit(1L).as("w"))
      .as[(Long, Long)]
      .mapPartitions(it => new KeyedSum()(it))
      .toDF("shingle", "occ_new")
    val batchCnt =
      if (microBatch) batchCnt0.localCheckpoint() else batchCnt0
    val broadcastSlim = microBatch &&
      batchCnt.count() <= Curation.MaxFlaggedIdBroadcast
    // Join-shape discipline (measured at 504k docs, ScaleRun phase 5b):
    // the table side is CORPUS-sized (623M rows at 504k docs) while the
    // batch is small by contract — a direct left join goes SortMergeJoin
    // and SORTS the table side (39 GB of spill measured). Instead the
    // table is slimmed to the batch's keys FIRST via a hash semi-join
    // (build side = the batch counts, table streams past — its one
    // inherent exchange), and the value join then runs batch-sized on
    // both sides. No sort anywhere; the table crosses the wire at most
    // once per increment — and in the MICRO-BATCH regime (gate above)
    // not at all: the batch's key set broadcasts and the state is
    // filtered inside its scan stage, the shape a per-minute streaming
    // cadence needs against a corpus-sized table. The state SCAN is the
    // caller's lever (r12, the r11 weak mark): a store-backed caller
    // passes a bucket-PRUNED baseOcc
    // (OccStateStore.read(version, buckets) — exact pmod pruning, spans
    // unchanged), so the read scales with the batch's bucket fraction
    // instead of O(|state|); an unpruned frame stays correct, just
    // unpruned.
    // The slimmed base may carry SEVERAL rows per shingle: baseOcc's
    // contract (see the scaladoc) is per-shingle SUM, so a delta-segment
    // state store ([[graft.streaming.OccStateStore]]) can hand its base +
    // uncompacted deltas straight in without a corpus-wide pre-merge. The
    // sum runs AFTER the semi-join slim — batch-sized, and the SHUFFLE_HASH
    // output is already partitioned on shingle, so it adds no exchange.
    incrementalSpansTail(shEx, batchCnt, baseOcc, broadcastSlim, n, minOcc)
  }

  /** Shared probe tail of [[incrementalRepeatedSpans]] and
    * [[incrementalSpansPrepared]]: slim the state to the batch's keys
    * (broadcast under the micro-batch gate, SHUFFLE_HASH past it — the
    * finding-20 shape that keeps the corpus-sized state from ever
    * sorting), threshold base+batch counts, semi-join the batch's
    * positions, merge islands. `batchCnt` carries (shingle, occ_new). */
  private def incrementalSpansTail(shEx: DataFrame, batchCnt: DataFrame,
                                   baseOcc: DataFrame,
                                   broadcastSlim: Boolean,
                                   n: Int, minOcc: Int): DataFrame = {
    val baseSlim = (
      if (broadcastSlim)
        baseOcc.select(col("shingle"), col("occ").as("occ_base"))
          .join(broadcast(batchCnt.select("shingle")),
            Seq("shingle"), "left_semi")
      else
        baseOcc.select(col("shingle"), col("occ").as("occ_base"))
          .join(batchCnt.select("shingle").hint("SHUFFLE_HASH"),
            Seq("shingle"), "left_semi"))
      .groupBy("shingle").agg(sum("occ_base").as("occ_base"))
    val covered = batchCnt
      .join(baseSlim.hint("SHUFFLE_HASH"), Seq("shingle"), "left")
      .filter(col("occ_new") + coalesce(col("occ_base"), lit(0L)) >= minOcc)
      .select("shingle")
    val coveredPos = shEx
      .join(covered.hint("SHUFFLE_HASH"), Seq("shingle"), "left_semi")
      .select("id", "pos")
    islandsToSpans(coveredPos, n)
  }

  /** Prepare a micro-batch for the streaming span-dedup lane: ONE shingle
    * pass, returning the two checkpointed frames every per-batch step
    * consumes — `(shEx, counts)` where `shEx` is the (id, pos, shingle)
    * exchange and `counts` is the batch's (shingle, occ) table (the
    * per-shingle [[KeyedSum]] of `shEx`, i.e. exactly
    * [[shingleOccurrenceTable]]'s output for the batch).
    *
    * Why this exists (r11 verdict item 2): the streaming driver used to
    * call [[incrementalRepeatedSpans]] (which shingles the batch for the
    * probe) and then [[shingleOccurrenceTable]] for the state advance —
    * two evaluations of the shingle kernel + two exchanges per
    * micro-batch for the same counts. Here the kernel runs once into a
    * checkpoint; the probe ([[incrementalSpansPrepared]]), the state
    * advance ([[graft.streaming.OccStateStore.advance]]) and the
    * bucket-pruning key-set job all read the checkpointed frames.
    * StreamingSpanDedupSpec pins the single evaluation in the plans.
    *
    * Contract notes: construction is EAGER (the frames are cached and
    * materialized before this returns — the streaming regime's accepted
    * price, same as the micro-batch gate in
    * [[incrementalRepeatedSpans]]). Caching is the columnar SQL cache,
    * not localCheckpoint (compressed 20-byte rows, outputPartitioning
    * preserved; checkpoint blocks hold deserialized rows — the ~5×
    * block-read tax of SCALE.md finding 20, which the r12 first cut paid
    * at the 504k bulk shape: probe+advance 143 s vs 55 lazy) — and it is
    * REGIME-GATED like everything else in this lane:
    *  - micro batches (plan-stats ≤ [[MicroBatchMaxBytes]]): BOTH frames
    *    cache — the kernel runs exactly once per batch, spans + advance
    *    + pruning all read the caches (the spec's plan pin);
    *  - bulk batches: only `counts` caches (batch-keys-sized); `shEx`
    *    stays LAZY, so the probe re-evaluates the kernel once more there
    *    — materializing a 69M-row exchange costs more than the kernel
    *    pass it saves (measured, the first-cut number above). Total
    *    kernel passes at bulk: 2, same as the lazy one-call form — the
    *    win is the advance's pass + exchange + sum, now free.
    * THE CALLER OWNS `unpersist()` on both frames once the batch is
    * served (the SQL cache is not GC-driven;
    * [[graft.streaming.StreamingSpanDedup.processBatch]] does it in its
    * finally; unpersist on the never-cached bulk `shEx` is a no-op).
    * Batch (non-streaming) callers should keep using
    * [[incrementalRepeatedSpans]], whose default path is lazy and
    * lineage-recoverable. */
  def prepareIncrementalBatch(batch: DataFrame, idCol: String,
                              textCol: String, n: Int = 10,
                              docParts: Int = 0,
                              occParts: Int = 0): (DataFrame, DataFrame) = {
    require(n >= 1, s"need n >= 1, got $n")
    val spark = batch.sparkSession
    import spark.implicits._
    // adaptive width (OccWideMinBytes' gate): micro-batches keep the
    // session default instead of paying 8x empty tasks per batch; note
    // the stats here are the DOC frame's — the exchange amplifies ~10x
    // into shingles, inside the gate's margin at the 64 MB threshold
    val p = occExchangeParts(batch, occParts)
    val micro = batch.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(MicroBatchMaxBytes)
    val shEx0 = adaptiveDocBase(batch, docParts)
      .select(col(idCol).cast("long").as("id"),
        posexplode(posShingleHashesUdf(col(textCol), lit(n)))
          .as(Seq("pos", "shingle")))
      .repartition(p, col("shingle"))
    val shEx = if (micro) shEx0.persist() else shEx0
    val counts = shEx
      .select(col("shingle"), lit(1L).as("w"))
      .as[(Long, Long)]
      .mapPartitions(it => new KeyedSum()(it))
      .toDF("shingle", "occ")
      .persist()
    // one action materializes the cache(s) — in the micro regime counts
    // builds THROUGH the shEx cache, so the kernel runs once, here. If
    // the action fails (executor loss mid-materialization), drop the
    // registered cache entries before rethrowing: the caller never got
    // the frames, so its unpersist contract can't cover them, and a
    // driver that retries the batch would otherwise grow the SQL cache
    // by two orphaned entries per attempt.
    try counts.count()
    catch {
      case t: Throwable =>
        // Try-wrapped: if unpersist itself throws (a SparkContext already
        // shutting down after executor loss — the exact scenario this
        // handler targets), the ORIGINAL materialization failure must
        // still propagate, not the secondary cleanup one (r12 advice)
        scala.util.Try(counts.unpersist())
        if (micro) scala.util.Try(shEx.unpersist())
        throw t
    }
    (shEx, counts)
  }

  /** [[incrementalRepeatedSpans]] from [[prepareIncrementalBatch]] frames
    * — row-identical output (StreamingSpanDedupSpec pins it against the
    * one-call form), zero additional shingle work: the probe is the tail
    * only. `broadcastSlim` is the caller's micro-batch-gate verdict
    * (batch plan-stats bytes ≤ [[MicroBatchMaxBytes]] AND batch-distinct
    * shingles ≤ [[Curation.MaxFlaggedIdBroadcast]] — what
    * [[graft.streaming.StreamingSpanDedup.processBatch]] evaluates);
    * `baseOcc` may be bucket-PRUNED to the batch's key set
    * ([[graft.streaming.OccStateStore.read(version:Long,buckets:Set[Int])*]])
    * — exact pruning, so the spans are unchanged. */
  def incrementalSpansPrepared(shEx: DataFrame, batchCounts: DataFrame,
                               baseOcc: DataFrame, n: Int = 10,
                               minOcc: Int = 2,
                               broadcastSlim: Boolean = true): DataFrame = {
    require(n >= 1 && minOcc >= 2, "need n >= 1 and minOcc >= 2")
    val missing = Seq("id", "pos", "shingle")
      .filterNot(shEx.columns.contains)
    require(missing.isEmpty,
      s"shEx must be prepareIncrementalBatch's first frame (missing: " +
        s"${missing.mkString(", ")})")
    Seq(batchCounts, baseOcc).foreach { t =>
      require(t.columns.contains("shingle") && t.columns.contains("occ"),
        s"occurrence frames need (shingle, occ); got ${t.columns.mkString(", ")}")
    }
    incrementalSpansTail(shEx,
      batchCounts.select(col("shingle"), col("occ").as("occ_new")),
      baseOcc, broadcastSlim, n, minOcc)
  }

  // ---- driver-local micro-batch span kernel (r15 verdict item 1) ------
  //
  // The warm micro serve's remaining wall was the span compute's OWN
  // distributed jobs (kernel + joins + window + collect) — scheduler
  // round-trips over driver-sized data: a micro batch's text is ≤ the
  // 16 MB byte gate and its distinct shingles ≤ the 64k key gate, so the
  // whole probe tail fits a plain in-memory evaluation. These three
  // functions are that evaluation — the symmetric move to the zero-job
  // driver PLAN (OccStateStore.driverPlanFromKeys): same kernel
  // (posShingleHashes — XXH64 over the shared token arena), same
  // threshold arithmetic, same gaps-and-islands merge, row-identical to
  // incrementalSpansPrepared by construction (StreamingSpanDedupSpec
  // pins it on hash-valued keys across the gate). Past either gate the
  // distributed lane stays — exactly like the plan gate.

  /** Per-doc positional shingle hashes, driver-side: `(id, hashes)` where
    * `hashes(pos)` is exactly the distributed exchange's (id, pos,
    * shingle) rows for the doc ([[posShingleHashes]] is the same static
    * the UDF calls — null/short texts yield empty arrays, matching the
    * UDF's no-rows). */
  def localShingleDocs(docs: Array[(Long, String)],
                       n: Int): Array[(Long, Array[Long])] =
    docs.map { case (id, text) => (id, posShingleHashes(text, n)) }

  /** The batch's per-shingle occurrence counts, driver-side — the twin of
    * [[prepareIncrementalBatch]]'s `counts` frame (position multiplicity,
    * exactly [[shingleOccurrenceTable]]'s semantics). */
  def localOccCounts(perDoc: Array[(Long, Array[Long])])
      : scala.collection.mutable.LongMap[Long] = {
    val m = new scala.collection.mutable.LongMap[Long](1 << 10)
    perDoc.foreach { case (_, hs) =>
      var i = 0
      while (i < hs.length) {
        val k = hs(i)
        m.update(k, m.getOrElse(k, 0L) + 1L)
        i += 1
      }
    }
    m
  }

  /** DRIVER-LOCAL twin of [[incrementalSpansPrepared]]: spans as
    * `(id, span_id, span_start, span_end, n_shingles)` tuples, computed
    * in a plain loop — threshold `occ_new + occ_base >= minOcc` over the
    * batch counts + the probed base rows (per-shingle SUM, the same
    * relaxed contract), covered positions merged per doc with the
    * gaps-and-islands rule (`islandsToSpans`): an island breaks exactly
    * when a window starts past every previous window's end; positions
    * arrive in order, so the previous max end IS the last covered
    * position + n. Output multiset-identical to the distributed tail
    * (the spec's pin); ordering is per-doc by position, docs in input
    * order. */
  def incrementalSpansLocal(perDoc: Array[(Long, Array[Long])],
                            counts: scala.collection.Map[Long, Long],
                            baseOcc: Array[(Long, Long)], n: Int,
                            minOcc: Int): Array[(Long, Long, Int, Int, Long)] = {
    require(n >= 1 && minOcc >= 2, "need n >= 1 and minOcc >= 2")
    val base = new scala.collection.mutable.LongMap[Long](
      math.max(16, baseOcc.length))
    baseOcc.foreach { case (k, occ) =>
      base.update(k, base.getOrElse(k, 0L) + occ)
    }
    val out =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int, Long)]
    perDoc.foreach { case (id, hs) =>
      var spanId = 0L
      var start = -1
      var lastPos = -1
      var nSh = 0L
      var pos = 0
      while (pos < hs.length) {
        val k = hs(pos)
        if (counts.getOrElse(k, 0L) + base.getOrElse(k, 0L) >= minOcc) {
          if (start < 0 || pos > lastPos + n) {
            if (start >= 0) out += ((id, spanId, start, lastPos + n, nSh))
            spanId += 1
            start = pos
            nSh = 0L
          }
          nSh += 1L
          lastPos = pos
        }
        pos += 1
      }
      if (start >= 0) out += ((id, spanId, start, lastPos + n, nSh))
    }
    out.toArray
  }

  /** The incremental lane's POSITIONS index over a base corpus: one
    * (id, pos, shingle) row per shingle occurrence — written ONCE when
    * the base is indexed (parquet, alongside [[shingleOccurrenceTable]]'s
    * counts) and consumed by [[retroactiveSpanSweep]], which must answer
    * "which BASE docs contain this shingle, and where" WITHOUT
    * re-shingling base text. Three 8-byte columns; the id/pos packing
    * range is the caller's to respect (same bounds as
    * [[coveredPositionsHash]] asserts). `n` couples to the occurrence
    * table exactly as [[incrementalRepeatedSpans]] documents. */
  def shinglePositionsTable(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 10, docParts: Int = 0): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    adaptiveDocBase(df, docParts)
      .select(col(idCol).cast("long").as("id"),
        posexplode(posShingleHashesUdf(col(textCol), lit(n)))
          .as(Seq("pos", "shingle")))
      .select(col("id"), col("pos"), col("shingle"))
  }

  /** Retroactive-coverage sweep — the documented other half of the
    * incremental lane's lambda split ([[incrementalRepeatedSpans]] never
    * re-emits spans for BASE docs that accumulated increments push over
    * the threshold; this cadenced batch job does, without re-shingling
    * one byte of base text).
    *
    * Inputs: the base corpus's persisted [[shinglePositionsTable]], the
    * occurrence state at the LAST sweep (`prevOcc`) and now (`curOcc`) —
    * both in the relaxed per-shingle-SUM form, so
    * [[graft.streaming.OccStateStore.read]] frames pass straight in.
    * Output: the CURRENT full span set for every affected base doc
    * (a doc is affected iff it contains a shingle that crossed `minOcc`
    * between the two states; its whole span set is recomputed because
    * new covered positions can merge islands with old ones). Docs with
    * no crossed shingle keep byte-identical spans — counts only grow, so
    * coverage only changes at crossing keys — which gives the serving
    * composition
    * {{{
    *   priorBaseSpans.join(sweep.select("id").distinct, Seq("id"), "left_anti")
    *     .unionByName(sweep)   // == repeatedSpans(base ∪ increments) ∩ base ids
    * }}}
    * (every affected id has ≥ 1 span — its crossing occurrence is itself
    * covered — so the anti-join subtracts exactly the affected set);
    * [[composeSweep]] is that composition, ordered, under the same gate.
    * RetroactiveSweepSpec pins sweep ∪ kept-prior ∪ incremental ==
    * full batch recompute; q101 gates the base half against the batch
    * oracle at the driver.
    *
    * Two regimes, one gate ([[DriverLocal.MaxRows]] rows per input):
    *   - every input under it: the sweep runs on the driver
    *     ([[sweepLocal]]: one probe job, one collect job) and the spans
    *     re-enter the plan as a LocalRelation;
    *   - past it, or with a null cell: [[sweepDistributed]]. The two
    *     states aggregate ONCE each (their inherent 8-byte-key exchange)
    *     and anti-join into the crossed-key set, which is bounded by the
    *     increments' distinct shingles since the last sweep. The positions
    *     index streams past hash semi-joins (crossed → affected ids; then
    *     the affected restriction) — scans, never sorts; the id
    *     restriction broadcasts under the decontamination gate
    *     ([[Curation.MaxFlaggedIdBroadcast]]'s policy) so the corpus-sized
    *     index never re-exchanges on id. The affected docs' coverage test
    *     slims curOcc to the affected key set first (finding 20's shape),
    *     so the threshold aggregate runs on affected-doc mass, and only
    *     affected docs' positions reach the gaps-and-islands merge.
    * `sliceAffected` shapes the distributed regime only. */
  def retroactiveSpanSweep(positions: DataFrame, prevOcc: DataFrame,
                           curOcc: DataFrame, n: Int = 10,
                           minOcc: Int = 2,
                           sliceAffected: Int = SweepSliceMaxAffected): DataFrame = {
    requireSweepInputs(positions, n, minOcc, prevOcc, curOcc)
    sweepLocal(positions, prevOcc, curOcc, deltaForm = false, n, minOcc)
      .getOrElse(sweepDistributed(positions, prevOcc, curOcc, n, minOcc,
        sliceAffected))
  }

  /** Delta form of [[retroactiveSpanSweep]] — the state-store-native
    * signature: instead of two full state snapshots the caller passes the
    * PREVIOUS state and the DELTAS accumulated since (contract:
    * cur ≡ prev ⊎ delta as per-shingle sums — exactly what
    * [[graft.streaming.OccStateStore.readDeltasBetween]] returns). Same
    * two regimes and gate as the pair form; past the gate the crossed
    * set comes from [[crossedKeysDelta]] instead of aggregating BOTH full
    * states. Output is row-identical to the pair form
    * (RetroactiveSweepSpec pins it). */
  def retroactiveSpanSweepDelta(positions: DataFrame, prevOcc: DataFrame,
                                deltaOcc: DataFrame, n: Int = 10,
                                minOcc: Int = 2,
                                sliceAffected: Int = SweepSliceMaxAffected): DataFrame = {
    requireSweepInputs(positions, n, minOcc, prevOcc, deltaOcc)
    sweepLocal(positions, prevOcc, deltaOcc, deltaForm = true, n, minOcc)
      .getOrElse(sweepDeltaDistributed(positions, prevOcc, deltaOcc, n,
        minOcc, sliceAffected))
  }

  private def requireSweepInputs(positions: DataFrame, n: Int, minOcc: Int,
                                 occ: DataFrame*): Unit = {
    require(n >= 1 && minOcc >= 2, "need n >= 1 and minOcc >= 2")
    val missing = Seq("id", "pos", "shingle")
      .filterNot(positions.columns.contains)
    require(missing.isEmpty,
      s"positions must be shinglePositionsTable output (missing: " +
        s"${missing.mkString(", ")}) built with the same n=$n")
    occ.foreach { t =>
      require(t.columns.contains("shingle") && t.columns.contains("occ"),
        s"occurrence frames need (shingle, occ); got ${t.columns.mkString(", ")}")
    }
  }

  /** The distributed regime of [[retroactiveSpanSweep]] at any input
    * size (package-visible so specs pin it on small inputs). Newly
    * covered keys: counts are monotone, so prev-covered ⊆ cur-covered and
    * the anti-join is exactly the crossing set. */
  private[graft] def sweepDistributed(positions: DataFrame,
                                      prevOcc: DataFrame, curOcc: DataFrame,
                                      n: Int = 10, minOcc: Int = 2,
                                      sliceAffected: Int = SweepSliceMaxAffected)
      : DataFrame = {
    requireSweepInputs(positions, n, minOcc, prevOcc, curOcc)
    def coveredKeys(occ: DataFrame) =
      aggregateOccurrences(occ).filter(col("occ") >= minOcc).select("shingle")
    val crossed = coveredKeys(curOcc)
      .join(coveredKeys(prevOcc).hint("SHUFFLE_HASH"),
        Seq("shingle"), "left_anti")
      .localCheckpoint()
    sweepTail(positions, positions, crossed, curOcc, n, minOcc, sliceAffected)
  }

  /** The distributed regime of [[retroactiveSpanSweepDelta]] at any input
    * size (package-visible so specs pin it on small inputs). */
  private[graft] def sweepDeltaDistributed(positions: DataFrame,
                                           prevOcc: DataFrame,
                                           deltaOcc: DataFrame, n: Int = 10,
                                           minOcc: Int = 2,
                                           sliceAffected: Int = SweepSliceMaxAffected)
      : DataFrame = {
    requireSweepInputs(positions, n, minOcc, prevOcc, deltaOcc)
    sweepTail(positions, positions, crossedKeysDelta(prevOcc, deltaOcc, minOcc),
      prevOcc.select("shingle", "occ")
        .unionByName(deltaOcc.select("shingle", "occ")),
      n, minOcc, sliceAffected)
  }

  /** The driver regime of both sweep forms (`occ` is `curOcc` in the pair
    * form, `deltaOcc` in the delta form): None — before any job — when an
    * input is off the [[shinglePositionsTable]] / occurrence-table column
    * types, and after the one probe job when an input has more than
    * `maxRows` rows or a null cell. Otherwise the inputs ship to the
    * driver as primitive arrays in one more job and the spans come back
    * as a LocalRelation with the distributed regime's schema. */
  private[graft] def sweepLocal(positions: DataFrame, prevOcc: DataFrame,
                                occ: DataFrame, deltaForm: Boolean, n: Int,
                                minOcc: Int,
                                maxRows: Long = DriverLocal.MaxRows)
      : Option[DataFrame] = {
    def typed(df: DataFrame, cols: (String, DataType)*) =
      cols.forall { case (c, t) => df.schema(c).dataType == t }
    val canonical =
      typed(positions, "id" -> LongType, "pos" -> IntegerType,
        "shingle" -> LongType) &&
        Seq(prevOcc, occ).forall(typed(_, "shingle" -> LongType,
          "occ" -> LongType))
    if (!canonical) None
    else DriverLocal.longColumns(Seq(
        positions.select(col("id"), col("pos").cast("long"), col("shingle")),
        prevOcc.select("shingle", "occ"), occ.select("shingle", "occ")),
        maxRows).map { case Seq(Array(ids, poss, shs), prev, other) =>
      val schema = StructType(Seq(
        StructField("id", LongType, positions.schema("id").nullable),
        StructField("span_id", LongType),
        StructField("span_start", IntegerType),
        StructField("span_end", IntegerType),
        StructField("n_shingles", LongType, nullable = false)))
      DriverLocal.localFrame(positions.sparkSession, schema,
        localSweepSpans(ids, poss, shs, prev, other, deltaForm, n, minOcc))
    }
  }

  /** [[sweepLocal]]'s arithmetic over primitive arrays; `prev` and
    * `other` are (shingle, occ) column pairs, summed per key. */
  private def localSweepSpans(ids: Array[Long], poss: Array[Long],
                              shs: Array[Long], prev: Array[Array[Long]],
                              other: Array[Array[Long]], deltaForm: Boolean,
                              n: Int, minOcc: Int): Seq[Row] = {
    import java.util.Arrays.binarySearch
    // occ sums for the ascending distinct `keys`; rows off the set skip
    def sums(keys: Array[Long], tables: Array[Array[Long]]*): Array[Long] = {
      val out = new Array[Long](keys.length)
      tables.foreach { case Array(k, o) =>
        var i = 0
        while (i < k.length) {
          val j = binarySearch(keys, k(i))
          if (j >= 0) out(j) += o(i)
          i += 1
        }
      }
      out
    }
    // crossed: p < minOcc ≤ c, with c = p + d in the delta form — so
    // d ≥ 1 there, and crossed ⊆ delta keys (⊆ cur keys in the pair form)
    val cand = DriverLocal.sortedDistinct(other(0).clone())
    val o = sums(cand, other)
    val p = sums(cand, prev)
    val crossed = Array.range(0, cand.length).filter { j =>
      p(j) < minOcc && (if (deltaForm) p(j) + o(j) else o(j)) >= minOcc
    }.map(cand)
    val rows = Array.range(0, ids.length)
    val affected = DriverLocal.sortedDistinct(
      rows.filter(i => binarySearch(crossed, shs(i)) >= 0).map(ids))
    val affRows = rows.filter(i => binarySearch(affected, ids(i)) >= 0)
    // the affected docs' coverage under the CURRENT state
    val keys = DriverLocal.sortedDistinct(affRows.map(shs))
    val cur = if (deltaForm) sums(keys, prev, other) else sums(keys, other)
    // covered rows in (id, pos) order: the dense affected-id index in the
    // high word, pos with its sign bit flipped (unsigned order) in the low
    val packed = affRows.filter(i => cur(binarySearch(keys, shs(i))) >= minOcc)
      .map(i => (binarySearch(affected, ids(i)).toLong << 32) |
        ((poss(i).toInt ^ Int.MinValue) & 0xffffffffL))
    java.util.Arrays.sort(packed)
    def docOf(x: Long): Long = x >>> 32
    def posOf(x: Long): Int = x.toInt ^ Int.MinValue
    // [[islandsToSpans]]' rule: a span breaks where pos passes every
    // previous window's end; touching windows merge, duplicate rows count
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var k = 0
    while (k < packed.length) {
      val doc = docOf(packed(k))
      var spanId = 0L
      while (k < packed.length && docOf(packed(k)) == doc) {
        val start = posOf(packed(k))
        var end = start
        var nSh = 0L
        while (k < packed.length && docOf(packed(k)) == doc &&
          posOf(packed(k)) <= end) {
          end = math.max(end, Math.addExact(posOf(packed(k)), n))
          nSh += 1
          k += 1
        }
        spanId += 1
        out += Row(affected(doc.toInt), spanId, start, end, nSh)
      }
    }
    out.toSeq
  }

  /** The sweep's composition: `priorSpans` (the spans a previous batch
    * run or sweep produced) for every id the sweep left alone, plus the
    * sweep's own spans, ordered by (id, span_start). Every affected id has
    * ≥ 1 sweep span, so the sweep's ids are exactly the ids it replaces.
    * Same gate as the sweep: when both frames have at most
    * [[DriverLocal.MaxRows]] rows, no null cell and the span column types,
    * they ship to the driver (one probe job, one collect job, neither in
    * the caller's SQL execution) and the result is a LocalRelation, so
    * collecting it runs no job; otherwise [[composeSweepDistributed]]. */
  def composeSweep(priorSpans: DataFrame, sweep: DataFrame): DataFrame = {
    val distributed = composeSweepDistributed(priorSpans, sweep)
    composeLocal(priorSpans, sweep, distributed.schema)
      .getOrElse(distributed)
  }

  /** The Spark form of [[composeSweep]] at any input size
    * (package-visible so specs pin it on small inputs). */
  private[graft] def composeSweepDistributed(priorSpans: DataFrame,
                                             sweep: DataFrame): DataFrame =
    priorSpans.join(sweep.select("id").distinct(), Seq("id"), "left_anti")
      .unionByName(sweep)
      .orderBy("id", "span_start")

  /** The span frames' columns: [[repeatedSpans]]' and the sweep's. */
  private val SpanCols = Seq("id" -> LongType, "span_id" -> LongType,
    "span_start" -> IntegerType, "span_end" -> IntegerType,
    "n_shingles" -> LongType)

  /** [[composeSweep]]'s driver regime (`schema` is the Spark form's): None
    * before any job when an input is off the span columns, after the
    * probe when one is past `maxRows` rows or has a null cell, and after
    * the collect when two spans share (id, span_start). */
  private[graft] def composeLocal(priorSpans: DataFrame, sweep: DataFrame,
                                  schema: StructType,
                                  maxRows: Long = DriverLocal.MaxRows)
      : Option[DataFrame] = {
    import java.util.Arrays.binarySearch
    val names = SpanCols.map(_._1)
    val canonical = schema.fieldNames.toSeq == names &&
      Seq(priorSpans, sweep).forall(df => df.columns.toSet == names.toSet &&
        SpanCols.forall { case (c, t) => df.schema(c).dataType == t })
    if (!canonical) None
    else DriverLocal.longColumns(Seq(priorSpans, sweep).map(df =>
        df.select(names.map(col(_).cast("long")): _*)), maxRows).flatMap {
      case Seq(prior, swept) =>
        val replaced = DriverLocal.sortedDistinct(swept(0).clone())
        val kept = Array.range(0, prior(0).length)
          .filter(i => binarySearch(replaced, prior(0)(i)) < 0)
        val Array(id, spanId, start, end, nSh) = Array.tabulate(names.length)(
          j => kept.map(i => prior(j)(i)) ++ swept(j))
        // (id, span_start) order: the dense id rank in the high word, the
        // start with its sign bit flipped (unsigned order) in the low one
        val ranks = DriverLocal.sortedDistinct(id.clone())
        val key = Array.tabulate(id.length)(i =>
          (binarySearch(ranks, id(i)).toLong << 32) |
            ((start(i).toInt ^ Int.MinValue) & 0xffffffffL))
        val sorted = key.clone()
        java.util.Arrays.sort(sorted)
        if ((1 until sorted.length).exists(i => sorted(i) == sorted(i - 1)))
          None
        else {
          val rows = new Array[Row](id.length)
          key.indices.foreach { i =>
            rows(binarySearch(sorted, key(i))) = Row(id(i), spanId(i),
              start(i).toInt, end(i).toInt, nSh(i))
          }
          Some(DriverLocal.localFrame(priorSpans.sparkSession, schema,
            rows.toSeq))
        }
    }
  }

  /** The delta decomposition's crossed-key set — prev < minOcc ≤
    * prev + delta (checkpointed: the sweep reads it several times).
    * Public piece of [[retroactiveSpanSweepDelta]]'s distributed regime
    * so a pruning layout can compute the crossed keys FIRST, file-prune
    * its positions read against them ([[graft.ops.ZoneIndex]]'s pattern —
    * the streaming driver's per-batch positions partitions do), and hand
    * both to [[sweepFromCrossed]].
    *
    * Every crossed key has d ≥ 1, so crossed ⊆ delta keys. Two shapes,
    * gated on the delta's plan-stats row estimate against
    * [[Curation.MaxFlaggedIdBroadcast]]:
    *   - a small delta aggregates first, prev is SLIMMED to its key set
    *     map-side, and the threshold test runs on delta-keyed mass
    *     ([[crossedFromDeltaAgg]], which also lets the caller prune its
    *     prev READ by the delta's keys);
    *   - a bulk delta takes the tagged union ([[taggedCrossed]]), which
    *     reads the state once where slim-first would semi-join and
    *     re-aggregate corpus mass.
    * An unmaterialized delta estimates huge and takes the bulk shape.
    * Row-identical either way (RetroactiveSweepSpec pins both shapes). */
  def crossedKeysDelta(prevOcc: DataFrame, deltaOcc: DataFrame,
                       minOcc: Int = 2): DataFrame = {
    require(minOcc >= 2, s"need minOcc >= 2, got $minOcc")
    Seq(prevOcc, deltaOcc).foreach { t =>
      require(t.columns.contains("shingle") && t.columns.contains("occ"),
        s"occurrence frames need (shingle, occ); got ${t.columns.mkString(", ")}")
    }
    // file bytes / ~8 B per zstd occ row (the occ-store figure)
    val estRows =
      (deltaOcc.queryExecution.optimizedPlan.stats.sizeInBytes /
        BigInt(graft.streaming.OccStateStore.EstBytesPerOccRow))
        .min(BigInt(Long.MaxValue)).toLong
    if (estRows > Curation.MaxFlaggedIdBroadcast)
      taggedCrossed(prevOcc, deltaOcc, minOcc)
    else
      crossedFromDeltaAgg(prevOcc,
        aggregateOccurrences(deltaOcc)
          .select(col("shingle"), col("occ").as("d_occ"))
          .localCheckpoint(),
        minOcc)
  }

  /** The bulk shape of [[crossedKeysDelta]]: prev and delta union into
    * ONE tagged exchange and [[KeyedSum2]] answers (prev-sum, delta-sum)
    * per key in a single pass. */
  private[graft] def taggedCrossed(prevOcc: DataFrame, deltaOcc: DataFrame,
                                   minOcc: Int): DataFrame = {
    val spark = prevOcc.sparkSession
    import spark.implicits._
    val tagged = prevOcc
      .select(col("shingle"), col("occ").as("a"), lit(0L).as("b"))
      .unionByName(deltaOcc
        .select(col("shingle"), lit(0L).as("a"), col("occ").as("b")))
    tagged
      .repartition(occExchangeParts(tagged, 0), col("shingle"))
      .as[(Long, Long, Long)]
      .mapPartitions(it => new KeyedSum2()(it))
      .toDF("shingle", "p_occ", "d_occ")
      .filter(col("p_occ") < minOcc &&
        col("p_occ") + col("d_occ") >= minOcc)
      .select("shingle")
      .localCheckpoint()
  }

  /** [[crossedKeysDelta]] from a PRE-AGGREGATED delta (`dAgg`:
    * (shingle, d_occ), one row per key, checkpointed by the caller):
    * the split lets a state-store caller aggregate the delta FIRST and
    * prune its prev-state READ by the delta's key set (crossed ⊆ delta
    * keys, so a key-pruned prev read is exact —
    * [[graft.streaming.StreamingSpanDedup.maybeSweep]] passes
    * `OccStateStore.readPruned` output and the state's untouched
    * buckets never leave disk). `prevOcc` may be any SUPERSET of the
    * prev rows whose shingle is in `dAgg` — extra rows are slimmed
    * exactly here. */
  def crossedFromDeltaAgg(prevOcc: DataFrame, dAgg: DataFrame,
                          minOcc: Int = 2): DataFrame = {
    require(minOcc >= 2, s"need minOcc >= 2, got $minOcc")
    val nDelta = dAgg.count()
    if (nDelta > Curation.MaxFlaggedIdBroadcast)
      // bulk window: the slim-first shape would semi-join + re-aggregate
      // corpus mass — dAgg is itself a valid per-shingle-sum delta frame,
      // so the tagged union applies as-is
      taggedCrossed(prevOcc,
        dAgg.select(col("shingle"), col("d_occ").as("occ")), minOcc)
    else {
      val dKeys = dAgg.select("shingle")
      val prevSlim =
        prevOcc.join(broadcast(dKeys), Seq("shingle"), "left_semi")
      val pAgg = aggregateOccurrences(prevSlim)
        .select(col("shingle"), col("occ").as("p_occ"))
      dAgg.join(pAgg, Seq("shingle"), "left_outer")
        .select(col("shingle"),
          coalesce(col("p_occ"), lit(0L)).as("p_occ"), col("d_occ"))
        .filter(col("p_occ") < minOcc &&
          col("p_occ") + col("d_occ") >= minOcc)
        .select("shingle")
        .localCheckpoint()
    }
  }

  /** [[retroactiveSpanSweepDelta]]'s distributed tail from a PRECOMPUTED
    * crossed set, with the positions input split in two:
    *  - `positionsForCrossed` feeds ONLY the affected-id discovery
    *    (positions ⋉ crossed). Contract: it must contain every positions
    *    row whose shingle ∈ crossed — a FILE-PRUNED read qualifies
    *    (zone/bloom pruning never drops a hit), a row-filtered one too;
    *    extra rows are harmless (the semi-join re-filters exactly).
    *  - `positions` (complete) feeds the affected docs' full coverage
    *    legs — an affected doc's spans depend on ALL its positions, not
    *    just crossed ones, so this side cannot be key-pruned.
    * Row-identical to the one-frame forms (RetroactiveSweepSpec pins
    * it). */
  def sweepFromCrossed(positionsForCrossed: DataFrame,
                       positions: DataFrame, crossed: DataFrame,
                       curOcc: DataFrame, n: Int = 10, minOcc: Int = 2,
                       sliceAffected: Int = SweepSliceMaxAffected): DataFrame = {
    Seq(positionsForCrossed, positions)
      .foreach(requireSweepInputs(_, n, minOcc))
    sweepTail(positionsForCrossed, positions, crossed, curOcc, n, minOcc,
      sliceAffected)
  }

  /** Affected-doc cap per slice of the distributed sweep's per-doc tail.
    * Affected docs' spans are mutually independent (coverage is per doc),
    * so past the cap the coverage join + gaps-and-islands window — whose
    * execution memory grows with the accumulated increment while the
    * heap does not — runs one bounded doc-id slice at a time, each
    * materializing its spans before the next allocates. The state's
    * affected-key slim and threshold aggregate, the sweep's heaviest
    * exchange, runs ONCE for the whole affected set and feeds every slice
    * from a checkpoint; re-running it per slice costs more than slicing
    * saves. 32768 keeps the 504k-doc run's sweep in one slice. */
  final val SweepSliceMaxAffected: Int = 32768

  /** Shared distributed tail of the sweep forms: crossed keys → affected
    * base ids → their covered positions under the CURRENT state → spans.
    * `curOcc` is consumed only SLIMMED to the affected docs' key set
    * (map-side under the broadcast gate — finding 20's shape), never
    * re-aggregated corpus-wide. Affected sets past `sliceAffected`
    * recompute in bounded doc-id slices (see [[SweepSliceMaxAffected]];
    * sliced output is row-identical — RetroactiveSweepSpec pins it).
    * `positionsForCrossed` vs `positions`: see [[sweepFromCrossed]] (the
    * one-frame forms pass the same frame twice). */
  private def sweepTail(positionsForCrossed: DataFrame,
                        positions: DataFrame, crossed: DataFrame,
                        curOcc: DataFrame, n: Int, minOcc: Int,
                        sliceAffected: Int): DataFrame = {
    // under the broadcast gate the crossed set broadcasts, so the
    // corpus-sized positions index is FILTERED map-side and never
    // exchanges here
    val nCrossed = crossed.count()
    val affected = (
      if (nCrossed <= Curation.MaxFlaggedIdBroadcast)
        positionsForCrossed.join(broadcast(crossed), Seq("shingle"),
          "left_semi")
      else positionsForCrossed.join(crossed.hint("SHUFFLE_HASH"),
        Seq("shingle"), "left_semi"))
      .select("id").distinct()
      .localCheckpoint()
    val nAffected = affected.count()
    val nSlices =
      if (sliceAffected <= 0) 1
      else ((nAffected + sliceAffected - 1) / sliceAffected).toInt
    // past-the-gate fallbacks stay SHUFFLE_HASH-hinted like their
    // siblings — an unhinted semi here goes SortMergeJoin and SORTS the
    // corpus-sized positions index
    val posAffected = (
      if (nAffected <= Curation.MaxFlaggedIdBroadcast)
        positions.join(broadcast(affected), Seq("id"), "left_semi")
      else positions.join(affected.hint("SHUFFLE_HASH"),
        Seq("id"), "left_semi"))
      .localCheckpoint()
    // coverage for the affected docs under the CURRENT state, without a
    // second corpus-wide aggregate: slim the state to the affected docs'
    // key set FIRST — map-side under the broadcast gate, hash semi past
    // it — then the aggregate + threshold runs on affected-doc mass only,
    // ONCE for the whole affected set regardless of slicing
    val affKeys = posAffected.select("shingle").distinct()
      .localCheckpoint()
    val nAffKeys = affKeys.count()
    val curSlim =
      if (nAffKeys <= Curation.MaxFlaggedIdBroadcast)
        curOcc.join(broadcast(affKeys), Seq("shingle"), "left_semi")
      else curOcc.join(affKeys.hint("SHUFFLE_HASH"),
        Seq("shingle"), "left_semi")
    val coveredAff0 = aggregateOccurrences(curSlim)
      .filter(col("occ") >= minOcc).select("shingle")
    // the sliced path reads coveredAff once per slice — checkpoint it
    // (affected-keys-bounded, 8-byte rows) so the state slim runs once
    val coveredAff =
      if (nSlices <= 1) coveredAff0 else coveredAff0.localCheckpoint()
    def spansOf(pos: DataFrame): DataFrame =
      islandsToSpans(pos
        .join(coveredAff.hint("SHUFFLE_HASH"), Seq("shingle"), "left_semi")
        .select("id", "pos"), n)
    if (nSlices <= 1) spansOf(posAffected)
    else {
      // disjoint doc slices by id HASH (xxhash64+pmod — total over any id
      // type, where a bare pmod(id) would NULL out a non-castable id and
      // silently drop its docs from every slice). Each slice's spans
      // materialize via localCheckpoint — NOT the SQL cache, whose
      // registry entries would accumulate per sweep for a streaming
      // driver's lifetime — and are ContextCleaner-released once the
      // consumer drops the union.
      (0 until nSlices).map { s =>
        spansOf(posAffected
          .filter(pmod(xxhash64(col("id")), lit(nSlices.toLong)) ===
            lit(s.toLong)))
          .localCheckpoint()
      }.reduce(_.unionByName(_))
    }
  }

  /** Duplicate-cluster assignment: connected components over a near-dup
    * pair graph ((id_a, id_b) rows from any pair generator above), labeling
    * every member with the minimum doc id reachable through pairs — the
    * canonical keep-one-per-cluster key that per-pair output cannot give
    * when duplicates chain (a≈b, b≈c, a!≈c).
    *
    * Iterative min-label propagation with pointer jumping: each round
    * every node takes the min of its own, its neighbors', and its label's
    * label (shortcutting) — the jump makes convergence O(log n) rounds
    * even for a worst-case duplicate CHAIN (plain propagation needs
    * O(diameter) rounds, which a long chain would exhaust). Labels only
    * fall, so an unchanged label sum marks the fixpoint; exhausting
    * `maxIter` before it fails loudly. Returns (id, cluster) in id order.
    *
    * Two regimes, one gate (`smallGraphMaxRows`, [[DriverLocal.MaxRows]]
    * by default):
    *   - at most that many symmetrized edge rows: the rounds run on the
    *     driver over primitive arrays and the labels re-enter the plan as
    *     a LocalRelation;
    *   - past it: each round is two joins + one aggregate on node keys,
    *     `localCheckpoint` keeping the plan flat, and the driver loop
    *     carries only the label sum. The same bound, applied to the node
    *     count, decides the BROADCAST hint on the label lookups.
    * A null id keeps the input on the distributed path. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
                  smallGraphMaxRows: Long = DriverLocal.MaxRows): DataFrame = {
    // symmetrize with ONE explode, not union(pairs, pairs.reversed): the
    // union form evaluates the whole upstream pair pipeline TWICE (the
    // two legs' aliases differ, so no exchange reuse). The lazy
    // checkpoint is materialized by the size probe's job.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").cast("long").as("src"),
          col("id_b").cast("long").as("dst")),
        struct(col("id_b").cast("long").as("src"),
          col("id_a").cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(eager = false)
    DriverLocal.longColumns(Seq(edges), smallGraphMaxRows) match {
      case Some(Seq(Array(src, dst))) =>
        Graph.dropCheckpoint(edges)
        localClusters(pairs.sparkSession, src, dst, maxIter)
      case _ => distributedClusters(edges, maxIter, smallGraphMaxRows)
    }
  }

  /** The driver regime: the distributed rounds over dense node indices.
    * Indices follow ascending ids, so the min index is the min id. */
  private def localClusters(sess: SparkSession, src: Array[Long],
                            dst: Array[Long], maxIter: Int): DataFrame = {
    val nodes = DriverLocal.sortedDistinct(src.clone())
    val n = nodes.length
    val s = src.map(java.util.Arrays.binarySearch(nodes, _))
    val t = dst.map(java.util.Arrays.binarySearch(nodes, _))
    var label = Array.range(0, n)
    var labelSum: Option[Long] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor min against the previous round's labels
      val propagated = label.clone()
      var e = 0
      while (e < s.length) {
        if (label(t(e)) < propagated(s(e))) propagated(s(e)) = label(t(e))
        e += 1
      }
      // pointer jump: follow my label to ITS label
      val updated = propagated.map(l => math.min(l, propagated(l)))
      val sum = updated.foldLeft(0L)((acc, l) => Math.addExact(acc, nodes(l)))
      converged = labelSum.contains(sum)
      labelSum = Some(sum)
      label = updated
      i += 1
    }
    requireFixpoint(converged, maxIter)
    DriverLocal.longFrame(sess, Seq("id", "cluster"), nodes, label.map(nodes(_)))
  }

  /** The distributed regime over the materialized edge checkpoint. */
  private def distributedClusters(edges: DataFrame, maxIter: Int,
                                  broadcastMaxNodes: Long): DataFrame = {
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    // the node count, measured off the eager label checkpoint, decides
    // the BROADCAST hint on every per-round lookup side; past the gate it
    // is withheld (a corpus-sized label frame must never collect to the
    // driver) and each round's join shuffles the edges by dst
    val hintLabels = labels.count() <= broadcastMaxNodes
    def lookup(df: DataFrame): DataFrame =
      if (hintLabels) df.hint("BROADCAST") else df
    var labelSum: Option[Long] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(lookup(labels.select(col("id").as("dst"),
          col("label").as("nlabel"))), "dst")
        .groupBy(col("src").as("id")).agg(min("nlabel").as("nmin"))
      // LAZY checkpoint: the pointer-jump join below reads `propagated`
      // on both sides, which Spark plans as independent subtrees; the cut
      // runs the neighbor-min join + aggregate once per round, and
      // materializing on first use adds no job
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint(false)
      // pointer jump: follow my label to ITS label (labels are node ids,
      // so the lookup table is the label frame itself)
      val updated = propagated.alias("a")
        .join(lookup(propagated.select(col("id").as("label"),
          col("label").as("plabel"))).alias("p"), Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
        // LAZY checkpoint: the convergence aggregate below is the round's
        // one action and materializes it
        .localCheckpoint(false)
      // labels never rise, so the label sum strictly decreases until the
      // fixpoint: equal sums ⟺ converged
      val sum = updated.agg(coalesce(
        org.apache.spark.sql.functions.sum("label"), lit(0L)))
        .collect()(0).getLong(0)
      converged = labelSum.contains(sum)
      labelSum = Some(sum)
      labels = updated
      i += 1
    }
    requireFixpoint(converged, maxIter)
    labels.select(col("id"), col("label").as("cluster")).orderBy("id")
  }

  /** Partially-propagated labels would make keep-one-per-cluster dedup
    * silently drop the wrong docs — fail loudly instead. */
  private def requireFixpoint(converged: Boolean, maxIter: Int): Unit =
    require(converged,
      s"dupClusters did not reach the label fixpoint in $maxIter rounds; " +
        "raise maxIter (pointer jumping needs ~log2(cluster diameter) + 2)")

  /** Hex char → 0..15 (portable: ascii arithmetic, no conv()). */
  private def hexVal(c: Column): Column =
    when(ascii(c) >= 97, ascii(c) - 87).otherwise(ascii(c) - 48)

  /** Fused SimHash kernel: one compiled pass per document (tokenize →
    * md5 per token → ±1 counter fold → bit code). Bit `p` is bit
    * `7−p mod 8` of digest byte `p/8` — the same bit the Column twin
    * reads via hex-char arithmetic. The twin ([[simhashColExpr]]) is a
    * `bits`-wide interpreted `aggregate`×`zip_with` tree whose codegen
    * blows up super-linearly in `bits` (64-bit form: minutes of janino
    * compilation; measured 3.9 s for 500 docs at 16 bits vs milliseconds
    * here) — kept as the arithmetic proof, not the serving path. */
  def simhashCode(text: String, bits: Int): Long = {
    if (text == null) return 0L
    // tokens digest straight from the TokenBytes arena (finding 19's
    // zero-copy recipe at token granularity — same md5 input bytes)
    val tk = graft.expr.TokenKernel.shingleTokenBytes(text)
    val acc = new Array[Int](bits)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < tk.count) {
      val p0 = tk.starts(i)
      val len = tk.starts(i + 1) - 1 - p0
      md.reset()
      md.update(tk.bytes, p0, len)
      val d = md.digest()
      var p = 0
      while (p < bits) {
        acc(p) += (((d(p >> 3) >> (7 - (p & 7))) & 1) * 2 - 1)
        p += 1
      }
      i += 1
    }
    var code = 0L
    var p = 0
    while (p < bits) { if (acc(p) > 0) code |= (1L << p); p += 1 }
    code
  }

  private val simhashUdf = udf(simhashCode _)

  /** `bits`-bit SimHash over word tokens, served by the fused kernel. */
  def simhashCol(text: Column, bits: Int = 16): Column =
    simhashUdf(text, lit(bits))

  /** Interpreted-Column twin of [[simhashCol]] (OpsSpec asserts identical
    * codes; do not use in a hot path — see the kernel's scaladoc). */
  private[ops] def simhashColExpr(text: Column, bits: Int = 16): Column = {
    val nHex = (bits + 3) / 4
    aggregate(
      tokensCol(text),
      array_repeat(lit(0), bits),
      (acc, t) => {
        val h = substring(md5(t), 1, nHex)
        zip_with(acc, array((0 until bits).map { p =>
          val hv = hexVal(substring(h, p / 4 + 1, 1))
          val bit = shiftright(hv, 3 - (p % 4)) % 2
          bit * 2 - 1
        }: _*), (a, d) => a + d)
      },
      // finish: fold the ±1 counters into the bit code (bound ref — the
      // accumulator array is evaluated once, not per bit)
      acc => (0 until bits).map { p =>
        when(element_at(acc, p + 1) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _))
  }

  /** Hamming distance between two simhash codes (bit_count of xor). */
  def hammingCol(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: identical code → candidate (for small
    * `bits`). */
  def simhashDups(df: DataFrame, idCol: String, textCol: String,
                  bits: Int = 16): DataFrame = {
    val codes = df.select(col(idCol).cast("long").as("id"),
      simhashCol(col(textCol), bits).as("simhash"))
    codes.groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min("id").as("keep_id"))
      .filter(col("n_docs") > 1)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist` via standard
    * chunk blocking: split the code into `chunks` equal bit-bands — any pair
    * within distance `maxDist < chunks` must agree on ≥1 whole chunk
    * (pigeonhole), so an equi-join per chunk finds every such pair without
    * all-pairs work. Pairs are then verified with the exact bit distance. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      bits: Int = 32, chunks: Int = 4,
                      maxDist: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxDist < chunks, "pigeonhole needs maxDist < chunks")
    val chunkBits = bits / chunks
    val mask = (1L << chunkBits) - 1
    val codes = df.select(col(idCol).cast("long").as("id"),
      simhashCol(col(textCol), bits).as("simhash"))
    val keyed = codes.select(col("id"), col("simhash"),
      explode(array((0 until chunks).map { c =>
        concat_ws(":", lit(c.toString),
          shiftrightunsigned(col("simhash"), c * chunkBits).bitwiseAND(mask))
      }: _*)).as("chunk_key"))
    // bucket cap fused into the collapse and enforced inside the
    // aggregate update (BoundedCollect — a hot chunk key never
    // materializes past maxBucket members; no pre-cap window sort — see
    // minhashPairs). Members are (_1=id, _2=simhash) structs.
    val pairs = keyed
      .groupBy("chunk_key")
      .agg(BoundedCollect.pairs(maxBucket)(col("id"), col("simhash"))
        .as("members"))
      .filter(col("members").isNotNull && size(col("members")) >= 2)
      .select(explode(simhashPairsUdf(col("members"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"),
        col("p._3").as("hamming"))
      .filter(col("id_a") < col("id_b") && col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
    pairs
  }
}
