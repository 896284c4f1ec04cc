package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, DedupHof}
import graft.text.TextFunctions

/** Property tests: the single-pass scalar kernels must agree exactly with
  * the declarative column formulations (which in turn match the SQL oracle),
  * so the fast path can never drift from the verified semantics.
  */
class DedupKernelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val word = Gen.oneOf("spark", "join", "data", "row", "the", "a",
    "merge", "x1", "ünïcode", "汉字")
  private val textGen: Gen[String] =
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  private def sample(n: Int): Seq[String] =
    (0 until n).flatMap(i =>
      textGen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("scalar shingles == column shingles") {
    import spark.implicits._
    val texts = sample(60)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val colSide = df.select(col("id"),
        TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(Dedup.shinglesOf(t, 3) == colSide(i.toLong), s"text='$t'")
    }
  }

  test("scalar minhash+bands == column minhash+bands") {
    import spark.implicits._
    val texts = sample(40)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val colSide = df.select(col("id"),
        TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", DedupHof.minhashSignature(col("sh"), 8))
      .withColumn("bands", DedupHof.lshBandHashes(col("sig"), 4, 2))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[String](2), r.getSeq[org.apache.spark.sql.Row](3)))
      .toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val sh = Dedup.shinglesOf(t, 3)
      if (sh.nonEmpty) {
        val (sigCol, bandsCol) = colSide(i.toLong)
        val sig = Dedup.minhashOf(sh, 8)
        assert(sig == sigCol, s"sig for '$t'")
        val bands = Dedup.bandHashesOf(sig, 4, 2)
        val bandsColStr = bandsCol.map(b => s"${b.getInt(0)}:${b.getString(1)}")
        assert(bands == bandsColStr, s"bands for '$t'")
      }
    }
  }

  test("native expression columns == scalar kernels (shingles/sig/bands)") {
    import spark.implicits._
    val texts = sample(60)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val colSide = df.select(col("id"),
        Dedup.shingles(col("text"), 3).as("sh"))
      .withColumn("sig", Dedup.minhashSig(col("sh"), 8))
      .withColumn("bands", Dedup.minhashBands(col("sh"), 8, 4))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[String](1), r.getSeq[String](2), r.getSeq[String](3))))
      .toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val (shC, sigC, bandsC) = colSide(i.toLong)
      val sh = Dedup.shinglesOf(t, 3)
      assert(sh == shC, s"shingles for '$t'")
      assert(Dedup.minhashOf(sh, 8) == sigC, s"sig for '$t'")
      assert(Dedup.bandHashesOf(Dedup.minhashOf(sh, 8), 4, 2) == bandsC,
        s"bands for '$t'")
    }
  }

  test("minhash expressions skip null array elements instead of NPEing") {
    import spark.implicits._
    val df = Seq((1L, Seq("a b", null, "b c")), (2L, Seq("a b", "b c")))
      .toDF("id", "sh")
    val got = df.select(col("id"),
        Dedup.minhashSig(col("sh"), 8).as("sig"),
        Dedup.minhashBands(col("sh"), 8, 4).as("bands"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[String](1), r.getSeq[String](2))))
      .toMap
    // nulls contribute nothing: row 1 equals row 2
    assert(got(1L) == got(2L))
    assert(got(1L)._1 == Dedup.minhashOf(Seq("a b", "b c"), 8))
  }

  test("LSH bucket cap drops degenerate buckets but keeps normal pairs") {
    import spark.implicits._
    // 40 identical docs (a degenerate bucket) + one genuine near-dup pair
    val clone = "the quick brown fox jumps over the lazy dog again and again"
    val near1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val rows = (0 until 40).map(i => (i.toLong, clone)) ++
      Seq((100L, near1), (101L, near2))
    val df = rows.toDF("id", "text")
    val uncapped = Dedup.nearDuplicatesMinhashLsh(df, "id", "text",
      3, 16, 4, 0.5)
    assert(uncapped.count() >= 40 * 39 / 2, "clone group emits all its pairs")
    val capped = Dedup.nearDuplicatesMinhashLsh(df, "id", "text",
      3, 16, 4, 0.5, maxBucketSize = 10)
    val got = capped.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 101L)),
      "cap drops the degenerate clone buckets, keeps the near-dup pair")
  }

  test("banded simhashPairs == all-pairs formulation, with no cartesian join") {
    import spark.implicits._
    val texts = sample(80)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")

    for (maxHamming <- Seq(0, 2, 3, 6)) {
      val blocked = Dedup.simhashPairs(df, "id", "text", maxHamming)
      val physical = blocked.queryExecution.executedPlan.toString
      assert(!physical.contains("CartesianProduct"), physical)
      assert(!physical.contains("BroadcastNestedLoopJoin"), physical)
      val got = blocked.select("id1", "id2", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

      // reference: brute-force cross join on the same simhashes
      val sh = df.select(col("id"),
        Dedup.simhash16(TextFunctions.tokens(col("text"))).as("s"))
      val want = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
        .withColumn("hamming", bit_count(col("a.s").bitwiseXOR(col("b.s"))))
        .filter(col("hamming") <= maxHamming)
        .select(col("a.id"), col("b.id"), col("hamming")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

      assert(got == want, s"maxHamming=$maxHamming")
    }
  }

  test("winnowing guarantees a shared fingerprint for substrings >= k+w-1") {
    import spark.implicits._
    val k = 5; val w = 4
    val shared = "the quick brown fox jumps" // 25 chars >> k+w-1 = 8
    val df = Seq(
      (1L, s"AAAA $shared BBBB"),
      (2L, s"xxxxxxxx $shared yyyyyyyy"),
      (3L, "completely unrelated content here with no overlap at all")
    ).toDF("doc_id", "text")
    val fps = graft.dedup.Winnowing.fingerprints(df, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the guarantee: docs 1 and 2 share the 25-char passage, so they MUST
    // share at least one selected fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared passage missed")
    // density sanity: ~2/(w+1) of positions selected, never more than all
    byDoc.values.foreach(s => assert(s.nonEmpty))
    // the pair search surfaces exactly the overlapping pair at this floor
    val pairs = graft.dedup.Winnowing.sharedPassagePairs(df, "doc_id", "text",
        k, w, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
    // a doc shorter than k+w-1 yields no fingerprints (and no crash)
    val tiny = graft.dedup.Winnowing.fingerprints(
      Seq((9L, "short")).toDF("doc_id", "text"), "doc_id", "text", k, w)
    assert(tiny.count() == 0)
  }

  test("native simhash16 kernel equals the per-bit HOF chain (property)") {
    import spark.implicits._
    // the 16-aggregate HOF chain is the executable spec (and the shape the
    // q26/q37 DuckDB oracles mirror); the single-digest kernel must match
    // it value-for-value, including multibyte tokens, the empty string
    // token (tokens("") = [""]), the empty token array, and a NULL array
    // (HOF: when(null > 0,…).otherwise(0) → 0)
    val texts = sample(80) ++ Seq("", " ", "汉字 ünïcode 汉字")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val both = df.select(col("id"),
        Dedup.simhash16(TextFunctions.tokens(col("text"))).as("k"),
        DedupHof.simhash16Hof(TextFunctions.tokens(col("text"))).as("h"))
      .collect()
    both.foreach(r => assert(r.getInt(1) == r.getInt(2),
      s"id=${r.getLong(0)} kernel=${r.getInt(1)} hof=${r.getInt(2)}"))
    // null token array and null tokens inside the array
    val nullDf = Seq((1L, null.asInstanceOf[String]), (2L, "a b"))
      .toDF("id", "text")
    val nulls = nullDf.select(col("id"),
        Dedup.simhash16(TextFunctions.tokens(col("text"))).as("k"),
        DedupHof.simhash16Hof(TextFunctions.tokens(col("text"))).as("h"))
      .collect()
    nulls.foreach(r => assert(r.getInt(1) == r.getInt(2),
      s"id=${r.getLong(0)} kernel=${r.getInt(1)} hof=${r.getInt(2)}"))
    val nullElems = spark.range(1).select(
      Dedup.simhash16(array(lit("a"), lit(null.asInstanceOf[String]), lit("b"))).as("k"),
      DedupHof.simhash16Hof(array(lit("a"), lit(null.asInstanceOf[String]), lit("b"))).as("h"))
      .collect().head
    assert(nullElems.getInt(0) == nullElems.getInt(1))
  }

  test("native winnowing kernel equals the HOF pipeline (property)") {
    import spark.implicits._
    // the HOF formulation is the executable spec (and the shape the q66
    // DuckDB oracle mirrors); the native kernel must match it row-for-row,
    // including multibyte characters (code-point gram positions, UTF-8
    // gram bytes), hash ties from tiny alphabets, and boundary lengths
    val rnd = new scala.util.Random(7)
    // each alphabet element is ONE code point (2-byte e-acute, 3-byte CJK,
    // 4-byte emoji as a surrogate pair) so lengths below count code points
    val alphabets = Seq(
      Seq("a", "b"),
      Seq("a", "b", "c", " ", "d"),
      Seq("a", "\u00e9", "\u4e2d", " ", "\ud83d\ude00", "b"))
    for (trial <- 0 until 6) {
      val k = 2 + rnd.nextInt(4)            // 2..5
      val w = 1 + rnd.nextInt(5)            // 1..5
      val alphabet = alphabets(trial % alphabets.size)
      val docs = (0L until 10L).map { id =>
        val len = if (id < 3) (k + w - 2 + id).toInt else rnd.nextInt(150)
        (id, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString)
      }
      val df = docs.toDF("doc_id", "text")
      val native = graft.dedup.Winnowing
        .fingerprints(df, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val hof = DedupHof
        .fingerprintsHof(df, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(native == hof,
        s"trial=$trial k=$k w=$w: " +
          s"missing=${(hof.toSet -- native).take(3)} extra=${(native.toSet -- hof).take(3)}")
    }
  }

  test("native winnowing kernel walks malformed UTF-8 like Spark's numChars") {
    import org.apache.spark.unsafe.types.UTF8String
    // 0xE4 declares a 3-byte sequence but is followed by ASCII: Spark's
    // numChars/substring advance by the DECLARED length (1 char total for
    // [0xE4,0x41]); a skip-continuation-bytes walk would count 2. The
    // kernel must agree with Spark, so this 2-byte string is BELOW the
    // k+w-1 floor and yields no fingerprints.
    val bad = UTF8String.fromBytes(Array(0xe4.toByte, 0x41.toByte))
    assert(bad.numChars() == 1)
    val out = graft.expressions.WinnowExpr(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), 2, 1)
      .nullSafeEval(bad)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.numElements() == 0, "declared-length walk: 1 char < k+w-1")
    // and a malformed lead INSIDE a long string: char count (and thus the
    // gram/window count) must still follow Spark's numChars
    val mixed = UTF8String.fromBytes(
      "abc".getBytes("UTF-8") ++ Array(0xe4.toByte) ++ "defgh".getBytes("UTF-8"))
    val k = 2; val w = 2
    val got = graft.expressions.WinnowExpr(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), k, w)
      .nullSafeEval(mixed)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(got.numElements() > 0)
    // fingerprint count can never exceed the window count implied by
    // Spark's own char accounting
    assert(got.numElements() <= mixed.numChars() - k - w + 2, got.numElements().toString)
  }

  test("chunked winnowing fingerprints equal the unchunked set (property)") {
    import spark.implicits._
    // random texts over a tiny alphabet (forces repeated grams and min
    // ties), chunk sizes small enough that every document spans many
    // chunks, plus boundary lengths around k+w-1 and one chunk exactly
    val rnd = new scala.util.Random(42)
    val alphabet = "abc d"
    for (trial <- 0 until 6) {
      val k = 2 + rnd.nextInt(4)            // 2..5
      val w = 1 + rnd.nextInt(5)            // 1..5
      val chunkChars = (k + w - 2) + 1 + rnd.nextInt(12) // overlap+1 .. +12
      val docs = (0L until 12L).map { id =>
        val len = rnd.nextInt(120) + (if (id % 3 == 0) k + w - 2 else 0)
        (id, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      }
      val df = docs.toDF("doc_id", "text")
      val plain = graft.dedup.Winnowing
        .fingerprints(df, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val chunked = graft.dedup.Winnowing
        .fingerprintsChunked(df, "doc_id", "text", k, w, chunkChars)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(chunked == plain,
        s"trial=$trial k=$k w=$w chunkChars=$chunkChars: " +
          s"missing=${(plain -- chunked).take(3)} extra=${(chunked -- plain).take(3)}")
    }
  }

  test("deletionNeighborhoodJoin finds exactly the <=d pairs (vs brute force)") {
    import spark.implicits._
    import graft.dedup.EditDistance
    val rows = Seq(
      (1L, "spark"), (2L, "sparc"),   // sub, d=1
      (3L, "spak"),                   // del from spark, d=1
      (4L, "sparks"),                 // ins, d=1
      (5L, "hadoop"), (6L, "hadop"),  // d=1
      (7L, "flink"), (8L, ""),        // empty excluded
      (9L, "spray"))                  // d=2 from spark
    val df = rows.toDF("id", "s")
    def brute(d: Int): Set[(Long, Long)] = {
      def lev(a: String, b: String): Int = {
        val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        m(a.length)(b.length)
      }
      (for {
        (i1, s1) <- rows; (i2, s2) <- rows
        if i1 < i2 && s1.nonEmpty && s2.nonEmpty && lev(s1, s2) <= d
      } yield (i1, i2)).toSet
    }
    Seq(1, 2).foreach { d =>
      val got = EditDistance.deletionNeighborhoodJoin(df, "id", "s", d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute(d), s"d=$d: $got vs ${brute(d)}")
    }
    // maxDf cap: a variant shared by too many rows generates no candidates
    val many = (1L to 20L).map(i => (i, "same")) :+ (100L, "samey")
    val capped = EditDistance.deletionNeighborhoodJoin(
      many.toDF("id", "s"), "id", "s", 1, maxDf = Some(5L))
    assert(capped.count() == 0L, "all variants above cap must yield no pairs")
  }

  test("bcubed matches the hand-computed textbook example; identity → 1e6") {
    import spark.implicits._
    import graft.dedup.MethodAgreement
    // gold {1,2,3},{4,5},{6}; pred {1,2},{3,4,5},{6}
    val df = Seq((1, "p1", "gA"), (2, "p1", "gA"), (3, "p2", "gA"),
      (4, "p2", "gB"), (5, "p2", "gB"), (6, "p3", "gC"))
      .toDF("id", "p", "g")
    val r = MethodAgreement.bcubed(df, col("p"), col("g")).collect().head
    // item precisions: 1,1,1/3,2/3,2/3,1 -> mean 7/9; recalls mirror here
    assert(r.getLong(0) == 6L)
    assert(r.getLong(1) == 777777L, r.toString)
    assert(r.getLong(2) == 777777L, r.toString)
    assert(r.getLong(3) == 777777L, r.toString)
    val perfect = MethodAgreement.bcubed(
      df.select(col("id"), col("g").as("p"), col("g")), col("p"), col("g"))
      .collect().head
    assert(perfect.getLong(1) == 1000000L && perfect.getLong(2) == 1000000L &&
      perfect.getLong(3) == 1000000L, perfect.toString)
  }

  test("winnowedGramKeys: w=1 is exact, selections are a subset, and the " +
      "guarantee holds for spans >= minWords + w - 1") {
    import spark.implicits._
    import graft.dedup.SubstringDedup
    val texts = sample(40).filter(_.nonEmpty)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val toks = SubstringDedup.tokenFrame(df, "id", "text")
    def keySet(w: Int) =
      SubstringDedup.winnowedGramKeys(toks, "id", 3, w)
        .select(col("id"), col("gram_h.h1"), col("gram_h.h2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val exact = keySet(1)
    val full = SubstringDedup.gramKeys(toks, "id", 3)
      .select(col("id"), col("gram_h.h1"), col("gram_h.h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact == full, "w=1 must select every distinct gram key")
    val sampled = keySet(4)
    assert(sampled.subsetOf(exact), "winnowed keys must come from gramKeys")
    assert(sampled.nonEmpty && sampled.size < exact.size)
    // every doc with at least one gram keeps at least one fingerprint
    assert(sampled.map(_._1) == exact.map(_._1))
    // the winnowing guarantee: docs sharing an INTERNAL span of
    // minWords + w - 1 = 3 + 4 - 1 = 6 words select a common key, for
    // every alignment of the span within the two docs
    (0 until 20).foreach { k =>
      val span = (0 until 6).map(j => s"s${k}w$j").mkString(" ")
      val pre = (0 until k % 5).map(j => s"a${k}x$j").mkString(" ")
      val suf = (0 until (k + 2) % 4).map(j => s"z${k}y$j").mkString(" ")
      val pair = Seq((1L, s"$pre $span $suf".trim),
        (2L, s"other${k}lead words$k $span tail$k".trim))
        .toDF("id", "text")
      val pToks = SubstringDedup.tokenFrame(pair, "id", "text")
      val sel = SubstringDedup.winnowedGramKeys(pToks, "id", 3, 4)
        .select(col("id"), col("gram_h.h1"), col("gram_h.h2"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      val common = sel.filter(_._1 == 1L).map(_._2).toSet
        .intersect(sel.filter(_._1 == 2L).map(_._2).toSet)
      assert(common.nonEmpty, s"alignment $k: no shared fingerprint")
    }
  }
}
