package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Unit semantics of the LLM-pipeline building blocks (exact values — the
  * corpus-level behavior is pinned by the DuckDB oracle queries).
  */
class TextVectorFunctionsSpec extends AnyFunSuite with Matchers with SparkTestBase {
  import spark.implicits._

  test("shingles: ordered word 3-grams; short docs collapse to one shingle") {
    val out = Seq("a b c d e", "a b").toDF("text")
      .select(shingles($"text").as("s")).as[Seq[String]].collect()
    out(0) shouldBe Seq("a b c", "b c d", "c d e")
    out(1) shouldBe Seq("a b")
  }

  test("jaccard: identical sets 1.0, disjoint 0.0, half overlap computed exactly") {
    val df = Seq(
      ("x y z", "x y z"),
      ("x y z", "p q r"),
      ("a b c d", "c d e f")).toDF("ta", "tb")
    val out = df.select(
      jaccard(shingleSet($"ta", 1), shingleSet($"tb", 1))).as[Double].collect()
    out(0) shouldBe 1.0
    out(1) shouldBe 0.0
    out(2) shouldBe 2.0 / 6.0
  }

  test("minhash is permutation-invariant over the shingle set") {
    val out = Seq("a b c d e f", "f e d c b a").toDF("text")
      .select(minHash(shingleSet($"text", 1), 7)).as[String].collect()
    out(0) shouldBe out(1) // same token SET => same min over md5s
  }

  test("simhash: identical token multisets agree; one-token change stays close") {
    val out = Seq(
      "spark table join window agg batch",
      "batch agg window join table spark",  // permutation
      "spark table join window agg merge")  // one substitution
      .toDF("text").select(simHash($"text")).as[Long].collect()
    out(0) shouldBe out(1)
    java.lang.Long.bitCount(out(0) ^ out(2)) should be <= 16
    out(0) should not be out(2)
  }

  test("langId picks the profile with most hits; en text classifies en") {
    val out = Seq("the cat is a fast animal", "der hund ist nicht da")
      .toDF("text").select(langId($"text")).as[String].collect()
    out(0) shouldBe "en"
    out(1) shouldBe "de"
  }

  test("regexTokenCount splits letter runs, digit runs, other chars") {
    val out = Seq("abc 123 x!y").toDF("text")
      .select(regexTokenCount($"text")).as[Int].head()
    out shouldBe 5 // abc, 123, x, !, y
  }

  test("dot and cosine: exact on known vectors") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    df.select(dot($"a", $"b")).as[Double].head() shouldBe 32.0
    val cos = df.select(cosine($"a", $"a")).as[Double].head()
    cos shouldBe 1.0 +- 1e-12
  }

  test("native DotProduct / SimHash32 expressions are bit-identical to the HOF forms") {
    graft.expressions.VectorExpressions.register(spark)
    val vecs = (0 until 50).map(i => (
      (0 until 64).map(j => (math.sin(i * 64 + j) * 2).toFloat),
      (0 until 64).map(j => (math.cos(i * 64 + j) * 3).toFloat)))
    val dots = vecs.toDF("a", "b")
      .select(dot($"a", $"b").as("n"), dotHof($"a", $"b").as("h"))
      .as[(Double, Double)].collect()
    dots.foreach { case (n, h) =>
      java.lang.Double.doubleToLongBits(n) shouldBe
        java.lang.Double.doubleToLongBits(h) // bit-identical, not approx
    }
    val texts = (0 until 30).map(i => (0 to i + 3).map(j => s"w${(i * 7 + j) % 23}").mkString(" "))
    val sims = texts.toDF("text")
      .select(simHashFromHashes(tokenHashes($"text")).as("n"),
        simHashFromHashesHof(tokenHashes($"text")).as("h"))
      .as[(Long, Long)].collect()
    sims.foreach { case (n, h) => n shouldBe h }
  }

  test("native ShingleSet matches the HOF shingleSet exactly (incl. short docs)") {
    graft.expressions.VectorExpressions.register(spark)
    val texts = (0 until 30).map(i =>
      (0 to i).map(j => s"w${(i * 5 + j) % 11}").mkString(" ")) :+ "a b" :+ "x"
    val out = texts.toDF("text")
      .select(graft.expressions.VectorExpressions
        .shingleSetNative($"text").as("n"),
        shingleSet($"text").as("h"))
      .as[(Seq[String], Seq[String])].collect()
    out.foreach { case (n, h) => n shouldBe h }
  }

  test("native expressions agree with HOF forms on non-ASCII text") {
    graft.expressions.VectorExpressions.register(spark)
    val texts = Seq("你好 世界 こんにちは café über straße",
      "été à l'école été à nouveau")
    val out = texts.toDF("text")
      .select(graft.expressions.VectorExpressions
        .shingleSetNative($"text").as("n"), shingleSet($"text").as("h"),
        simHash($"text").as("sn"),
        simHashFromHashesHof(tokenHashes($"text")).as("sh"))
      .as[(Seq[String], Seq[String], Long, Long)].collect()
    out.foreach { case (n, h, sn, sh) => n shouldBe h; sn shouldBe sh }
  }

  test("native MinHashBandDigests matches the HOF lshBandDigests exactly") {
    graft.expressions.VectorExpressions.register(spark)
    val texts = (0 until 30).map(i =>
      (0 to 20 + i).map(j => s"w${(i * 13 + j) % 37}").mkString(" "))
    val out = texts.toDF("text")
      .select(
        graft.expressions.VectorExpressions
          .minHashBandsNative(shingleSet($"text")).as("n"),
        lshBandDigests(shingleSet($"text")).as("h"))
      .as[(Seq[String], Seq[String])].collect()
    out.foreach { case (n, h) => n shouldBe h }
  }

  test("native Shingles matches the HOF shingles exactly (k=2 and k=3)") {
    graft.expressions.VectorExpressions.register(spark)
    val texts = (0 until 30).map(i =>
      (0 to i).map(j => s"w${(i * 7 + j) % 13}").mkString(" ")) :+ "a b" :+ "x"
    Seq(2, 3).foreach { k =>
      val out = texts.toDF("text")
        .select(graft.expressions.VectorExpressions
          .shinglesNative($"text", k).as("n"),
          shingles($"text", k).as("h"))
        .as[(Seq[String], Seq[String])].collect()
      out.foreach { case (n, h) => n shouldBe h }
    }
  }

  test("native MinHashOne matches the HOF minHash exactly") {
    graft.expressions.VectorExpressions.register(spark)
    val texts = (0 until 30).map(i =>
      (0 to 10 + i).map(j => s"w${(i * 3 + j) % 19}").mkString(" ")) :+ "solo"
    val out = texts.toDF("text")
      .select(graft.expressions.VectorExpressions
        .minHash1Native(shingleSet($"text"), 99).as("n"),
        minHash(shingleSet($"text"), 99).as("h"))
      .as[(String, String)].collect()
    out.foreach { case (n, h) => n shouldBe h }
  }

  test("native MinHashAll matches 16 independent MinHashOne calls exactly") {
    graft.expressions.VectorExpressions.register(spark)
    val texts = (0 until 30).map(i =>
      (0 to 10 + i).map(j => s"w${(i * 3 + j) % 19}").mkString(" ")) :+
      "solo" :+ ""
    val out = texts.toDF("text")
      .select(graft.expressions.VectorExpressions
        .minHashAllNative(shingleSet($"text"), 16).as("n"),
        array((0 until 16).map(k => graft.expressions.VectorExpressions
          .minHash1Native(shingleSet($"text"), k)): _*).as("h"))
      .as[(Seq[String], Seq[String])].collect()
    out.foreach { case (n, h) => n shouldBe h }
  }

  test("native MinHashOne and MinHashAll match the HOF on arrays with nulls, " +
      "empties and non-ASCII text (property)") {
    // the HOF's md5 of a null element is null and array_min skips it, so
    // the native loops skip null elements; a null array stays null
    graft.expressions.VectorExpressions.register(spark)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val element: Gen[Option[String]] = Gen.frequency(
      2 -> Gen.const(None),
      1 -> Gen.const(Some("")),
      3 -> Gen.oneOf("a b c", "über слово", "日本 語", "café ñ", "x")
        .map(Some(_)),
      3 -> Gen.alphaNumStr.map(Some(_)),
      2 -> Gen.listOf(Gen.choose('\u00a0', '\u30ff')).map(cs => Some(cs.mkString)))
    val arrays: Gen[Option[Seq[Option[String]]]] = Gen.frequency(
      1 -> Gen.const(None),
      2 -> Gen.const(Some(Seq.empty)),
      2 -> Gen.listOfN(3, Gen.const(None)).map(Some(_)),
      10 -> Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, element)).map(Some(_)))
    val cases = (0 until 200).map(i =>
      Tuple1(arrays.pureApply(Gen.Parameters.default, Seed(7L + i))))
    val seeds = Seq(0, 5, 99)
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = df.select(
        array(seeds.map(k => graft.expressions.VectorExpressions
          .minHash1Native($"s", k)): _*).as("one"),
        array(seeds.map(k => minHash($"s", k)): _*).as("hof"),
        graft.expressions.VectorExpressions.minHashAllNative($"s", 16).as("all"),
        array((0 until 16).map(k => minHash($"s", k)): _*).as("hof16"))
        .as[(Seq[String], Seq[String], Option[Seq[String]], Seq[String])]
        .collect()
      out should have size cases.size.toLong
      out.foreach { case (one, hof, all, hof16) =>
        one shouldBe hof
        all.getOrElse(Seq.fill(16)(null)) shouldBe hof16
      }
      // the generated cases reach every branch
      out.count(_._2.forall(_ == null)) should be > 0
      out.count(_._2.forall(_ != null)) should be > 0
    }
    // a local relation evaluates interpreted; an RDD-backed one runs codegen
    check(cases.toDF("s"))
    check(spark.sparkContext.parallelize(cases, 2).toDF("s"))
  }

  test("native HashEmbed64 matches the HOF hash-embed fold exactly " +
      "(seed A and seed B offsets)") {
    graft.expressions.VectorExpressions.register(spark)
    import org.apache.spark.sql.functions.{aggregate => hofAggregate, _}
    def hofDense(bStart: Int, sPos: Int) = hofAggregate(
      transform(filter(split($"text", " "),
        t => org.apache.spark.sql.functions.length(t) > 0),
        t => struct(
          pmod(conv(substring(md5(t), bStart, 4), 16, 10).cast("long"),
            lit(64L)).as("pos"),
          when(substring(md5(t), sPos, 1).isin(
            "0", "1", "2", "3", "4", "5", "6", "7"), lit(1L))
            .otherwise(lit(-1L)).as("sgn"))),
      array_repeat(lit(0L), 64),
      (acc, e) => zip_with(acc, sequence(lit(0L), lit(63L)),
        (x, i) => when(i === e.getField("pos"), x + e.getField("sgn"))
          .otherwise(x)))
    val texts = (0 until 40).map(i =>
      (0 to i).map(j => s"w${(i * 11 + j) % 23}").mkString(" ")) :+
      "" :+ "solo" :+ "a  b" // double space -> empty token, must be skipped
    Seq((1, 5), (6, 10)).foreach { case (b, s) =>
      val out = texts.toDF("text")
        .select(graft.expressions.VectorExpressions
          .hashEmbed64NativeAt(split($"text", " "), b, s).as("n"),
          hofDense(b, s).as("h"))
        .as[(Seq[Long], Seq[Long])].collect()
      out.foreach { case (n, h) => n shouldBe h }
    }
  }

  test("native ShingleHashes matches the HOF sliding-md5 chain exactly") {
    graft.expressions.VectorExpressions.register(spark)
    val len = 8
    def toks = split($"text", " ")
    val sz = org.apache.spark.sql.functions.size _
    val hof = transform(
      sequence(lit(0L), (sz(toks) - len).cast("long")),
      i => md5(concat_ws(" ", slice(toks, (i + lit(1)).cast("int"), lit(len)))))
    val texts = (0 until 30).map(i =>
      (0 to 7 + i).map(j => s"w${(i * 3 + j) % 13}").mkString(" ")) :+
      "a  b c d e f g h i" // double space -> empty token kept in the join
    val out = texts.toDF("text")
      .select(graft.expressions.VectorExpressions
        .shingleHashesNative(toks, len).as("n"), hof.as("h"))
      .as[(Seq[String], Seq[String])].collect()
    out.foreach { case (n, h) => n shouldBe h }
  }

  test("native WinnowFingerprints matches the HOF sliding-min formulation exactly") {
    graft.expressions.VectorExpressions.register(spark)
    val w = 4
    val texts = (0 until 40).map(i =>
      (0 to i).map(j => s"w${(i * 17 + j) % 29}").mkString(" ")) :+
      "a b" :+ "x" :+ "a b c d" :+ "p q r s t p q r s t p q r s t"
    val hofMins = {
      val sz = org.apache.spark.sql.functions.size _
      val hs = shingleHashes(col("text"))
      array_distinct(
        when(sz(hs).lt(lit(w)), array(array_min(hs)))
          .otherwise(transform(sequence(lit(0), sz(hs).minus(lit(w))),
            i => array_min(slice(hs, i.plus(lit(1)), lit(w))))))
    }
    val out = texts.toDF("text")
      .select(graft.expressions.VectorExpressions.winnowNative($"text").as("n"),
        hofMins.as("h"))
      .as[(Seq[String], Seq[String])].collect()
    out.foreach { case (n, h) => n shouldBe h }
  }

  test("native HyperplaneBands packs the same sign bits as per-hyperplane dots") {
    graft.expressions.VectorExpressions.register(spark)
    val dim = 8
    val normals: Seq[Seq[Double]] = (0 until 16).map(k =>
      (0 until dim).map(j => math.sin(k * dim + j + 1) * 2))
    val vecs: Seq[Seq[Double]] = (0 until 25).map(i =>
      (0 until dim).map(j => math.cos(i * dim + j) * 3))
    val expected = vecs.map { v =>
      (0 until 4).map { b =>
        (0 until 4).foldLeft(0L) { (acc, j) =>
          val h = normals(b * 4 + j)
          var dot = 0.0
          var i = 0
          while (i < dim) { dot += v(i) * h(i); i += 1 }
          if (dot > 0) acc | (1L << j) else acc
        }
      }
    }
    val out = vecs.map(v => (v, normals)).toDF("v", "normals")
      .select(graft.expressions.VectorExpressions
        .hyperplaneBandsNative($"v", $"normals"))
      .as[Seq[Long]].collect()
    out.toSeq.zip(expected).foreach { case (got, exp) => got shouldBe exp }
  }

  test("graft_vec_sum grows the accumulator on ragged input (no silent truncation)") {
    graft.expressions.VectorExpressions.register(spark)
    // the SHORT vector arrives first in doc order: a length-fixing
    // accumulator would truncate the later full-length vectors
    val rows = Seq(
      (0, Seq(1.0, 2.0)),
      (0, Seq(10.0, 20.0, 30.0, 40.0)),
      (0, Seq(100.0, 200.0, 300.0, 400.0)))
    val got = rows.toDF("g", "v").coalesce(1)
      .groupBy($"g")
      .agg(graft.expressions.VecSumAgg.vecSum($"v").as("s"))
      .as[(Int, Seq[Double])].collect().head._2
    got shouldBe Seq(111.0, 222.0, 330.0, 440.0)
  }

  test("HyperplaneBands degrades to 0-bits when fewer than 16 normals exist") {
    graft.expressions.VectorExpressions.register(spark)
    val normals = (0 until 5).map(k => Seq(1.0, k.toDouble)) // only 5 of 16
    val out = Seq((Seq(1.0, 1.0), normals)).toDF("v", "normals")
      .select(graft.expressions.VectorExpressions
        .hyperplaneBandsNative($"v", $"normals"))
      .as[Seq[Long]].head()
    out.length shouldBe 4
    // band 0 uses normals 0-3 (all positive dot => bits 0-3 set), band 1
    // has only normal 4 (bit 0), bands 2-3 have none
    out(0) shouldBe 15L
    out(1) shouldBe 1L
    out(2) shouldBe 0L
    out(3) shouldBe 0L
  }

  test("graft_vec_sum aggregator: element-wise sums match a manual fold") {
    graft.expressions.VectorExpressions.register(spark)
    val rows = (0 until 30).map(i =>
      (i % 3, (0 until 5).map(j => (i * 5 + j).toDouble)))
    val got = rows.toDF("g", "v")
      .groupBy($"g")
      .agg(graft.expressions.VecSumAgg.vecSum($"v").as("s"))
      .as[(Int, Seq[Double])].collect().toMap
    val exp = rows.groupBy(_._1).view.mapValues(_.map(_._2)
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })).toMap
    got.keySet shouldBe exp.keySet
    got.foreach { case (k, s) => s shouldBe exp(k) }
  }

  test("hyperplaneBit is the sign of the dot product") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 1.0f)),
      (Seq(-1.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("v", "h")
    df.select(hyperplaneBit($"v", $"h")).as[Int].collect() shouldBe Array(1, 0)
  }

  test("lshBandDigests: near-identical shingle sets share a band; disjoint do not") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 39).map(i => s"w$i").mkString(" ") + " w99"
    val far = (100 to 140).map(i => s"w$i").mkString(" ")
    val out = Seq(base, near, far).toDF("text")
      .select(lshBandDigests(shingleSet($"text")).as("b")).as[Seq[String]].collect()
    out(0).intersect(out(1)) should not be empty
    out(0).intersect(out(2)) shouldBe empty
  }

  test("native sliding_chunks matches the sequence/slice HOF formulation") {
    graft.expressions.VectorExpressions.register(spark)
    // cases: short doc (single chunk), exact window, window+1, long doc
    val texts = Seq(
      (1 to 5).map(i => s"t$i").mkString(" "),
      (1 to 32).map(i => s"t$i").mkString(" "),
      (1 to 33).map(i => s"t$i").mkString(" "),
      (1 to 100).map(i => s"t$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val native = df.select($"doc_id",
      inline(graft.expressions.VectorExpressions
        .slidingChunksNative($"text", 32, 24)))
      .orderBy("doc_id", "chunk_idx").collect().toSeq
    // the HOF reference (the pre-native chunkSliding body)
    val n = org.apache.spark.sql.functions.size($"toks")
    val nChunks = when(n <= 32, lit(1L)).otherwise(
      expr(s"(size(toks) - 32 + 23) div 24").cast("long") + 1)
    val start = $"chunk_idx" * 24
    val chunk = slice($"toks", start + 1, lit(32))
    val ref = df
      .select($"doc_id", split($"text", " ").as("toks"))
      .repartition($"doc_id")
      .select($"doc_id", $"toks",
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select($"doc_id", $"chunk_idx",
        start.cast("long").as("start_tok"),
        org.apache.spark.sql.functions.size(chunk).cast("long").as("n_tokens"),
        md5(concat_ws(" ", chunk)).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx").collect().toSeq
    native shouldBe ref
  }

  test("native lang_id matches the greatest/CASE argmax with alphabetical tie-break") {
    graft.expressions.VectorExpressions.register(spark)
    val texts = Seq(
      "the cat is a fast animal",      // en
      "der hund ist nicht da",         // de
      "el la de y es",                 // es
      "xyz qrs tuv",                   // zero hits everywhere -> first profile (de)
      "the der")                       // 1-1 tie between de and en -> de (first)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df.select($"doc_id",
      inline(array(graft.expressions.VectorExpressions.langIdNative($"text"))))
      .orderBy("doc_id")
      .collect().map(r => (r.getString(1), r.getLong(2)))
    got(0) shouldBe ("en", 3L) // the, is, a
    got(1)._1 shouldBe "de"
    got(2)._1 shouldBe "es"
    got(3) shouldBe ("de", 0L)
    got(4) shouldBe ("de", 1L)
  }
}
