package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different words entirely here now then")
  ).toDF("id", "text")

  test("exact dedup finds identical texts only") {
    val withDup = docs.unionAll(Seq((4L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text"))
    val groups = Dedup.exactDupGroups(withDup, "id", "text").collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("cnt") == 2 &&
      groups(0).getAs[Long]("keeper") == 1L)
  }

  test("minhash LSH surfaces near-dup pair, jaccard in (0,1] (no all-pairs)") {
    val pairs = Dedup.minhashDupPairs(docs, "id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1 && p._2 == 2))
    assert(pairs.forall(p => p._3 > 0 && p._3 <= 10000))
    assert(!pairs.exists(p => p._2 == 3)) // dissimilar doc not paired
  }

  test("withMinhashDupPairs releases the shingle cache after consumption") {
    spark.catalog.clearCache() // isolate: no pre-existing cached relations
    val (found, cachedDuring) = Dedup.withMinhashDupPairs(docs, "id", "text",
      threshold = 0.3) { pairs =>
      (pairs.collect().exists(r => r.getLong(0) == 1 && r.getLong(1) == 2),
        !spark.sharedState.cacheManager.isEmpty)
    }
    assert(found, "dup pair must still surface through the callback path")
    assert(cachedDuring, "the shingle relation must be cached while the callback runs")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the shingle relation must be unpersisted after withMinhashDupPairs returns")
  }

  test("shingles: n-gram construction and short-doc fallback") {
    val sh = Dedup.shingles(Seq((1L, "a b c d")).toDF("id", "text"), "id", "text")
      .select("sh").as[String].collect().toSet
    assert(sh == Set("a b c", "b c d"))
    val short = Dedup.shingles(Seq((1L, "a b")).toDF("id", "text"), "id", "text")
      .select("sh").as[String].collect().toSet
    assert(short == Set("a b"))
  }

  test("cjkSpaced: codepoint spacing, whitespace collapse, ASCII pass-through") {
    def sp(s: String) =
      Seq(s).toDF("t").select(Dedup.cjkSpaced(col("t")).as("c")).head().getString(0)
    // each Hangul syllable becomes its own token; ASCII words survive
    assert(sp("abc 한국어") == "abc 한 국 어")
    assert(sp("데이터x정제") == "데 이 터 x 정 제")
    // whitespace runs collapse, ends trim — the downstream kernel
    // splits on single spaces
    assert(sp("  a   b  ") == "a b")
    assert(sp("plain ascii text") == "plain ascii text")
    assert(sp("") == "")
  }

  test("shinglesCjk: spaceless CJK shingles by codepoint where plain shingles degenerate") {
    val ko = Seq((1L, "한국어말뭉치정제")).toDF("id", "text")
    // plain word shingles: the whole document is ONE gram — the
    // silent recall collapse the cjkAware arm exists to fix
    assert(Dedup.shingles(ko, "id", "text").count() == 1L)
    val sh = Dedup.shinglesCjk(ko, "id", "text")
      .select("sh").as[String].collect().toSet
    assert(sh.contains("한 국 어") && sh.contains("국 어 말") && sh.size == 6)
  }

  test("minhash cjkAware pairs one-syllable-apart Korean docs that plain shingling cannot see") {
    // two spaceless Korean docs differing by ONE appended syllable:
    // under codepoint tokenization they share almost all shingles;
    // under space-splitting each doc is one (distinct) mega-shingle
    // with jaccard 0
    val ko = Seq(
      (1L, "대규모한국어말뭉치중복제거파이프라인검사"),
      (2L, "대규모한국어말뭉치중복제거파이프라인검사갑"),
      (3L, "완전히다른내용의문서이며겹치지않는다")).toDF("id", "text")
    val cjk = Dedup.minhashDupPairs(ko, "id", "text", threshold = 0.5,
      cjkAware = true).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cjk.contains((1L, 2L)), "near-dup must surface under cjkAware")
    assert(!cjk.exists(p => p._2 == 3L), "dissimilar doc must not pair")
    val plain = Dedup.minhashDupPairs(ko, "id", "text", threshold = 0.1)
      .collect()
    assert(plain.isEmpty, "space-split shingles cannot see the near-dup")
  }

  test("simhash cjkAware: one-syllable-apart Korean docs land close; unrelated docs far") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val ko = Seq(
      (1L, "대규모한국어말뭉치중복제거파이프라인검사"),
      (2L, "대규모한국어말뭉치중복제거파이프라인검사갑"),
      (3L, "완전히다른내용의문서이며겹치지않는다")).toDF("id", "text")
    val h = Dedup.simhash64(ko, "id", "text", cjkAware = true).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(3L)))
    // without the pre-space every doc is ONE token: near and far are
    // indistinguishable (both maximally unrelated single hashes)
    val p = Dedup.simhash64(ko, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ham(p(1L), p(2L)) > 0, "single-token hashes carry no gradation")
  }

  test("simhash: identical docs same hash; near docs closer than far docs") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val h = Dedup.simhash16(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val same = Dedup.simhash16(
      Seq((9L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text"),
      "id", "text").head().getLong(1)
    assert(same == h(1L))
    assert(ham(h(1L), h(2L)) <= ham(h(1L), h(3L)))
  }

  test("ANN: self is rank-1 with cos 1.0; ranks are dense per query") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val c = vecs.select($"vec_id", $"embedding".as("ce"))
    val top = Ann.cosineTopK(q, c, 3).orderBy("rank").collect()
    assert(top(0).getAs[Long]("vec_id") == 0L && top(0).getAs[Long]("cos_x1e4") == 10000L)
    assert(top(1).getAs[Long]("vec_id") == 1L) // nearest non-self
    assert(top.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("text analysis: counts, ratios, language guess, fingerprint determinism") {
    val df = Seq("the cat and the hat!").toDF("text")
    assert(df.select(TextAnalysis.tokenCount($"text")).head().getInt(0) == 5)
    assert(df.select(TextAnalysis.bpeishTokenCount($"text")).head().getInt(0) == 6) // 5 words + '!'
    assert(df.select(TextAnalysis.langGuess($"text")).head().getString(0) == "en")
    val fp1 = df.select(TextAnalysis.fingerprint($"text")).head().getLong(0)
    val fp2 = df.select(TextAnalysis.fingerprint($"text")).head().getLong(0)
    assert(fp1 == fp2 && fp1 >= 0)
    val es = Seq("el perro y la casa de que y el").toDF("text")
    assert(es.select(TextAnalysis.langGuess($"text")).head().getString(0) == "es")
  }

  test("WordShingles kernel matches the HOF construction byte-for-byte and stays in codegen") {
    import org.apache.spark.sql.functions.{col, explode, expr, split}
    val texts = Seq("a b c d e", "one two", "", "x", "two  spaces here", "a b c ")
      .zipWithIndex.map(_.swap).toDF("id", "text")
    val kernel = graft.llm.Dedup.shingles(texts, "id", "text")
      .orderBy("id", "sh").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val hof = texts
      .select(col("id"), split(col("text"), " ").as("w"))
      .select(col("id"), explode(expr(
        """CASE WHEN size(w) >= 3
          |THEN transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))
          |ELSE array(concat_ws(' ', w)) END""".stripMargin)).as("sh"))
      .distinct().orderBy("id", "sh").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(kernel == hof)
    // the projection must run inside whole-stage codegen, not fall back
    // (over a non-local source — a local Seq collapses to LocalTableScan)
    val plan = spark.range(10).selectExpr("repeat('w ', CAST(id AS INT)) AS text")
      .select(graft.functions.F.toColumn(
        graft.functions.WordShingles(graft.functions.F.toExpr(col("text")), 3)))
      .queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in executedPlan.toString;
    // a fallback expression would print an unstarred Project
    assert(plan.linesIterator.next().trim.startsWith("*("), plan)
    // SQL registration
    graft.GraftExtensions.register(spark)
    val viaSql = texts.selectExpr("explode(word_shingles(text, 3)) AS sh")
      .distinct().count()
    assert(viaSql == kernel.map(_._2).distinct.size)
  }

  test("MinFingerprint kernel matches the HOF construction on edge cases, stays in codegen") {
    import org.apache.spark.sql.functions._
    val texts = Seq("", "ab", "abcde", "exactly five!", "the quick brown fox",
      "  spaces  every where ", "ünïcødé bmp text here").zipWithIndex.map(_.swap)
      .toDF("id", "text")
    // the former Column construction, verbatim
    val t = when(length(col("text")) < 5, rpad(col("text"), 5, " ")).otherwise(col("text"))
    val codes = transform(split(t, ""), c => ascii(c).cast("long"))
    val idxs = sequence(lit(1), length(t) - 4)
    val hof = element_at(transform(array(codes), cs =>
      array_min(transform(idxs, i => {
        val ch = (0 until 5).map(j => element_at(cs, i + lit(j)))
        ch.reduce((acc, c) => acc * 257L + c) % 2147483647L
      }))), 1)
    val rows = texts.select(col("id"),
      graft.llm.TextAnalysis.fingerprint(col("text")).as("k"), hof.as("h"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), r.toString))
    val plan = spark.range(5).selectExpr("CAST(id AS STRING) AS text")
      .select(graft.llm.TextAnalysis.fingerprint(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*("), plan)
  }

  test("dupClusters: multi-hop chains, cycles and disjoint pairs resolve to min-id keeper") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12 (cycle), pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L)).toDF("a", "b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dupClusters: 10- and 20-document chains resolve to one cluster keyed by id 1") {
    // near-dup version chains: diameter n-1, so n-1 propagation rounds
    Seq(10L, 20L).foreach { n =>
      val chain = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
      val got = Dedup.dupClusters(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == (1L to n).map(_ -> 1L).toMap, s"$n-document chain")
    }
  }

  test("dupClusters: a 30-document chain fails loud at the default maxIter") {
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException](Dedup.dupClusters(chain).collect())
    assert(ex.getMessage.contains("did not converge"), ex.getMessage)
  }

  test("property: dupClusters equals in-memory union-find on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val nodeG = Gen.chooseNum(0L, 30L)
    val edgesG = Gen.listOfN(25, Gen.zip(nodeG, nodeG))
      .map(_.filter { case (a, b) => a != b }.distinct)
      .suchThat(_.nonEmpty)
    val prop = Prop.forAll(edgesG) { edges =>
      // brute force: union-find with path compression, min-id root
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      edges.foreach { case (a, b) => union(a, b) }
      val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(n => n -> find(n)).toMap
      val got = Dedup.dupClusters(edges.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == want
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(r.passed, r.status.toString)
  }

  test("lshBands rejects bands that do not divide k (silent recall loss)") {
    val sigs = Dedup.minhashSignatures(Dedup.shingles(docs, "id", "text"))
    val ex = intercept[IllegalArgumentException](Dedup.lshBands(sigs, 8, 3))
    assert(ex.getMessage.contains("must divide"))
  }

  test("langGuessFrom over projected scores matches langGuess") {
    val df = Seq("the cat and the hat", "el perro y la casa de que",
      "der hund ist und das", "le chat et les des une", "zzz qqq").toDF("text")
    val projected = df.select(col("text") +:
      TextAnalysis.langProfiles.map { case (l, _) =>
        TextAnalysis.langScore(col("text"), l).as(s"s_$l") }: _*)
      .select(TextAnalysis.langGuessFrom(
        TextAnalysis.langProfiles.map { case (l, _) => l -> col(s"s_$l") }).as("g"))
      .as[String].collect().toSeq
    val direct = df.select(TextAnalysis.langGuess(col("text")).as("g"))
      .as[String].collect().toSeq
    assert(projected == direct)
  }

  test("LSH bucket cap drops degenerate hot buckets (skew guard)") {
    // 3000 identical docs collapse into one band bucket per band — the
    // uncapped self-join would be ~4 * 3000^2 = 36M pairs. With the cap
    // they are dropped (they belong to exact dedup); a small near-dup
    // cluster under the cap still pairs.
    val hot = (1L to 3000L).map(i => (i, "the same exact boilerplate text repeated"))
    val near = Seq((100001L, "a rare document about spark engines"),
      (100002L, "a rare document about spark engines zzz"))
    val docs = (hot ++ near).toDF("id", "text")
    val sh = Dedup.shingles(docs, "id", "text")
    val bands = Dedup.lshBands(Dedup.minhashSignatures(sh), 8, 4)
    val cand = Dedup.lshCandidates(bands, maxBucket = 100).collect()
    assert(cand.length < 10, s"cap failed: ${cand.length} candidate pairs")
    assert(cand.exists(r => r.getLong(0) == 100001L && r.getLong(1) == 100002L))
    // sanity: uncapped candidates on just the hot set would be quadratic
    val hotPairs = Dedup.lshCandidates(bands, maxBucket = 10000L)
    assert(hotPairs.count() > 3000L * 2999L / 2)
  }

  test("multimodal: real codecs — PNG via ImageIO, WAV duration, MP4 box walk, raw fallback") {
    val img = new java.awt.image.BufferedImage(7, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val po = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", po)
    val m1 = Multimodal.decodeBytes(po.toByteArray)
    assert(m1.fmt == "png" && m1.width == 7 && m1.height == 5 && m1.durationMs.isEmpty)
    val afmt = new javax.sound.sampled.AudioFormat(4000f, 8, 1, false, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](2000)), afmt, 2000L)
    val wo = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, wo)
    val m2 = Multimodal.decodeBytes(wo.toByteArray)
    assert(m2.fmt == "wav" && m2.durationMs.contains(500L))
    // truncated PNG magic degrades to raw, never throws
    val m3 = Multimodal.decodeBytes(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0, 0, 0, 0))
    assert(m3.fmt == "raw")
  }

  test("multimodal: decode preserves ids, derives metadata from bytes; frames sample") {
    val media = Multimodal.fromText(Seq((1L, "some binary payload"), (2L, "x")).toDF("id", "t"), "id", "t")
    val dec = Multimodal.decode(media).orderBy("media_id").collect()
    assert(dec.map(_.getAs[Long]("media_id")).toSeq == Seq(1L, 2L))
    assert(dec(0).getAs[Int]("n_bytes") == "some binary payload".length)
    assert(dec(0).getAs[String]("sig").matches("[0-9a-f]{32}"))
    assert(dec.forall(r => r.getAs[Int]("width") >= 16 && r.getAs[Int]("height") >= 16))
    val frames = Multimodal.sampleFrames(media, stride = 8, len = 4).collect()
    assert(frames.nonEmpty)
  }

  test("aHash: near-dup images land within a few Hamming bits; distinct images don't") {
    import graft.llm.Multimodal
    def render(w: Int, h: Int, fmt: String)(rgb: (Int, Int) => Int): Array[Byte] = {
      val b = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => b.setRGB(x, y, rgb(x, y))))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(b, fmt, out)
      out.toByteArray
    }
    // a structured gradient-ish image, then the SAME content as a
    // JPEG recompression and a 2x upscale — classic near-dups
    def pattern(x: Int, y: Int): Int = {
      val v = ((x / 8 + y / 8) % 2) * 200 + 30
      (v << 16) | (v << 8) | v
    }
    val base = render(64, 64, "png")(pattern)
    val jpeg = render(64, 64, "jpg")(pattern)
    val scaled = render(128, 128, "png")((x, y) => pattern(x / 2, y / 2))
    val inverse = render(64, 64, "png")((x, y) => pattern(x, y) ^ 0xFFFFFF)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val h0 = Multimodal.aHashBytes(base).get
    assert(hamming(h0, Multimodal.aHashBytes(jpeg).get) <= 4)
    assert(hamming(h0, Multimodal.aHashBytes(scaled).get) <= 4)
    assert(hamming(h0, Multimodal.aHashBytes(inverse).get) >= 48,
      "inverted image must flip most bits")
    // undecodable → None, and resize preserves the requested shape
    assert(Multimodal.aHashBytes("nope".getBytes).isEmpty)
    val r = Multimodal.resizeBytes(base, 12, 6).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r))
    assert(img.getWidth == 12 && img.getHeight == 6)
  }

  test("ahashNearDupPairs: recompressed copy pairs with the original; banded equals brute force") {
    import graft.llm.Multimodal
    import spark.implicits._
    def render(w: Int, h: Int, fmt: String)(rgb: (Int, Int) => Int): Array[Byte] = {
      val b = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => b.setRGB(x, y, rgb(x, y))))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(b, fmt, out)
      out.toByteArray
    }
    def pattern(x: Int, y: Int): Int = {
      val v = ((x / 8 + y / 8) % 2) * 200 + 30
      (v << 16) | (v << 8) | v
    }
    val imgs: Seq[(Long, Array[Byte])] = Seq(
      1L -> render(64, 64, "png")(pattern),
      2L -> render(64, 64, "jpg")(pattern), // recompression: bytes differ, hash close
      3L -> render(128, 128, "png")((x, y) => pattern(x / 2, y / 2)),
      4L -> render(64, 64, "png")((x, y) => pattern(x, y) ^ 0xFFFFFF),
      5L -> "junk".getBytes)
    val media = imgs.toDF("media_id", "content")
    val got = Multimodal.ahashNearDupPairs(media, maxBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force reference on the same hashes
    val hs = imgs.flatMap { case (id, b) => Multimodal.aHashBytes(b).map(id -> _) }
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(got == brute, s"got=$got brute=$brute")
    // the scaled copy is a true near-dup of the original
    assert(got.exists { case (a, b, _) => a == 1L && b == 3L }, got)
    // the inverse image and the undecodable row pair with nothing
    assert(!got.exists { case (a, b, _) => a == 4L || b == 4L || a == 5L || b == 5L })
  }

  test("BPE: hand-traced merges on a tiny corpus; greedy overlap semantics") {
    import graft.llm.Bpe
    import spark.implicits._
    // corpus: "low low low lower" → hist {low:3, lower:1}
    // pairs: (l,o)=4, (o,w)=4, (w,e)=1, (e,r)=1 → tie (l,o) vs (o,w)
    // breaks lexicographically → merge1 = (l,o) n=4
    // then: [lo,w]×3, [lo,w,e,r]×1 → (lo,w)=4 → merge2 = (lo,w) n=4
    // then: [low]×3, [low,e,r] → (low,e)=1, (e,r)=1 → merge3 = (e,r) n=1
    val docs = Seq((1L, "low low low lower")).toDF("doc_id", "text")
    val m = Bpe.learnMerges(docs, "text", 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.take(3).toSeq == Seq((1, "l", "o", 4L), (2, "lo", "w", 4L), (3, "e", "r", 1L)), m.toSeq)
    // greedy left-to-right non-overlap: "aaa" + merge(a,a) → [aa, a],
    // so the second iteration sees (aa, a), not (a, aa)
    val tri = Seq((1L, "aaa")).toDF("doc_id", "text")
    val mt = Bpe.learnMerges(tri, "text", 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(mt.toSeq == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)), mt.toSeq)
    // early stop: fully merged vocab yields no further rows
    val one = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(Bpe.learnMerges(one, "text", 10).count() == 1)
  }

  test("BPE encode: learned merges replay in rank order; compression is monotone non-increasing") {
    import graft.llm.Bpe
    import spark.implicits._
    val docs = Seq((1L, "low low low lower lowest low")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, "text", 4).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val hist = Bpe.wordHistogram(docs, "text")
    val enc = Bpe.encodeHistogram(hist, merges).collect()
      .map(r => r.getString(0) -> (r.getSeq[String](2), r.getInt(3))).toMap
    // every word re-concatenates to itself (encoding is lossless)
    enc.foreach { case (w, (toks, n)) =>
      assert(toks.mkString == w, s"$w -> $toks")
      assert(n == toks.length)
    }
    // "low" fully merges under its own corpus's first merges
    assert(enc("low")._2 == 1, enc("low"))
    // applying a PREFIX of the merges never yields fewer tokens
    val encShort = Bpe.encodeHistogram(hist, merges.take(2)).collect()
      .map(r => r.getString(0) -> r.getInt(3)).toMap
    enc.foreach { case (w, (_, n)) => assert(encShort(w) >= n, w) }
  }

  test("property: distributed BPE equals the in-memory reference on random corpora") {
    import graft.llm.Bpe
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { trial =>
      val words = (0 until 30).map { _ =>
        (0 until (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      }
      val docs = words.grouped(6).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq.toDF("doc_id", "text")
      val got = Bpe.learnMerges(docs, "text", 6).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val hist = words.groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }.toSeq
      val want = Bpe.referenceMerges(hist, 6)
      assert(got == want, s"trial $trial: got=$got want=$want")
    }
  }

  test("property: incremental-delta BPE (learnMergesFast path) equals the naive reference on random corpora") {
    import graft.llm.Bpe
    // The delta maintenance is where the bugs would live: pairs whose
    // global count crosses zero, occurrence-index churn, overlap runs
    // ((a,a) on "aaaa"), created-pair ties. Deep ranks and a tiny
    // alphabet maximize all four.
    val rnd = new scala.util.Random(1318)
    (0 until 8).foreach { trial =>
      val words = (0 until 40).map { _ =>
        (0 until (1 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }
      val hist = words.groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }.toSeq
      val k = 1 + rnd.nextInt(40)
      val got = Bpe.incrementalMerges(hist, k)
      val want = Bpe.referenceMerges(hist, k)
      assert(got == want, s"trial $trial k=$k: got=$got want=$want")
    }
    // weighted histogram (counts > 1) exercises the cnt multiplier
    val weighted = Seq(("abab", 7L), ("aab", 3L), ("ba", 11L), ("bbb", 2L))
    assert(Bpe.incrementalMerges(weighted, 10) == Bpe.referenceMerges(weighted, 10))
  }

  test("property: encodeHistogramFast equals the chained-fold encodeHistogram on arbitrary merge lists") {
    import graft.llm.Bpe
    import spark.implicits._
    // arbitrary (not learned) lists are the hard case: later merges
    // can re-create a pair at an already-passed rank, which exact
    // replay must leave unmerged — the cursor must not look back
    val rnd = new scala.util.Random(1818)
    (0 until 6).foreach { trial =>
      val words = (0 until 25).map { _ =>
        (0 until (1 + rnd.nextInt(7))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }
      val hist = words.groupBy(identity)
        .map { case (w, ws) => (w, ws.size.toLong) }.toSeq.toDF("word", "cnt")
      val alphabet = Seq("a", "b", "c", "ab", "ba", "bc", "aa", "abc")
      val merges = (0 until (1 + rnd.nextInt(10))).map { _ =>
        (alphabet(rnd.nextInt(alphabet.size)), alphabet(rnd.nextInt(alphabet.size)))
      }
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2), r.getInt(3)))
        .sortBy(_._1).toSeq
      val slow = rows(Bpe.encodeHistogram(hist, merges))
      val fast = rows(Bpe.encodeHistogramFast(hist, merges))
      assert(fast == slow, s"trial $trial merges=$merges:\nfast=$fast\nslow=$slow")
    }
    // the look-back trap, pinned explicitly: rank1 (ab,c) is absent
    // until rank2 (a,b) creates "ab" — replay leaves [ab, c] unmerged
    val trap = Seq(("abc", 1L)).toDF("word", "cnt")
    val trapped = Bpe.encodeHistogramFast(trap, Seq(("ab", "c"), ("a", "b")))
      .head().getSeq[String](2)
    assert(trapped == Seq("ab", "c"), trapped)
  }

  test("learnMergesFast equals distributed learnMerges end to end (histogram + early stop + maxWords cap)") {
    import graft.llm.Bpe
    import spark.implicits._
    val docs = Seq((1L, "low low low lower lowest ab ba abab"),
      (2L, "aaa aab low lower ab")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(rows(Bpe.learnMergesFast(docs, "text", 12)) ==
      rows(Bpe.learnMerges(docs, "text", 12)))
    // early stop: a fully-mergeable vocab stops at the same rank
    val one = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(rows(Bpe.learnMergesFast(one, "text", 10)) ==
      rows(Bpe.learnMerges(one, "text", 10)))
    // maxWords keeps the most frequent words (deterministic ties):
    // capping at 1 learns only from the modal word
    val capped = rows(Bpe.learnMergesFast(docs, "text", 3, maxWords = 1))
    val lowOnly = Bpe.referenceMerges(Seq(("low", 4L)), 3)
    assert(capped == lowOnly, s"capped=$capped want=$lowOnly")
  }

  test("byteAtoms: UTF-8 hex pairs for ASCII, Korean, and astral codepoints") {
    import graft.llm.Bpe
    assert(Bpe.byteAtoms("ab") == Vector("61", "62"))
    // 한 = U+D55C = ED 95 9C in UTF-8
    assert(Bpe.byteAtoms("한") == Vector("ed", "95", "9c"))
    // astral plane (surrogate pair in Java's string model) must hash
    // to the CODE POINT's UTF-8 bytes, not per-surrogate garbage:
    // U+1F600 = F0 9F 98 80
    assert(Bpe.byteAtoms(new String(Character.toChars(0x1F600))) ==
      Vector("f0", "9f", "98", "80"))
    assert(Bpe.byteAtoms("") == Vector.empty)
  }

  test("byte-level BPE: learnMergesFastBytes equals the reference over byte atoms; encode matches replay") {
    import graft.llm.Bpe
    import spark.implicits._
    val docs = Seq((1L, "한국어 데이터 한국어 ab ab 데이터 한국어"),
      (2L, "ab 한국어 café café")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val words = "한국어 데이터 한국어 ab ab 데이터 한국어 ab 한국어 café café"
      .split(" ").toSeq
    val hist = words.groupBy(identity)
      .map { case (w, ws) => (Bpe.byteAtoms(w), ws.size.toLong) }.toSeq
    assert(rows(Bpe.learnMergesFastBytes(docs, "text", 20)) ==
      Bpe.referenceMergesTok(hist, 20))
    // every learned token is an even-length lowercase hex run
    rows(Bpe.learnMergesFastBytes(docs, "text", 20)).foreach {
      case (_, l, r, _) =>
        Seq(l, r).foreach { t =>
          assert(t.length % 2 == 0 && t.matches("[0-9a-f]+"), t) }
    }
    // encode: the byte-atom replay over the same merges, per word
    val merges = Bpe.referenceMergesTok(hist, 20).map { case (_, l, r, _) => (l, r) }
    val histDf = words.groupBy(identity)
      .map { case (w, ws) => (w, ws.size.toLong) }.toSeq.toDF("word", "cnt")
    val enc = Bpe.encodeHistogramFastBytes(histDf, merges).collect()
      .map(r => (r.getString(0), (r.getSeq[String](2), r.getInt(3)))).toMap
    words.distinct.foreach { w =>
      val want = Bpe.encodeWordReplay(Bpe.byteAtoms(w), merges)
      val (got, n) = enc(w)
      assert(got == want && n == want.length, s"$w: got=$got want=$want")
    }
    // ASCII isomorphism: byte-level learning over pure-ASCII text is
    // the char-level result under the hex renaming (the fence-removal
    // safety argument for llm_pipeline_tokens)
    val ascii = Seq((1L, "low low low lower lowest ab ba abab"))
      .toDF("doc_id", "text")
    val charM = rows(Bpe.learnMergesFast(ascii, "text", 12))
    def hexed(s: String) = Bpe.byteAtoms(s).mkString
    val byteM = rows(Bpe.learnMergesFastBytes(ascii, "text", 12))
    assert(byteM == charM.map { case (rk, l, r, n) => (rk, hexed(l), hexed(r), n) },
      s"byte=$byteM char=$charM")
  }

  test("persisted tokenizer: write/load round-trip, mode flag honored, encode equals in-memory") {
    import graft.llm.Bpe
    import spark.implicits._
    val docs = Seq((1L, "한국어 데이터 한국어 ab ab low lower 한국어"))
      .toDF("doc_id", "text")
    val hist = Bpe.wordHistogram(docs, "text")
    def enc(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getSeq[String](2), r.getInt(3)))
      .sortBy(_._1).toSeq
    // byte-level artifact
    val dirB = java.nio.file.Files.createTempDirectory("bpe_tok_b").toString
    Bpe.writeTokenizer(docs, "text", 20, dirB, byteLevel = true)
    val (mB, flagB) = Bpe.loadTokenizer(spark, dirB)
    assert(flagB)
    val wantB = Bpe.learnMergesFastBytes(docs, "text", 20).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(mB == wantB)
    assert(enc(Bpe.encodeWithTokenizer(hist, dirB)) ==
      enc(Bpe.encodeHistogramFastBytes(hist, mB)))
    // char-level artifact: the mode flag routes to the char replay
    val dirC = java.nio.file.Files.createTempDirectory("bpe_tok_c").toString
    Bpe.writeTokenizer(docs, "text", 20, dirC, byteLevel = false)
    val (mC, flagC) = Bpe.loadTokenizer(spark, dirC)
    assert(!flagC)
    assert(enc(Bpe.encodeWithTokenizer(hist, dirC)) ==
      enc(Bpe.encodeHistogramFast(hist, mC)))
    // the two modes are genuinely different artifacts on mixed text
    assert(mB != mC)
  }

  test("audioHashBytes: gain-invariant fingerprint; short/junk payloads yield None") {
    import graft.llm.Multimodal
    def wav16(samples: Array[Int]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        pcm(2 * i) = (samples(i) & 0xFF).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      }
      val afmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), afmt, samples.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // pseudo-melody: varying per-sample waveform, strong envelope
    val base = (0 until 650).map { i =>
      val k = i / 10
      val amp = 200 + ((k * 29) % 64) * 40
      (if (i % 2 == 0) amp else -amp) + (i % 3) // small wiggle
    }.toArray
    val h = Multimodal.audioHashBytes(wav16(base)).get
    // exact x4 gain preserves every energy comparison
    val gained = base.map(_ * 4)
    assert(Multimodal.audioHashBytes(wav16(gained)).get == h)
    // constant envelope hashes to 0; far from the melody
    val flat = (0 until 650).map(i => if (i % 2 == 0) 300 else -300).toArray
    val hf = Multimodal.audioHashBytes(wav16(flat)).get
    assert(hf == 0L)
    assert(java.lang.Long.bitCount(h ^ hf) > 3)
    // under 65 samples: no stable envelope
    assert(Multimodal.audioHashBytes(wav16(Array.fill(64)(100))).isEmpty)
    assert(Multimodal.audioHashBytes("junk".getBytes).isEmpty)
  }

  test("stripHtml: script/style/comments drop, entities decode after tags, &amp; last") {
    val cases = Seq(
      "<p>a<br/>b</p>" -> "a b",
      "x<script>\nvar a = '<p>not text</p>';\n</script>y" -> "x y",
      "<STYLE media=\"all\">h1 { color: blue }</STYLE>done" -> "done",
      "keep<!-- drop\nme -->this" -> "keep this",
      // encoded markup surfaces as text, never re-strips
      "<p>&lt;b&gt;bold&lt;/b&gt;</p>" -> "<b>bold</b>",
      // &amp;lt; must yield the literal four chars &lt;
      "a &amp;lt; b" -> "a &lt; b",
      "5 &lt; 7 &amp;&amp; &quot;q&#39;s&quot;&nbsp;end" -> "5 < 7 && \"q's\" end")
    val got = cases.map(_._1).toDF("h")
      .select(col("h"), TextAnalysis.stripHtml(col("h")).as("t"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"[$in] -> [${got(in)}], want [$want]")
    }
  }

  test("sniffDims equals the full decode on every recognized format; truncation yields None") {
    def img(w: Int, h: Int, fmt: String): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, fmt, out)
      out.toByteArray
    }
    Seq("png", "jpg", "gif", "bmp").foreach { fmt =>
      val bytes = img(33, 21, fmt)
      val sniffed = Multimodal.sniffDims(bytes)
      val decoded = Multimodal.decodeBytes(bytes)
      assert(sniffed.isDefined, fmt)
      assert(sniffed.get._1 == decoded.fmt, fmt)
      assert((sniffed.get._2, sniffed.get._3) == (decoded.width, decoded.height),
        s"$fmt: sniff ${sniffed.get} vs decode (${decoded.width},${decoded.height})")
    }
    // a JPEG cut before its SOF marker sniffs to None, never garbage
    assert(Multimodal.sniffDims(img(10, 10, "jpg").take(12)).isEmpty)
    assert(Multimodal.sniffDims("plain".getBytes("UTF-8")).isEmpty)
    // top-down BMP (negative height) reports |height|
    val bmp = img(6, 4, "bmp")
    val neg = bmp.clone()
    val hNeg = -4
    (0 until 4).foreach(i => neg(22 + i) = ((hNeg >> (8 * i)) & 0xFF).toByte)
    assert(Multimodal.sniffDims(neg).contains(("bmp", 6, 4)))
  }

  test("EXIF: both byte orders, sub-IFD timestamp, offset and inline values") {
    val le = Multimodal.makeExifJpeg(32, 16, 6, "2023:07:01 10:20:30",
      "GraftCam", "GC-100", littleEndian = true)
    val be = Multimodal.makeExifJpeg(8, 24, 1, "2024:12:31 23:59:59",
      "OtherCo", "X9", littleEndian = false)
    assert(Multimodal.exifMeta(le).contains(Multimodal.ExifMeta(
      Some(6), Some("2023:07:01 10:20:30"), Some("GraftCam"), Some("GC-100"),
      Some(32), Some(16))))
    assert(Multimodal.exifMeta(be).contains(Multimodal.ExifMeta(
      Some(1), Some("2024:12:31 23:59:59"), Some("OtherCo"), Some("X9"),
      Some(8), Some(24))))
    // the spliced JPEG still sniffs/decodes as a JPEG of the same size
    assert(Multimodal.sniffDims(le).contains(("jpeg", 32, 16)))
  }

  test("orientation-normalized aHash: every camera hold hashes the upright scene") {
    val pat = 0xA5C3F00F3C5A9966L
    val upright = Multimodal.makeOrientedJpeg(pat, 1)
    val h0 = Multimodal.orientedAHashBytes(upright).get
    (2 to 8).foreach { o =>
      val v = Multimodal.makeOrientedJpeg(pat, o)
      assert(Multimodal.orientedAHashBytes(v).contains(h0), s"orientation $o")
      // and the RAW hash must differ (the stored rasters genuinely differ)
      assert(!Multimodal.aHashBytes(v).contains(h0), s"raw orientation $o")
    }
  }

  test("EXIF: absent / truncated / non-JPEG payloads are None, never a throw") {
    val plain = {
      val bi = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpg", out)
      out.toByteArray
    }
    assert(Multimodal.exifMeta(plain).isEmpty)
    assert(Multimodal.exifMeta("text".getBytes).isEmpty)
    val ex = Multimodal.makeExifJpeg(4, 4, 3, "2020:01:01 00:00:00", "M", "N")
    // truncate mid-APP1: bounds checks must degrade, not throw
    (10 to 80 by 7).foreach { k =>
      Multimodal.exifMeta(ex.take(k)) // must not throw
    }
    // corrupt the TIFF magic: parses as absent
    val bad = ex.clone()
    val tiffAt = { // after FFD8 FFE1 len 'Exif\0\0'
      4 + 2 + 4
    }
    bad(tiffAt + 2) = 0x13
    assert(Multimodal.exifMeta(bad).isEmpty)
  }

  test("sentences: terminator runs, whitespace tails, and the documented abbreviation naivety") {
    val docs = Seq(
      (1L, "One. Two! Three?"),
      (2L, "Wait... really?! yes"),
      (3L, "no terminators here"),
      (4L, "trailing space. "),
      (5L, "Dr. Smith arrived.")   // naive split — documented behavior
    ).toDF("id", "text")
    val got = TextAnalysis.sentences(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(1L) == Seq("One.", "Two!", "Three?"))
    assert(got(2L) == Seq("Wait...", "really?!", "yes"))
    assert(got(3L) == Seq("no terminators here"))
    assert(got(4L) == Seq("trailing space."))   // whitespace tail drops
    assert(got(5L) == Seq("Dr.", "Smith arrived."))
  }

  test("rarityScores: rare tokens score high, uniform docs score bitlength(n_docs)") {
    // 8 docs of one shared token + 1 doc of a unique token:
    // total=18 tokens; shared cnt=17 -> 18 div 17 = 1 -> rb=1;
    // unique cnt=1 -> 18 div 1 = 18 -> bin 10010 -> rb=5
    val docs = ((0 until 8).map(i => (i.toLong, "common common"))
      :+ (99L, "common singular")).toDF("id", "text")
    val out = TextAnalysis.rarityScores(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == (2L, 100L))        // two 'common' tokens, rb=1 each
    assert(out(99L) == (2L, 300L))       // (1 + 5) * 100 div 2 = 300
  }

  test("phashBytes matches an independent direct-quadruple-loop DCT recompute") {
    import graft.llm.Multimodal
    // textured deterministic grayscale images; PNG is lossless so the
    // engine hashes exactly these pixels (32x32 = identity resize)
    def png32(seed: Int): Array[Byte] = {
      val b = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 32).foreach(x => (0 until 32).foreach { y =>
        val v = (seed * 7919 + x * 131 + y * 37 + x * y * 13) % 256
        b.setRGB(x, y, v << 16 | v << 8 | v)
      })
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(b, "png", out)
      out.toByteArray
    }
    // independent path: same pinned cosine table constant, but a
    // direct (non-separable) quadruple loop and its own median logic
    val t = Array.tabulate(8, 32) { (u, x) =>
      Math.rint(Math.cos(Math.PI * (2 * x + 1) * u / 64) * 10000).toLong
    }
    def expected(seed: Int): Long = {
      def luma(x: Int, y: Int): Long = {
        val v = (seed * 7919 + x * 131 + y * 37 + x * y * 13) % 256
        (299L * v + 587L * v + 114L * v) / 1000L
      }
      val c = for (u <- 0 until 8; v <- 0 until 8) yield {
        var s = 0L
        for (x <- 0 until 32; y <- 0 until 32)
          s += luma(x, y) * t(u)(x) * t(v)(y)
        s
      }
      val med = c.tail.sorted.apply(31) // AC = all but (0,0), rank-32
      c.zipWithIndex.foldLeft(0L) { case (acc, (cv, i)) =>
        if (cv > med) acc | (1L << i) else acc
      }
    }
    (1 to 4).foreach { seed =>
      assert(Multimodal.phashBytes(png32(seed)) == Some(expected(seed)),
        s"seed $seed")
    }
  }

  test("phash: a global brightness shift flips at most the DC bit (exact AC invariance)") {
    import graft.llm.Multimodal
    def png32(shift: Int): Array[Byte] = {
      val b = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 32).foreach(x => (0 until 32).foreach { y =>
        // base lumas in [40, 200): +40 never clips, and the +40-per-
        // channel shift is exactly +40 in integer luma (40000/1000)
        val v = 40 + (x * 131 + y * 37 + x * y * 13) % 160 + shift
        b.setRGB(x, y, v << 16 | v << 8 | v)
      })
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(b, "png", out)
      out.toByteArray
    }
    val r0 = Multimodal.phashBytes(png32(0))
    val r1 = Multimodal.phashBytes(png32(40))
    assert(r0.isDefined && r1.isDefined, "phashBytes failed to decode fixture PNG")
    val (h0, h1) = (r0.get, r1.get)
    assert((h0 & ~1L) == (h1 & ~1L),
      f"AC bits moved: $h0%016x vs $h1%016x")
  }

  test("phashNearDupPairs equals brute force at maxBits <= 3 (pigeonhole completeness)") {
    import graft.llm.Multimodal
    def png32(seed: Int, tweak: Int): Array[Byte] = {
      val b = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 32).foreach(x => (0 until 32).foreach { y =>
        val v0 = (seed * 101 + x * 17 + y * 29) % 256
        val v = if (tweak > 0 && x < tweak) (v0 + 128) % 256 else v0
        b.setRGB(x, y, v << 16 | v << 8 | v)
      })
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(b, "png", out)
      out.toByteArray
    }
    val media = ((0 until 12).map(i => (i.toLong, png32(i, 0)))
      ++ (0 until 4).map(i => (100L + i, png32(i * 3, 0)))       // copies
      ++ (0 until 4).map(i => (200L + i, png32(i * 2, 2)))       // edits
      ).toDF("media_id", "content")
    val banded = Multimodal.phashNearDupPairs(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = media.collect().flatMap { r =>
      Multimodal.phashBytes(r.getAs[Array[Byte]]("content"))
        .map(h => (r.getLong(0), h))
    }
    val brute = (for {
      (ia, ha) <- sigs; (ib, hb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(banded == brute, s"banded ${banded.size} vs brute ${brute.size}")
    (0 until 4).foreach(i =>
      assert(banded.contains((i * 3L, 100L + i, 0)), s"copy $i missing"))
  }

  test("stupidBackoff: hand-traced backoff chain, coverage telemetry, short docs drop") {
    // train doc "a b c a b c": N=6; uni a/b/c=2; bigrams ab=2 bc=2
    // ca=1 (heads a=2 b=2 c=1); trigrams abc=2 bca=1 cab=1 (contexts
    // ab=2 bc=1 ca=1). Eval doc "a b c x c a b" walks every level:
    //   (a,b,c) tri hit            100*bitlen(2 div 2)        = 100
    //   (b,c,x) OOV                264+100*bitlen(6)          = 564
    //   (c,x,c) unigram backoff    264+100*bitlen(6 div 2)    = 464
    //   (x,c,a) bigram backoff     132+100*bitlen(1 div 1)    = 232
    //   (c,a,b) tri hit            100*bitlen(1 div 1)        = 100
    // mean = 1460 div 5 = 292; 3 backed-off tokens, 1 OOV.
    val docs = Seq((1L, "a b c a b c"), (2L, "a b c x c a b"), (3L, "a b"))
      .toDF("id", "text")
    val out = TextAnalysis.stupidBackoff(docs, "id", "text", col("id") === 1)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (4L, 0L, 0L, 100L))  // train doc: every trigram seen
    assert(out(2L) == (5L, 3L, 1L, 292L))
    assert(!out.contains(3L))              // < 3 tokens: no trigram, drops
  }

  test("minKProb: tail mean over the hand-traced surprisal stream at two cuts") {
    // same corpus as the stupidBackoff trace — eval doc surprisals are
    // [100, 564, 464, 232, 100]: k=20% of 5 cuts ceil(1)=1 token
    // (564); k=40% cuts 2 ((564+464) div 2 = 514). The all-hit train
    // doc reads 100 at any cut.
    val docs = Seq((1L, "a b c a b c"), (2L, "a b c x c a b")).toDF("id", "text")
    val k20 = TextAnalysis.minKProb(docs, "id", "text", col("id") === 1, kPct = 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(k20(1L) == (4L, 1L, 100L))
    assert(k20(2L) == (5L, 1L, 564L))
    val k40 = TextAnalysis.minKProb(docs, "id", "text", col("id") === 1, kPct = 40)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(k40(2L) == (5L, 2L, 514L))
    // the membership contrast the signal exists for: the member doc's
    // tail mean sits far below the non-member's
    assert(k20(1L)._3 < k20(2L)._3)
  }

  test("simhashBandedPairs equals brute force at maxBits <= 3 (pigeonhole completeness)") {
    // deterministic corpus with planted structure: 40 base docs of
    // varying length, 10 exact copies, 10 one-token edits
    val words = Array("spark", "scan", "join", "sort", "merge", "hash",
      "row", "key", "data", "query", "batch", "window")
    def text(seed: Int, n: Int) =
      (0 until n).map(i => words((seed * 31 + i * 7) % words.length)).mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, text(i, 20 + i % 30)))
    val copies = (0 until 10).map(i => (100L + i, base(i * 3)._2))
    val edits = (0 until 10).map(i => (200L + i, base(i * 2 + 1)._2 + " extra"))
    val docs = (base ++ copies ++ edits).toDF("id", "text")
    val banded = Dedup.simhashBandedPairs(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sig = Dedup.simhash64(docs, "id", "text")
    val brute = sig.as("x").join(sig.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("d"))
      .filter(col("d") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute, s"banded ${banded.size} vs brute ${brute.size}")
    // the planted exact copies are found at distance 0
    (0 until 10).foreach { i =>
      assert(banded.contains((base(i * 3)._1, 100L + i, 0)), s"copy $i missing")
    }
  }

  test("incremental dedup: sequential ingest equals single-shot; exact copies hit est 10000") {
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    def text(seed: Int) =
      (0 until 25).map(i => words((seed * 13 + i * 5) % words.length)).mkString(" ")
    val a = (0 until 20).map(i => (i.toLong, text(i)))                  // corpus
    val b1 = (0 until 6).map(i => (100L + i, text(i * 3)))              // batch 1: copies of A
    val b2 = (0 until 6).map(i => (200L + i, text(i) + " tail"))        // batch 2: edits of A
    val (da, db1, db2) = (a.toDF("id", "text"), b1.toDF("id", "text"), b2.toDF("id", "text"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stateA = Dedup.minhashState(da, "id", "text")
    // sequential: ingest b1 against A, then b2 against A ∪ b1
    val seq = pairs(Dedup.incrementalDupPairs(stateA, db1, "id", "text")) ++
      pairs(Dedup.incrementalDupPairs(
        stateA.unionByName(Dedup.minhashState(db1, "id", "text")), db2, "id", "text"))
    // single-shot: ingest b1 ∪ b2 at once
    val once = pairs(Dedup.incrementalDupPairs(stateA, db1.unionByName(db2), "id", "text"))
    assert(seq == once, s"sequential ${seq.size} vs single-shot ${once.size}")
    // planted exact copies estimate at exactly 10000 (all k components match)
    (0 until 6).foreach { i =>
      assert(seq.contains((i * 3L, 100L + i, 10000L)), s"copy $i missing from $seq")
    }
    // old×old never re-pairs: ids 0 and 3 share no pair even though docs
    // 0..19 include near matches of each other in a full run
    assert(seq.forall { case (x, y, _) => y >= 100L && (x < y || x < 100L) })
  }

  test("audioFeatures: 16-bit big-endian AIFF decodes through the BE branch; junk skips") {
    import org.apache.spark.sql.Row
    // samples [300, -300]: sum_sq=180000, max=300, one sign flip
    val samples = Array(300, -300)
    val pcm = new Array[Byte](4)
    samples.indices.foreach { i =>
      pcm(2 * i) = ((samples(i) >> 8) & 0xFF).toByte      // big-endian: hi first
      pcm(2 * i + 1) = (samples(i) & 0xFF).toByte
    }
    val afmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), afmt, 2L)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, out)
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, out.toByteArray, "audio"),
        Row(2L, Array[Byte](1, 2, 3), "audio")),
      Multimodal.mediaSchema)
    val got = Multimodal.audioFeatures(media).orderBy("media_id").collect()
    assert(got(0).getAs[String]("fmt") == "wav")
    assert(got(0).getAs[Long]("n_samples") == 2L)
    assert(got(0).getAs[Long]("sum_sq") == 180000L)
    assert(got(0).getAs[Long]("max_abs") == 300L)
    assert(got(0).getAs[Long]("zero_crossings") == 1L)
    assert(got(1).getAs[String]("fmt") == "skip" && got(1).isNullAt(2))
  }

  test("simhash band bucket cap: fully saturated identical docs drop to exact dedup") {
    val docs = (0 until 50).map(i => (i.toLong, "all docs identical text here"))
      .toDF("id", "text")
    // every band bucket holds all 50 docs -> over an maxBucket of 10,
    // all four bands drop and no pair survives (exact dedup's job)
    assert(Dedup.simhashBandedPairs(docs, "id", "text", maxBucket = 10).count() == 0)
    // uncapped, the same corpus pairs completely at distance 0
    assert(Dedup.simhashBandedPairs(docs, "id", "text").count() == 50L * 49 / 2)
  }

  test("property: prefixFilterPairs equals brute-force exact Jaccard (lossless recall)") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val base = (1L to 30L).map { i =>
      (i, Vector.fill(6 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // guaranteed positives: one-token-appended near-copies of every 3rd doc
    val corpus = base ++ base.collect {
      case (i, t) if i % 3 == 0 => (i + 100L, t + " zz")
    }
    val df = corpus.toDF("id", "text")
    val got = Dedup.prefixFilterPairs(
        Dedup.shingles(df, "id", "text"), 5000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    def shingleSet(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet
      else Set(w.mkString(" "))
    }
    val sets = corpus.map { case (i, t) => i -> shingleSet(t) }.toMap
    val ids = corpus.map(_._1)
    val want = (for {
      a <- ids; b <- ids if a < b
      sa = sets(a); sb = sets(b)
      inter = (sa & sb).size
      j = math.floor(inter.toDouble / (sa.size + sb.size - inter) * 10000 + 0.5).toLong
      if j >= 5000L
    } yield (a, b) -> j).toMap
    assert(want.nonEmpty, "fixture must produce at least one qualifying pair")
    assert(got == want)
  }

  test("rakeKeywords: hand-computed islands, degree/frequency scores, ranking") {
    val d = Seq(
      (1L, "deep learning of deep learning systems"),
      (2L, "learning rate")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.rakeKeywords(d, "doc_id", "text", Seq("of"), 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // islands: "deep learning" (len 2), "deep learning systems" (3),
    //          "learning rate" (2)
    // deep: freq 2, deg 5 -> 25000; learning: freq 3, deg 7 -> 23333
    // systems: freq 1, deg 3 -> 30000; rate: freq 1, deg 2 -> 20000
    assert(got == Seq(
      ("deep learning systems", 1L, 25000L + 23333L + 30000L),
      ("deep learning", 1L, 25000L + 23333L),
      ("learning rate", 1L, 23333L + 20000L)))
  }

  test("crossCorpusPairs: bipartite only — within-side near-dups never pair") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val train = Seq(
      (1L, base),
      (2L, base + " tail"), // near-dup of 1 on the SAME side
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("id", "text")
    val eval = Seq(
      (100L, base),                                      // exact copy of 1
      (101L, "unrelated totally different words here now")
    ).toDF("id", "text")
    val got = Dedup.crossCorpusPairs(train, eval, "id", "text", 8, 4, 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Exact copy always pairs (identical signatures share every band).
    assert(got.exists { case (a, b, j) => a == 1L && b == 100L && j == 10000L })
    // Bipartite by construction: every pair is train-side × eval-side,
    // so the (1,2) same-side near-dup cannot appear.
    assert(got.forall { case (a, b, _) => a < 100L && b >= 100L })
    spark.catalog.clearCache()
  }

  test("keyframes: identical frames merge into one shot; a hard cut is a keyframe") {
    val frames = Seq(
      (1L, 0, "AAAABBBBCCCCDDDD"),
      (1L, 1, "AAAABBBBCCCCDDDD"), // same scene: jacc 10000 -> not a keyframe
      (1L, 2, "XXXXYYYYZZZZWWWW"), // hard cut: jacc 0 -> keyframe
      (1L, 3, "XXXXYYYYZZZZWWW2"), // one-char drift: 12/14 grams -> not a keyframe
      (2L, 0, "solo")              // single-frame media: first frame only
    ).toDF("media_id", "frame_no", "frame")
    val got = Multimodal.keyframes(frames, n = 4, tauX1e4 = 5000L)
      .orderBy("media_id", "frame_no").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 0, -1L), (1L, 2, 0L), (2L, 0, -1L)))
    spark.catalog.clearCache()
  }

  test("nbClassify: recovers classes, drops all-OOV docs, deterministic ties") {
    val train = Seq(
      (1L, "aa aa bb", "en"), (2L, "aa cc", "en"),
      (3L, "xx xx yy", "fr"), (4L, "xx zz", "fr")
    ).toDF("doc_id", "text", "lang")
    val model = TextAnalysis.nbTrain(train, "text", "lang")
    // Model shape: vocab × classes, integer costs, nothing else.
    assert(model.columns.toSeq == Seq("tok", "cls", "cost"))
    assert(model.count() == 6 * 2) // 6 distinct tokens × 2 classes
    val score = Seq(
      (10L, "aa aa"),   // en-heavy
      (11L, "xx yy"),   // fr-heavy
      (12L, "qq ww")    // fully OOV -> dropped
    ).toDF("doc_id", "text")
    val got = TextAnalysis.nbScore(score, "doc_id", "text", model)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((10L, "en"), (11L, "fr")))
    // Tie determinism: a doc equidistant from both classes lands on the
    // lexicographically smaller class, never on partitioning luck.
    val tied = TextAnalysis.nbScore(
      Seq((20L, "bb zz")).toDF("doc_id", "text"), "doc_id", "text", model)
      .collect()
    assert(tied.length == 1 && tied(0).getString(1) == "en")
  }
}
