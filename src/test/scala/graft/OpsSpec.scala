package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Fixtures
import graft.functions.{Md5SimHash, SimHash}
import graft.multimodal.Multimodal
import graft.similarity.Banding

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Relational 32-bit simhash, the reference the native Md5SimHash is
    * checked against: bit b of token t = (hex char b of md5(t)) >= '8';
    * fingerprint bit = strict-majority vote over tokens, each of the 32
    * votes its own `sum` over the exploded token rows. The per-bit
    * predicate is literally the q48 oracle's `substring(h, b+1, 1) >= '8'`.
    * Returns (idCol, sh: long).
    */
  private def fingerprintsPortable(docs: DataFrame, idCol: String,
      tokens: Column): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens).as("tk"))
      .select(col(idCol), md5(col("tk")).as("h"))
    val voteCols = (0 until 32).map { b =>
      sum(when(substring(col("h"), b + 1, 1) >= "8", 1).otherwise(-1)).as(s"__v$b")
    }
    tok.groupBy(col(idCol))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col(idCol),
        (0 until 32).map { b =>
          when(col(s"__v$b") > 0, lit(1L << b)).otherwise(0L)
        }.reduce(_ + _).as("sh"))
  }

  test("simhash: identical texts collide, perturbed texts are near") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely different content about spark shuffles and joins"))
      .toDF("id", "text")
      .select(col("id"), Md5SimHash.of(col("text")).as("sh"))
    val m = docs.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    val near = java.lang.Long.bitCount(m(1L) ^ m(3L))
    val far = java.lang.Long.bitCount(m(1L) ^ m(4L))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 8)
  }

  test("banded simhash pairs == brute-force all-pairs at hamming <= 3") {
    // 4 byte-bands are complete for hamming <= 3 (pigeonhole): the banded
    // candidate join must reproduce the crossJoin result exactly
    val docs = (1L to 120L).map { i =>
      val base = Seq("alpha", "beta", "gamma", "delta", "epsilon",
        "zeta", "eta", "theta", "iota", "kappa")
      val words = base.map(w => if (i % 7 == 0) w else s"$w${i % 11}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val fp = fingerprintsPortable(docs, "doc_id", split(col("text"), " "))
    // sorted Seqs, not Sets: a pair emitted twice must show
    val banded = SimHash.bandedPairs(fp, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq.sorted
    val right = fp.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    val brute = fp.crossJoin(right).filter(col("doc_id") < col("id2"))
      .withColumn("hamming", SimHash.hamming(col("sh"), col("sh2")))
      .filter(col("hamming") <= 3)
      .select(col("doc_id"), col("id2"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSeq.sorted
    assert(banded == brute)
    assert(brute.nonEmpty, "fixture must actually produce near-dup pairs")
    assertThrows[IllegalArgumentException](SimHash.bandedPairs(fp, maxHamming = 4))
  }

  test("Banding.pairs == band join + distinct, as a multiset") {
    // seeded keys from a small alphabet, so pairs share 1, 2 or all 3
    // bands; the reference emits a pair once per shared band and then
    // de-duplicates, the operator must emit it once without that
    val rnd = new scala.util.Random(11)
    val rows = (1L to 60L).map(i => (i, Seq.fill(3)(rnd.nextInt(6).toLong)))
    val shared = (for ((a, ka) <- rows; (b, kb) <- rows if a < b)
      yield ka.zip(kb).count(p => p._1 == p._2)).toSet
    assert(Set(1, 2, 3).subsetOf(shared), shared)
    val left = rows.toDF("id", "keys")
    val right = left.select(col("id").as("id2"), col("keys"))
    // probes: the key itself and bits 0 and 1 flipped; bit 2 is not
    // probed, so a band whose keys differ only in bit 2 must not match
    val xors: Seq[Column => Column] = Seq(identity, _.bitwiseXOR(lit(1L)), _.bitwiseXOR(lit(2L)))
    val xorSeen = (for ((_, ka) <- rows; (_, kb) <- rows; t <- 0 until 3)
      yield ka(t) ^ kb(t)).toSet
    assert(Set(0L, 1L, 2L, 4L).subsetOf(xorSeen), xorSeen)
    def exploded(df: DataFrame, ps: Seq[Column => Column]) =
      df.select(col("*"), explode(array((for (t <- 0 until 3; p <- ps)
        yield struct(lit(t).as("band"), p(col("keys")(t)).as("key"))): _*)).as("bk"))
        .select(df.columns.filter(_ != "keys").map(col) :+ col("bk.*"): _*)
    for (ps <- Seq(Seq(identity[Column] _), xors)) {
      val got = Banding.pairs(left, right, "keys", bands = 3, ps)
        .filter(col("id") =!= col("id2"))
        .as[(Long, Long)].collect().toSeq.sorted
      val want = exploded(left, ps).join(exploded(right, Seq(identity)), Seq("band", "key"))
        .filter(col("id") =!= col("id2")).select("id", "id2").distinct()
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == want)
      assert(got.nonEmpty && got.size < rows.size * (rows.size - 1))
    }
  }

  test("simhash hamming column matches JVM bitCount") {
    val rows = Seq((0xffL, 0x0fL)).toDF("a", "b")
      .select(SimHash.hamming(col("a"), col("b"))).as[Int].collect()
    assert(rows.head == 4)
  }

  /** Media rows over the tiny fixture pages: html bytes as the payload. */
  def pageMedia = Multimodal.mediaFromDocs(spark, Fixtures.pages(spark, Fixtures.tiny).toDF()
    .select(xxhash64(col("url")).as("doc_id"), col("html").as("text")))

  test("multimodal featurize: deterministic stub features, batch plumbing") {
    val media = pageMedia
    val feats = Multimodal.featurize(media).collect()
    assert(feats.length == 200)
    assert(feats.forall(_.features.length == Multimodal.featureDim))
    // deterministic: same rows, differently partitioned -> same features
    val again = Multimodal.featurize(media.repartition(7)).collect()
    assert(feats.map(f => f.media_id -> f.features.toSeq).toMap ==
      again.map(f => f.media_id -> f.features.toSeq).toMap)
    // kinds assigned
    assert(feats.map(_.kind).toSet == Set("image", "audio", "video"))
    // every row takes the declared stub, whatever its kind
    val payloads = media.collect().map(m => m.media_id -> m.payload).toMap
    assert(feats.forall(f => f.features.toSeq == Multimodal.decodeStub(payloads(f.media_id)).toSeq))
  }

  test("multimodal features compose into the IVF ANN index end-to-end") {
    // the declared multimodal contract: opaque binary -> feature vector
    // -> similarity search. Wire the stub featurizer's output straight
    // into the IVF index and ivfTopK to prove the schema/typing seam is
    // real.
    val emb = Multimodal.featurize(pageMedia).toDF()
      .select(col("media_id").as("id"),
        transform(col("features"), _.cast("double")).as("v"))
    val queries = emb.filter(col("id") < 5)
      .select(col("id").as("qid"), col("v").as("qv"))
    val topk = graft.similarity.Ann.ivfTopK(emb, queries, 3, c = 8)
      .collect()
    assert(topk.nonEmpty)
    val byQ = topk.groupBy(_.getAs[Long]("qid"))
    assert(byQ.values.forall(_.length <= 3))
    // 16-dim stub features: dimensionality is derived from the data,
    // not assumed 64 (the round-3 review fix)
    val (centroids, _, _) = graft.similarity.Ann.ivfIndexWithSource(emb, c = 8)
    assert(centroids.forall(_.length == Multimodal.featureDim))
  }

  test("real PNG codec round-trip: block sums equal the closed-form pixel formula") {
    // independent re-derivation: plain (x, y) sweep accumulating into
    // blocks — a different loop structure than poolSums' block-major one
    for (id <- Seq(0L, 1L, 7L, 499L, 123456L)) {
      val expected = new Array[Long](16)
      for (y <- 0 until 16; x <- 0 until 16)
        expected((y / 4) * 4 + (x / 4)) += (id * 31 + x * 7 + y * 13) % 256
      val png = Multimodal.encodePng(id, 16, 16)
      val p = Multimodal.parsePng(png)
      assert((p.width, p.height) == (16, 16))
      assert(p.sums.toSeq == expected.toSeq, s"codec round-trip diverged for id=$id")
    }
  }

  test("corrupt image payload fails loud, never silently fake features") {
    val truncated = Multimodal.encodePng(1L, 16, 16).take(20)
    intercept[Exception](Multimodal.parsePng(truncated))
  }

  test("real WAV codec round-trip: window sums equal the closed-form sample formula") {
    for (id <- Seq(0L, 1L, 7L, 499L, 123456L)) {
      val expected = new Array[Long](16)
      for (j <- 0 until 256)
        expected(j / 16) += (id * 131 + j * 17) % 65536 - 32768
      val wav = Multimodal.encodeWav(id, 256)
      assert(Multimodal.parseWav(wav).sums.toSeq == expected.toSeq,
        s"audio codec round-trip diverged for id=$id")
    }
    // corrupt: RIFF magic but truncated body
    intercept[Exception](
      Multimodal.parseWav(Multimodal.encodeWav(1L, 256).take(24)))
    // a header-only WAV is well formed but holds 0 samples: loud too,
    // never 16 windows of 0/0
    intercept[IllegalArgumentException](
      Multimodal.parseWav(Multimodal.encodeWav(3L, 0)))
  }

  test("real GIF codec round-trip: per-frame block sums equal the formula") {
    for (id <- Seq(0L, 1L, 499L, 123456L)) {
      val gif = Multimodal.encodeGif(id, 4, 16, 16)
      val frames = Multimodal.parseGif(gif)
      assert(frames.length == 4)
      for ((Multimodal.Pooled(w, h, sums), f) <- frames.zipWithIndex) {
        assert((w, h) == (16, 16))
        val expected = new Array[Long](16)
        for (y <- 0 until 16; x <- 0 until 16)
          expected((y / 4) * 4 + (x / 4)) += (id * 31 + f * 41 + x * 7 + y * 13) % 256
        assert(sums.toSeq == expected.toSeq,
          s"gif codec round-trip diverged for id=$id frame=$f")
      }
    }
    intercept[Exception](
      Multimodal.parseGif("GIF89a-garbage".getBytes("UTF-8")))
  }

  test("parseGif pools each GIF frame by its OWN geometry (delta-frame shape)") {
    // hand-build a 2-frame GIF whose second frame is a smaller
    // sub-rectangle (the delta-optimized layout): pooling frame 1 with
    // frame 0's 16x16 geometry would read past its 8x8 pixels
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    def flat(w: Int, h: Int, v: Int) = {
      // explicit 256-gray indexed palette, like the engine's encoder —
      // TYPE_BYTE_GRAY would be re-palettized lossily by the GIF writer
      val p = Array.tabulate[Byte](256)(_.toByte)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED,
        new java.awt.image.IndexColorModel(8, 256, p, p, p))
      val g = img.getRaster
      for (y <- 0 until h; x <- 0 until w) g.setSample(x, y, 0, v)
      img
    }
    try {
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      wr.writeToSequence(new javax.imageio.IIOImage(flat(16, 16, 100), null, null), null)
      wr.writeToSequence(new javax.imageio.IIOImage(flat(8, 8, 200), null, null), null)
      wr.endWriteSequence()
    } finally { ios.close(); wr.dispose() }
    // q85's path: one row per frame, each block of a flat frame sums
    // its pixel value times that frame's own block area
    val frames = Multimodal.parseGif(bos.toByteArray)
    assert(frames.map(p => (p.width, p.height)) == Seq((16, 16), (8, 8)))
    assert(frames(0).sums.toSeq == Seq.fill(16)(100L * 4 * 4))
    assert(frames(1).sums.toSeq == Seq.fill(16)(200L * 2 * 2))
  }

  test("Md5MinHash == built-in split/shingle/md5/min form, incl. edge tokenization") {
    // adversarial tokenization: empty tokens (double/leading/trailing
    // spaces), unicode, exactly-3 tokens, under-3 tokens (NULL)
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a  b c"), // empty token between a and b
      (3L, " leading space tokens here"),
      (4L, "trailing space tokens here "),
      (5L, "exactly three tokens"),
      (6L, "two tokens"),
      (7L, "naïve café déjà vu ünïcôdé"),
      (8L, ""),
      (9L, "x " * 50 + "y"))
      .toDF("id", "text")
    val native = texts.select(col("id"),
      graft.functions.Md5MinHash.of(col("text"), n = 3, k = 2).as("sg"))
    // reference form: interpreted HOF shingles + exploded md5 mins
    val t = split(col("text"), " ")
    val sh = transform(sequence(lit(0), size(t) - 3), i =>
      concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3)))
    val ref = texts.withColumn("t", t).filter(size(col("t")) >= 3)
      .select(col("id"), explode(sh).as("g"))
      .groupBy("id")
      .agg(min(md5(concat(lit("0:"), col("g")))).as("s0"),
        min(md5(concat(lit("1:"), col("g")))).as("s1"))
    val nat = native.filter(col("sg").isNotNull)
      .select(col("id"), element_at(col("sg"), 1).as("s0"), element_at(col("sg"), 2).as("s1"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    val exp = ref.as[(Long, String, String)].collect().sortBy(_._1)
    assert(nat.toSeq == exp.toSeq)
    // NULL exactly where fewer than 3 tokens
    val nulls = native.filter(col("sg").isNull).select("id").as[Long].collect().toSet
    assert(nulls == Set(6L, 8L), s"unexpected null set $nulls")
  }

  test("Md5SimHash == relational fingerprintsPortable") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a  b c"),
      (3L, " leading and trailing "),
      (4L, "single"),
      (5L, ""),
      (6L, "naïve café déjà vu ünïcôdé"),
      (7L, ("tok " * 200).trim))
      .toDF("doc_id", "text")
    val native = texts.select(col("doc_id"),
      graft.functions.Md5SimHash.of(col("text")).as("sh"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val rel = fingerprintsPortable(texts, "doc_id", split(col("text"), " "))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(native.toSeq == rel.toSeq)
  }

  test("Md5MinHash/Md5SimHash parity holds on 300 seeded-random strings") {
    // randomized sweep (fixed seed, deterministic): mixed alphabets,
    // space runs, unicode, zero-to-long lengths — one DF pass per form
    val rnd = new scala.util.Random(4242)
    val alphabet = "ab cde  f—ghé世 ij" // spaces, accents, CJK
    val texts = (1L to 300L).map { i =>
      val len = rnd.nextInt(120)
      (i, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("id", "text")
    val t = split(col("text"), " ")
    val sh = transform(sequence(lit(0), size(t) - 3), i =>
      concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3)))
    val refMin = texts.withColumn("t", t).filter(size(col("t")) >= 3)
      .select(col("id"), explode(sh).as("g"))
      .groupBy("id")
      .agg(min(md5(concat(lit("0:"), col("g")))).as("s0"),
        min(md5(concat(lit("1:"), col("g")))).as("s1"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    val natMin = texts.select(col("id"),
      graft.functions.Md5MinHash.of(col("text"), n = 3, k = 2).as("sg"))
      .filter(col("sg").isNotNull)
      .select(col("id"), element_at(col("sg"), 1), element_at(col("sg"), 2))
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(natMin.toSeq == refMin.toSeq)
    val refSim = fingerprintsPortable(texts, "id", split(col("text"), " "))
      .as[(Long, Long)].collect().sortBy(_._1)
    val natSim = texts.select(col("id"),
      graft.functions.Md5SimHash.of(col("text")).as("sh"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(natSim.toSeq == refSim.toSeq)
  }

  test("CosineSim bit-equal to HOF form; LshBuckets equal to per-plane formula") {
    import graft.core.Ids
    val dim = 64
    val vecs = (1L to 40L).map { i =>
      (i, (0 until dim).map(d => Ids.unitDouble(Ids.mix64(i, d.toLong)) - 0.5).toArray)
    }.toDF("id", "v")
    val v2 = vecs.select(col("id").as("id2"), col("v").as("w"))
    val pairs = vecs.crossJoin(v2).filter(col("id") < col("id2"))
    val hofDot = aggregate(zip_with(col("v"), col("w"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val hofNrm = (a: org.apache.spark.sql.Column) =>
      sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))
    val both = pairs.select(col("id"), col("id2"),
      graft.functions.VectorOps.cosine(col("v"), col("w")).as("native"),
      (hofDot / (hofNrm(col("v")) * hofNrm(col("w")))).as("hof"))
      .as[(Long, Long, Double, Double)].collect()
    // identical operation order => bit-equal, not just close
    assert(both.forall(r => r._3 == r._4),
      both.filter(r => r._3 != r._4).take(3).mkString(","))

    // LshBuckets == the old per-plane constant-sign-array formula
    def sign(t: Int, p: Int, d: Int): Double =
      if ((Ids.mix64(Ids.mix64(t * 131L + p) ^ d) & 1L) == 0L) 1.0 else -1.0
    val (tables, planes) = (8, 6)
    val got = vecs.select(col("id"),
      graft.functions.VectorOps.lshBuckets(col("v"), tables, planes).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    val raw = vecs.as[(Long, Seq[Double])].collect().toMap
    for ((id, v) <- raw; t <- 0 until tables) {
      var bucket = 0L
      for (p <- 0 until planes) {
        val proj = (0 until dim).map(d => v(d) * sign(t, p, d)).sum
        if (proj > 0) bucket += 1L << p
      }
      assert(got(id)(t) == bucket, s"id=$id t=$t")
    }
  }

  test("CdcBoundaries == interpreted HOF rolling-hash form on fixture docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("n", length(col("text")))
      .filter(col("n") >= 8)
    val w = 8
    val pow = (0 until w).map(j => (0 until (w - 1 - j)).foldLeft(1L)((a, _) => a * 31L))
    val hof = docs
      .withColumn("cp", transform(split(col("text"), ""), ch => ascii(ch).cast("long")))
      .select(col("doc_id"),
        filter(
          transform(sequence(lit(1), col("n") - (w - 1)), i =>
            struct(i.as("i"),
              (0 until w).map(j =>
                element_at(col("cp"), i + lit(j)) * lit(pow(j)))
                .reduce(_ + _).as("h"))),
          x => pmod(x("h"), lit(64L)) === 0).as("b"))
      .select(col("doc_id"), transform(col("b"), x => x("i")).as("b"))
      .as[(Long, Seq[Int])].collect().toMap
    val native = docs
      .select(col("doc_id"),
        graft.functions.CdcBoundaries.of(col("text"), w, 64L).as("b"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(native.keySet == hof.keySet && native.nonEmpty)
    native.foreach { case (id, b) => assert(b == hof(id), s"doc $id") }
    // edge cases: under-window text -> empty; exact-window boundary math
    val edge = Seq((1L, "short"), (2L, "12345678"), (3L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.CdcBoundaries.of(col("text"), w, 64L).as("b"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(edge(1L).isEmpty && edge(3L).isEmpty)
    val h8 = "12345678".map(_.toLong).zip(pow).map { case (cp, pw) => cp * pw }.sum
    assert(edge(2L) == (if (h8 % 64 == 0) Seq(1) else Seq.empty))
    // astral chars: positions/codepoints must match the HOF form (which
    // is codepoint-indexed via split(text,'')+ascii), not UTF-16 units
    val astral = Seq((1L, "a😀bcdefghij klmnop qrstuv"))
      .toDF("doc_id", "text")
      .withColumn("n", length(col("text")))
    val hofA = astral
      .withColumn("cp", transform(split(col("text"), ""), ch => ascii(ch).cast("long")))
      .select(filter(
        transform(sequence(lit(1), col("n") - (w - 1)), i =>
          struct(i.as("i"),
            (0 until w).map(j =>
              element_at(col("cp"), i + lit(j)) * lit(pow(j)))
              .reduce(_ + _).as("h"))),
        x => pmod(x("h"), lit(64L)) === 0).as("b"))
      .select(transform(col("b"), x => x("i")).as("b"))
      .as[Seq[Int]].head()
    val natA = astral
      .select(graft.functions.CdcBoundaries.of(col("text"), w, 64L).as("b"))
      .as[Seq[Int]].head()
    assert(natA == hofA, s"astral divergence: native $natA vs hof $hofA")
  }

  test("custom expressions reject a wrong input type and evaluate on the right one") {
    import org.apache.spark.sql.{AnalysisException, Column}
    import graft.functions.{CdcBoundaries, InlineCentroids, Md5MinHash, MinHash, VectorOps}
    val df = Seq(("a b c d", Seq(3.0, 4.0))).toDF("s", "v")
    val m = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    // (prettyName, column form, the input column of the right type)
    val cases: Seq[(String, Column => Column, String)] = Seq(
      ("text_minhash", MinHash.signatureFromText(_), "s"),
      ("md5_minhash", Md5MinHash.of(_), "s"),
      ("md5_simhash", Md5SimHash.of(_), "s"),
      ("cdc_boundaries", CdcBoundaries.of(_), "s"),
      ("centroid_ranks", VectorOps.centroidRanks(_, InlineCentroids(m)), "v"),
      ("cosine_sim", c => VectorOps.cosine(c, c), "v"),
      ("lsh_buckets", VectorOps.lshBuckets(_, 2, 3), "v"))
    cases.foreach { case (name, f, right) =>
      val wrong = if (right == "s") "v" else "s"
      val e = intercept[AnalysisException](df.select(f(col(wrong))))
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE" &&
        e.getMessage.contains(name), s"$name on $wrong: ${e.getMessage}")
      val row = df.select(f(col(right))).head()
      assert(!row.isNullAt(0), s"$name on $right evaluated to NULL")
    }
  }
}
