package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, Multimodal, TextAnalysis}
import graft.functions.{SimHash, SimHashKernel}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("minhash LSH finds the exact-Jaccard pairs (planted near-dups)") {
    val docs = graft.io.Tables.documents(spark, TestSession.sf)
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 0.5,
        numHashes = 128, bands = 64, rowsPerBand = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    // verify step makes LSH ⊆ exact; banding at this config should reach
    // full recall on j>=0.5 pairs
    assert(lsh == exact, s"LSH recall mismatch: missed ${exact -- lsh}")
  }

  test("native shingle kernel == built-in HOF chain (incl. short docs)") {
    import spark.implicits._
    val corpus = graft.io.Tables.documents(spark, TestSession.sf)
      .select(col("doc_id"), col("text"))
      .union(Seq((9001L, "one two"), (9002L, ""), (9003L, "  leading space"),
        (9004L, "a a a a a")).toDF("doc_id", "text"))
    val both = corpus.select(col("doc_id"),
      graft.functions.VectorFunctions.wordShingles(col("text"), 3).as("k"),
      Dedup.shinglesHof("text", 3).as("h"))
    val bad = both.filter(not(col("k") <=> col("h"))).count()
    assert(bad == 0, s"$bad docs differ between kernel and HOF shingles")
  }

  test("native CDC-bounds kernel == HOF rolling-hash chain (incl. edge docs)") {
    import spark.implicits._
    val corpus = graft.io.Tables.documents(spark, TestSession.sf)
      .select(col("doc_id"), col("text"))
      .union(Seq((9001L, ""), (9002L, "short"), (9003L, "x" * 16),
        (9004L, "y" * 17)).toDF("doc_id", "text"))
    val both = corpus.select(col("doc_id"),
      graft.functions.VectorFunctions.cdcBounds(col("text"), 16, 64L).as("k"),
      graft.ops.Dedup.cdcBoundsHof(col("text"), 16, 64L).as("h"))
    val bad = both.filter(not(col("k") <=> col("h"))).count()
    assert(bad == 0, s"$bad docs differ between kernel and HOF CDC bounds")
  }

  test("connectedComponents: min-label components over chains, triangles, pairs") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("src", "dst")
    val got = graft.ops.Graph.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("contaminationPairs counts distinct shared shingles, both directions excluded on self") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f"),        // shares shingles "a b c".."d e f" with probe 10
      (2L, "x y z w v u"),        // no overlap
      (10L, "a b c d e f")).toDF("doc_id", "text")
    val probe = corpus.filter(col("doc_id") === 10L)
    val got = Dedup.contaminationPairs(corpus, probe, "doc_id", "text",
        minShared = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 1 shares all 4 trigram shingles with probe 10; probe's self-row excluded
    assert(got == Map((1L, 10L) -> 4L))
  }

  test("withSplit: deterministic, engine-portable, ~10% val fraction") {
    val docs = graft.io.Tables.documents(spark, TestSession.sf)
    val a = graft.ops.TextAnalysis.withSplit(docs, "doc_id")
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = graft.ops.TextAnalysis.withSplit(docs, "doc_id")
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b) // stable across evaluations
    val total = a.values.sum.toDouble
    assert(a("val") / total > 0.03 && a("val") / total < 0.25,
      s"val fraction ${a("val") / total} out of band")
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val groups = Dedup.exactDuplicates(df, "doc_id", "text").collect()
    assert(groups.length == 2)
    val dup = groups.find(_.getLong(2) == 2).get
    assert(dup.getLong(1) == 1L) // keep_id = min
  }
}

class SimHashSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("simhash: identical docs -> identical fp; near-dup -> small hamming") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val unrelated = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, nearDup), (4L, unrelated))
      .toDF("doc_id", "text")
      .select(col("doc_id"), SimHash.simhash64(split(col("text"), " ")).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(SimHashKernel.hamming(fps(1L), fps(3L)) <= 12)
    assert(SimHashKernel.hamming(fps(1L), fps(4L)) > 12)
  }

  test("banded simhash pairs == cross-join pairs (pigeonhole exactness)") {
    val fp = graft.io.Tables.documents(spark, TestSession.sf)
      .select(col("doc_id"), SimHash.simhash64(split(col("text"), "\\s+")).as("fp"))
    val banded = Dedup.simhashPairs(fp, "doc_id", "fp", maxHamming = 8)
    // reference result: the naive O(n²) comparison
    val a = fp.select(col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val b = fp.select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
    val naive = a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming", SimHash.hammingDistance(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= 8)
      .select("id_a", "id_b", "hamming")
    val bs = banded.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ns = naive.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ns.nonEmpty, "corpus should contain simhash near-dups")
    assert(bs == ns, s"banding lost/invented pairs: missing=${ns -- bs} extra=${bs -- ns}")
    // and the banded plan is equi-join only — no quadratic operator
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("portable bit-vote fold (hash=xxhash64, bits=64) == native kernel") {
    // the structural twin behind oracle-anchor q98: with the SAME hash
    // the HOF fold must reproduce the production kernel bit-for-bit,
    // so the cross-engine md5 anchor transitively checks the kernel's
    // vote->fingerprint logic (everything except xxhash64 itself)
    val docs = graft.io.Tables.documents(spark, TestSession.sf)
    val both = docs.select(col("doc_id"),
      SimHash.simhash64(split(col("text"), "\\s+")).as("kernel_fp"),
      Dedup.simhashBitVote(split(col("text"), "\\s+"),
        t => xxhash64(t), bits = 64).as("fold_fp"))
    val bad = both.filter(col("kernel_fp") =!= col("fold_fp")).count()
    assert(bad == 0L, s"$bad docs diverge between kernel and HOF fold")
  }

  test("portable md5 kernel (q98 production path) == md5 HOF fold") {
    // closes the anchor chain: DuckDB oracle ≡ HOF fold (same SQL
    // semantics) and HOF fold ≡ native portable kernel (this test), so
    // the codegen'd kernel the query actually runs is what the
    // cross-engine gate certifies
    val toks = split(col("text"), "\\s+")
    val md5Hash60: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long")
    val docs = graft.io.Tables.documents(spark, TestSession.sf)
    val both = docs.select(col("doc_id"),
      SimHash.simhashPortable60(toks).as("kernel_fp"),
      Dedup.simhashBitVote(filter(toks, t => length(t) > 0),
        md5Hash60, bits = 60).as("fold_fp"))
    val bad = both.filter(col("kernel_fp") =!= col("fold_fp")).count()
    assert(bad == 0L, s"$bad docs diverge between portable kernel and md5 fold")
  }

  test("simhash expression works under codegen (wholestage plan)") {
    // parquet-backed so ConvertToLocalRelation can't pre-evaluate it
    val df = graft.io.Tables.documents(spark, TestSession.sf)
      .select(SimHash.simhash64(split(col("text"), " ")).as("fp"))
    // the "*(n)" prefix marks a WholeStageCodegen stage containing the
    // simhash projection — the expression did not fall back to eval.
    // collect() first so AQE finalizes the plan (the fan-out exchange
    // makes the pre-execution plan print as isFinalPlan=false)
    assert(df.collect().forall(_.getLong(0) != 0L))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[simhash64""".r.findFirstIn(plan).isDefined, plan)
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("cosineExact: self-similarity 1, orthogonal 0") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosineExact(col("a"), col("b")).as("same"),
      Similarity.cosineExact(col("a"), col("c")).as("orth")).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(r.getDouble(1)) < 1e-9)
  }

  test("brute-force top-k: k rows per query, descending, no self") {
    val emb = graft.io.Tables.embeddings(spark, TestSession.sf)
    val topk = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", 4).collect()
    assert(topk.length == 12)
    topk.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getDouble(3)).sliding(2).forall {
        case Array(a, b) => a >= b; case _ => true })
      assert(!rows.exists(_.getLong(2) == q))
    }
  }

  test("LSH bucket pairs are a subset of exact pairs at same threshold") {
    val emb = graft.io.Tables.embeddings(spark, TestSession.sf)
    val exact = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(emb, "vec_id", "embedding", 0.3, planes = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("LSH with zero planes equals the exact pair list (q92 anchor)") {
    // planes = 0 ⇒ one constant bucket ⇒ candidate set = all pairs;
    // the verify step then computes the identical scaled-long cosine,
    // so the full LSH pipeline must return exactly the exact result —
    // (id_a, id_b) AND the cosine values.
    val emb = graft.io.Tables.embeddings(spark, TestSession.sf)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = asMap(Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4))
    val lsh0 = asMap(Similarity.lshNearDupPairs(emb, "vec_id", "embedding", 0.4, planes = 0))
    assert(lsh0 == exact)
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("rolling fingerprint: HOF fold == reference fold, edges covered") {
    import spark.implicits._
    // driver-side reference implementation of the same definition
    def ref(s: String): Long = {
      val norm = s.toLowerCase.replaceAll("[^\\w]", "")
      norm.foldLeft(0L)((h, c) => (h * 131L + c.toLong) % 1000000007L)
    }
    val cases = Seq(
      "Hello, World! 42",
      "", "...", "   ",                      // all-stripped edges -> 0
      "a", "aa", "ab", "ba",                 // order sensitivity
      "The quick brown fox jumps over the lazy dog 0123456789",
      "MiXeD_CaSe_With_Underscores",
      "unicode stripped: héllo wörld 中文",   // non-ASCII \\w stripped
      "x" * 5000)                            // long doc, modulus stays bounded
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        graft.ops.TextAnalysis.rollingFingerprint(col("text")).as("rh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == ref(t), s"case $i: '$t'")
    }
    // order sensitivity: a rolling hash must distinguish permutations
    assert(ref("ab") != ref("ba"))
  }

  test("chunkDocuments: coverage, overlap, and edge lengths") {
    import spark.implicits._
    val cases = Seq(
      (1L, "x" * 50),    // shorter than one chunk -> 1 chunk
      (2L, "y" * 200),   // exactly one chunk
      (3L, "z" * 201),   // one char over -> 2 chunks
      (4L, ('a' to 'z').mkString * 30), // 780 chars -> several chunks
      (5L, ""))          // empty -> single empty chunk
    val df = cases.toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(df, "doc_id", "text",
      chunkSize = 200, stride = 150)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val texts = cases.toMap
    cases.foreach { case (id, t) =>
      val chunks = out(id)
      val expectN = if (t.length <= 200) 1 else 1 + math.ceil((t.length - 200) / 150.0).toInt
      assert(chunks.length == expectN, s"doc $id chunk count")
      // every chunk is the substring at its window; stitching the
      // first `stride` chars of each chunk plus the last chunk's tail
      // reconstructs the document exactly (lossless coverage)
      chunks.zipWithIndex.foreach { case (c, i) =>
        assert(c == t.substring(i * 150, math.min(i * 150 + 200, t.length)), s"doc $id chunk $i")
      }
      val rebuilt = chunks.init.zipWithIndex.map { case (c, _) => c.take(150) }.mkString + chunks.last
      assert(rebuilt == t, s"doc $id reconstruction")
      // consecutive chunks share the 50-char overlap
      chunks.sliding(2).foreach {
        case Seq(a, b) => if (a.length == 200) assert(a.drop(150) == b.take(50))
        case _ =>
      }
    }
  }

  test("quality metrics on a known doc") {
    import spark.implicits._
    val df = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityMetrics(df, "text").collect().head
    assert(r.getAs[Long]("n_tokens") == 6)
    assert(r.getAs[Long]("n_distinct") == 5) // "the" twice
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 6) < 1e-12)
  }

  test("redactPii: emails and phones replaced, counts audited") {
    import spark.implicits._
    val df = Seq((1L, "mail me at jo.doe+x@test-site.org or call 555-123-4567 ok"),
      (2L, "nothing to scrub here")).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.redactPii(df, "text").collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_emails"), x.getAs[Long]("n_phones"),
          x.getAs[String]("text_redacted"))).toMap
    assert(r(1L)._1 == 1L && r(1L)._2 == 1L)
    assert(r(1L)._3 == "mail me at <EMAIL> or call <PHONE> ok")
    assert(r(2L) == (0L, 0L, "nothing to scrub here"))
  }

  test("withRepetition: fully repeated doc scores high, unique doc zero") {
    import spark.implicits._
    val df = Seq((1L, "a a a a a"), (2L, "v w x y z")).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.withRepetition(df, "text").collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_shingles"), x.getAs[Double]("rep_ratio"))).toMap
    assert(r(1L) == (3L, 1.0 - 1.0 / 3.0)) // one distinct "a a a" of 3
    assert(r(2L) == (3L, 0.0))
  }

  test("langid: CJK short-circuits to zh; english profile wins for english") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog and then some more"),
      (2L, "你好世界")).toDF("doc_id", "text")
    val preds = TextAnalysis.withLangId(df, "text").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("lang_pred")).toMap
    assert(preds(2L) == "zh")
    assert(preds(1L) == "en")
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("decode plumbing: deterministic fallback features, bytes match") {
    import spark.implicits._
    val df = Seq((7L, "hello world")).toDF("doc_id", "text")
    val feats = Multimodal.decodeFeatures(
      Multimodal.asMediaRecords(df, "doc_id", "text", "text")).collect().head
    assert(feats.media_id == 7L)
    assert(feats.n_bytes == 11L)
    assert(feats.format == "unknown")
    assert(feats.width >= 16 && feats.height >= 16)
    // determinism: same payload -> same checksum
    val again = Multimodal.decodeFeatures(
      Multimodal.asMediaRecords(df, "doc_id", "text", "text")).collect().head
    assert(again.checksum == feats.checksum)
  }

  // Minimal valid-header payloads built from the public format specs.
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(33).order(java.nio.ByteOrder.BIG_ENDIAN)
    b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    b.putInt(13).put("IHDR".getBytes("US-ASCII"))
    b.putInt(w).putInt(h)
    b.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    b.array()
  }
  private def bmpBytes(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54).putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    b.array()
  }
  private def wavBytes(rate: Int, channels: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
    b.putShort(channels.toShort).putInt(rate)
    b.putInt(rate * channels * 2).putShort((channels * 2).toShort).putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(0)
    b.array()
  }

  test("header decode: real PNG/BMP/WAV header fields, not fakes") {
    import spark.implicits._
    val recs = Seq(
      Multimodal.MediaRecord(1L, "image", pngBytes(640, 480)),
      Multimodal.MediaRecord(2L, "image", bmpBytes(320, 200)),
      Multimodal.MediaRecord(3L, "audio", wavBytes(44100, 2))).toDS()
    val byId = Multimodal.decodeFeatures(recs).collect().map(f => f.media_id -> f).toMap
    assert(byId(1L).format == "png" && byId(1L).width == 640 && byId(1L).height == 480)
    assert(byId(2L).format == "bmp" && byId(2L).width == 320 && byId(2L).height == 200)
    assert(byId(3L).format == "wav" && byId(3L).sample_rate == 44100
      && byId(3L).n_channels == 2 && byId(3L).width == 0)
  }

  private def jpegBytes(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(2 + 18 + 19 + 2).order(java.nio.ByteOrder.BIG_ENDIAN)
    b.putShort(0xffd8.toShort)                         // SOI
    b.putShort(0xffe0.toShort).putShort(16)            // APP0, len 16
    b.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    b.put(1.toByte).put(1.toByte).put(0.toByte)
    b.putShort(1).putShort(1).put(0.toByte).put(0.toByte)
    b.putShort(0xffc0.toShort).putShort(17)            // SOF0 baseline, len 17
    b.put(8.toByte).putShort(h.toShort).putShort(w.toShort) // precision, height, width
    b.put(3.toByte)                                    // 3 components
    b.put(Array[Byte](1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    b.putShort(0xffd9.toShort)                         // EOI
    b.array()
  }

  test("header decode: JPEG dimensions via the SOF marker walk") {
    val f = Multimodal.HeaderDecoder.decode(
      Multimodal.MediaRecord(5L, "image", jpegBytes(1920, 1080)))
    assert(f.format == "jpeg" && f.width == 1920 && f.height == 1080)
    // a truncated/markerless JPEG falls back to the flagged stub path
    val junk = Multimodal.HeaderDecoder.decode(
      Multimodal.MediaRecord(6L, "image", Array[Byte](0xff.toByte, 0xd8.toByte, 0x00, 0x01)))
    assert(junk.format == "unknown")
  }

  test("header decode: BMP top-down (negative height) normalizes") {
    val f = Multimodal.HeaderDecoder.decode(
      Multimodal.MediaRecord(4L, "image", bmpBytes(16, -32)))
    assert(f.format == "bmp" && f.height == 32)
  }

  test("chunk sampling covers the payload with stride") {
    import spark.implicits._
    val df = Seq((1L, "x" * 1000)).toDF("doc_id", "text")
    val chunks = Multimodal.sampleChunks(
      Multimodal.asMediaRecords(df, "doc_id", "text", "text"), 64, 2).collect()
    assert(chunks.length == math.ceil(1000.0 / 128).toInt)
  }
}

class IvfSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("IVF probed search reaches high recall vs exact top-k") {
    val emb = graft.io.Tables.embeddings(spark, TestSession.sf)
    val exact = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = graft.ops.IvfIndex.topK(emb, col("vec_id") < 10,
        "vec_id", "embedding", k = 5, lists = 16, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low (|exact|=${exact.size})")
    // candidate reduction is real: with nProbe=8 of 16 lists we touch
    // at most half the corpus per query
  }

  test("IVF composes with SQ8: search over dequantized codes recalls exact top-k") {
    import graft.ops.Quantize
    val emb = graft.io.Tables.embeddings(spark, TestSession.sf)
    val cb = Quantize.codebook(emb, "embedding")
    // FAISS-style IVF-SQ: index stores uint8 codes; search runs on the
    // dequantized reconstruction (cast back to the float vector shape)
    val deq = Quantize.dequantize(
        Quantize.sq8(emb, "vec_id", "embedding", cb), "vec_id", cb)
      .select(col("vec_id"),
        transform(col("vec_q"), x => x.cast("float")).as("embedding"))
    val exact = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfSq = graft.ops.IvfIndex.topK(deq, col("vec_id") < 10,
        "vec_id", "embedding", k = 5, lists = 16, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivfSq).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF-SQ recall $recall too low")
  }

  test("distributed probe plan (no driver collect) matches collected search") {
    val emb = graft.io.Tables.embeddings(spark, TestSession.sf)
    val cs = graft.ops.IvfIndex.train(emb, "embedding", 8)
    val indexed = graft.ops.IvfIndex.index(emb, "embedding", cs)
    val qs = emb.filter(col("vec_id") < 10)
    val collected = graft.ops.IvfIndex.search(indexed, qs, "vec_id", "embedding",
        cs, k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dist = graft.ops.IvfIndex.searchDistributed(indexed, qs, "vec_id",
        "embedding", cs, k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // nProbe = lists -> both probe every list -> identical exact result
    assert(dist == collected && dist.nonEmpty)
  }

  test("IVF with nProbe = lists equals brute force exactly") {
    val emb = graft.io.Tables.embeddings(spark, TestSession.sf)
    val exact = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.ops.IvfIndex.topK(emb, col("vec_id") < 5,
        "vec_id", "embedding", k = 5, lists = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == exact)
  }
}
