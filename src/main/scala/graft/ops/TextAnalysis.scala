package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for training-data pipelines: quality
  * scoring, token statistics, document fingerprinting, and a heuristic
  * n-gram language identifier. All but langid are pure built-ins
  * (codegen'd, ratio-of-integer determinism for oracle checks); langid
  * is a broadcast-profile scoring UDF.
  */
object TextAnalysis {

  /** Tokens by whitespace, no normalization (raw counting). */
  private def toks(textCol: Column): Column = split(textCol, "\\s+")

  /** A BPE-ish pre-tokenization count: word-character runs + individual
    * punctuation marks (each its own token). Expressed without regex
    * lookarounds so the DuckDB (RE2) oracle can mirror it exactly. */
  def subwordCount(textCol: Column): Column =
    size(filter(split(textCol, "[^\\w]+"), s => length(s) > 0)) +
      (length(textCol) - length(regexp_replace(textCol, "[^\\w\\s]", "")))

  /** UNIGRAM-LM (SentencePiece-style) TOKENIZER — the subword
    * segmentation family's second member beside [[graft.ops.BpeTrainer]]
    * (merge-based): Kudo 2018 (arXiv:1804.10959) segments raw text by
    * the VITERBI argmax of Σ log p(piece) over a unigram piece model,
    * operating on whole text units with whitespace marked (the '▁'
    * convention; '_' here). This implementation pins the
    * frequency-initialized model (piece scores from one exact
    * substring-count pass — the EM refinement's standard starting
    * point) so the entire train+segment chain is integer-replayable:
    *
    *  - UNITS: the first `unitLen` chars of each doc, spaces → '_',
    *    deduplicated with multiplicity (one DP per distinct unit).
    *  - CANDIDATES: every substring of length 1..`maxPieceLen` of
    *    every unit, count = Σ unit multiplicity (one narrow flatMap +
    *    partial agg — the only data-scale shuffle).
    *  - VOCAB: all single chars (segmentation totality) + the top
    *    `vocabSize` multi-char pieces by (count DESC, piece ASC) — a
    *    TakeOrdered boundary, O(vocabSize) on the driver.
    *  - SCORES: ln(cnt/total) round-9 scaled to a long (the standing
    *    cross-engine libm guard), broadcast as an O(vocab) map.
    *  - VITERBI: dp[i] = max_k dp[i−k] + s9(piece(i−k,i)), ties to the
    *    LONGER last piece — exact integer DP, narrow mapPartitions.
    *
    * At 100 TB: unit stats are partial-aggregated, the model is a
    * broadcast codebook, and segmentation is embarrassingly parallel
    * per unit — the same shape real tokenizer-apply jobs run at
    * corpus scale.
    *
    * @return (unit, unit_count, n_pieces, seg '|'-joined, score9). */
  def unigramLmSegment(df: DataFrame, textCol: String,
                       vocabSize: Int = 200, maxPieceLen: Int = 4,
                       unitLen: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val units = df.where(length(col(textCol)) >= 1)
      .select(translate(substring(col(textCol), 1, unitLen), " ", "_")
        .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      // materialize the distinct-unit table: it feeds both the piece
      // counts and the final Viterbi pass — one corpus scan. Staged
      // (round-12): O(distinct units) can scale with input
      .transform(graft.util.Snapshots.stage)
    val pieces = units.as[(String, Long)]
      .flatMap { case (w, c) =>
        for {
          st <- 0 until w.length
          k <- 1 to math.min(maxPieceLen, w.length - st)
        } yield (w.substring(st, st + k), c)
      }.toDF("piece", "c")
      .groupBy(col("piece")).agg(sum(col("c")).as("cnt"))
    val total = pieces.agg(sum(col("cnt"))).as[Long].first()
    val chars = pieces.where(length(col("piece")) === 1)
    val multi = pieces.where(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(vocabSize)
    val scores: Map[String, Long] = chars.union(multi)
      .withColumn("s9", graft.util.Exact.scaled(
        round(log(col("cnt").cast("double") / lit(total.toDouble)), 9), 9))
      .select(col("piece"), col("s9")).as[(String, Long)]
      .collect().toMap // O(vocabSize + alphabet): a broadcast codebook
    val bc = spark.sparkContext.broadcast(scores)
    units.as[(String, Long)].mapPartitions { it =>
      val s9 = bc.value
      it.map { case (w, c) =>
        val n = w.length
        val dpS = new Array[Long](n + 1)
        val dpNp = new Array[Int](n + 1)
        val dpSeg = new Array[String](n + 1)
        dpSeg(0) = ""
        var i = 1
        while (i <= n) {
          var bestS = Long.MinValue; var bestK = 0
          var k = 1
          val kMax = math.min(maxPieceLen, i)
          while (k <= kMax) {
            s9.get(w.substring(i - k, i)) match {
              case Some(v) =>
                val cand = dpS(i - k) + v
                // ties → the longer last piece (k ascending, >= keeps
                // the largest k among equal scores)
                if (cand >= bestS) { bestS = cand; bestK = k }
              case None => ()
            }
            k += 1
          }
          dpS(i) = bestS
          dpNp(i) = dpNp(i - bestK) + 1
          dpSeg(i) =
            if (i - bestK == 0) w.substring(0, i)
            else dpSeg(i - bestK) + "|" + w.substring(i - bestK, i)
          i += 1
        }
        (w, c, dpNp(n), dpSeg(n), dpS(n))
      }
    }.toDF("unit", "unit_count", "n_pieces", "seg", "score9")
  }

  /** WORDPIECE TOKENIZER (greedy longest-match-first, the BERT family:
    * Devlin et al. 2019, arXiv:1810.04805; Song et al. 2021,
    * arXiv:2012.15524) — the subword family's third member beside
    * [[graft.ops.BpeTrainer]] (merge-based) and [[unigramLmSegment]]
    * (Viterbi-LM). WordPiece segments a WORD left to right, always
    * taking the LONGEST vocabulary piece that matches at the cursor;
    * non-initial pieces carry the '##' continuation prefix. As with
    * q324, the frequency-initialized vocabulary regime is pinned so
    * the whole train+segment chain replays cross-engine:
    *
    *  - WORDS: `\w+` runs of the lowercased text, capped to the first
    *    `maxWordLen` chars, deduplicated with multiplicity (one
    *    segmentation per distinct word — the tokenizer-apply shape).
    *  - CANDIDATES: initial pieces = prefixes of length 1..`maxPieceLen`;
    *    continuation pieces = '##'+substrings starting at ≥1 (words
    *    never contain '#' — `\w` excludes it — so the marker is
    *    unambiguous); counts = Σ word multiplicity.
    *  - VOCAB: every single-char piece in BOTH forms (segmentation
    *    totality — greedy can never dead-end) + the top `vocabSize`
    *    multi-char pieces by (count DESC, piece ASC), a TakeOrdered
    *    boundary.
    *  - SEGMENT: greedy longest match against the broadcast vocab —
    *    deterministic (no tie exists: lengths are distinct), exact.
    *
    * At 100 TB: word stats and candidate counts are partial-aggregated
    * narrow passes, the vocabulary is an O(vocab) broadcast codebook,
    * and segmentation is embarrassingly parallel per distinct word.
    *
    * @return (word, word_count, n_pieces, seg '|'-joined with '##'
    *         continuation markers). */
  def wordPieceSegment(df: DataFrame, textCol: String,
                       vocabSize: Int = 200, maxPieceLen: Int = 4,
                       maxWordLen: Int = 12): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .select(explode(split(lower(col(textCol)), "[^\\w]+")).as("w0"))
      .where(length(col("w0")) >= 1)
      .select(substring(col("w0"), 1, maxWordLen).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      // materialize the distinct-word table: it feeds both the
      // candidate counts and the final segmentation pass — without
      // this the corpus scan + explode + groupBy runs twice. Staged
      // (round-12): O(distinct words) can scale with input
      .transform(graft.util.Snapshots.stage)
    val cands = words.as[(String, Long)]
      .flatMap { case (w, c) =>
        for {
          st <- 0 until w.length
          k <- 1 to math.min(maxPieceLen, w.length - st)
        } yield (if (st == 0) w.substring(0, k)
                 else "##" + w.substring(st, st + k), c)
      }.toDF("piece", "c")
      .groupBy(col("piece")).agg(sum(col("c")).as("cnt"))
    val contentLen = when(col("piece").startsWith("##"),
      length(col("piece")) - 2).otherwise(length(col("piece")))
    val chars = cands.where(contentLen === 1)
    val multi = cands.where(contentLen >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(vocabSize)
    val vocab: Set[String] = chars.union(multi)
      .select(col("piece")).as[String].collect().toSet
    val bc = spark.sparkContext.broadcast(vocab)
    words.as[(String, Long)].mapPartitions { it =>
      val v = bc.value
      it.map { case (w, c) =>
        val n = w.length
        val sb = new StringBuilder
        var np = 0
        var pos = 0
        while (pos < n) {
          var k = math.min(maxPieceLen, n - pos)
          var hit = 0
          while (hit == 0 && k >= 1) {
            val cand = if (pos == 0) w.substring(0, k)
                       else "##" + w.substring(pos, pos + k)
            if (v.contains(cand)) hit = k else k -= 1
          }
          // totality: every single char is in the vocab in both forms
          if (np > 0) sb.append('|')
          if (pos > 0) sb.append("##")
          sb.append(w.substring(pos, pos + hit))
          np += 1
          pos += hit
        }
        (w, c, np.toLong, sb.toString)
      }
    }.toDF("word", "word_count", "n_pieces", "seg")
  }

  /** Per-doc quality metrics; every ratio is int/int → deterministic.
    * Columns: n_tokens, n_distinct, avg_token_len, distinct_ratio,
    * stopword_ratio, punct_ratio, n_subwords. */
  def qualityMetrics(df: DataFrame, textCol: String,
                     stopWords: Seq[String] = Seq("the", "a")): DataFrame = {
    val t = toks(col(textCol))
    val nTok = size(t).cast("long")
    val nDist = size(array_distinct(t)).cast("long")
    val nStop = size(filter(t, x => x.isin(stopWords.map(lit(_)): _*))).cast("long")
    val totLen = aggregate(transform(t, x => length(x).cast("long")), lit(0L), _ + _)
    val nPunct = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "[^\\w\\s]", ""))).cast("long")
    df.withColumn("n_tokens", nTok)
      .withColumn("n_distinct", nDist)
      .withColumn("avg_token_len", totLen.cast("double") / nTok.cast("double"))
      .withColumn("distinct_ratio", nDist.cast("double") / nTok.cast("double"))
      .withColumn("stopword_ratio", nStop.cast("double") / nTok.cast("double"))
      .withColumn("punct_ratio",
        nPunct.cast("double") / length(col(textCol)).cast("double"))
      .withColumn("n_subwords", subwordCount(col(textCol)).cast("long"))
  }

  /** Rolling-hash (Rabin–Karp shape) fingerprint of normalized text:
    * md5 of lowercase text with all non-word chars removed — stable
    * under whitespace/punctuation edits. */
  def fingerprint(textCol: Column): Column =
    md5(regexp_replace(lower(textCol), "[^\\w]", "").cast("binary"))

  /** Karp–Rabin rolling-hash fingerprint over the normalized content:
    * h = fold(h·131 + codepoint) mod 1e9+7, left to right. Pure HOF
    * column math (codegen'd, no UDF), O(n) per doc, no shuffle. The
    * modulus keeps every intermediate ≤ 2³⁷, so the same fold is
    * bit-reproducible in any 64-bit engine (oracle q95) — unlike a
    * wrapping h·31+c JVM hash. Normalization strips to ASCII \w, so
    * UTF-16 (JVM) and UTF-8 (columnar engines) views agree. */
  def rollingFingerprint(textCol: Column): Column = {
    val norm = regexp_replace(lower(textCol), "[^\\w]", "")
    val folded = aggregate(
      transform(split(norm, ""), ch => ascii(ch).cast("long")),
      lit(0L), (h, x) => (h * 131L + x) % 1000000007L)
    when(length(norm) === 0, 0L).otherwise(folded)
  }

  /** Character-trigram profiles for a few languages — tiny, inlined,
    * deterministic. Real pipelines plug in fastText-style models; the
    * Spark shape (broadcast profile + scoring UDF) is identical. */
  private val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd"),
    "de" -> Seq("en", "er", "ch", "de", "ei", "nd", "te", "in", "ie", "ge"),
    "es" -> Seq("de", "la", "os", "en", "el", "es", "ar", "ue", "ra", "as"),
    "fr" -> Seq("es", "le", "de", "en", "re", "nt", "on", "er", "ou", "ai"),
    "zh" -> Seq.empty // non-latin scripts: detected by codepoint range
  )

  /** Heuristic language ID over `textCol` → column `lang_pred`.
    * Scores bigram-profile hits per language; CJK codepoints short-
    * circuit to zh. Deterministic; broadcast closure, no shuffle. */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    // Set membership, not Seq.contains — the scan is per-bigram per-row
    val ps = profiles.map { case (l, p) => l -> p.toSet } // tiny closure
    val detect = udf { (s: String) =>
      if (s == null || s.isEmpty) "und"
      else if (s.exists(c => Character.UnicodeScript.of(c.toInt) ==
        Character.UnicodeScript.HAN)) "zh"
      else {
        val lower = s.toLowerCase
        val bigrams = lower.sliding(2).toSeq
        val scores = ps.collect { case (lang, prof) if prof.nonEmpty =>
          lang -> bigrams.count(prof.contains)
        }
        if (scores.isEmpty) "und" else scores.toSeq.sortBy(x => (-x._2, x._1)).head._1
      }
    }
    df.withColumn("lang_pred", detect(col(textCol)))
  }

  /** Deterministic hash-based train/val split — the reproducible,
    * engine-portable way to carve held-out data out of a corpus: the
    * assignment depends only on the id (stable under reshuffles,
    * re-reads, and engine changes; no seeded RNG state to ship).
    * A doc goes to `val` iff the first two hex chars of
    * md5(id-as-string) sort below `valHexCeil` — e.g. "1a" ≈ 26/256 ≈
    * 10.2% — using only cross-engine-identical primitives (md5 of the
    * decimal string, lowercase hex, byte-lexicographic compare). */
  def withSplit(df: DataFrame, idCol: String,
                valHexCeil: String = "1a"): DataFrame =
    df.withColumn("split",
      when(substring(md5(col(idCol).cast("string")), 1, 2) < valHexCeil, "val")
        .otherwise("train"))

  /** LEAKAGE-SAFE train/val split — [[withSplit]]'s hash carve-out
    * keyed on the NEAR-DUP GROUP representative instead of the doc id,
    * so two near-duplicate documents can never straddle the
    * train/val boundary (the classic eval-contamination hole: a
    * paraphrase of a validation doc left in train makes held-out loss
    * a lie). `groups` is a (doc_id, rep_id) frame — the output of
    * [[Graph.connectedComponents]];
    * docs absent from it (singletons — the overwhelming majority)
    * fall back to their own id, so the split stays the familiar
    * per-doc hash wherever no duplication exists.
    *
    * Scale: one equi join against the (small, pairs-only) group
    * table, then a pure codegen'd hash filter — no extra shuffle
    * beyond what the group computation already paid. */
  def leakageSafeSplit(df: DataFrame, idCol: String, groups: DataFrame,
                       valHexCeil: String = "1a"): DataFrame = {
    val g = groups.select(col("doc_id").as("__gid"),
      col("rep_id").as("__rep"))
    df.join(g, df(idCol) === col("__gid"), "left")
      .withColumn("rep_id", coalesce(col("__rep"), col(idCol)))
      .withColumn("split",
        when(substring(md5(col("rep_id").cast("string")), 1, 2) < valHexCeil,
          "val").otherwise("train"))
      .drop("__gid", "__rep")
  }

  /** GROUP-AWARE K-FOLD cross-validation assignment — the k-way
    * generalization of [[leakageSafeSplit]]: fold = portable-hash of
    * the near-dup group representative mod k, so a duplicate cluster
    * lands in exactly one fold and no fold ever validates on a
    * paraphrase of another fold's training doc. Hash-deterministic
    * (no RNG state), stable when the corpus grows: existing docs
    * never change folds, which makes CV runs comparable across
    * corpus snapshots. Same scale shape as the split: one equi join
    * against the pairs-only group table + a codegen'd hash.
    *
    * @return df + (rep_id, fold) with fold ∈ [0, k). */
  def groupKFold(df: DataFrame, idCol: String, groups: DataFrame,
                 k: Int): DataFrame = {
    require(k >= 2, "need at least two folds")
    val g = groups.select(col("doc_id").as("__gid"),
      col("rep_id").as("__rep"))
    df.join(g, df(idCol) === col("__gid"), "left")
      .withColumn("rep_id", coalesce(col("__rep"), col(idCol)))
      .withColumn("fold", expr(
        "cast(conv(substring(md5(cast(rep_id as string)), 1, 15), 16, 10) " +
          s"as bigint) % $k"))
      .drop("__gid", "__rep")
  }

  /** Deterministic stratified sampling — rebalance a training mix by
    * keeping a different fraction per stratum (language, source,
    * quality band). Same engine-portable primitive as [[withSplit]]:
    * keep a row iff the first four hex chars of md5(id-as-string)
    * sort below the stratum's threshold (rate quantized to 1/65536,
    * so both engines pick bit-identical row sets — no seeded RNG
    * state, stable under reshuffles). A pure codegen'd filter — no
    * shuffle, no sampling pass. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0): DataFrame = {
    def hexCeil(r: Double): String = {
      val q = math.max(0L, math.round(r * 65536))
      // rates rounding up to 65536 would format as the 5-char "10000",
      // which sorts BELOW most 4-hex prefixes — treat as keep-all
      if (q >= 65536L) "g" // sorts above every hex digit — keeps all rows
      else f"$q%04x"
    }
    val thr = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(hexCeil(defaultRate))) { case (acc, (k, r)) =>
        when(col(strataCol) === k, lit(hexCeil(r))).otherwise(acc)
      }
    df.filter(substring(md5(col(idCol).cast("string")), 1, 4) < thr)
  }

  /** Sequence packing — group consecutive docs into token-budget bins
    * (the packing step before training-sequence construction). Within
    * each shard, rows ordered by `orderCol` get
    * `pack_bin = (running token total BEFORE the row) div budget`:
    * contiguous fill, each bin overflowing by at most one document.
    * Deterministic given (shard, order) and expressible as one window
    * running sum — a single shuffle on the shard key; shard count
    * scales the parallelism, driver holds nothing. */
  def packSequences(df: DataFrame, shardCol: String, orderCol: String,
                    nTokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("pack_bin",
      floor((sum(col(nTokensCol)).over(w) - col(nTokensCol))
        .cast("double") / budget).cast("long"))
  }

  /** PII patterns shared by the scrubber and its oracle — kept to the
    * regex subset Java and RE2 interpret identically (character
    * classes, bounded counts, \b, no backrefs/lookarounds). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  /** PII scrub — the redaction pass a training corpus goes through
    * before ingestion: emails → `<EMAIL>`, phone-shaped digit runs →
    * `<PHONE>`, with per-doc match counts for audit. Pure codegen'd
    * regexp built-ins, one projection, no shuffle. */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("text_redacted",
        regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))

  /** Repetition score — boilerplate/spam signal: 1 − distinct/total
    * word n-gram shingles (0 = all shingles unique; → 1 as the doc
    * repeats itself). Uses the one-pass distinct-shingle kernel for
    * the numerator; total = max(tokens−n, 0)+1 by construction. */
  def withRepetition(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    val total = greatest(size(split(col(textCol), "\\s+")) - n, lit(0)) + 1
    val distinctN =
      size(graft.functions.VectorFunctions.wordShingles(col(textCol), n))
    df.withColumn("n_shingles", total.cast("long"))
      .withColumn("rep_ratio",
        lit(1.0) - distinctN.cast("double") / total.cast("double"))
  }

  /** Inverted index: term → document frequency + the sorted posting
    * list. The core retrieval structure (and the shuffle shape every
    * search engine build job has): ONE shuffle on the term, map-side
    * pre-distinct per doc so a term repeated in a document adds a
    * single posting. Postings are sorted doc ids; at 100 TB the term
    * is the natural bucket/sort key for the written index and hot
    * terms are bounded by per-term list length, not corpus size. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(array_distinct(toks(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("doc_freq"),
        sort_array(collect_list(col(idCol))).as("postings"))

  /** Positional PHRASE search — exact adjacent-term matching over a
    * positional posting list, the classic "quoted query" the
    * bag-of-words index ([[invertedIndex]]/[[bm25]]) cannot answer:
    * a doc matches iff phrase term i appears at position p+i for some
    * anchor p. This is how Lucene/ES evaluate phrase queries
    * (positions intersect with offset), expressed as relational
    * equi joins: tokenize with positions once, KEEP ONLY the phrase's
    * terms (the selective filter that makes the plan linear in the
    * phrase terms' postings, not the corpus), anchor on term 0, then
    * one (id, position−i) equi join per remaining term. All joins are
    * shuffle-hash on (id, p) — no windows, no per-doc quadratics.
    *
    * @return (id, n_occurrences, first_pos) per matching doc —
    *         positions are 0-based token offsets. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrase: String): DataFrame = {
    val words = phrase.trim.split("\\s+").toSeq
    require(words.length >= 2, "phraseSearch needs a multi-word phrase")
    val pos = df
      .select(col(idCol).as("id"), posexplode(toks(col(textCol))).as(Seq("p", "term")))
      .filter(col("term").isin(words: _*))
      .cache()
    val anchors = words.zipWithIndex.tail.foldLeft(
      pos.filter(col("term") === words.head).select(col("id"), col("p"))) {
      case (acc, (w, i)) =>
        acc.join(pos.filter(col("term") === w)
            .select(col("id").as("_id"), (col("p") - i).as("_p")),
          col("id") === col("_id") && col("p") === col("_p"))
          .select(col("id"), col("p"))
    }
    anchors.groupBy(col("id"))
      .agg(count(lit(1)).as("n_occurrences"), min(col("p")).as("first_pos"))
  }

  /** Fixed-size overlapping character chunks — the RAG/embedding
    * pre-processing step (split each document into `chunkSize`-char
    * windows advancing by `stride`, so consecutive chunks share
    * `chunkSize − stride` chars of context). Chunk count is
    * 1 + ⌈(len − chunkSize)/stride⌉ (one chunk when the text fits),
    * so every character is covered and only the final chunk may be
    * short. Pure narrow work: a per-row transform + posexplode, no
    * shuffle at all — at 100 TB this pipelines straight from the scan
    * into the downstream embed/write stage, output rows ≈ len/stride per
    * doc. Output: (id, chunk_id, chunk, chunk_len). */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int = 200, stride: Int = 150): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      "need 1 <= stride <= chunkSize")
    val len = length(col(textCol))
    val nChunks = when(len <= chunkSize, lit(1L)).otherwise(
      lit(1L) + ceil((len - chunkSize).cast("double") / stride).cast("long"))
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0L), nChunks - 1),
          i => col(textCol).substr((i * stride).cast("int") + lit(1),
            lit(chunkSize)))).as(Seq("chunk_id", "chunk")))
      .select(col(idCol), col("chunk_id").cast("int").as("chunk_id"),
        col("chunk"), length(col("chunk")).as("chunk_len"))
  }

  /** DELTA-ENCODED POSTING LISTS — the inverted-index compression
    * layout (gap + varint, the Lucene/PForDelta family): per term,
    * sorted doc ids become first-id-then-gaps, and the varint byte
    * cost quantifies the compression a real index would realize
    * (frequent terms → dense postings → tiny gaps → ~1 byte/doc vs 8
    * raw). Byte sizes via an integer threshold ladder (128, 2^14,
    * 2^21, 2^28) — no log2, no libm boundary risk.
    *
    * One distinct (term, doc) shuffle; the gap window runs per term
    * over its posting list (vocab-keyed, never a global sort).
    *
    * @return (term, doc_freq, gaps, varint_bytes, raw_bytes, ratio9). */
  def deltaPostings(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val td = df.select(col(idCol).cast("long").as("doc"),
        explode(toks(col(textCol))).as("term"))
      .filter(col("term") =!= "").distinct()
    val w = Window.partitionBy(col("term")).orderBy(col("doc"))
    val g = td
      .withColumn("gap",
        col("doc") - coalesce(lag(col("doc"), 1).over(w), lit(0L)))
      .withColumn("vb",
        when(col("gap") < 128, 1L).when(col("gap") < 16384, 2L)
          .when(col("gap") < 2097152, 3L)
          .when(col("gap") < 268435456, 4L).otherwise(5L))
    g.groupBy(col("term"))
      .agg(count(lit(1)).as("doc_freq"),
        array_join(transform(array_sort(collect_list(
            struct(col("doc"), col("gap").cast("string").as("g")))),
          e => e.getField("g")), ",").as("gaps"),
        sum(col("vb")).as("varint_bytes"))
      .withColumn("raw_bytes", col("doc_freq") * 8)
      .withColumn("ratio9", round(col("varint_bytes").cast("double") /
        col("raw_bytes").cast("double"), 9))
  }

  /** Document-level co-occurrence with pointwise mutual information:
    * for every unordered token pair present together in ≥ `minPairDocs`
    * documents, PMI = ln(N·c_ab / (c_a·c_b)) over document frequencies
    * (presence, not multiplicity). The classic phrase-mining /
    * embedding-evaluation statistic. Cost: per-doc distinct-token
    * self-join — quadratic in per-DOC vocabulary (bounded, typically
    * ≤ a few hundred), never in corpus size; one shuffle on doc id +
    * one on the pair. ln rounded to 9 decimals (cross-engine libm).
    * Driver state: only the O(1) corpus count N (same pattern as
    * TfIdf.idf — a literal beats a nested-loop scalar join). */
  def coOccurrencePmi(df: DataFrame, idCol: String, textCol: String,
                      minPairDocs: Long = 2L): DataFrame = {
    // the tokenize-explode is the dominant cost and feeds three
    // consumers (doc freq + both self-join sides) — cache it rather
    // than re-running the regex split per consumer; reclaimed by
    // util.Caches.clearAll like every per-call cache in this module
    val td = df.select(col(idCol).as("doc"),
        explode(array_distinct(toks(col(textCol)))).as("tok"))
      .filter(col("tok") =!= "")
      .cache()
    val docFreq = td.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val pairs = td.as("a")
      .join(td.as("b"), col("a.doc") === col("b.doc") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairDocs)
    val n = df.count()
    pairs
      .join(docFreq.select(col("tok").as("tok_a"), col("c").as("c_a")), "tok_a")
      .join(docFreq.select(col("tok").as("tok_b"), col("c").as("c_b")), "tok_b")
      .select(col("tok_a"), col("tok_b"), col("c_ab"),
        round(log(lit(n.toDouble) * col("c_ab").cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double"))), 9).as("pmi"))
  }

  /** Okapi BM25 term-document scores — the lexical-retrieval baseline
    * every RAG/training-data pipeline keeps next to its embeddings.
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)), rounded to 9 decimals
    * BEFORE use (ln is the only non-correctly-rounded op; everything
    * after is IEEE-exact in any engine). Shapes: tf/dl in one
    * (doc, term) aggregation, df in one term aggregation — two
    * key-shuffles; driver state = the O(1) scalars N and Σdl (same
    * pattern as TfIdf.idf — literals beat a nested-loop scalar join). */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // cache the tokenize-explode (three consumers: tf, dl, Σdl);
    // reclaimed by util.Caches.clearAll like this module's other
    // per-call caches
    val tok = df.select(col(idCol).as("doc"), explode(toks(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .cache()
    // tf feeds TWO consumers (the df aggregation and the final score
    // join) — unsnapshotted, the O(nnz) (doc, term) aggregation over
    // the token cache ran twice per bm25 call (round-12, guide §2.4);
    // staged so lineage is kept (recompute-on-loss at scale)
    val tf = graft.util.Snapshots.stage(
      tok.groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf")))
    val dl = tok.groupBy(col("doc")).agg(count(lit(1)).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.count()
    val sumDl = tok.count() // Σ per-doc lengths = total token count; materializes the cache
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val idf = round(log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5)), 9)
    tf.join(dl, "doc")
      .join(dfreq, "term")
      .select(col("doc"), col("term"), col("tf"),
        round(idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * col("dl").cast("double") / lit(avgdl))), 9)
          .as("score"))
  }

  /** Bigram language-model scoring — the CCNet-style perplexity
    * quality filter: train an add-one-smoothed bigram LM on the corpus
    * itself, score each document by its mean log-likelihood per bigram
    * (low = boilerplate/templated, high = fluent; the filtering
    * statistic is monotone in perplexity, without the cross-engine
    * `exp`). P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V).
    *
    * Determinism: each bigram's ln is rounded 9-dec (the one
    * non-correctly-rounded op), the per-doc mean rides an exact
    * scaled-long sum ([[graft.util.Exact.avgExact]]) so partial-sum
    * order never matters. Scale shape: bigrams extracted NARROW
    * (explode of an index sequence + element_at — no window shuffle,
    * no interpreted HOF in the hot path), then two count aggregations
    * (pair key, head key) and two shuffle joins back; V and nothing
    * else is an O(1) driver scalar. Bigram table cached across its
    * four consumers, reclaimed by util.Caches.clearAll. */
  /** Derandomized WEIGHTED sampling (Efraimidis–Spirakis exponential
    * race): item i wins with probability ∝ weight_i, ranked by
    * key_i = −ln(u_i)/w_i with u_i a uniform draw — here derived from
    * the portable 60-bit md5 of the item id instead of an RNG, so the
    * sample is reshuffle-stable, engine-reproducible, and needs no
    * seed state (the weighted sibling of [[stratifiedSample]]'s
    * md5-threshold trick). ln is rounded 9-dec (the one
    * non-correctly-rounded op); everything else — the (h+1)→double
    * conversion, the 2⁻⁶⁰ scale, the /w division — is IEEE-exact in
    * any engine, so the oracle replays the full race bit-for-bit.
    * Scale shape: one window shuffle on the stratum key; at extreme
    * per-stratum cardinality swap the window for per-partition top-k
    * heaps (TopK.perGroup) — same keys, same result. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     strataCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = expr(
      s"cast(conv(substring(md5(cast($idCol as string)), 1, 15), 16, 10) as bigint)")
    val key = (-round(log((h + lit(1L)).cast("double") /
      lit(1152921504606846976.0)), 9)) / col(weightCol).cast("double")
    val w = Window.partitionBy(col(strataCol)).orderBy(col("skey"), col(idCol))
    df.filter(col(weightCol) > 0)
      .withColumn("skey", key)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(strataCol), col("rk"), col(idCol), col("skey"))
  }

  /** Hashing-trick (feature-hashing) vectorizer — fixed-`dim` sparse
    * token-count vectors with NO dictionary: bucket = portable
    * 60-bit md5 hash mod dim (the same engine-agnostic hash as the
    * q98 SimHash — Spark `conv(substr(md5,1,15),16,10)` == DuckDB
    * `CAST('0x'||substr(md5,1,15) AS BIGINT)`). The streaming-friendly
    * alternative to [[graft.text.Dictionary]]'s dense ids: no global
    * vocabulary state, any shard can vectorize independently, and two
    * engines agree bucket-for-bucket. Output serializes the sparse
    * vector as zero-padded "bucket:count" pairs (string sort ==
    * numeric sort for dim ≤ 100) for the cross-engine hash.
    * Shape: one narrow tokenize-explode, one (doc,bucket) shuffle,
    * one doc shuffle — no driver state at all. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
                  dim: Int = 64): DataFrame = {
    require(dim >= 1 && dim <= 100, "pad width fixed for dim <= 100")
    val tok = df.select(col(idCol).as("doc"), explode(toks(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    tok
      .withColumn("bucket",
        pmod(expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"),
          lit(dim.toLong)))
      .groupBy(col("doc"), col("bucket")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc"))
      .agg(array_join(array_sort(collect_list(
          format_string("%02d:%d", col("bucket"), col("cnt")))), ",")
          .as("features"),
        sum(col("cnt")).as("n_tokens"))
  }

  def perplexityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withArr = df.select(col(idCol).as("doc"), toks(col(textCol)).as("arr"))
    val bi = withArr.where(size(col("arr")) >= 2)
      .select(col("doc"),
        explode(expr("sequence(1, size(arr) - 1)")).as("i"), col("arr"))
      .select(col("doc"), element_at(col("arr"), col("i")).as("w1"),
        element_at(col("arr"), col("i") + 1).as("w2"))
      .cache()
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = withArr.select(explode(col("arr")).as("tok")).distinct().count()
    bi.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("lp", round(log((col("c12") + 1).cast("double") /
        (col("c1") + lit(v)).cast("double")), 9))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.util.Exact.avgExact(col("lp"), 9).as("avg_logp"))
  }

  /** Gopher/C4-style document quality RULE SUITE — the keep/drop
    * decision a pretraining ingest applies, with one flag column per
    * rule so filter composition stays auditable (which rule killed a
    * doc is a first-class question at corpus scale). Rules (classic
    * pretraining-filter families, thresholds tuned to this corpus):
    *
    *  - `ok_len`:     token count within [minTokens, maxTokens]
    *  - `ok_wordlen`: mean word length within [minMeanLen, maxMeanLen]
    *  - `ok_top`:     most-frequent-word fraction ≤ maxTopFrac
    *                  (boilerplate/keyword-stuffing detector)
    *  - `ok_bigram`:  duplicated-bigram fraction ≤ maxDupBigramFrac
    *                  (repetition detector)
    *  - `ok_stop`:    contains ≥1 stop word (natural-language check)
    *
    * All statistics come from ONE tokenize-explode pass: per-(doc,term)
    * counts roll up to token/distinct/top-word/char totals, a lead()
    * window over token positions yields bigram repetition. Ratios are
    * int/int double divisions — deterministic cross-engine. Flags are
    * 0/1 longs; `keep` is their conjunction. Scale: two key-shuffles
    * (term-grid and doc), both with partial aggregation; no data path
    * touches the driver. */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Long = 30, maxTokens: Long = 90,
                    minMeanLen: Double = 4.0, maxMeanLen: Double = 5.0,
                    maxTopFrac: Double = 0.12,
                    maxDupBigramFrac: Double = 0.06,
                    stopWords: Seq[String] = Seq("the", "a")): DataFrame = {
    val tok = df.select(col(idCol).as("qf_id"),
        posexplode(toks(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    val tf = tok.groupBy(col("qf_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val stats = tf.groupBy(col("qf_id")).agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max(col("cnt")).as("top_cnt"),
      sum(length(col("term")).cast("long") * col("cnt")).as("n_chars"),
      sum(when(col("term").isin(stopWords.map(lit(_)): _*), col("cnt"))
        .otherwise(0L)).as("stop_cnt"))
    val w = Window.partitionBy(col("qf_id")).orderBy(col("pos"))
    val bi = tok
      .withColumn("nxt", lead(col("term"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("qf_id"), concat_ws(" ", col("term"), col("nxt")).as("bg"))
      .groupBy(col("qf_id"), col("bg")).agg(count(lit(1)).as("bcnt"))
      .groupBy(col("qf_id")).agg(sum(col("bcnt")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"))
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    stats.join(bi, Seq("qf_id"), "left")
      .select(col("qf_id").as(idCol), col("n_tokens"),
        (col("n_chars").cast("double") / col("n_tokens").cast("double"))
          .as("mean_word_len"),
        (col("top_cnt").cast("double") / col("n_tokens").cast("double"))
          .as("top_word_frac"),
        (coalesce(col("n_bigrams") - col("n_distinct_bigrams"), lit(0L))
          .cast("double") / coalesce(col("n_bigrams"), lit(1L)).cast("double"))
          .as("dup_bigram_frac"))
      .withColumn("ok_len",
        flag(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens))
      .withColumn("ok_wordlen", flag(col("mean_word_len") >= minMeanLen &&
        col("mean_word_len") <= maxMeanLen))
      .withColumn("ok_top", flag(col("top_word_frac") <= maxTopFrac))
      .withColumn("ok_bigram", flag(col("dup_bigram_frac") <= maxDupBigramFrac))
      .join(stats.select(col("qf_id").as(idCol),
        flag(col("stop_cnt") >= 1).as("ok_stop")), Seq(idCol))
      .withColumn("keep", col("ok_len") * col("ok_wordlen") * col("ok_top") *
        col("ok_bigram") * col("ok_stop"))
  }

  /** Deterministic DOMAIN-MIXTURE sampler: allocate exactly `total`
    * rows across groups proportionally to an integer per-group weight,
    * using the largest-remainder (Hamilton) method — the standard way a
    * pretraining pipeline hits a target corpus mix (e.g. "books 30%,
    * web 60%, code 10%") with EXACT counts, no RNG state, stable under
    * reshuffling. Within a group, rows are chosen by md5-rank (the
    * q54-family derandomized-sampling trick).
    *
    * Arithmetic is all-integer: base_g = ⌊total·w_g/Σw⌋ via long
    * division, remainder rank = (total·w_g mod Σw) desc, group asc —
    * bit-reproducible in any engine. Scale: group stats are O(groups)
    * (a window over the tiny group list), selection is one md5-rank
    * window shuffle over the data; allocations broadcast back. */
  def mixtureSample(df: DataFrame, groupCol: String, idCol: String,
                    weightCol: Column, total: Long): DataFrame = {
    val g = df.groupBy(col(groupCol)).agg(first(weightCol).as("w"))
    val wAll = Window.partitionBy()
    val wRem = Window.partitionBy()
      .orderBy(col("rem").desc, col(groupCol))
    val alloc = g.withColumn("wsum", sum(col("w")).over(wAll))
      .withColumn("base", expr(s"(CAST($total AS BIGINT) * w) div wsum"))
      .withColumn("rem", lit(total) * col("w") - col("base") * col("wsum"))
      .withColumn("leftover", lit(total) - sum(col("base")).over(wAll))
      .withColumn("extra",
        when(row_number().over(wRem) <= col("leftover"), 1L).otherwise(0L))
      .select(col(groupCol), (col("base") + col("extra")).as("alloc"))
    val wSel = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.select(col(groupCol), col(idCol))
      .withColumn("sel_rk", row_number().over(wSel).cast("long"))
      .join(broadcast(alloc), Seq(groupCol))
      .filter(col("sel_rk") <= col("alloc"))
      .select(col(groupCol), col(idCol), col("sel_rk"), col("alloc"))
  }

  /** Deterministic SHUFFLED-SHARD writer assignment — the last step of
    * a training-corpus build: give every row a pseudorandom global
    * position (order by md5(id) — reshuffle-stable, no RNG state) and
    * deal positions round-robin into `nShards` EXACTLY balanced shards
    * (sizes differ by ≤1). Downstream: `write.partitionBy("shard")`.
    *
    * Scale shape: the global order is a RANGE-partitioned distributed
    * sort + per-partition `zipWithIndex` offsets (one lightweight
    * count job) — the q96 dense-id machinery, NO single-partition
    * window. Output: (id, gpos, shard, shard_pos). */
  /** T5-STYLE SPAN CORRUPTION (Raffel et al. 2020 §3.1.4's denoising
    * objective) — the (inputs, targets) pair builder for masked-span
    * pretraining, DERANDOMIZED: token positions partition into
    * fixed-size blocks, each COMPLETE block masks one `spanLen`-run
    * at an offset drawn from the portable md5 of (doc, block) — so
    * spans never overlap by construction, the corruption rate is
    * spanLen/blockLen exactly, and every engine regenerates the
    * identical pairs (no RNG state to checkpoint across a 100 TB
    * run). Masked runs are replaced by `<extra_id_{block}>` sentinels
    * in the input and emitted after their sentinel in the target —
    * the standard seq2seq denoising layout.
    *
    * Shape: one tokenize-explode, one (doc, block) count, one join,
    * two conditional ordered-collect aggregations. All narrow past
    * the first shuffle.
    *
    * @return (id, n_tok, n_masked, input, target). */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
                  blockLen: Int = 10, spanLen: Int = 2): DataFrame = {
    require(spanLen >= 1 && blockLen > spanLen,
      "need spanLen < blockLen")
    val offMod = blockLen - spanLen + 1
    val tok = df.select(col(idCol).as("id"),
        posexplode(toks(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("block", expr(s"pos div $blockLen"))
    val spans = tok.groupBy(col("id"), col("block"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("mstart",
        when(col("bn") === blockLen,
          col("block") * blockLen + expr(
            "cast(conv(substring(md5(concat(id, ':', block)), 1, 6), " +
              s"16, 10) as bigint) % $offMod")))
    val parts = tok.join(spans, Seq("id", "block"))
      .withColumn("masked", col("mstart").isNotNull &&
        col("pos") >= col("mstart") && col("pos") < col("mstart") + spanLen)
      .withColumn("sent", concat(lit("<extra_id_"), col("block"), lit(">")))
      .withColumn("in_part",
        when(!col("masked"), col("tok"))
          .when(col("pos") === col("mstart"), col("sent")))
      .withColumn("tgt_part",
        when(col("pos") === col("mstart"),
          concat(col("sent"), lit(" "), col("tok")))
          .when(col("masked"), col("tok")))
    parts.groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("masked").cast("long")).as("n_masked"),
        array_join(transform(array_sort(collect_list(
            when(col("in_part").isNotNull,
              struct(col("pos"), col("in_part").as("p"))))),
          e => e.getField("p")), " ").as("input"),
        array_join(transform(array_sort(collect_list(
            when(col("tgt_part").isNotNull,
              struct(col("pos"), col("tgt_part").as("p"))))),
          e => e.getField("p")), " ").as("target"))
  }

  /** PADDING-WASTE REPORT — what length-sorted batching saves: the
    * same docs batched (a) in arrival (id) order and (b) sorted by
    * token length, each padded to its batch max (what a fixed-shape
    * training step actually allocates). Sorted batching puts like
    * lengths together, collapsing the padded-token overhead — the
    * standard batching optimization, here QUANTIFIED so the data
    * team can see the step-time it buys. Global orders via the q129
    * sort+zipWithIndex machinery (no single-partition window).
    *
    * @return one row per strategy: (strategy, n_batches,
    *         total_tokens, padded_tokens, waste_ratio9). */
  def paddingWaste(df: DataFrame, idCol: String, textCol: String,
                   batchSize: Int = 32): DataFrame = {
    require(batchSize >= 1, "batchSize must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val lens = df.select(col(idCol).cast("long").as("id"),
      size(toks(col(textCol))).cast("long").as("len"))
    def run(strategy: String, ordered: DataFrame): DataFrame =
      ordered.rdd.map(r => r.getLong(1))
        .zipWithIndex()
        .map { case (len, i) => (i / batchSize, len) }
        .toDF("batch", "len")
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("bn"), max(col("len")).as("mx"),
          sum(col("len")).as("s"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("s")).as("total_tokens"),
          sum(col("bn") * col("mx")).as("padded_tokens"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("total_tokens"), col("padded_tokens"),
          round((col("padded_tokens") - col("total_tokens")).cast("double") /
            col("padded_tokens").cast("double"), 9).as("waste_ratio9"))
    run("arrival", lens.orderBy(col("id")))
      .unionByName(run("sorted", lens.orderBy(col("len"), col("id"))))
  }

  /** NEXT-TOKEN TRAINING WINDOWS — the token-level LM dataset builder
    * ([[chunkDocuments]]'s char-level sibling): overlapping contexts
    * of `ctx` tokens at the given stride, each labeled with the token
    * that follows. Pure narrow generation (one HOF over the token
    * array per doc, no join, no window shuffle); windows never cross
    * document boundaries.
    *
    * @return (id, win_id, start, context, target). */
  def lmWindows(df: DataFrame, idCol: String, textCol: String,
                ctx: Int = 8, stride: Int = 4): DataFrame = {
    require(ctx >= 1 && stride >= 1, "need positive ctx and stride")
    val t = df.select(col(idCol).as("id"), toks(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")))
      .filter(col("n") > ctx)
      .withColumn("nwin",
        ((col("n") - ctx - 1) / stride).cast("long") + 1)
    t.select(col("id"),
        posexplode(transform(sequence(lit(0L), col("nwin") - 1),
          i => struct((i * stride).as("start"),
            array_join(slice(col("tk"), (i * stride).cast("int") + 1,
              lit(ctx)), " ").as("context"),
            element_at(col("tk"), (i * stride).cast("int") + ctx + 1)
              .as("target")))).as(Seq("win_id", "w")))
      .select(col("id").as(idCol), col("win_id").cast("long").as("win_id"),
        col("w.start").as("start"), col("w.context").as("context"),
        col("w.target").as("target"))
  }

  /** CONTRASTIVE PAIR CONSTRUCTION — (anchor, positive, negative)
    * triples for embedding training (the SimCSE/DPR data shape):
    * positive = the next non-overlapping chunk of the same document
    * (adjacent text shares topic), negative = the chunk that follows
    * the anchor in GLOBAL md5 order (cyclic successor — a
    * derandomized shuffle, so negatives are topic-uncorrelated and
    * reshuffle-stable with zero RNG state; at hash-adjacency odds a
    * same-doc negative is possible and accepted). Global order =
    * distributed sort + zipWithIndex (q129's machinery), one
    * successor self-join.
    *
    * @return (id, chunk_id, anchor, positive, neg_key, negative). */
  def contrastivePairs(df: DataFrame, idCol: String, textCol: String,
                       chunkChars: Int = 100): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val chunks = chunkDocuments(df, idCol, textCol, chunkChars, chunkChars)
      .select(col(idCol).cast("long").as("id"),
        col("chunk_id").cast("long").as("cid"), col("chunk"))
    val keyed = chunks
      .withColumn("key", concat(col("id"), lit(":"), col("cid")))
      .withColumn("h", md5(col("key")))
    val ordered = keyed.select(col("key"), col("h"))
      .orderBy(col("h"), col("key"))
      .rdd.map(_.getString(0)).zipWithIndex()
      .toDF("key", "gpos")
    // materialize the keyed+positioned chunk table once, then derive
    // every role through FRESH aliases — self-joins on shared lineage
    // degenerate ('id == id' trivially-true resolution)
    val g = keyed.join(ordered, Seq("key"))
      .select(col("id").as("a_id"), col("cid").as("a_cid"),
        col("chunk").as("a_chunk"), col("key").as("a_key"),
        col("gpos").as("a_gpos"))
      .cache()
    val n = g.count()
    // row at gpos p serves as the negative for the anchor at p−1
    // (cyclically): anchor.gpos === sp ⇒ negative.gpos = anchor.gpos+1
    val succ = g.select(((col("a_gpos") + n - 1) % n).as("sp"),
      col("a_key").as("neg_key"), col("a_chunk").as("negative"))
    val pos = g.select(col("a_id").as("p_id"),
      (col("a_cid") - 1).as("p_cid"), col("a_chunk").as("positive"))
    g.join(pos, col("a_id") === col("p_id") && col("a_cid") === col("p_cid"))
      .join(succ, col("a_gpos") === col("sp"))
      .select(col("a_id").as(idCol), col("a_cid").as("chunk_id"),
        col("a_chunk").as("anchor"), col("positive"), col("neg_key"),
        col("negative"))
  }

  def shardAssign(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, "need at least one shard")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col(idCol))
      .rdd.map(_.getLong(0))
      .zipWithIndex()
      .map { case (id, pos) =>
        (id, pos, pos % nShards, pos / nShards) }
      .toDF(idCol, "gpos", "shard", "shard_pos")
  }

  /** DSIR-style domain selection (Xie et al. 2023, arXiv:2302.03169,
    * "Data Selection for Language Models via Importance Resampling"):
    * rank every raw document by how much more likely its hashed-
    * unigram bag is under a TARGET domain's token distribution than
    * under the raw pool's, then flag the top `select`. Features are
    * the [[featureHash]] hashing-trick buckets (portable md5 % dim);
    * both distributions are add-one-smoothed bucket frequencies
    * estimated in ONE aggregate pass (c_raw = all tokens, c_tgt =
    * tokens of docs matching `targetPred`); a document's log
    * importance weight is Σ_tokens ln(p_tgt(b)/p_raw(b)), each
    * bucket's log-ratio rounded to 9 decimals once (cross-engine
    * libm) and summed as scaled longs (order-independent — exact).
    * Selection = deterministic top-`select` by (weight desc, id):
    * importance *resampling* derandomized the same way the q113
    * weighted sampler is.
    *
    * Scale shape: the bucket model is O(dim) rows — a broadcast join
    * onto the token stream, never a shuffle of it; everything else is
    * the q110 plan (narrow tokenize-explode → (doc,bucket) partial
    * agg → doc rollup), and the selection boundary is a TakeOrdered
    * top-k joined back, not a global window. Driver state: the two
    * O(1) total-token counts (the TfIdf.idf literal pattern).
    * Output: (id, n_tok, logw, selected). */
  def dsirScore(df: DataFrame, idCol: String, textCol: String,
                targetPred: Column, dim: Int = 64,
                select: Int = 100): DataFrame = {
    val tok = df
      .select(col(idCol).as("doc"), targetPred.cast("long").as("tgt"),
        explode(toks(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("bucket",
        pmod(expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"),
          lit(dim.toLong)))
    val cnt = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c_raw"), sum(col("tgt")).as("c_tgt"))
      .cache()
    val (totRaw, totTgt) = {
      val r = cnt.agg(sum(col("c_raw")), sum(col("c_tgt"))).head()
      (r.getLong(0), r.getLong(1))
    }
    // ln of a ratio of EXACT small integers: both factors stay well
    // under 2^53, so the double products and the division are
    // identical in any IEEE engine; only ln needs the round-9 guard.
    val lr = cnt.select(col("bucket"),
      round(log(
        ((col("c_tgt") + 1) * (totRaw + dim)).cast("double") /
          ((col("c_raw") + 1) * (totTgt + dim)).cast("double")), 9).as("lr9"))
    val scored = tok.join(broadcast(lr), "bucket")
      .groupBy(col("doc")).agg(
        count(lit(1)).as("n_tok"),
        graft.util.Exact.sumExact(col("lr9"), 9).as("logw"))
    val picked = scored.orderBy(col("logw").desc, col("doc")).limit(select)
      .select(col("doc"), lit(1).as("hit"))
    scored.join(picked, Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_tok"), col("logw"),
        coalesce(col("hit"), lit(0)).as("selected"))
  }

  /** Per-source DATASET-CARD statistics — the summary table a corpus
    * release publishes per subset (HuggingFace dataset cards, Dolma/
    * RedPajama reports): document count, token totals, and the token-
    * length distribution (max / exact p50 / exact p95). Percentiles go
    * through `percentile_approx` at accuracy ≥ any group size — the
    * mergeable Greenwald–Khanna summary a 100 TB rollup would use,
    * exact in this regime, boundary rule == DuckDB `quantile_disc`
    * (the q104-proven equivalence). ONE narrow tokenize pass + one
    * partial-agg shuffle on source; no percentile re-sort. */
  def sourceStats(df: DataFrame, sourceCol: String,
                  textCol: String): DataFrame =
    df.select(col(sourceCol).as("source"),
        size(toks(col(textCol))).cast("long").as("n_tok"),
        length(col(textCol)).cast("long").as("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_total"),
        max(col("n_tok")).as("tok_max"),
        expr("percentile_approx(n_tok, 0.5, 1000000)").cast("long")
          .as("tok_p50"),
        expr("percentile_approx(n_tok, 0.95, 1000000)").cast("long")
          .as("tok_p95"),
        sum(col("n_chars")).as("char_total"))

  /** Vocabulary-growth curve (Heaps'-law diagnostic): ingestion order
    * is bucketed into batches of `bucketSize` docs, and each batch
    * reports its token volume, the count of never-before-seen terms,
    * and the cumulative vocabulary — the curve a corpus build watches
    * to spot staleness (vocab_new collapsing ⇒ the source is mined
    * out) or contamination (a vocab_new spike ⇒ new domain mixed in).
    * Shape: one narrow tokenize pass, a term-keyed first-seen
    * aggregate (min bucket — monotone in ingestion order), a bucket
    * rollup, then an O(batches) running sum — the only unpartitioned
    * window sits on the ALREADY-AGGREGATED batch table (≤ corpus/
    * bucketSize rows), never the data. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
                  bucketSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(
      expr(s"cast($idCol as bigint) div $bucketSize").as("bucket"),
      explode(toks(col(textCol))).as("tok"))
    val perB = tok.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    val nw = tok.groupBy(col("tok")).agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb").as("bucket")).agg(count(lit(1)).as("vocab_new"))
    perB.join(nw, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("vocab_new"), lit(0L)).as("vocab_new"))
      .withColumn("vocab_cum",
        sum(col("vocab_new")).over(Window.orderBy(col("bucket"))))
  }

  /** Unigram Shannon entropy per document — the information-density
    * quality signal (template/keyword-stuffed docs score low even when
    * q124's coarser top-word and dup-bigram rules pass):
    * H = −Σ_t (c_t/N)·ln(c_t/N). Per-term ln is round-9 (the standing
    * cross-engine libm guard), the Σ c_t·ln9 accumulation is an exact
    * long sum, and the single final division is one deterministic
    * IEEE op — so the scores hash cross-engine (the q108 discipline).
    * Two key-shuffles ((doc,term) grid then doc), both partial-agg;
    * N rides the grouping key from the narrow pass (no totals join). */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // tokenize ONCE (round-11, guide §4): `size(toks)` beside
    // `explode(toks)` ran the regex split twice per document —
    // materializing the array in a lower project halves the split
    // work (CollapseProject keeps the alias: it is non-cheap and
    // referenced twice, and the Generate blocks collapse anyway)
    df.select(col(idCol), toks(col(textCol)).as("arr"))
      .select(col(idCol), size(col("arr")).cast("long").as("n_tok"),
        explode(col("arr")).as("tok"))
      .groupBy(col(idCol), col("n_tok"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .withColumn("lnp9", graft.util.Exact.scaled(
        round(log(col("c").cast("double") / col("n_tok").cast("double")), 9), 9))
      .groupBy(col(idCol), col("n_tok"))
      .agg(sum(-col("c") * col("lnp9")).as("ent_sum9"))
      .select(col(idCol), col("n_tok"), col("ent_sum9"),
        (col("ent_sum9").cast("double") / (col("n_tok") * lit(1000000000L)))
          .as("ent"))

  /** CHI-SQUARE FEATURE SELECTION (the classic text-classification
    * term ranking — Yang & Pedersen 1997): per class, the top terms
    * whose document-presence is most positively associated with the
    * class, scored by the 2×2 contingency statistic
    * χ²(t, c) = N·(AD−BC)² / ((A+B)(C+D)(A+C)(B+D)) with
    * A = docs of class c containing t, B = other-class docs containing
    * t, C/D their complements. Doubles as the categorical drift test
    * beside [[graft.ops.MlEval]]'s KS (continuous) leg.
    *
    * Determinism: A..D are exact integer aggregates; AD−BC fits a
    * long exactly up to ~3·10⁹ docs (and a double exactly to 2^53),
    * so χ² is a FIXED parenthesization of long→double conversions,
    * IEEE multiplies, and one division — identical bits on any
    * engine; round-9 for presentation. The integer contingency rides
    * along so the oracle pins the whole state.
    *
    * Scale: one narrow tokenize pass (array_distinct, no per-token
    * shuffle) → one (term, class) agg → one (term) agg for the
    * A+B margin; the per-class doc counts are a broadcast-sized
    * table and N is the one O(1) driver scalar (the TfIdf.idf
    * literal pattern). Final top-k is a per-class keyed window.
    * Ids must be unique per row (a doc table, not a log).
    *
    * @return (cls, tok, a, b, c, d, chi2_9, rk) — topK rows per
    *         class, positively-associated terms only, ranked by
    *         (chi2_9 DESC, tok ASC). */
  def chiSquareSelect(df: DataFrame, idCol: String, textCol: String,
                      classCol: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, "topK must be positive")
    val docs = df.select(col(idCol).as("id"), col(classCol).as("cls"),
      col(textCol).as("text"))
    val nTotal = docs.count()
    val classDocs = docs.groupBy(col("cls")).agg(count(lit(1)).as("n_c"))
    val docTerm = docs.select(col("cls"),
      explode(array_distinct(toks(col("text")))).as("tok"))
    val aTbl = docTerm.groupBy(col("tok"), col("cls"))
      .agg(count(lit(1)).as("a"))
    val abTbl = aTbl.groupBy(col("tok")).agg(sum(col("a")).as("ab"))
    val grid = aTbl.join(abTbl, Seq("tok"))
      .join(broadcast(classDocs), Seq("cls"))
      .select(col("cls"), col("tok"), col("a"),
        (col("ab") - col("a")).as("b"),
        (col("n_c") - col("a")).as("c"),
        (lit(nTotal) - col("n_c") - (col("ab") - col("a"))).as("d"))
      .filter(col("a") * col("d") > col("b") * col("c"))
    val diff = (col("a") * col("d") - col("b") * col("c")).cast("double")
    val chi2 = (lit(nTotal).cast("double") * diff * diff) /
      ((col("a") + col("b")).cast("double")
        * (col("c") + col("d")).cast("double")
        * (col("a") + col("c")).cast("double")
        * (col("b") + col("d")).cast("double"))
    grid.withColumn("chi2_9", round(chi2, 9))
      .withColumn("rk", row_number().over(Window.partitionBy(col("cls"))
          .orderBy(col("chi2_9").desc, col("tok"))).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("cls"), col("tok"), col("a"), col("b"), col("c"),
        col("d"), col("chi2_9"), col("rk"))
      .orderBy(col("cls"), col("rk"))
  }

  /** GREEDY MAX-COVERAGE document selection (the submodular
    * facility-location family from the data-pruning literature): pick
    * `k` documents, each maximizing the count of vocabulary tokens no
    * earlier pick covers — the classic (1−1/e)-approximation to the
    * NP-hard optimum, made oracle-checkable by the deterministic
    * (gain DESC, id ASC) tie-break.
    *
    * Greedy is inherently sequential in k, so the loop is k driver
    * rounds — but each round is fully distributed: one anti join
    * against the covered set (bounded by vocabulary, not corpus) +
    * one per-doc count + a TakeOrdered(1) argmax whose driver state is
    * ONE row (the BpeTrainer discipline). Fully-covered docs drop out
    * of the gains frame naturally (no uncovered tokens ⇒ no rows), so
    * already-selected docs can never repeat.
    *
    * @return (sel_rank, id, gain) — k rows (fewer if coverage
    *         saturates first). */
  def greedyCoverage(df: DataFrame, idCol: String, textCol: String,
                     k: Int, shingleN: Int = 3): DataFrame = {
    require(k >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    // coverage units are word n-gram shingles (the q25–q27 kernel) —
    // this corpus's UNIGRAM vocabulary is a few dozen template words,
    // which one document covers entirely; the shingle space is where
    // coverage selection has something to optimize
    val tok = Dedup.withShingles(
        df.select(col(idCol).cast("long").as("id"), col(textCol).as("_txt")),
        "_txt", shingleN)
      .select(col("id"), explode(col("shingles")).as("tok"))
      // the shingle kernel emits one TRUNCATED shingle for docs
      // shorter than n tokens (pinned to the HOF reference chain);
      // coverage counts only FULL n-token units so the unrolled SQL
      // oracle — whose lead()-built shingles drop short docs — states
      // the same selection for ANY input, not just the current corpus
      .filter(size(split(col("tok"), " ")) === shingleN)
      .distinct().cache()
    tok.count()
    var covered = spark.emptyDataset[String].toDF("tok")
    val sel = scala.collection.mutable.Buffer.empty[(Long, Long, Long)]
    var persisted: DataFrame = null
    var saturated = false
    for (r <- 1 to k if !saturated) {
      val cov = covered.cache()
      cov.count()
      if (persisted != null) persisted.unpersist(blocking = false)
      persisted = cov
      // covered is bounded by the k selected docs' shingle sets —
      // broadcast the anti side so the corpus shingle table never
      // shuffles per round (guide §3.1; k·|doc| entries by construction)
      val top = tok.join(broadcast(cov), Seq("tok"), "left_anti")
        .groupBy(col("id")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("id")).limit(1)
        .collect()
      if (top.isEmpty) saturated = true
      else {
        val (id, gain) = (top(0).getLong(0), top(0).getLong(1))
        sel += ((r.toLong, id, gain))
        covered = cov.union(
          tok.filter(col("id") === id).select(col("tok"))).distinct()
        // Graph.scala checkpoint policy (see LineageGuard): the
        // union-distinct chain grows one plan level per round; cut
        // the lineage every N rounds so planning stays linear in k.
        if (r % graft.util.LineageGuard.CheckpointEvery == 0)
          covered = covered.localCheckpoint(true)
        graft.util.LineageGuard.record("greedyCoverage", covered)
      }
    }
    tok.unpersist(blocking = false)
    if (persisted != null) persisted.unpersist(blocking = false)
    sel.toSeq.toDF("sel_rank", "id", "gain")
  }

  /** Interpolated KNESER–NEY smoothed bigram LM (Kneser & Ney 1995;
    * Chen & Goodman 1999's interpolated form) — the n-gram LM that
    * CCNet/Wikipedia-filter pipelines actually train for perplexity
    * scoring, upgrading [[perplexityScore]]'s add-one smoothing with
    * the continuation-probability backoff that makes low-count
    * bigrams behave ("Francisco" is frequent but only ever follows
    * "San" — its unseen-context probability must be tiny):
    * {{{
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1) + λ(w1)·P_cont(w2)
    *   λ(w1)    = D·N1+(w1•)/c(w1)        (mass discounted from w1)
    *   P_cont   = N1+(•w2)/N1+(••)        (distinct-context frequency)
    * }}}
    * With the classic D = 0.75 = 3/4 every term is an exact rational:
    * {{{
    *   num = B·max(4c₁₂ − 3, 0) + 3·t₁·l₂      den = 4·c₁·B
    * }}}
    * (t₁ = continuation types after w1, l₂ = left contexts of w2,
    * B = distinct bigram types). Both engines evaluate ONE IEEE
    * division of identical integers, so the probabilities hash-match;
    * Σ_{w2∈V} P(w2|w1) = 1 exactly in the rationals (unseen bigrams
    * carry num = 3·t₁·l₂), pinned in IngestOpsSpec.
    *
    * Scale: the same narrow bigram explode as [[perplexityScore]],
    * three partial-agg key shuffles (w1w2 grid, w1 stats, w2
    * contexts), B as an O(1) driver literal. No vocabulary-sized
    * state anywhere near the driver.
    *
    * @return (w1, w2, c12, p_num, p_den, p_kn) for bigrams with
    *         c12 ≥ minCount. */
  def kneserNeyBigrams(df: DataFrame, idCol: String, textCol: String,
                       minCount: Long = 5): DataFrame = {
    val withArr = df.select(col(idCol).as("doc"), toks(col(textCol)).as("arr"))
    val bi = withArr.where(size(col("arr")) >= 2)
      .select(explode(expr("sequence(1, size(arr) - 1)")).as("i"), col("arr"))
      .select(element_at(col("arr"), col("i")).as("w1"),
        element_at(col("arr"), col("i") + 1).as("w2"))
      .cache()
    val c12 = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12")).cache()
    val ctx = bi.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"), count_distinct(col("w2")).as("t1"))
    val left = c12.groupBy(col("w2")).agg(count(lit(1)).as("l2"))
    val b = c12.count() // O(1) scalar → literal (the q105 discipline)
    val out = c12.filter(col("c12") >= minCount)
      .join(ctx, Seq("w1"))
      .join(left, Seq("w2"))
      .select(col("w1"), col("w2"), col("c12"),
        (lit(b) * greatest(lit(4) * col("c12") - 3, lit(0L)) +
          lit(3) * col("t1") * col("l2")).as("p_num"),
        (lit(4) * col("c1") * lit(b)).as("p_den"))
      .withColumn("p_kn",
        col("p_num").cast("double") / col("p_den").cast("double"))
    // bi/c12 stay cached for the lazy consumers (ctx/left re-read bi);
    // reclaimed by util.Caches.clearAll like perplexityScore's cache
    out
  }
}
