package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash groupBy), exact n-gram Jaccard (shingle join — the
  * oracle-checkable reference path), and MinHash+LSH (the 100 TB path:
  * shingle → minhash signature → band → bucket join → verify).
  *
  * Scale shape: exact dedup is one shuffle on the content hash; LSH
  * replaces the quadratic all-pairs comparison with `bands` bucket
  * joins whose fan-out is bounded by collision rate — candidate pairs
  * are then verified with exact Jaccard, so false positives cost only
  * compute, never correctness. The all-pairs `exactJaccardPairs` is
  * kept for oracle checks and small corpora; its shingle join explodes
  * quadratically in bucket skew and must not be used at scale.
  */
object Dedup {

  /** Exact duplicate groups: (text_hash, keep_id = min id, n_copies).
    * Content-hash groupBy — one shuffle, fully parallel. */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word `n`-gram shingle set (distinct), as an array column
    * `shingles` — a native one-pass kernel
    * (graft.functions.WordShingles); [[shinglesHof]] is the
    * equivalent built-in HOF chain it replaces (kept as the
    * equivalence-test reference — the chain re-splits and
    * re-allocates per offset and dominated the dedup queries). */
  def withShingles(df: DataFrame, textCol: String, n: Int = 3): DataFrame =
    df.withColumn("shingles",
        graft.functions.VectorFunctions.wordShingles(col(textCol), n))
      .filter(size(col("shingles")) > 0)

  /** Reference semantics of [[withShingles]] in pure built-ins:
    * split → transform over a sequence of start offsets → slice →
    * concat_ws → array_distinct. */
  private[graft] def shinglesHof(textCol: String, n: Int): Column = {
    val toks = split(col(textCol), "\\s+")
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** MinHash signature of the `shingles` column as array<long> `sig`:
    * one xxhash64 per shingle + `numHashes` affine rehashes (universal
    * hashing), minima tracked in a native codegen'd kernel
    * (graft.functions.MinHashSig). One pass, no shuffle. */
  def withMinhashSignature(df: DataFrame, numHashes: Int = 128): DataFrame =
    df.withColumn("sig",
      graft.functions.VectorFunctions.minhashSig(col("shingles"), numHashes))

  /** LSH banding: explode `sig` into `bands` buckets of `rowsPerBand`
    * hashes; docs sharing any (band, key) bucket become candidates.
    * Collision threshold ≈ (1/bands)^(1/rowsPerBand). */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
                        bands: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    val bd = banded(sigs, idCol, bands, rowsPerBand)
    val a = bd.as("a")
    val b = bd.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** LSH band keys of a signature frame: one (band, key) row per band,
    * key = xxhash64 of that band's signature slice — the banding step
    * shared by [[lshCandidatePairs]] (self-join dedup) and
    * [[incrementalNearDupPairs]] (cross-side dedup). */
  private def banded(sigs: DataFrame, idCol: String,
                     bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => xxhash64(slice(col("sig"), j * rowsPerBand + lit(1), lit(rowsPerBand)))))
        .as(Seq("band", "key")))

  /** INCREMENTAL near-dup detection: a new `delta` batch checked
    * against the existing `corpus` WITHOUT re-pairing the corpus with
    * itself — the daily-crawl ingestion shape. Both sides go through
    * the same shingle → minhash → band pipeline as
    * [[nearDuplicatePairs]], but the bucket join is CROSS-SIDE only
    * (corpus × delta), so a batch of Δ docs against an N-doc corpus
    * costs O(Δ + collisions), never O(N²) — and at 100 TB the corpus
    * band table is a STORED index partitioned by (band, key) that the
    * delta's bands probe, the same pay-once layout as the IVF lists
    * (ops/IvfIndex): signature/banding work for the corpus is
    * amortized across every future batch. Survivors are verified with
    * exact Jaccard, so output = exactly the cross-side pairs at
    * `threshold` (given band-collision recall, the q26 argument:
    * at 64 bands × 2 rows a J=0.5 pair collides with p ≈ 1−10⁻⁸).
    *
    * Output: (id_a = corpus id, id_b = delta id, jaccard). Id spaces
    * must be disjoint (enforced by the caller's split). */
  def incrementalNearDupPairs(corpus: DataFrame, delta: DataFrame,
                              idCol: String, textCol: String,
                              threshold: Double = 0.5, shingleN: Int = 3,
                              numHashes: Int = 128, bands: Int = 64,
                              rowsPerBand: Int = 2,
                              estMargin: Double = 0.15): DataFrame = {
    val shC = withShingles(corpus, textCol, shingleN)
    val shD = withShingles(delta, textCol, shingleN)
    val sigC = withMinhashSignature(shC, numHashes).select(col(idCol), col("sig"))
    val sigD = withMinhashSignature(shD, numHashes).select(col(idCol), col("sig"))
    val cands = banded(sigC, idCol, bands, rowsPerBand)
      .select(col("band"), col("key"), col(idCol).as("id_a"))
      .join(banded(sigD, idCol, bands, rowsPerBand)
        .select(col("band"), col("key"), col(idCol).as("id_b")),
        Seq("band", "key"))
      .select(col("id_a"), col("id_b")).distinct()
    // the union is safe (disjoint id spaces) and lets the estimate
    // filter + verify stages run unchanged from the self-join path
    val sigs = sigC.unionByName(sigD)
    val strong = sigEstimateFilter(cands, sigs, idCol, numHashes,
      minEst = math.max(0.0, threshold - estMargin))
    verifyJaccard(strong, shC.unionByName(shD), idCol, threshold)
  }

  /** Exact Jaccard over candidate pairs: join each side's shingle set
    * back and compute |A∩B| / |A∪B| with array built-ins. */
  def verifyJaccard(pairs: DataFrame, shingled: DataFrame, idCol: String,
                    threshold: Double): DataFrame = {
    val sh = shingled.select(col(idCol), col("shingles"))
    pairs
      .join(sh.withColumnsRenamed(Map(idCol -> "id_a", "shingles" -> "sh_a")), "id_a")
      .join(sh.withColumnsRenamed(Map(idCol -> "id_b", "shingles" -> "sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Signature-estimate prefilter between banding and exact verify:
    * estimated Jaccard = equal sig positions / numHashes (unbiased,
    * sd ≈ √(J(1−J)/H)); candidates estimating below `minEst` never
    * reach the shingle-array intersection. High-recall band configs
    * (e.g. 64×2, s-curve threshold ≈ 0.125) flood the verify stage
    * with J ≈ 0.15–0.4 pairs — this long-array compare (native
    * codegen'd kernel) is orders cheaper than the string-array verify
    * and cuts the flood before it shuffles full shingle sets. */
  def sigEstimateFilter(pairs: DataFrame, sigs: DataFrame, idCol: String,
                        numHashes: Int, minEst: Double): DataFrame =
    pairs
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
      .filter(graft.functions.VectorFunctions
        .sigMatches(col("sig_a"), col("sig_b")) >= math.ceil(minEst * numHashes).toInt)
      .select(col("id_a"), col("id_b"))

  /** MinHash+LSH near-duplicate pairs, Jaccard-verified — the scale
    * path: one narrow signature pass, bounded bucket joins, a
    * signature-estimate prefilter, then exact verify on survivors.
    * The estimate margin (default threshold−0.15 ≈ 3.4σ at H=128)
    * keeps the prefilter strictly recall-safe for pairs at the
    * threshold while rejecting the sub-threshold candidate flood —
    * and minhash is fully deterministic (fixed xxhash64 seed + affine
    * coefficients), so the decision is stable run-to-run. */
  def nearDuplicatePairs(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.5, shingleN: Int = 3,
                         numHashes: Int = 128, bands: Int = 32,
                         rowsPerBand: Int = 4,
                         estMargin: Double = 0.15): DataFrame = {
    val shingled = withShingles(df, textCol, shingleN).cache()
    val sigs = withMinhashSignature(shingled, numHashes)
      .select(col(idCol), col("sig")).cache()
    val cands = lshCandidatePairs(sigs, idCol, bands, rowsPerBand)
    val strong = sigEstimateFilter(cands, sigs, idCol, numHashes,
      minEst = math.max(0.0, threshold - estMargin))
    verifyJaccard(strong, shingled, idCol, threshold)
  }

  /** SimHash near-dup pairs by banded fingerprint join — the scale
    * path for Charikar fingerprints (Manku et al., WWW'07): split the
    * 64-bit fingerprint into `maxHamming`+1 contiguous bit bands; by
    * pigeonhole, a pair within `maxHamming` flipped bits agrees
    * exactly on at least one band, so the per-band equi-join finds
    * EVERY qualifying pair (no recall loss), and only candidates pay
    * the Hamming verify. With d=3 this is the classic 4×16-bit split;
    * wider d trades narrower bands (more collisions) for the same
    * guarantee. Replaces the O(n²) cross join: candidate count is
    * Σ_bands n²/2^bandBits for random fingerprints vs n²/2 all-pairs.
    *
    * Input: `fps` with (idCol, fpCol: long). Output: (id_a, id_b,
    * hamming), exactly the pairs with Hamming ≤ maxHamming. */
  def simhashPairs(fps: DataFrame, idCol: String, fpCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 63]")
    val nBands = maxHamming + 1
    // even-as-possible split of the 64 bits: band j covers
    // [j*64/nBands, (j+1)*64/nBands)
    val bounds = (0 to nBands).map(i => i * 64 / nBands)
    val bandKeys = (0 until nBands).map { j =>
      val lo = bounds(j); val width = bounds(j + 1) - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col(fpCol), lo).bitwiseAND(lit(mask))
    }
    val banded = fps.select(col(idCol), col(fpCol),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
    val a = banded.select(col("band"), col("key"),
      col(idCol).as("id_a"), col(fpCol).as("fp_a"))
    val b = banded.select(col("band"), col("key"),
      col(idCol).as("id_b"), col(fpCol).as("fp_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        graft.functions.SimHash.hammingDistance(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Charikar bit-vote fold as a pure built-in HOF chain, with a
    * pluggable per-token hash — the STRUCTURAL twin of the native
    * `graft.functions.SimHash` kernel. Fingerprint bit i is set iff
    * Σ_tokens (bit_i(hash(tok)) ? +1 : −1) > 0, exactly the kernel's
    * vote rule, but expressed as transform/aggregate/zip_with so the
    * whole fold stays inside Catalyst and (with an engine-neutral
    * hash such as md5-prefix) is expressible in ANSI SQL for a
    * cross-engine oracle. SPEC-ONLY — two equivalences in SimHashSpec:
    * (a) `hash = xxhash64` / bits=64 reproduces the `SimHash64` kernel
    * bit-for-bit; (b) `hash = md5-prefix` / bits=60 reproduces the
    * `SimHashPortable60` kernel that oracle-anchor q98 actually runs.
    * Chained with the q98 DuckDB oracle, they give the kernels a
    * cross-engine check on everything except the hash primitive.
    *
    * Cost is O(tokens × bits) INTERPRETED array ops per row (HOF
    * lambdas don't codegen) — measured ~250× slower than the kernels
    * at sf0.1, which is why no declared query uses it. */
  def simhashBitVote(tokens: Column, hash: Column => Column,
                     bits: Int): Column = {
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    val bitIdx = sequence(lit(0), lit(bits - 1))
    // per-token ±1 vote vector, summed elementwise across tokens
    val votes = aggregate(
      transform(tokens, t => hash(t)),
      array_repeat(lit(0L), bits),
      (acc, h) => zip_with(acc,
        transform(bitIdx, i =>
          when(call_function("shiftrightunsigned", h, i)
              .bitwiseAND(lit(1L)) === lit(1L), lit(1L))
            .otherwise(lit(-1L))),
        (a, b) => a + b))
    aggregate(bitIdx, lit(0L), (acc, i) =>
      acc + when(element_at(votes, i + lit(1)) > 0,
        call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))
  }

  /** Benchmark decontamination: training docs sharing at least
    * `minShared` distinct word n-gram shingles with any probe
    * (benchmark/eval) doc — the overlap check run before training to
    * keep eval sets out of the corpus. Shingle equi-join on the
    * 64-bit shingle hash: cost scales with shared-shingle matches
    * (the probe side is the small one in practice), never all-pairs;
    * the probe shingle set is distinct'd so a shingle repeated in a
    * probe doc can't inflate the count. Output: (doc_id, probe_id,
    * n_shared) for every contaminated (doc, probe) combination. */
  def contaminationPairs(corpus: DataFrame, probe: DataFrame,
                         idCol: String, textCol: String,
                         minShared: Long, shingleN: Int = 3): DataFrame = {
    def shingleHashes(df: DataFrame, outId: String): DataFrame =
      withShingles(df, textCol, shingleN)
        .select(col(idCol).as(outId), explode(col("shingles")).as("s"))
        .select(col(outId), xxhash64(col("s")).as("shingle"))
    shingleHashes(corpus, "doc_id")
      .join(shingleHashes(probe, "probe_id"), "shingle")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[contaminationPairs]] with a Bloom-filter prefilter on the
    * corpus side — the 100 TB shape: the probe/benchmark shingle set
    * is small and fixed, so a Bloom filter over it (built once,
    * ~1.2 MB per million shingles at 1% fpp) broadcast-prefilters the
    * corpus BEFORE the shuffle join; only shingles that might match
    * pay the exchange. False positives are eliminated by the exact
    * join that follows, so the result is IDENTICAL to the exact
    * operator (oracle q97 = q53's SQL) — the Bloom stage only sheds
    * shuffle volume (at 1% fpp, ~99% of non-matching corpus shingles
    * never leave their scan task). */
  def contaminationPairsBloom(corpus: DataFrame, probe: DataFrame,
                              idCol: String, textCol: String,
                              minShared: Long, shingleN: Int = 3,
                              fpp: Double = 0.01): DataFrame = {
    def shingleHashes(df: DataFrame, outId: String): DataFrame =
      withShingles(df, textCol, shingleN)
        .select(col(outId), explode(col("shingles")).as("s"))
        .select(col(outId), xxhash64(col("s")).as("shingle"))
    val probeSh = shingleHashes(probe.select(col(idCol)
        .as("probe_id"), col(textCol)), "probe_id")
    val nProbe = math.max(1L,
      probeSh.select(col("shingle")).distinct().count())
    val bloom = probeSh.stat.bloomFilter("shingle", nProbe, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightMatch = udf((h: Long) => bc.value.mightContainLong(h))
    shingleHashes(corpus.select(col(idCol), col(textCol)), idCol)
      .filter(mightMatch(col("shingle")))
      .join(probeSh, "shingle")
      .filter(col(idCol) =!= col("probe_id"))
      .groupBy(col(idCol), col("probe_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** All-pairs exact n-gram Jaccard via shingle equi-join — quadratic
    * in bucket skew; reference/oracle path only (SQL-expressible). */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleN: Int = 3): DataFrame = {
    val shingled = withShingles(df, textCol, shingleN)
    // join on the 64-bit shingle hash, not the string: same result
    // modulo 2^-64 collisions, much smaller shuffle and faster compares.
    // Cached: the plan uses this table four times (both join sides +
    // both size lookups) — without it the shingle HOF re-runs each time.
    val sh = shingled.select(col(idCol).as("id"),
        explode(col("shingles")).as("s"))
      .select(col("id"), xxhash64(col("s")).as("shingle"))
      .cache()
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n" -> "n_a")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "n" -> "n_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** CROSS-GROUP SHINGLE-OVERLAP MATRIX — pairwise n-gram overlap
    * between corpus partitions (sources, snapshots, splits): for each
    * group pair sharing ≥1 shingle, the distinct-shingle intersection
    * plus Jaccard and containment coefficients. This is dedup /
    * decontamination lifted to the PROVENANCE level: which crawls
    * mirror each other, how much of a new snapshot is already in the
    * corpus, whether a benchmark's text leaked into more than one
    * source — the report run before choosing what to dedup against.
    *
    * Scale: per-group shingle SETS (one distinct over (group, hash) —
    * set size bounded by vocabulary of the group, not doc count),
    * then a posting-list self-join on the 64-bit shingle hash: a
    * shingle in g groups contributes g·(g−1)/2 pair increments, and
    * g ≤ #groups (tiny) — never a doc-level or all-pairs blowup.
    *
    * @return (g_a, g_b, n_a, n_b, inter, jaccard9, containment9) for
    *         g_a < g_b; containment = inter / min(n_a, n_b). */
  def crossGroupOverlap(df: DataFrame, groupCol: String, textCol: String,
                        shingleN: Int = 3): DataFrame = {
    val sh = withShingles(df, textCol, shingleN)
      .select(col(groupCol).as("g"), explode(col("shingles")).as("s"))
      .select(col("g"), xxhash64(col("s")).as("shingle"))
      .distinct()
      .cache()
    val sizes = sh.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("g_a"), col("b.g").as("g_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.withColumnsRenamed(Map("g" -> "g_a", "n" -> "n_a"))),
        Seq("g_a"))
      .join(broadcast(sizes.withColumnsRenamed(Map("g" -> "g_b", "n" -> "n_b"))),
        Seq("g_b"))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"), col("inter"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 9)
          .as("jaccard9"),
        round(col("inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 9)
          .as("containment9"))
  }

  /** Directed shingle-CONTAINMENT pairs (Broder 1997's containment
    * coefficient |A∩B|/|A|) — the asymmetric dedup relation Jaccard
    * structurally misses: a tweet-sized doc pasted inside a long
    * article has tiny Jaccard (union is huge) but containment ≈ 1.
    * Pretraining dedup wants exactly this direction — drop the
    * contained fragment, keep the superset document.
    *
    * Same candidate plan as [[exactJaccardPairs]] (shingle-hash equi
    * join — only pairs sharing ≥1 shingle are scored, the grid
    * shuffle bound), then each unordered candidate fans into its two
    * directed rows via a narrow union, scored against the CONTAINED
    * side's set size only. Output: (id_a, id_b, inter, n_a,
    * containment) where containment = inter/n_a ≥ tau — read "A is
    * (mostly) inside B".
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       tau: Double, shingleN: Int = 3): DataFrame =
    containmentNaiveFromSh(containmentShingles(df, idCol, textCol, shingleN)
      .cache(), tau)

  /** The (id, shingle-hash) exploded set both containment plans read. */
  private def containmentShingles(df: DataFrame, idCol: String,
                                  textCol: String, shingleN: Int): DataFrame =
    withShingles(df, textCol, shingleN)
      .select(col(idCol).as("id"), explode(col("shingles")).as("s"))
      .select(col("id"), xxhash64(col("s")).as("shingle"))

  /** ⌈n·τ⌉ with τ taken EXACTLY at its shortest-decimal rendering
    * (ADVICE r10): `n * lit(tau)` in double arithmetic can round an
    * integer product up (τ=0.3, n=10 → 3.0000000000000004, ceil=4),
    * silently shrinking the prefix by one shingle and breaking the
    * zero-miss contract for pairs at exactly containment = τ. Routing
    * τ through BigDecimal.valueOf (the value the caller wrote, e.g.
    * "0.8", not the nearest-double artifact) makes the multiply and
    * ceil exact decimal arithmetic. */
  private def ceilTauExact(n: Column, tau: Double): Column =
    ceil(n * lit(java.math.BigDecimal.valueOf(tau)))

  private def containmentNaiveFromSh(sh: DataFrame, tau: Double): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ia"), col("b.id").as("ib"))
      .agg(count(lit(1)).as("inter"))
    val directed = inter.select(col("ia").as("id_a"), col("ib").as("id_b"), col("inter"))
      .unionByName(inter.select(col("ib").as("id_a"), col("ia").as("id_b"), col("inter")))
    directed
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n" -> "n_a")), "id_a")
      .withColumn("containment",
        col("inter").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("containment"))
  }

  /** [[containmentPairs]] through a directed PREFIX FILTER — the
    * non-quadratic scale path that returns EXACTLY the same output
    * (the SSJoin prefix principle applied to Broder containment, the
    * same move [[prefixJaccardPairs]] makes for Jaccard).
    *
    * Key fact: C(A,B) = |A∩B|/|A| ≥ τ forces |A∩B| ≥ ⌈τ·|A|⌉, so
    * under any global total order on shingles the overlap cannot fit
    * entirely in A's last ⌈τ·|A|⌉ − 1 shingles — A's PREFIX (its
    * first |A| − ⌈τ·|A|⌉ + 1 shingles) must intersect B. Joining only
    * contained-side prefixes against the full posting list therefore
    * generates every qualifying DIRECTED pair; the exact count+verify
    * discards false candidates — pruning costs compute, never
    * correctness. Only the contained side prunes (a tweet inside an
    * article bounds nothing about the article), which is why the
    * candidate join is asymmetric.
    *
    * The canonical order is ascending global shingle frequency
    * (rarest first, ties by hash): prefixes hold each document's
    * RAREST shingles, so the per-shingle posting lists the prefix
    * probes are small by construction — the frequent boilerplate
    * shingles that make [[containmentPairs]]' all-sharing-pairs grid
    * quadratic under replication/skew never leave the suffix. At
    * τ = 0.8 the prefix is ~20% of each doc's shingles probing
    * rare postings, vs 100% probing everything.
    *
    * Plan: one frequency shuffle, one per-doc rank window (bounded by
    * doc shingle count), the asymmetric prefix⋈posting bucket join,
    * then the linear (doc, shingle) count join and the τ filter. */
  def containmentPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                             tau: Double, shingleN: Int = 3): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau in (0, 1]")
    containmentPrefixFromSh(containmentShingles(df, idCol, textCol, shingleN)
      .cache(), tau)
  }

  private def containmentPrefixFromSh(sh: DataFrame, tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // one id-partitioned window pass yields BOTH the canonical-order
    // rank and the set size (the prefixJaccardPairs shape)
    val ranked = sh.join(freq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("id"))))
    val prefix = ranked
      .filter(col("rk") <= col("n") - ceilTauExact(col("n"), tau) + 1)
      .select(col("id").as("id_a"), col("shingle"), col("n").as("n_a"))
    val cand = prefix
      .join(sh.select(col("id").as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("n_a"))
      .distinct()
    val inter = cand
      .join(sh.select(col("id").as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"), first(col("n_a")).as("n_a"))
    inter
      .withColumn("containment",
        col("inter").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"),
        col("containment"))
  }

  /** CANDIDATE-VOLUME AUDIT for the containment join — q192's
    * "predict the join before running it" discipline applied to
    * similarity joins: from the shingle frequency table ALONE (no pair
    * join anywhere), the exact number of rows the naive
    * all-sharing-pairs candidate join would emit (Σ_s C(df_s, 2)) vs
    * the rows the [[containmentPairsPrefix]] probe join emits
    * (Σ over prefix occurrences of (df_s − 1)) — the measurement
    * behind choosing the prefix plan, and the early-warning signal a
    * corpus pipeline reads before a dedup sweep melts a cluster.
    *
    * Both sums depend only on the multiset of df values at each rank
    * position, so the report is invariant to the canonical order's
    * tie-break — which is what makes it cross-engine checkable even
    * though the engine ranks ties by shingle hash.
    *
    * Shape: one frequency shuffle + one per-doc rank window + three
    * O(1)-row aggregates (broadcast-combined). Output: one row
    * (n_docs, n_shingle_rows, n_distinct_shingles, join_rows_naive,
    * n_prefix_rows, join_rows_prefix, reduction_ratio6 =
    * naive·10⁶ div prefix). */
  def containmentCandidateReport(df: DataFrame, idCol: String,
                                 textCol: String, tau: Double,
                                 shingleN: Int = 3): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val sh = withShingles(df, textCol, shingleN)
      .select(col(idCol).as("id"), explode(col("shingles")).as("s"))
      .select(col("id"), xxhash64(col("s")).as("shingle"))
      // freq + ranked both read it; staged (round-12): O(shingle rows)
      .transform(graft.util.Snapshots.stage)
    // naive aggregate + rank join both read it
    val freq = graft.util.Snapshots.stage(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
    val naive = freq.agg(
      count(lit(1)).as("n_distinct_shingles"),
      sum(col("df")).as("n_shingle_rows"),
      sum(expr("df * (df - 1) div 2")).as("join_rows_naive"))
    val ranked = sh.join(freq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("id"))))
    val pref = ranked
      .filter(col("rk") <= col("n") - ceilTauExact(col("n"), tau) + 1)
      .agg(count(lit(1)).as("n_prefix_rows"),
        sum(col("df") - 1).as("join_rows_prefix"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    nDocs.crossJoin(broadcast(naive)).crossJoin(broadcast(pref))
      .withColumn("reduction_ratio6",
        when(col("join_rows_prefix") > 0,
          expr("join_rows_naive * 1000000 div join_rows_prefix"))
          .otherwise(lit(null).cast("long")))
  }

  /** ADAPTIVE containment join (round-11, verdict ask #6): predicts
    * the naive all-sharing-pairs candidate volume Σ_s C(df_s, 2) from
    * the shingle frequency table — the [[containmentCandidateReport]]
    * aggregate, one tiny collect of O(1) model state — and picks the
    * plan: BELOW `naivePairBudget` the naive grid join wins (the
    * prefix plan's rank window + three-way verify join is a fixed
    * constant the small side never amortizes — measured 7.0 s vs
    * 2.6 s at sf0.1); ABOVE it the prefix plan's pruned probes win
    * (13.6× vs 36.8× at the 100× probe). Both plans return EXACTLY
    * the same rows (equivalence spec'd in DedupSpec), so the switch
    * can never change the answer — only the shuffle volume.
    *
    * The budget's unit is candidate rows through the naive grid
    * shuffle; the default (2×10⁷) sits between the sf0.1 corpus
    * (1.27×10⁶ measured, naive wins by 2.7×) and the 10×-replica
    * probe (~10⁸ — near-dup copies multiply every df ~10×, squaring
    * into C(df,2)), roughly where the two plans' measured walls
    * cross. */
  def containmentPairsAdaptive(df: DataFrame, idCol: String,
                               textCol: String, tau: Double,
                               shingleN: Int = 3,
                               naivePairBudget: Long = 20000000L): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau in (0, 1]")
    val sh = containmentShingles(df, idCol, textCol, shingleN).cache()
    val naiveRows = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)))
      .head().getLong(0)
    if (naiveRows <= naivePairBudget) containmentNaiveFromSh(sh, tau)
    else containmentPrefixFromSh(sh, tau)
  }

  /** Exact-threshold Jaccard join via PREFIX FILTERING (SSJoin /
    * PPJoin family, Chaudhuri et al. ICDE 2006) — the non-quadratic
    * scale path that returns EXACTLY [[exactJaccardPairs]]'s output.
    *
    * Key fact: under any global total order on shingles, two sets with
    * J(A,B) ≥ τ must share an element within each set's first
    * |X| − ⌈τ·|X|⌉ + 1 shingles (else the overlap fits entirely in the
    * suffix, capping |A∩B| below τ·|X| ≤ |A∩B| — contradiction). So
    * joining only the short prefixes generates every qualifying pair,
    * and the exact verify pass discards false candidates — pruning
    * costs compute, never correctness (the same contract as LSH, but
    * with a deterministic zero-miss guarantee instead of a
    * probabilistic one).
    *
    * The canonical order is ascending global shingle frequency
    * (rarest first, ties by hash): prefixes then hold each document's
    * RAREST shingles, so prefix-join buckets are small by
    * construction — the frequent shingles that make
    * [[exactJaccardPairs]] quadratic under skew are exactly the ones
    * pushed out of the prefix. Plan: one frequency shuffle, one
    * per-doc window (bounded by doc shingle count), a bucket join on
    * prefix shingles, then the linear verify join on (doc, shingle).
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val sh = withShingles(df, textCol, shingleN)
      .select(col(idCol).as("id"), explode(col("shingles")).as("s"))
      .select(col("id"), xxhash64(col("s")).as("shingle"))
      .cache()
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // one id-partitioned window pass yields BOTH the canonical-order
    // rank and the set size (count over the same partition) — no
    // separate sizes join on this path
    val prefix = sh.join(freq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("id"))))
      .filter(col("rk") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(col("id"), col("shingle"), col("n"))
    // PPJoin's LENGTH filter rides the candidate join: J ≥ τ forces
    // τ·|A| ≤ |B| ≤ |A|/τ, so size-incompatible pairs never leave the
    // bucket — at τ=½ this alone drops half of a uniform corpus's
    // candidate pairs before the distinct/verify stages pay for them
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
          col("b.n") >= ceil(col("a.n") * threshold) &&
          col("a.n") >= ceil(col("b.n") * threshold))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val inter = cand
      .join(sh.select(col("id").as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n" -> "n_a")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "n" -> "n_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SUBSTRING-level duplication profile — the span-granular sibling of
    * document dedup (the "exact substring deduplication" family from
    * the dedup-training-data literature): fixed-length character
    * windows (`spanLen`, step `stride`) are hashed, a span is
    * DUPLICATED if ≥2 distinct documents contain it, and each document
    * reports its duplicated-span fraction — the signal used to strip
    * boilerplate/templated passages that document-level dedup can't
    * see (two different pages sharing a footer).
    *
    * Only full-length spans participate (the ragged tail window would
    * otherwise make near-empty suffixes collide corpus-wide). Span key
    * = md5 of the span text: fixed 32-char shuffle key regardless of
    * `spanLen`, identical in any engine, collision-safe at corpus
    * scale. Plan: chunk (narrow) → groupBy(hash) count-distinct-doc
    * (two-level partial agg) → 1:1 join back on hash → per-doc rollup.
    * Two key-shuffles total; the hot-span skew a boilerplate footer
    * creates lands on AQE's skew-split, not a quadratic join. Docs
    * shorter than `spanLen` emit zero spans and report dup_frac 0. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                spanLen: Int = 40, stride: Int = 20): DataFrame = {
    val spans = TextAnalysis.chunkDocuments(df, idCol, textCol, spanLen, stride)
      .filter(col("chunk_len") === spanLen)
      .select(col(idCol), md5(col("chunk").cast("binary")).as("span_hash"))
    val counts = spans.groupBy(col("span_hash"))
      .agg(count_distinct(col(idCol)).as("span_docs"))
    val perDoc = spans.join(counts, "span_hash")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("span_docs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac", when(col("n_spans") === 0, lit(0.0)).otherwise(
        col("n_dup_spans").cast("double") / col("n_spans").cast("double")))
  }

  /** MAXIMAL duplicated-span removal list — the transform-side output
    * of substring-level dedup, i.e. the shape an ExactSubstr-style
    * pipeline (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better") actually emits: per document, the
    * character ranges to cut. [[spanDedup]] REPORTS window-level
    * duplication; this MERGES the duplicated fixed-stride windows into
    * maximal `[cut_start, cut_end)` character spans per document —
    * overlapping or exactly-adjacent windows coalesce via a running-max
    * gaps-and-islands pass (an island starts where a window's start
    * exceeds the max end of every earlier window in the doc).
    *
    * Duplication rule matches spanDedup: a full-length window is
    * duplicated iff its text occurs in ≥ 2 distinct documents; md5
    * span keys give a fixed-width shuffle. Scale shape: one shuffle
    * for the span-hash distinct-doc count, one join back, then ONE
    * window pass over each doc's duplicated windows (per-doc data,
    * never corpus-wide) — no quadratics anywhere. Output: (id,
    * span_rk, cut_start, cut_end, cut_len), span_rk dense per doc in
    * start order. */
  def spanRemovalList(df: DataFrame, idCol: String, textCol: String,
                      spanLen: Int = 40, stride: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = TextAnalysis.chunkDocuments(df, idCol, textCol, spanLen, stride)
      .filter(col("chunk_len") === spanLen)
      .select(col(idCol), (col("chunk_id").cast("long") * stride).as("start"),
        md5(col("chunk").cast("binary")).as("span_hash"))
    val dupHashes = wins.groupBy(col("span_hash"))
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2).select(col("span_hash"))
    val dupWins = wins.join(dupHashes, "span_hash")
      .select(col(idCol), col("start"),
        (col("start") + spanLen).as("end"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("start"))
    val prevMaxEnd =
      max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    dupWins
      .withColumn("new_island",
        when(prevMaxEnd.isNull || col("start") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("span_rk",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("span_rk"))
      .agg(min(col("start")).as("cut_start"), max(col("end")).as("cut_end"))
      .select(col(idCol), col("span_rk"), col("cut_start"), col("cut_end"),
        (col("cut_end") - col("cut_start")).as("cut_len"))
  }

  /** C4-style segment-level deduplication (Raffel et al. 2020, §2.2:
    * "we removed all but one of any three-sentence span occurring more
    * than once" — re-expressed over consecutive `segWords`-word
    * segments, since this corpus carries no sentence punctuation).
    * Unlike [[spanDedup]], which *reports* overlapping-window
    * duplication, this is the *transform*: every distinct segment text
    * survives exactly once corpus-wide — at its FIRST occurrence
    * (lowest (doc id, segment position); a within-document repeat is
    * dropped too, exactly like C4) — and each document is rebuilt from
    * its surviving segments.
    *
    * Scale shape: segment extraction is NARROW (slices of the
    * already-split token array — no explode-groupBy round trip);
    * the wide stages are the keep-first decision (one shuffle on
    * segment text — the window key is the raw segment rather than a
    * hash so an external engine can replay the decision; production
    * would key on md5(segment) for a fixed-width shuffle like
    * spanDedup) and the per-doc rebuild (one shuffle on the id).
    * Rebuild order is restored by sorting the surviving (position,
    * segment) structs — no second window. Output: (id, n_segs,
    * n_kept, clean_text). */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segWords: Int = 8): DataFrame = {
    require(segWords >= 1, "need segWords >= 1")
    // tokenize ONCE into an attribute (round-11, guide §4): the
    // transform lambda below references the token array per segment,
    // and a raw `split(text)` Column there re-ran the regex split for
    // EVERY segment — O(words²/segWords) characters per document.
    // An attribute reference makes it one split per doc.
    val withArr = df.select(col(idCol),
      split(col(textCol), "\\s+").as("_toks"))
    val toks = col("_toks")
    // ≥1 even for a hypothetical empty token array: Spark's sequence()
    // DESCENDS when stop < start, which would fabricate segments.
    val nSegs = greatest(lit(1L),
      ceil(size(toks).cast("double") / segWords).cast("long"))
    val segs = withArr.select(col(idCol),
      posexplode(transform(sequence(lit(0L), nSegs - 1),
        i => concat_ws(" ",
          slice(toks, (i * segWords).cast("int") + 1, lit(segWords)))))
        .as(Seq("seg_idx", "seg_text")))
    val wFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg_text")).orderBy(col(idCol), col("seg_idx"))
    segs.withColumn("keep", row_number().over(wFirst) === 1)
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("seg_idx"), col("seg_text"))))),
          s => s.getField("seg_text"))).as("clean_text"))
  }

  /** CONTENT-DEFINED chunking dedup (the FastCDC/LBFS family, Muthitacharoen
    * et al. 2001): chunk boundaries fall where a w-char Karp–Rabin window
    * hash satisfies h ≡ 0 (mod `maskMod`), so boundaries are determined by
    * LOCAL content — inserting or deleting a line shifts every fixed-stride
    * window (q125's blind spot) but leaves all CDC boundaries outside the
    * edit untouched, which is why storage dedup uses it. A chunk is
    * DUPLICATED iff ≥2 distinct docs contain it (q125's rule).
    *
    * Determinism/portability: the window hash is Σ_j code(c_{i+j})·B^{w−1−j}
    * mod 1e9+7 — every intermediate ≤ 2⁴² (long-exact, engine-portable, the
    * q95 modulus discipline); boundary set, chunks, and the dup decision all
    * replay in SQL (oracle).
    *
    * Scale shape: hashing + boundary selection run as ONE narrow
    * native codegen kernel (graft.functions.CdcBounds — a rolling
    * O(n) pass per doc; the HOF formulation it replaced re-evaluated
    * w element_at lookups per character, O(n·w), and dominated the
    * query wall) and chunk slicing stays a narrow transform — no
    * explode before the chunk rows exist; the dedup is the q125 two-level
    * count-distinct partial agg + a 1:1 hash join back. O(w) literal state.
    * Output: (id, n_chunks, n_dup_chunks, dup_frac). */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String,
                    w: Int = 16, maskMod: Long = 64L): DataFrame = {
    // one-pass native rolling-hash kernel (CdcBounds, codegen) — the
    // HOF formulation it replaces re-evaluated w element_at lookups
    // per character and dominated the query wall (8.0 s → see
    // cdcBoundsHof, kept as the spec-checked semantic reference)
    val withBounds = df
      .select(col(idCol), col(textCol).as("t"))
      .withColumn("bounds",
        graft.functions.VectorFunctions.cdcBounds(col("t"), w, maskMod))
    val chunks = withBounds
      .select(col(idCol), col("t"),
        explode(expr("transform(sequence(1, size(bounds) - 1), " +
          "k -> struct(element_at(bounds, k) as lo, " +
          "element_at(bounds, k + 1) as hi))")).as("b"))
      .select(col(idCol),
        md5(col("t").substr(col("b.lo") + 1, col("b.hi") - col("b.lo"))
          .cast("binary")).as("chunk_hash"))
    val counts = chunks.groupBy(col("chunk_hash"))
      .agg(count_distinct(col(idCol)).as("chunk_docs"))
    val perDoc = chunks.join(counts, "chunk_hash")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("chunk_docs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac", when(col("n_chunks") === 0, lit(0.0)).otherwise(
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double")))
  }

  /** The original HOF formulation of the CDC boundary array — kept as
    * the semantic reference for [[graft.functions.CdcBounds]] (an
    * equivalence spec runs both over the real corpus). O(n·w)
    * element_at evaluations per doc; never use on a hot path. */
  private[graft] def cdcBoundsHof(textCol: Column, w: Int,
                                  maskMod: Long): Column = {
    val M = 1000000007L
    val B = 131L
    val pows: Array[Long] = {
      val a = new Array[Long](w); a(w - 1) = 1L
      for (j <- (0 until w - 1).reverse) a(j) = a(j + 1) * B % M
      a
    }
    val cs = transform(split(textCol, ""), ch => ascii(ch).cast("long"))
    val n = length(textCol)
    def winHash(i: Column) =
      pows.zipWithIndex.map { case (p, j) =>
        element_at(cs, i + lit(j)) * lit(p)
      }.reduce(_ + _) % M
    val positions = when(n >= w, sequence(lit(1), n - lit(w - 1)))
      .otherwise(array().cast("array<int>"))
    val cuts = filter(positions, i => winHash(i) % maskMod === 0)
    array_distinct(concat(
      array(lit(0)), transform(cuts, i => i + lit(w - 1)), array(n)))
  }

  /** Per-group DEDUP REPORT — the monitoring rollup a corpus pipeline
    * publishes per ingest batch: for each `groupCol` (source domain,
    * shard, date), the document count, how many documents are exact
    * duplicates of an earlier one (md5 text groups, keeper = min id),
    * and how many sit in a near-dup component (`components` =
    * (idCol, rep_id) from [[Graph.connectedComponents]] over the
    * near-dup pairs — every member has a partner by construction).
    * One content-hash shuffle + one membership join
    * + one group rollup; the numbers drive per-source keep/drop budget
    * decisions at scale. */
  def dedupReport(df: DataFrame, idCol: String, textCol: String,
                  groupCol: String, components: DataFrame): DataFrame = {
    val h = df.select(col(groupCol), col(idCol), md5(col(textCol)).as("h"))
    val grp = h.groupBy(col("h")).agg(min(col(idCol)).as("keeper"))
    val nearDocs = components.select(col(idCol), lit(1L).as("near"))
    h.join(grp, "h")
      .join(nearDocs, Seq(idCol), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col(idCol) =!= col("keeper"), 1L).otherwise(0L))
          .as("n_exact_dups"),
        sum(coalesce(col("near"), lit(0L))).as("n_near_dup_docs"))
      .withColumn("near_frac",
        col("n_near_dup_docs").cast("double") / col("n_docs").cast("double"))
  }

  /** SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo 1995's
    * merge/purge method) — the entity-resolution candidate generator
    * that completes the blocking family: where MinHash-LSH buckets by
    * content hashes and [[exactDuplicates]] by full equality,
    * sorted-neighborhood SORTS the corpus by a domain key and pairs
    * each record with its `window − 1` successors — catching the
    * near-misses (typos, truncations) that land adjacent under a
    * well-chosen key even when no hash bucket agrees.
    *
    * Scale design: the sort is Spark's distributed range sort;
    * positions come from per-partition `zipWithIndex` offsets (the
    * [[graft.ops.TextAnalysis.shardAssign]] discipline — an
    * O(partitions) driver array, never a global window); pair
    * generation is a literal `posexplode` of the `window − 1`
    * offsets followed by ONE equi join on position — O(N·w) rows,
    * no self-cross. Sorting is the whole trick: total cost is two
    * lightweight passes + one join regardless of key skew.
    *
    * @param df      records; `keyCols` defines the neighborhood
    *                order (ties broken by `idCol` so positions are
    *                total and deterministic).
    * @param window  neighborhood size w ≥ 2: record at position p
    *                pairs with positions p+1 .. p+w−1.
    * @return (pos_a, pos_b, off, id_a, id_b) candidate pairs,
    *         pos ascending. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
                              keyCols: Seq[String], window: Int): DataFrame = {
    require(window >= 2, "a neighborhood needs at least two records")
    val spark = df.sparkSession
    import spark.implicits._
    val ranked = df
      .select((col(idCol).cast("long").as("id") +: keyCols.map(col)): _*)
      .orderBy((keyCols.map(col) :+ col("id")): _*)
      .select(col("id"))
      .rdd.map(_.getLong(0))
      .zipWithIndex()
      .toDF("id", "pos")
    val a = ranked.select(col("pos").as("pos_a"), col("id").as("id_a"))
      .withColumn("off", explode(typedLit((1 until window).map(_.toLong))))
      .withColumn("pos_b", col("pos_a") + col("off"))
    a.join(ranked.select(col("pos").as("pos_b"), col("id").as("id_b")),
        Seq("pos_b"))
      .select(col("pos_a"), col("pos_b"), col("off"), col("id_a"),
        col("id_b"))
      .orderBy(col("pos_a"), col("pos_b"))
  }
}
