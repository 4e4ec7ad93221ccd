package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.util.Artifacts
import graft.text.{Tokenizer, TfIdf}

/** The reference's Part-1 TF-IDF pipeline (SURVEY §2.11) re-targeted at
  * the synthetic `documents` table: doc identity = doc_id, category =
  * lang, corpus text = text. Every stage is declared as a DataFrame
  * transform and oracle-checked against the same pipeline written in
  * DuckDB SQL.
  *
  * TF/IDF/TF·IDF values are single divisions/products of exact integer
  * counts — bit-deterministic (no rounding needed for hash parity).
  * Aggregated means (q16) go through a scaled-long sum (see
  * [[graft.util.Exact]]).
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** min term frequency, the reference's cnt≥3 (task1_2.java:53) scaled
    * to the shorter synthetic docs. */
  val MinCount = 2

  private def toks(s: SparkSession, d: String): DataFrame =
    Tokenizer.tokens(Tables.documents(s, d), "text")

  // The filtered counts matrix feeds nine queries — materialize it once
  // per (session, dir), mirroring the reference's persisted task_1_2
  // intermediate (its downstream jobs re-read that file).
  private[queries] def filteredCounts(s: SparkSession, d: String): DataFrame =
    Artifacts.memo("fc", s, d)(
      TfIdf.filterMin(TfIdf.termCounts(toks(s, d), "doc_id"), MinCount).cache())

  val queries: Map[String, Q] = Map(
    // A1+F1: tokenize → (doc,term,cnt) → cnt >= MinCount.
    // Reference: task1_1.java word count + task1_2.java filter.
    "q11_doc_term_counts" -> ((s, d) => {
      filteredCounts(s, d)
        .select(col("doc_id"), col("term"), col("cnt"))
        .orderBy(col("doc_id"), col("term"))
    }),

    // A2: dense term ids in lexicographic order (task1_1_1.java's
    // single-reducer counter). 31-term vocabulary → the single-partition
    // window is fine; Dictionary.denseIdsScalable is the 100 TB path.
    "q12_term_dictionary" -> ((s, d) => {
      val terms = toks(s, d).select(col("token").as("term")).distinct()
      terms.withColumn("id",
          row_number().over(Window.orderBy(col("term"))).cast("long"))
        .orderBy(col("term"))
    }),

    // A2, 100 TB path as a DECLARED query: the distributed
    // sort→zipWithIndex id assignment (no single-partition window)
    // must produce byte-identical ids — it shares q12's SQL oracle, so
    // the scalable path gets the same cross-engine value check the
    // windowed path has (the anchor pattern: same oracle, scale
    // machinery under test).
    "q96_term_dictionary_scalable" -> ((s, d) => {
      graft.text.Dictionary.denseIdsScalable(
          toks(s, d).select(col("token").as("term")), "term")
        .orderBy(col("term"))
    }),

    // A2, append-only evolution: the doc_id<400 corpus's dictionary is
    // FROZEN; the newer docs contribute only their genuinely-new terms
    // at ids max+1.. (sort+zipWithIndex on the delta only). Stable-id
    // maintenance — the re-run-and-renumber failure mode q12 would hit
    // on a growing corpus.
    // Keys are word BIGRAMS (the q27-proven shingle kernel at n=2) so
    // the batch really carries unseen keys at this corpus.
    "q234_dictionary_delta" -> ((s, d) => {
      def bigrams(f: Column) = graft.ops.Dedup.withShingles(
          Tables.documents(s, d).filter(f), "text", 2)
        .select(explode(col("shingles")).as("term")).distinct()
      val existing = graft.text.Dictionary.denseIdsScalable(
        bigrams(col("doc_id") < 400), "term")
      graft.text.Dictionary.mergeDelta(existing,
          bigrams(col("doc_id") >= 400), "term")
        .orderBy(col("id"))
    }),

    // A3: TF = cnt / Σcnt per doc (task1_4_1.java).
    "q13_tf" -> ((s, d) => {
      TfIdf.tf(filteredCounts(s, d), "doc_id")
        .select(col("doc_id"), col("term"), col("cnt"), col("tf"))
        .orderBy(col("doc_id"), col("term"))
    }),

    // A4: IDF = ln(N/df), N and df from the *filtered* matrix —
    // preserving the reference quirk (SURVEY §7.4.6; task1_4_2.java:102).
    "q14_idf" -> ((s, d) => {
      TfIdf.idf(filteredCounts(s, d), "doc_id")
        .select(col("term"), col("df"), col("idf"))
        .orderBy(col("term"))
    }),

    // J3: TF·IDF (task1_4_3.java's cache join → broadcast join).
    "q15_tfidf" -> ((s, d) => {
      val fc = filteredCounts(s, d)
      TfIdf.tfidf(TfIdf.tf(fc, "doc_id"), TfIdf.idf(fc, "doc_id"))
        .select(col("doc_id"), col("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("term"))
    }),

    // A5: mean TF·IDF per (lang, term) over docs containing the term
    // (missing ≠ 0 — the reference's semantics, task1_5_1.java:149-163).
    "q16_lang_term_mean" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val fc = filteredCounts(s, d)
      TfIdf.tfidf(TfIdf.tf(fc, "doc_id"), TfIdf.idf(fc, "doc_id"))
        .join(docs, Seq("doc_id"))
        .groupBy(col("lang"), col("term"))
        .agg(
          (sum(round(col("tfidf") * 1000000).cast("long")).cast("double")
            / (count(lit(1)) * 1000000.0)).as("mean_tfidf"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("term"))
    }),

    // T2: top-5 terms per lang by mean TF·IDF (task1_5_2.java's
    // per-category TreeMap → ranked window, deterministic tie-break).
    "q17_top_terms_per_lang" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val fc = filteredCounts(s, d)
      val means = TfIdf.tfidf(TfIdf.tf(fc, "doc_id"), TfIdf.idf(fc, "doc_id"))
        .join(docs, Seq("doc_id"))
        .groupBy(col("lang"), col("term"))
        .agg((sum(round(col("tfidf") * 1000000).cast("long")).cast("double")
          / (count(lit(1)) * 1000000.0)).as("mean_tfidf"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("mean_tfidf").desc, col("term"))
      means.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("term"), col("mean_tfidf"))
        .orderBy(col("lang"), col("rk"))
    }),

    // T1: global top-10 terms by raw frequency (task1_3.java's global
    // TreeMap → TakeOrderedAndProject), deterministic tie-break on term.
    "q18_top_terms_global" -> ((s, d) => {
      toks(s, d).groupBy(col("token").as("term"))
        .agg(count(lit(1)).as("total_cnt"))
        .orderBy(col("total_cnt").desc, col("term"))
        .limit(10)
    }),

    // P7: doc vectors serialized to the reference's sparse text form
    // `term:w,term:w` (4-dp weights, key-sorted). The decimal string is
    // constructed from a scaled integer so both engines render
    // identical bytes (Java %.4f is HALF_UP, C printf is half-even —
    // they disagree on dyadic-rational boundaries).
    "q19_doc_vector_strings" -> ((s, d) => {
      val fc = filteredCounts(s, d)
      val tfidf = graft.text.TfIdf.tfidf(
        graft.text.TfIdf.tf(fc, "doc_id"), graft.text.TfIdf.idf(fc, "doc_id"))
      val w4 = round(col("tfidf") * 10000).cast("long")
      tfidf.select(col("doc_id"), col("term"), w4.as("w4"))
        .groupBy(col("doc_id"))
        .agg(concat_ws(",",
          transform(array_sort(collect_list(struct(col("term"), col("w4")))),
            e => concat(e.getField("term"), lit(":"),
              format_string("%d.%04d",
                (e.getField("w4") / lit(10000)).cast("long"),
                pmod(e.getField("w4"), lit(10000)))))).as("vec"))
        .orderBy(col("doc_id"))
    })
  )

  /** Shared tokenization CTE — the DuckDB mirror of [[Tokenizer.tokens]]
    * (lower → strip [^\w\s] globally → split \s+ → drop empty + stop). */
  private[queries] val TokCte =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(regexp_split_to_array(
      |    regexp_replace(lower(text), '[^\w\s]', '', 'g'), '\s+')) AS term
      |  FROM documents
      |), kept AS (
      |  SELECT doc_id, lang, term FROM toks
      |  WHERE length(term) > 0 AND term NOT IN ('the', 'a')
      |), counts AS (
      |  SELECT doc_id, term, count(*) AS cnt FROM kept
      |  GROUP BY doc_id, term HAVING count(*) >= 2
      |), tf AS (
      |  SELECT doc_id, term, cnt,
      |    CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY doc_id) AS DOUBLE) AS tf
      |  FROM counts
      |), idf AS (
      |  SELECT term, count(*) AS df,
      |    round(ln(CAST((SELECT count(DISTINCT doc_id) FROM counts) AS DOUBLE)
      |       / CAST(count(*) AS DOUBLE)), 9) AS idf
      |  FROM counts GROUP BY term
      |), tfidf AS (
      |  SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS tfidf
      |  FROM tf JOIN idf ON tf.term = idf.term
      |)
      |""".stripMargin

  val oracles: Map[String, String] = Map(
    "q11_doc_term_counts" -> (TokCte +
      "SELECT doc_id, term, cnt FROM counts ORDER BY doc_id, term"),
    "q12_term_dictionary" -> (TokCte +
      """SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS id
        |FROM (SELECT DISTINCT term FROM kept) ORDER BY term""".stripMargin),
    // Same contract, distributed implementation — same oracle.
    // Frozen old dictionary + delta ids past the old max, is_new flag.
    "q234_dictionary_delta" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    generate_subscripts(regexp_split_to_array(text, '\s+'), 1) AS pos,
        |    unnest(regexp_split_to_array(text, '\s+')) AS tok
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, tok || ' ' || lead(tok) OVER
        |    (PARTITION BY doc_id ORDER BY pos) AS term
        |  FROM tk),
        |t1 AS (
        |  SELECT DISTINCT term FROM bi
        |  WHERE term IS NOT NULL AND doc_id < 400),
        |d1 AS (
        |  SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS id
        |  FROM t1),
        |t2 AS (
        |  SELECT DISTINCT term FROM bi
        |  WHERE term IS NOT NULL AND doc_id >= 400),
        |nw AS (SELECT term FROM t2 WHERE term NOT IN (SELECT term FROM t1)),
        |mx AS (SELECT CAST(coalesce(max(id), 0) AS BIGINT) AS m FROM d1),
        |d2 AS (
        |  SELECT term,
        |    CAST(mx.m + row_number() OVER (ORDER BY term) AS BIGINT) AS id
        |  FROM nw, mx)
        |SELECT term, id, CAST(0 AS BIGINT) AS is_new FROM d1
        |UNION ALL
        |SELECT term, id, CAST(1 AS BIGINT) AS is_new FROM d2
        |ORDER BY id""".stripMargin,
    "q96_term_dictionary_scalable" -> (TokCte +
      """SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS id
        |FROM (SELECT DISTINCT term FROM kept) ORDER BY term""".stripMargin),
    "q13_tf" -> (TokCte +
      "SELECT doc_id, term, cnt, tf FROM tf ORDER BY doc_id, term"),
    "q14_idf" -> (TokCte +
      "SELECT term, df, idf FROM idf ORDER BY term"),
    "q15_tfidf" -> (TokCte +
      "SELECT doc_id, term, tfidf FROM tfidf ORDER BY doc_id, term"),
    "q16_lang_term_mean" -> (TokCte +
      """SELECT d.lang, t.term,
        |  CAST(sum(CAST(round(t.tfidf*1000000) AS BIGINT)) AS DOUBLE)
        |    / (count(*) * 1000000.0) AS mean_tfidf,
        |  count(*) AS n_docs
        |FROM tfidf t JOIN documents d ON t.doc_id = d.doc_id
        |GROUP BY d.lang, t.term ORDER BY d.lang, t.term""".stripMargin),
    "q17_top_terms_per_lang" -> (TokCte +
      """SELECT lang, rk, term, mean_tfidf FROM (
        |  SELECT lang, term, mean_tfidf,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY mean_tfidf DESC, term) AS BIGINT) AS rk
        |  FROM (
        |    SELECT d.lang, t.term,
        |      CAST(sum(CAST(round(t.tfidf*1000000) AS BIGINT)) AS DOUBLE)
        |        / (count(*) * 1000000.0) AS mean_tfidf
        |    FROM tfidf t JOIN documents d ON t.doc_id = d.doc_id
        |    GROUP BY d.lang, t.term)
        |) WHERE rk <= 5 ORDER BY lang, rk""".stripMargin),
    "q18_top_terms_global" -> (TokCte +
      """SELECT term, count(*) AS total_cnt FROM kept
        |GROUP BY term ORDER BY total_cnt DESC, term LIMIT 10""".stripMargin),
    "q19_doc_vector_strings" -> (TokCte +
      """SELECT doc_id,
        |  string_agg(term || ':' || printf('%d.%04d', w4 // 10000, w4 % 10000),
        |             ',' ORDER BY term) AS vec
        |FROM (SELECT doc_id, term, CAST(round(tfidf*10000) AS BIGINT) AS w4 FROM tfidf)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )
}
