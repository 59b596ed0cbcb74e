package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis pack over the `documents` table — the training-data
  * pipeline ops (language-ID, quality scoring, token counting,
  * fingerprinting, TF-IDF) plus the reference's scalar text family
  * (SURVEY §2.8: F1 clean_text, A3/A5 counter aggregation, A6 TF-IDF,
  * F40 contains-one-of-list).
  *
  * Everything here is built-in Catalyst expressions (split / explode /
  * higher-order lambdas) — no UDFs — so whole-stage codegen covers the
  * full plan and filters/projections push into the parquet scan.
  *
  * Scale notes: per-doc ops are embarrassingly parallel (no shuffle at
  * all); term-frequency and TF-IDF shuffle only the exploded token
  * stream, with map-side partial aggregation shrinking it to
  * |vocab|-bounded partial states per task.
  */
object TextQueries extends QueryPack {

  /** The Okapi BM25 per-term contribution (k1=1.2, b=0.75, Lucene
    * non-negative idf), over columns n/df/tf/dl/avgdl — ONE arithmetic
    * shape shared by every BM25 face (t26 direct, t27 served, t28
    * incremental) so the scoring can never drift between them. Rounds
    * to 6 dp then casts decimal(18,6): the downstream sum is exact
    * decimal addition, order-independent under any partitioning.
    */
  private[queries] def bm25Contrib: org.apache.spark.sql.Column =
    round(log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1)) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
      .cast("decimal(18,6)")

  /** The DuckDB restatement of bm25Contrib — counts cast to DOUBLE
    * before arithmetic so both engines run identical IEEE math.
    */
  private[queries] val bm25ContribSql =
    """cast(round(ln((cast(n - df AS DOUBLE) + 0.5) / (cast(df AS DOUBLE) + 0.5) + 1) *
      |                    (cast(tf AS DOUBLE) * 2.2) /
      |                    (cast(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * cast(dl AS DOUBLE) / avgdl)),
      |                    6) AS decimal(18,6))""".stripMargin

  /** The DIRECT BM25 pipeline over the documents table, scored and
    * top-k'd — t26's exact plan, factored so s19's sparse leg runs the
    * SAME code instead of a pasted copy (one more face of the
    * bm25Contrib discipline: a scoring fix that touched only t26 while
    * s19 kept a stale paste would silently re-introduce cross-face
    * drift). ONE corpus-scale shuffle: tf groups on (doc, token) with
    * map-side combine; dl/df/avgdl all derive FROM tf; query terms
    * (5 highest-df tokens, token asc ties) and scalar stats broadcast;
    * the global top-k is TakeOrderedAndProject.
    */
  private[queries] def bm25Topk(s: org.apache.spark.sql.SparkSession,
                                d: String, k: Int): org.apache.spark.sql.DataFrame = {
    val words = graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = words.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val qterms = dfreq.orderBy(col("df").desc, col("token")).limit(5)
    tf.join(broadcast(qterms), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), bm25Contrib.as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** DuckDB restatement of [[bm25Topk]]: a CTE chain (no leading WITH)
    * ending in relation `bm(doc_id, bm25)` — the single copy every
    * direct-BM25 oracle splices, mirroring bm25ContribSql.
    */
  private[queries] def duckBm25TopkSql(k: Int): String =
    s"""words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |              tf AS (SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2),
       |              dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |              stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
       |              dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |              q AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 5),
       |              contrib AS (
       |                SELECT doc_id,
       |                  $bm25ContribSql AS c
       |                FROM tf JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
       |              bm AS (SELECT doc_id, cast(sum(c) AS double) AS bm25
       |                     FROM contrib GROUP BY doc_id
       |                     ORDER BY bm25 DESC, doc_id LIMIT $k)""".stripMargin

  /** PRODUCTION serve path for the persisted BM25 index (t27/t28/t29 —
    * VERDICT r8 directive 7): serve RECEIVES its query terms; it never
    * scans the corpus — or the full df table — to construct the query.
    * The terms map to their 64-way token-hash buckets through a LOCAL
    * relation (`hash()` is Spark's own Murmur3, computed by the
    * engine, never re-implemented driver-side), and BOTH the postings
    * and the df reads are statically partition-pruned to those
    * buckets, so serve I/O tracks the query's posting lists and df
    * partials, never the corpus (df is vocab-sized — small next to
    * postings, but a full scan per query is still O(vocab) I/O serve
    * has no right to). All four tables are read through
    * [[graft.sources.Sinks.readGenerations]]: df and postings resolve
    * only the probed `tb=` dirs of every generation, dl and stats one
    * dir per generation, and no read runs a listing or schema job.
    * `asOf` (t32) keeps every table to gen ≤ asOf and refuses when any
    * of them has folded a generation past it. df
    * partials sum per token at serve time (the
    * t28 additive layout; a fresh t27 index is the single-partial
    * case), tokens summing to ≤0 drop (post-takedown ghosts, t29),
    * and stats partials reduce to avgdl = sum(sum_dl)/sum(n) — exact
    * integer sums, one terminal division, bit-identical to a rebuilt
    * index's avg(). Returns the top-k plus `served_pruned` asserted
    * from the EXECUTED plans of BOTH pruned reads (the j20/k18
    * discipline).
    */
  private[graft] def bm25Serve(s: org.apache.spark.sql.SparkSession, idx: String,
                        terms: Seq[String], k: Int,
                        asOf: Option[Long] = None)
      : org.apache.spark.sql.DataFrame = {
    // an empty query is caller error — isin() over zero buckets would
    // quietly return an empty frame that LOOKS like "no matches"
    require(terms.nonEmpty, "bm25Serve: query terms must be non-empty")
    val termsDf = s.createDataFrame(
      java.util.Arrays.asList(terms.map(t =>
        org.apache.spark.sql.Row(t)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType))))
      .withColumn("tb", pmod(hash(col("token")), lit(64)))
    val buckets = termsDf.select("tb").collect().map(_.getInt(0))
      .distinct.sorted
    def read(t: String, probe: Option[(String, Seq[Int])] = None) =
      graft.sources.Sinks.readGenerations(s, s"$idx/$t", asOf, probe)
    def probedRead(t: String) = read(t, Some("tb" -> buckets.toSeq))
    val dfRead = probedRead("df")
    val postings = probedRead("postings")
    val served_pruned = graft.sources.Sinks.scansPrunedOn(postings, "tb") &&
      graft.sources.Sinks.scansPrunedOn(dfRead, "tb")
    val qdf = dfRead.join(broadcast(termsDf.select("token")), "token")
      .groupBy("token").agg(sum("df").as("df"))
      .where(col("df") > 0)
    val stats = read("stats")
      .agg((sum(col("sum_dl")).cast("double") /
        sum(col("n")).cast("double")).as("avgdl"),
        sum(col("n")).as("n"))
    postings
      .join(broadcast(qdf), "token")
      .join(read("dl").select(col("doc_id"), col("dl")), "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), bm25Contrib.as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
      .withColumn("served_pruned", lit(served_pruned))
  }

  /** TABLE-AWARE compaction of a generational BM25 index (the t33
    * face; see the gate for the full rationale): per-doc tables
    * (postings, dl) fold by concatenation through the generic
    * [[graft.sources.Sinks.rewriteGenerations]] machinery — postings
    * keep the term-bucket partition layout so serve's static tb prune
    * survives — while the ADDITIVE-partial tables merge: df sums per
    * (token, tb) with net-≤0 ghosts (takedown negatives, t29)
    * physically dropped, stats to the single (Σsum_dl, Σn) row. Every
    * per-table fold writes the `__committed` manifest first, so as-of
    * reads before the horizon refuse loudly through bm25Serve's
    * four-table horizon check. Serving the folded index is
    * bit-identical to serving the generational one: the merges ARE
    * the sums serve performs across partials. (dl folds unpartitioned
    * here — the gated layout; a corpus-scale deployment buckets dl by
    * doc hash and the fold preserves whatever inner layout exists.)
    */
  private[graft] def compactBm25(s: org.apache.spark.sql.SparkSession,
                                   idx: String): Unit = {
    // four independent per-table folds — concurrent jobs (guide §2.6,
    // round-15); each fold's manifest-then-swap protocol is per-dir.
    // awaitAllWrites settles ALL folds and cancels siblings on failure
    // (ADVICE r15 — a fail-fast await left orphan folds running)
    graft.sources.Sinks.awaitAllWrites(s, Seq(
      () => graft.sources.Sinks.compactGenerations(
        s, s"$idx/postings", Some("tb")),
      () => graft.sources.Sinks.rewriteGenerations(s, s"$idx/df", Some("tb"),
        df => df.groupBy("token", "tb").agg(sum("df").as("df"))
          .where(col("df") > 0)
          .select("token", "df", "tb")),
      () => graft.sources.Sinks.compactGenerations(s, s"$idx/dl", None),
      () => graft.sources.Sinks.rewriteGenerations(s, s"$idx/stats", None,
        st => st.agg(sum("sum_dl").as("sum_dl"), sum("n").as("n")))))
    ()
  }

  /** Land the four BM25 index tables (postings, df, dl, stats) from one
    * batch's term frequencies — shared by t27/t28/t29/t32/t33 (round-15).
    * Two measured fixes over the per-gate inline writes:
    *  1. `tf` is persisted and materialized ONCE — the four table writes
    *     each re-derived the tokenize + groupBy pipeline (4 passes);
    *  2. the four writes are INDEPENDENT jobs submitted concurrently
    *     (guide §2.6 — actions are only sequential because the driver
    *     calls them sequentially; each write's task tail leaves cores
    *     idle that the next write can fill).
    * Row content is identical to the sequential form; only scheduling
    * changes. `gen` adds the generation partition level (t32/t33).
    */
  private[queries] def landBm25Tables(s: org.apache.spark.sql.SparkSession,
                                      tf0: org.apache.spark.sql.DataFrame,
                                      idx: String, mode: String,
                                      gen: Option[Long] = None): Unit = {
    val tf = tf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      tf.count() // materialize once; the four writes read the cache
      def withGen(df: org.apache.spark.sql.DataFrame) =
        gen.map(g => df.withColumn("gen", lit(g))).getOrElse(df)
      val pcols = gen.map(_ => Seq("gen", "tb")).getOrElse(Seq("tb"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val writes = Seq(
        () => graft.sources.Sinks.clusterByPartition(
            withGen(tf.withColumn("tb", pmod(hash(col("token")), lit(64)))),
            "tb")
          .write.mode(mode).partitionBy(pcols: _*).parquet(s"$idx/postings"),
        () => graft.sources.Sinks.clusterByPartition(
            withGen(tf.groupBy("token").agg(count(lit(1)).as("df"))
              .withColumn("tb", pmod(hash(col("token")), lit(64)))), "tb")
          .write.mode(mode).partitionBy(pcols: _*).parquet(s"$idx/df"),
        () => {
          val w = withGen(dl).write.mode(mode)
          gen.fold(w)(_ => w.partitionBy("gen")).parquet(s"$idx/dl")
        },
        () => {
          val st = withGen(dl.agg(sum("dl").as("sum_dl"),
            count(lit(1)).as("n")))
          val w = st.write.mode(mode)
          gen.fold(w)(_ => w.partitionBy("gen")).parquet(s"$idx/stats")
        })
      // all-settled + sibling-cancel (ADVICE r15): the unpersist below
      // must never run while a failed batch's siblings still read tf
      graft.sources.Sinks.awaitAllWrites(s, writes)
      ()
    } finally tf.unpersist()
  }

  /** the shared (doc_id, token, tf) batch aggregation the landers feed */
  private[queries] def tfOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  private val stopEn = "('the','a')"
  private val stopDe = "('der','die','das')"
  private val stopFr = "('le','la','les')"

  def all: Seq[Q] = Seq(

    // ---- F30: word-budget paragraph truncation — paragraphs of KNOWN
    // word counts (3 words each), budgets chosen so the cut lands
    // before/inside/after a boundary; the reference keeps a paragraph
    // that BREACHES the budget (checks before adding, counts after),
    // which the oracle restates literally
    // (citation_extraction_dataset_creator.py:397-411).
    Q("t17_word_budget",
      (s, d) => {
        val text = expr(
          """concat('eins zwei drei', chr(10), 'vier fünf sechs', chr(10),
                    'sieben acht neun', chr(10), 'zehn elf zwölf')""")
        val budget = expr( // budgets 4, 7, 10, 1 — mid-paragraph cuts + a sub-paragraph one
          "CAST(CASE doc_id % 4 WHEN 3 THEN 1 ELSE (doc_id % 4 + 2) * 3 - 2 END AS INT)")
        val truncUdf = udf { (t: String, n: Int) =>
          graft.functions.TextFunctions.truncateParagraphs(t, n) }
        Tables.documents(s, d)
          .withColumn("truncated", truncUdf(text, budget))
          .select(col("doc_id"),
            col("truncated"),
            size(split(col("truncated"), "\n")).cast("bigint").as("n_paras"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 4 AS INT)
                  WHEN 0 THEN 'eins zwei drei' || chr(10) || 'vier fünf sechs'
                  WHEN 1 THEN 'eins zwei drei' || chr(10) || 'vier fünf sechs' || chr(10) || 'sieben acht neun'
                  WHEN 2 THEN 'eins zwei drei' || chr(10) || 'vier fünf sechs' || chr(10) || 'sieben acht neun' || chr(10) || 'zehn elf zwölf'
                  ELSE 'eins zwei drei'
                END AS truncated,
                CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 2 WHEN 1 THEN 3
                  WHEN 2 THEN 4 ELSE 1 END AS BIGINT) AS n_paras
              FROM documents""")),

    // ---- F17: roman-numeral parsing — literal roman strings on BOTH
    // sides (subtractive forms included), so the oracle states the
    // integer ground truth without running any conversion.
    Q("t18_roman_parse",
      (s, d) => {
        val roman = expr(
          """CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 'I' WHEN 1 THEN 'IV' WHEN 2 THEN 'IX'
             WHEN 3 THEN 'XIV' WHEN 4 THEN 'XL' WHEN 5 THEN 'XCIX'
             WHEN 6 THEN 'MCMXCIX' ELSE 'MMXXIV' END""")
        val parseUdf = udf { r: String =>
          graft.functions.TextFunctions.romanToInt(r) }
        val emitUdf = udf { n: Int =>
          graft.functions.TextFunctions.intToRoman(n) }
        Tables.documents(s, d)
          .withColumn("roman", roman)
          .withColumn("value", parseUdf(col("roman")))
          .select(col("doc_id"), col("roman"),
            col("value").cast("bigint").as("value"),
            emitUdf(col("value")).as("round_trip"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 8 AS INT)
                  WHEN 0 THEN 'I' WHEN 1 THEN 'IV' WHEN 2 THEN 'IX'
                  WHEN 3 THEN 'XIV' WHEN 4 THEN 'XL' WHEN 5 THEN 'XCIX'
                  WHEN 6 THEN 'MCMXCIX' ELSE 'MMXXIV' END AS roman,
                CAST(CASE CAST(doc_id % 8 AS INT)
                  WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 9
                  WHEN 3 THEN 14 WHEN 4 THEN 40 WHEN 5 THEN 99
                  WHEN 6 THEN 1999 ELSE 2024 END AS BIGINT) AS value,
                CASE CAST(doc_id % 8 AS INT)
                  WHEN 0 THEN 'I' WHEN 1 THEN 'IV' WHEN 2 THEN 'IX'
                  WHEN 3 THEN 'XIV' WHEN 4 THEN 'XL' WHEN 5 THEN 'XCIX'
                  WHEN 6 THEN 'MCMXCIX' ELSE 'MMXXIV' END AS round_trip
              FROM documents""")),

    // ---- Token counting (F34 analog): whitespace tokens, distinct
    // tokens, 3-gram shingle count. Pure per-row expressions.
    Q("t1_token_stats",
      (s, d) => {
        graft.GraftExtensions.registerNative(s)
        Tables.documents(s, d)
          .withColumn("w", split(col("text"), " "))
          .select(
            col("doc_id"),
            size(col("w")).cast("bigint").as("n_tokens"),
            size(array_distinct(col("w"))).cast("bigint").as("n_distinct_tokens"),
            size(expr("array_distinct(word_ngrams(w, 3))"))
              .cast("bigint").as("n_shingles"))
      },
      Some("""SELECT doc_id,
                cast(len(w) as bigint) AS n_tokens,
                cast(len(list_distinct(w)) as bigint) AS n_distinct_tokens,
                cast(len(list_distinct(list_transform(range(1, len(w)-1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) as bigint) AS n_shingles
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)""")),

    // ---- BPE-ish token counting (F34's second tier): the GPT-2
    // pretokenizer split — contractions, space-prefixed letter runs,
    // digit runs, punctuation runs, whitespace — as a pure regex count
    // (RE2-compatible: no lookahead, so the same pattern runs on both
    // engines). Suffix synthesizes contractions/digits/punctuation so
    // the split genuinely differs from the whitespace count.
    Q("t9_bpe_tokens",
      (s, d) => {
        val pat = "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
        Tables.documents(s, d)
          .withColumn("body", concat(col("text"), lit(" it's v2.0 (no. 42)!")))
          .select(col("doc_id"),
            size(split(col("body"), " ")).cast("bigint").as("n_ws_tokens"),
            size(regexp_extract_all(col("body"), lit(pat), lit(0)))
              .cast("bigint").as("n_bpe_tokens"))
      },
      Some("""SELECT doc_id,
                cast(len(string_split(body, ' ')) as bigint) AS n_ws_tokens,
                cast(len(regexp_extract_all(body,
                  '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
                  as bigint) AS n_bpe_tokens
              FROM (SELECT doc_id, text || ' it''s v2.0 (no. 42)!' AS body
                    FROM documents)""")),

    // ---- TRUE merge-table BPE (F34's third tier, graft.functions.Bpe):
    // the real GPT-2 bpe() loop — pretokenize, then repeatedly merge the
    // lowest-ranked adjacent pair from the bundled merges.txt. The
    // synthesis uses words whose token sequences are HAND-DERIVED from
    // the merge table (ground truth by construction, like the x-queries);
    // the oracle states both the token strings and counts literally.
    // E.g. 'gericht' fully merges through ch→cht→richt→gericht (ranks
    // 1,4,5,6 with ge/ri in between) while 'bericht' stalls at
    // [b, e, richt] because 'b e' is not in the table.
    Q("t13_bpe_merge",
      (s, d) => {
        val body = expr(
          """CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 'das gericht'
             WHEN 1 THEN 'urteil und bericht'
             WHEN 2 THEN 'recht oder gericht'
             ELSE 'weder gericht noch urteil' END""")
        val bpeUdf = udf { t: String =>
          graft.functions.Bpe.tokenize(t, graft.functions.Bpe.bundled)
        }
        Tables.documents(s, d)
          .withColumn("toks", bpeUdf(body))
          .select(col("doc_id"),
            array_join(col("toks"), " ").as("bpe_tokens"),
            size(col("toks")).cast("bigint").as("n_bpe_tokens"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 4 AS INT)
                  WHEN 0 THEN 'd a s gericht'
                  WHEN 1 THEN 'urteil u n d b e richt'
                  WHEN 2 THEN 'r e cht o d er gericht'
                  ELSE 'we d er gericht n o ch urteil' END AS bpe_tokens,
                CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 4
                  WHEN 1 THEN 7 WHEN 2 THEN 7 ELSE 8 END AS BIGINT) AS n_bpe_tokens
              FROM documents""")),

    // ---- F34 WordPiece tier (t16): greedy longest-match over the
    // bundled BERT-format vocab — the tokenizer family the reference's
    // P7 cutoffs are calibrated in (num_tokens_bert = len(input_ids),
    // abstract_preprocessor.py:286-288). The bundled vocab is
    // REALISTIC-SCALE (30 522 cased de/fr/it entries, the
    // bert-base-cased family size the reference loads), generated
    // deterministically by tools/gen_wordpiece_vocab.py. Fixtures
    // exercise full-compound match, stem+##s continuation, punctuation
    // split-off, the known-prefix + char-continuation fallback, and
    // the whole-word [UNK] path (Œ is outside the vocab); n_bert adds
    // the [CLS]/[SEP] pair like the reference's count. Oracle restates
    // the expected segmentation literally — derived independently by
    // the generator's own Python mirror (--derive).
    Q("t16_wordpiece",
      (s, d) => {
        val body = expr(
          """CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 'Das Bundesgericht weist die Beschwerde ab.'
             WHEN 1 THEN 'Urteile des Kantons Zürich'
             WHEN 2 THEN 'Die Beschwerde wird gutgeheissen!'
             ELSE 'Œuvre unbekannt' END""")
        val wpUdf = udf { t: String =>
          graft.functions.WordPiece.tokenize(t, graft.functions.WordPiece.bundled)
        }
        Tables.documents(s, d)
          .withColumn("toks", wpUdf(body))
          .select(col("doc_id"),
            array_join(col("toks"), " ").as("wp_tokens"),
            size(col("toks")).cast("bigint").as("n_wp_tokens"),
            (size(col("toks")) + 2).cast("bigint").as("n_bert"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 4 AS INT)
                  WHEN 0 THEN 'Das Bundesgericht weist die Beschwerde ab .'
                  WHEN 1 THEN 'Urteile des Kanton ##s Zürich'
                  WHEN 2 THEN 'Die Beschwerde wird gutgeheissen !'
                  ELSE '[UNK] un ##b ##e ##k ##a ##n ##n ##t' END AS wp_tokens,
                CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 7
                  WHEN 1 THEN 5 WHEN 2 THEN 5 ELSE 9 END AS BIGINT) AS n_wp_tokens,
                CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 9
                  WHEN 1 THEN 7 WHEN 2 THEN 7 ELSE 11 END AS BIGINT) AS n_bert
              FROM documents""")),

    // ---- A3 with the lemma/POS feeder (graft.functions.Lemmatizer):
    // per-doc lemma|pos counter maps merged through the native
    // counter_merge aggregate — the reference's per-chunk spaCy
    // Counter rollup with a deterministic rule tagger. The synthesis
    // uses words whose (lemma, pos) are hand-derived from the rule
    // table; the oracle states the corpus totals arithmetically.
    Q("t14_lemma_counts",
      (s, d) => {
        graft.GraftExtensions.registerNative(s)
        val body = expr(
          """CASE WHEN doc_id % 2 = 0
             THEN 'Die Gerichte prüfen die Beschwerden der Parteien'
             ELSE 'Das Gericht prüft eine Verfügung und entscheidet heute' END""")
        val counterUdf = udf { t: String => graft.functions.Lemmatizer.counter(t) }
        Tables.documents(s, d)
          .withColumn("cnt", counterUdf(body))
          .agg(expr("counter_merge(cnt)").as("total"))
          .select(explode(col("total")).as(Seq("key", "n")))
          .select(substring_index(col("key"), "\t", 1).as("lemma"),
            substring_index(col("key"), "\t", -1).as("pos"),
            col("n"))
      },
      Some("""WITH n AS (SELECT
                  count(*) FILTER (WHERE doc_id % 2 = 0) AS ne,
                  count(*) FILTER (WHERE doc_id % 2 = 1) AS no
                FROM documents)
              SELECT lemma, pos, n FROM (
                SELECT 'der' AS lemma, 'DET' AS pos, 3*ne + no AS n FROM n
                UNION ALL SELECT 'Gericht', 'NOUN', ne + no FROM n
                UNION ALL SELECT 'prüfen', 'VERB', ne + no FROM n
                UNION ALL SELECT 'Beschwerde', 'NOUN', ne FROM n
                UNION ALL SELECT 'Partei', 'NOUN', ne FROM n
                UNION ALL SELECT 'ein', 'DET', no FROM n
                UNION ALL SELECT 'Verfügung', 'NOUN', no FROM n
                UNION ALL SELECT 'und', 'CCONJ', no FROM n
                UNION ALL SELECT 'entscheiden', 'VERB', no FROM n
                UNION ALL SELECT 'heute', 'ADV', no FROM n) t""")),

    // ---- A3 trilingual: the lemma/POS counter dispatched on the
    // language column — German, French, and Italian rule tiers in one
    // rollup (the reference's per-language spaCy models). Hand-derived
    // tags per sentence; arithmetic oracle.
    Q("t15_lemma_trilingual",
      (s, d) => {
        graft.GraftExtensions.registerNative(s)
        val lang = expr(
          """CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'de'
             WHEN 1 THEN 'fr' ELSE 'it' END""")
        val body = expr(
          """CASE CAST(doc_id % 3 AS INT)
             WHEN 0 THEN 'Die Gerichte prüfen die Beschwerden der Parteien'
             WHEN 1 THEN 'les tribunaux sont contre les décisions'
             ELSE 'le decisioni e i ricorsi' END""")
        val counterUdf = udf { (t: String, l: String) =>
          graft.functions.Lemmatizer.counter(t, l)
        }
        Tables.documents(s, d)
          .withColumn("cnt", counterUdf(body, lang))
          .agg(expr("counter_merge(cnt)").as("total"))
          .select(explode(col("total")).as(Seq("key", "n")))
          .select(substring_index(col("key"), "\t", 1).as("lemma"),
            substring_index(col("key"), "\t", -1).as("pos"),
            col("n"))
      },
      Some("""WITH n AS (SELECT
                  count(*) FILTER (WHERE doc_id % 3 = 0) AS nd,
                  count(*) FILTER (WHERE doc_id % 3 = 1) AS nf,
                  count(*) FILTER (WHERE doc_id % 3 = 2) AS ni
                FROM documents)
              SELECT lemma, pos, n FROM (
                SELECT 'der' AS lemma, 'DET' AS pos, 3*nd AS n FROM n
                UNION ALL SELECT 'Gericht', 'NOUN', nd FROM n
                UNION ALL SELECT 'prüfen', 'VERB', nd FROM n
                UNION ALL SELECT 'Beschwerde', 'NOUN', nd FROM n
                UNION ALL SELECT 'Partei', 'NOUN', nd FROM n
                UNION ALL SELECT 'le', 'DET', 2*nf FROM n
                UNION ALL SELECT 'tribunal', 'NOUN', nf FROM n
                UNION ALL SELECT 'être', 'AUX', nf FROM n
                UNION ALL SELECT 'contre', 'ADP', nf FROM n
                UNION ALL SELECT 'décision', 'NOUN', nf FROM n
                UNION ALL SELECT 'il', 'DET', 2*ni FROM n
                UNION ALL SELECT 'decisione', 'NOUN', ni FROM n
                UNION ALL SELECT 'e', 'CCONJ', ni FROM n
                UNION ALL SELECT 'ricorso', 'NOUN', ni FROM n) t""")),

    // ---- Quality scoring: length + stopword ratio + punctuation
    // ratio → quality bucket (the training-data triad; explicit ASCII
    // punctuation class so both regex engines count identically).
    Q("t2_quality_score",
      (s, d) => {
        val punct = "[!-/:-@\\[-`{-~]"
        Tables.documents(s, d)
          .withColumn("w", split(col("text"), " "))
          .withColumn("stop_ratio", round(
            size(expr(s"filter(w, x -> x IN $stopEn)")).cast("double") / size(col("w")), 6))
          .withColumn("punct_ratio", round(
            size(regexp_extract_all(col("text"), lit(punct), lit(0))).cast("double") /
              col("n_chars"), 6))
          .select(
            col("doc_id"),
            col("n_chars").cast("bigint").as("n_chars"),
            size(col("w")).cast("bigint").as("n_tokens"),
            col("stop_ratio"),
            col("punct_ratio"),
            when(col("n_chars") < 100, "too_short")
              .when(col("punct_ratio") > lit(0.1), "punct_heavy")
              .when(col("stop_ratio") > lit(0.15), "boilerplate")
              .otherwise("ok").as("quality"))
      },
      Some(s"""SELECT doc_id, cast(n_chars as bigint) AS n_chars,
                cast(len(w) as bigint) AS n_tokens, stop_ratio, punct_ratio,
                CASE WHEN n_chars < 100 THEN 'too_short'
                     WHEN punct_ratio > 0.1 THEN 'punct_heavy'
                     WHEN stop_ratio > 0.15 THEN 'boilerplate'
                     ELSE 'ok' END AS quality
              FROM (SELECT doc_id, n_chars, w,
                      round(cast(len(list_filter(w, x -> x IN $stopEn)) as double) / len(w), 6) AS stop_ratio,
                      round(cast(len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) as double) / n_chars, 6) AS punct_ratio
                    FROM (SELECT doc_id, n_chars, text, string_split(text, ' ') AS w FROM documents))""")),

    // ---- TOKEN-BUDGET corpus selection (the final assembly step of a
    // training-data pipeline): rank documents by a quality key
    // (cleanest first — punct_ratio asc, doc_id tiebreak) and keep them
    // until the token budget (40% of corpus tokens, computed exactly in
    // integer arithmetic) is spent. The running total comes from
    // GlobalRank.withGlobalPrefixSum — range-partition + local sort,
    // per-partition sums collapsed to a broadcast offset table, within-
    // partition running sums partition-parallel — NEVER a global
    // single-task window; at 100 TB the only single-partition state is
    // one row per range partition. Oracle restates the same order,
    // running sum, and integer budget.
    Q("t24_token_budget_select",
      (s, d) => {
        val punct = "[!-/:-@\\[-`{-~]"
        val docs = Tables.documents(s, d)
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
          .withColumn("punct_ratio", round(
            size(regexp_extract_all(col("text"), lit(punct), lit(0))).cast("double") /
              col("n_chars"), 6))
          .select("doc_id", "n_tokens", "punct_ratio")
        val withCum = graft.operators.GlobalRank.withGlobalPrefixSum(
          docs, Seq(col("punct_ratio"), col("doc_id")),
          col("n_tokens"), "cum_tokens")
        // the corpus total IS the final running total — deriving the
        // budget from the prefix-summed frame reuses the cached
        // range-partitioned pass instead of paying a second full
        // tokenize scan just for one scalar
        val budget = withCum.agg(expr("(max(cum_tokens) * 2) DIV 5").as("budget"))
        withCum
          .crossJoin(broadcast(budget))
          .where(col("cum_tokens") <= col("budget"))
          .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
            col("cum_tokens"))
      },
      Some("""WITH t AS (SELECT doc_id,
                cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
                round(cast(len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) as double)
                  / n_chars, 6) AS punct_ratio
              FROM documents),
              c AS (SELECT *,
                      sum(n_tokens) OVER (ORDER BY punct_ratio, doc_id) AS cum_tokens,
                      (sum(n_tokens) OVER () * 2) // 5 AS budget
                    FROM t)
              SELECT doc_id, n_tokens, punct_ratio,
                cast(cum_tokens as bigint) AS cum_tokens
              FROM c WHERE cum_tokens <= budget""")),

    // ---- FILL-IN-MIDDLE transform (the FIM pretraining op code models
    // run over half their corpus): even doc_ids are rewritten
    // prefix/suffix/middle in PSM order with sentinel tokens, odd ones
    // pass through — the causal-LM dual. Pivots are the deterministic
    // thirds of the text (integer division, same 1-based substr
    // semantics both engines); a pure per-row map, zero shuffle.
    Q("t25_fim_transform",
      (s, d) => Tables.documents(s, d)
        .withColumn("l", length(col("text")))
        .withColumn("a", expr("l DIV 3"))
        .withColumn("b", expr("(l * 2) DIV 3"))
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0, lit("fim_psm")).otherwise(lit("causal"))
            .as("mode"),
          when(col("doc_id") % 2 === 0,
            concat(lit("<PRE>"), expr("substring(text, 1, a)"),
              lit("<SUF>"), expr("substring(text, b + 1, l - b)"),
              lit("<MID>"), expr("substring(text, a + 1, b - a)")))
            .otherwise(col("text")).as("out_text")),
      Some("""SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'fim_psm' ELSE 'causal' END AS mode,
                CASE WHEN doc_id % 2 = 0 THEN
                  '<PRE>' || substr(text, 1, CAST(length(text) // 3 AS INT))
                  || '<SUF>' || substr(text, CAST(length(text) * 2 // 3 AS INT) + 1,
                       length(text) - CAST(length(text) * 2 // 3 AS INT))
                  || '<MID>' || substr(text, CAST(length(text) // 3 AS INT) + 1,
                       CAST(length(text) * 2 // 3 AS INT) - CAST(length(text) // 3 AS INT))
                ELSE text END AS out_text
              FROM documents""")),

    // ---- Language-ID (F35 analog): stopword-hit n-gram heuristic,
    // argmax across language marker lists, tie → 'unk'.
    Q("t3_lang_guess",
      (s, d) => Tables.documents(s, d)
        .withColumn("w", split(col("text"), " "))
        .withColumn("en", size(expr(s"filter(w, x -> x IN $stopEn)")))
        .withColumn("de", size(expr(s"filter(w, x -> x IN $stopDe)")))
        .withColumn("fr", size(expr(s"filter(w, x -> x IN $stopFr)")))
        .select(col("doc_id"),
          when(col("en") > col("de") && col("en") > col("fr"), "en")
            .when(col("de") > col("en") && col("de") > col("fr"), "de")
            .when(col("fr") > col("en") && col("fr") > col("de"), "fr")
            .otherwise("unk").as("lang_guess")),
      Some(s"""SELECT doc_id,
                CASE WHEN en > de AND en > fr THEN 'en'
                     WHEN de > en AND de > fr THEN 'de'
                     WHEN fr > en AND fr > de THEN 'fr'
                     ELSE 'unk' END AS lang_guess
              FROM (SELECT doc_id,
                      len(list_filter(w, x -> x IN $stopEn)) AS en,
                      len(list_filter(w, x -> x IN $stopDe)) AS de,
                      len(list_filter(w, x -> x IN $stopFr)) AS fr
                    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))""")),

    // ---- Language-ID, trigram tier (F35 proper): the character-
    // n-gram linear scorer (functions.LangId — fastText's model family,
    // JVM-native, deterministic) classifying synthesized sentences of
    // KNOWN language, including morphology its seed lists never saw;
    // the oracle is the ground-truth label. Per-row compiled pass, no
    // shuffle — the 100 TB shape is a map.
    Q("t10_langid_trigram",
      (s, d) => {
        val langIdUdf = udf { t: String => graft.functions.LangId.detect(t) }
        val body = expr(
          """CASE CAST(doc_id % 5 AS INT)
             WHEN 0 THEN 'Das Verwaltungsgericht weist die Beschwerde ab und auferlegt die Verfahrenskosten der unterliegenden Partei.'
             WHEN 1 THEN 'Le tribunal cantonal déclare le recours irrecevable et met les frais à la charge de la recourante.'
             WHEN 2 THEN 'Il tribunale federale respinge il ricorso e pone le spese giudiziarie a carico della parte soccombente.'
             WHEN 3 THEN 'The federal court dismisses the appeal and orders the losing party to bear the costs of the proceedings.'
             ELSE 'zzz qqq xxx 12345' END""")
        Tables.documents(s, d)
          .select(col("doc_id"), langIdUdf(body).as("lang"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'de' WHEN 1 THEN 'fr'
                     WHEN 2 THEN 'it' WHEN 3 THEN 'en' ELSE 'unk' END AS lang
              FROM documents""")),

    // ---- LM-based quality scoring, CCNet-shaped: a char-trigram
    // language model is TRAINED on a reference sample (every 10th doc),
    // and each document is scored by the fraction of its trigram
    // occurrences that are rare/unseen under that model — the quality
    // signal CCNet gets from KenLM perplexity, carried in EXACT integer
    // arithmetic (occurrence counts and a permille ratio) instead of
    // float log-probs, so the oracle is bit-stable across engines. At
    // scale: the LM is a broadcast dimension (distinct trigrams, tiny),
    // the corpus pays one explode + broadcast probe + one doc-key agg.
    Q("t22_lm_quality",
      (s, d) => {
        graft.GraftExtensions.registerNative(s)
        val docs = Tables.documents(s, d)
        val tri = docs.where(length(col("text")) >= 3)
          .select(col("doc_id"), explode(expr("char_ngrams(text, 3)")).as("g"))
        val lm = tri.where(col("doc_id") % 10 === 0)
          .groupBy("g").agg(count(lit(1)).as("c"))
        tri.join(broadcast(lm), Seq("g"), "left")
          .groupBy("doc_id")
          .agg(sum(when(col("c").isNull || col("c") < 5, 1L).otherwise(0L)).as("n_rare"),
            count(lit(1)).as("n_total"))
          .select(col("doc_id"), col("n_rare"), col("n_total"),
            expr("1000 * n_rare div n_total").as("rare_permille"))
      },
      Some("""WITH tri AS (SELECT doc_id,
                unnest(list_transform(range(1, length(text) - 1),
                  i -> substr(text, i, 3))) AS g
              FROM documents WHERE length(text) >= 3),
              lm AS (SELECT g, count(*) AS c FROM tri
                     WHERE doc_id % 10 = 0 GROUP BY 1),
              j AS (SELECT tri.doc_id,
                      CASE WHEN lm.c IS NULL OR lm.c < 5 THEN 1 ELSE 0 END AS rare
                    FROM tri LEFT JOIN lm USING (g))
              SELECT doc_id, cast(sum(rare) as bigint) AS n_rare,
                cast(count(*) as bigint) AS n_total,
                cast(1000 * sum(rare) // count(*) as bigint) AS rare_permille
              FROM j GROUP BY 1""")),

    // ---- Repetition quality signals (the Gopher-filter family a
    // training-data pipeline runs at scale): top-token mass fraction
    // (explode + map-side-combined agg, one row per distinct token in
    // the shuffle) and duplicate-trigram fraction (pure per-row
    // expression, zero shuffle).
    Q("t12_repetition_stats",
      (s, d) => {
        val docs = Tables.documents(s, d).withColumn("w", split(col("text"), " "))
        // top-token mass: explode + two-level agg — the shuffle carries
        // one row per (doc, distinct token), map-side combined
        val tr = docs.select(col("doc_id"), explode(col("w")).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(round(max("c").cast("double") / sum("c"), 6).as("top_token_ratio"))
        // duplicate-trigram fraction: pure per-row expression, no shuffle
        graft.GraftExtensions.registerNative(s)
        val gr = docs
          .withColumn("g", expr("word_ngrams(w, 3)"))
          .select(col("doc_id"),
            when(size(col("g")) > 0, round(
              lit(1.0) - size(array_distinct(col("g"))).cast("double") / size(col("g")), 6))
              .as("dup_trigram_ratio"))
        tr.join(gr, "doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              tok AS (SELECT doc_id, unnest(w) AS t FROM w),
              tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
              tr AS (SELECT doc_id,
                       round(cast(max(c) as double) / sum(c), 6) AS top_token_ratio
                     FROM tc GROUP BY 1),
              tg AS (SELECT doc_id,
                       list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g
                     FROM w),
              gr AS (SELECT doc_id,
                       CASE WHEN len(g) > 0 THEN
                         round(1 - cast(len(list_distinct(g)) as double) / len(g), 6)
                       END AS dup_trigram_ratio FROM tg)
              SELECT tr.doc_id, tr.top_token_ratio, gr.dup_trigram_ratio
              FROM tr JOIN gr ON tr.doc_id = gr.doc_id""")),

    // ---- Corpus term/document frequency (A3/A5/A14): explode + count
    // with map-side partial agg; the shuffle carries ≤|vocab| rows/task.
    Q("t4_term_frequency",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df")),
      Some("""SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
              GROUP BY token""")),

    // ---- TF-IDF (A6): per-(doc, token) tf × ln((N+1)/(df+1)).
    // df table is |vocab|-sized → broadcast; N is a scalar cross join.
    Q("t5_tfidf",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val tf = words.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfreq = words.groupBy("token").agg(countDistinct("doc_id").as("df"))
        val n = Tables.documents(s, d).agg(countDistinct("doc_id").as("n"))
        tf.join(broadcast(dfreq), "token").crossJoin(broadcast(n))
          .select(col("doc_id"), col("token"), col("tf"),
            round(col("tf") * log((col("n") + 1).cast("double") / (col("df") + 1)), 6)
              .as("tfidf"))
      },
      Some("""WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2),
              dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
              n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
              SELECT doc_id, tf.token, tf,
                round(tf * ln(cast(n + 1 as double) / (df + 1)), 6) AS tfidf
              FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n""")),

    // ---- BM25 retrieval scoring (t26): the ranking function a
    // training-data pipeline runs for RAG corpus construction and
    // query-based decontamination — TF-IDF (t5) plus saturation (k1)
    // and length normalization (b). Okapi parameters k1=1.2, b=0.75;
    // idf = ln((N − df + ½)/(df + ½) + 1), the Lucene non-negative
    // variant. The query is self-contained for determinism: the 5
    // highest-df tokens (token asc on ties). ONE corpus-scale shuffle:
    // tf groups on (doc, token) with map-side combine, and dl / df /
    // avgdl all derive FROM tf (dl = sum of a doc's tfs, df = the
    // token's tf-group count), so every downstream aggregate reuses
    // the tf exchange instead of re-exploding the corpus. The query
    // terms and corpus stats broadcast; the global top-20 is
    // TakeOrderedAndProject (no full sort). Per-term contributions
    // round to 6 dp THEN accumulate as decimal(18,6) — the sum is
    // order-independent (exact decimal addition), so the score never
    // wobbles with partitioning; double out per convention. The oracle
    // casts each count to DOUBLE before arithmetic so both engines run
    // identical IEEE math (DuckDB would otherwise compute tf*2.2 in
    // exact decimal — a systematic 1-ulp divergence feeding the round).
    Q("t26_bm25_topk",
      (s, d) => bm25Topk(s, d, 20),
      Some(s"""WITH ${duckBm25TopkSql(20)}
              SELECT doc_id, bm25 FROM bm""")),

    // ---- BM25 SERVED from a PERSISTED inverted index (t27): the
    // retrieval dual of s13's served IVF — at 100 TB you do not
    // re-explode the corpus per query; you index ONCE and serve many.
    // The index is three parquet tables: postings (doc, token, tf)
    // PARTITIONED BY a 64-way token-hash bucket, per-token df
    // partitioned the same way, and (doc length, corpus stats). The
    // serve path maps the query's terms to their buckets and reads
    // ONLY those partitions — a static partition prune, so serve I/O
    // tracks the query's posting lists, never the corpus (asserted in
    // the `served_pruned` column from the executed plan's
    // PartitionFilters, the j20/k18 discipline). Scoring joins the
    // pruned postings to doc lengths (shuffles postings only) with the
    // query terms and scalar stats broadcast; identical arithmetic to
    // t26, same oracle shape — the index layout can never change the
    // scores.
    Q("t27_bm25_index_served",
      (s, d) => {
        val idx = Scratch.dir("graft_t27_").toString
        // one persisted tf, tb-clustered writes, four tables landed
        // concurrently — landBm25Tables (round-15); stats land as
        // ADDITIVE partials (sum_dl, n), the t28 layout from day one,
        // so serve reduces them identically whether the index was
        // built once or grown incrementally
        landBm25Tables(s, tfOf(Tables.documents(s, d)), idx, "error")
        // ---- query SELECTION (harness-side, not serve): the 5
        // highest-df terms keep the gate deterministic. Serve itself
        // receives the terms and reads df through the same bucket
        // prune as postings (bm25Serve — VERDICT r8 directive 7).
        val terms = s.read.parquet(s"$idx/df")
          .orderBy(col("df").desc, col("token")).limit(5)
          .select("token").collect().map(_.getString(0)).toSeq
        bm25Serve(s, idx, terms, 20)
      },
      Some(s"""WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2),
              dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
              dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              q AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 5),
              contrib AS (
                SELECT doc_id,
                  $bm25ContribSql AS c
                FROM tf JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
              SELECT doc_id, cast(sum(c) AS double) AS bm25, TRUE AS served_pruned
              FROM contrib GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // ---- INCREMENTAL maintenance of the inverted index (t28): the
    // d13/s14 story for retrieval — when a batch of documents lands,
    // only THAT BATCH is tokenized and appended; the standing corpus is
    // never re-scanned. The layout makes every index statistic
    // ADDITIVE: postings are per-doc rows (a doc lands once), df lands
    // as per-batch partials summed at serve time, and corpus stats land
    // as (sum_dl, n) partials — avgdl is computed at serve as one
    // division of exact integer sums, so the incremental index scores
    // BIT-IDENTICALLY to a full rebuild (integer sums below 2^53 are
    // exact in double; the oracle is the same full-corpus BM25). Serve
    // path = t27's (bucket partition prune asserted in
    // `served_pruned`); the gate lands the corpus in two batches and
    // the oracle knows nothing about batches — any double-count or
    // missed merge shifts df/avgdl and the scores.
    Q("t28_bm25_index_append",
      (s, d) => {
        val idx = Scratch.dir("graft_t28_").toString
        // one persisted tf + concurrent 4-table landing per batch
        // (landBm25Tables, round-15)
        def indexBatch(docs: org.apache.spark.sql.DataFrame): Unit =
          landBm25Tables(s, tfOf(docs), idx, "append")
        val docs = Tables.documents(s, d)
        indexBatch(docs.where(col("doc_id") % 5 =!= 0)) // standing corpus
        indexBatch(docs.where(col("doc_id") % 5 === 0)) // appended batch
        // query selection (harness-side): highest MERGED df; serve
        // receives the terms and re-derives df through its own pruned
        // read (bm25Serve)
        val terms = s.read.parquet(s"$idx/df")
          .groupBy("token").agg(sum("df").as("df"))
          .orderBy(col("df").desc, col("token")).limit(5)
          .select("token").collect().map(_.getString(0)).toSeq
        bm25Serve(s, idx, terms, 20)
      },
      Some(s"""WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2),
              dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
              dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              q AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 5),
              contrib AS (
                SELECT doc_id,
                  $bm25ContribSql AS c
                FROM tf JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
              SELECT doc_id, cast(sum(c) AS double) AS bm25, TRUE AS served_pruned
              FROM contrib GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // ---- TAKEDOWN on the inverted index (t29): the CRUD face the
    // other served stores already have (keep-list d21, band index d22,
    // IVF s17), and the place the ADDITIVE layout earns its keep twice:
    // deleting docs appends NEGATIVE df and stats partials computed
    // from ONLY the deleted docs' own postings/lengths (touch tracks
    // the takedown, never the corpus), while the per-doc tables
    // (postings, dl) drop the rows physically in one rename-aside swap
    // each — no full-statistics rebuild anywhere. The serve-time sums
    // then see exactly the surviving corpus: idf, avgdl, N, and the
    // query-term selection itself all shift, which the oracle (BM25
    // over surviving docs only) verifies end-to-end; a missed negative
    // partial or a survivor dropped by the rewrite shifts scores and
    // fails the hash.
    Q("t29_bm25_index_delete",
      (s, d) => {
        val idx = Scratch.dir("graft_t29_").toString
        val fs = org.apache.hadoop.fs.FileSystem.get(
          s.sparkContext.hadoopConfiguration)
        val docs = Tables.documents(s, d)
        // one persisted tf + concurrent 4-table landing (round-15)
        landBm25Tables(s, tfOf(docs), idx, "error")
        // ---- the takedown: doc_id % 10 == 0 must be forgotten
        val del = docs.where(col("doc_id") % 10 === 0)
          .select("doc_id").persist()
        val victimPostings = s.read.parquet(s"$idx/postings")
          .join(broadcast(del), "doc_id")
        graft.sources.Sinks.clusterByPartition(
            victimPostings.groupBy("token")
              .agg((-count(lit(1))).as("df"))
              .withColumn("tb", pmod(hash(col("token")), lit(64))), "tb")
          .write.mode("append").partitionBy("tb").parquet(s"$idx/df")
        s.read.parquet(s"$idx/dl").join(broadcast(del), "doc_id")
          .agg((-coalesce(sum("dl"), lit(0L))).as("sum_dl"),
            (-count(lit(1))).as("n"))
          .write.mode("append").parquet(s"$idx/stats")
        graft.sources.Sinks.swapRewrite(fs, s"$idx/postings")(tmp =>
          graft.sources.Sinks.clusterByPartition(
              s.read.parquet(s"$idx/postings")
                .join(broadcast(del), Seq("doc_id"), "left_anti"), "tb")
            .write.partitionBy("tb").parquet(tmp))
        graft.sources.Sinks.swapRewrite(fs, s"$idx/dl")(tmp =>
          s.read.parquet(s"$idx/dl")
            .join(broadcast(del), Seq("doc_id"), "left_anti")
            .write.parquet(tmp))
        del.unpersist()
        // ---- serve (bm25Serve): the merged df sums now describe the
        // SURVIVORS; query selection (harness-side) picks from the
        // positive merged dfs, serve re-derives them through its own
        // pruned read and drops ≤0 ghosts itself
        val terms = s.read.parquet(s"$idx/df")
          .groupBy("token").agg(sum("df").as("df"))
          .where(col("df") > 0)
          .orderBy(col("df").desc, col("token")).limit(5)
          .select("token").collect().map(_.getString(0)).toSeq
        bm25Serve(s, idx, terms, 20)
      },
      Some(s"""WITH surv AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
              words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM surv),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2),
              dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
              dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              q AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 5),
              contrib AS (
                SELECT doc_id,
                  $bm25ContribSql AS c
                FROM tf JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
              SELECT doc_id, cast(sum(c) AS double) AS bm25, TRUE AS served_pruned
              FROM contrib GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // ---- TIME-TRAVEL serve of the inverted index (t32): the missing
    // lifecycle face — IVF has s18 and the keep-list d23, but a
    // training snapshot could not pin the exact retrieval state it was
    // built against. The index lands in GENERATION partition dirs
    // (gen, tb for the bucketed tables; gen for dl/stats), so a past
    // state is a subset union: serve as-of g adds gen ≤ g as a SECOND
    // static prune on the same scans — `served_pruned` still asserts
    // the executed plans' PartitionFilters. The contract mirrors d23
    // end-to-end in `asof_contract`: the at-head snapshot serves
    // byte-identically to the generation-blind view, and after a
    // compaction folds the generations, the pre-horizon snapshot
    // REFUSES loudly (claim-first manifest). Oracle: BM25 over the
    // batch-0 world only (even docs), batch- and layout-blind.
    Q("t32_bm25_index_asof",
      (s, d) => {
        val base = Scratch.dir("graft_t32_")
        val idx = base.resolve("idx").toString
        // one persisted tf + concurrent 4-table generational landing
        // (landBm25Tables, round-15; gen is one literal per call, so tb
        // is the only spreading key)
        def land(docs: org.apache.spark.sql.DataFrame, g: Long): Unit =
          landBm25Tables(s, tfOf(docs), idx, "append", gen = Some(g))
        val docs = Tables.documents(s, d)
        land(docs.where(col("doc_id") % 2 === 0), 0L)
        land(docs.where(col("doc_id") % 2 === 1), 1L)
        // query selection (harness-side): top df within the SNAPSHOT's
        // world — as-of must not see batch 1 even through the terms
        val terms = s.read.parquet(s"$idx/df").where(col("gen") <= 0)
          .groupBy("token").agg(sum("df").as("df"))
          .orderBy(col("df").desc, col("token")).limit(5)
          .select("token").collect().map(_.getString(0)).toSeq
        // materialize the snapshot BEFORE the compaction below — the
        // serve is lazy and the fold destroys the very gens it reads
        val outDir = base.resolve("asof0").toString
        bm25Serve(s, idx, terms, 20, asOf = Some(0L)).write.parquet(outDir)
        // at-head consistency: gen ≤ head ≡ generation-blind
        val termsHead = s.read.parquet(s"$idx/df")
          .groupBy("token").agg(sum("df").as("df"))
          .orderBy(col("df").desc, col("token")).limit(5)
          .select("token").collect().map(_.getString(0)).toSeq
        val headConsistent = bm25Serve(s, idx, termsHead, 20, asOf = Some(1L))
          .unionByName(bm25Serve(s, idx, termsHead, 20))
          .groupBy("doc_id", "bm25", "served_pruned").count()
          .where(col("count") =!= 2).isEmpty
        // compaction advances the horizon; the folded snapshot refuses
        graft.sources.Sinks.compactGenerations(s, s"$idx/postings", Some("tb"))
        val loud =
          try { bm25Serve(s, idx, terms, 20, asOf = Some(0L)); false }
          catch { case _: IllegalStateException => true }
        s.read.parquet(outDir)
          .withColumn("asof_contract", lit(headConsistent && loud))
      },
      Some(s"""WITH surv AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
              words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM surv),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2),
              dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
              dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              q AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 5),
              contrib AS (
                SELECT doc_id,
                  $bm25ContribSql AS c
                FROM tf JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
              SELECT doc_id, cast(sum(c) AS double) AS bm25, TRUE AS served_pruned,
                TRUE AS asof_contract
              FROM contrib GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // ---- COMPACTION of committed BM25 generations (t33): the read-
    // amplification face the other stores already close (keep-list
    // d15/d19/d31, IVF s22's fold) but the BM25 family did not — the
    // most expensive non-dedup tier at sf0.1 (t28 append 5.0 s, t32
    // as-of 8.2 s) accumulates one generation dir per batch and every
    // serve is a subset UNION over all of them, so read cost grows
    // with generation count, not index size. The fold is table-aware:
    // postings and dl are per-doc rows (a doc lands once) so their
    // generations CONCATENATE — postings through the generic
    // compactGenerations with the term-bucket layout preserved (serve's
    // static tb prune survives the fold); df and stats are ADDITIVE
    // PARTIALS so their generations MERGE — df sums per (token, tb)
    // with net-≤0 ghosts (t29's negative takedown partials) physically
    // dropped, stats to the single (Σsum_dl, Σn) row — exactly the
    // sums serve would have computed across partials, so serving the
    // folded index is BIT-IDENTICAL to serving the generational one.
    // The gate pins the full boundary contract in `compact_contract`:
    // head serve unchanged across the fold, as-of AT the horizon still
    // served (gen=-1 ≤ every snapshot), as-of BEFORE the horizon
    // refuses loudly (manifest, the d23 rule), and the postings layout
    // physically collapsed to the single folded generation. Oracle =
    // the full-corpus BM25, batch- and layout-blind.
    Q("t33_bm25_index_compact",
      (s, d) => {
        val idx = Scratch.dir("graft_t33_").resolve("idx").toString
        // one persisted tf + concurrent 4-table generational landing
        // (landBm25Tables, round-15)
        def land(docs: org.apache.spark.sql.DataFrame, g: Long): Unit =
          landBm25Tables(s, tfOf(docs), idx, "append", gen = Some(g))
        val docs = Tables.documents(s, d)
        land(docs.where(col("doc_id") % 2 === 0), 0L)
        land(docs.where(col("doc_id") % 2 === 1), 1L)
        // query selection (harness-side, t28's rule): top MERGED df —
        // invariant across the fold by construction
        val terms = s.read.parquet(s"$idx/df")
          .groupBy("token").agg(sum("df").as("df"))
          .orderBy(col("df").desc, col("token")).limit(5)
          .select("token").collect().map(_.getString(0)).toSeq
        val before = bm25Serve(s, idx, terms, 20).collect().toSeq
        compactBm25(s, idx)
        // the folded store stays valid (nothing mutates after the
        // fold), so the returned frame can re-serve lazily — unlike
        // t32, where the fold destroys the very gens the result reads
        val after = bm25Serve(s, idx, terms, 20)
        val unchanged = after.collect().toSeq == before
        // as-of AT the horizon: the folded gen=-1 is ≤ every snapshot,
        // so the max folded id still serves (and identically)
        val atHorizon = bm25Serve(s, idx, terms, 20, asOf = Some(1L))
          .collect().toSeq == before
        // BEFORE the horizon: folded generations are gone — refuse
        val loud =
          try { bm25Serve(s, idx, terms, 20, asOf = Some(0L)); false }
          catch { case _: IllegalStateException => true }
        // the layout physically collapsed: one folded generation left
        val fs = org.apache.hadoop.fs.FileSystem.get(
          s.sparkContext.hadoopConfiguration)
        val folded = Seq("postings", "df", "dl", "stats").forall { t =>
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/$t"))
            .map(_.getPath.getName).filter(_.startsWith("gen="))
            .toSeq == Seq("gen=-1")
        }
        after.withColumn("compact_contract",
          lit(unchanged && atHorizon && loud && folded))
      },
      Some(s"""WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2),
              dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
              dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              q AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 5),
              contrib AS (
                SELECT doc_id,
                  $bm25ContribSql AS c
                FROM tf JOIN q USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
              SELECT doc_id, cast(sum(c) AS double) AS bm25, TRUE AS served_pruned,
                TRUE AS compact_contract
              FROM contrib GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // ---- clean_text (F1, the oracle-expressible regex subset): build a
    // deterministic "dirty" variant then normalize whitespace. The full
    // NFKC path lives in functions.TextFunctions (ScalaTest-covered).
    Q("t6_clean_text",
      (s, d) => Tables.documents(s, d)
        .withColumn("dirty",
          concat(lit("  "), upper(substring(col("text"), 1, 10)), lit("\t"),
            col("text"), lit("   ")))
        .select(col("doc_id"),
          trim(regexp_replace(col("dirty"), "\\s+", " ")).as("cleaned")),
      Some("""SELECT doc_id,
                trim(regexp_replace('  ' || upper(substr(text, 1, 10)) || chr(9) || text || '   ',
                  '\s+', ' ', 'g')) AS cleaned
              FROM documents""")),

    // ---- F33 proper tier: UAX-#29 BreakIterator segmentation (see
    // TextFunctions.sentencesIcu) — survives the abbreviation-number
    // sequences the regex tier would shred ("Art. 5 Abs. 2", "Nr. 7");
    // the oracle enumerates the known segmentation of the synthesized
    // prose. Per-row map, no shuffle.
    Q("t11_sentence_icu",
      (s, d) => {
        val sentUdf = udf { t: String =>
          graft.functions.TextFunctions.sentencesIcu(t, "de") }
        Tables.documents(s, d)
          .withColumn("prose", concat(
            lit("Die Beschwerde wird abgewiesen. Gemäss Art. 5 Abs. 2 ist der Fall Nr. "),
            col("doc_id").cast("string"),
            lit(" klar? Das Gericht entscheidet heute!")))
          .select(col("doc_id"),
            posexplode(sentUdf(col("prose"))).as(Seq("sentence_idx", "sentence")))
          .select(col("doc_id"), col("sentence_idx").cast("bigint").as("sentence_idx"),
            col("sentence"))
      },
      Some("""SELECT d.doc_id, CAST(s.idx AS BIGINT) AS sentence_idx,
                CASE s.idx WHEN 0 THEN 'Die Beschwerde wird abgewiesen.'
                     WHEN 1 THEN 'Gemäss Art. 5 Abs. 2 ist der Fall Nr. ' || d.doc_id || ' klar?'
                     ELSE 'Das Gericht entscheidet heute!' END AS sentence
              FROM documents d CROSS JOIN (VALUES (0),(1),(2)) AS s(idx)""")),

    // ---- F33: sentence tokenization — split synthesized multi-sentence
    // text on terminal punctuation, explode, per-sentence word counts
    // (the nltk sent_tokenize analog; ICU BreakIterator plugs into the
    // same explode shape for language-aware splitting).
    Q("t8_sentence_split",
      (s, d) => Tables.documents(s, d)
        .withColumn("prose", concat(
          lit("Erster Satz. "), substring(col("text"), 1, 40),
          lit(". Zweiter Satz! "), substring(col("text"), 41, 40),
          lit("? Letzter Satz.")))
        // sentence boundary = terminal punctuation + space; marked with a
        // newline then split (lookbehind-free: DuckDB's RE2 has none)
        .select(col("doc_id"), posexplode(
          split(regexp_replace(col("prose"), "([.!?]) ", "$1\n"), "\n"))
          .as(Seq("sentence_idx", "sentence")))
        .where(length(col("sentence")) > 0)
        .select(col("doc_id"), col("sentence_idx").cast("bigint").as("sentence_idx"),
          col("sentence"),
          size(split(col("sentence"), " ")).cast("bigint").as("n_words")),
      Some("""WITH p AS (SELECT doc_id,
                'Erster Satz. ' || substr(text, 1, 40) || '. Zweiter Satz! ' ||
                substr(text, 41, 40) || '? Letzter Satz.' AS prose FROM documents),
              arr AS (SELECT doc_id,
                string_split(regexp_replace(prose, '([.!?]) ', '\1' || chr(10), 'g'),
                  chr(10)) AS sents FROM p),
              sent AS (SELECT doc_id, unnest(sents) AS sentence,
                generate_subscripts(sents, 1) - 1 AS sentence_idx FROM arr)
              SELECT doc_id, cast(sentence_idx as bigint) AS sentence_idx, sentence,
                cast(len(string_split(sentence, ' ')) as bigint) AS n_words
              FROM sent WHERE length(sentence) > 0""")),

    // ---- F40/P9: contains-one-of-list row filter (negation detection in
    // the reference) — `exists` higher-order predicate, codegen'd, pushed
    // as a scan-level filter.
    Q("t7_contains_filter",
      (s, d) => Tables.documents(s, d)
        .withColumn("w", split(col("text"), " "))
        .where(expr("exists(w, x -> x IN ('vector', 'stream'))"))
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""SELECT doc_id, lang, source FROM documents
              WHERE len(list_filter(string_split(text, ' '),
                x -> x IN ('vector', 'stream'))) > 0""")),

    // ---- PII scrubbing — the redaction pass a training-data pipeline
    // runs before corpus release (and the operator behind the court
    // corpus's A._/B._ anonymization discipline): mask emails, Swiss
    // phone numbers and AHV social-security ids. PII is INJECTED
    // deterministically per row so the masking is provably non-trivial;
    // patterns stay in the Java∩RE2 regex subset so both engines
    // compute identical text. Pure per-row map — zero shuffle.
    Q("t19_pii_mask",
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\+41 \\d{2} \\d{3} \\d{2} \\d{2}"
        val ahv = "756\\.\\d{4}\\.\\d{4}\\.\\d{2}"
        Tables.documents(s, d)
          .withColumn("body", concat(col("text"),
            lit(" Kontakt: user"), col("doc_id"), lit("@gericht.example.ch"),
            lit(" Tel. +41 79 123 45 "), format_string("%02d", col("doc_id") % 100),
            lit(" AHV 756.1234.5678."), format_string("%02d", col("doc_id") % 100)))
          .withColumn("masked",
            regexp_replace(regexp_replace(regexp_replace(col("body"),
              email, "<EMAIL>"), phone, "<PHONE>"), ahv, "<ID>"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("body"), lit(email), lit(0)))
              .cast("bigint").as("n_emails"),
            size(regexp_extract_all(col("body"), lit(phone), lit(0)))
              .cast("bigint").as("n_phones"),
            size(regexp_extract_all(col("body"), lit(ahv), lit(0)))
              .cast("bigint").as("n_ids"),
            expr("right(masked, 60)").as("masked_tail"))
      },
      Some("""WITH b AS (SELECT doc_id,
                text || ' Kontakt: user' || doc_id || '@gericht.example.ch' ||
                ' Tel. +41 79 123 45 ' || format('{:02d}', doc_id % 100) ||
                ' AHV 756.1234.5678.' || format('{:02d}', doc_id % 100) AS body
              FROM documents)
              SELECT doc_id,
                cast(len(regexp_extract_all(body,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) as bigint) AS n_emails,
                cast(len(regexp_extract_all(body,
                  '\+41 \d{2} \d{3} \d{2} \d{2}')) as bigint) AS n_phones,
                cast(len(regexp_extract_all(body,
                  '756\.\d{4}\.\d{4}\.\d{2}')) as bigint) AS n_ids,
                right(regexp_replace(regexp_replace(regexp_replace(body,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\+41 \d{2} \d{3} \d{2} \d{2}', '<PHONE>', 'g'),
                  '756\.\d{4}\.\d{4}\.\d{2}', '<ID>', 'g'), 60) AS masked_tail
              FROM b""")),

    // ---- Sequence packing — the concat-then-chunk pass every LLM
    // pretraining pipeline runs: documents concatenate in a stable
    // order and slice into fixed-token blocks (docs may straddle a
    // boundary; a doc's pack = its first token's position div budget).
    // One window cumsum per language partition, then a hash agg. At
    // corpus scale the partition key widens to (lang, shard) with
    // per-shard offsets stitched broadcast-side (operators.GlobalRank
    // is exactly that machinery) — never a single global window.
    Q("t20_sequence_pack",
      (s, d) => {
        val budget = 128L
        val byLang = Window.partitionBy("lang").orderBy("doc_id")
        Tables.documents(s, d)
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
          .withColumn("cum", sum("n_tokens").over(
            byLang.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("pack_id", expr(s"(cum - n_tokens) div $budget"))
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      },
      Some("""WITH t AS (SELECT lang, doc_id,
                cast(len(string_split(text, ' ')) as bigint) AS n_tokens FROM documents),
              c AS (SELECT lang, n_tokens,
                sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
              SELECT lang, cast((cum - n_tokens) // 128 as bigint) AS pack_id,
                count(*) AS n_docs, cast(sum(n_tokens) as bigint) AS n_tokens
              FROM c GROUP BY 1, 2""")),

    // ---- Overlapping token-window chunking — the RAG/embedding
    // chunker: 64-token windows at stride 48 (16-token overlap), last
    // window ragged. Pure per-row explode, zero shuffle; integer-only
    // window count (ceil via (a+b-1) div b) so both engines agree
    // exactly.
    Q("t21_overlap_chunks",
      (s, d) => {
        val (chunk, stride) = (64, 48)
        Tables.documents(s, d)
          .withColumn("w", split(col("text"), " "))
          .withColumn("n", size(col("w")).cast("bigint"))
          .withColumn("n_chunks",
            expr(s"1L + (greatest(0L, n - $chunk) + ${stride - 1}) div $stride"))
          .withColumn("chunk_idx", explode(expr("sequence(0L, n_chunks - 1)")))
          .select(col("doc_id"), col("chunk_idx"),
            least(lit(chunk.toLong), col("n") - col("chunk_idx") * stride)
              .as("n_chunk_tokens"),
            expr(s"element_at(w, cast(chunk_idx * $stride + 1 as int))")
              .as("head_token"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                cast(len(string_split(text, ' ')) as bigint) AS n FROM documents),
              c AS (SELECT doc_id, w, n,
                1 + (greatest(0, n - 64) + 47) // 48 AS n_chunks FROM t)
              SELECT doc_id, cast(i as bigint) AS chunk_idx,
                cast(least(64, n - i * 48) as bigint) AS n_chunk_tokens,
                w[cast(i * 48 + 1 as int)] AS head_token
              FROM (SELECT doc_id, w, n, unnest(range(n_chunks)) AS i FROM c)""")),

    // ---- (beyond ref) FUZZY citation resolution (t23): OCR'd /
    // mistyped citations matched to the canonical registry by edit
    // distance — the approximate tier of r7's exact resolution. The
    // scale shape is BLOCK-then-verify: candidates come from an
    // equi-join on the parsed volume token (each query meets ~10
    // registry rows, never the registry), levenshtein runs per
    // candidate, the winner is the (distance, id)-minimal row via a
    // per-query window over the bounded candidate set. Levenshtein is
    // the exact unit-cost DP in both engines, so the whole resolver
    // restates in the oracle.
    Q("t23_fuzzy_citation",
      (s, d) => {
        val canon = Tables.documents(s, d).select(col("doc_id"),
          expr("concat('BGE ', CAST(doc_id div 10 AS STRING), ' II ', CAST(doc_id % 97 AS STRING))")
            .as("cite"))
        val corrupt = canon.where(col("doc_id") % 5 === 0)
          .select(expr("replace(cite, 'II', 'I1')").as("q"),
            col("doc_id").as("true_id"))
        val cand = corrupt.join(canon,
            expr("split(q, ' ')[1]") === expr("CAST(doc_id div 10 AS STRING)"))
          .withColumn("dist", levenshtein(col("q"), col("cite")))
        val w = Window.partitionBy("q").orderBy(col("dist"), col("doc_id"))
        cand.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("q"), col("true_id"),
            col("doc_id").as("matched_id"), col("dist").cast("bigint").as("dist"))
      },
      Some("""WITH canon AS (SELECT doc_id,
                     'BGE ' || (doc_id // 10) || ' II ' || (doc_id % 97) AS cite
                   FROM documents),
              corrupt AS (SELECT replace(cite, 'II', 'I1') AS q, doc_id AS true_id
                          FROM canon WHERE doc_id % 5 = 0),
              cand AS (SELECT c.q, c.true_id, k.doc_id,
                              levenshtein(c.q, k.cite) AS dist
                       FROM corrupt c JOIN canon k
                         ON string_split(c.q, ' ')[2] = CAST(k.doc_id // 10 AS VARCHAR)),
              best AS (SELECT q, true_id, doc_id, dist,
                              row_number() OVER (PARTITION BY q ORDER BY dist, doc_id) AS rn
                       FROM cand)
              SELECT q, true_id, doc_id AS matched_id, CAST(dist AS BIGINT) AS dist
              FROM best WHERE rn = 1""")),

    // ---- TRAINED model-based filtering (t30): multinomial Naive Bayes
    // language classifier — the simplest member of the fastText-style
    // model-in-the-loop family every large pretraining pipeline runs
    // (train a cheap classifier on labeled docs, score the corpus,
    // filter/route on the prediction). Training IS aggregation: class
    // priors and Laplace-smoothed token likelihoods are pure counts
    // over the labeled split (doc_id % 5 <> 0), so the "trainer" is
    // two groupBys — no iteration, exactly restatable by the oracle.
    //
    // Scale: the model is |vocab|×|classes| rows (a broadcast dim —
    // vocabulary-bounded, corpus-size-independent); scoring is explode
    // → broadcast join → one shuffle on (doc, class) with map-side
    // combine; the argmax is a per-doc window. Numerics: the ONLY
    // float step is ln(count ratio) rounded to 6 dp then fixed as
    // decimal(18,6) (the bm25Contrib discipline); every downstream
    // op — tf × logp, the score sum, prior addition, the argmax
    // ordering — runs in EXACT decimal arithmetic, so the prediction
    // can never wobble with partitioning or summation order. Unseen
    // test tokens fall outside the train vocab and contribute nothing
    // (the standard NB inference choice, restated by the oracle);
    // vocab-empty docs score on priors alone via the left join.
    Q("t30_nb_langid",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val train = docs.where(col("doc_id") % 5 =!= 0)
        val test = docs.where(col("doc_id") % 5 === 0)
        val ttok = train.select(col("lang"),
          explode(split(col("text"), " ")).as("token"))
        val cls = train.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val ntr = train.agg(count(lit(1)).as("n_train"))
        val ct = ttok.groupBy("lang", "token").agg(count(lit(1)).as("ct"))
        val tokt = ttok.groupBy("lang").agg(count(lit(1)).as("tok_l"))
        val vocab = ttok.select("token").distinct()
        val vsz = vocab.agg(count(lit(1)).as("v"))
        val model = cls.select("lang").crossJoin(vocab)
          .join(ct, Seq("lang", "token"), "left")
          .join(tokt, "lang").crossJoin(broadcast(vsz))
          .select(col("lang"), col("token"),
            round(log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
              (col("tok_l") + col("v")).cast("double")), 6)
              .cast("decimal(18,6)").as("logp"))
        val prior = cls.crossJoin(broadcast(ntr))
          .select(col("lang"),
            round(log(col("n_docs").cast("double") /
              col("n_train").cast("double")), 6)
              .cast("decimal(18,6)").as("prior6"))
        val ttf = test.select(col("doc_id"),
          explode(split(col("text"), " ")).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val contrib = ttf.join(broadcast(model), "token")
          .select(col("doc_id"), col("lang"),
            (col("logp") * col("tf").cast("decimal(10,0)")).as("c"))
          .groupBy("doc_id", "lang").agg(sum("c").as("sc"))
        val scored = test.select(col("doc_id"), col("lang").as("true_lang"))
          .crossJoin(broadcast(prior))
          .join(contrib, Seq("doc_id", "lang"), "left")
          .select(col("doc_id"), col("true_lang"), col("lang"),
            (col("prior6") +
              coalesce(col("sc"), lit(0).cast("decimal(38,6)"))).as("score"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("lang"))
        scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("doc_id"), col("lang").as("pred_lang"), col("true_lang"),
            col("score").cast("double").as("score"),
            (col("lang") === col("true_lang")).as("correct"))
      },
      Some("""WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
              test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
              ttok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM train),
              cls AS (SELECT lang, count(*) AS n_docs FROM train GROUP BY 1),
              ntr AS (SELECT count(*) AS n_train FROM train),
              ct AS (SELECT lang, token, count(*) AS ct FROM ttok GROUP BY 1, 2),
              tokt AS (SELECT lang, count(*) AS tok_l FROM ttok GROUP BY 1),
              vocab AS (SELECT DISTINCT token FROM ttok),
              vsz AS (SELECT count(*) AS v FROM vocab),
              model AS (SELECT c.lang, vb.token,
                  cast(round(ln(cast(coalesce(ct.ct, 0) + 1 AS double) /
                    cast(tokt.tok_l + vsz.v AS double)), 6) AS decimal(18,6)) AS logp
                FROM cls c CROSS JOIN vocab vb
                LEFT JOIN ct ON ct.lang = c.lang AND ct.token = vb.token
                JOIN tokt ON tokt.lang = c.lang CROSS JOIN vsz),
              prior AS (SELECT lang,
                  cast(round(ln(cast(n_docs AS double) /
                    cast(n_train AS double)), 6) AS decimal(18,6)) AS prior6
                FROM cls CROSS JOIN ntr),
              ttf AS (SELECT doc_id, token, count(*) AS tf FROM
                        (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                         FROM test) GROUP BY 1, 2),
              contrib AS (SELECT t.doc_id, m.lang,
                  sum(m.logp * cast(t.tf AS decimal(10,0))) AS sc
                FROM ttf t JOIN model m USING (token) GROUP BY 1, 2),
              scored AS (SELECT te.doc_id, te.lang AS true_lang, p.lang,
                  p.prior6 + coalesce(c.sc, cast(0 AS decimal(38,6))) AS score
                FROM test te CROSS JOIN prior p
                LEFT JOIN contrib c ON c.doc_id = te.doc_id AND c.lang = p.lang)
              SELECT doc_id, lang AS pred_lang, true_lang,
                     cast(score AS double) AS score,
                     (lang = true_lang) AS correct
              FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, lang) AS rn FROM scored)
              WHERE rn = 1""")),

    // ---- Per-language token ENTROPY (t31): the corpus-statistics
    // face of quality analysis — Shannon entropy of the unigram
    // distribution per language, the number a curation report quotes
    // to compare source diversity. Float discipline via the algebraic
    // split H = ln(N) − (Σ c·ln(c))/N: each ln is rounded to 6
    // decimals and held as DECIMAL (t30's engine-agreement scale), the
    // Σ c·ln(c) accumulates decimal-exact and order-independent, and
    // the two double conversions at the end are exact casts + one IEEE
    // division — bit-identical across engines. Two partial-aggregable
    // groupBys, no window, no collect.
    Q("t31_token_entropy",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        tok.groupBy("lang", "w").agg(count(lit(1)).as("c"))
          .groupBy("lang")
          .agg(
            sum(col("c") * round(log(col("c").cast("double")), 6)
              .cast("decimal(18,6)")).as("slogc"),
            sum("c").as("n_tokens"))
          .select(col("lang"), col("n_tokens"),
            (round(log(col("n_tokens").cast("double")), 6)
              .cast("decimal(18,6)").cast("double")
              - col("slogc").cast("double") /
                col("n_tokens").cast("double")).as("entropy"))
      },
      Some("""WITH cw AS (SELECT lang, w, count(*) AS c FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS w
                FROM documents) GROUP BY 1, 2)
              SELECT lang, cast(sum(c) as bigint) AS n_tokens,
                round(ln(sum(c)), 6)::DECIMAL(18,6)::DOUBLE
                  - (sum(c * round(ln(c), 6)::DECIMAL(18,6)))::DOUBLE
                    / (sum(c))::DOUBLE AS entropy
              FROM cw GROUP BY lang""")),
  )
}
