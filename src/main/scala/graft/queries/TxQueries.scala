package graft.queries

import org.apache.spark.sql.functions._

import graft.pipeline.{Bpe, Classify, Corpus, Dedup, Events, LanguageModel, Packing, TextAnalysis}
import graft.queries.Shared._

/** Text and corpus-curation queries (`tx_*`) over `documents`: tokenization,
  * quality filters, language models, packing and mixtures.
  */
object TxQueries {

  /** Integer mixture weights for tx_mix — derived from the source suffix so
    * both engines build the identical literal table.
    */
  private val MixWeights: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + 1).toLong).toMap

  /** Per-language sampling rates for tx_sample (rate·10000 must be integral
    * so the hash cut is exact on both engines).
    */
  private val SampleRates = Map(
    "en" -> 0.55, "de" -> 0.75, "es" -> 0.65, "fr" -> 0.85, "zh" -> 0.45)

  /** Boilerplate lines injected for tx_line_dedup (the C4 "subscribe…"
    * fixture) — plain lowercase words so tokenization is trivial.
    */
  private val LineDedupHeader = "subscribe to our newsletter for updates today"

  private val LineDedupFooter = "all rights reserved contact site admin here"

  /** tx_quality oracle: the textQuality struct fields recomputed in DuckDB.
    * ASCII documents ⇒ Java `\p{Punct}` ≡ POSIX `[[:punct:]]`; the stopword
    * vocabulary comes from TextAnalysis.stopwordList so both sides share it.
    */
  private val TxQualitySql: String = {
    val stops = TextAnalysis.stopwordList.map(w => s"'$w'").mkString(", ")
    val toks = """list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"""
    val nToks = s"len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''))"
    s"""SELECT doc_id,
       |  length(text)::DOUBLE AS n_chars,
       |  $nToks::DOUBLE AS n_tokens,
       |  round(CASE WHEN $nToks > 0 THEN length(text)::DOUBLE / $nToks ELSE 0 END, 6) AS mean_token_len,
       |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
       |        / length(text), 6) AS punct_ratio,
       |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
       |        / length(text), 6) AS digit_ratio,
       |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
       |        / length(text), 6) AS upper_ratio,
       |  round(CASE WHEN len($toks) > 0
       |        THEN len(list_filter($toks, t -> t IN ($stops)))::DOUBLE / len($toks)
       |        ELSE 0 END, 6) AS stopword_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  private[graft] val all: Seq[QuerySpec] = Seq(
    QuerySpec("tx_tokens", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_split"),
          TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id")),
      """SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_split,
        |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_bpe,
        |       length(text)::BIGINT AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // the full quality-scoring struct (length/tokens/punct/digit/upper/
    // stopword features), every field oracle-checked
    QuerySpec("tx_quality", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.textQuality(col("text")).as("q"))
        .select(col("doc_id"),
          col("q.n_chars").as("n_chars"),
          col("q.n_tokens").as("n_tokens"),
          round(col("q.mean_token_len"), 6).as("mean_token_len"),
          round(col("q.punct_ratio"), 6).as("punct_ratio"),
          round(col("q.digit_ratio"), 6).as("digit_ratio"),
          round(col("q.upper_ratio"), 6).as("upper_ratio"),
          round(col("q.stopword_ratio"), 6).as("stopword_ratio"))
        .orderBy(col("doc_id")),
      TxQualitySql),

    // Unicode crawl-text cleanup as a two-engine differential: the corpus
    // text is pure ASCII, so both sides first inject deterministic noise
    // (decomposed e+U+0301 / zero-width space by doc_id%3, trailing
    // double-space + TAB/CR/LF + decomposed o+U+0308), then NFC-compose,
    // strip controls+ZWSP, collapse spaces, trim — java.text.Normalizer vs
    // DuckDB nfc_normalize (utf8proc) must agree byte-for-byte (md5 of the
    // cleaned UTF-8)
    // encoding-damage repair (the ftfy web-scrape cleaning step): docs with
    // doc_id ≡ 2 (mod 5) are PLANTED with UTF-8-read-as-CP1252 mojibake
    // (" the " → " thÃ© ", " row " → " rowâ€™s "), docs ≡ 4 (mod 5) get the
    // CLEAN accented forms (the repair must not touch them — they emit no
    // row), everything else passes through. The operator counts + repairs
    // via chained codegen'd replace expressions (Corpus.MojibakeMap); the
    // oracle replays planting, counting, and repair with chr()-built
    // literals and md5-matches the repaired text
    // Flesch reading-ease profile of the corpus: per-document sentence /
    // word / syllable counts → FRE = 206.835 − 1.015·(w/s) − 84.6·(syl/w)
    // (Flesch 1948), histogrammed by (lang, 10-point bucket). Syllables
    // use the vowel-group heuristic counted once over the whole document
    // (maximal [aeiouy]+ runs never cross a word boundary, so the doc-level
    // count equals the per-word sum — THREE text-level regex passes total,
    // no per-word lambda). Counts are exact integers; the ONLY doubles are
    // the per-doc FRE (identical formula text in both engines) surfaced as
    // min/max per bucket — order-free, so FP summation order never enters
    QuerySpec("tx_readability", (s, dir) =>
      T(s, dir, "documents")
        .withColumn("ns",
          expr("CAST(greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1) AS BIGINT)"))
        .withColumn("nw",
          expr("CAST(greatest(size(regexp_extract_all(lower(text), '[a-z]+', 0)), 1) AS BIGINT)"))
        .withColumn("nsyl",
          expr("CAST(greatest(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)), 1) AS BIGINT)"))
        .withColumn("fre", expr(
          "206.835 - 1.015 * (CAST(nw AS DOUBLE) / ns) - 84.6 * (CAST(nsyl AS DOUBLE) / nw)"))
        .withColumn("bucket", expr("CAST(floor(fre / 10) AS BIGINT)"))
        .groupBy("lang", "bucket").agg(
          count(lit(1)).as("n_docs"), sum("nw").as("words"),
          sum("ns").as("sents"), sum("nsyl").as("sylls"),
          round(min("fre"), 4).as("fre_min"), round(max("fre"), 4).as("fre_max"))
        .orderBy("lang", "bucket"),
      """WITH d AS (
        |  SELECT lang,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS ns,
        |    CAST(greatest(len(regexp_extract_all(lower(text), '[a-z]+')), 1) AS BIGINT) AS nw,
        |    CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT) AS nsyl
        |  FROM documents
        |), f AS (
        |  SELECT lang, ns, nw, nsyl,
        |    206.835 - 1.015 * (CAST(nw AS DOUBLE) / ns) - 84.6 * (CAST(nsyl AS DOUBLE) / nw) AS fre
        |  FROM d
        |)
        |SELECT lang, CAST(floor(fre / 10) AS BIGINT) AS bucket,
        |       count(*)::BIGINT AS n_docs, sum(nw)::BIGINT AS words,
        |       sum(ns)::BIGINT AS sents, sum(nsyl)::BIGINT AS sylls,
        |       round(min(fre), 4) AS fre_min, round(max(fre), 4) AS fre_max
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // one-pass corpus "data card": the governance profile (counts,
    // cardinalities, length distribution) a dataset release ships with —
    // single aggregate, metrics unpivoted through an ordered map explode
    QuerySpec("tx_datacard", (s, dir) =>
      T(s, dir, "documents").agg(
          count(lit(1)).cast("double").as("n_docs"),
          countDistinct(col("lang")).cast("double").as("n_langs"),
          countDistinct(col("source")).cast("double").as("n_sources"),
          sum(col("n_chars")).cast("double").as("total_chars"),
          max(col("n_chars")).cast("double").as("max_chars"),
          expr("percentile(n_chars, array(0.5D, 0.9D))").as("q"))
        .select(explode(map(
          lit("avg_chars"), round(col("total_chars") / col("n_docs"), 4),
          lit("max_chars"), col("max_chars"),
          lit("n_docs"), col("n_docs"),
          lit("n_langs"), col("n_langs"),
          lit("n_sources"), col("n_sources"),
          lit("p50_chars"), round(col("q")(0), 4),
          lit("p90_chars"), round(col("q")(1), 4),
          lit("total_chars"), col("total_chars"))).as(Seq("metric", "value")))
        .orderBy("metric"),
      """WITH a AS (
        |  SELECT count(*)::BIGINT AS n, count(DISTINCT lang)::BIGINT AS nl,
        |         count(DISTINCT source)::BIGINT AS nsrc,
        |         sum(n_chars)::BIGINT AS tot, max(n_chars)::BIGINT AS mx,
        |         quantile_cont(n_chars, 0.5) AS p50,
        |         quantile_cont(n_chars, 0.9) AS p90
        |  FROM documents
        |)
        |SELECT * FROM (
        |  SELECT 'avg_chars' AS metric, round(CAST(tot AS DOUBLE) / n, 4) AS value FROM a
        |  UNION ALL SELECT 'max_chars', CAST(mx AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_docs', CAST(n AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_langs', CAST(nl AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_sources', CAST(nsrc AS DOUBLE) FROM a
        |  UNION ALL SELECT 'p50_chars', round(p50, 4) FROM a
        |  UNION ALL SELECT 'p90_chars', round(p90, 4) FROM a
        |  UNION ALL SELECT 'total_chars', CAST(tot AS DOUBLE) FROM a
        |) ORDER BY metric""".stripMargin),

    QuerySpec("tx_mojibake", (s, dir) => {
      val planted = when(col("doc_id") % 5 === 2,
          replace(replace(col("text"), lit(" the "), lit(" th\u00C3\u00A9 ")),
            lit(" row "), lit(" row\u00E2\u20AC\u2122s ")))
        .when(col("doc_id") % 5 === 4,
          replace(col("text"), lit(" the "), lit(" th\u00E9 ")))
        .otherwise(col("text"))
      graft.pipeline.Corpus.fixMojibake(
          T(s, dir, "documents").select(col("doc_id"), planted.as("t")),
          "doc_id", "t")
        .orderBy(col("id"))
    },
      {
        import graft.pipeline.Corpus.duckChr
        val moji = s"' th' || ${duckChr("\u00C3\u00A9")} || ' '"
        val curly = s"' row' || ${duckChr("\u00E2\u20AC\u2122")} || 's '"
        val clean = s"' th' || ${duckChr("\u00E9")} || ' '"
        s"""WITH p AS (
           |  SELECT doc_id, CASE
           |    WHEN doc_id % 5 = 2 THEN
           |      replace(replace(text, ' the ', $moji), ' row ', $curly)
           |    WHEN doc_id % 5 = 4 THEN replace(text, ' the ', $clean)
           |    ELSE text END AS t
           |  FROM documents
           |)
           |${graft.pipeline.Corpus.mojibakeDuckSql("p")}""".stripMargin
      }),

    // boilerplate-aware HTML text extraction (the first transform of a
    // web-crawl pipeline): the page is constructed deterministically
    // around each document (title/script/style/nav/footer chrome), then
    // script+style blocks drop, tags strip, entities decode, whitespace
    // collapses, and the link-density boilerplate signal is emitted —
    // all codegen'd per-row string built-ins, shuffle-free
    QuerySpec("tx_html_extract", (s, dir) =>
      graft.pipeline.Corpus.htmlExtract(T(s, dir, "documents"),
        "doc_id", "text", "lang", "source"),
      graft.pipeline.Corpus.htmlExtractDuckSql),

    QuerySpec("tx_normalize", (s, dir) => {
      val noisy = concat(
        when(col("doc_id") % 3 === 0, lit("e\u0301 "))
          .when(col("doc_id") % 3 === 1, lit("\u200B"))
          .otherwise(lit("")),
        col("text"), lit("  \t\r\no\u0308"))
      val clean = graft.pipeline.Corpus.normalizeText(col("noisy"))
      T(s, dir, "documents")
        .withColumn("noisy", noisy)
        .select(col("doc_id"),
          length(col("noisy")).cast("long").as("n_raw"),
          length(clean).cast("long").as("n_clean"),
          md5(to_binary(clean, lit("utf-8"))).as("h"))
        .orderBy(col("doc_id"))
    },
      {
        val noisy = "(CASE WHEN doc_id % 3 = 0 THEN 'e' || chr(769) || ' ' " +
          "WHEN doc_id % 3 = 1 THEN chr(8203) ELSE '' END) || text || " +
          "'  ' || chr(9) || chr(13) || chr(10) || 'o' || chr(776)"
        val clean = graft.pipeline.Corpus.normalizeTextDuckSql("noisy")
        s"""WITH n AS (SELECT doc_id, $noisy AS noisy FROM documents)
           |SELECT doc_id, length(noisy)::BIGINT AS n_raw,
           |       length($clean)::BIGINT AS n_clean,
           |       md5($clean) AS h
           |FROM n ORDER BY doc_id""".stripMargin
      }),

    // vocabulary growth curve (the Heaps-law diagnostic): corpus split
    // into 10 doc-id deciles, each word attributed to the decile of its
    // FIRST occurrence (one min aggregate on the vocab key), cumulative
    // vocabulary via a 10-row window — exact integers end to end
    QuerySpec("tx_vocab_growth", (s, dir) => {
      val docs = T(s, dir, "documents")
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val per = maxId / 10 + 1
      val firstSeen = docs
        .select((col("doc_id") / per).cast("long").as("bucket"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(min(col("bucket")).as("bucket"))
      val W = org.apache.spark.sql.expressions.Window
      val w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
      firstSeen.groupBy("bucket").agg(count(lit(1)).as("new_words"))
        .withColumn("cum_vocab", sum(col("new_words")).over(w))
        .orderBy(col("bucket"))
    },
      """WITH per AS (SELECT max(doc_id) // 10 + 1 AS p FROM documents),
        |fs AS (
        |  SELECT w, min(bucket) AS bucket FROM (
        |    SELECT doc_id // p AS bucket,
        |           unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                              __w -> length(__w) > 0)) AS w
        |    FROM documents, per)
        |  GROUP BY 1
        |), nb AS (SELECT bucket, count(*) AS new_words FROM fs GROUP BY 1)
        |SELECT bucket, new_words,
        |       CAST(sum(new_words) OVER (ORDER BY bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS cum_vocab
        |FROM nb ORDER BY bucket""".stripMargin),

    // corpus-level RAKE keyphrases (Rose et al. 2010): stopword/punct
    // phrase breaks, deg/freq word scores, top-25 phrases
    QuerySpec("tx_rake", (s, dir) =>
      TextAnalysis.rakeKeyphrases(T(s, dir, "documents"), "text", k = 25),
      TextAnalysis.rakeDuckSql(k = 25)),

    // the published Gopher rule set (Rae et al. 2021 App. A1.1) as one
    // tokenize-once column pipeline — word-count / mean-word-length /
    // symbol-ratio / alpha-word-fraction / stopword-presence signals plus
    // the combined pass flag, every field oracle-replayed
    QuerySpec("tx_gopher", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.gopherRules(col("text")).as("g"))
        .select(col("doc_id"),
          col("g.n_words").as("n_words"),
          round(col("g.mean_word_len"), 6).as("mean_word_len"),
          round(col("g.symbol_ratio"), 6).as("symbol_ratio"),
          round(col("g.alpha_frac"), 6).as("alpha_frac"),
          col("g.stop_hits").as("stop_hits"),
          col("g.pass").as("pass"))
        .orderBy(col("doc_id")),
      TextAnalysis.gopherRulesDuckSql("documents", "doc_id", "text")),

    QuerySpec("tx_langid", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.languageIdExpr(col("text")).as("lang_guess"),
          TextAnalysis.polyFingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id")),
      s"""SELECT doc_id, ${TextAnalysis.languageIdDuckSql("text")} AS lang_guess,
         |       ${TextAnalysis.polyFingerprintDuckSql("text")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin),

    // language-ID confusion matrix vs the gold labels — the eval readout
    // that decides whether the n-gram heuristic is good enough to gate on;
    // pure integer counts, one (truth, guess) aggregate
    QuerySpec("tx_langid_conf", (s, dir) =>
      T(s, dir, "documents")
        .select(col("lang"), TextAnalysis.languageIdExpr(col("text")).as("guess"))
        .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
        .orderBy("lang", "guess"),
      s"""SELECT lang, ${TextAnalysis.languageIdDuckSql("text")} AS guess,
         |       count(*) AS n
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // the full curation chain as ONE plan: quality gate -> exact dedup ->
    // per-language stats (the composition the pipeline operators exist for)
    QuerySpec("tx_curation", (s, dir) =>
      graft.pipeline.Curation.curationStats(T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("lang")),
      {
        val nToks = """len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))"""
        s"""WITH q AS (
           |  SELECT doc_id, text, $nToks AS n_toks,
           |    CASE WHEN length(text) > 0
           |      THEN (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
           |           / length(text)
           |      ELSE 0 END AS punct_ratio
           |  FROM documents
           |), g AS (
           |  SELECT doc_id, text, n_toks FROM q
           |  WHERE n_toks >= 5 AND punct_ratio <= 0.1
           |), d AS (
           |  SELECT doc_id, text, n_toks,
           |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           |  FROM g
           |)
           |SELECT ${TextAnalysis.languageIdDuckSql("text")} AS lang,
           |       count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS sum_tokens
           |FROM d WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // benchmark decontamination: training docs sharing a word 3-gram with
    // the eval slice (doc_id % 97 == 0), eval side hashed + broadcast
    QuerySpec("tx_decontam", (s, dir) => {
      val docs = T(s, dir, "documents")
      Corpus.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", k = 3)
        .orderBy(col("id"))
    },
      Corpus.decontaminateDuckSql("doc_id % 97 <> 0", "doc_id % 97 = 0", k = 3)),

    // Bloom-filter decontamination — constant-memory scale sibling of
    // tx_decontam: eval k-grams folded into a 1024-long bitset (bit_or),
    // train side broadcast-joins the 8 KiB filter; no false negatives,
    // deterministic false positives (same split as tx_decontam so the two
    // reports are directly comparable)
    QuerySpec("tx_decontam_bloom", (s, dir) => {
      val docs = T(s, dir, "documents")
      Corpus.bloomDecontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", k = 3)
        .orderBy(col("id"))
    },
      Corpus.bloomDecontaminateDuckSql("doc_id % 97 <> 0", "doc_id % 97 = 0", k = 3)),

    // RAG-prep sliding-window chunking: 64-token windows, stride 48 —
    // generator inside the projection, zero shuffles
    QuerySpec("tx_chunks", (s, dir) =>
      Corpus.chunkDocs(T(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, stride = 48).orderBy(col("id"), col("chunk_id")),
      Corpus.chunkDocsDuckSql(chunkSize = 64, stride = 48)),

    // Shannon entropy quality signals (char + token, fixed-order sums so
    // the doubles are reproducible); compiled per-row loop, no shuffle
    QuerySpec("tx_entropy", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id").as("id"),
          TextAnalysis.entropySignals(col("text")).as("e"))
        .select(col("id"), col("e.char_entropy").as("char_entropy"),
          col("e.n_distinct_chars").as("n_distinct_chars"),
          col("e.token_entropy").as("token_entropy"),
          col("e.n_distinct_tokens").as("n_distinct_tokens"))
        .orderBy(col("id")),
      s"""SELECT doc_id AS id,
         |${TextAnalysis.entropySignalsDuckSql("text")}
         |FROM documents ORDER BY doc_id""".stripMargin),

    // blocklist filter: per-row array scan against a literal/broadcast term
    // list, no shuffle
    QuerySpec("tx_badwords", (s, dir) =>
      Corpus.bannedTermScan(T(s, dir, "documents"), "doc_id", "text",
        terms = Seq("hash", "scan", "batch")).orderBy(col("id")),
      Corpus.bannedTermScanDuckSql(Seq("hash", "scan", "batch"))),

    // Gopher-style repetition signals: token histogram shuffle + per-row
    // 3-gram array stats
    QuerySpec("tx_repetition", (s, dir) =>
      Corpus.repetitionSignals(T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id")),
      Corpus.repetitionDuckSql),

    // BM25 top-20 for a 3-term query; postings pruned before the shuffle,
    // df/corpus stats broadcast, TakeOrdered top-k, fold-ordered float sum
    QuerySpec("tx_bm25", (s, dir) =>
      Corpus.bm25TopK(T(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "hash", "window"), topK = 20),
      Corpus.bm25DuckSql(Seq("spark", "hash", "window"), topK = 20)),

    // PII scan + redaction over deterministically-injected PII (the corpus
    // itself is synthetic bag-of-words; the injection IS part of the query
    // on both sides, so counts and redacted text are fully oracle-checked)
    QuerySpec("tx_pii", (s, dir) => {
      val docs = T(s, dir, "documents").withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example.com now")))
          .when(col("doc_id") % 4 === 1,
            concat(lit(" server 10."), (col("doc_id") % 256).cast("string"),
              lit(".0."), (col("doc_id") % 100).cast("string"), lit(" up")))
          .when(col("doc_id") % 4 === 2,
            concat(lit(" call +1-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      Corpus.piiScan(docs, "doc_id", "text").orderBy(col("id"))
    },
      Corpus.piiDuckSql(
        """(text || CASE
          |  WHEN doc_id % 4 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
          |  WHEN doc_id % 4 = 1 THEN ' server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' up'
          |  WHEN doc_id % 4 = 2 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          |  ELSE '' END)""".stripMargin.replace("\n", " "))),

    // inverted-index build: top-100 terms by df with CSV postings heads
    QuerySpec("tx_inverted", (s, dir) =>
      Corpus.invertedIndex(T(s, dir, "documents"), "doc_id", "text"),
      Corpus.invertedIndexDuckSql()),

    // C4/RefinedWeb-style corpus-wide exact line dedup: docs chunked into
    // 8-word lines, boilerplate lines injected query-side (the tx_pii
    // pattern — 1 in 4 docs gets a header, 1 in 7 a footer) so real
    // cross-doc duplicates exist; every occurrence but the globally-first
    // (by (doc_id, pos)) is removed and the text reassembled
    QuerySpec("tx_line_dedup", (s, dir) => {
      val lined = T(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("nch", expr("(size(ws) + 7) div 8"))
        .select(col("doc_id"), concat(
            when(col("doc_id") % 4 === 1, array(lit(LineDedupHeader)))
              .otherwise(array().cast("array<string>")),
            transform(sequence(lit(0), col("nch") - 1),
              i => array_join(slice(col("ws"), i * 8 + 1, lit(8)), " ")),
            when(col("doc_id") % 7 === 2, array(lit(LineDedupFooter)))
              .otherwise(array().cast("array<string>"))
          ).as("ls"))
        .select(col("doc_id"), posexplode(col("ls")).as(Seq("pos", "line")))
      Corpus.reassemble(Corpus.lineDedup(lined))
        .join(lined.groupBy("doc_id").agg(count(lit(1)).as("n_lines")), "doc_id")
        .select(col("doc_id"), col("n_lines"), col("n_kept"), col("text_clean"))
        .orderBy(col("doc_id"))
    },
      // same chunking (8-word lines, 1-based clamped slices), same injected
      // boilerplate, min packed (doc_id·2²⁰ + pos) keeper, reassembly in pos
      // order — byte-identical to Corpus.lineDedup + reassemble
      s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |ch AS (SELECT doc_id, ws, unnest(range((len(ws) + 7) // 8)) AS cpos FROM words),
         |chunks AS (
         |  SELECT doc_id, cpos,
         |         array_to_string(ws[cpos*8+1 : cpos*8+8], ' ') AS line
         |  FROM ch
         |), lines AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 4 = 1 THEN cpos + 1 ELSE cpos END AS pos, line
         |  FROM chunks
         |  UNION ALL
         |  SELECT doc_id, 0 AS pos, '$LineDedupHeader' FROM documents WHERE doc_id % 4 = 1
         |  UNION ALL
         |  SELECT w.doc_id,
         |         (CASE WHEN w.doc_id % 4 = 1 THEN 1 ELSE 0 END) + (len(w.ws) + 7) // 8,
         |         '$LineDedupFooter'
         |  FROM words w WHERE w.doc_id % 7 = 2
         |), k AS (
         |  SELECT line, min(doc_id * 1048576 + pos) AS keep FROM lines GROUP BY 1
         |), surv AS (
         |  SELECT l.doc_id, l.pos, l.line FROM lines l
         |  JOIN k ON l.line = k.line AND l.doc_id * 1048576 + l.pos = k.keep
         |), nl AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1)
         |SELECT s.doc_id, nl.n_lines, count(*) AS n_kept,
         |       string_agg(s.line, ' ' ORDER BY s.pos) AS text_clean
         |FROM surv s JOIN nl ON s.doc_id = nl.doc_id
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // DSIR data selection: hashed unigram+bigram log-likelihood-ratio
    // scores for the raw pool against the doc_id%11 "curated seed" —
    // broadcast weight table, bucket-ordered float fold
    QuerySpec("tx_dsir", (s, dir) =>
      Corpus.dsirTopK(T(s, dir, "documents"), "doc_id", "text",
        targetPred = col("doc_id") % 11 === 0, buckets = 512, topK = 100),
      Corpus.dsirDuckSql("doc_id % 11 = 0", buckets = 512, topK = 100)),

    // ExactSubstr-style repeated-span removal: tokens inside any non-first
    // occurrence of a corpus-duplicated 5-gram are cut; boilerplate tails
    // injected every 29th doc provide real cross-doc duplicated passages
    QuerySpec("tx_span_rm", (s, dir) =>
      Corpus.spanDedup(boilerplateDocs(s, dir), "doc_id", "text", k = 5)
        .orderBy(col("doc_id")),
      Corpus.spanDedupDuckSql(BoilerplateSqlExpr, k = 5)),

    // reproducible stratified sampling: keep-decision is a pure hash of
    // (salt, doc_id) against per-language rates — a codegen'd scan filter
    QuerySpec("tx_sample", (s, dir) =>
      Corpus.stratifiedSample(T(s, dir, "documents"), "doc_id", "lang",
          rates = SampleRates, defaultRate = 1.0, salt = "s42:")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id")),
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${Corpus.stratifiedSampleDuckSql("doc_id", "lang", SampleRates, 1.0, "s42:")}
         |ORDER BY doc_id""".stripMargin),

    // GPT-style concat-and-chunk sequence packing: hash-sharded
    // pseudo-shuffle + per-shard running sum; per-doc (shard, seq, offset,
    // boundary-split) placement
    QuerySpec("tx_pack", (s, dir) =>
      Packing.packPlacements(T(s, dir, "documents"), "doc_id", "text",
        capacity = 512L, numShards = 8),
      Packing.packDuckSql(capacity = 512L, numShards = 8)),

    // weighted reservoir sample without replacement (A-ES, Efraimidis-
    // Spirakis IPL'06): deterministic hash-uniform -> key ln(u)/w, top-k
    // by key = inclusion ∝ token count; one scan + TakeOrdered, the
    // quality-weighted corpus subsample shape
    QuerySpec("tx_weighted_sample", (s, dir) =>
      Packing.weightedSample(T(s, dir, "documents"), "doc_id", "text",
        k = 100, salt = "wrs1:"),
      Packing.weightedSampleDuckSql(k = 100, salt = "wrs1:")),

    // stratified A-ES: an independent per-source reservoir (bounded
    // partitioned windows, never a global sort), rolled up per stratum
    QuerySpec("tx_stratified_sample", (s, dir) =>
      Packing.stratifiedSample(T(s, dir, "documents"), "doc_id", "text",
        "source", perStratum = 50, salt = "wrs2:"),
      Packing.stratifiedSampleDuckSql(perStratum = 50, salt = "wrs2:")),

    // deterministic global shuffle into training shards: scrambled-hash
    // permutation, ONE shard exchange + per-shard sort (no global sort)
    QuerySpec("tx_shard", (s, dir) =>
      Packing.shardAssign(T(s, dir, "documents"), "doc_id", "text",
        numShards = 16, salt = "shard1:"),
      Packing.shardAssignDuckSql(numShards = 16, salt = "shard1:")),

    // weighted corpus mixing against a token budget: integer-only targets
    // and parts-per-million hash cuts per source
    QuerySpec("tx_mix", (s, dir) =>
      Packing.mixReport(T(s, dir, "documents"), "doc_id", "text", "source",
        weights = MixWeights, tokenBudget = 8000L, salt = "mix1:"),
      Packing.mixDuckSql(MixWeights, tokenBudget = 8000L,
        salt = "mix1:")),

    // per-domain document cap (source = domain): window rank by tokens,
    // per-domain kept/total/floor stats
    QuerySpec("tx_domain_cap", (s, dir) =>
      Packing.domainCapReport(T(s, dir, "documents"), "doc_id", "text",
        "source", maxPerDomain = 15),
      Packing.domainCapDuckSql(maxPerDomain = 15)),

    // next-fit no-split bin packing (SFT-style): one shuffle + in-shard
    // sequential scan; the DuckDB oracle replays the fold as a recursive CTE
    QuerySpec("tx_pack_bins", (s, dir) =>
      Packing.packBinsNextFit(T(s, dir, "documents"), "doc_id", "text",
        capacity = 256L, numShards = 8),
      Packing.packBinsDuckSql(capacity = 256L, numShards = 8)),

    // near-dup CLUSTERS: MinHash-LSH pairs transitively closed into
    // connected components; group_id = min member = the dedup survivor
    // CDC storage-savings: bytes as-is vs bytes stored once per distinct
    // chunk — the number a dedup-backed store reports
    QuerySpec("tx_cdc_savings", (s, dir) =>
      Corpus.cdcSavings(T(s, dir, "documents"), "doc_id", "text"),
      Corpus.cdcSavingsDuckSql()),

    // corpus snapshot diff — "what changed between crawls": full outer
    // join on doc id comparing content hashes; the previous snapshot is
    // derived deterministically (every 7th doc new since, every 5th
    // edited since, every 11th retired) so all four statuses exist
    QuerySpec("tx_snapshot_diff", (s, dir) => {
      val docs = T(s, dir, "documents")
      val cur = docs.select(col("doc_id"), md5(col("text")).as("h"))
      val prev = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            md5(col("text")).as("h")))
      cur.as("c").join(prev.as("p"),
          col("c.doc_id") === col("p.doc_id"), "full")
        .select(when(col("p.doc_id").isNull, "added")
          .when(col("c.doc_id").isNull, "removed")
          .when(col("c.h") =!= col("p.h"), "changed")
          .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    },
      """WITH cur AS (SELECT doc_id, md5(text) AS h FROM documents),
        |prev AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
        |                  ELSE text END) AS h
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, md5(text) FROM documents
        |  WHERE doc_id % 11 = 0
        |)
        |SELECT status, count(*) AS n FROM (
        |  SELECT CASE WHEN p.doc_id IS NULL THEN 'added'
        |              WHEN c.doc_id IS NULL THEN 'removed'
        |              WHEN c.h <> p.h THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
        |) GROUP BY 1 ORDER BY 1""".stripMargin),

    // BLEU-2 over the same blocking pairs: exact clipped n-gram matches,
    // token-arithmetic totals, brevity penalty — the MT-grade overlap score
    QuerySpec("tx_bleu", (s, dir) =>
      Dedup.bleuPairs(T(s, dir, "documents"), "doc_id", "text"),
      Dedup.bleuPairsDuckSql()),

    // language-mix Shannon entropy per source — the "is this source
    // monolingual or a mixed crawl" curation readout beside tx_kl's
    // corpus-level drift; ≤|langs| ln terms folded in an ordered
    // running window per source (the zipfFit summation discipline)
    QuerySpec("tx_lang_entropy", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("lang")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val all = org.apache.spark.sql.expressions.Window.partitionBy("source")
      T(s, dir, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
        .withColumn("tot", sum("n").over(all))
        .withColumn("p", col("n").cast("double") / col("tot").cast("double"))
        .withColumn("t", -(col("p") * log(col("p"))))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("lang")))
        .withColumn("nl", count(lit(1)).over(all))
        .withColumn("h", sum("t").over(w))
        .filter(col("rn") === col("nl"))
        .select(col("source"), col("nl").cast("long").as("langs"),
          col("tot").cast("long").as("docs"), round(col("h"), 6).as("entropy"))
        .orderBy("source")
    },
      """WITH c AS (
        |  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
        |), p AS (
        |  SELECT source, lang, n,
        |         sum(n) OVER (PARTITION BY source) AS tot,
        |         count(*) OVER (PARTITION BY source) AS nl,
        |         row_number() OVER (PARTITION BY source ORDER BY lang) AS rn
        |  FROM c
        |), t AS (
        |  SELECT source, lang, n, tot, nl, rn,
        |         -((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
        |           * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))) AS term
        |  FROM p
        |), run AS (
        |  SELECT source, tot, nl, rn,
        |         sum(term) OVER (PARTITION BY source ORDER BY lang
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
        |  FROM t
        |)
        |SELECT source, CAST(nl AS BIGINT) AS langs, CAST(tot AS BIGINT) AS docs,
        |       round(h, 6) AS entropy
        |FROM run WHERE rn = nl ORDER BY source""".stripMargin),

    // composed curation pipeline — the end-to-end shape every stage above
    // feeds: exact-dedup survivors (min doc_id per identical text) →
    // token-count quality gate (≥ 5) → per-lang rollup. One gate for the
    // COMPOSITION: operators must chain without re-reading the corpus
    // (survivor anti-join and the gate share the single tokenized scan)
    QuerySpec("tx_curate", (s, dir) => {
      val docs = T(s, dir, "documents")
      // survivors keyed on md5(text) (the Dedup.exactGroups discipline —
      // 16-byte keys cross the wire, the text itself never does)
      val surv = docs.groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      docs.join(surv, "doc_id")
        .withColumn("toks",
          size(filter(split(lower(col("text")), "\\s+"), t => t =!= "")))
        .filter(col("toks") >= 5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang")
    },
      """WITH surv AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
        |), kept AS (
        |  SELECT d.lang, d.doc_id,
        |         len(list_filter(string_split_regex(lower(d.text), '\s+'),
        |                         t -> t <> '')) AS toks
        |  FROM documents d JOIN surv s ON s.doc_id = d.doc_id
        |)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS tokens,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM kept WHERE toks >= 5
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // OOV rate of the held-out slice against the training vocabulary — the
    // coverage number every tokenizer/LM gate tracks; token totals are
    // arithmetic, unseen tokens come from one vocab anti-join (word-keyed,
    // never broadcast), per-lang split exact
    QuerySpec("tx_oov", (s, dir) => {
      val toksC = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
      val docs = T(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 5 =!= 0)
        .select(explode(toksC).as("w")).distinct()
      val ev = docs.filter(col("doc_id") % 5 === 0)
        .select(col("lang"), explode(toksC).as("w"))
      val oov = ev.join(train, Seq("w"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("oov_tokens"))
      ev.groupBy("lang").agg(count(lit(1)).as("tokens"))
        .join(oov, Seq("lang"), "left")
        .na.fill(0L, Seq("oov_tokens"))
        .select(col("lang"), col("tokens"), col("oov_tokens"),
          round(col("oov_tokens").cast("double") / col("tokens").cast("double"), 6)
            .as("oov_rate"))
        .orderBy("lang")
    },
      {
        val toks = """list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"""
        s"""WITH tr AS (
           |  SELECT DISTINCT unnest($toks) AS w FROM documents WHERE doc_id % 5 <> 0
           |), ev AS (
           |  SELECT lang, unnest($toks) AS w FROM documents WHERE doc_id % 5 = 0
           |), oov AS (
           |  SELECT e.lang, count(*) AS oov_tokens
           |  FROM ev e LEFT JOIN tr ON tr.w = e.w
           |  WHERE tr.w IS NULL GROUP BY 1
           |)
           |SELECT e.lang, count(*) AS tokens,
           |       CAST(coalesce(any_value(o.oov_tokens), 0) AS BIGINT) AS oov_tokens,
           |       round(CAST(coalesce(any_value(o.oov_tokens), 0) AS DOUBLE)
           |             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
           |FROM ev e LEFT JOIN oov o ON o.lang = e.lang
           |GROUP BY e.lang ORDER BY e.lang""".stripMargin
      }),

    // word burstiness (Church & Gale's tf/df clumpiness): words that pile
    // up inside few documents vs spreading evenly — bursty high-frequency
    // words are spam/template markers; exact integer tf and df from one
    // (doc, word) aggregate, top-20 by (ratio, word) as a TakeOrdered
    QuerySpec("tx_burstiness", (s, dir) => {
      val dw = T(s, dir, "documents")
        .select(col("doc_id"),
          explode(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
            .as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      dw.groupBy("w")
        .agg(sum("c").as("tf"), count(lit(1)).as("df"))
        .filter(col("tf") >= 50)
        .withColumn("burst",
          round(col("tf").cast("double") / col("df").cast("double"), 6))
        .orderBy(col("burst").desc, col("w")).limit(20)
        .select(col("w").as("word"), col("tf"), col("df"), col("burst"))
    },
      """WITH dw AS (
        |  SELECT doc_id, w, count(*) AS c FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                              t -> t <> '')) AS w
        |    FROM documents)
        |  GROUP BY 1, 2
        |), agg AS (
        |  SELECT w, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df FROM dw GROUP BY 1
        |)
        |SELECT w AS word, tf, df,
        |       round(CAST(tf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burst
        |FROM agg WHERE tf >= 50
        |ORDER BY burst DESC, word LIMIT 20""".stripMargin),

    // corpus-level template mining over the boilerplate-injected corpus:
    // top-20 8-grams by document frequency — WHAT text recurs, the
    // corpus-wide sibling of the pair-level substring dedup
    QuerySpec("tx_templates", (s, dir) =>
      Corpus.templates(boilerplateDocs(s, dir), "doc_id", "text"),
      Corpus.templatesDuckSql(BoilerplateSqlExpr)),

    // BPE tokenizer training: first 6 merges learned over the corpus —
    // per-round pair counting runs on the (word, freq) vocabulary table,
    // never the corpus; deterministic argmax tie-break (count DESC, lhs, rhs)
    QuerySpec("tx_bpe_merges", (s, dir) =>
      Bpe.bpeMerges(T(s, dir, "documents"), "text", numMerges = 6),
      Bpe.bpeMergesDuckSql(numMerges = 6)),

    // the ENCODE side: tokenize the corpus with the 6 learned merges —
    // per-doc word count and BPE token count via the vocabulary join
    QuerySpec("tx_bpe_encode", (s, dir) =>
      Bpe.bpeTokenCounts(T(s, dir, "documents"), "doc_id", "text",
        numMerges = 6),
      Bpe.bpeTokenCountsDuckSql(numMerges = 6)),

    // WordPiece (BERT-family) greedy longest-match tokenizer — the third
    // tokenizer class beside the BPE pair and regex tokens; token
    // frequency top-25 under the recursive-CTE greedy replay
    QuerySpec("tx_wordpiece", (s, dir) => {
      val tok = udf((text: String) =>
        if (text == null) Seq.empty[String]
        else text.split(' ').iterator.filter(_.nonEmpty)
          .flatMap(w => Corpus.wordpiece(w)).toSeq)
      T(s, dir, "documents").select(explode(tok(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(25)
    },
      Corpus.wordpieceDuckSql(topK = 25)),

    // bigram-LM perplexity filter: add-one-smoothed model trained on
    // doc_id % 5 != 0, scoring the held-out % 5 == 0 slice (unseen bigrams
    // exercise the smoothing path)
    QuerySpec("tx_lm_score", (s, dir) => {
      val docs = T(s, dir, "documents")
      LanguageModel.bigramScore(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
    },
      LanguageModel.bigramScoreDuckSql("doc_id % 5 <> 0", "doc_id % 5 = 0")),

    // the same perplexity-filter contract under interpolated Kneser–Ney
    // smoothing (the KenLM-family estimator a production CCNet filter
    // ships) — absolute discount 0.75, continuation-probability backoff;
    // same train/score split, same sort-merge model-join plan shape
    QuerySpec("tx_kn_score", (s, dir) => {
      val docs = T(s, dir, "documents")
      LanguageModel.knBigramScore(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
    },
      LanguageModel.knBigramScoreDuckSql("doc_id % 5 <> 0", "doc_id % 5 = 0")),

    // CCNet-style perplexity bucketing: score EVERY document with the
    // 4/5-trained bigram LM, cut into 10 ntile buckets by (avg_nll, id) —
    // the curriculum / head-middle-tail split a perplexity filter feeds;
    // per-bucket totals exact, boundaries are order statistics
    QuerySpec("tx_ppl_bucket", (s, dir) => {
      val docs = T(s, dir, "documents")
      // NOT persisted (measured): scored is consumed three times
      // (count + range sampling + zipWithIndex), but count() on the lazy
      // frame benefits from column pruning and the recomputes are cheaper
      // than materializing every column — persist() measured 2.21 → 3.27 s
      // min-of-3 at sf0.1, so the lazy form stays
      val scored = LanguageModel.bigramScore(
        docs.filter(col("doc_id") % 5 =!= 0), docs, "doc_id", "text")
      // deciles via the distributed globalRank + closed-form ntileFromRank
      // (bucket-identical to ntile(10) over a global window, without the
      // move-everything-to-one-partition WindowExec — (avg_nll, id) is a
      // total order so the rank is deterministic)
      val n = scored.count()
      val ranked = Events.globalRank(scored,
        Seq(col("avg_nll"), col("id")), "_r")
      ranked.withColumn("bucket",
          Events.ntileFromRank(col("_r"), lit(n), 10).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("docs"), sum("n_bigrams").as("bigrams"),
          min("avg_nll").as("min_nll"), max("avg_nll").as("max_nll"))
        .orderBy("bucket")
    },
      s"""
        |SELECT bucket, count(*) AS docs,
        |       CAST(sum(n_bigrams) AS BIGINT) AS bigrams,
        |       min(avg_nll) AS min_nll, max(avg_nll) AS max_nll
        |FROM (
        |  SELECT CAST(ntile(10) OVER (ORDER BY avg_nll, id) AS BIGINT) AS bucket,
        |         n_bigrams, avg_nll
        |  FROM (${LanguageModel.bigramScoreDuckSql("doc_id % 5 <> 0", "TRUE")}) s
        |) b
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // multinomial Naive Bayes lang classifier: train on the 4/5 slice,
    // score the held-out 1/5 — model stays sharded on word keys
    QuerySpec("tx_classify", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id").as("id"),
        col("lang").as("label"), col("text"))
      Classify.naiveBayes(
        d.filter(col("id") % 5 =!= 0), d.filter(col("id") % 5 === 0))
    },
      Classify.naiveBayesDuckSql("id % 5 <> 0", "id % 5 = 0")),

    // per-doc top-3 TF-IDF keyword terms: tf + df aggregates, vocab-KEYED
    // join (df table is vocabulary-sized — never broadcast), per-doc window
    // top-k ranking on the rounded score
    QuerySpec("tx_tfidf", (s, dir) =>
      Corpus.tfidfTopTerms(T(s, dir, "documents"), "doc_id", "text",
        topPerDoc = 3).orderBy(col("id"), col("rank")),
      Corpus.tfidfDuckSql(topPerDoc = 3)),

    // distinct-n lexical diversity per source (Li et al. NAACL'16): unique
    // vs total 1/2/3-grams — n-gram fan-out as a scan-projection generator,
    // two map-side-combinable aggregates, exact integers
    QuerySpec("tx_distinct_n", (s, dir) =>
      Corpus.distinctN(T(s, dir, "documents"), "source", "text"),
      Corpus.distinctNDuckSql),

    // Zipf rank-frequency OLS over the top-500 words: every float moment
    // accumulated in ONE ordered running window so both engines fold in
    // the identical sequence — slope ≈ −1 is healthy, slope → 0 is
    // boilerplate collapse
    QuerySpec("tx_zipf", (s, dir) =>
      Corpus.zipfFit(T(s, dir, "documents"), "text", topN = 500),
      Corpus.zipfDuckSql(topN = 500)),

    // KL / Jensen-Shannon / cross-entropy of each language's unigram
    // distribution vs the corpus — the domain-shift readout; exact integer
    // counts, ln terms folded in one ordered per-group running window
    QuerySpec("tx_kl", (s, dir) =>
      Corpus.divergence(T(s, dir, "documents"), "lang", "text"),
      Corpus.divergenceDuckSql("lang")),

    // PMI bigram collocations (phrase mining): bigram fan-out as a generator
    // in the scan projection, two count aggregates, TakeOrdered top-20
    QuerySpec("tx_colloc", (s, dir) =>
      Corpus.collocations(T(s, dir, "documents"), "doc_id", "text",
        minCount = 5, topK = 20),
      Corpus.collocationsDuckSql(minCount = 5, topK = 20)),

    // content-defined chunking (FastCDC-style anchors) + chunk-level dedup
    // stats: boundary scan and chunk fan-out stay in the scan projection,
    // one hash-keyed aggregate, TakeOrdered top-20 most-shared chunks
    QuerySpec("tx_cdc", (s, dir) =>
      Corpus.cdcChunkStats(T(s, dir, "documents"), "doc_id", "text",
        k = 8, divisor = 64, topK = 20),
      Corpus.cdcChunkStatsDuckSql(k = 8, divisor = 64, topK = 20)),

    // per-language percentile length gate: relative quality threshold per
    // stratum; ONE stratum shuffle serves window + summary aggregate
    QuerySpec("tx_quality_gate", (s, dir) =>
      Corpus.lengthPercentileGate(T(s, dir, "documents"), "doc_id", "text",
        "lang", minPct = 0.2),
      Corpus.lengthPercentileGateDuckSql(minPct = 0.2))
  )
}
