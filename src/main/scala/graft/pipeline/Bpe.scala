package graft.pipeline

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge training (Sennrich et al., ACL'16)
  * — the tokenizer-learning step of a training-data pipeline.
  *
  * Plan shape: the corpus collapses ONCE into the (word, freq) vocabulary
  * table (one shuffle over word keys, map-side combined — the only pass
  * over the full corpus). Every merge round then runs on the vocabulary
  * only: explode adjacent symbol pairs (codegen `zip_with`/`slice`),
  * aggregate pair frequencies (shuffle on pair keys, vocabulary-sized not
  * corpus-sized), fetch the single best row (deterministic tie-break
  * count DESC, lhs, rhs), and rewrite symbol arrays with the greedy
  * leftmost non-overlapping merge. At 100 TB the vocabulary is millions of
  * rows — each round is a small shuffle, and the 1-row argmax fetch is the
  * only driver transfer.
  */
object Bpe {

  private def tokCol(text: org.apache.spark.sql.Column) =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  /** Greedy leftmost non-overlapping application of one merge. */
  private def applyMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** The training loop: merge list + the final per-word symbolization
    * (w, freq, s) — shared by [[bpeMerges]] and [[bpeTokenCounts]].
    */
  private def trainSyms(df: DataFrame, textCol: String, numMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val words = df.select(explode(tokCol(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    var syms = words
      .select(col("w"), col("freq"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("s"))
      .pipe(Loop.materialize)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val pairs = syms.filter(size(col("s")) >= 2)
        .select(col("freq"), explode(
          zip_with(slice(col("s"), lit(1), size(col("s")) - 1),
            slice(col("s"), lit(2), size(col("s")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
      val top: Array[Row] = pairs
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step, l, r, c))
        val mUdf = udf((ss: Seq[String]) => applyMerge(ss, l, r))
        val next = syms.select(col("w"), col("freq"), mUdf(col("s")).as("s"))
          .pipe(Loop.materialize)
        Loop.free(syms)
        syms = next
        step += 1
      }
    }
    (merges.toSeq, syms)
  }

  /** Learn the first `numMerges` BPE merges over the corpus. Returns one
    * row per merge: (step, lhs, rhs, pair_count), in merge order.
    */
  def bpeMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (merges, syms) = trainSyms(df, textCol, numMerges)
    Loop.free(syms) // the merge list is local; nothing reads the symbols
    merges.toDF("step", "lhs", "rhs", "pair_count").orderBy("step")
  }

  /** The ENCODE side: train `numMerges` merges, then tokenize the corpus
    * with them — per document, the word count and the BPE token count
    * (Σ per-word symbol count). The encoded vocabulary (w → n_sym) is the
    * join table, sharded on the word key like the LM model tables; the
    * corpus is touched exactly twice (vocabulary build + scoring join).
    */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame = {
    val enc = trainSyms(df, textCol, numMerges)._2
      .select(col("w"), size(col("s")).cast("long").as("n_sym"))
    df.select(col(idCol).as("id"), explode(tokCol(col(textCol))).as("w"))
      .join(enc, Seq("w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_tokens_bpe"))
      .orderBy("id")
  }

  /** DuckDB replay of [[bpeMerges]]: chained CTEs, one (pair-count → best →
    * apply) block per merge round. The symbol sequence is carried as a
    * DOUBLE-DELIMITER-encoded string `␁␁s1␁␁s2␁␁` so the greedy leftmost
    * non-overlapping merge is one `replace(enc, ␁lhs␁␁rhs␁, ␁lhsrhs␁)` —
    * consecutive occurrences each keep a full boundary delimiter, and a
    * partial-symbol match is impossible because the pattern pins both
    * symbol boundaries. (A {out, pend} list_reduce fold would be the
    * direct transcription of [[applyMerge]], but DuckDB v1.0 mis-binds
    * struct accumulators inside list_reduce, so the fold form is out.)
    */
  def bpeMergesDuckSql(numMerges: Int): String = {
    val out = (1 to numMerges)
      .map(k => s"SELECT $k AS step, lhs, rhs, cnt AS pair_count FROM b$k")
      .mkString(" UNION ALL ")
    bpeDuckCtes(numMerges) +
      s"\nSELECT step, lhs, rhs, pair_count FROM ($out) ORDER BY step"
  }

  /** DuckDB replay of [[bpeTokenCounts]]: the same training CTEs, then the
    * final symbolization joined back to each document's exploded words.
    */
  def bpeTokenCountsDuckSql(numMerges: Int): String = {
    val d = "chr(1)"
    val dd = s"$d || $d"
    bpeDuckCtes(numMerges) +
      s""", enc AS (
         |  SELECT w, CAST(len(list_filter(string_split(s, $dd), __bx -> __bx <> '')) AS BIGINT) AS n_sym
         |  FROM r$numMerges
         |), docw AS (
         |  SELECT doc_id, unnest(ts) AS w FROM toks
         |)
         |SELECT doc_id AS id, count(*) AS n_words,
         |       CAST(sum(n_sym) AS BIGINT) AS n_tokens_bpe
         |FROM docw JOIN enc USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE prefix: vocabulary → `numMerges` (split → pair-count →
    * argmax → replace-apply) rounds; rK carries (w, freq, s-encoded).
    */
  private def bpeDuckCtes(numMerges: Int): String = {
    val d = "chr(1)"
    val dd = s"$d || $d"
    val rounds = (1 to numMerges).map { k =>
      s"""y$k AS (
         |  SELECT freq, list_filter(string_split(s, $dd), __bx -> __bx <> '') AS ss
         |  FROM r${k - 1}
         |), p$k AS (
         |  SELECT ss[i] AS lhs, ss[i + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT ss, freq, unnest(range(1, len(ss))) AS i FROM y$k)
         |  GROUP BY 1, 2
         |), b$k AS (
         |  SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs, rhs LIMIT 1
         |), r$k AS (
         |  SELECT w, freq,
         |    replace(s, $d || b.lhs || $dd || b.rhs || $d, $d || b.lhs || b.rhs || $d) AS s
         |  FROM r${k - 1} CROSS JOIN b$k b
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS ts
       |  FROM documents
       |), w AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w
       |), r0 AS (
       |  SELECT w, freq,
       |    $dd || array_to_string(list_transform(range(1, length(w) + 1),
       |      i -> substr(w, i, 1)), $dd) || $dd AS s
       |  FROM w
       |), $rounds""".stripMargin
  }
}
