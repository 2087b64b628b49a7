package graft.queries

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Groups, Similarity}
import graft.queries.Shared._

/** Near-duplicate detection queries (`dd_*`) over `documents`: exact,
  * shingle, MinHash, SimHash, substring and edit-distance pairs.
  */
object DdQueries {

  /** Oracle CTEs of the word-4-gram shingling: tokens `toks`, each
    * document's distinct shingles `sets` and one row per shingle `sh`.
    */
  private val ShingleSetsCtes =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
      |  FROM documents
      |), sets AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(ts) - 3), i ->
      |    array_to_string(ts[i+1:i+4], ' '))) AS ss
      |  FROM toks
      |), sh AS (SELECT doc_id, unnest(ss) AS s FROM sets)""".stripMargin

  /** dd_simhash_pairs oracle: the same 24-bit polynomial simhash computed in
    * DuckDB (generator kept beside the Spark expression — Dedup.polySimhash),
    * O(n²) Hamming self-join (fine at oracle scale).
    */
  private val SimhashSql: String = {
    val bits = 24
    val hamming = (0 until bits).map { j =>
      val p = 1L << j
      s"(CASE WHEN (a.sh // $p) % 2 <> (b.sh // $p) % 2 THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH sh AS (
       |  SELECT doc_id, ${Dedup.polySimhashDuckSql("text", bits)} AS sh FROM documents
       |), p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, ($hamming) AS hamming
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM p
       |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  private[graft] val all: Seq[QuerySpec] = Seq(
    QuerySpec("dd_exact_groups", (s, dir) =>
      Dedup.exactGroups(T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("text_hash")),
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // edit-distance dedup (levenshtein <= 4): positional q-gram banded
    // candidates with guaranteed recall (Gravano count filter, >=1-gram
    // form) + codegen levenshtein verify — the edit-distance member of the
    // dedup family beside Jaccard, SimHash, and winnowing
    QuerySpec("dd_edit_pairs", (s, dir) =>
      Dedup.editDistancePairs(T(s, dir, "documents"), "doc_id", "text",
          k = 4, q = 12)
        .orderBy(col("id_a"), col("id_b")),
      Dedup.editDistanceDuckSql(k = 4, q = 12)),

    // stored-index incremental dedup: bootstrap the band/set index from
    // two-thirds of the corpus, then ingest the rest as "the nightly
    // batch" — new docs pair against the STORE (bipartite band join) and
    // themselves, never re-pairing history; pairs materialize before the
    // append grows the index
    QuerySpec("dd_incremental", (s, dir) => {
      val docs = T(s, dir, "documents")
      val d = java.nio.file.Files.createTempDirectory("graft-mh-index")
      d.toFile.deleteOnExit()
      val p = d.resolve("mh").toString
      Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", p)
      Dedup.appendMinhashIndex(s, p, docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      Dedup.minhashIncrementalDuckSql(threshold = 0.2,
        shingleK = 3, newPred = "% 3 = 0")),

    // LSH band-geometry planner: theoretical τ ≈ (1/b)^(1/r) beside the
    // MEASURED candidate-pair count each (b × r) factorization of the
    // 128-perm signature would emit on this corpus — run before committing
    // a dedup threshold; each plan costs one banded self-join, the same
    // shape production banding pays
    QuerySpec("dd_lsh_plan", (s, dir) =>
      Dedup.lshPlan(T(s, dir, "documents"), "doc_id", "text",
        Seq((8, 16), (16, 8), (32, 4), (64, 2))),
      // full MinHash-LSH replay: 128 seeded permutation literals, Mersenne
      // mulmod in HUGEINT, the same FNV band fold and banded self-join — the
      // probabilistic RECALL is a deterministic function of the seeds, so even
      // the deliberately-missed pairs match
      Dedup.lshPlanDuckSql(
        Seq((8, 16), (16, 8), (32, 4), (64, 2)), shingleK = 3)),

    QuerySpec("dd_minhash_pairs", (s, dir) =>
      Dedup.minhashNearDupPairs(T(s, dir, "documents"), "doc_id", "text", threshold = 0.2)
        .orderBy(col("id_a"), col("id_b"))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      Dedup.minhashPairsDuckSql(threshold = 0.2, shingleK = 3)),

    // SQL-expressible 24-bit simhash: banding guarantees recall for Hamming≤3
    // (maxHamming+1 chunks), exact Hamming verify — DuckDB computes the very
    // same signature, so this is a full hash-match check
    QuerySpec("dd_simhash_pairs", (s, dir) =>
      Dedup.simhashPolyPairs(T(s, dir, "documents"), "doc_id", "text",
          bits = 24, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b")),
      SimhashSql),

    // exact word-4-gram Jaccard pairs, inverted-index candidates (guaranteed
    // recall — unlike MinHash LSH this is fully oracle-checkable)
    QuerySpec("dd_jaccard_pairs", (s, dir) =>
      Dedup.shingleJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
          threshold = 0.2, shingleK = 4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
      ShingleSetsCtes + """,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |), j AS (
        |  SELECT id_a, id_b,
        |    len(list_intersect(x.ss, y.ss))::DOUBLE
        |      / (len(x.ss) + len(y.ss) - len(list_intersect(x.ss, y.ss))) AS jac
        |  FROM cand JOIN sets x ON x.doc_id = id_a JOIN sets y ON y.doc_id = id_b
        |)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j
        |WHERE jac >= 0.2 ORDER BY id_a, id_b""".stripMargin),

    // DIRECTED set-containment pairs |A∩B|/|A| ≥ 0.9 — the doc-inside-doc
    // detector symmetric Jaccard is blind to (J ≤ |A|/|B|); probe-side-only
    // prefix filter with guaranteed recall (Dedup.containmentPairs)
    QuerySpec("dd_containment", (s, dir) =>
      Dedup.containmentPairs(T(s, dir, "documents"), "doc_id", "text",
          threshold = 0.9, shingleK = 4)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment"))
        .orderBy(col("id_a"), col("id_b")),
      // directed pairs; the oracle needs no prefix logic — the final pair set
      // equals the plain shared-shingle plan's (recall is guaranteed)
      ShingleSetsCtes + """,
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |), c AS (
        |  SELECT id_a, id_b,
        |    len(list_intersect(x.ss, y.ss))::DOUBLE / len(x.ss) AS cont
        |  FROM cand JOIN sets x ON x.doc_id = id_a JOIN sets y ON y.doc_id = id_b
        |  WHERE len(x.ss) > 0
        |)
        |SELECT id_a, id_b, round(cont, 6) AS containment FROM c
        |WHERE cont >= 0.9 ORDER BY id_a, id_b""".stripMargin),

    // char-3-gram Jaccard pairs over the full documents table — the last of
    // the five dedup families under the oracle. Same df-ordered prefix
    // filter as dd_jaccard (guaranteed recall at any threshold); the oracle
    // replays the prefix logic so its candidate stage stays tractable, and
    // since ANY consistent total shingle order preserves recall, the SQL
    // side may tie-break by gram string where Spark tie-breaks by hash —
    // the verified pair set is identical
    QuerySpec("dd_ngram_pairs", (s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
          threshold = 0.9, n = 3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b")),
      """WITH norm AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(t) - 2), i -> t[i+1:i+3])) AS ss
        |  FROM norm WHERE len(t) >= 3
        |), inv AS (SELECT doc_id, len(ss) AS n_sh, unnest(ss) AS s FROM grams),
        |dfreq AS (SELECT s, count(*) AS df FROM inv GROUP BY s),
        |ordered AS (
        |  SELECT doc_id, n_sh, i.s,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY df, i.s) AS rn
        |  FROM inv i JOIN dfreq USING (s)
        |), prefix AS (
        |  SELECT doc_id, n_sh, rn, s FROM ordered WHERE rn <= n_sh - ceil(0.9 * n_sh) + 1
        |), cand AS (
        |  -- PPJoin length + positional filters (both sound for J >= t)
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
        |   AND least(a.n_sh, b.n_sh) >= ceil(0.9 * greatest(a.n_sh, b.n_sh))
        |   AND 1 + least(a.n_sh - a.rn, b.n_sh - b.rn)
        |       >= ceil(0.9 / 1.9 * (a.n_sh + b.n_sh) - 1e-9)
        |), j AS (
        |  SELECT id_a, id_b,
        |    len(list_intersect(x.ss, y.ss))::DOUBLE
        |      / (len(x.ss) + len(y.ss) - len(list_intersect(x.ss, y.ss))) AS jac
        |  FROM cand JOIN grams x ON x.doc_id = id_a JOIN grams y ON y.doc_id = id_b
        |)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j
        |WHERE jac >= 0.9 ORDER BY id_a, id_b""".stripMargin),

    // embedding-cosine near-dup pairs, exact variant (recall-guaranteed)
    QuerySpec("dd_embed_neardup", (s, dir) =>
      Similarity.exactNearDupPairs(T(s, dir, "embeddings"), "vec_id", "embedding", 0.42)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b")),
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.42
        |ORDER BY id_a, id_b""".stripMargin),

    // SemDeDup: near-dup search restricted to coarse-quantizer clusters —
    // Σ|cluster|² work instead of n², co-located by one shuffle on cid
    QuerySpec("dd_semantic", (s, dir) =>
      Similarity.semanticNearDupPairs(T(s, dir, "embeddings"), "vec_id", "embedding", 0.42, 16)
        .select(col("cid").cast("long").as("cid"), col("id_a"), col("id_b"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b")),
      // same quantizer CTEs as sim_ivf_topk, pair join within cluster
      IvfAssignCtes + """
        |SELECT a.cid, a.id AS id_a, b.id AS id_b,
        |       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.42
        |ORDER BY id_a, id_b""".stripMargin),

    // PRODUCTION simhash variant beside the 24-bit oracle gate: full 64-bit
    // FNV-token signature, pigeonhole banding (maxHamming+1 chunks ⇒ 16-bit
    // keys at r=3, selective at any corpus size). Rows-only at the driver
    // (FNV-64 per char is impractical to replay in SQL); recall is
    // unit-verified (Round2Spec pigeonhole test).
    QuerySpec("dd_simhash64_pairs", (s, dir) =>
      Dedup.simhashNearDupPairs(T(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b")),
      // production 64-bit simhash replayed end-to-end: FNV per token (HUGEINT
      // wrap multiply), 64 majority votes, then ALL-PAIRS Hamming — legitimate
      // as the oracle because the Spark side's pigeonhole banding has
      // guaranteed recall at maxHamming=3, so banded pairs ≡ all pairs
      {
        val toks = """list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"""
        s"""WITH hs AS (
           |  SELECT doc_id, list_transform($toks, t -> ${Dedup.fnv64DuckSql("t")}) AS hl
           |  FROM documents
           |), sigs AS (
           |  SELECT doc_id, ${Dedup.simhash64FromHashesDuckSql("hl")} AS sh FROM hs
           |)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
           |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sh, b.sh)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // cross-corpus near-dedup: even doc_ids (the "new crawl") deduped
    // against odd doc_ids (the "reference corpus") via bipartite MinHash-LSH
    QuerySpec("dd_cross_pairs", (s, dir) =>
      Dedup.minhashCrossCorpusPairs(T(s, dir, "documents"), "doc_id", "text",
          isRef = col("doc_id") % 2 === 1, threshold = 0.2)
        .select(col("id_new"), col("id_ref"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_new"), col("id_ref")),
      Dedup.minhashBipartiteDuckSql(threshold = 0.2, shingleK = 3,
        newPred = "% 2 = 0", refPred = "% 2 = 1")),

    // dedup-savings report: cluster-size histogram (+ singleton line) over
    // the minhash near-dup components
    QuerySpec("dd_cluster_hist", (s, dir) =>
      Groups.clusterSizeHistogram(T(s, dir, "documents"), "doc_id", "text",
        threshold = 0.2),
      Groups.clusterHistDuckSql(threshold = 0.2)),

    QuerySpec("dd_neardup_groups", (s, dir) =>
      Groups.nearDupGroups(T(s, dir, "documents"), "doc_id", "text",
        threshold = 0.2)
        // the driver compare hashes scalar cells — ship the member list as
        // a canonical CSV string on both engines
        .withColumn("members",
          array_join(col("members").cast("array<string>"), ",")),
      Groups.nearDupGroupsDuckSql(threshold = 0.2)),

    // canonical-doc selection inside each near-dup cluster: keep the
    // highest-n_chars member (tie -> smallest id) — the post-clustering
    // step of a real dedup pipeline, one struct-argmax per group
    QuerySpec("dd_canonical", (s, dir) =>
      Groups.canonicalDocs(T(s, dir, "documents"), "doc_id", "text",
        "n_chars", threshold = 0.2),
      Groups.canonicalDocsDuckSql("d.n_chars", threshold = 0.2)),

    // leakage-safe train/test split: near-dup CLUSTERS (not documents)
    // hash to splits, so no test doc has a near-duplicate in train; the
    // audit row computes the cross-split pair count under the cluster
    // policy (0) AND under the naive per-doc split (> 0 — the
    // contamination this operator exists to prevent)
    QuerySpec("dd_split_leakage", (s, dir) =>
      Groups.leakageSafeSplit(T(s, dir, "documents"), "doc_id", "text",
        threshold = 0.2),
      Groups.leakageSafeSplitDuckSql(threshold = 0.2)),

    // exact shared-substring contamination (share any verbatim ≥32-char
    // run): boilerplate injected BY THE QUERY on both engines (same
    // pattern as tx_pii) so long verbatim overlaps exist in the synthetic
    // bag-of-words corpus
    QuerySpec("dd_substring_pairs", (s, dir) =>
      Dedup.sharedSubstringPairs(boilerplateDocs(s, dir), "doc_id", "text",
        minLen = 32),
      Dedup.sharedSubstringDuckSql(BoilerplateSqlExpr, minLen = 32)),

    // the SAME contamination contract through the winnowed-fingerprint
    // scale path — hash-matches the identical oracle, proving the ~25×
    // cheaper plan exact
    // gram = 24: on a small-vocabulary corpus short grams recur across
    // most documents, so window-min fingerprints must be built over grams
    // long enough to be selective (≈4-word runs) — recall for ≥32-char
    // matches is guaranteed for ANY gram < minLen
    QuerySpec("dd_substring_winnow", (s, dir) =>
      Dedup.winnowedSubstringPairs(boilerplateDocs(s, dir), "doc_id", "text",
        minLen = 32, gram = 24),
      Dedup.sharedSubstringDuckSql(BoilerplateSqlExpr, minLen = 32)),

    // blocking + edit-distance verification (entity-resolution two-phase):
    // 32-char-prefix blocking key, full Levenshtein verify inside blocks,
    // sim = 1 − ed/max(|a|,|b|) — the BLOCKING member of the pair family,
    // beside dd_edit_pairs' guaranteed-recall q-gram banding
    QuerySpec("dd_block_pairs", (s, dir) =>
      Dedup.editVerifiedPairs(T(s, dir, "documents"), "doc_id", "text"),
      Dedup.editVerifiedDuckSql())
  )
}
