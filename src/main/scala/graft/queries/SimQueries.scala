package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity
import graft.queries.Shared._

/** Vector-similarity queries (`sim_*`) over `embeddings`: exact and
  * approximate top-k, quantizers and retrieval evaluation.
  */
object SimQueries {

  /** Embedding 0, the query vector of the single-query searches. */
  private def queryVec(emb: DataFrame): Array[Double] =
    emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray

  /** A stored IVF index in a fresh temp dir (deleted at exit): bootstrapped
    * with 16 lists from the vectors with vec_id % 10 ≠ 0, then the rest
    * appended under the frozen codebook; returns its path.
    */
  private def storedIvf(s: SparkSession, emb: DataFrame, prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    val p = d.resolve("idx").toString
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", p, nlist = 16)
    Similarity.appendIvfIndex(s, p, emb.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding")
    p
  }

  /** Oracle CTEs of [[storedIvf]] probed by vector 0: the bootstrap `boot`,
    * its first 16 vectors as centroids `c`, the query `q` and its 2 nearest
    * lists `probes`.
    */
  private val StoredIvfProbeCtes =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |boot AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 0),
      |c AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |  FROM boot ORDER BY vec_id LIMIT 16
      |), q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |probes AS (
      |  SELECT cid FROM (
      |    SELECT c.cid,
      |           row_number() OVER (
      |             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
      |    FROM c CROSS JOIN q) WHERE rn <= 2
      |)""".stripMargin

  /** Body of the oracle CTE `assigned`: every vector's (id, v, cid) under
    * the frozen centroids `c`.
    */
  private val FrozenAssignSql =
    """  SELECT id, v, cid FROM (
      |    SELECT e.vec_id AS id, e.v, c.cid,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
      |    FROM e CROSS JOIN c) WHERE rn = 1
      |)""".stripMargin

  /** Oracle CTE `codes`: each vector's PQ code per subspace, the argmin of
    * its rounded distances `enc` (ties to the lower code).
    */
  private val PqCodesCte =
    """, codes AS (
      |  SELECT id, mi, j AS code FROM (
      |    SELECT id, mi, j, row_number() OVER (PARTITION BY id, mi ORDER BY d2, j) AS rn
      |    FROM enc) WHERE rn = 1
      |)""".stripMargin

  /** Oracle tail of the kNN joins: each query's candidates `cand` from its
    * probed lists `probes` of `assign`, top 5 by (rounded cosine desc, id).
    */
  private val Top5Sql =
    """, cand AS (
      |  SELECT q.qid, a.id AS nid, round(list_cosine_similarity(q.qv, a.v), 6) AS cosine
      |  FROM q JOIN probes p ON q.qid = p.qid JOIN assign a ON a.cid = p.cid
      |  WHERE a.id <> q.qid
      |), ranked AS (
      |  SELECT qid, nid, cosine,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rank
      |  FROM cand)
      |SELECT qid, rank, nid, cosine FROM ranked WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  private[graft] val all: Seq[QuerySpec] = Seq(
    QuerySpec("sim_cosine_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 50)
        .select(col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id"))
    },
      """SELECT e.vec_id AS id,
        |       round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
        |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |ORDER BY cosine DESC, id LIMIT 50""".stripMargin),

    // Matryoshka retrieval: 16-of-64-dim prefix shortlist (the scan reads
    // a quarter of the vector bytes) + exact full-dim re-rank — the
    // dimension-truncation sibling of IVF/PQ shortlisting
    QuerySpec("sim_mrl_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.mrlTopK(emb, "vec_id", "embedding", q,
          prefixDim = 16, shortlist = 200, k = 20)
        .orderBy(col("cosine").desc, col("id"))
    },
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |short AS (
        |  SELECT e.vec_id AS id, e.embedding,
        |         round(list_cosine_similarity((e.embedding[1:16])::DOUBLE[],
        |                                      (q.embedding[1:16])::DOUBLE[]), 6) AS pre_cos
        |  FROM embeddings e, q
        |  ORDER BY pre_cos DESC, id LIMIT 200
        |)
        |SELECT s.id, s.pre_cos,
        |       round(list_cosine_similarity(s.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
        |FROM short s, q
        |ORDER BY cosine DESC, id LIMIT 20""".stripMargin),

    // SQ8 scalar-quantization retrieval: 8-bit levels from per-dim corpus
    // min/max, asymmetric-estimator shortlist, exact full-precision re-rank
    QuerySpec("sim_sq8", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.sq8TopK(emb, "vec_id", "embedding", q, shortlist = 200, k = 20)
        .orderBy(col("cosine").desc, col("id"))
    },
      Similarity.sq8DuckSql(dim = 64, shortlist = 200, k = 20)),

    QuerySpec("sim_srp_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.srpTopK(emb, "vec_id", "embedding", q, 20, dim = 64)
        .select(col("id"), round(col("cosine"), 6).as("cosine"))
    },
      // SRP multi-probe replayed: plane matrix as literals, explicit
      // left-to-right dot sums (bit-identical signs), probe set = buckets
      // within Hamming 1 of the query's bucket
      {
        val bucket = graft.pipeline.Similarity.srpBucketDuckSql("v", dim = 64, bits = 12)
        val qbucket = graft.pipeline.Similarity.srpBucketDuckSql("qv", dim = 64, bits = 12)
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
           |qs AS (SELECT $qbucket AS qb FROM q),
           |sigs AS (SELECT vec_id, v, $bucket AS bucket FROM e)
           |SELECT s.vec_id AS id, round(list_cosine_similarity(s.v, q.qv), 6) AS cosine
           |FROM sigs s, q, qs
           |WHERE bit_count(xor(s.bucket, qs.qb)) <= 1
           |ORDER BY cosine DESC, id LIMIT 20""".stripMargin
      }),

    // binary quantization ANN: 1 bit/dim signature (8 bytes/vector), Hamming
    // shortlist via xor+popcount in codegen, exact cosine re-rank of the
    // shortlist only — the rescored-BQ shape modern vector stores ship
    QuerySpec("sim_bq_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.bqTopK(emb, "vec_id", "embedding", q, k = 15, dim = 64,
        shortlist = 60)
    },
      // k-means IVF replayed: 3 Lloyd iterations in chained CTEs — assignment
      // by argmax cosine (ties -> lowest cid, same as the Scala loop),
      // centroids as element-wise per-cluster means (dims unrolled via a
      // range cross join), empty clusters keep the previous centroid.
      // fp summation-order noise (~1e-16) cannot flip an argmax at real
      // decision margins, so the discrete assignments agree with Spark's.
      // BQ replay: the 64-term sign-bit CASE sum is generated by the same
      // Scala code that builds the Spark Column, so the signatures agree
      // bit-for-bit; shortlist sort (hamming, id) and final sort (rounded
      // cosine desc, id) are both tie-stable
      {
        val sig = graft.pipeline.Similarity.bqSigDuckSql("s.v", dim = 64)
        val qsig = graft.pipeline.Similarity.bqSigDuckSql("qv", dim = 64)
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
           |qs AS (SELECT $qsig AS qb FROM q),
           |sigs AS (SELECT s.vec_id, s.v, $sig AS sig FROM e s),
           |short AS (
           |  SELECT s.vec_id AS id, s.v,
           |         CAST(bit_count(xor(s.sig, qs.qb)) AS INT) AS hamming
           |  FROM sigs s, qs ORDER BY hamming, id LIMIT 60)
           |SELECT sh.id, sh.hamming,
           |       round(list_cosine_similarity(sh.v, q.qv), 6) AS cosine
           |FROM short sh, q ORDER BY cosine DESC, id LIMIT 15""".stripMargin
      }),

    // two-level residual quantization (the additive-quantization member
    // beside PQ subspaces, SQ8 affine, MRL truncation, BQ sign bits):
    // coarse k-means + residual k-means, retrieval by the broadcast
    // 64-entry decode table joined BY CODE, exact re-rank of the shortlist
    QuerySpec("sim_rq", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.rqTopK(emb, "vec_id", "embedding", q, k = 15)
    },
      Similarity.rqDuckSql(k = 15)),

    // hard-negative triplet mining (FaceNet-style): per anchor the best
    // same-label positive and best different-label negative — anchors
    // broadcast, corpus scanned once, both argmaxes map-side struct-max
    QuerySpec("sim_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(T(s, dir, "embeddings"), "vec_id", "embedding",
        "label", nAnchors = 20),
      Similarity.hardNegativesDuckSql(nAnchors = 20)),

    // MMR diversified rerank (Carbonell-Goldstein): λ=0.7 greedy over a
    // 40-candidate cosine shortlist — the corpus-sized work is the
    // TakeOrdered shortlist + s² pairwise sims; the greedy state is
    // shortlist-bounded, never corpus-bounded
    QuerySpec("sim_mmr", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.mmrTopK(emb, "vec_id", "embedding", q, k = 10,
        lambda = 0.7, shortlist = 40)
    },
      Similarity.mmrDuckSql(
        embSql = "SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings",
        qSql = "SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0",
        k = 10, lambda = 0.7, shortlist = 40)),

    // cosine RANGE search (radius query, the sibling of top-k): every
    // vec_id%100 query pulls all corpus rows with cosine ≥ τ via the
    // multi-probe SRP bucket equi-join + exact verify; recall is the
    // deterministic seeded-plane collision set, replayed by the oracle
    QuerySpec("sim_range", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.srpRangeSearch(emb, emb.filter(col("vec_id") % 100 === 0),
          "vec_id", "embedding", tau = 0.3, dim = 64, bits = 8,
          probeHamming = 2)
        .select(col("qid"), col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("qid"), col("id"))
    },
      // range-search replay: same seeded SRP planes, same multi-probe set
      // (bucket XOR all masks of Hamming weight ≤ 2), same exact-cosine τ
      {
        val sig = Similarity.srpBucketDuckSql("v", dim = 64, bits = 8)
        val flips = Similarity.probeMasks(bits = 8, probeHamming = 2).mkString(", ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |b AS (SELECT vec_id, v, $sig AS bucket FROM e),
           |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM b
           |      WHERE vec_id % 100 = 0),
           |probes AS (
           |  SELECT q.qid, q.qv, xor(q.qb, f.f) AS probe
           |  FROM q CROSS JOIN (SELECT unnest([$flips]) AS f) f
           |)
           |SELECT DISTINCT p.qid, c.vec_id AS id,
           |       round(list_cosine_similarity(p.qv, c.v), 6) AS cosine
           |FROM probes p JOIN b c ON c.bucket = p.probe
           |WHERE c.vec_id <> p.qid
           |  AND list_cosine_similarity(p.qv, c.v) >= 0.3
           |ORDER BY qid, id""".stripMargin
      }),

    // PRODUCTION IVF variant: distributed k-means coarse quantizer instead
    // of the oracle's deterministic first-N centroids; probe/re-rank
    // dataflow identical. Rows-only; full-probe≡brute-force is unit-verified.
    QuerySpec("sim_ivf_kmeans", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.ivfTopKKMeans(emb, "vec_id", "embedding", q, k = 20,
          nlist = 16, nprobe = 2, kmeansIters = 3)
        .select(col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id"))
    },
      {
        def assign(cents: String, out: String) =
          s"""$out AS (
             |  SELECT vec_id, v, cid FROM (
             |    SELECT e.vec_id, e.v, c.cid,
             |           row_number() OVER (PARTITION BY e.vec_id
             |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
             |    FROM e CROSS JOIN $cents c) WHERE rn = 1
             |)""".stripMargin
        def recenter(assigned: String, prev: String, out: String) =
          s"""$out AS (
             |  SELECT p.cid, coalesce(m.cv, p.cv) AS cv
             |  FROM $prev p LEFT JOIN (
             |    SELECT cid, list(mv ORDER BY dim) AS cv FROM (
             |      SELECT a.cid, t.dim, avg(a.v[t.dim]) AS mv
             |      FROM $assigned a CROSS JOIN range(1, 65) t(dim)
             |      GROUP BY a.cid, t.dim) GROUP BY cid
             |  ) m ON m.cid = p.cid
             |)""".stripMargin
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
           |${assign("c0", "a1")}, ${recenter("a1", "c0", "c1")},
           |${assign("c1", "a2")}, ${recenter("a2", "c1", "c2")},
           |${assign("c2", "a3")}, ${recenter("a3", "c2", "c3")},
           |${assign("c3", "af")},
           |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
           |probes AS (
           |  SELECT cid FROM (
           |    SELECT c.cid, row_number() OVER (
           |      ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
           |    FROM c3 c CROSS JOIN q) WHERE rn <= 2
           |)
           |SELECT a.vec_id AS id, round(list_cosine_similarity(a.v, q.qv), 6) AS cosine
           |FROM af a JOIN probes p ON a.cid = p.cid CROSS JOIN q
           |ORDER BY cosine DESC, id LIMIT 20""".stripMargin
      }),

    // IVF ANN: 16 deterministic coarse centroids, probe 2 lists, exact
    // re-rank inside — the partition-pruned scale path beside brute force
    QuerySpec("sim_ivf_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, k = 20, nlist = 16, nprobe = 2)
        .select(col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id"))
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |sims AS (
        |  SELECT e.vec_id AS id, e.v, c.cid, list_cosine_similarity(e.v, c.cv) AS s
        |  FROM e CROSS JOIN c
        |), assign AS (
        |  SELECT id, v, cid FROM (
        |    SELECT id, v, cid, row_number() OVER (PARTITION BY id ORDER BY s DESC, cid) AS rn
        |    FROM sims) WHERE rn = 1
        |), probes AS (
        |  SELECT cid FROM (
        |    SELECT c.cid, row_number() OVER (ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
        |    FROM c CROSS JOIN q) WHERE rn <= 2
        |)
        |SELECT a.id, round(list_cosine_similarity(a.v, q.qv), 6) AS cosine
        |FROM assign a JOIN probes p ON a.cid = p.cid CROSS JOIN q
        |ORDER BY cosine DESC, id LIMIT 20""".stripMargin),

    // filtered ANN — the vector-database "metadata filtering" shape: the
    // label predicate is pushed INTO the probed IVF lists, and because a
    // selective filter starves a fixed nprobe, the probe width escalates
    // deterministically (2→4→8→16 lists) until ≥ k filtered candidates are
    // inside the prefix; the oracle replays assignment, probe ranking, AND
    // the escalation rule
    QuerySpec("sim_filtered_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.ivfFilteredTopK(emb, "vec_id", "embedding",
          col("label") === 3, q, k = 20, nlist = 16, nprobe = 2)
        .select(col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id"))
    },
      // filtered-ANN replay: same assignment + probe ranking as sim_ivf_topk,
      // plus the label pre-filter and the deterministic nprobe escalation
      // (smallest width in {2,4,8,16} whose probed prefix holds >= 20
      // filtered candidates, else all 16 lists)
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |assign AS (
        |  SELECT id, v, label, cid FROM (
        |    SELECT e.vec_id AS id, e.v, e.label, c.cid,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN c) WHERE rn = 1
        |), prank AS (
        |  SELECT cid, row_number() OVER (ORDER BY s DESC, cid) - 1 AS pr
        |  FROM (SELECT c.cid, list_cosine_similarity(q.qv, c.cv) AS s
        |        FROM c CROSS JOIN q)
        |), cand AS (
        |  SELECT a.id, a.v, p.pr FROM assign a JOIN prank p ON a.cid = p.cid
        |  WHERE a.label = 3
        |), width AS (
        |  SELECT coalesce(min(step), 16) AS w
        |  FROM (VALUES (2), (4), (8), (16)) s(step)
        |  WHERE (SELECT count(*) FROM cand WHERE pr < s.step) >= 20
        |)
        |SELECT cand.id, round(list_cosine_similarity(cand.v, q.qv), 6) AS cosine
        |FROM cand CROSS JOIN q WHERE cand.pr < (SELECT w FROM width)
        |ORDER BY cosine DESC, id LIMIT 20""".stripMargin),

    // PQ/ADC compressed-domain search: 8 subspaces × 16 codes (64-dim →
    // 8 small ints, 32×), query LUT broadcast, distance = 8 table lookups
    QuerySpec("sim_pq_adc", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.pqAdcTopK(emb, "vec_id", "embedding", q, kTop = 20)
    },
      // full PQ replay: codebook = subvectors of vec_id < 16, encode = argmin
      // of the 9-rounded subspace L2², ADC = sum of LUT lookups — the rounding
      // before argmin/sum is what makes the float path engine-reproducible
      """WITH cb AS (
        |  SELECT ms.mi, e.vec_id AS j,
        |         list_transform(range(8), i -> e.embedding[ms.mi*8 + i + 1]::DOUBLE) AS c
        |  FROM (SELECT unnest(range(8)) AS mi) ms CROSS JOIN embeddings e
        |  WHERE e.vec_id < 16
        |), enc AS (
        |  SELECT e.vec_id AS id, cb.mi, cb.j,
        |         round(list_sum(list_transform(range(8),
        |           i -> (e.embedding[cb.mi*8 + i + 1]::DOUBLE - cb.c[i+1])
        |              * (e.embedding[cb.mi*8 + i + 1]::DOUBLE - cb.c[i+1]))), 9) AS d2
        |  FROM embeddings e CROSS JOIN cb
        |)""".stripMargin + PqCodesCte + """, lut AS (
        |  SELECT cb.mi, cb.j,
        |         round(list_sum(list_transform(range(8),
        |           i -> (q.embedding[cb.mi*8 + i + 1]::DOUBLE - cb.c[i+1])
        |              * (q.embedding[cb.mi*8 + i + 1]::DOUBLE - cb.c[i+1]))), 9) AS qd2
        |  FROM cb CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |)
        |SELECT c.id, round(sum(l.qd2), 6) AS adc
        |FROM codes c JOIN lut l ON l.mi = c.mi AND l.j = c.code
        |GROUP BY c.id
        |ORDER BY adc, id LIMIT 20""".stripMargin),

    // stored IVF index lifecycle: bootstrap write (list_id partition dirs
    // + frozen-centroid sidecar), append quantized with the FROZEN
    // codebook, then a probe whose 2 lists are a partition filter — the
    // sp_layer_upsert evidence pattern for the ANN store; the oracle
    // replays frozen-bootstrap assignment over the full (boot + appended)
    // corpus
    QuerySpec("sim_ivf_store", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val p = storedIvf(s, emb, "graft-ivf-idx")
      val q = queryVec(emb)
      Similarity.probeStoredIvf(s, p, q, k = 20, nprobe = 2)
    },
      StoredIvfProbeCtes + """, assigned AS (
        |  -- EVERY vector (bootstrap + appended) quantized with the FROZEN
        |  -- bootstrap codebook, exactly like appendIvfIndex
        |""".stripMargin + FrozenAssignSql + """
        |SELECT a.id, round(list_cosine_similarity(q.qv, a.v), 6) AS cosine
        |FROM assigned a JOIN probes p ON p.cid = a.cid CROSS JOIN q
        |ORDER BY cosine DESC, id LIMIT 20""".stripMargin),

    // stored-index DELETE lifecycle: bootstrap + append as sim_ivf_store,
    // then tombstone-delete vec_id % 7 == 0 (a metadata-sized sidecar
    // write — no vector file touched), probe through the tombstone
    // anti-join, COMPACT (dynamic overwrite of only the affected list
    // partitions; fully-emptied lists dropped), and probe again — the two
    // phases must return the identical masked top-k
    QuerySpec("sim_ivf_delete", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val p = storedIvf(s, emb, "graft-ivf-del")
      val q = queryVec(emb)
      // delete-by-id is a driver-side id list by nature (bounded: |corpus|/7
      // at the gate; production batches arrive as lists anyway)
      val deleted = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      Similarity.deleteFromIvfIndex(s, p, deleted)
      // materialize the tombstone-phase probe BEFORE compaction replaces
      // the files its lazy scan already listed
      val tombPhase = Similarity.probeStoredIvf(s, p, q, k = 20, nprobe = 2)
        .withColumn("phase", lit("tombstone")).localCheckpoint()
      Similarity.compactIvfIndex(s, p)
      val compactPhase = Similarity.probeStoredIvf(s, p, q, k = 20, nprobe = 2)
        .withColumn("phase", lit("compacted"))
      compactPhase.unionAll(tombPhase)
        .orderBy(col("phase"), col("cosine").desc, col("id"))
    },
      // delete lifecycle: the sim_ivf_store replay minus the tombstoned ids,
      // emitted once per phase (tombstone-masked probe ≡ post-compaction probe)
      StoredIvfProbeCtes + ", assigned AS (\n" + FrozenAssignSql + """, hits AS (
        |  SELECT a.id, round(list_cosine_similarity(q.qv, a.v), 6) AS cosine
        |  FROM assigned a JOIN probes p ON p.cid = a.cid CROSS JOIN q
        |  WHERE a.id % 7 <> 0
        |  ORDER BY cosine DESC, id LIMIT 20
        |)
        |SELECT id, cosine, 'compacted' AS phase FROM hits
        |UNION ALL
        |SELECT id, cosine, 'tombstone' AS phase FROM hits
        |ORDER BY phase, cosine DESC, id""".stripMargin),

    // IVF-PQ with exact re-rank: coarse-quantizer pruning (2 of 16 lists)
    // in front of the ADC scan, then the ADC top-60 re-ranked by exact L2
    // — the canonical FAISS-shaped production index, every stage replayed
    // by the oracle
    QuerySpec("sim_ivf_pq", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", q, k = 20,
        nlist = 16, nprobe = 2, m = 8, codeK = 16, refine = 3)
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cl AS (SELECT vec_id AS clid, v AS clv FROM e WHERE vec_id < 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |assigned AS (
        |  SELECT id, clid FROM (
        |    SELECT e.vec_id AS id, cl.clid,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.v, cl.clv) DESC, cl.clid) AS rn
        |    FROM e CROSS JOIN cl) WHERE rn = 1
        |), pr AS (
        |  SELECT clid FROM (
        |    SELECT cl.clid,
        |           row_number() OVER (
        |             ORDER BY list_cosine_similarity(q.qv, cl.clv) DESC, cl.clid) AS rn
        |    FROM cl CROSS JOIN q) WHERE rn <= 2
        |), cand AS (
        |  SELECT a.id FROM assigned a JOIN pr ON pr.clid = a.clid
        |), cb AS (
        |  SELECT ms.mi, e2.vec_id AS j,
        |         list_transform(range(8), i -> e2.embedding[ms.mi*8 + i + 1]::DOUBLE) AS c
        |  FROM (SELECT unnest(range(8)) AS mi) ms CROSS JOIN embeddings e2
        |  WHERE e2.vec_id < 16
        |), enc AS (
        |  SELECT e3.vec_id AS id, cb.mi, cb.j,
        |         round(list_sum(list_transform(range(8),
        |           i -> (e3.embedding[cb.mi*8 + i + 1]::DOUBLE - cb.c[i+1])
        |              * (e3.embedding[cb.mi*8 + i + 1]::DOUBLE - cb.c[i+1]))), 9) AS d2
        |  FROM embeddings e3 JOIN cand ON cand.id = e3.vec_id CROSS JOIN cb
        |)""".stripMargin + PqCodesCte + """, lut AS (
        |  SELECT cb.mi, cb.j,
        |         round(list_sum(list_transform(range(8),
        |           i -> (qe.embedding[cb.mi*8 + i + 1]::DOUBLE - cb.c[i+1])
        |              * (qe.embedding[cb.mi*8 + i + 1]::DOUBLE - cb.c[i+1]))), 9) AS qd2
        |  FROM cb CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qe
        |), shortlist AS (
        |  SELECT c.id, round(sum(l.qd2), 6) AS adc
        |  FROM codes c JOIN lut l ON l.mi = c.mi AND l.j = c.code
        |  GROUP BY c.id
        |  ORDER BY adc, id LIMIT 60
        |)
        |SELECT s.id, s.adc,
        |       round(list_sum(list_transform(range(64),
        |         i -> (ev.v[i+1] - q.qv[i+1]) * (ev.v[i+1] - q.qv[i+1]))), 6) AS d2
        |FROM shortlist s JOIN e ev ON ev.vec_id = s.id CROSS JOIN q
        |ORDER BY d2, id LIMIT 20""".stripMargin),

    // batch ANN kNN join: every 25th vector queries the IVF index at once —
    // corpus assigned once, probe lists exploded per query, list-keyed join
    // (partition pruning when the corpus is written by list_id), window
    // top-k on the rounded exact cosine
    QuerySpec("sim_knn_join", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfKnnJoin(emb, emb.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },
      // same assignment/probe/re-rank replay as sim_ivf_topk, generalized to
      // the query SET with per-query windows
      ivfCandCtes(every = 25) + """, ranked AS (
        |  SELECT qid, nid, cosine,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rank
        |  FROM cand
        |)
        |SELECT qid, rank, nid, cosine FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),

    // two-level (hierarchical) IVF kNN join — the 100 TB quantizer: flat
    // assignment is corpus×nlist (N² under nlist∝N, measured 9.5× vs
    // linear 3.33 at the 100×/30× rungs); parents+children assignment is
    // ~2√nlist per vector. The oracle replays the exact two-level argmax
    QuerySpec("sim_knn_hier", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfKnnJoinTwoLevel(emb, emb.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |par AS (SELECT cid AS pid, cv AS pv FROM c WHERE cid < 4),
        |grp AS (
        |  SELECT cid, cv, pid FROM (
        |    SELECT c.cid, c.cv, par.pid,
        |           row_number() OVER (PARTITION BY c.cid
        |             ORDER BY list_cosine_similarity(c.cv, par.pv) DESC, par.pid) AS rn
        |    FROM c CROSS JOIN par) WHERE rn = 1
        |), vp AS (
        |  SELECT id, v, pid FROM (
        |    SELECT e.vec_id AS id, e.v, par.pid,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.v, par.pv) DESC, par.pid) AS rn
        |    FROM e CROSS JOIN par) WHERE rn = 1
        |), assign AS (
        |  SELECT id, v, cid FROM (
        |    SELECT vp.id, vp.v, g.cid,
        |           row_number() OVER (PARTITION BY vp.id
        |             ORDER BY list_cosine_similarity(vp.v, g.cv) DESC, g.cid) AS rn
        |    FROM vp JOIN grp g ON g.pid = vp.pid) WHERE rn = 1
        |), q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 25 = 0),
        |qp AS (
        |  SELECT qid, qv, pid FROM (
        |    SELECT q.qid, q.qv, par.pid,
        |           row_number() OVER (PARTITION BY q.qid
        |             ORDER BY list_cosine_similarity(q.qv, par.pv) DESC, par.pid) AS rn
        |    FROM q CROSS JOIN par) WHERE rn <= 2
        |), probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT qp.qid, g.cid,
        |           row_number() OVER (PARTITION BY qp.qid
        |             ORDER BY list_cosine_similarity(qp.qv, g.cv) DESC, g.cid) AS rn
        |    FROM qp JOIN grp g ON g.pid = qp.pid) WHERE rn <= 2
        |)""".stripMargin + Top5Sql),

    // log-depth quantizer tree (nlist=64, branch=4 → 4-node top, 16-node
    // mid, 64 leaves): per-vector assignment is branch·log_branch(nlist)
    // — the O(log N) scale path where flat is O(N) and two-level O(√N).
    // The oracle replays every level of the greedy descent and the
    // width-2 beam probe exactly (same (cosine desc, id) tie order)
    QuerySpec("sim_knn_tree", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfKnnJoinTree(emb, emb.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", k = 5, nlist = 64, nprobe = 2,
          branch = 4, beam = 2)
        .orderBy(col("qid"), col("rank"))
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 64),
        |p16 AS (SELECT cid AS pid, cv AS pv FROM c WHERE cid < 16),
        |p4 AS (SELECT cid AS tid, cv AS tv FROM c WHERE cid < 4),
        |g16 AS (
        |  SELECT pid, tid FROM (
        |    SELECT p16.pid, p4.tid,
        |           row_number() OVER (PARTITION BY p16.pid
        |             ORDER BY list_cosine_similarity(p16.pv, p4.tv) DESC, p4.tid) AS rn
        |    FROM p16 CROSS JOIN p4) WHERE rn = 1
        |), g64 AS (
        |  SELECT cid, pid FROM (
        |    SELECT c.cid, p16.pid,
        |           row_number() OVER (PARTITION BY c.cid
        |             ORDER BY list_cosine_similarity(c.cv, p16.pv) DESC, p16.pid) AS rn
        |    FROM c CROSS JOIN p16) WHERE rn = 1
        |), a4 AS (
        |  SELECT id, v, tid FROM (
        |    SELECT e.vec_id AS id, e.v, p4.tid,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.v, p4.tv) DESC, p4.tid) AS rn
        |    FROM e CROSS JOIN p4) WHERE rn = 1
        |), a16 AS (
        |  SELECT id, v, pid FROM (
        |    SELECT a4.id, a4.v, g16.pid,
        |           row_number() OVER (PARTITION BY a4.id
        |             ORDER BY list_cosine_similarity(a4.v, p16.pv) DESC, g16.pid) AS rn
        |    FROM a4 JOIN g16 ON g16.tid = a4.tid JOIN p16 ON p16.pid = g16.pid)
        |  WHERE rn = 1
        |), assign AS (
        |  SELECT id, v, cid FROM (
        |    SELECT a16.id, a16.v, g64.cid,
        |           row_number() OVER (PARTITION BY a16.id
        |             ORDER BY list_cosine_similarity(a16.v, c.cv) DESC, g64.cid) AS rn
        |    FROM a16 JOIN g64 ON g64.pid = a16.pid JOIN c ON c.cid = g64.cid)
        |  WHERE rn = 1
        |), q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 25 = 0),
        |q4 AS (
        |  SELECT qid, qv, tid FROM (
        |    SELECT q.qid, q.qv, p4.tid,
        |           row_number() OVER (PARTITION BY q.qid
        |             ORDER BY list_cosine_similarity(q.qv, p4.tv) DESC, p4.tid) AS rn
        |    FROM q CROSS JOIN p4) WHERE rn <= 2
        |), q16 AS (
        |  -- children of the two chosen top nodes are DISJOINT pid sets
        |  -- (each pid has exactly one parent), so a plain join suffices
        |  SELECT qid, qv, pid FROM (
        |    SELECT q4.qid, q4.qv, g16.pid,
        |           row_number() OVER (PARTITION BY q4.qid
        |             ORDER BY list_cosine_similarity(q4.qv, p16.pv) DESC, g16.pid) AS rn
        |    FROM q4 JOIN g16 ON g16.tid = q4.tid JOIN p16 ON p16.pid = g16.pid)
        |  WHERE rn <= 2
        |), probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT q16.qid, g64.cid,
        |           row_number() OVER (PARTITION BY q16.qid
        |             ORDER BY list_cosine_similarity(q16.qv, c.cv) DESC, g64.cid) AS rn
        |    FROM q16 JOIN g64 ON g64.pid = q16.pid JOIN c ON c.cid = g64.cid)
        |  WHERE rn <= 2
        |)""".stripMargin + Top5Sql),

    // ANN quality gate: recall@5 of the IVF index vs the exact top-5 over
    // a sampled query set — retrieval evaluation as an operator; both
    // sides share the (rounded cosine, id) tie order so recall is exact
    // embedding-norm hygiene histogram: ‖v‖ distribution in 0.1-wide bins —
    // the sanity check before any cosine/dot-product index (un-normalized
    // vectors silently break dot≈cosine shortcuts); the square-sum folds
    // sequentially inside each vector (aggregate HOF = the oracle's
    // 0-seeded list_reduce), bins are floor(10·norm) on identical doubles
    // top principal component by exact integer moments + driver power
    // iteration (bounded by dim, not corpus) — per-label projection stats
    // + Rayleigh lambda, bit-identical to the oracle's replayed folds
    QuerySpec("sim_pca", (s, dir) =>
      Similarity.pcaLabelStats(T(s, dir, "embeddings"),
        "embedding", "label", dim = 64),
      graft.pipeline.Similarity.pcaLabelStatsDuckSql(
        "embedding", "label", "embeddings", dim = 64)),

    QuerySpec("sim_norm_hist", (s, dir) => {
      val norm = sqrt(aggregate(
        transform(col("embedding"), _.cast("double")),
        lit(0.0), (a, v) => a + v * v))
      T(s, dir, "embeddings")
        .withColumn("bin", floor(norm * 10.0).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("vecs"))
        .orderBy("bin")
    },
      """WITH n AS (
        |  SELECT CAST(floor(sqrt(list_reduce(
        |           list_prepend(CAST(0.0 AS DOUBLE),
        |             list_transform(embedding::DOUBLE[], x -> x * x)),
        |           (a, b) -> a + b)) * 10.0) AS BIGINT) AS bin
        |  FROM embeddings
        |)
        |SELECT bin, count(*) AS vecs FROM n GROUP BY 1 ORDER BY 1""".stripMargin),

    QuerySpec("sim_recall", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfRecallAtK(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 2)
    },
      (IvfEvalCtes + """
          |, hits AS (
          |  SELECT exact.qid, count(*) AS h
          |  FROM exact JOIN approx ON exact.qid = approx.qid AND exact.nid = approx.nid
          |  GROUP BY 1
          |), perq AS (
          |  SELECT qq.qid, coalesce(h, 0) AS h
          |  FROM (SELECT DISTINCT qid FROM q) qq LEFT JOIN hits ON qq.qid = hits.qid
          |)
          |SELECT CAST(count(*) AS BIGINT) AS n_queries,
          |       round(CAST(sum(h) AS DOUBLE) / (5 * count(*)), 6) AS avg_recall,
          |       round(CAST(min(h) AS DOUBLE) / 5, 6) AS min_recall
          |FROM perq""".stripMargin)),

    // NDCG@5 of the same IVF shortlist: position-sensitive retrieval grade
    // (log2-discounted binary relevance) — finds-them-but-misorders-them
    // scores below ranks-them-right; per-query DCG and the cross-query mean
    // both fold in ordered running windows
    QuerySpec("sim_ndcg", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") % 50 === 0)
      Similarity.ndcgAtK(
        Similarity.ivfKnnJoin(emb, qs, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 2),
        emb, qs, "vec_id", "embedding", k = 5)
    },
      (IvfEvalCtes + """
          |, g AS (
          |  SELECT a.qid, a.rank,
          |         CASE WHEN e.nid IS NOT NULL
          |              THEN 1.0 / log2(CAST(a.rank AS DOUBLE) + 1) ELSE 0.0
          |         END AS g
          |  FROM approx a LEFT JOIN exact e ON e.qid = a.qid AND e.nid = a.nid
          |), dcg AS (
          |  SELECT qid, dcg FROM (
          |    SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY rank) AS rn,
          |           count(*) OVER (PARTITION BY qid) AS nr,
          |           sum(g) OVER (PARTITION BY qid ORDER BY rank
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcg
          |    FROM g) WHERE rn = nr
          |), scored AS (
          |  SELECT qq.qid, coalesce(d.dcg, 0.0)
          |         / (1.0/log2(2.0) + 1.0/log2(3.0) + 1.0/log2(4.0)
          |            + 1.0/log2(5.0) + 1.0/log2(6.0)) AS ndcg
          |  FROM (SELECT DISTINCT qid FROM q) qq LEFT JOIN dcg d ON d.qid = qq.qid
          |), fin AS (
          |  SELECT qid, ndcg,
          |         row_number() OVER (ORDER BY qid) AS rn,
          |         count(*) OVER () AS nq,
          |         sum(ndcg) OVER (ORDER BY qid
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
          |         min(ndcg) OVER () AS mn
          |  FROM scored
          |)
          |SELECT CAST(nq AS BIGINT) AS n_queries,
          |       round(s / CAST(nq AS DOUBLE), 6) AS avg_ndcg,
          |       round(mn, 6) AS min_ndcg
          |FROM fin WHERE rn = nq""".stripMargin))
  )
}
