package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - Brute-force cosine top-k: one scan + TakeOrdered — the exact baseline.
  *    Dot product/norms are pure higher-order-function column expressions
  *    (`zip_with` + `aggregate`) so they stay in codegen, no UDF.
  *  - SRP (signed-random-projection) LSH buckets: the scale path — a 100 TB
  *    corpus is bucketed once (cheap column op, deterministic seeded planes),
  *    and a query probes only its own bucket(s), turning top-k into a
  *    partition-pruned scan. Recall is tunable via bits/tables.
  *  - Near-dup pairs by cosine ≥ τ: SRP-bucket self-join + exact verify.
  */
object Similarity {

  /** Cosine similarity between two array<double> columns — pure HOF columns,
    * left-to-right accumulation (deterministic).
    */
  /** Cosine similarity — ONE fused codegen loop over both arrays
    * ([[graft.functions.CosineSimExpr]]); bit-identical to the
    * zip_with+aggregate HOF composition it replaced (left-to-right
    * accumulation, same null propagation), but the ANN-family hot scalar
    * no longer pays four array walks of per-element lambda dispatch.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimExpr.column(a, b)

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Exact brute-force top-k by cosine vs one query vector.
    * orderBy+limit plans as TakeOrderedAndProject: per-partition top-k heaps,
    * only k rows per partition reach the driver — no global sort shuffle.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int): DataFrame = {
    val qlit = array(query.map(lit): _*)
    df.select(col(idCol).as("id"),
        cosine(col(vecCol), qlit).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Matryoshka (MRL) retrieval: shortlist by the cosine of the first
    * `prefixDim` dimensions, then exact full-dimension re-rank of the
    * shortlist — the dimension-TRUNCATION member of the shortlist-then-
    * rerank family (IVF prunes by partition, PQ by quantization, MRL by
    * prefix; Kusupati et al. 2022). With MRL-trained embeddings the prefix
    * IS a valid coarse embedding, so the first pass scans prefixDim/dim of
    * the bytes — the column-pruned ANN scan at 100 TB. Both passes rank on
    * values rounded to 6 decimals with id tie-breaks, so the shortlist set
    * and final order replay exactly.
    */
  def mrlTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], prefixDim: Int, shortlist: Int, k: Int): DataFrame = {
    val qPre = array(query.take(prefixDim).map(lit): _*)
    val qFull = array(query.map(lit): _*)
    val short = df.select(col(idCol).as("id"), col(vecCol).as("__v"),
        round(cosine(slice(col(vecCol), 1, prefixDim), qPre), 6).as("pre_cos"))
      .orderBy(col("pre_cos").desc, col("id")).limit(shortlist)
    short.select(col("id"), col("pre_cos"),
        round(cosine(col("__v"), qFull), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id")).limit(k)
  }

  /** Scalar quantization (SQ8) retrieval: per-dimension [min,max] over the
    * corpus, each float quantized to an 8-bit level, candidates scored by
    * the ASYMMETRIC estimator (exact query vs the dequantized reconstruction
    * mn + (level+0.5)·scale — the FAISS ScalarQuantizer rule), then exact
    * re-rank of the shortlist. The quantized scan reads 1 byte/dim instead
    * of 4 — the memory-bandwidth member of the shortlist-then-rerank family
    * beside IVF (partition pruning), PQ (subspace codebooks) and MRL (prefix
    * truncation). The 2·dim min/max stats are the only global state —
    * collected once (a dim-row aggregate) and embedded as literals,
    * broadcast-sized by construction at any corpus size. Both passes rank
    * on round-6 values with id tie-breaks so shortlist set and final order
    * replay exactly in the oracle.
    */
  def sq8TopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], shortlist: Int, k: Int): DataFrame = {
    val stats = df.select(posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy("d")
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val mns = array(stats.map(s => lit(s._2)): _*)
    val mxs = array(stats.map(s => lit(s._3)): _*)
    val qFull = array(query.map(lit): _*)
    def dequant(vec: Column): Column = transform(vec, (vf, i) => {
      val v = vf.cast("double")
      val mn = element_at(mns, i + 1)
      val mx = element_at(mxs, i + 1)
      val lvl = least(floor((v - mn) * 255.0 / (mx - mn)).cast("double"), lit(255.0))
      when(mx === mn, mn).otherwise(mn + (lvl + 0.5) * (mx - mn) / 255.0)
    })
    val short = df.select(col(idCol).as("id"), col(vecCol).as("__v"),
        round(cosine(dequant(col(vecCol)), qFull), 6).as("sq_cos"))
      .orderBy(col("sq_cos").desc, col("id")).limit(shortlist)
    short.select(col("id"), col("sq_cos"),
        round(cosine(col("__v"), qFull), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id")).limit(k)
  }

  /** DuckDB replay of [[sq8TopK]] over `embeddings` with `vec_id = 0` as the
    * query vector: the oracle recomputes the per-dim min/max itself (same
    * doubles — float→double casts are exact), applies the identical
    * quantize/dequantize arithmetic in the identical operation order, and
    * ranks with the same round-6 + id tie-breaks.
    */
  def sq8DuckSql(dim: Int, shortlist: Int, k: Int): String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |ds AS (
       |  SELECT d, min(embedding[d]::DOUBLE) AS mn, max(embedding[d]::DOUBLE) AS mx
       |  FROM embeddings CROSS JOIN range(1, ${dim + 1}) t(d)
       |  GROUP BY d
       |),
       |mm AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM ds),
       |dq AS (
       |  SELECT e.vec_id AS id, e.embedding,
       |         list_transform(range(1, ${dim + 1}), __d ->
       |           CASE WHEN mxs[__d] = mns[__d] THEN mns[__d]
       |                ELSE mns[__d]
       |                     + (least(floor((e.embedding[__d]::DOUBLE - mns[__d]) * 255.0
       |                                    / (mxs[__d] - mns[__d])), 255.0) + 0.5)
       |                       * (mxs[__d] - mns[__d]) / 255.0 END) AS dqv
       |  FROM embeddings e, mm
       |),
       |short AS (
       |  SELECT d.id, d.embedding, round(list_cosine_similarity(d.dqv, q.qv), 6) AS sq_cos
       |  FROM dq d, q
       |  ORDER BY sq_cos DESC, id LIMIT $shortlist
       |)
       |SELECT s.id, s.sq_cos,
       |       round(list_cosine_similarity(s.embedding::DOUBLE[], q.qv), 6) AS cosine
       |FROM short s, q
       |ORDER BY cosine DESC, id LIMIT $k""".stripMargin

  // ------------------------------------------------------------------ SRP

  /** Deterministic random hyperplanes (seed 42), dim × bits. */
  private def planes(dim: Int, bits: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(42)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** SRP signature: `bits`-bit bucket id from hyperplane signs. */
  def srpBucket(vecCol: Column, dim: Int, bits: Int = 16): Column =
    udf((v: Seq[Float]) => {
      if (v == null) 0L
      else {
        val ps = planesCache.getOrElseUpdate((dim, bits), planes(dim, bits))
        var sig = 0L
        var b = 0
        while (b < bits) {
          var dot = 0.0
          val p = ps(b)
          var i = 0
          val n = math.min(v.length, dim)
          while (i < n) { dot += p(i) * v(i); i += 1 }
          if (dot >= 0) sig |= (1L << b)
          b += 1
        }
        sig
      }
    }).apply(vecCol)

  private val planesCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), Array[Array[Double]]]

  /** DuckDB replay of [[srpBucket]]: the deterministic plane matrix embedded
    * as double literals, each dot product written as an explicit
    * left-to-right sum (bit-identical to the Scala loop), sign bits summed
    * into the bucket id. `vExpr` must be a DOUBLE[] column expression.
    */
  def srpBucketDuckSql(vExpr: String, dim: Int, bits: Int): String = {
    val ps = planesCache.getOrElseUpdate((dim, bits), planes(dim, bits))
    (0 until bits).map { b =>
      val dot = (0 until dim).map(i => s"(${ps(b)(i)}) * $vExpr[${i + 1}]").mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** ANN top-k: probe the query's SRP bucket plus all buckets within
    * `probeHamming` bit flips (multi-probe), exact cosine re-rank inside.
    * At scale the table is written partitioned by `bucket`, so the probe is
    * partition pruning, not a scan.
    */
  def srpTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, dim: Int, bits: Int = 12,
      probeHamming: Int = 1): DataFrame = {
    val ps = planesCache.getOrElseUpdate((dim, bits), planes(dim, bits))
    var qsig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      while (i < dim) { dot += ps(b)(i) * query(i); i += 1 }
      if (dot >= 0) qsig |= (1L << b)
      b += 1
    }
    val probes = scala.collection.mutable.ArrayBuffer(qsig)
    if (probeHamming >= 1) (0 until bits).foreach(i => probes += (qsig ^ (1L << i)))
    if (probeHamming >= 2)
      for (i <- 0 until bits; j <- (i + 1) until bits) probes += (qsig ^ (1L << i) ^ (1L << j))

    val bucketed = df.withColumn("bucket", srpBucket(col(vecCol), dim, bits))
    val qlit = array(query.map(lit): _*)
    bucketed.filter(col("bucket").isin(probes.toSeq: _*))
      .select(col(idCol).as("id"), cosine(col(vecCol), qlit).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Cosine RANGE search — "everything within τ of these queries", the
    * range-query sibling of top-k retrieval (near-dup candidate pull,
    * radius recall audits): corpus and queries bucket by SRP signature,
    * each query probes its own bucket plus all `probeHamming`-bit flips
    * (multi-probe), candidates join ON THE BUCKET (an equi-join on an
    * 8-byte key — never query×corpus), and exact cosine keeps rows ≥ τ.
    * Recall is the SRP collision probability, a deterministic function of
    * the seeded planes — the oracle replays buckets, probe sets, and the
    * exact filter, so even deliberately-missed rows match. At 100 TB the
    * corpus is written partitioned/bucketed by `bucket` and each probe is
    * partition pruning.
    */
  /** XOR masks of Hamming weight ≤ `probeHamming` over `bits` — the
    * multi-probe set shared by [[srpRangeSearch]] and its oracle replay.
    */
  private[graft] def probeMasks(bits: Int, probeHamming: Int): Seq[Long] = {
    val m = scala.collection.mutable.ArrayBuffer(0L)
    if (probeHamming >= 1) (0 until bits).foreach(i => m += (1L << i))
    if (probeHamming >= 2)
      for (i <- 0 until bits; j <- (i + 1) until bits) m += ((1L << i) | (1L << j))
    m.toSeq
  }

  def srpRangeSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, tau: Double, dim: Int, bits: Int = 12,
      probeHamming: Int = 1): DataFrame = {
    val qb = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qbucket", srpBucket(col("qvec"), dim, bits))
    val probed = qb.withColumn("probe",
      explode(array(probeMasks(bits, probeHamming)
        .map(m => col("qbucket").bitwiseXOR(lit(m))): _*)))
    val cb = corpus
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", srpBucket(col("vec"), dim, bits))
    probed.join(cb, col("probe") === col("bucket"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        cosine(col("qvec"), col("vec")).as("cosine"))
      .filter(col("cosine") >= lit(tau))
      .distinct()
  }

  /** Exact all-pairs near-dup by cosine ≥ threshold — id-ordered self-join
    * with exact cosine. GUARANTEED recall (oracle-checkable), O(n²/p) work:
    * right for up-to-millions of vectors or as the verification pass; at
    * 100 TB use [[cosineNearDupPairs]] (SRP buckets, sub-quadratic, tunable
    * recall) for candidate generation instead.
    */
  /** Pairwise cosine, bit-identical to [[cosine]] (same left-to-right double
    * accumulation and dot/(√na·√nb) shape) as a primitive-array loop.
    */
  private def cosinePair(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** public: Catalyst's generated deserializer must instantiate it */
  case class VecRow(id: Long, vec: Array[Float])

  /** Target bytes per collect_list bundle row in [[exactNearDupPairs]]. */
  private val TargetBundleBytes = 16L << 20

  /** Block-matrix shape: an inequality self-join (`id_a < id_b`) plans as a
    * nested-loop join that deserializes + boxes both vectors PER PAIR — the
    * dominant cost. Bundling vectors into `numBlocks` buckets and joining the
    * (B·(B+1)/2) block pairs deserializes each bundle once per block pair and
    * runs the O(n²) dot products over primitive arrays (~10× faster, same
    * results). Work distributes across block pairs, so a cluster scales it.
    */
  def exactNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBlocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // numBlocks <= 0 ⇒ auto-size so a bundle row stays ~TargetBundleBytes
    // (well under Spark's 2 GB single-row ceiling) AND there are enough block
    // pairs (B(B+1)/2) to feed every core — a fixed B breaks one way or the
    // other as n grows. Result set is identical for any B: each unordered id
    // pair lands in exactly one block pair.
    val blocks = if (numBlocks > 0) numBlocks else {
      val n = df.count()
      val dim = df.select(col(vecCol)).head(1).headOption
        .map(_.getSeq[Float](0).length).getOrElse(0)
      val bytesPerRow = dim.toLong * 4 + 32
      val rowsPerBundle = math.max(1L, TargetBundleBytes / math.max(1L, bytesPerRow))
      val forMemory = (n + rowsPerBundle - 1) / rowsPerBundle
      val forCores = math.ceil(math.sqrt(2.0 * spark.sparkContext.defaultParallelism)).toLong
      math.max(1L, math.max(forMemory, math.min(forCores, n))).toInt
    }
    val b = df.select(pmod(col(idCol), lit(blocks)).cast("int").as("blk"),
        struct(col(idCol).cast("long").as("id"), col(vecCol).as("vec")).as("r"))
      .groupBy("blk").agg(collect_list("r").as("rows"))
    val x = b.select(col("blk").as("bx"), col("rows").as("rx"))
    val y = b.select(col("blk").as("by"), col("rows").as("ry"))
    x.join(y, col("bx") <= col("by"))
      .select(col("bx"), col("by"), col("rx"), col("ry"))
      .as[(Int, Int, Seq[VecRow], Seq[VecRow])]
      .flatMap { case (bx, by, rx, ry) =>
        val ax = rx.toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        if (bx == by) {
          var i = 0
          while (i < ax.length) {
            var j = i + 1
            while (j < ax.length) {
              val (p, q) = if (ax(i).id < ax(j).id) (ax(i), ax(j)) else (ax(j), ax(i))
              val c = cosinePair(p.vec, q.vec)
              if (c >= threshold) out += ((p.id, q.id, c))
              j += 1
            }
            i += 1
          }
        } else {
          val ay = ry.toArray
          var i = 0
          while (i < ax.length) {
            var j = 0
            while (j < ay.length) {
              val (p, q) = if (ax(i).id < ay(j).id) (ax(i), ay(j)) else (ay(j), ax(i))
              val c = cosinePair(p.vec, q.vec)
              if (c >= threshold) out += ((p.id, q.id, c))
              j += 1
            }
            i += 1
          }
        }
        out
      }
      .toDF("id_a", "id_b", "cosine")
  }

  // ------------------------------------------------------------------ IVF

  /** IVF-style ANN top-k: `nlist` coarse centroids (deterministically the
    * first nlist vectors by id — reproducible for oracle checks; swap in
    * k-means centroids in production, the dataflow is identical), every
    * vector assigned to its nearest centroid by cosine (ties → lowest
    * centroid id), a query probes the `nprobe` nearest lists and exact-ranks
    * only inside them. At scale the table is written PARTITIONED BY list_id,
    * so the probe is partition pruning — a 100 TB corpus scans nprobe/nlist
    * of its files.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    ivfTopKWith(df, idCol, vecCol, query, k,
      deterministicCentroids(df, idCol, vecCol, nlist), nprobe)
  }

  private[graft] def centCos(a: Array[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** nearest-centroid-by-cosine assignment (strict > keeps the lowest
    * centroid id on ties) — shared by the IVF probes and SemDeDup.
    */
  private[graft] def nearestCentroidUdf(cents: Array[(Int, Array[Double])]) =
    udf((v: Seq[Float]) => {
      val vd = v.map(_.toDouble)
      var best = 0; var bestS = Double.NegativeInfinity
      cents.foreach { case (ci, cv) =>
        val s = centCos(cv, vd)
        if (s > bestS) { bestS = s; best = ci }
      }
      best
    })

  /** first `nlist` vectors by id — the reproducible coarse quantizer. */
  private[graft] def deterministicCentroids(df: DataFrame, idCol: String,
      vecCol: String, nlist: Int): Array[(Int, Array[Double])] =
    df.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](0).map(_.toDouble).toArray) }

  /** assign-to-nearest-list / probe / exact-re-rank dataflow shared by the
    * deterministic-centroid and k-means IVF variants.
    */
  private def ivfTopKWith(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, cents: Array[(Int, Array[Double])],
      nprobe: Int): DataFrame = {
    val assign = nearestCentroidUdf(cents)
    val probes = cents.map { case (ci, cv) => (ci, centCos(cv, query.toSeq)) }
      .sortBy { case (ci, s) => (-s, ci) }.take(nprobe).map(_._1).toSeq
    val qlit = array(query.map(lit): _*)
    df.withColumn("list_id", assign(col(vecCol)))
      .filter(col("list_id").isin(probes: _*))
      .select(col(idCol).as("id"), cosine(col(vecCol), qlit).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Filtered ANN — the vector-database "metadata filtering" shape: a
    * predicate (`WHERE label = 3`) is pushed INTO the probed IVF lists
    * (pre-filter), so the exact re-rank touches only rows that both live in
    * a probed list and pass the filter. A fixed nprobe under a selective
    * filter starves the candidate set, so production engines escalate the
    * probe width; here escalation is a deterministic rule the oracle
    * replays: double nprobe (nprobe, 2·nprobe, 4·nprobe, … nlist) until
    * ≥ k filtered candidates sit inside the probed prefix, else probe all.
    * The escalation decision needs only an nlist-row aggregate
    * (count by probe_rank — map-side combinable, tiny collect), never the
    * vectors themselves; at 100 TB the corpus is PARTITIONED BY list_id and
    * both passes are partition-pruned scans of the filtered columns.
    */
  def ivfFilteredTopK(df: DataFrame, idCol: String, vecCol: String,
      pred: Column, query: Array[Double], k: Int,
      nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    // nprobe <= 0 would make the doubling escalation (0→0→0…) spin forever
    require(nprobe >= 1 && nlist >= 1,
      s"ivfFilteredTopK: need nprobe >= 1 and nlist >= 1, got nprobe=$nprobe nlist=$nlist")
    val cents = deterministicCentroids(df, idCol, vecCol, nlist)
    val assign = nearestCentroidUdf(cents)
    // probe order: lists ranked by centroid↔query cosine (ties → lowest id)
    val ranked = cents.map { case (ci, cv) => (ci, centCos(cv, query.toSeq)) }
      .sortBy { case (ci, s) => (-s, ci) }.map(_._1)
    val rankOf = ranked.zipWithIndex.toMap
    val rankUdf = udf((l: Int) => rankOf(l))
    val cand = df.filter(pred)
      .withColumn("probe_rank", rankUdf(assign(col(vecCol))))
    // candidates per probe rank — ≤ nlist rows on the driver
    val byRank = cand.groupBy("probe_rank").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val cum = (0 to nlist).scanLeft(0L)((acc, r) => acc + byRank.getOrElse(r, 0L))
    val steps = Iterator.iterate(nprobe)(_ * 2).takeWhile(_ < nlist).toSeq :+ nlist
    val probeWidth = steps.find(s => cum(s) >= k).getOrElse(nlist)
    val qlit = array(query.map(lit): _*)
    cand.filter(col("probe_rank") < lit(probeWidth))
      .select(col(idCol).as("id"), cosine(col(vecCol), qlit).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Per-cluster vector sum + count as ONE flat double buffer (slot `dim`
    * is the count) — associatively merged, so Spark runs it as a PARTIAL
    * aggregate: each executor folds its partition locally and only
    * O(partitions·k·d) buffer bytes cross the wire (the sim_pca moment
    * discipline), never the O(n·d) vector set itself.
    */
  private class VecSumAgg(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Float], Array[Double], Array[Double]] {
    override def zero: Array[Double] = Array.ofDim[Double](dim + 1)
    override def reduce(b: Array[Double], v: Array[Float]): Array[Double] = {
      val n = math.min(dim, v.length)
      var i = 0
      while (i < n) { b(i) += v(i); i += 1 }
      b(dim) += 1.0
      b
    }
    override def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(r: Array[Double]): Array[Double] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Distributed Lloyd k-means coarse quantizer for IVF: deterministic init
    * (the first `k` vectors by id), then `iters` rounds of
    * assign-to-nearest-centroid (broadcast centroids, compiled cosine) and
    * per-cluster mean via the partial-combining [[VecSumAgg]] — per round
    * only O(partitions·k·d) sum/count partials shuffle (the pre-round-8
    * `groupByKey.mapGroups` moved the full O(n·d) vector set per round), so
    * the loop scales to any corpus size. Empty clusters keep their previous
    * centroid.
    */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
    var cents: Array[Array[Double]] =
      vecs.orderBy(col("id")).limit(k).collect().map(_._2.map(_.toDouble))
    val dim = cents.headOption.map(_.length).getOrElse(0)
    val sumAgg = new VecSumAgg(dim).toColumn
    def cos(a: Array[Double], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val next = vecs.map { case (_, v) =>
          val cs = bc.value
          var best = 0; var bestS = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            val s = cos(cs(c), v)
            if (s > bestS) { bestS = s; best = c }
            c += 1
          }
          (best, v)
        }
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(sumAgg)
        .collect()
        .map { case (cluster, buf) =>
          val cnt = buf(dim)
          (cluster, buf.take(dim).map(_ / cnt))
        }.toMap
      cents = cents.indices.map(i => next.getOrElse(i, cents(i))).toArray
      bc.destroy()
    }
    cents
  }

  /** IVF top-k with learned k-means centroids — the production ANN path
    * (sim_ivf_topk's deterministic-centroid variant stays as the
    * oracle-checkable one; the probe/re-rank dataflow is identical).
    */
  def ivfTopKKMeans(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, nlist: Int = 16, nprobe: Int = 2,
      kmeansIters: Int = 5): DataFrame = {
    val cents = kmeansCentroids(df, idCol, vecCol, nlist, kmeansIters)
      .zipWithIndex.map { case (c, i) => (i, c) }
    ivfTopKWith(df, idCol, vecCol, query, k, cents, nprobe)
  }

  /** Batch ANN (kNN join): EVERY query vector finds its top-k corpus
    * neighbors through the IVF index — the retrieval/dedup shape pipelines
    * actually run (N queries at once, not one). Corpus vectors are assigned
    * to their nearest list ONCE; each query expands to its `nprobe` probe
    * lists; the probe is a LIST-KEYED join (when the corpus is written
    * partitioned by `list_id`, this is partition pruning — each query block
    * reads nprobe/nlist of the data); exact cosine re-ranks per query via a
    * window top-k. Ranking runs on the ROUNDED cosine so both engines rank
    * identical doubles. Self-matches are excluded.
    */
  def ivfKnnJoin(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    val cents = deterministicCentroids(corpus, idCol, vecCol, nlist)
    val assign = nearestCentroidUdf(cents)
    val probesUdf = udf((v: Seq[Float]) => {
      val vd = v.map(_.toDouble)
      cents.map { case (ci, cv) => (ci, centCos(cv, vd)) }
        .sortBy { case (ci, s) => (-s, ci) }.take(nprobe).map(_._1).toSeq
    })
    ivfKnnJoinWithQuantizer(corpus, queries, idCol, vecCol, k, assign, probesUdf)
  }

  /** Batch ANN kNN join with a TWO-LEVEL coarse quantizer — the 100 TB
    * shape of [[ivfKnnJoin]]. The flat variant assigns every corpus vector
    * by scanning all `nlist` centroids: with the production tuning rule
    * nlist ∝ corpus (constant list size), assignment cost is
    * corpus × nlist ∝ N² — measured at the 30×/100× bench rungs as
    * t100/t30 = 9.5 vs linear 3.33. Here the `nlist` centroids are grouped
    * under ⌈√nlist⌉ parent centroids (the standard inverted-multi-index /
    * hierarchical-k-means move), and assignment scans parents then one
    * group's children: ~2√nlist per vector, so nlist ∝ N gives total
    * assignment cost ∝ N^1.5 per level — and per-vector work stays O(√N),
    * flat in the measured rungs. Queries probe the top-2 parents and take
    * the best `nprobe` children among their groups.
    *
    * The list an element lands in can differ from the flat argmax (the
    * two-level argmax is the standard approximation), so this is a
    * DISTINCT operator gated by recall-vs-exact, not by hash equality
    * with the flat variant.
    */
  def ivfKnnJoinTwoLevel(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 64, nprobe: Int = 2): DataFrame =
    // exactly the depth-2 instance of the general quantizer tree: one
    // parent level of ⌈√nlist⌉ nodes, beam 2 — [[ivfKnnJoinTree]] with
    // branch = ⌈√nlist⌉ reproduces the grouping, descent, and probe order
    // bit-for-bit (sim_knn_hier's oracle gates this shared path)
    ivfKnnJoinTree(corpus, queries, idCol, vecCol, k, nlist, nprobe,
      branch = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt), beam = 2)

  /** Batch ANN kNN join through a LOG-DEPTH quantizer tree — the asymptote
    * the rung ladder asks for. Under the production resize rule
    * (nlist ∝ corpus, constant list size) per-vector assignment work is:
    * flat scan O(nlist) = O(N) (total N² — measured t100/t30 = 9.5),
    * two-level O(√nlist) = O(√N) (total N^1.5 — super-linear in the rungs),
    * and this tree O(branch · log_branch nlist) = O(log N) (total N log N,
    * indistinguishable from linear at any measurable rung). The `nlist`
    * leaf centroids sit under ⌈nlist/branch⌉ parents, those under
    * ⌈·/branch²⌉ grandparents, … until one level fits a single scan — the
    * vocabulary-tree / hierarchical-k-means shape (Nistér & Stewénius,
    * CVPR'06; FAISS IMI). Node ids NEST: level-k nodes are the first m_k
    * leaf centroids, so one prefix array holds every node vector and the
    * whole tree broadcasts as (centroids, child-index arrays).
    *
    * Assignment descends greedily (scan the top level, then only the
    * chosen node's children — ties to the lowest id at every step).
    * Queries descend with a width-`beam` beam and take the best `nprobe`
    * leaves. Like the two-level variant, the landed list can differ from
    * the flat argmax; the operator is gated by its own exact oracle replay
    * (sim_knn_tree) and recall-vs-exact, not by hash equality with flat.
    */
  def ivfKnnJoinTree(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 64, nprobe: Int = 2,
      branch: Int = 8, beam: Int = 2): DataFrame = {
    require(branch >= 2, s"branch must be >= 2, got $branch")
    val cents = deterministicCentroids(corpus, idCol, vecCol, nlist)
    val centVecs: Array[Array[Double]] = cents.map(_._2)
    // parent-level sizes bottom-up until one level is a single scan
    val parentSizesUp: List[Int] = {
      val b = List.newBuilder[Int]
      var m = nlist
      while (m > branch) { m = math.ceil(m.toDouble / branch).toInt; b += m }
      b.result()
    }
    // children(level)(parentId) = ascending child ids grouped under their
    // nearest parent (cosine, ties to the lowest parent id); a parent is
    // its own nearest parent, so groups are non-empty. Built driver-side:
    // Σ m_k·m_{k+1} ≤ nlist·branch work — trivial next to the data scan
    def group(childCount: Int, parentCount: Int): Array[Array[Int]] = {
      val out = Array.fill(parentCount)(Array.newBuilder[Int])
      var c = 0
      while (c < childCount) {
        var best = 0; var bestS = Double.NegativeInfinity
        var p = 0
        while (p < parentCount) {
          val s = centCos(centVecs(p), centVecs(c).toSeq)
          if (s > bestS) { bestS = s; best = p }
          p += 1
        }
        out(best) += c
        c += 1
      }
      out.map(_.result())
    }
    val groupsTopDown: List[Array[Array[Int]]] =
      (nlist :: parentSizesUp).sliding(2).collect {
        case List(c, p) => (c, p)
      }.toList.reverse.map { case (c, p) => group(c, p) }
    val topSize = parentSizesUp.lastOption.getOrElse(nlist)

    def topBy(vd: Seq[Double], ids: Seq[Int], n: Int): Seq[Int] =
      ids.map(i => (i, centCos(centVecs(i), vd)))
        .sortBy { case (i, s) => (-s, i) }.take(n).map(_._1)
    val assign = udf((v: Seq[Float]) => {
      val vd = v.map(_.toDouble)
      var cur = topBy(vd, 0 until topSize, 1).head
      groupsTopDown.foreach { g => cur = topBy(vd, g(cur).toSeq, 1).head }
      cur
    })
    val probesUdf = udf((v: Seq[Float]) => {
      val vd = v.map(_.toDouble)
      var cur = topBy(vd, 0 until topSize,
        if (groupsTopDown.isEmpty) nprobe else beam)
      groupsTopDown.zipWithIndex.foreach { case (g, i) =>
        val cand = cur.flatMap(p => g(p))
        cur = topBy(vd, cand, if (i == groupsTopDown.size - 1) nprobe else beam)
      }
      cur
    })
    ivfKnnJoinWithQuantizer(corpus, queries, idCol, vecCol, k, assign, probesUdf)
  }

  /** shared assign → probe-explode → list-keyed join → exact re-rank tail
    * of every batch ANN kNN join variant (flat / two-level / tree).
    */
  private def ivfKnnJoinWithQuantizer(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      assign: org.apache.spark.sql.expressions.UserDefinedFunction,
      probesUdf: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpusAssigned = corpus
      .select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .withColumn("list_id", assign(col("nvec")))
    val queriesProbed = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("list_id", explode(probesUdf(col("qvec"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    queriesProbed.join(corpusAssigned, "list_id")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qvec"), col("nvec")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cosine"))
  }

  /** Retrieval evaluation as a first-class operator: recall@k of the IVF
    * index against the exact per-query top-k — the number every ANN
    * deployment tracks (probe budget vs recall). The exact side is a
    * |queries|·|corpus| cross join: that is the EVAL protocol, run on a
    * sampled query set (queries are the sampled side; the approx side is
    * the production path being graded). Both sides rank by the identical
    * (rounded cosine desc, id) order, so the hit sets — and therefore the
    * recall numbers — are fully deterministic.
    *
    * Returns ONE row: (n_queries, avg_recall, min_recall).
    */
  def ivfRecallAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 2): DataFrame =
    recallAtK(ivfKnnJoin(corpus, queries, idCol, vecCol, k, nlist, nprobe),
      corpus, queries, idCol, vecCol, k)

  /** recall@k of ANY batch ANN output (rows (qid, rank, nid, …) — flat,
    * two-level, or tree quantizer) against the exact per-query top-k.
    * Same protocol/determinism contract as [[ivfRecallAtK]].
    */
  def recallAtK(approxOut: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val approx = approxOut.select(col("qid"), col("nid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    val exact = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .crossJoin(corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec")))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(cosine(transform(col("qvec"), _.cast("double")),
          transform(col("nvec"), _.cast("double"))), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"))
    val hits = exact.join(approx, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    queries.select(col(idCol).as("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(coalesce(col("h"), lit(0L)).as("h"))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("h")).cast("double") / (lit(k.toLong) * count(lit(1))), 6)
          .as("avg_recall"),
        round(min(col("h")).cast("double") / k, 6).as("min_recall"))
  }

  /** NDCG@k of ANY batch ANN output against the exact top-k — the
    * position-sensitive retrieval grade beside [[recallAtK]]: a shortlist
    * that finds the right neighbors but in the wrong order scores below
    * one that ranks them correctly (binary relevance, standard
    * log2-discount — Järvelin & Kekäläinen TOIS'02). IDCG is the constant
    * Σᵢ₌₁..k 1/log2(i+1) (the corpus always has ≥k true neighbors).
    *
    * Determinism: gains are fixed trees (1/log2(rank+1) on hit), and both
    * the per-query DCG fold and the cross-query mean run as ordered
    * running windows, so both engines add the same doubles in the same
    * order. Scale shape: the exact side is the eval protocol on a sampled
    * query set; everything else is (qid, nid)-keyed.
    */
  def ndcgAtK(approxOut: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    val exact = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .crossJoin(corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec")))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(cosine(transform(col("qvec"), _.cast("double")),
          transform(col("nvec"), _.cast("double"))), 6).as("cosine"))
      .withColumn("erank", row_number().over(w))
      .filter(col("erank") <= k)
      .select(col("qid"), col("nid"), lit(1L).as("hit"))
    val gains = approxOut.select(col("qid"), col("rank"), col("nid"))
      .join(exact, Seq("qid", "nid"), "left")
      .withColumn("g", when(col("hit").isNotNull,
        lit(1.0) / log2(col("rank").cast("double") + 1)).otherwise(0.0))
    val wq = Window.partitionBy("qid").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perQ = gains
      .withColumn("rn", row_number().over(Window.partitionBy("qid").orderBy("rank")))
      .withColumn("nr", count(lit(1)).over(Window.partitionBy("qid")))
      .withColumn("dcg", sum("g").over(wq))
      .filter(col("rn") === col("nr"))
      .select(col("qid"), col("dcg"))
    val idcg = (2 to k + 1)
      .map(i => lit(1.0) / log2(lit(i.toDouble))).reduce(_ + _)
    val scored = BoundedWindow(
      queries.select(col(idCol).as("qid")).distinct()
        .join(perQ, Seq("qid"), "left")
        .na.fill(0.0, Seq("dcg"))
        .withColumn("ndcg", col("dcg") / idcg),
      1_000_000L, "NDCG eval folds (one row per eval query — an eval " +
        "sample, never the corpus)")
    val wg = Window.orderBy("qid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("qid")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored
      .withColumn("rn", row_number().over(Window.orderBy("qid")))
      .withColumn("nq", count(lit(1)).over(wAll))
      .withColumn("s", sum("ndcg").over(wg))
      .withColumn("mn", min("ndcg").over(wAll))
      .filter(col("rn") === col("nq"))
      .select(col("nq").as("n_queries"),
        round(col("s") / col("nq").cast("double"), 6).as("avg_ndcg"),
        round(col("mn"), 6).as("min_ndcg"))
  }

  /** All pairs with cosine ≥ threshold — SRP-bucket self-join (candidates
    * share a bucket in at least one of `tables` independent hashings) +
    * exact cosine verification.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, bits: Int = 8, tables: Int = 4): DataFrame = {
    val withBuckets = (0 until tables).foldLeft(
      df.select(col(idCol).as("id"), col(vecCol).as("vec"))) { (d, t) =>
      // table t uses bit-range offset via distinct plane sets: reuse one
      // plane matrix of bits*tables planes, slice per table
      d.withColumn(s"b$t", srpBucketTable(col("vec"), dim, bits, t))
    }
    val exploded = withBuckets.select(col("id"), col("vec"),
      explode(array((0 until tables).map(t => struct(lit(t).as("t"), col(s"b$t").as("b"))): _*)).as("tb"))
      .select(col("id"), col("vec"), col("tb.t").as("t"), col("tb.b").as("b"))
    val cand = exploded.as("l").join(exploded.as("r"),
        col("l.t") === col("r.t") && col("l.b") === col("r.b") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.vec").as("v_a"), col("r.vec").as("v_b"))
      .distinct()
    cand.withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): cluster the embedding space
    * coarsely, then search for near-duplicate pairs ONLY within a cluster —
    * the semantic-dedup recall/cost trade that makes embedding dedup
    * tractable at corpus scale. Work drops from O(n²) to Σ|cluster|²; on a
    * cluster the per-cid groups co-locate through one shuffle on `cid`, and
    * a table written PARTITIONED BY cid dedups each partition independently.
    * Centroids are the deterministic first-`nlist` vectors by id (same
    * quantizer as [[ivfTopK]], so the assignment is oracle-replayable; swap
    * in [[kmeansCentroids]] in production — identical dataflow).
    */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16): DataFrame = {
    val assign = nearestCentroidUdf(deterministicCentroids(df, idCol, vecCol, nlist))
    val a = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("cid", assign(col("vec")))
    val l = a.select(col("cid"), col("id").as("id_a"), col("vec").as("v_a"))
    val r = a.select(col("cid"), col("id").as("id_b"), col("vec").as("v_b"))
    l.join(r, "cid").filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("cid"), col("id_a"), col("id_b"), col("cosine"))
  }

  // ----------------------------------------------- product quantization

  /** Squared L2 distance between the `mi`-th subspace slice of `vec` and a
    * codebook subvector `c` — sequential left-to-right accumulation, rounded
    * to 9 decimals so encode/ADC replay bit-identically in any engine.
    */
  private def subDist2(vec: Column, off: Column, c: Column, subDim: Int): Column =
    round(aggregate(sequence(lit(0), lit(subDim - 1)), lit(0.0), (acc, i) => {
      val d = element_at(vec, (i + off + lit(1)).cast("int")).cast("double") -
        element_at(c, (i + lit(1)).cast("int"))
      acc + d * d
    }), 9)

  /** PQ codebook (Jégou et al., PAMI'11): for each of `m` subspaces, `codeK`
    * centroids = the subvectors of the first `codeK` vectors by id (the
    * deterministicCentroids pattern — reproducible in any engine; swap in a
    * per-subspace [[kmeansCentroids]] for trained codebooks, identical
    * dataflow). Returned as an (mi, j, c) DataFrame of m·codeK tiny rows,
    * meant to be broadcast.
    */
  def pqCodebook(df: DataFrame, idCol: String, vecCol: String,
      m: Int, codeK: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val firstK = df.orderBy(col(idCol)).limit(codeK)
      .select(col(vecCol)).collect()
      .zipWithIndex.map { case (r, j) => (j, r.getSeq[Float](0).map(_.toDouble).toArray) }
    val sd = firstK.head._2.length / m
    val rows = for { (j, v) <- firstK.toSeq; mi <- 0 until m }
      yield (mi, j, v.slice(mi * sd, (mi + 1) * sd).toSeq)
    rows.toDF("mi", "j", "c")
  }

  /** PQ encode: each vector × the broadcast codebook (m·codeK rows, a
    * broadcast nested-loop — no shuffle), then per (id, mi) the code
    * minimizing the rounded subspace distance. `min(struct(d2, j))` is
    * map-side combinable, so the one shuffle carries exactly m rows per
    * vector (the compressed representation itself) no matter the corpus
    * size — a d-dim float vector becomes m small ints, here 32× smaller.
    */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
      cb: DataFrame, m: Int, subDim: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cb))
      .select(col("id"), col("mi"), col("j"),
        subDist2(col("v"), col("mi") * subDim, col("c"), subDim).as("d2"))
      .groupBy(col("id"), col("mi"))
      .agg(min(struct(col("d2"), col("j"))).as("s"))
      .select(col("id"), col("mi"), col("s.j").as("code"))

  /** Asymmetric-distance top-k over PQ codes: the query precomputes an
    * m×codeK lookup table of subspace squared distances (m·codeK doubles,
    * broadcast — constant size whatever the corpus), and each stored
    * vector's approximate distance is m table lookups summed — no float
    * math against raw vectors at all. This is the compressed-domain ANN
    * scan: at 100 TB the code table fits where raw embeddings cannot, and
    * the scan reads m bytes per vector. Exact re-rank of the ADC top-k'
    * (k' > k) against raw vectors is the standard refinement; IVF
    * partition pruning composes in front (assign codes within lists).
    */
  def pqAdcTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], kTop: Int, m: Int = 8, codeK: Int = 16): DataFrame = {
    val sd = query.length / m
    val cb = pqCodebook(df, idCol, vecCol, m, codeK)
    val qlit = array(query.map(lit): _*)
    val lut = cb.select(col("mi").as("lmi"), col("j"),
      subDist2(qlit, col("mi") * sd, col("c"), sd).as("qd2"))
    pqCodes(df, idCol, vecCol, cb, m, sd)
      .join(broadcast(lut), col("mi") === col("lmi") && col("code") === col("j"))
      .groupBy(col("id"))
      .agg(round(sum(col("qd2")), 6).as("adc"))
      .orderBy(col("adc"), col("id"))
      .limit(kTop)
  }

  /** IVF-PQ: the coarse quantizer's partition pruning composed in FRONT of
    * the compressed-domain ADC scan, plus exact re-rank of the ADC
    * shortlist — the canonical production ANN index (Jégou et al. PAMI'11
    * §V; the FAISS IVFPQ shape). Only vectors in the query's `nprobe`
    * probe lists are encoded/ADC-scanned: at 100 TB the codes table is
    * STORED partitioned by `list_id`, so the probe is partition pruning —
    * nprobe/nlist of the bytes read, and those bytes are m-byte codes,
    * not raw floats. The ADC top (refine·k), ordered (adc, id), re-ranks
    * against raw vectors by exact squared L2 — the standard two-stage
    * refinement that recovers most of the quantization loss.
    *
    * List assignment uses cosine (shared with the whole IVF family /
    * [[nearestCentroidUdf]]); ADC and the re-rank use L2 like the PQ
    * operators. Returns (id, adc, d2) ordered (d2, id), k rows.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, nlist: Int = 16, nprobe: Int = 2,
      m: Int = 8, codeK: Int = 16, refine: Int = 3): DataFrame = {
    val cents = deterministicCentroids(df, idCol, vecCol, nlist)
    val assign = nearestCentroidUdf(cents)
    val probes = cents.map { case (ci, cv) => (ci, centCos(cv, query.toSeq)) }
      .sortBy { case (ci, s) => (-s, ci) }.take(nprobe).map(_._1).toSeq
    val sd = query.length / m
    val cb = pqCodebook(df, idCol, vecCol, m, codeK)
    val qlit = array(query.map(lit): _*)
    val lut = cb.select(col("mi").as("lmi"), col("j"),
      subDist2(qlit, col("mi") * sd, col("c"), sd).as("qd2"))
    val listed = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("list_id", assign(col("v")))
      .filter(col("list_id").isin(probes: _*))
    val shortlist = pqCodes(listed, "id", "v", cb, m, sd)
      .join(broadcast(lut), col("mi") === col("lmi") && col("code") === col("j"))
      .groupBy(col("id"))
      .agg(round(sum(col("qd2")), 6).as("adc"))
      .orderBy(col("adc"), col("id"))
      .limit(refine * k)
    val d2 = aggregate(
      zip_with(asDouble(col("v")), qlit, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    shortlist
      .join(df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")), "id")
      .select(col("id"), col("adc"), round(d2, 6).as("d2"))
      .orderBy(col("d2"), col("id"))
      .limit(k)
  }

  // ----------------------------------------------------- stored IVF index

  private val IvfSidecar = "_graft_ivf.json"

  private def fsFor(spark: org.apache.spark.sql.SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Write `corpus` as a STORED IVF index at `path`: rows in `list_id`
    * partition directories, the coarse codebook frozen in a
    * `_graft_ivf.json` sidecar (the [[graft.plans.SpatialLayout]] layout-
    * sidecar pattern — every later append and probe uses the recorded
    * centroids by construction, never a caller guess). This is the ANN
    * deployment shape at 100 TB: a probe reads nprobe/nlist partition
    * DIRECTORIES (PartitionFilters, pruned before any file is opened), and
    * growth appends files only to the partitions a batch lands in.
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nlist: Int = 16): Unit = {
    val cents = deterministicCentroids(corpus, idCol, vecCol, nlist)
    val assign = nearestCentroidUdf(cents)
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("list_id", assign(col("vec")))
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    val spark = corpus.sparkSession
    val fs = fsFor(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, IvfSidecar), true)
    val json = cents.map { case (_, cv) => cv.mkString("[", ",", "]") }
      .mkString(s"""{"nlist":${cents.length},"cents":[""", ",", "]}")
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** The frozen coarse codebook recorded by [[writeIvfIndex]]. */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Array[Double])] = {
    val fs = fsFor(spark, path)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, IvfSidecar))
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      var n = in.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toByteArray
    } finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(bytes).get("cents")
    (0 until node.size()).map { i =>
      val a = node.get(i)
      (i, Array.tabulate(a.size())(j => a.get(j).asDouble()))
    }.toArray
  }

  /** Append a batch to a stored IVF index using the FROZEN sidecar
    * centroids (quantize-with-the-deployed-codebook — the production rule;
    * re-training the codebook is a rebuild, not an append). Only the
    * partition directories the batch lands in gain files; every other
    * directory is untouched (pinned file-level in Round5Spec, the
    * sp_layer_upsert evidence pattern).
    */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Unit = {
    val assign = nearestCentroidUdf(readIvfCentroids(spark, path))
    batch.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("list_id", assign(col("vec")))
      .write.mode("append").partitionBy("list_id").parquet(path)
  }

  /** Top-k by cosine against a stored IVF index: the query's `nprobe`
    * probe lists become a `list_id IN (...)` PARTITION filter — directory
    * pruning before any parquet footer is read — then exact cosine
    * re-ranks the probed rows. Returns (id, cosine) ordered
    * (cosine desc, id).
    */
  def probeStoredIvf(spark: org.apache.spark.sql.SparkSession, path: String,
      query: Array[Double], k: Int, nprobe: Int = 2): DataFrame = {
    val cents = readIvfCentroids(spark, path)
    val probes = cents.map { case (ci, cv) => (ci, centCos(cv, query.toSeq)) }
      .sortBy { case (ci, s) => (-s, ci) }.take(nprobe).map(_._1).toSeq
    val qlit = array(query.map(lit): _*)
    val rows = spark.read.parquet(path)
      .filter(col("list_id").isin(probes: _*))
    val tomb = ivfTombstones(spark, path)
    val live = tomb.fold(rows)(t =>
      rows.join(broadcast(t), Seq("id"), "left_anti"))
    live
      .select(col("id"), round(cosine(col("vec"), qlit), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  private val IvfTombDir = "_ivf_tombstones"

  /** Deleted-id set of a stored IVF index, or None when nothing was ever
    * deleted (the `_`-prefixed directory is invisible to the plain parquet
    * read of the index itself — Spark's hidden-path convention).
    */
  def ivfTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path, IvfTombDir)
    if (fsFor(spark, path).exists(p))
      Some(spark.read.parquet(p.toString).select("id").distinct())
    else None
  }

  /** Delete ids from a stored IVF index WITHOUT touching a vector file:
    * the ids append to a `_ivf_tombstones/` parquet sidecar (the
    * segment-deletes discipline of Lucene / LSM stores) and every probe
    * anti-joins the tombstone set AFTER partition pruning (broadcast —
    * [[compactIvfIndex]] bounds its size). At 100 TB a delete is a
    * metadata-sized write; the probed data path pays one broadcast-hash
    * anti-join.
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF("id").repartition(1)
      .write.mode("append")
      .parquet(new org.apache.hadoop.fs.Path(path, IvfTombDir).toString)
  }

  /** Fold accumulated tombstones into the index: rewrite ONLY the list
    * partitions that hold a deleted row (dynamic partition overwrite — the
    * upsert discipline of [[graft.plans.SpatialLayout]]), then drop the
    * tombstone sidecar. Returns the rewritten list_ids. The caller gates
    * WHEN to compact (e.g. tombstones > 40% of a partition — the clustered-
    * layer rebuild rule); this does the mechanics. The survivors are
    * localCheckpoint-materialized before the overwrite so the write never
    * reads the directory it is replacing.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Int] = {
    val tomb = ivfTombstones(spark, path).getOrElse(return Nil)
    val idx = spark.read.parquet(path)
    val affected = idx.join(broadcast(tomb), Seq("id"), "left_semi")
      .select("list_id").distinct().collect().map(_.getInt(0)).toSeq
    if (affected.nonEmpty) {
      val survivors = idx.filter(col("list_id").isin(affected: _*))
        .join(broadcast(tomb), Seq("id"), "left_anti")
        .localCheckpoint()
      val keptLists = survivors.select("list_id").distinct()
        .collect().map(_.getInt(0)).toSet
      if (keptLists.nonEmpty)
        survivors.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("list_id").parquet(path)
      // a list whose EVERY row was deleted is invisible to dynamic
      // overwrite (no surviving row lands in it) — drop its directory
      // explicitly or the old files resurface once the tombstones clear
      val fs = fsFor(spark, path)
      (affected.toSet -- keptLists).foreach { l =>
        fs.delete(new org.apache.hadoop.fs.Path(path, s"list_id=$l"), true)
      }
    }
    fsFor(spark, path).delete(
      new org.apache.hadoop.fs.Path(path, IvfTombDir), true)
    affected
  }

  // ----------------------------------------------------- binary quantization

  /** 1-bit-per-dimension binary quantization signature: bit b is set iff
    * component b ≥ 0 (dim ≤ 64 packs into one long). Unlike SRP (random
    * hyperplanes), BQ thresholds the dimensions themselves — the rescored
    * 32×-compression shortcut of modern vector stores: 8 bytes/vector of
    * index state, and candidate distance is one xor+popcount in codegen.
    * Pure unrolled Column arithmetic (bits are disjoint, so `+` carries
    * nothing and equals `|` — valid even across the sign bit), replayed
    * term-for-term by [[bqSigDuckSql]].
    */
  def bqSig(vecCol: Column, dim: Int): Column = {
    require(dim <= 64, s"BQ packs one 64-bit word; got dim=$dim")
    (0 until dim).map { b =>
      when(element_at(vecCol, b + 1).cast("double") >= 0.0d, lit(1L << b))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** DuckDB replay of [[bqSig]] (`vExpr` must be a DOUBLE[] expression). */
  def bqSigDuckSql(vExpr: String, dim: Int): String =
    (0 until dim).map { b =>
      s"(CASE WHEN $vExpr[${b + 1}] >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** ANN top-k via binary quantization: Hamming shortlist of `shortlist`
    * candidates (orderBy+limit → TakeOrderedAndProject: per-partition heaps
    * over the 8-byte signatures, no global sort), then exact cosine re-rank
    * of the shortlist only. At 100 TB the hot scan is id+sig-sized (the
    * signature column is precomputed at write time and the vector column is
    * only materialized for the `shortlist` surviving rows); recall is
    * tunable via `shortlist`. Final order (rounded cosine desc, id) so the
    * oracle's sort is tie-stable.
    */
  def bqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, dim: Int, shortlist: Int): DataFrame = {
    var qsig = 0L
    (0 until dim).foreach { b => if (query(b) >= 0.0) qsig |= (1L << b) }
    val qlit = array(query.map(lit): _*)
    df.select(col(idCol).as("id"), col(vecCol).as("__v"),
        bqSig(col(vecCol), dim).as("__sig"))
      .withColumn("hamming", bit_count(col("__sig").bitwiseXOR(lit(qsig))).cast("int"))
      .orderBy(col("hamming"), col("id")).limit(shortlist)
      .select(col("id"), col("hamming"),
        round(cosine(col("__v"), qlit), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id")).limit(k)
  }

  // --------------------------------------------------- residual quantization

  /** Two-level residual quantization ANN (Chen et al. 2010 / the RQ member
    * of the additive-quantization family): a coarse k-means codebook over
    * the vectors, a second k-means codebook over the RESIDUALS v − c₁, so
    * every vector compresses to two code ids and decodes to c₁ + c₂ —
    * the additive sibling of PQ's subspace split (sim_pq_adc) and the
    * third compression geometry beside SQ8's per-dim affine and BQ's sign
    * bit. Retrieval: the 64-entry decode table (cid1, cid2) → cos(q,
    * c₁+c₂) broadcasts, the corpus joins it BY CODE (8 bytes of index
    * state per vector at scale), a TakeOrdered shortlist survives, and
    * exact cosine re-ranks the shortlist only.
    *
    * Training runs as DataFrame dataflows (broadcast codebooks, one
    * corpus-keyed argmax + one per-(cid, dim) avg per iteration), replayed
    * CTE-for-CTE by [[rqDuckSql]]; centroid averages carry last-ulp
    * summation noise, which cannot flip an argmax at real margins (same
    * contract as sim_ivf_kmeans) and the output re-ranks on rounded exact
    * cosines.
    */
  def rqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, nlist: Int = 8, iters: Int = 2,
      shortlist: Int = 60, dim: Int = 64): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v")).persist()
    // the winning centroid's cv is re-attached by a broadcast join on cid
    // AFTER the argmax instead of riding through the aggregate: the agg
    // buffer used to carry BOTH 64-double arrays (x and cv, ~1 KB/row)
    // through the exchange; now only x does (guide §2.3, shuffle fewer
    // bytes). Identical result: the struct comparison never reaches x/cv
    // ((s, ncid) is unique per candidate — ncid distinct per cid), and
    // cid → cv is functional.
    def assignTo(vecs: DataFrame, xCol: String, cents: DataFrame): DataFrame =
      vecs.join(broadcast(cents))
        .withColumn("s", cosine(col(xCol), col("cv")))
        .groupBy("id")
        .agg(max(struct(col("s").as("s"), (-col("cid")).as("ncid"),
          col(xCol).as("x"))).as("m"))
        .select(col("id"), col("m.x").as(xCol), (-col("m.ncid")).as("cid"))
        .join(broadcast(cents), "cid")
        .select(col("id"), col(xCol), col("cid"), col("cv"))
    def train(vecs: DataFrame, xCol: String): (DataFrame, DataFrame) = {
      // cents is materialized (Loop.materialize) each refinement and the
      // superseded codebook freed: the codebook is nlist rows, but left
      // LAZY its plan nests the whole previous iteration's corpus-wide
      // assignment — and every broadcast(cents) consumer re-executed that
      // chain from scratch (guide §5: materialise tiny reused
      // intermediates). This is what made the 13k-line sim_rq plan and its
      // repeated recenter passes.
      var cents = Loop.materialize(vecs.filter(col("id") < nlist)
        .select(col("id").as("cid"), col(xCol).as("cv")))
      for (_ <- 1 to iters) {
        val assigned = assignTo(vecs, xCol, cents)
        val re = assigned
          .select(col("cid"), posexplode(col(xCol)))
          .groupBy("cid", "pos").agg(avg("col").as("mv"))
          .groupBy("cid")
          .agg(transform(sort_array(collect_list(struct(col("pos"), col("mv")))),
            s => s.getField("mv")).as("cv2"))
        val next = Loop.materialize(cents.as("p").join(re, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("cv2"), col("p.cv")).as("cv")))
        Loop.free(cents)
        cents = next
      }
      (assignTo(vecs, xCol, cents).persist(), cents)
    }
    val (a1, cents1) = train(base, "v")
    val resid = a1.select(col("id"),
      zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"),
      col("cid").as("cid1"))
    val (a2, cents2) = train(resid.select(col("id"), col("r")), "r")
    val codes = resid.select(col("id"), col("cid1"))
      .join(a2.select(col("id"), col("cid").as("cid2")), "id")
    val qlit = array(query.map(lit): _*)
    val decode = cents1.select(col("cid").as("cid1"), col("cv").as("cv1"))
      .crossJoin(cents2.select(col("cid").as("cid2"), col("cv").as("cv2")))
      .select(col("cid1"), col("cid2"),
        round(cosine(zip_with(col("cv1"), col("cv2"), (a, b) => a + b), qlit), 7)
          .as("est"))
    base.join(codes, "id").join(broadcast(decode), Seq("cid1", "cid2"))
      .orderBy(col("est").desc, col("id")).limit(shortlist)
      .select(col("id"), col("est"),
        round(cosine(col("v"), qlit), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id")).limit(k)
  }

  /** DuckDB replay of [[rqTopK]]: the sim_ivf_kmeans assign/recenter CTE
    * machinery run twice (vectors, then residuals), the same 64-entry
    * decode table, shortlist and re-rank.
    */
  def rqDuckSql(k: Int, nlist: Int = 8, iters: Int = 2,
      shortlist: Int = 60, dim: Int = 64): String = {
    def assign(src: String, x: String, cents: String, out: String) =
      s"""$out AS (
         |  SELECT id, $x, cid, cv FROM (
         |    SELECT e.id, e.$x, c.cid, c.cv,
         |           row_number() OVER (PARTITION BY e.id
         |             ORDER BY list_cosine_similarity(e.$x, c.cv) DESC, c.cid) AS rn
         |    FROM $src e CROSS JOIN $cents c) WHERE rn = 1
         |)""".stripMargin
    def recenter(assigned: String, x: String, prev: String, out: String) =
      s"""$out AS (
         |  SELECT p.cid, coalesce(m.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN (
         |    SELECT cid, list(mv ORDER BY dim) AS cv FROM (
         |      SELECT a.cid, t.dim, avg(a.$x[t.dim]) AS mv
         |      FROM $assigned a CROSS JOIN range(1, ${dim + 1}) t(dim)
         |      GROUP BY a.cid, t.dim) GROUP BY cid
         |  ) m ON m.cid = p.cid
         |)""".stripMargin
    def stage(src: String, x: String, c0: String, pfx: String): String =
      (1 to iters).map { i =>
        val prev = if (i == 1) c0 else s"$pfx${i - 1}"
        assign(src, x, prev, s"${pfx}a$i") + ",\n" +
          recenter(s"${pfx}a$i", x, prev, s"$pfx$i")
      }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE id = 0),
       |s1c0 AS (SELECT id AS cid, v AS cv FROM e WHERE id < $nlist),
       |${stage("e", "v", "s1c0", "s1c")},
       |${assign("e", "v", s"s1c$iters", "a1f")},
       |r0 AS (
       |  SELECT a.id, list_transform(range(1, ${dim + 1}), i -> a.v[i] - a.cv[i]) AS r,
       |         a.cid AS cid1
       |  FROM a1f a
       |),
       |rsrc AS (SELECT id, r FROM r0),
       |s2c0 AS (SELECT id AS cid, r AS cv FROM rsrc WHERE id < $nlist),
       |${stage("rsrc", "r", "s2c0", "s2c")},
       |${assign("rsrc", "r", s"s2c$iters", "a2f")},
       |codes AS (
       |  SELECT r0.id, r0.cid1, a2f.cid AS cid2 FROM r0 JOIN a2f ON a2f.id = r0.id
       |),
       |decode AS (
       |  SELECT c1.cid AS cid1, c2.cid AS cid2,
       |         round(list_cosine_similarity(
       |           list_transform(range(1, ${dim + 1}), i -> c1.cv[i] + c2.cv[i]),
       |           q.qv), 7) AS est
       |  FROM s1c$iters c1 CROSS JOIN s2c$iters c2 CROSS JOIN q
       |),
       |short AS (
       |  SELECT e.id, e.v, d.est
       |  FROM e JOIN codes k ON k.id = e.id
       |  JOIN decode d ON d.cid1 = k.cid1 AND d.cid2 = k.cid2
       |  ORDER BY d.est DESC, e.id LIMIT $shortlist
       |)
       |SELECT s.id, s.est, round(list_cosine_similarity(s.v, q.qv), 6) AS cosine
       |FROM short s CROSS JOIN q
       |ORDER BY cosine DESC, id LIMIT $k""".stripMargin
  }

  // --------------------------------------------------------- triplet mining

  /** Hard-negative triplet mining over labeled embeddings (the batch miner
    * behind contrastive/metric-learning data prep, Schroff et al. FaceNet
    * CVPR'15 §3.2): for each anchor, the most-similar SAME-label vector
    * (positive) and the most-similar DIFFERENT-label vector (the hard
    * negative — the pair that actually moves the loss).
    *
    * Scale shape: anchors broadcast (a bounded batch), the corpus is
    * scanned ONCE, and both argmaxes are a map-side-combinable struct-max
    * aggregate — no window over the pair table, no shuffle of the corpus
    * beyond the per-anchor aggregate, so mining a 100 TB embedding store
    * is one broadcast-join pass per anchor batch. Cosines quantized to
    * 7 dp in SQL so the (cos desc, id asc) argmax tie-breaks identically
    * in both engines (the oracle replays it as a row_number window —
    * same selection, different physical shape).
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, nAnchors: Int): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v"), col(labelCol).cast("long").as("lbl"))
    val anchors = base.filter(col("id") < nAnchors)
      .select(col("id").as("aid"), col("v").as("av"), col("lbl").as("albl"))
    base.join(broadcast(anchors), col("id") =!= col("aid"))
      .withColumn("cos", round(cosine(col("v"), col("av")), 7))
      .withColumn("same", (col("lbl") === col("albl")).cast("int"))
      .groupBy(col("aid"), col("albl"))
      .agg(
        max(when(col("same") === 1,
          struct(col("cos"), (-col("id")).as("nid")))).as("p"),
        max(when(col("same") === 0,
          struct(col("cos"), (-col("id")).as("nid")))).as("n"))
      .select(col("aid"), col("albl").as("anchor_label"),
        (-col("p.nid")).as("pos_id"), col("p.cos").as("pos_cos"),
        (-col("n.nid")).as("neg_id"), col("n.cos").as("neg_cos"))
      .orderBy("aid")
  }

  /** DuckDB replay of [[hardNegatives]]: the same (cos desc, id) argmax as
    * a row_number window + conditional-max pivot. */
  def hardNegativesDuckSql(nAnchors: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
       |         CAST(label AS BIGINT) AS lbl
       |  FROM embeddings
       |), a AS (
       |  SELECT id AS aid, v AS av, lbl AS albl FROM e WHERE id < $nAnchors
       |), p AS (
       |  SELECT a.aid, a.albl, e.id,
       |         round(list_cosine_similarity(e.v, a.av), 7) AS cos,
       |         CASE WHEN e.lbl = a.albl THEN 1 ELSE 0 END AS same
       |  FROM e JOIN a ON e.id <> a.aid
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY aid, same
       |                               ORDER BY cos DESC, id) AS rn
       |  FROM p
       |)
       |SELECT aid, albl AS anchor_label,
       |       max(CASE WHEN same = 1 THEN id END) AS pos_id,
       |       max(CASE WHEN same = 1 THEN cos END) AS pos_cos,
       |       max(CASE WHEN same = 0 THEN id END) AS neg_id,
       |       max(CASE WHEN same = 0 THEN cos END) AS neg_cos
       |FROM r WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // -------------------------------------------------------- MMR re-ranking

  /** Maximal-marginal-relevance diversified top-k (Carbonell-Goldstein
    * SIGIR'98 — the rerank step of every RAG retrieval stack): greedily
    * select argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) over a relevance
    * shortlist, so near-duplicate hits can't crowd the result page.
    *
    * Scale shape: the corpus-sized work is the shortlist cut (top-`shortlist`
    * by cosine — TakeOrderedAndProject per-partition heaps) and the
    * shortlist×shortlist pairwise similarities (s² rows, s a constant);
    * the greedy itself runs on the driver over those ≤ s + s²/2 collected
    * rows — state bounded by the shortlist, never the corpus, exactly where
    * every production vector store runs its rerank. Relevance and pairwise
    * cosines are quantized to 7 dp IN SQL on both engines, so the greedy
    * compares identical doubles and ties break on id deterministically.
    */
  def mmrTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, lambda: Double, shortlist: Int): DataFrame = {
    val spark = df.sparkSession
    val qlit = array(query.map(lit): _*)
    val base = df
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("rel", round(cosine(col("v"), qlit), 7))
      .orderBy(col("rel").desc, col("id")).limit(shortlist)
      .persist()
    val rel = base.select("id", "rel").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val simMap = base.as("l").join(base.as("r"), col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        round(cosine(col("l.v"), col("r.v")), 7).as("s"))
      .collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)) -> r.getDouble(2),
        (r.getLong(1), r.getLong(0)) -> r.getDouble(2))).toMap
    val maxsim = scala.collection.mutable.HashMap(rel.keys.map(_ -> 0.0).toSeq: _*)
    val remaining = scala.collection.mutable.TreeSet(rel.keys.toSeq: _*)
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Double)]()
    var step = 0
    while (step < k && remaining.nonEmpty) {
      step += 1
      // argmax over the remaining shortlist, smallest id on score ties —
      // the identical 0.7·rel − 0.3·ms expression the oracle orders by
      var bestId = -1L; var bestScore = Double.NegativeInfinity
      remaining.foreach { c =>
        val s = lambda * rel(c) - (1.0 - lambda) * maxsim(c)
        if (s > bestScore) { bestScore = s; bestId = c }
      }
      picked += ((step.toLong, bestId, rel(bestId), bestScore))
      remaining -= bestId
      remaining.foreach { c =>
        val s = simMap.getOrElse((c, bestId), 0.0)
        if (s > maxsim(c)) maxsim(c) = s
      }
    }
    base.unpersist()
    import spark.implicits._
    picked.toSeq.toDF("rank", "id", "rel", "mmr_raw")
      .select(col("rank"), col("id"), col("rel"),
        round(col("mmr_raw"), 6).as("mmr"))
      .orderBy("rank")
  }

  /** DuckDB replay of [[mmrTopK]] as `k` chained winner/remainder CTEs:
    * r0 = the 7-dp-quantized shortlist with maxsim 0, then per step a
    * 1-row argmax CTE (same score tree, id tie-break) and a remainder CTE
    * updating maxsim via greatest(). `embSql` must yield (id BIGINT,
    * v DOUBLE[]); `qSql` a single-row (qv DOUBLE[]). Every step CTE is
    * MATERIALIZED: w_i and r_i both read r_{i-1}, so an inlined chain
    * re-evaluates ~2^k times.
    */
  def mmrDuckSql(embSql: String, qSql: String, k: Int, lambda: Double,
      shortlist: Int): String = {
    val lam = lambda.toString
    val oneMinus = (1.0 - lambda).toString
    val steps = (1 to k).map { i =>
      s"""w$i AS MATERIALIZED (
         |  SELECT id, rel, $lam * rel - $oneMinus * maxsim AS score
         |  FROM r${i - 1} ORDER BY score DESC, id LIMIT 1
         |), r$i AS MATERIALIZED (
         |  SELECT r.id, r.rel,
         |         greatest(r.maxsim, coalesce(p.s, 0.0)) AS maxsim
         |  FROM r${i - 1} r
         |  JOIN w$i w ON r.id <> w.id
         |  LEFT JOIN sims p ON p.a = r.id AND p.b = w.id
         |)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(i =>
      s"SELECT $i AS rank, id, rel, round(score, 6) AS mmr FROM w$i")
      .mkString("\n  UNION ALL ")
    s"""WITH emb AS ($embSql),
       |q AS ($qSql),
       |r0 AS MATERIALIZED (
       |  SELECT e.id, e.v, round(list_cosine_similarity(e.v, q.qv), 7) AS rel,
       |         0.0 AS maxsim
       |  FROM emb e, q ORDER BY rel DESC, id LIMIT $shortlist
       |), sims AS MATERIALIZED (
       |  SELECT l.id AS a, r.id AS b,
       |         round(list_cosine_similarity(l.v, r.v), 7) AS s
       |  FROM r0 l JOIN r0 r ON l.id <> r.id
       |),
       |$steps
       |SELECT CAST(rank AS BIGINT) AS rank, id, rel, mmr
       |FROM (
       |  $out
       |) ORDER BY rank""".stripMargin
  }

  // ------------------------------------------------------------------ PCA

  /** Upper-triangle second moments Σqᵢqⱼ (i ≤ j, row-major), then the d
    * first moments Σqᵢ, then the row count — one flat long buffer,
    * associatively merged (map-side combine applies).
    */
  private class MomentAgg(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Seq[Long], Array[Long], Seq[Long]] {
    private val nPair = dim * (dim + 1) / 2
    override def zero: Array[Long] = Array.ofDim[Long](nPair + dim + 1)
    override def reduce(b: Array[Long], q: Seq[Long]): Array[Long] = {
      val a = q.toArray
      var idx = 0
      var i = 0
      while (i < dim) {
        val qi = a(i)
        var j = i
        while (j < dim) { b(idx) += qi * a(j); idx += 1; j += 1 }
        b(nPair + i) += qi
        i += 1
      }
      b(nPair + dim) += 1L
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(r: Array[Long]): Seq[Long] = r.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Top principal component of the embedding cloud by distributed moment
    * accumulation + driver-side power iteration — the embedding-whitening /
    * drift-diagnosis primitive of a training-data pipeline.
    *
    * Replayability is engineered end-to-end: vectors are quantized to
    * integers (round(x·2¹⁰)), and the d(d+1)/2 second moments Σqᵢqⱼ and d
    * first moments Σqᵢ are EXACT integer sums (order-independent — the one
    * thing IEEE addition is not), generated codegen-side as per-row
    * (i,j,qᵢqⱼ) triples (no self-join) and map-side combined into d(d+1)/2
    * keys. The covariance entries, the `iters` power steps (v ← Cv/|Cv|
    * from v₀ = 1/√d), the Rayleigh quotient λ = vᵀCv, and every per-row
    * projection x·v are then FIXED ascending-index folds of doubles — the
    * DuckDB oracle replays the identical fold order with list ops, so the
    * results are bit-identical, not approximately equal. Projections are
    * re-quantized (round(p·10⁶)) before the per-label aggregate so that
    * final sum is exact again.
    *
    * The only driver-side state is the d(d+1)/2 + d moment row — bounded by
    * the embedding DIMENSION, never by the corpus (same contract as
    * [[pqCodebook]]'s codebook collect). One scan, one 2080-key shuffle,
    * one 3-key shuffle: the 100 TB plan.
    *
    * Returns one row per label: n, mean/min/max of the PC-1 projection,
    * plus the shared λ (variance explained along PC-1, in quantized units).
    */
  def pcaLabelStats(df: DataFrame, vecCol: String, labelCol: String,
      dim: Int, iters: Int = 12): DataFrame = {
    val s = 1L << 10
    val q = transform(col(vecCol), x => round(x.cast("double") * s).cast("long"))
    // moment accumulation as ONE partial-combining aggregate with a
    // d(d+1)/2 + d + 1 long buffer (the treeAggregate shape, in DataFrame
    // clothing): each executor folds its partition into its own buffer and
    // only the d²-sized partials cross the wire — no per-term row
    // expansion, no shuffle proportional to N. Integer sums are
    // order-independent, so the plan is free to combine in any order.
    val nPair = dim * (dim + 1) / 2
    val momArr = df.select(q.as("qv"))
      .agg(udaf(new MomentAgg(dim)).apply(col("qv")).as("m"))
      .head().getSeq[Long](0)
    val n = momArr(nPair + dim).toDouble
    val sq = Array.tabulate(dim)(i => momArr(nPair + i))
    val spp = Array.ofDim[Long](dim, dim)
    var idx = 0
    for (i <- 0 until dim; j <- i until dim) {
      spp(i)(j) = momArr(idx); spp(j)(i) = momArr(idx); idx += 1
    }
    val sd = s.toDouble
    // C_ij = E[q_i q_j]/s² − (E[q_i]/s)(E[q_j]/s): fixed expression tree
    val c = Array.tabulate(dim, dim)((i, j) =>
      spp(i)(j).toDouble / (sd * sd) / n -
        (sq(i).toDouble / sd / n) * (sq(j).toDouble / sd / n))
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    def matvec(m: Array[Array[Double]], x: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var acc = 0.0; var j = 0
        while (j < dim) { acc += m(i)(j) * x(j); j += 1 }; acc
      }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dim) { acc += a(i) * b(i); i += 1 }; acc
    }
    for (_ <- 1 to iters) {
      val w = matvec(c, v)
      val nrm = math.sqrt(dot(w, w))
      v = w.map(_ / nrm)
    }
    val lambda = dot(v, matvec(c, v))
    val vLit = array(v.map(lit(_)): _*)
    // per-row projection: ascending-index fold of x·v, then re-quantized so
    // the per-label sums are exact integers again
    val proj = aggregate(zip_with(col(vecCol), vLit,
        (x, p) => x.cast("double") * p),
      lit(0.0), (acc, t) => acc + t)
    df.select(col(labelCol).as("label"),
        round(proj * 1e6).cast("long").as("pq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("pq").as("spq"),
        min("pq").as("minpq"), max("pq").as("maxpq"))
      .select(col("label").cast("long").as("label"), col("n"),
        round(col("spq").cast("double") / col("n").cast("double") / 1e6, 6)
          .as("mean_proj"),
        round(col("minpq").cast("double") / 1e6, 6).as("min_proj"),
        round(col("maxpq").cast("double") / 1e6, 6).as("max_proj"),
        round(lit(lambda), 9).as("lambda1"))
      .orderBy("label")
  }

  /** DuckDB replay of [[pcaLabelStats]]: the same integer moments, the same
    * covariance expressions, and `iters` unrolled power steps whose
    * matrix-vector products / norms / dots are list_dot_product — a
    * sequential ascending fold, matching the Scala loops bit-for-bit.
    */
  def pcaLabelStatsDuckSql(vecExpr: String, labelExpr: String, table: String,
      dim: Int, iters: Int = 12): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH q AS MATERIALIZED (
      |  SELECT $labelExpr AS label,
      |         list_transform($vecExpr,
      |           x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv,
      |         list_transform($vecExpr, x -> CAST(x AS DOUBLE)) AS xv
      |  FROM $table
      |), mom AS MATERIALIZED (
      |  SELECT t.i, t.j, sum(t.p) AS spp, sum(t.qi) AS sq, count(*) AS n
      |  FROM q, LATERAL (
      |    SELECT i, j, qv[i + 1] * qv[j + 1] AS p,
      |           CASE WHEN i = j THEN qv[i + 1] ELSE 0 END AS qi
      |    FROM generate_series(0, ${dim - 1}) g1(i)
      |    JOIN generate_series(0, ${dim - 1}) g2(j) ON j >= i
      |  ) t GROUP BY 1, 2
      |), cov AS MATERIALIZED (
      |  SELECT i, j,
      |         CAST(spp AS DOUBLE) / (1024.0 * 1024.0) / n
      |           - (CAST(sq AS DOUBLE) / 1024.0 / n)
      |             * (CAST(sqj AS DOUBLE) / 1024.0 / n) AS v
      |  FROM (
      |    SELECT m.i, m.j, m.spp, m.n,
      |           di.sq AS sq, dj.sq AS sqj
      |    FROM (SELECT i, j, spp, n FROM mom
      |          UNION ALL SELECT j, i, spp, n FROM mom WHERE i <> j) m
      |    JOIN (SELECT i, sq FROM mom WHERE i = j) di ON di.i = m.i
      |    JOIN (SELECT i, sq FROM mom WHERE i = j) dj ON dj.i = m.j
      |  )
      |), cmat AS MATERIALIZED (
      |  SELECT list(r ORDER BY i) AS m FROM (
      |    SELECT i, list(v ORDER BY j) AS r FROM cov GROUP BY i
      |  )
      |), v0 AS (
      |  SELECT list_transform(generate_series(1, $dim),
      |                        x -> 1.0 / sqrt(CAST($dim AS DOUBLE))) AS v
      |)""".stripMargin
    for (k <- 1 to iters) {
      sb ++= s""",
        |w$k AS (SELECT list_transform(m, r -> list_dot_product(r, v)) AS w
        |        FROM cmat, v${k - 1}),
        |v$k AS (SELECT list_transform(w, x -> x / sqrt(list_dot_product(w, w))) AS v
        |        FROM w$k)""".stripMargin
    }
    sb ++= s"""
      |, lam AS (
      |  SELECT list_dot_product(v,
      |           list_transform(m, r -> list_dot_product(r, v))) AS lambda
      |  FROM cmat, v$iters
      |), pr AS (
      |  SELECT q.label,
      |         CAST(round(list_dot_product(q.xv, v.v) * 1e6) AS BIGINT) AS pq
      |  FROM q, v$iters v
      |)
      |SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
      |       round(CAST(sum(pq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6, 6)
      |         AS mean_proj,
      |       round(CAST(min(pq) AS DOUBLE) / 1e6, 6) AS min_proj,
      |       round(CAST(max(pq) AS DOUBLE) / 1e6, 6) AS max_proj,
      |       round((SELECT lambda FROM lam), 9) AS lambda1
      |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin
    sb.toString
  }

  private def srpBucketTable(vecCol: Column, dim: Int, bits: Int, table: Int): Column =
    udf((v: Seq[Float]) => {
      if (v == null) 0L
      else {
        val all = planesCache.getOrElseUpdate((dim, bits * 8), planes(dim, bits * 8))
        var sig = 0L
        var b = 0
        while (b < bits) {
          var dot = 0.0
          val p = all(table * bits + b)
          var i = 0
          val n = math.min(v.length, dim)
          while (i < n) { dot += p(i) * v(i); i += 1 }
          if (dot >= 0) sig |= (1L << b)
          b += 1
        }
        sig
      }
    }).apply(vecCol)
}
