package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Near-duplicate GROUP assembly: pairs → connected components → one
  * canonical survivor per component. Production dedup pipelines consume
  * groups (pick one survivor per cluster, drop the rest), not raw pairs —
  * this closes the gap between the pair-producing operators in [[Dedup]]
  * and the "give me the deduplicated corpus" contract.
  *
  * Reference analog: the reference clusters spatial features the same way
  * (transitive single-link merge; reference:
  * server-plugin/src/main/java/org/neo4j/gis/spatial/pipes/processing/
  * DensityIslands.java:40-74); here the merge relation is "near-duplicate
  * of" instead of "within density of".
  */
object Groups {

  /** Connected-component labels over an undirected edge list. Returns one
    * (id, label) row per vertex of `vertices`; `label` is the MINIMUM id in
    * the component (stable, order-independent canonical id). String ids
    * stay strings, so the label is the string-minimum member (the spatial
    * density islands key, engine/SpatialAggs.scala); every other id type is
    * cast to long.
    *
    * Scale split: the edge list of a near-dup or density graph is a small
    * derived artifact (O(dup clusters), overwhelmingly smaller than the
    * corpus), so below `smallEdgeLimit` edges a single collect feeds a
    * driver union-find and one broadcast join — collapsing ~40 tiny
    * label-propagation jobs into two. Past the limit, distributed
    * hash-to-min with pointer jumping converges in O(log diameter) rounds;
    * each round is one shuffle on the id key, materialized through [[Loop]]
    * with the superseded generation freed.
    */
  def ccLabels(vertices: DataFrame, edges: DataFrame,
      smallEdgeLimit: Long = 500000L, maxIterations: Int = 25): DataFrame = {
    val spark = vertices.sparkSession
    val keyType = vertices.schema("id").dataType match {
      case StringType => StringType
      case _ => LongType
    }
    def key(name: String) = col(name).cast(keyType).as(name)
    val verts = vertices.select(key("id"))
    val edgeRows = edges.select(key("src"), key("dst")).pipe(Loop.materialize)
    if (edgeRows.count() <= smallEdgeLimit) {
      val ord = (keyType match {
        case StringType => Ordering.String
        case _ => Ordering.Long
      }).asInstanceOf[Ordering[Any]]
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgeRows.collect().foreach { row =>
        val (ra, rb) = (find(row.get(0)), find(row.get(1)))
        if (ra != rb) { // union by MIN id keeps the canonical label stable
          if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      Loop.free(edgeRows)
      val resolved = parent.keys.map(k => Row(k, find(k))).toSeq
      val lookup = spark.createDataFrame(resolved.asJava,
        StructType(Seq(StructField("id", keyType), StructField("__cc", keyType))))
      verts.join(broadcast(lookup), Seq("id"), "left")
        .select(col("id"), coalesce(col("__cc"), col("id")).as("label"))
    } else {
      val sym = edgeRows
        .union(edgeRows.select(col("dst").as("src"), col("src").as("dst")))
        .pipe(Loop.materialize)
      Loop.free(edgeRows)
      var ls = verts.select(col("id"), col("id").as("label")).pipe(Loop.materialize)
      var checksum = -1L
      var iter = 0
      var converged = false
      while (!converged && iter < maxIterations) {
        val viaEdges = sym.join(ls, sym("dst") === ls("id"))
          .select(sym("src").as("id"), col("label"))
        val l1 = ls.select(col("id"), col("label"))
        val l2 = ls.select(col("id").as("jid"), col("label").as("jlabel"))
        val viaJump = l1.join(l2, l1("label") === l2("jid"))
          .select(col("id"), col("jlabel").as("label"))
        val next = l1.union(viaEdges).union(viaJump)
          .groupBy("id").agg(min("label").as("label"))
          .pipe(Loop.materialize)
        Loop.free(ls)
        // xor-fold checksum: order-independent, no ANSI overflow like sum
        val nextSum = next.agg(coalesce(bit_xor(xxhash64(col("id"), col("label"))), lit(0L)))
          .head().getLong(0)
        ls = next
        converged = nextSum == checksum
        checksum = nextSum
        iter += 1
      }
      Loop.free(sym)
      ls
    }
  }

  /** Near-duplicate CLUSTERS of a corpus: MinHash-LSH pairs (identical
    * machinery to [[Dedup.minhashNearDupPairs]]) closed transitively into
    * components. One row per cluster of ≥ 2 documents: `group_id` (the min
    * member id — also the survivor a dedup pass would keep), the sorted
    * member list, and the member count.
    */
  def nearDupGroups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleK: Int = 3,
      smallEdgeLimit: Long = 500000L): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(df, idCol, textCol, threshold, shingleK)
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
    val verts = df.select(col(idCol).cast("long").as("id"))
    ccLabels(verts, pairs, smallEdgeLimit)
      .groupBy(col("label").as("group_id"))
      .agg(sort_array(collect_list(col("id"))).as("members"),
        count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
      .orderBy("group_id")
  }

  /** The deduplicated corpus: every row of `df` except non-survivor cluster
    * members (survivor = min id per component). Anti-join against the label
    * frame — at scale one broadcast of the (tiny) non-survivor id set.
    */
  def nearDupDeduped(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleK: Int = 3): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(df, idCol, textCol, threshold, shingleK)
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
    val verts = df.select(col(idCol).cast("long").as("id"))
    val drop = ccLabels(verts, pairs).filter(col("id") =!= col("label"))
      .select(col("id").as("__drop_id"))
    df.join(broadcast(drop), df(idCol) === col("__drop_id"), "left_anti")
  }

  /** DuckDB replay of [[nearDupGroups]]: the full seeded MinHash pipeline
    * (identical permutation literals and band folds via
    * [[Dedup.minhashDuckCtes]]) producing the same pair set, then the
    * transitive closure as a recursive CTE — label(v) = min id reachable,
    * which for a symmetric edge set is exactly the component minimum.
    */
  /** Cluster-size histogram — the dedup-savings report (how much of the
    * corpus sits in duplicate clusters of what size; the size-1 row counts
    * documents in no cluster). Two driver-side scalars over the tiny group
    * table; the heavy lifting is the pair + CC machinery above.
    */
  def clusterSizeHistogram(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val groups = nearDupGroups(df, idCol, textCol, threshold, shingleK)
      .select(col("n_members")).localCheckpoint(true)
    val hist = groups.groupBy(col("n_members").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val singles = df.count() -
      groups.agg(coalesce(sum(col("n_members")), lit(0L))).head().getLong(0)
    hist.unionByName(Seq((1L, singles)).toDF("cluster_size", "n_clusters"))
      .orderBy(col("cluster_size"))
  }

  private def groupsDuckCtes(threshold: Double, shingleK: Int): String =
    Dedup.minhashDuckCtes(shingleK).replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
         |), prs AS (
         |  SELECT id_a, id_b
         |  FROM cand JOIN sigs x ON x.doc_id = id_a JOIN sigs y ON y.doc_id = id_b
         |  WHERE len(list_intersect(x.ss, y.ss))::DOUBLE
         |        / (len(x.ss) + len(y.ss) - len(list_intersect(x.ss, y.ss))) >= $threshold
         |), e AS (
         |  SELECT id_a AS s, id_b AS d FROM prs
         |  UNION ALL SELECT id_b, id_a FROM prs
         |), reach AS (
         |  SELECT s AS id, s AS lab FROM e
         |  UNION
         |  SELECT eg.d, r.lab FROM reach r JOIN e eg ON eg.s = r.id
         |), lbl AS (
         |  SELECT id, min(lab) AS lab FROM reach GROUP BY id
         |), grp AS (
         |  SELECT lab, count(*) AS n_members FROM lbl GROUP BY lab HAVING count(*) >= 2
         |)""".stripMargin

  def nearDupGroupsDuckSql(threshold: Double, shingleK: Int = 3): String =
    groupsDuckCtes(threshold, shingleK) +
      """
        |SELECT lab AS group_id, array_to_string(list_sort(list(id)), ',') AS members,
        |       count(*) AS n_members
        |FROM lbl GROUP BY lab HAVING count(*) >= 2 ORDER BY group_id""".stripMargin

  /** Canonical-document selection — the step after clustering in a real
    * dedup pipeline: inside every near-dup cluster keep the BEST member
    * (max `qualityCol`, ties to the smallest id), not the arbitrary
    * min-id survivor of [[nearDupDeduped]]. The argmax is one
    * max(struct(quality, −id)) per group — exact integer lexicographic
    * order, no window. Returns (group_id, n_members, canonical_id,
    * kept_quality) for every ≥2 cluster.
    */
  def canonicalDocs(df: DataFrame, idCol: String, textCol: String,
      qualityCol: String, threshold: Double = 0.7,
      shingleK: Int = 3): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(df, idCol, textCol, threshold, shingleK)
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
    val verts = df.select(col(idCol).cast("long").as("id"))
    ccLabels(verts, pairs)
      .join(df.select(col(idCol).cast("long").as("id"),
        col(qualityCol).cast("long").as("q")), "id")
      .groupBy(col("label").as("group_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q"), (-col("id")).as("nid"))).as("best"))
      .filter(col("n_members") >= 2)
      .select(col("group_id"), col("n_members"),
        (-col("best.nid")).as("canonical_id"),
        col("best.q").as("kept_quality"))
      .orderBy("group_id")
  }

  /** DuckDB replay of [[canonicalDocs]]: the same label CTEs, the same
    * lexicographic [quality, −id] argmax as a DuckDB list max.
    */
  def canonicalDocsDuckSql(qualityExpr: String, threshold: Double,
      shingleK: Int = 3): String =
    groupsDuckCtes(threshold, shingleK) +
      s"""
        |, canon AS (
        |  SELECT lab, count(*) AS n_members,
        |         max([$qualityExpr, -d.doc_id]) AS best
        |  FROM lbl JOIN documents d ON d.doc_id = lbl.id
        |  GROUP BY 1 HAVING count(*) >= 2
        |)
        |SELECT lab AS group_id, n_members, -best[2] AS canonical_id,
        |       best[1] AS kept_quality
        |FROM canon ORDER BY group_id""".stripMargin

  /** Leakage-safe train/test split — assign near-dup CLUSTERS, not
    * documents, to splits, so no evaluation document has a near-duplicate
    * in training (the train/test contamination that silently inflates
    * benchmark scores; the reason dedup pipelines split AFTER clustering).
    * The split key is a deterministic integer mix of the cluster label
    * (component min id), 80/20. Output is ONE audit row: split sizes, the
    * near-dup pair count, and the cross-split pair count under BOTH the
    * cluster-aware policy (structurally 0 — computed, not assumed) and the
    * naive per-document hash split (> 0 on any corpus with near-dups —
    * the control that shows why the cluster hop matters). Scale shape: the
    * labels frame is one row per doc, the audit joins key on the tiny pair
    * set; nothing beyond the MinHash machinery itself grows with corpus
    * size. Id bound: |label| ≤ 3.4e9 keeps the split mix inside a long.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleK: Int = 3): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(df, idCol, textCol, threshold, shingleK)
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .localCheckpoint(true) // consumed twice: CC labels + the leak audit
    val verts = df.select(col(idCol).cast("long").as("id"))
    // Knuth multiply, shift, permille cut. The shift/modulus pair matters:
    // the multiplier is ≡ 1 mod 10 so `(key·M) % 10` is just `key mod 10`,
    // and a 3-bit shift leaves `(key·M)>>3 ≡ ⌊key/8⌋ mod 10` (M ≡ 1 mod 8,
    // ⌊M/8⌋ ≡ 0 mod 10) — both degenerate residue splits. `>>7 mod 1000`
    // mixes consecutive ids uniformly (⌊M/128⌋ ≡ 779 mod 1000, coprime):
    // measured 0.80006 train fraction over 1..100000.
    def splitOf(key: Column): Column =
      when(pmod(shiftright(key * lit(2654435761L), 7), lit(1000L)) < 800,
        "train").otherwise("test")
    val pol = ccLabels(verts, pairs)
      .select(col("id"), splitOf(col("label")).as("cs"), splitOf(col("id")).as("ns"))
    val counts = pol.agg(
      sum(when(col("cs") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("cs") === "test", 1L).otherwise(0L)).as("n_test"))
    val leak = pairs
      .join(pol.select(col("id").as("src"), col("cs").as("cs_a"),
        col("ns").as("ns_a")), "src")
      .join(pol.select(col("id").as("dst"), col("cs").as("cs_b"),
        col("ns").as("ns_b")), "dst")
      .agg(count(lit(1)).as("n_dup_pairs"),
        coalesce(sum(when(col("cs_a") =!= col("cs_b"), 1L).otherwise(0L)),
          lit(0L)).as("leak_pairs_cluster_split"),
        coalesce(sum(when(col("ns_a") =!= col("ns_b"), 1L).otherwise(0L)),
          lit(0L)).as("leak_pairs_naive_split"))
    counts.crossJoin(broadcast(leak))
  }

  /** DuckDB replay of [[leakageSafeSplit]]: the shared MinHash + transitive
    * closure CTEs, the identical integer split mix on both the cluster
    * label and the raw id.
    */
  def leakageSafeSplitDuckSql(threshold: Double, shingleK: Int = 3): String =
    groupsDuckCtes(threshold, shingleK) +
      """
        |, alldocs AS (
        |  SELECT d.doc_id AS id, coalesce(l.lab, d.doc_id) AS lab
        |  FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id
        |), spl AS (
        |  SELECT id,
        |    CASE WHEN ((lab * 2654435761) >> 7) % 1000 < 800
        |         THEN 'train' ELSE 'test' END AS cs,
        |    CASE WHEN ((id * 2654435761) >> 7) % 1000 < 800
        |         THEN 'train' ELSE 'test' END AS ns
        |  FROM alldocs
        |), cnt AS (
        |  SELECT CAST(sum(CASE WHEN cs = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |         CAST(sum(CASE WHEN cs = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        |  FROM spl
        |), lk AS (
        |  SELECT count(*) AS n_dup_pairs,
        |    CAST(coalesce(sum(CASE WHEN a.cs <> b.cs THEN 1 ELSE 0 END), 0) AS BIGINT)
        |      AS leak_pairs_cluster_split,
        |    CAST(coalesce(sum(CASE WHEN a.ns <> b.ns THEN 1 ELSE 0 END), 0) AS BIGINT)
        |      AS leak_pairs_naive_split
        |  FROM prs JOIN spl a ON a.id = prs.id_a JOIN spl b ON b.id = prs.id_b
        |)
        |SELECT n_train, n_test, n_dup_pairs,
        |       leak_pairs_cluster_split, leak_pairs_naive_split
        |FROM cnt CROSS JOIN lk""".stripMargin

  /** DuckDB replay of the cluster-size histogram over `documents`:
    * singletons = documents in no ≥2 cluster. */
  def clusterHistDuckSql(threshold: Double, shingleK: Int = 3): String =
    groupsDuckCtes(threshold, shingleK) +
      """
        |SELECT cluster_size, n_clusters FROM (
        |  SELECT n_members AS cluster_size, count(*) AS n_clusters
        |  FROM grp GROUP BY 1
        |  UNION ALL
        |  SELECT 1, (SELECT count(*) FROM documents)
        |            - coalesce((SELECT CAST(sum(n_members) AS BIGINT) FROM grp), 0)
        |) ORDER BY cluster_size""".stripMargin
}
