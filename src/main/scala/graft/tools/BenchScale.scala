package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{SpatialAggs, SpatialJoin}
import graft.functions.st
import graft.pipeline.{Dedup, Multimodal, Similarity}

/** Growth-curve harness: runs the dedup / ANN / spatial-join families on the
  * base corpus and on synthesized 3× and 10× corpora, and records wall-time
  * growth at each rung. This is the analog of the reference's bulk-insert
  * size ladder (reference: RTreeBulkInsertTest.java:269-278 runs 10k→562k
  * points with per-size expected counts): sub-quadratic operators must show
  * wall-time growth ≈ linear (≤ ~1.3× linear), and output row counts ~N× —
  * proving the banding / prefix-filter / partition-prune plans hold as data
  * scales. Three rungs pin the curve SHAPE: for a linear operator
  * t10/t3 ≈ 3.3, for a quadratic one ≈ 11 — two points cannot tell those
  * apart once constant overheads are in the mix.
  *
  * The N× corpus repeats each source row N times UNDER A PER-COPY
  * CONTENT TRANSFORM chosen so copies never match across copies:
  *  - documents: an injective per-copy letter substitution (rotated
  *    alphabet) — token equality structure inside a copy is preserved, so
  *    each copy contributes exactly the original's pair set, while shingles
  *    differ across copies (a naive N× replication would pair copies with
  *    each other and grow the OUTPUT quadratically, measuring nothing).
  *  - embeddings: a per-copy diagonal ±1 sign flip (orthogonal transform) —
  *    within-copy cosines are bit-identical, cross-copy cosines scatter.
  *  - points: a small per-copy coordinate shift.
  *
  * Usage: runMain graft.tools.BenchScale [sfDir] [outJson]
  * (BENCH_scale.json is measured on 16 cores: tools/ladder.sh sets
  * SPARK_GRAFT_CPUS=16)
  */
object BenchScale {

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("BENCH_scale.json")
    val spark = graft.Sessions.local()
    spark.range(1000).selectExpr("sum(id)").collect()   // session warm-up
    // SPARK_GRAFT_DEDUP_BCAST pins the dedup verify strategy for a rung
    // ladder (e.g. "0" = always the shuffle-join verify): the adaptive
    // byte gate otherwise SWITCHES strategy between rungs, which measures
    // the gate, not one plan's growth
    sys.env.get("SPARK_GRAFT_DEDUP_BCAST").foreach(v =>
      spark.conf.set("spark.graft.dedup.broadcastBytes", v))
    // Shuffle sizing for the heavy one-shot families is IN THE PLANS since
    // round 8 (pipeline/Autosize: expansion operators pin their exchange
    // width ∝ measured input rows; iterative fixpoints stay at the session
    // floor) — the former SPARK_GRAFT_INIT_PARTS env lever is gone, so
    // ladder runs need zero per-family pins.

    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      "/tmp/graft_scale10x_" + new java.io.File(sfDir).getName)
    // 1× is the source corpus itself; SPARK_GRAFT_RUNGS=30,100 extends the
    // ladder (the round-4 asymptote claim stopped at 10× — the 100× rung is
    // the overnight-class proof for the heavy families)
    val rungs = sys.env.get("SPARK_GRAFT_RUNGS")
      .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(3, 10))

    def synth(path: String)(build: => DataFrame): Unit =
      if (!new java.io.File(path).exists())
        build.write.mode("overwrite").parquet(path)

    // ------------------------------------------------ N× corpus synthesis
    // letters AND digits rotate, so numeric/short documents also differ
    // across copies (identical cross-copy docs would pair with each other
    // and inflate the output superlinearly)
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    // c < 26: the original rotation (keeps cached 3×/10× corpora valid).
    // c ≥ 26: rotations repeat letter maps (c and c−26 collide, letting
    // letter-only shingles pair ACROSS copies), so high rungs use a
    // seeded per-copy permutation of all 36 chars — still injective per
    // copy, distinct across copies
    def rotated(c: Int) =
      if (c < 26)
        alpha.take(26).drop(c * 3 % 26) + alpha.take(c * 3 % 26) +
        alpha.drop(26).drop(c % 10) + alpha.drop(26).take(c % 10)
      else {
        val rnd = new scala.util.Random(0x5ca1ab1eL + c)
        rnd.shuffle(alpha.toList).mkString
      }
    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def docsPath(n: Int) = s"$scaleDir/documents${n}x.parquet"
    rungs.foreach { n =>
      synth(docsPath(n)) {
        (0 until n).map { c =>
          docs1.select((col("doc_id") + lit(c.toLong * 10_000_000L)).as("doc_id"),
            translate(col("text"), alpha, rotated(c)).as("text"))
        }.reduce(_ unionByName _)
      }
    }

    val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val flip = udf((v: Seq[Float], c: Int) =>
      if (c == 0) v.toArray
      else v.indices.map { d =>
        val h = (d * 2654435761L + c * 1099511628211L) >>> 13
        if ((h & 1L) == 1L) -v(d) else v(d)
      }.toArray)
    def embPath(n: Int) = s"$scaleDir/embeddings${n}x.parquet"
    rungs.foreach { n =>
      synth(embPath(n)) {
        (0 until n).map { c =>
          emb1.select((col("vec_id") + lit(c.toLong * 10_000_000L)).as("vec_id"),
            flip(col("embedding"), lit(c)).as("embedding"))
        }.reduce(_ unionByName _)
      }
    }

    def pointsOf(cust: DataFrame, shift: Int): DataFrame = cust
      .select((col("c_custkey") + lit(shift.toLong * 10_000_000L)).as("id0"),
        (((col("c_custkey") % 360) - 180 + 0.5).cast("double") + lit(shift * 0.037)).as("x"),
        ((((col("c_custkey") * 7) % 180) - 90 + 0.5).cast("double") * lit(0.995) + lit(shift * 0.00037)).as("y"))
      .withColumn("id", col("id0").cast("string")).drop("id0")
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    def ptsPath(n: Int) = s"$scaleDir/points${n}x.parquet"
    (1 +: rungs).foreach { n =>
      synth(ptsPath(n)) {
        (0 until n).map(pointsOf(cust, _)).reduce(_ unionByName _)
      }
    }

    // supplier envelope polygons — the fixed dimension side of the join
    val supPolys = spark.read.parquet(s"$sfDir/supplier.parquet")
      .select(col("s_suppkey"),
        ((col("s_suppkey") % 360) - 180 + 0.5).cast("double").as("x"),
        (((col("s_suppkey") * 7) % 180) - 90 + 0.5).cast("double").as("y"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .groupBy((col("s_suppkey") % 25).as("id"))
      .agg(SpatialAggs.unionAgg(col("geometry")).as("g"))
      .select(col("id"), st.envelope(col("g")).as("geometry"))
      .withColumn("bbox", st.bboxOf(col("geometry")))

    // events at N×: copies offset user/event ids, keep timestamps — each
    // copy's session structure repeats, so sessions grow exactly N×
    val ev1 = graft.pipeline.Events.normalizeEventTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tsn"), col("value"))
    def evPath(n: Int) = s"$scaleDir/events${n}x.parquet"
    rungs.foreach { n =>
      synth(evPath(n)) {
        (0 until n).map { c =>
          ev1.select((col("user_id") + lit(c.toLong * 10_000_000L)).as("user_id"),
            (col("event_id") + lit(c.toLong * 1_000_000_000L)).as("event_id"),
            col("tsn"), col("value"))
        }.reduce(_ unionByName _)
      }
    }
    def evAt(n: Int) = if (n == 1) ev1 else spark.read.parquet(evPath(n))

    // trade-graph edges at N×: node-id offsets per copy → N disjoint graph
    // copies; ranks per copy identical, work grows with the edge count
    val eraw1 = {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
    }
    def edgesPath(n: Int) = s"$scaleDir/edges${n}x.parquet"
    (1 +: rungs).foreach { n =>
      synth(edgesPath(n)) {
        (0 until n).map { c =>
          val off = lit(c.toLong * 100_000_000L)
          val e = eraw1.select((col("src") + off).as("src"), (col("dst") + off).as("dst"))
          e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        }.reduce(_ unionByName _)
      }
    }
    def edgesAt(n: Int) = spark.read.parquet(edgesPath(n))

    // triangle-BEARING edges (parts co-ordered in the same order — the
    // co-purchase graph above is bipartite and triangle-free): offset
    // copies keep the per-copy triangle structure, so counts grow exactly N×
    val traw1 = {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .distinct()
    }
    def triEdgesPath(n: Int) = s"$scaleDir/triedges${n}x.parquet"
    (1 +: rungs).foreach { n =>
      synth(triEdgesPath(n)) {
        (0 until n).map { c =>
          val off = lit(c.toLong * 100_000_000L)
          traw1.select((col("src") + off).as("src"), (col("dst") + off).as("dst"))
        }.reduce(_ unionByName _)
      }
    }
    def triEdgesAt(n: Int) = spark.read.parquet(triEdgesPath(n))

    def docsAt(n: Int) = if (n == 1) docs1 else spark.read.parquet(docsPath(n))
    def embAt(n: Int) = if (n == 1) emb1 else spark.read.parquet(embPath(n))
    def ptsAt(n: Int) = spark.read.parquet(ptsPath(n))

    // hilbert-clustered copies of the point layers — the stored curve-index
    // read path at every rung (matched rows grow ~N×, the __sfc range prune
    // keeps the scan proportional to MATCHES, not corpus size)
    def curvePath(n: Int) = s"$scaleDir/curve${n}x"
    (1 +: rungs).foreach { n =>
      if (!new java.io.File(curvePath(n)).exists())
        graft.plans.SpatialLayout.writeClustered(ptsAt(n), curvePath(n), "hilbert")
    }
    def curveWindow(n: Int): DataFrame =
      new graft.engine.GeoFrame(spark.read.parquet(curvePath(n)),
          Some(graft.engine.LayerMeta("pts", graft.geom.GeomCodec.GTYPE_POINT,
            encoder = "point-xy", indexType = "hilbert")))
        .windowViaCurve(0.5, -10.5, 30.5, 40.5).df
    val q0 = emb1.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray

    def geo(df: DataFrame) = new graft.engine.GeoFrame(df,
      Some(graft.engine.LayerMeta("pts", graft.geom.GeomCodec.GTYPE_POINT,
        encoder = "point-xy")))

    // --------------------------------------------------------- the families
    // each family is a query builder per scale rung; rung 1 gets one warm-up
    // run (codegen + parquet footers) before its timed run. The host VM
    // shows multi-second starvation bursts at random points, so each rung
    // is measured up to 4 times — stopping as soon as the best two agree
    // within 50% — and the MINIMUM is recorded (the bursts only ever
    // inflate; the min is the machine-limited time).
    def timedRung(at: Int => DataFrame, n: Int): (Double, Long) = {
      var best = Double.MaxValue
      var second = Double.MaxValue
      var rows = 0L
      var tries = 0
      while (tries < 4 && (tries < 2 || second > best * 1.5)) {
        spark.catalog.clearCache()
        val (t, c) = time(at(n).count())
        rows = c
        if (t < best) { second = best; best = t }
        else if (t < second) second = t
        tries += 1
      }
      (best, rows)
    }
    def fam(name: String, at: Int => DataFrame): (String, Seq[(Int, Double, Long)]) = {
      spark.catalog.clearCache()
      val (warm, _) = time(at(1).count())
      val rows = (1 +: rungs).map { n =>
        val (t, c) = timedRung(at, n)
        (n, t, c)
      }
      val (rA, tA, _) = rows(rows.length - 2)
      val (rB, tB, _) = rows.last
      val perRung = rows.map { case (n, t, c) => f"t$n=$t%6.2fs ($c)" }.mkString("  ")
      println(f"[scale] $name%-18s $perRung  t$rB/t$rA=${tB / tA}%4.2f " +
        f"(linear ${rB.toDouble / rA}%.2f; warm1 $warm%4.2fs)")
      name -> rows
    }

    val families: Seq[(String, Int => DataFrame)] = Seq(
      "dd_jaccard" ->
        (n => Dedup.shingleJaccardPairs(docsAt(n), "doc_id", "text", 0.2, 4)),
      "dd_containment" ->
        (n => Dedup.containmentPairs(docsAt(n), "doc_id", "text", 0.9, 4)),
      "dd_minhash" ->
        (n => Dedup.minhashNearDupPairs(docsAt(n), "doc_id", "text", 0.2)),
      "dd_simhash64" ->
        (n => Dedup.simhashNearDupPairs(docsAt(n), "doc_id", "text", 3)),
      "sim_ivf_kmeans" ->
        (n => Similarity.ivfTopKKMeans(embAt(n), "vec_id", "embedding", q0, 20, 16, 2, 3)),
      "sp_join_grid" ->
        (n => SpatialJoin.gridJoin(ptsAt(n), supPolys, 30.0, "intersects")),
      "sp_window_curve" -> (curveWindow _),
      // the reference's signature point-layer queries (SimplePointLayer.java:
      // 61-77): k stays fixed while density grows 10×, so the window-pruned
      // candidate scan must keep wall time well under linear growth
      "sp_knn" ->
        (n => geo(ptsAt(n)).knnCandidates(-100.5, 30.5, 25, initialSide = 60.0)
          .df.orderBy(col("distance")).limit(25)),
      // fixed search radius, N× denser points: matches grow ~N×, wall time
      // must track the match count (window prune + codegen'd distance)
      "sp_within_distance" ->
        (n => geo(ptsAt(n)).withinDistanceKm(10.5, 20.5, 1500.0).df),
      // partition-bucket candidates (the high-threshold exact path): the
      // rotated-alphabet copies share no char grams, so true pairs grow ~N×
      // and the identical-bucket join must keep candidates in that regime
      "dd_ngram_part" ->
        (n => Dedup.ngramJaccardPairs(docsAt(n), "doc_id", "text", 0.9, 3)),
      // concat-and-chunk packing: one hash shuffle + per-shard running sum;
      // rows grow N×, wall time must stay ~linear (shards sort independently)
      "tx_pack" ->
        (n => graft.pipeline.Packing.packPlacements(docsAt(n), "doc_id", "text",
          512L, 8)),
      // bigram-LM scoring: rotated alphabets give each copy its OWN
      // vocabulary, so the model tables (uni/bi counts) and the scoring
      // joins all grow N× — wall time must stay ~linear
      "tx_lm" ->
        (n => graft.pipeline.LanguageModel.bigramScore(
          docsAt(n).filter(col("doc_id") % 5 =!= 0),
          docsAt(n).filter(col("doc_id") % 5 === 0), "doc_id", "text")),
      // winnowed substring contamination: per-copy rotation means grams
      // never match across copies, so fingerprints, candidates, and the
      // exact verify all grow ~N×
      "dd_substr_winnow" ->
        (n => Dedup.winnowedSubstringPairs(docsAt(n), "doc_id", "text", 32, 24)),
      // positional q-gram edit-distance: the (gram, band) equi-join with
      // the Gravano count filter — the per-copy rotation keeps grams from
      // matching across copies, so candidates and banded-DP verifies grow
      // ~N× (the heaviest dedup family; its 100× rung is the round-6 ask)
      "dd_edit_pairs" ->
        (n => Dedup.editDistancePairs(docsAt(n), "doc_id", "text", k = 4, q = 12)),
      // gap sessionization: one shuffle on user_id, windows + session agg
      // inside it — sessions grow exactly N× (disjoint per-copy users)
      "ev_sessions" ->
        (n => graft.pipeline.Events.sessionize(evAt(n), 4L * 3600L * 1000000L)),
      // the round-6 distributed-rank rewrite: per-user rollup + range-sort
      // zipWithIndex global rank (NO single-partition window) — users grow
      // exactly N× (per-copy id offsets), so the rank input grows N× and
      // wall time must stay ≤ linear
      "ev_gini" ->
        (n => graft.pipeline.Events.giniRevenue(
          evAt(n).withColumn("event_type", lit("purchase")))),
      // two-sample KS at N×: per-user rollup scan dominates; the
      // prefix-sum pass is one range shuffle over the value-group table
      // (distinct per-user totals ≤ users, grows ~N×)
      "ev_ks" -> (n => {
        val perUser = evAt(n)
          .select(col("user_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("user_id").agg(sum(col("cents")).as("m"))
          .withColumn("variant", (col("user_id") % 2).cast("long"))
        graft.pipeline.Events.ksTest(perUser, "m", "variant")
      }),
      // Poisson bootstrap at N×: the 200-way explode is the only row
      // expansion and partial aggregation collapses it map-side to
      // reps×2 sums per partition — wall time must stay ~linear in users
      // despite the 200× flat-map (the classic bootstrap scale shape)
      "ev_bootstrap" -> (n => {
        val perUser = evAt(n)
          .select(col("user_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("user_id").agg(sum(col("cents")).as("m"))
          .withColumn("variant", (col("user_id") % 2).cast("long"))
        graft.pipeline.Events.bootstrapDiff(perUser, "user_id", "m",
          "variant", reps = 200)
      }),
      // 3 PageRank rounds over N disjoint graph copies: per-iteration
      // edges⋈ranks + dst-sum, work ∝ edges
      "gr_pagerank" ->
        (n => graft.pipeline.PageRank.pageRank(edgesAt(n), iters = 3)),
      // directed SCC over N disjoint copies of the trade digraph with a
      // deterministic third of the edges reversed (so real cycles exist):
      // per-copy structure is rung-invariant ⇒ color-fixpoint iterations
      // and peel rounds stay constant while every join grows ∝ N
      "gr_scc" -> (n => {
        val e = edgesAt(n)
        val dir = e.unionAll(
          e.select(col("dst").as("src"), col("src").as("dst"))
            .filter((col("src") + col("dst")) % 3 === 0))
        val verts = e.select(col("src").as("id"))
          .unionAll(e.select(col("dst").as("id"))).distinct()
        graft.pipeline.Graphs.sccLabels(verts, dir)
      }),
      // frontier BFS with seeds in EVERY copy (customer nodes, every 37th
      // per copy): frontier and settled set grow ∝ N, rounds constant, so
      // each round's edge probe + anti-join shuffles ∝ N
      "gr_bfs" -> (n => {
        val e = edgesAt(n)
        val seeds = e.select(col("src").as("node")).distinct()
          .filter(col("node") % 2 === 0 && (col("node") % 100000000L) % 74 === 0)
        graft.pipeline.Graphs.bfs(e, seeds, maxHop = 3)
      }),
      // hash-guided walks: seeds grow N× (one seed set per copy), steps
      // fixed at 4 — per-step work is one edges-keyed join + struct-min
      // argmin, so total work ∝ seeds + edges ≈ N×
      "gr_walks" -> (n => {
        val e = edgesAt(n)
        val seeds = e.select(col("src").as("node")).distinct()
          .filter(col("node") % 2 === 0 && (col("node") % 100000000L) % 74 === 0)
        graft.pipeline.Graphs.hashWalks(e, seeds, steps = 4)
      }),
      // ExactSubstr span removal: rotated copies share no grams, so the
      // gram-key aggregate, coverage expansion, and reassembly all grow ~N×
      // (the n_removed filter keeps count() from eliminating the left join
      // and with it the whole computation)
      "tx_span_rm" ->
        (n => graft.pipeline.Corpus.spanDedup(docsAt(n), "doc_id", "text", 5)
          .filter(col("n_removed") >= 0)),
      // DSIR scoring: output is a fixed top-100, but the feature explode,
      // bucket distributions, and per-doc folds grow N× — the broadcast
      // weight table stays 512 rows at every rung
      "tx_dsir" ->
        (n => graft.pipeline.Corpus.dsirTopK(docsAt(n), "doc_id", "text",
          col("doc_id") % 11 === 0, 512, 100)),
      // exact kNN join, every 37th point querying: density grows N×, so the
      // cell is resized ∝ 1/√N to keep ~constant points per 3×3 block —
      // the production tuning rule; per-query work then stays ~flat and
      // total work ~N×
      "sp_knn_join" ->
        (n => SpatialJoin.knnJoin(
          ptsAt(n).filter(col("id").cast("long") % 37 === 0)
            .select(col("id"), col("x"), col("y")),
          ptsAt(n).select(col("id"), col("x"), col("y")),
          k = 5, cellSize = 8.0 / math.sqrt(n.toDouble), excludeSelf = true)),
      // Bloom decontamination with the benchmark FIXED (the production
      // shape: corpus grows, eval suite doesn't) — the 8 KiB bitset is
      // constant at every rung, so work is the train-side gram scan ∝ N
      "tx_bloom" ->
        (n => graft.pipeline.Corpus.bloomDecontaminate(
          docsAt(n).filter(col("doc_id") % 97 =!= 0),
          docsAt(1).filter(col("doc_id") % 97 === 0), "doc_id", "text", k = 3)),
      // windowed event dedup: per-copy session structure repeats, one
      // (user, type) shuffle reused by the lag window and the aggregate
      "ev_dedup_win" ->
        (n => graft.pipeline.Events.dedupWindow(
          evAt(n).select(col("user_id"), col("event_id"),
            (col("tsn") * 1000).as("ts"),
            concat(lit("t"), (col("event_id") % 5).cast("string")).as("event_type")),
          windowNs = 6L * 3600 * 1000000000L)),
      // MVT tile bake over Nx points: the tile-keyed shuffle and per-tile
      // protobuf encodes grow with the data while the tile COUNT stays
      // fixed (zoom 6 → ≤4096 groups), so features-per-tile grows Nx —
      // encode cost must track rows, not tiles
      "sp_mvt" -> (n => {
        import spark.implicits._
        val scalePx = (1 << 6) * graft.sources.Mvt.Extent
        ptsAt(n)
          .withColumn("fgx", floor((col("x") + 180.0) / 360.0 * scalePx))
          .withColumn("fgy", floor((lit(90.0) - col("y")) / 180.0 * scalePx))
          .select(col("id").cast("long").as("fid"),
            floor(col("fgx") / graft.sources.Mvt.Extent).cast("int").as("tx"),
            floor(col("fgy") / graft.sources.Mvt.Extent).cast("int").as("ty"),
            (col("fgx") - lit(graft.sources.Mvt.Extent)
              * floor(col("fgx") / graft.sources.Mvt.Extent)).cast("int").as("px"),
            (col("fgy") - lit(graft.sources.Mvt.Extent)
              * floor(col("fgy") / graft.sources.Mvt.Extent)).cast("int").as("py"))
          .as[(Long, Int, Int, Int, Int)]
          .groupByKey(r => (r._2, r._3))
          .mapGroups { (key: (Int, Int), it: Iterator[(Long, Int, Int, Int, Int)]) =>
            val feats = it.map(r => graft.sources.Mvt.PointFeature(r._1, r._4, r._5, Nil)).toSeq
            (key._1, key._2, graft.sources.Mvt.encodeTile("pts", feats).length)
          }.toDF("tx", "ty", "n_bytes")
      }),
      // banded interval join with each copy's CLOCK shifted to a disjoint
      // epoch (~35 days > the 30-day span): co-occurrence pairs stay
      // per-copy, so output and the cell-keyed shuffle grow ∝ N instead of
      // the N² a shared time axis would manufacture
      "ev_interval" -> (n => {
        val e = evAt(n).withColumn("t",
          col("tsn") + (col("user_id") / 10000000L).cast("long") * 3000000000000L)
        val left = e.filter(col("event_id") % 5 === 0)
          .select(col("event_id").as("l_id"), col("t").as("l_ts"))
        val right = e.filter(col("event_id") % 5 === 1)
          .select(col("t").as("r_ts"), col("value"))
        graft.pipeline.Events.intervalJoin(left, right, "l_ts", "r_ts",
            deltaUs = 60000000L)
          .groupBy(col("l_id")).agg(count(lit(1)).as("n"))
      }),
      // TF-IDF keyword extraction: rotated copies have disjoint vocabularies,
      // so the tf/df tables and the vocab-KEYED join (never broadcast) grow
      // N× — wall time must stay ~linear as the vocabulary scales with data
      "tx_tfidf" ->
        (n => graft.pipeline.Corpus.tfidfTopTerms(docsAt(n), "doc_id", "text", 3)),
      // PMI collocations: top-20 output is fixed but the bigram/unigram
      // aggregates and both vocab-keyed count joins grow N×
      "tx_colloc" ->
        (n => graft.pipeline.Corpus.collocations(docsAt(n), "doc_id", "text", 5, 20)),
      // batch ANN kNN join: queries AND corpus grow N×; the IVF index is
      // RESIZED with the corpus (nlist ∝ N keeps per-list size constant —
      // the same production tuning rule as sp_knn_join's cell resize), so
      // per-query probe work stays ~flat and total work ~N×
      "sim_knn_join" ->
        (n => Similarity.ivfKnnJoin(embAt(n),
          embAt(n).filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
          k = 5, nlist = 16 * n, nprobe = 2)),
      // the two-level quantizer under the same resize rule: flat
      // assignment is corpus×nlist ∝ N² (measured t100/t30 = 9.5); the
      // parent/child scan is ~2√nlist per vector, so this family must
      // stay near-linear at the 30×/100× rungs
      "sim_knn_hier" ->
        (n => Similarity.ivfKnnJoinTwoLevel(embAt(n),
          embAt(n).filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
          k = 5, nlist = 16 * n, nprobe = 2)),
      // the log-depth tree under the same resize rule: branch FIXED at 8,
      // so per-vector assignment work grows only with tree depth
      // log_8(16n) — the O(log N) asymptote (flat O(N), two-level O(√N))
      "sim_knn_tree" ->
        (n => Similarity.ivfKnnJoinTree(embAt(n),
          embAt(n).filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
          k = 5, nlist = 16 * n, nprobe = 2, branch = 8, beam = 2)),
      // hierarchical tile pyramid: base scan grows N× (and the shifted
      // copies widen the cell extent ~N×) but every exchange after the
      // partial agg is tile-count-sized; each coarser level rolls up from
      // the previous AGGREGATE, so the base rows are read exactly once
      "sp_tile_pyr" -> (n => {
        val fine = ptsAt(n).groupBy(
            floor((col("x") + 180.0) / 5.0).cast("long").as("cell_x"),
            floor((col("y") + 90.0) / 5.0).cast("long").as("cell_y"))
          .agg(count(lit(1)).as("n"),
            sum((col("id").cast("long") % 100).cast("decimal(18,2)")).as("s"))
        def up(df: DataFrame) = df.groupBy(
            expr("cell_x div 3").as("cell_x"), expr("cell_y div 3").as("cell_y"))
          .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
        up(up(fine))
      }),
      // content-defined chunking: boundary scan + chunk fan-out live in the
      // scan projection; rotated copies chunk to DISJOINT hashes, so the
      // one map-side-combined aggregate grows N× while output stays top-20
      "tx_cdc" ->
        (n => graft.pipeline.Corpus.cdcChunkStats(docsAt(n), "doc_id", "text")),
      // deterministic shuffle-shard: shard count grows WITH the corpus
      // (numShards ∝ N keeps shard size constant — the production rule), so
      // per-shard sort work stays flat and total work ~N×
      "tx_shard" ->
        (n => graft.pipeline.Packing.shardAssign(docsAt(n), "doc_id", "text",
          numShards = 16 * n, salt = "s:")),
      // exact triangle counting over N disjoint copies of the co-order part
      // graph: wedge volume is O(m^{3/2}) per copy, disjoint copies → total
      // work ~N×. broadcastLimit=0 pins the pure-shuffle plan at every rung
      // (the default strategy pick would broadcast the small rungs and
      // shuffle the big one — a strategy SWITCH, not a growth curve)
      "gr_triangles" ->
        (n => graft.pipeline.Graphs.triangleCounts(triEdgesAt(n), broadcastLimit = 0L)),
      // zonal stats over N× polygons (translated copies; cells fixed):
      // the bbox→cell fan-out and per-pair clip grow N×, the exchange
      // stays cell-count-sized via map-side combine
      "sp_zonal" -> (n => {
        val polys = (0 until n).map { c =>
          supPolys.select(st.affine(col("geometry"), 1.0, 0.0, (c % 7) * 0.5,
            0.0, 1.0, (c % 5) * 0.5).as("geometry"))
        }.reduce(_ unionByName _).withColumn("bbox", st.bboxOf(col("geometry")))
        SpatialAggs.zonalStats(polys, 3.0)
      }),
      // MULTIMODAL ladders (round-6 verdict task 2) — possible now that the
      // stub generator has a full 31-bit content space (the old mod-251
      // form gained REAL accidental exact-dups past ~250 rows and any rung
      // measured the generator, not the operator). Duplicates are PLANTED
      // via the same seedOf folds as the oracle gates, so true-match counts
      // grow exactly N× while honest content keeps hash buckets sparse.
      // pHash near-dup: decode → 64-bit signature → pigeonhole banding
      // (4×16-bit chunks, 65 536 buckets/band) — band rows grow N×, bucket
      // occupancy stays ≪1 at every rung, verify pairs ≈ planted dups
      "mm_phash" -> (n => Multimodal.phashNearDupPairs(
        Multimodal.syntheticMedia(spark, 300 * n,
          i => if (i % 9 == 3) i - 3 else i), maxHamming = 3)),
      // video near-dup: frame-feature SET join — features are rounded
      // per-frame sums of honest content, effectively unique per (video,
      // frame), so the feature-equality join matches planted dups only
      "mm_video_dedup" -> (n => Multimodal.videoNearDupPairs(
        Multimodal.sampleFrames(Multimodal.syntheticMedia(spark, 300 * n,
          i => if (i % 9 == 8) i - 6 else i), n = 8, w = 16, h = 16),
        threshold = 0.5)),
      // audio constellation: (peak,peak,dt) hash join. The hash-key space
      // is samplesPerWindow²·maxDt — like IVF's nlist it must scale with
      // the corpus or the Σc² term goes quadratic; the ladder runs at
      // spw=256 (196k keys vs 180k hash rows at 100×, occupancy <1) the
      // same way a production deployment widens its frequency bins
      "mm_audio_match" -> (n => Multimodal.constellationMatches(
        Multimodal.syntheticMedia(spark, 300 * n,
          i => if (i % 9 == 4) i - 3 else i),
        windows = 8, samplesPerWindow = 256)),
      // distributed hash-to-min CC with pointer jumping over N disjoint
      // copies of the co-purchase graph: rounds stay O(log diameter)
      // (diameter is rung-invariant), each round one id-keyed shuffle ∝ N
      "gr_cc" -> (n => {
        val e = edgesAt(n)
        val verts = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct()
        graft.pipeline.Groups.ccLabels(verts, e, smallEdgeLimit = 0L)
      }),
      // bounded-round k-core peeling over N disjoint copies: per-copy peel
      // structure repeats, so every round's degree aggregate and the two
      // survivor joins grow ∝ N with a constant round count
      "gr_kcore" ->
        (n => graft.pipeline.Graphs.kcorePeel(edgesAt(n), k = 25, rounds = 4)),
      // SQ8 scalar-quantized retrieval: the per-dim min/max aggregate and
      // the dequantized scan grow N× while the quantizer state stays 2·dim
      // literals and the output a fixed top-k at every rung
      "sim_sq8" ->
        (n => Similarity.sq8TopK(embAt(n), "vec_id", "embedding", q0,
          shortlist = 200, k = 20)),
      // bounded-depth Brandes from a per-copy landmark batch: roots ∝ N
      // (a sparse batch — every ~500th customer node per copy, matching
      // the driver query's landmark density), each root's settled set
      // bounded inside its own copy, so the forward σ shuffles and
      // backward δ joins grow ∝ N with a constant round count
      "gr_betweenness" -> (n => {
        val e = edgesAt(n)
        val seeds = e.select(col("src").as("node")).distinct()
          .filter(col("node") % 2 === 0 && (col("node") % 100000000L) % 1000 === 2)
        graft.pipeline.Graphs.brandesBetweenness(e, seeds, maxHop = 3, k = 30)
      }),
      // distinct-n diversity: rotated copies share no grams, so the
      // token-arithmetic totals AND the gram-distinct shuffle grow ∝ N
      // (pins the no-Expand split plan)
      "tx_distinct_n" ->
        (n => graft.pipeline.Corpus.distinctN(
          docsAt(n).withColumn("source", lit("all")), "source", "text")),
      // k-truss peel over N disjoint copies of the %4-restricted co-order
      // graph (the gate query's graph; copy offsets are ≡0 mod 4, so the
      // restriction selects the same per-copy subgraph at every rung):
      // rounds constant (per-copy peel structure rung-invariant), each
      // round's oriented wedge volume ∝ N because copies are disjoint
      "gr_ktruss" -> (n => graft.pipeline.Graphs.trussPeel(
        triEdgesAt(n).filter(col("src") % 4 === 0 && col("dst") % 4 === 0),
        k = 5, rounds = 7, broadcastLimit = 0L)),
      // Borůvka MSF over N disjoint copies of the trade graph with
      // deterministic hash weights (struct-tuple argmin since round 8 —
      // no id/weight ceiling): hook/jump rounds constant per copy,
      // every comp join and argmin aggregate ∝ N
      "gr_mst" -> (n => {
        val copies = (0 until n).map { c =>
          val off = lit(c.toLong * 40_000L)
          eraw1.select((col("src") + off).as("src"), (col("dst") + off).as("dst"))
        }.reduce(_ unionByName _)
        graft.pipeline.Graphs.boruvkaMsf(copies.withColumn("w",
          pmod(col("src") * 31 + col("dst") * 17, lit(100_000L))))
      }),
      // PCA: the d(d+1)/2-long moment buffer is rung-invariant (one
      // partial-combining aggregate, no row expansion), the power
      // iteration is driver-side constant, the projection scan ∝ N
      "sim_pca" -> (n => Similarity.pcaLabelStats(
        embAt(n).withColumn("label", (col("vec_id") % 3).cast("int")),
        "embedding", "label", dim = 64)))

    // SPARK_GRAFT_FAMILIES=a,b runs a subset — the host VM throttles
    // sustained load, so the stitching script runs one family per (short)
    // JVM with cool-down gaps and merges the JSON fragments
    val famFilter = sys.env.get("SPARK_GRAFT_FAMILIES").map(_.split(",").toSet)
    val results = families
      .filter { case (name, _) => famFilter.forall(_.contains(name)) }
      .map { case (name, at) => fam(name, at) }

    val json = results.map { case (k, rows) =>
      val perRung = rows.map { case (n, t, c) =>
        f""""t${n}_sec": $t%.3f, "rows$n": $c"""
      }.mkString(", ")
      val (_, t1, _) = rows.head
      val (rA, tA, _) = rows(rows.length - 2)
      val (rB, tB, _) = rows.last
      f"""  "$k": {$perRung, "time_growth": ${tB / t1}%.2f, "linear_multiple": ${tB / t1 / rB}%.3f, "t${rB}_over_t$rA": ${tB / tA}%.2f}"""
    }.mkString("{\n" + {
      val all = 1 +: rungs
      val (rA, rB) = (all(all.length - 2), all.last)
      s"""  "base": "$sfDir", "rungs": [${all.mkString(", ")}], """ +
        s""""shape_note": "t${rB}_over_t$rA: linear=${
          f"${rB.toDouble / rA}%.2f"}, constant=1",\n"""
    }, ",\n", "\n}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    // stop first: the JSON must be the LAST stdout line (tail-captured)
    spark.stop()
    println(json)
    System.out.flush()
  }
}
