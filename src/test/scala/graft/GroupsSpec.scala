package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Bpe, Dedup, Groups, LanguageModel}

/** Near-dup group assembly, shared-substring pairs, and bigram-LM scoring. */
class GroupsSpec extends SparkSpec {
  import spark.implicits._

  // chain 1-2-3, triangle 10-11-12 (one redundant edge), singleton 99
  private def fixtureEdges =
    Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("src", "dst")
  private def fixtureVerts = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("id")

  test("ccLabels: driver union-find and distributed hash-to-min agree") {
    val fast = Groups.ccLabels(fixtureVerts, fixtureEdges)
      .as[(Long, Long)].collect().toMap
    val dist = Groups.ccLabels(fixtureVerts, fixtureEdges, smallEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L)
    assert(fast == expected)
    assert(dist == expected)
  }

  test("ccLabels keeps string ids as strings: the label is the string minimum") {
    // one component {"10", "9", "100"}: its string minimum is "10", its
    // numeric minimum 9; "7" stays a singleton
    val edges = Seq(("9", "10"), ("100", "9")).toDF("src", "dst")
    val verts = Seq("10", "9", "100", "7").toDF("id")
    val want = Map("10" -> "10", "9" -> "10", "100" -> "10", "7" -> "7")
    val fast = Groups.ccLabels(verts, edges).as[(String, String)].collect().toMap
    val dist = Groups.ccLabels(verts, edges, smallEdgeLimit = 0L)
      .as[(String, String)].collect().toMap
    assert(fast == want)
    assert(dist == want)
    // the same graph over long ids labels the component 9
    val longEdges = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val longVerts = verts.select(col("id").cast("long"))
    val wantLong = Map(10L -> 9L, 9L -> 9L, 100L -> 9L, 7L -> 7L)
    Seq(500000L, 0L).foreach { limit =>
      val got = Groups.ccLabels(longVerts, longEdges, smallEdgeLimit = limit)
        .as[(Long, Long)].collect().toMap
      assert(got == wantLong, s"smallEdgeLimit = $limit")
    }
  }

  private def dupDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"),
    (3L, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (4L, "completely different words about spark shuffles and parquet footers"),
    (5L, "completely different words about spark shuffles and parquet footers"),
    (6L, "nothing in common with anything else in this corpus at all whatsoever")
  ).toDF("doc_id", "text")

  test("nearDupGroups equals the transitive closure of the pair operator") {
    val pairs = Dedup.minhashNearDupPairs(dupDocs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // brute-force closure
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = if (parent.getOrElse(x, x) == x) x else find(parent(x))
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val want = (1L to 6L).groupBy(find).collect {
      case (root, ms) if ms.size >= 2 => root -> ms.sorted.toSeq
    }
    val got = Groups.nearDupGroups(dupDocs, "doc_id", "text", 0.5)
      .select("group_id", "members")
      .as[(Long, Seq[Long])].collect().toMap
    assert(got == want)
    assert(got.keySet.contains(1L) && got(1L).contains(2L)) // exact dups cluster
  }

  test("nearDupDeduped keeps min-id survivors; re-running finds no pairs") {
    val kept = Groups.nearDupDeduped(dupDocs, "doc_id", "text", 0.5)
    val ids = kept.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L) && !ids.contains(2L)) // 2 is a non-survivor dup of 1
    assert(ids.contains(6L)) // singleton untouched
    assert(Dedup.minhashNearDupPairs(kept, "doc_id", "text", 0.5).count() == 0)
  }

  test("sharedSubstringPairs matches brute force and skips short docs") {
    val docs = Seq(
      (1L, "AAAA shared boilerplate sentence here BBBB"),
      (2L, "CCCC shared boilerplate sentence here DDDD"),
      (3L, "totally unrelated content that matches nothing else at all"),
      (4L, "short doc") // below minLen — never pairs
    ).toDF("doc_id", "text")
    val L = 20
    val got = Dedup.sharedSubstringPairs(docs, "doc_id", "text", L)
      .as[(Long, Long, Long)].collect().toSet
    // brute force: distinct L-grams per doc, pairwise intersection
    val raw = docs.as[(Long, String)].collect()
    val gramSets = raw.collect { case (id, t) if t.length >= L =>
      id -> (0 to t.length - L).map(i => t.substring(i, i + L)).toSet
    }
    val want = (for {
      (a, sa) <- gramSets; (b, sb) <- gramSets if a < b
      n = sa.intersect(sb).size if n > 0
    } yield (a, b, n.toLong)).toSet
    assert(got == want)
    assert(got.exists { case (a, b, _) => a == 1L && b == 2L })
    assert(!got.exists { case (a, b, _) => a == 4L || b == 4L })
  }

  test("winnowedSubstringPairs equals the all-positions plan exactly") {
    // mixed corpus: verbatim boilerplate clusters + unrelated noise docs;
    // ids chosen so sort order exercises ties
    val base = "abcdefghij klmnopqrst uvwxyz0123 456789ABCD EFGHIJKLMN"
    val docs = (1L to 30L).map { i =>
      val noise = s"doc$i " + (1 to 12).map(j => ((i * 31 + j * 7) % 97).toString).mkString(" ")
      val t =
        if (i % 5 == 0) s"$noise $base tail$i" // cluster sharing `base`
        else if (i % 7 == 0) s"$noise ${base.reverse} t$i" // second cluster
        else noise + " filler content that never reaches thirty-two shared chars with others " + i
      (i, t)
    }.toDF("doc_id", "text")
    val exact = Dedup.sharedSubstringPairs(docs, "doc_id", "text", 32)
      .as[(Long, Long, Long)].collect().toSeq
    val winnowed = Dedup.winnowedSubstringPairs(docs, "doc_id", "text", 32, gram = 8)
      .as[(Long, Long, Long)].collect().toSeq
    assert(winnowed == exact)
    assert(exact.nonEmpty) // the fixture really has shared-substring pairs
  }

  test("bpeMerges replays classic BPE by hand on a tiny corpus") {
    // corpus: "low low low lower lowest" — freq low:3 lower:1 lowest:1
    val docs = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    val got = Bpe.bpeMerges(docs, "text", numMerges = 3)
      .as[(Int, String, String, Long)].collect().toSeq
    // step 1 pairs: (l,o):5 (o,w):5 (w,e):2 (e,r):1 (e,s):1 (s,t):1
    //   tie 5/5 → lex (l,o) wins → symbols: lo w ...
    // step 2: (lo,w):5 (w,e):2 ... → (lo,w) → low ...
    // step 3: (low,e):2 (e,r):1 (e,s):1 (s,t):1 → (low,e)
    assert(got == Seq((1, "l", "o", 5L), (2, "lo", "w", 5L), (3, "low", "e", 2L)))
  }

  test("bpeMerges greedy merge is leftmost non-overlapping (aaa case)") {
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val got = Bpe.bpeMerges(docs, "text", numMerges = 2)
      .as[(Int, String, String, Long)].collect().toSeq
    // "aaa" freq 2: pairs (a,a) count 2·2=4 → merge → [aa, a] per word
    // round 2 pairs: (aa,a) count 2 → merge → [aaa]
    assert(got == Seq((1, "a", "a", 4L), (2, "aa", "a", 2L)))
  }

  test("bpeTokenCounts encodes with the learned merges") {
    // after 3 merges on "low low low lower lowest": l+o, lo+w, low+e
    // low → [low] (1), lower → [lowe, r] (2), lowest → [lowe, s, t] (3)
    val docs = Seq((1L, "low low low lower lowest"), (2L, "low lowest"))
      .toDF("doc_id", "text")
    val got = Bpe.bpeTokenCounts(docs, "doc_id", "text", numMerges = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 5L, 3 * 1 + 2 + 3L), (2L, 2L, 1 + 3L)))
  }

  test("bigramScore matches a hand-computed add-one-smoothed model") {
    val train = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val score = Seq((10L, "a b x"), (11L, "c")).toDF("doc_id", "text")
    val got = LanguageModel.bigramScore(train, score, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
    // train: unigrams a:2 b:2 c:1 (V=3); bigrams (a,b):2 (b,a):1 (b,c):1
    // doc 10 bigrams: (a,b) known cb=2 cu=2 → nll = ln((2+3)/(2+1)) = ln(5/3)
    //                 (b,x) unseen cb=0 cu=2 → nll = ln((2+3)/1) = ln(5)
    val expect = BigDecimal((math.log(5.0 / 3) + math.log(5.0)) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq((10L, 2L, 1L, expect))) // doc 11 has no bigram → absent
  }

  test("canonicalDocs keeps the max-quality member, ties to smallest id") {
    val t = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, t, 100L), (2L, t, 300L), (3L, t, 200L),
      (10L, "omega psi chi phi upsilon tau", 50L),
      (11L, "omega psi chi phi upsilon tau", 50L))
      .toDF("doc_id", "text", "n_chars")
    val out = graft.pipeline.Groups
      .canonicalDocs(docs, "doc_id", "text", "n_chars", threshold = 0.2)
      .collect()
    assert(out.length == 2)
    val byGroup = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byGroup(1L) == ((3L, 2L, 300L)))    // best quality wins
    assert(byGroup(10L) == ((2L, 10L, 50L)))   // tie -> smaller id
  }
}
