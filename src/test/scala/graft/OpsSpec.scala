package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Cross-validation of the LLM-pipeline operators (§2.8). */
class OpsSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")

  test("native SimHash32 expression == composed explode pipeline") {
    val fast = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val slow = Dedup.simhashViaExplode(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == slow, s"diff keys: ${(fast.toSet diff slow.toSet).take(3)}")
  }

  test("native ShingleHashes expression == composed xxhash64 pipeline") {
    graft.functions.ShingleHashes.register(spark)
    val fast = docs.select(col("doc_id"),
      call_function("graft_shingle_hashes", col("text"), lit(3)).as("sh")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val slow = docs.select(col("doc_id"),
      array_distinct(transform(Dedup.shingles(col("text"), 3), s => xxhash64(s))).as("sh")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(fast.keySet == slow.keySet)
    for ((k, v) <- fast) assert(v == slow(k), s"doc $k shingle hashes differ")
  }

  test("minhash LSH finds most high-jaccard pairs (recall vs exact)") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text", n = 3, numPerms = 32,
      bands = 8, threshold = 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH verified pairs must be a subset of exact pairs")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.9, s"LSH recall $recall (found ${lsh.size}/${exact.size})")
    }
  }

  test("simhash pairs: near-dup docs have small hamming distance") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // very-high-jaccard pairs should mostly collide in simhash space
    if (exact.nonEmpty) {
      val caught = exact.intersect(sh).size.toDouble / exact.size
      assert(caught >= 0.5, s"simhash caught $caught of jaccard>=0.9 pairs")
    }
  }

  test("native CosineSim / LshBucket expressions == composed pipelines") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("av"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("bv")))
      .filter(col("a") < col("b")).limit(2000)
    val d = pairs.select(
      Similarity.cosine(col("av"), col("bv")).as("fast"),
      Similarity.cosineComposed(col("av"), col("bv")).as("slow")).collect()
    assert(d.forall(r => r.getDouble(0) == r.getDouble(1)), "cosine must be bit-identical")
    val bkt = emb.select(
      Similarity.lshBucket(col("embedding"), 64, 6).as("fast"),
      Similarity.lshBucketComposed(col("embedding"), 64, 6).as("slow")).collect()
    assert(bkt.forall(r => r.getLong(0) == r.getLong(1)), "lsh bucket must be bit-identical")
  }

  test("LSH ANN results are true neighbors (subset sanity) and IVF assigns cells") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    val ann = Similarity.lshTopK(q, emb, "vec_id", "embedding", k = 3, dims = 64, planes = 4)
    assert(ann.count() > 0)
    val centroids = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assign = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
    assert(assign.count() == emb.count())
    assert(assign.select("cid").distinct().count() > 1)
  }

  test("packSequences: bins are bucketWidth-invariant (value-keyed split, not physical)") {
    import graft.ops.TextAnalysis
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("n_tokens"))
    def bins(w: Long) = TextAnalysis.packSequences(docs, "doc_id", "n_tokens", 512, w)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val a = bins(7); val b = bins(64); val c = bins(1L << 20) // one bucket
    assert(a == b && b == c, "bin assignment must not depend on the bucket split")
    // bins are contiguous from 0 and non-empty in id order
    val ids = a.values.toSet
    assert(ids == (0L until ids.size.toLong).toSet, s"gappy bins: $ids")
  }

  test("IVF assignment NaN edge: a zero centroid ranks first (ORDER BY parity), min cid ties") {
    import spark.implicits._
    // cosine(v, 0-vector) = 0/0 = NaN; ORDER BY sim DESC ranks NaN above
    // every real value in Spark AND DuckDB, so the fold must pick it too
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val centroids = Seq(
      (5L, Array(0f, 0f)), (3L, Array(0f, 0f)), // two NaN cells: min cid (3) must win
      (9L, Array(1f, 1f))).toDF("cid", "cvec")
    val got = Similarity.ivfAssign(corpus, "vec_id", "embedding", centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L), got)
  }

  test("native LshProbes expression == composed pipeline; probes distinct") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val rows = emb.select(
      Similarity.lshProbes(col("embedding"), 64, 6, 4).as("fast"),
      Similarity.lshProbesComposed(col("embedding"), 64, 6, 4).as("slow")).collect()
    rows.foreach { r =>
      val fast = r.getSeq[Long](0)
      val slow = r.getSeq[Long](1)
      assert(fast == slow, s"probe lists differ: $fast vs $slow")
      assert(fast.distinct.size == fast.size, s"probes must be distinct: $fast")
      assert(fast.size == 4)
    }
    // nprobes=1 must equal the single bucket
    val one = emb.select(
      Similarity.lshProbes(col("embedding"), 64, 6, 1).as("probes"),
      Similarity.lshBucket(col("embedding"), 64, 6).as("bucket")).collect()
    assert(one.forall(r => r.getSeq[Long](0) == Seq(r.getLong(1))))
  }

  test("LSH multiprobe lifts recall over single-probe vs brute force") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 50)
    // planes=6 => 64 buckets over a few hundred vectors: sparse enough that
    // single-probe misses near-boundary neighbors, dense enough that probing
    // the 3 least-confident flips recovers a meaningful share of them
    val truth = Similarity.cosineTopK(q, emb, "vec_id", "embedding", k = 3)
      .select("q", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nprobes: Int): Double = {
      val got = Similarity.lshTopK(q, emb, "vec_id", "embedding",
        k = 3, dims = 64, planes = 6, nprobes = nprobes)
        .select("q", "neighbor").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val r1 = recall(1)
    val r4 = recall(4)
    val r7 = recall(7) // all Hamming-1 neighbors probed
    assert(r4 > r1, s"multiprobe recall $r4 must beat single-probe $r1")
    assert(r7 >= r4, s"recall must be monotone in nprobes: $r7 < $r4")
    // floor calibrated on the (deterministic) test corpus: random vectors
    // have weak locality, so 3.3x over single-probe is the signal; the floor
    // guards against a probe-order regression, not an absolute ANN quality bar
    assert(r7 >= 0.4, s"full Hamming-1 probe recall $r7 below floor (single-probe $r1)")
  }

  test("salted join == plain join on a skewed key distribution") {
    import graft.ops.Skew
    import spark.implicits._
    // 90% of fact rows share one key — the classic hot-key shape
    val fact = spark.range(20000)
      .withColumn("k", when(col("id") % 10 < 9, lit(7L)).otherwise(col("id") % 100))
      .withColumn("v", col("id") * 3)
    val dim = (0L until 100L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).select("k", "v", "name")
    val salted = Skew.saltedJoin(fact, dim, "k", salt = 8).select("k", "v", "name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("bucketed pair operators == all-pairs reference forms") {
    // Equality with the cartesian reference forms is the semantic guard the
    // PlanSpec no-cartesian assertions pair with: together they pin "same
    // answer, scalable plan".
    val sh = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val shAll = Dedup.simhashPairsAllPairs(docs, "doc_id", "text", maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(sh == shAll, s"simhashPairs != all-pairs: only-banded=${(sh diff shAll).take(3)} " +
      s"only-allpairs=${(shAll diff sh).take(3)}")
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val nd = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ndAll = Similarity.cosineNearDupPairsAllPairs(emb, "vec_id", "embedding", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(nd == ndAll, s"cosineNearDupPairs != all-pairs: only-blocked=${(nd diff ndAll).take(3)} " +
      s"only-allpairs=${(ndAll diff nd).take(3)}")
  }

  test("cosineNearDupPairs size-routes to the kmeans-blocked path above exactLimit") {
    import spark.implicits._
    // two tight, well-separated vector clusters: within-cluster sims ~1,
    // cross-cluster ~-1 — the approximate path loses nothing here, so the
    // routed result must still equal all-pairs (the recall contract's
    // co-clustered case)
    val rnd = new scala.util.Random(11)
    def vec(center: Double) = Seq.fill(8)((center + rnd.nextGaussian() * 0.01).toFloat)
    val emb = (0 until 60).map(i => (i.toLong, vec(if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("vec_id", "embedding")
    val routed = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.9, exactLimit = 0L) // force the above-limit path
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosineNearDupPairsAllPairs(emb, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the recall CONTRACT: emitted pairs are exact (similarity is computed,
    // never inferred — precision 1.0); pairs split across kmeans cells may
    // be missed (k floors at 8, fragmenting the 2 true clusters — cluster
    // QUALITY is x34's oracle-checked concern, this test pins the routing)
    assert((routed diff exact).isEmpty, s"false pairs: ${(routed diff exact).take(3)}")
    assert(routed.nonEmpty, "routed path must still find intra-cell pairs")
    // and the routed plan is the cluster join, not the G^2 grid tiles
    val plan = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.9, exactLimit = 0L).queryExecution.optimizedPlan.toString
    assert(plan.contains("cluster"), s"routed plan should join on cluster:\n$plan")
    assert(!plan.contains("bi#") && !plan.contains("bj#"),
      s"routed plan must not build block-pair grid tiles:\n$plan")
  }

  test("salted join is retry-safe: no nondeterministic expression in the plan") {
    import graft.ops.Skew
    import spark.implicits._
    val fact = spark.range(1000)
      .withColumn("k", when(col("id") % 10 < 9, lit(7L)).otherwise(col("id") % 100))
      .withColumn("v", col("id") * 3)
    val dim = (0L until 100L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val salted = Skew.saltedJoin(fact, dim, "k", salt = 8)
    // A nondeterministic salt (e.g. monotonically_increasing_id) re-salts
    // rows differently when a failed stage recomputes a subset — rows double
    // or vanish. Every expression in the plan must be deterministic.
    def nonDet(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
      p.expressions.filterNot(_.deterministic).map(_.sql) ++ p.children.flatMap(nonDet)
    val bad = nonDet(salted.queryExecution.optimizedPlan)
    assert(bad.isEmpty, s"nondeterministic expressions in salted join plan: $bad")
  }

  test("exact dedup and multimodal frame math") {
    import graft.ops.Multimodal
    val d = Dedup.exact(docs, Seq("text"))
    assert(d.count() == docs.select("text").distinct().count())
    val media = Multimodal.binarize(docs, "doc_id", col("text"), "text/plain")
    val frames = Multimodal.sampleFrames(media, "doc_id", frameBytes = 100)
    val total = frames.groupBy("doc_id").agg(sum("frame_size").as("s"))
      .join(media.select(col("doc_id"), col("meta.size").as("sz")), "doc_id")
    assert(total.filter(col("s") =!= col("sz")).count() == 0, "frames must cover payload exactly")
  }

  test("dedupClusters: connected components label every doc with its component minimum") {
    import spark.implicits._
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,12}; singletons 7, 20
    val docs = Seq(1L, 2L, 3L, 4L, 7L, 10L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 12L)).toDF("a", "b")
    val got = Dedup.dedupClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 10L -> 10L, 12L -> 10L, 20L -> 20L), s"got $got")
    // empty pair set: everything is its own cluster
    val solo = Dedup.dedupClusters(docs, "doc_id", pairs.limit(0))
      .filter(col("doc_id") =!= col("cluster")).count()
    assert(solo == 0)
  }

  test("dedupClusters: a changed hub whose candidate set dwarfs the frontier stays correct under a tiny broadcast cap") {
    import spark.implicits._
    // r15 ADVICE shape: after round 1 a SINGLE node (the hub) changes, but
    // its candidate set is all of its neighbors — frontier size 1, cand
    // size ~n. With broadcastMaxRows=4 the frontier qualifies for the
    // broadcast path while cand must NOT be broadcast (its count exceeds
    // the cap); the gate-on-cand's-own-count keeps the run on shuffle
    // joins and the labels still converge to the star minimum. The graph:
    // leaves 10..59 all pair with hub 100, and edge (100, 5) drags the
    // whole star down to 5 — the hub changes in round 2 (via 5), and its
    // 50 leaves become candidates of a 1-row frontier.
    val ids = (Seq(5L, 100L) ++ (10L until 60L)).toDF("doc_id")
    val pairs = (10L until 60L).map(l => (100L, l)).toDF("a", "b")
      .union(Seq((100L, 5L)).toDF("a", "b"))
    val got = Dedup.dedupClusters(ids, "doc_id", pairs, broadcastMaxRows = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 5L), s"star must collapse to 5: $got")
    assert(got.size == 52)
    // r18: the gate is a provable bound (frontier degree-sum + size) — the
    // hub's round must still have refused the broadcast (degree-sum 51 blows
    // the 4-row cap even at frontier size 1)
    assert(Dedup.lastCandBroadcasts.exists(_ == false),
      "the hub round must take the shuffle path under a 4-row cap")
  }

  test("dedupClusters: a hub changing MID-RUN, after broadcast rounds, forces the shuffle path") {
    import spark.implicits._
    // r17 verdict #2's demanded arm: under the old measure-then-arm
    // hysteresis, rounds 2-3 would have MEASURED small candidate sets and
    // armed a skip window; the hub's change then lands INSIDE that window
    // with a frontier of exactly 1 row — the old gate would have broadcast
    // the hub's 51-neighbor candidate set uncounted. The degree-sum bound
    // sees deg(hub)=51 in the same aggregate that detected the change and
    // refuses the broadcast BEFORE anything is built on the driver.
    // Graph: 0—120—150—hub(100), leaves 200..249 on the hub. The min label
    // 0 needs two relay rounds (120, then 150) before it can reach the hub,
    // so the hub first changes in round 3 and its leaves fan out in round 4.
    val ids = (Seq(0L, 100L, 120L, 150L) ++ (200L until 250L)).toDF("doc_id")
    val pairs = Seq((0L, 120L), (120L, 150L), (150L, 100L)).toDF("a", "b")
      .union((200L until 250L).map(l => (100L, l)).toDF("a", "b"))
    val got = Dedup.dedupClusters(ids, "doc_id", pairs, broadcastMaxRows = 30L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 0L), s"component must collapse to 0: $got")
    assert(got.size == 54)
    val bl = Dedup.lastCandBroadcasts
    // round 3 (index 2): frontier {150}, degSum 2 — broadcast; round 4
    // (index 3): frontier {hub}, size 1 but degSum 51 — MUST be shuffle
    assert(bl.length >= 4, s"expected >=4 rounds, got $bl")
    assert(bl(2), s"small mid-run round should broadcast: $bl")
    assert(!bl(3), s"the hub round (frontier=1, degSum=51) must NOT broadcast: $bl")
  }

  test("dedupApply keeps exactly the cluster-min doc per cluster plus singletons") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 7L, 10L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 12L)).toDF("a", "b")
    val kept = Dedup.dedupApply(docs, "doc_id", pairs).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 7L, 10L, 20L), s"kept ${kept.toSeq}")
  }

  test("dedupClusters: a 40-hop duplicate chain converges (pointer jumping), string ids work") {
    import spark.implicits._
    // plain one-hop propagation needs 40 rounds here and would silently
    // truncate at the 25-round cap; the label-of-label hop converges in
    // O(log n) rounds
    val chainDocs = (0L to 40L).toDF("doc_id")
    val chainPairs = (0L until 40L).map(i => (i + 1, i)).toDF("a", "b")
    val out = Dedup.dedupClusters(chainDocs, "doc_id", chainPairs)
    // the per-round lineage cut must keep the result's plan O(1) in rounds:
    // without it each round embeds 3 copies of the prior plan (~4^k nodes)
    // and deep chains OOM the driver rendering AQE explain strings
    val planNodes = out.queryExecution.logical.collect { case p => p }.size
    assert(planNodes < 20, s"dedupClusters result plan must be a leaf+projection, got $planNodes nodes")
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.forall(_ == 0L), s"chain must collapse to 0: $labels")
    // r18 degree-sum gate: every post-round-1 round of this low-degree
    // chain qualifies for the broadcast path
    val rounds = Dedup.lastClusterRounds.get()
    // r19 frontier path compression: once the whole chain is in the frontier,
    // its interior collapses in ONE round — plain one-hop propagation would
    // need 40 rounds (and trip the 25-round cap); compression lands in ~3
    // (round 0, the collapsing round, the empty-delta detection). The upper
    // bound is the regression tripwire now.
    assert(rounds >= 2 && rounds <= 6, s"pointer jumping shape changed? rounds=$rounds")
    assert(Dedup.lastCandBroadcasts.drop(1).forall(identity),
      s"chain rounds after round 1 should all broadcast: ${Dedup.lastCandBroadcasts}")
    // string ids: binary-min canonicalization, no silent long casts
    val sdocs = Seq("doc-b", "doc-a", "doc-z", "solo").toDF("doc_id")
    val spairs = Seq(("doc-b", "doc-a"), ("doc-z", "doc-b")).toDF("a", "b")
    val sgot = Dedup.dedupClusters(sdocs, "doc_id", spairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sgot == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-z" -> "doc-a", "solo" -> "solo"), s"got $sgot")
  }

  test("dedupClusters/dedupApply: stray pair ids absent from docs never become labels") {
    import spark.implicits._
    // r20 (r19 ADVICE, medium): a pair endpoint that is NOT a document must
    // not become a cluster's canonical label. The killer shape: stray id 0
    // is smaller than every real doc id, so if it leaked through the round-0
    // nbrMin fold it would label doc 10's cluster as 0 — and dedupApply
    // (drop everything whose id != cluster min) would then delete EVERY
    // member of that cluster, including the canonical survivor.
    val docs = Seq(10L, 20L, 30L, 40L).toDF("doc_id")
    val pairs = Seq(
      (10L, 0L),   // stray smaller than all doc ids (the data-loss shape)
      (20L, 10L),  // real pair
      (999L, 30L), // stray larger — must not link 30 to anything
      (0L, 999L)   // edge entirely outside docs
    ).toDF("a", "b")
    val got = Dedup.dedupClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 30L, 40L -> 40L), s"got $got")
    // end to end: exactly the non-canonical member of the one real pair drops
    val kept = Dedup.dedupApply(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 30L, 40L), s"kept $kept")
  }

  test("minhashPairs: maxBucket salting bounds bucket rows and preserves the exact pair set") {
    import spark.implicits._
    // mixed corpus: one degenerate 60-doc identical cluster (every band
    // bucket holds all 60 ids) + 40 distinct docs. maxBucket=16 forces the
    // salted two-level path for the hot buckets; the full output (pairs AND
    // jaccard values) must equal the default unsalted run's.
    val texts = (0 until 60).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog again and again")) ++
      (100 until 140).map(i => (i.toLong, s"unique document number $i with words w$i x$i y$i z$i q$i"))
    val df = texts.toDF("doc_id", "text")
    def run(mb: Int) = Dedup.minhashPairs(df, "doc_id", "text", maxBucket = mb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unsalted = run(-1)
    val salted = run(16)
    assert(salted == unsalted,
      s"salted pair set diverged: only-salted=${(salted diff unsalted).take(5)} " +
        s"only-unsalted=${(unsalted diff salted).take(5)}")
    assert(unsalted.count(p => p._1 < 60 && p._2 < 60) == 60 * 59 / 2,
      "identical cluster must pair completely")

    // degenerate-corpus arm: 1500 identical docs — the unsalted shape holds
    // all 1500 ids in ONE aggregation-buffer row per band bucket; with
    // maxBucket=128 every buffer row holds an expected ~1500/64 ids and the
    // exact C(1500,2) pair set still comes out.
    val big = (0 until 1500).map(i => (i.toLong, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))
      .toDF("doc_id", "text")
    val n = Dedup.minhashPairs(big, "doc_id", "text", maxBucket = 128).count()
    assert(n == 1500L * 1499 / 2, s"degenerate corpus must pair completely, got $n")

    // the salt scales with the bucket: 1500 ids under maxBucket=8 split into
    // ceil(2 x 1500/8) = 375 sub-buckets of ~4 ids, the largest stays under
    // 2 x maxBucket, and the pair set stays exact
    val sigs = spark.range(1500).select(lit(0).as("band"),
      array(lit(7L), lit(9L)).as("sig"), col("id").as("doc"))
    val (hot, sub) = Dedup.saltedBuckets(sigs, maxBucket = 8)
    assert(hot.select("ns").collect().map(_.getLong(0)).toSeq == Seq(375L))
    val subSizes = sub.select(size(col("ds"))).collect().map(_.getInt(0))
    assert(subSizes.sum == 1500 && subSizes.length > 300, s"${subSizes.length} sub-buckets")
    assert(subSizes.max <= 2 * 8, s"largest salted sub-bucket ${subSizes.max} > 2 x maxBucket")
    val n8 = Dedup.minhashPairs(big, "doc_id", "text", maxBucket = 8).count()
    assert(n8 == 1500L * 1499 / 2, s"degenerate corpus must pair completely at maxBucket=8, got $n8")
  }

  test("dedupClusters: overlay tail rounds run without full-frame rebuilds; pointer-in-degree overflow bails to dense") {
    import spark.implicits._
    // r22 delta-overlay: a converging chain's tail rounds must run as
    // driver-side overlay rounds (frontier <= gate), and the one bound the
    // gate cannot pre-fold — pointer IN-degree of a frontier node — must
    // bail to the dense machinery before any driver state mutates.
    // Shape: 61 leaves star onto hub 100 and settle on label 50 (the hub's
    // neighbor min) by round 1; the two-hop-removed node 50 has edge degree
    // 2, and a descending chain 90-85-80-75-10 hung off it keeps a tiny
    // frontier alive for the tail rounds (overlay territory), then drags 50
    // to 10 — the round after that has frontier {50} (size 1, degSum 2,
    // well under the gate) but 62 POINTER in-edges under a 12-row budget:
    // exactly the bound the gate cannot pre-fold, so the round must bail to
    // dense, still converging every label to 10.
    val leaves = (200L until 261L)
    val chain = Seq(90L, 85L, 80L, 75L, 10L)
    val ids = (leaves ++ Seq(100L, 50L) ++ chain).toDF("doc_id")
    val pairs = (leaves.map(l => (100L, l)) ++ Seq((100L, 50L), (50L, 90L)) ++
      chain.sliding(2).map(s => (s(0), s(1))).toSeq).toDF("a", "b")
    val got = Dedup.dedupClusters(ids, "doc_id", pairs, broadcastMaxRows = 12L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 10L), s"component must collapse to 10: $got")
    assert(got.size == 68)
    assert(Dedup.lastOverlayRounds.get() >= 1,
      s"tail rounds should have run as overlay rounds: ${Dedup.lastOverlayRounds.get()}")
    assert(Dedup.lastOverlayBails.get() >= 1,
      s"the 62-in-pointer round under a 12-row budget must bail: ${Dedup.lastOverlayBails.get()}")

    // default caps: a plain 40-hop chain's tail rounds all qualify for the
    // overlay (no bail), with labels identical to the dense result
    val chainDocs = (0L to 40L).toDF("doc_id")
    val chainPairs = (0L until 40L).map(i => (i + 1, i)).toDF("a", "b")
    val labels = Dedup.dedupClusters(chainDocs, "doc_id", chainPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.forall(_ == 0L), s"chain must collapse to 0: $labels")
    assert(Dedup.lastOverlayRounds.get() >= 1, "chain tail rounds should overlay")
    assert(Dedup.lastOverlayBails.get() == 0,
      s"low-degree chain must never bail: ${Dedup.lastOverlayBails.get()}")
  }

  test("dedupClusters: binary ids route to the dense rounds and label by Spark's byte order") {
    import spark.implicits._
    // the same 40-hop chain whose tail rounds overlay with long ids: binary
    // ids have no driver-side ordering, so every round must stay dense
    def bid(i: Int): Array[Byte] = Array(0x7f.toByte, i.toByte)
    val ids = (0 to 40).map(i => 200 + i)
    // a second component {5, 250}: 0xfa is negative as a signed byte, so only
    // Spark's unsigned byte order makes 5 its minimum
    val docs = (ids :+ 5 :+ 250).map(bid).toDF("doc_id")
    val pairs = (ids.sliding(2).map(s => (bid(s(1)), bid(s(0)))).toSeq :+ ((bid(250), bid(5))))
      .toDF("a", "b")
    val got = Dedup.dedupClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getAs[Array[Byte]](0).toSeq -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(got.size == 43)
    for (i <- ids) assert(got(bid(i).toSeq) == bid(200).toSeq, s"id $i -> ${got(bid(i).toSeq)}")
    assert(got(bid(250).toSeq) == bid(5).toSeq && got(bid(5).toSeq) == bid(5).toSeq)
    assert(Dedup.lastOverlayRounds.get() == 0, "binary ids must never enter the overlay")
  }

  test("dedupClusters fuzz: random graphs match a driver-side union-find oracle (seeded)") {
    import spark.implicits._
    // property guard over arbitrary topologies (the fixed-shape arms above
    // pin specific gate behaviors): sparse shuffled ids so component-min
    // semantics never coincide with index order, self-loops and duplicate
    // edges allowed, caps rotated so trials cross the broadcast/shuffle
    // gate both ways. Oracle: driver-side union-find with min-root merges
    // (the root of every set is its minimum by construction).
    val rnd = new scala.util.Random(19)
    for (trial <- 0 until 6) {
      val n = 30 + rnd.nextInt(170)
      val m = rnd.nextInt(2 * n) // 0..2n edges — includes edge-free trials
      val ids = rnd.shuffle((0 until 3 * n).toVector).take(n).map(_.toLong * 7 + 3)
      // r20: ~10% of endpoints are STRAY ids absent from docs (including ids
      // below every doc id) — the oracle ignores those edges, and so must the
      // engine (r19 ADVICE: a stray must never become a canonical label)
      def endpoint(): Long =
        if (rnd.nextInt(10) == 0) rnd.nextInt(3 * n).toLong * 7 + rnd.nextInt(7) - 5
        else ids(rnd.nextInt(n))
      val edges = Vector.fill(m)((endpoint(), endpoint()))
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      for ((a, b) <- edges if parent.contains(a) && parent.contains(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = ids.map(i => i -> find(i)).toMap
      val cap = Seq(4L, 32L, 2000000L)(trial % 3)
      val got = Dedup.dedupClusters(ids.toDF("doc_id"), "doc_id",
          edges.toDF("a", "b"), broadcastMaxRows = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"trial=$trial n=$n m=$m cap=$cap " +
        s"diff=${(got.toSet diff expect.toSet).take(5)}")
    }
  }

  test("kmeansInt8: Lloyd invariants — deterministic, in-range, nearest-centroid-consistent") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val a = Similarity.kmeansInt8(emb, "vec_id", "embedding", k = 8, iters = 2)
    val m1 = a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.unpersist()
    assert(m1.size == emb.count())
    assert(m1.values.forall(c => c >= 0 && c < 8))
    assert(m1.values.toSet.size > 1, "degenerate: everything in one cluster")
    // deterministic end to end (no RNG, no order dependence)
    val b = Similarity.kmeansInt8(emb, "vec_id", "embedding", k = 8, iters = 2)
    val m2 = b.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    b.unpersist()
    assert(m1 == m2)
    // brute-force check of the final assignment on a driver-side replay:
    // recompute quantized vectors + iteration-1 centroids in Scala and
    // confirm each row sits with its argmin centroid
    val u = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .select(col("vec_id"), transform(col("q"), x => (x + lit(127)).cast("long")).as("u"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val initIds = u.keys.toSeq.sorted.take(8)
    var cents = initIds.map(u).toArray
    def dist(x: Array[Long], c: Array[Long]): Long =
      x.zip(c).map { case (p, q) => (p - q) * (p - q) }.sum
    def assign(cs: Array[Array[Long]]): Map[Long, Int] =
      u.map { case (id, v) =>
        id -> cs.zipWithIndex.minBy { case (c, j) => (dist(v, c), j) }._2 }
    val a1 = assign(cents)
    val next = cents.map(_.clone)
    for (j <- 0 until 8) {
      val members = a1.collect { case (id, c) if c == j => u(id) }.toSeq
      if (members.nonEmpty)
        for (d <- next(j).indices)
          next(j)(d) = members.map(_(d)).sum / members.size
    }
    val truth = assign(next)
    assert(m1.forall { case (id, c) => truth(id) == c.toInt },
      s"mismatch sample: ${m1.find { case (id, c) => truth(id) != c.toInt }}")
  }

  test("kmeansInt8: empty clusters keep their centroids; identical vectors tie to cluster 0") {
    import spark.implicits._
    val same = (0L until 12L).map(i => (i, Array.fill(4)(0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.kmeansInt8(same, "vec_id", "embedding", k = 3, iters = 2)
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.unpersist()
    assert(m.values.forall(_ == 0L), s"ties must pick the smallest centroid id: $m")
  }

  test("semanticNearDupPairs == all-pairs near-dup restricted to a shared kmeans cluster") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val cl = Similarity.kmeansInt8(emb, "vec_id", "embedding", k = 8, iters = 2)
    val cm = cl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cl.unpersist()
    val want = Similarity.cosineNearDupPairsAllPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => cm(a) == cm(b) }.toSet
    val got = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4, k = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"extra=${(got diff want).take(3)} missing=${(want diff got).take(3)}")
    assert(got.nonEmpty, "fixture should produce at least one semantic pair")
  }

  test("substringOverlapProfile: planted shared sentence yields exactly its interior windows") {
    import spark.implicits._
    // A and B share an exact 10-token sentence S behind different 5-token
    // prefixes; with 8-token windows the shared spans are precisely the
    // 10-8+1 = 3 windows fully inside S (boundary windows differ by prefix)
    val sent = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, "pa pb pc pd pe " + sent),
      (2L, "qa qb qc qd qe " + sent),
      (3L, "totally unrelated words only here nothing shared at all")).toDF("doc_id", "text")
    val got = Dedup.substringOverlapProfile(docs, "doc_id", "text", windowTokens = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((8L, 3L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((8L, 3L)), s"doc2: ${got(2L)}")
    assert(got(3L)._2 == 0L, s"doc3: ${got(3L)}")
    // short doc (< window) and null text survive with zero windows
    val edge = Seq((4L, Some("one two three")), (5L, None)).toDF("doc_id", "text")
    val eg = Dedup.substringOverlapProfile(edge, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(eg == Map(4L -> 0L), s"null text drops, short doc keeps 0 windows: $eg")
  }
}
