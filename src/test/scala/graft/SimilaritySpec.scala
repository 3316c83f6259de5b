package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityOps

/** LSH ANN quality: recall@10 of sim_ann_lsh against the brute-force
  * oracle-checked baseline. Multi-table 4×4-bit hyperplane LSH probing a
  * single bucket per table — recall is not 1.0 by design; assert a floor. */
class SimilaritySpec extends AnyFunSuite {

  private def annRecall(sf: String): Double = {
    val spark = TestSpark.spark
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = SparkEntry.queries("sim_ann_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(brute.nonEmpty)
    val recall = (brute & ann).size.toDouble / brute.size
    info(f"$sf ann recall@10 = $recall%.3f (|brute|=${brute.size}, |ann|=${ann.size})")
    recall
  }

  test("ann lsh recall@10 >= 0.8 vs brute force on sf0.001") {
    assert(annRecall(TestSpark.Sf) >= 0.8,
      "recall below floor (8 tables × 4 bits, hamming-1 multiprobe)")
  }

  test("ann lsh recall@10 >= 0.8 vs brute force on sf0.01 (not a small-sample artifact)") {
    assert(annRecall("/root/testdata/sf0.01") >= 0.8,
      "recall below floor at sf0.01 (8 tables × 4 bits, hamming-1 multiprobe)")
  }

  /** hybrid = exact re-rank over the UNION of IVF and LSH candidates.
    * Dominance is a theorem, not a tuning outcome: with exact scores, a
    * true top-k member in the candidate set can only be displaced by
    * other true top-k members, so growing the candidate set never evicts
    * one — union recall >= each family's recall, always. The absolute
    * floor is the measured margin (0.99 / 0.985 at sf0.001 / sf0.01). */
  test("hybrid ANN recall@10 dominates both families and clears 0.95") {
    val spark = TestSpark.spark
    Seq(TestSpark.Sf, "/root/testdata/sf0.01").foreach { sf =>
      val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      def top(q: String): Set[(Long, Long)] = SparkEntry.queries(q)(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      def rec(s: Set[(Long, Long)]): Double = (brute & s).size.toDouble / brute.size
      val (ivf, lsh, hyb) = (rec(top("sim_ann_ivf")), rec(top("sim_ann_lsh")),
        rec(top("sim_ann_hybrid")))
      info(f"$sf recall@10: ivf=$ivf%.3f lsh=$lsh%.3f hybrid=$hyb%.3f")
      assert(hyb >= ivf && hyb >= lsh,
        s"$sf: hybrid recall $hyb below a component family ($ivf / $lsh)")
      assert(hyb >= 0.95, s"$sf: hybrid recall $hyb below the 0.95 floor")
    }
  }

  /** brute-force cosine near-dup pairs via the composed built-in form
    * (zip_with + aggregate), independent of the custom expressions */
  private def brutePairs(sf: String): Set[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dotSql = (x: String, y: String) =>
      s"aggregate(zip_with($x, $y, (p, q) -> p * q), 0D, (acc, p) -> acc + p)"
    e.select(col("vec_id").as("a"), col("v").as("va"))
      .join(e.select(col("vec_id").as("b"), col("v").as("vb")), col("a") < col("b"))
      .select(col("a"), col("b"),
        expr(s"round(${dotSql("va", "vb")} / (sqrt(${dotSql("va", "va")}) * sqrt(${dotSql("vb", "vb")})), 6)").as("sim6"))
      .filter(col("sim6") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("near-dup LSH output equals brute force exactly at sf0.001 and sf0.01") {
    val spark = TestSpark.spark
    Seq(TestSpark.Sf, "/root/testdata/sf0.01").foreach { sf =>
      val brute = brutePairs(sf)
      val lsh = SparkEntry.queries("sim_near_dup_pairs")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      info(s"$sf: |brute|=${brute.size}, |lsh|=${lsh.size}")
      assert(lsh == brute,
        s"$sf: LSH missed ${(brute -- lsh).size} pairs, invented ${(lsh -- brute).size}")
    }
  }

  test("near-dup LSH shape derives from the threshold with bounded miss probability") {
    import graft.operators.SimilarityOps
    val (t04, b04) = SimilarityOps.nearDupParams(0.4)
    val (t08, b08) = SimilarityOps.nearDupParams(0.8)
    // sharper threshold → wider tables (more bits), not more tables
    assert(b08 > b04, s"bits should grow with tau: $b04 -> $b08")
    for ((tau, t, b) <- Seq((0.4, t04, b04), (0.8, t08, b08))) {
      val p = SimilarityOps.pMatch(tau)
      val miss = math.pow(1 - math.pow(p, b), t)
      assert(miss <= 1e-5, f"tau=$tau (t=$t, b=$b): miss $miss%.2e above bound")
    }
    // n-aware shape: bits grow with the corpus so the orthogonal-noise
    // collision fraction 1-(1-2^-b)^t FALLS with scale (sub-quadratic
    // candidate growth), and the miss bound holds at every size
    def noiseFrac(t: Int, b: Int): Double = 1 - math.pow(1 - math.pow(0.5, b), t)
    val shapes = Seq(2000L, 20000L, 200000L).map { n =>
      val (t, b) = SimilarityOps.nearDupParams(0.8, n = n)
      val miss = math.pow(1 - math.pow(SimilarityOps.pMatch(0.8), b), t)
      assert(miss <= 1e-5, f"tau=0.8 n=$n (t=$t, b=$b): miss $miss%.2e above bound")
      assert(t <= SimilarityOps.MaxNearDupTables)
      (n, t, b, noiseFrac(t, b))
    }
    info(shapes.map { case (n, t, b, f) => f"n=$n: ${t}x${b}bit frac=$f%.3f" }.mkString("; "))
    shapes.sliding(2).foreach { case Seq((_, _, b1, f1), (n2, _, b2, f2)) =>
      assert(b2 >= b1, s"bits must not shrink with n (n=$n2)")
      assert(f2 < f1, s"noise-collision fraction must fall with n (n=$n2)")
    }
  }

  test("tau=0.8 buckets are sharper: fewer candidates than tau=0.4 on the same corpus") {
    import graft.operators.SimilarityOps
    val spark = TestSpark.spark
    val c04 = SimilarityOps.nearDupCandidates(spark, TestSpark.Sf, 0.4).count()
    val c08 = SimilarityOps.nearDupCandidates(spark, TestSpark.Sf, 0.8).count()
    info(s"candidates: tau=0.4 -> $c04, tau=0.8 -> $c08")
    assert(c04 > 0)
    assert(c08 < c04, s"expected 4-bit buckets to thin candidates: $c08 !< $c04")
    // and the multi-word first-match dedup really is exact: no pair twice
    val dup = SimilarityOps.nearDupCandidates(spark, TestSpark.Sf, 0.8)
      .groupBy("a", "b").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(dup == 0, s"$dup candidate pairs emitted at more than one table")
  }

  /** IVF recall: the demo corpus is near-orthogonal (no real cluster
    * structure), so recall can never beat the probed-list mass by much —
    * probing nprobe of 10 lists has a random-probe baseline of nprobe/10.
    * The measured sweep (the oracled sim_ann_nprobe_curve query): nprobe
    * 3 → 0.56, 6 → 0.81/0.84 (sf0.001/sf0.01), always ~0.2 above the random baseline — the margin
    * the learned Lloyd codebook contributes. IvfProbes=6 holds the 0.8
    * production floor; the floor here pins both it and the margin. */
  test("ann ivf recall@10 >= 0.8 vs brute force at the swept IvfProbes") {
    val spark = TestSpark.spark
    Seq(TestSpark.Sf, "/root/testdata/sf0.01").foreach { sf =>
      val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val ivf = SparkEntry.queries("sim_ann_ivf")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = (brute & ivf).size.toDouble / brute.size
      info(f"$sf ivf recall@10 = $recall%.3f")
      assert(recall >= 0.8, s"$sf: IVF recall $recall below the 0.8 floor")
      // and the codebook must beat the random-probe baseline: the sweep's
      // structure margin, not just probed-list mass
      val baseline = SimilarityOps.IvfProbes.toDouble / SimilarityOps.KmeansK
      assert(recall > baseline + 0.1,
        s"$sf: recall $recall within noise of the $baseline random-probe baseline")
    }
  }

  /** The PRODUCTION-shape floor: sim_ann_ivf_scaled is the benched index
    * (K ≈ n/occupancy, md5-sample init + Lloyd rounds), so the quality
    * bound advertised round-over-round must be pinned on THAT shape, not
    * only the fixed-K demo. Measured: 0.81 (sf0.001) / 0.87 (sf0.01) at
    * the swept IvfProbes=6 — the Lloyd rounds are what hold the floor
    * (the un-refined md5 sample measured 0.75/0.71). */
  test("scaled ann ivf recall@10 >= 0.8 vs brute force at the swept IvfProbes") {
    val spark = TestSpark.spark
    Seq(TestSpark.Sf, "/root/testdata/sf0.01").foreach { sf =>
      val perQuery = SparkEntry.queries("sim_ann_recall_scaled")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val recall = perQuery.map(_._2).sum.toDouble /
        (perQuery.length * SimilarityOps.TopK)
      info(f"$sf scaled ivf recall@10 = $recall%.3f")
      assert(recall >= 0.8, s"$sf: scaled IVF recall $recall below the 0.8 floor")
      // K = ceil(n/occupancy) = 10 at both these sfs, so the random-probe
      // baseline is IvfProbes/K — the codebook must beat probed-list mass
      val k = math.max(2, math.ceil(
        graft.Tables.table(spark, sf, "embeddings").count().toDouble /
          SimilarityOps.ScaledAnnOccupancy).toInt)
      val baseline = math.min(1.0, SimilarityOps.IvfProbes.toDouble / k)
      assert(recall > baseline + 0.1,
        s"$sf: recall $recall within noise of the $baseline random-probe baseline")
    }
  }

  test("cosine threshold sweep is monotone and agrees with sim_near_dup_pairs at 0.4") {
    val spark = TestSpark.spark
    val sweep = SparkEntry.queries("sim_cos_threshold_sweep")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // tightening the cut can only drop pairs (absent levels = zero pairs)
    val lv = Seq(30L, 35L, 40L, 45L, 50L)
    lv.init.zip(lv.tail).foreach { case (a, b) =>
      assert(sweep.getOrElse(a, 0L) >= sweep.getOrElse(b, 0L),
        s"sweep not monotone at tau=$a: $sweep")
    }
    val atDefault = SparkEntry.queries("sim_near_dup_pairs")(spark, TestSpark.Sf).count()
    assert(sweep.getOrElse(40L, 0L) == atDefault,
      s"sweep(40)=${sweep.getOrElse(40L, 0L)} != sim_near_dup_pairs=$atDefault")
  }

  test("nprobe curve is monotone and its IvfProbes point equals sim_ann_recall's total") {
    val spark = TestSpark.spark
    val curve = SparkEntry.queries("sim_ann_nprobe_curve")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(curve.keySet == SimilarityOps.NprobeLevels.map(_.toLong).toSet)
    // more probed lists = a candidate SUPERSET, and the exact re-rank of a
    // superset can only move the top-k closer to the brute-force truth
    // (any candidate that displaces one from the smaller set has higher
    // exact similarity, i.e. is at least as likely a true neighbor — and
    // the true top-k itself is fully contained once its lists are probed),
    // so the aggregate hit count is non-decreasing in nprobe
    val lv = SimilarityOps.NprobeLevels.map(_.toLong)
    lv.init.zip(lv.tail).foreach { case (a, b) =>
      assert(curve(a) <= curve(b), s"aggregate recall dropped $a -> $b: $curve")
    }
    // the IvfProbes point of the curve must agree exactly with the
    // per-query evaluation row summed — same index, same truth
    val perQuery = SparkEntry.queries("sim_ann_recall")(spark, TestSpark.Sf)
      .collect().map(_.getLong(1)).sum
    assert(curve(SimilarityOps.IvfProbes.toLong) == perQuery,
      s"curve(${SimilarityOps.IvfProbes}) = ${curve(SimilarityOps.IvfProbes.toLong)}" +
        s" != sum(sim_ann_recall.n_hit) = $perQuery")
  }

  /** Scaled-K IVF recall: candidates per query are ~nprobe·occupancy by
    * construction, so on the near-orthogonal demo corpus recall tracks
    * the probed mass (nprobe·occupancy/n) — at the oracle sfs (n=500,
    * K=10) the probed mass is 0.6 and the sampled quantizer lands near
    * it. Measured: 0.75 (sf0.001) / 0.71 (sf0.01) — ~0.1 above the 0.6
    * probed mass, the structure even a sampled quantizer finds. The floor
    * pins that the production shape stays a working index at the driver's
    * correctness sfs; the flat-candidate decade evidence lives in
    * SCALING.md. */
  test("scaled-K ivf recall@10 >= 0.6 at the oracle sfs; candidates stay ~nprobe*occupancy") {
    val spark = TestSpark.spark
    Seq(TestSpark.Sf, "/root/testdata/sf0.01").foreach { sf =>
      val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val scaled = SparkEntry.queries("sim_ann_ivf_scaled")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = (brute & scaled).size.toDouble / brute.size
      info(f"$sf scaled ivf recall@10 = $recall%.3f")
      assert(recall >= 0.6, s"$sf: scaled IVF recall $recall below the 0.6 floor")
    }
  }

  test("int8 quantization round-trips within one quantization step per component") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val e = Tables.embeddings(spark, TestSpark.Sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
      .withColumn("mx", array_max(transform(col("ed"), x => abs(x))))
      .withColumn("q", transform(col("ed"),
        x => floor(x * lit(127) / col("mx")).cast("long")))
    // every |q_i| ≤ 127 and dequantized q_i·mx/127 is within one step of x_i
    val bad = e.select(col("vec_id"),
        expr("exists(q, v -> abs(v) > 127)").as("overflow"),
        expr("exists(zip_with(q, ed, (v, x) -> abs(v * mx / 127 - x) > mx / 127 + 1e-12), b -> b)")
          .as("offgrid"))
      .filter(col("overflow") || col("offgrid")).count()
    assert(bad == 0)
  }

  test("top-1 neighbor similarity is sane (cosine in [-1, 1], high for near-dups)") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("sim_cosine_topk")(spark, TestSpark.Sf).collect()
    rows.foreach { r =>
      val sim = r.getDouble(3)
      assert(sim >= -1.000001 && sim <= 1.000001)
    }
  }

  test("kmeans clusters cover every vector, use several clusters, and match the codebook argmin") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("sim_kmeans_clusters")(spark, TestSpark.Sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val n = Tables.embeddings(spark, TestSpark.Sf).count()
    assert(rows.size.toLong == n, "one assignment per vector")
    assert(rows.values.forall(c => c >= 0 && c < SimilarityOps.KmeansK))
    // Lloyd rounds balance the lists — the corpus spreads over most clusters
    assert(rows.values.toSet.size > SimilarityOps.KmeansK / 2)
    // independent recompute: nearest centroid by exact integer distance on
    // 1e6-quantized components, ties to the lower cluster id
    val cents = SimilarityOps.kmeansCodebook(spark, TestSpark.Sf)
    val vecs = Tables.embeddings(spark, TestSpark.Sf)
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    vecs.foreach { case (vid, xq) =>
      val best = cents.zipWithIndex.map { case (c, k) =>
        val n2 = c.map(x => x * x).sum
        val dp = c.zip(xq).map { case (x, q) => x * q }.sum
        (n2 - 2 * dp, k)
      }.min._2
      assert(rows(vid) == best, s"vec $vid: assigned ${rows(vid)}, argmin $best")
    }
  }

  /** SemDeDup output invariants + an independent driver recompute:
    * brute-force within-cluster cosines (using the OUTPUT's own cluster
    * column) + union-find must land on exactly the reported groups. */
  private def checkSemDedup(rows: Array[(Long, Int, Long, Int)]): Unit = {
    val spark = TestSpark.spark
    val n = Tables.embeddings(spark, TestSpark.Sf).count()
    assert(rows.length.toLong == n, "one verdict per vector")
    rows.groupBy(_._3).foreach { case (g, ms) =>
      assert(ms.map(_._1).min == g, "group label is the min member id")
      assert(ms.count(_._4 == 1) == 1 && ms.find(_._4 == 1).get._1 == g,
        "exactly the min member is kept")
      // edges exist only within a cluster, so no group crosses clusters
      assert(ms.map(_._2).toSet.size == 1, s"group $g crosses clusters")
    }
    val vecs = Tables.embeddings(spark, TestSpark.Sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cluster = rows.map(r => r._1 -> r._2).toMap
    val parent = scala.collection.mutable.Map(vecs.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val ids = vecs.keys.toSeq.sorted
    for { i <- ids; j <- ids if i < j && cluster(i) == cluster(j) } {
      val sim = BigDecimal(
        dotA(vecs(i), vecs(j)) /
          (math.sqrt(dotA(vecs(i), vecs(i))) * math.sqrt(dotA(vecs(j), vecs(j)))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (sim >= SimilarityOps.NearDupThreshold) {
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
      }
    }
    rows.foreach { case (v, _, g, _) =>
      assert(find(v) == g, s"vec $v: grp $g, recomputed ${find(v)}")
    }
  }

  test("semdedup keeps exactly one representative per within-cluster duplicate group") {
    val rows = SparkEntry.queries("sim_semdedup")(TestSpark.spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    checkSemDedup(rows)
  }

  test("scaled semdedup sizes K from the corpus and holds the same invariants") {
    val spark = TestSpark.spark
    val n = Tables.embeddings(spark, TestSpark.Sf).count()
    val occ = 25
    val k = math.max(2, math.ceil(n.toDouble / occ).toInt)
    val rows = SimilarityOps.semDedupScaled(spark, TestSpark.Sf, targetOccupancy = occ)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    checkSemDedup(rows)
    val clusters = rows.map(_._2).toSet
    assert(clusters.forall(c => c >= 0 && c < k), s"cluster id out of range 0..${k - 1}")
    // the sampled Lloyd rounds balance the lists: most of the K clusters
    // are actually used, and K tracked the corpus (n/occ > the fixed demo K)
    assert(k > SimilarityOps.KmeansK, "test corpus should force K beyond the demo codebook")
    assert(clusters.size > k / 2, s"only ${clusters.size} of $k clusters used")
  }

  /** recall@10 of a registered ANN query against the brute-force cosine
    * baseline (same harness as annRecall, parameterized by query name) */
  private def recallOf(name: String, sf: String): Double = {
    val spark = TestSpark.spark
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = SparkEntry.queries(name)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(brute.nonEmpty)
    val recall = (brute & ann).size.toDouble / brute.size
    info(f"$sf $name recall@10 = $recall%.3f")
    recall
  }

  test("ivfpq: refined (ADC shortlist + exact re-rank) clears 0.78 and dominates pure ADC") {
    // near-orthogonal random corpus = PQ's worst case; measured 0.805 /
    // 0.835 refined vs 0.45 / 0.43 pure-ADC (sf0.001 / sf0.01) against
    // the 0.84 nprobe=6 IVF ceiling — floors leave headroom for rounding
    Seq(TestSpark.Sf, "/root/testdata/sf0.01").foreach { sf =>
      val adc = recallOf("sim_ann_ivfpq", sf)
      val refined = recallOf("sim_ann_ivfpq_r", sf)
      assert(adc >= 0.35, s"pure-ADC recall collapsed at $sf")
      assert(refined >= 0.78, s"refined recall below floor at $sf")
      assert(refined >= adc, s"exact re-rank of the ADC shortlist lost recall at $sf")
    }
  }

  test("pq codes are in range and the compressed index is one row per vector") {
    val spark = TestSpark.spark
    val codes = operators.PqOps.pqEncode(spark, TestSpark.Sf).collect()
    val n = Tables.embeddings(spark, TestSpark.Sf).count()
    assert(codes.length == n)
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == operators.PqOps.NumSub)
      assert(cs.forall(c => c >= 0 && c < operators.PqOps.SubK),
        s"code out of range for vec ${r.getLong(0)}: $cs")
    }
  }

  test("ivfpq ADC scan joins the tiny distance table via broadcast, never all-pairs") {
    val df = SparkEntry.queries("sim_ann_ivfpq")(TestSpark.spark, TestSpark.Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"ADC lookup join lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ degenerated to all-pairs:\n$p")
  }

  test("sim_quant_recall: one row per query, int8 search stays calibrated") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = SparkEntry.queries("sim_quant_recall")(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 20, "one recall row per query")
    rows.foreach { case (_, nHit, pct) =>
      assert(nHit >= 0 && nHit <= 10 && pct == nHit * 100 / 10)
    }
    val mean = rows.map(_._3).sum / rows.length
    assert(mean >= 70, s"int8 brute-force mean recall $mean% — quantization broke ranking")
  }

  test("sim_knn_classify: votes replay from the brute-force neighbors + labels") {
    val spark = TestSpark.spark
    import graft.operators.SimilarityOps
    val labels = Tables.embeddings(spark, TestSpark.Sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val nbrs = SimilarityOps.bruteForce(spark, TestSpark.Sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = nbrs.groupBy(_._1).map { case (q, ns) =>
      val votes = ns.map(n => labels(n._2)).groupBy(identity)
        .map { case (l, xs) => (l, xs.length.toLong) }
      val (pl, pn) = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
      q -> ((labels(q), pl, pn, pl == labels(q)))
    }
    val got = SparkEntry.queries("sim_knn_classify")(spark, TestSpark.Sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == expect, "kNN vote table drifted from the neighbor replay")
  }
}
