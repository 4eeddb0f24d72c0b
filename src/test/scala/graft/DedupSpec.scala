package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.Dedup
import graft.expr.{SimHash64, TextFunctions}

/** Dedup-stack contracts: shingle construction, MinHash signature
  * behavior vs true Jaccard, LSH candidate quality, SimHash stability —
  * the non-oracle-able halves of q50-q56.
  */
class DedupSpec extends AnyFunSuite with SparkTestBase {

  test("shingles: sliding n-grams, short docs → empty") {
    val s = spark
    import s.implicits._
    val out = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.shingles(TextFunctions.tokens(col("text")), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq.empty)
  }

  test("shingle count property: max(0, L - n + 1) for L >= n") {
    val toks = Gen.choose(0, 12).flatMap(l => Gen.listOfN(l, Gen.alphaLowerStr.suchThat(_.nonEmpty)))
    val prop = Prop.forAll(toks) { ts =>
      val s = spark
      import s.implicits._
      val n = Seq(ts.mkString(" ")).toDF("text")
        .select(size(Dedup.shingles(TextFunctions.tokens(col("text")), 3)).as("n"))
        .collect()(0).getInt(0)
      n == math.max(0, ts.length - 3 + 1)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop).passed)
  }

  test("exact dedup stats are self-consistent") {
    val r = Dedup.exactDedupStats(spark, sf).collect()(0)
    val (n, distinct, dups) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n == distinct + dups)
    assert(distinct <= n && distinct > 0)
  }

  test("minhash signatures: full length, in-domain, and equal for identical content") {
    val sigs = Dedup.minhashSignatures(spark, sf)
    val bad = sigs.filter(
      size(col("signature")) =!= Dedup.numHashes ||
        exists(col("signature"), v => v < 0L || v >= lit(4294967311L))).count()
    assert(bad == 0)
    // docs with identical text must have identical signatures
    val fp = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val nDistinctPairs = sigs.join(fp, "doc_id")
      .groupBy("fp").agg(countDistinct("signature").as("nsig"))
      .filter(col("nsig") > 1).count()
    assert(nDistinctPairs == 0)
  }

  test("LSH candidates include every exact-duplicate pair (est_jaccard = 1)") {
    val s = spark
    import s.implicits._
    val fp = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val dupPairs = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val missed = dupPairs.join(
      Dedup.lshCandidates(spark, sf).filter(col("est_jaccard") === 1.0),
      Seq("doc_a", "doc_b"), "left_anti").count()
    assert(missed == 0)
  }

  test("simhash: deterministic, equal for equal token arrays, hamming(x,x)=0") {
    val s = spark
    import s.implicits._
    val df = Seq("spark shuffle join engine", "spark shuffle join engine", "totally different words here")
      .toDF("text")
      .select(SimHash64(TextFunctions.tokens(col("text"))).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2)) // astronomically unlikely to collide
    val hd = Seq((hs(0), hs(0))).toDF("a", "b")
      .select(SimHash64.hamming(col("a"), col("b")).as("d")).collect()(0)
    assert(hd.getInt(0) == 0)
  }

  test("simhash pairs on near-identical docs have small hamming distance") {
    val s = spark
    import s.implicits._
    // one-token edit on a 12-token doc → most weighted bits agree
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val edited = "the quick brown fox jumps over the lazy cat near the river"
    val hs = Seq(base, edited).toDF("text")
      .select(SimHash64(TextFunctions.tokens(col("text"))).as("h"))
      .collect().map(_.getLong(0))
    val hamming = java.lang.Long.bitCount(hs(0) ^ hs(1))
    assert(hamming <= 16, s"near-dup hamming was $hamming")
  }

  test("simhash128: low half is bit-identical to SimHash64 on the corpus; " +
      "high half is independent") {
    val sigs = Tables.documents(spark, sf)
      .select(
        SimHash64(TextFunctions.filteredTokens(col("text"))).as("h64"),
        graft.expr.SimHash128(TextFunctions.filteredTokens(col("text")))
          .as("h128"))
      .collect()
    assert(sigs.nonEmpty)
    sigs.foreach { r =>
      val s = r.getSeq[Long](1)
      assert(s.length == 2)
      assert(s(0) == r.getLong(0), "lo half must equal SimHash64 (seed 42)")
    }
    // the high halves are not a copy of the low halves
    assert(sigs.exists(r => r.getSeq[Long](1)(1) != r.getLong(0)))
  }

  test("q304 simhash128 pairs: banded join reproduces the brute-force " +
      "candidate∧verify relation; pigeonhole radius holds") {
    val s = spark
    import s.implicits._
    // 30 base docs of 14 distinct tokens + per-doc near/far edits: the
    // near edits keep Hamming(lo) small (pairs the contract must emit),
    // the far docs share nothing. Brute force recomputes the SAME
    // relation from the signatures alone: pairs where some 32-bit band
    // of the 128-bit signature collides AND hamming(lo) <= 3 — the
    // operator's exact output contract (bands are the candidate
    // generator; within a controlled corpus every accepted pair must
    // also band-collide somewhere, so the sets coincide).
    val base = (1 to 14).map(i => s"tok$i")
    val docs = (0L until 30L).map { i =>
      val t =
        if (i % 3 == 0) base
        else if (i % 3 == 1) base.updated(13, s"edit$i")
        else (1 to 14).map(j => s"far${i}_$j")
      (i, t.mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.simhash128PairsCore(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val sigs = docs.select(col("doc_id"),
        graft.expr.SimHash128(TextFunctions.filteredTokens(col("text")))
          .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def bands(sg: Seq[Long]): Seq[Long] =
      Seq(sg(0) & 0xFFFFFFFFL, sg(0) >>> 32, sg(1) & 0xFFFFFFFFL, sg(1) >>> 32)
    val ids = sigs.keys.toSeq.sorted
    val brute = for {
      a <- ids; b <- ids if a < b
      (sa, sb) = (sigs(a), sigs(b))
      if bands(sa).zip(bands(sb)).exists(p => p._1 == p._2)
      h = java.lang.Long.bitCount(sa(0) ^ sb(0)).toLong
      if h <= 3
    } yield (a, b, h,
      h + java.lang.Long.bitCount(sa(1) ^ sb(1)).toLong)
    assert(got == brute, s"got ${got.size} pairs vs brute ${brute.size}")
    assert(brute.nonEmpty, "fixture must actually exercise the emit path")
    // pigeonhole witness: every identical-doc pair (hamming128 = 0)
    // and every h128 <= 3 pair is present — the guarantee radius
    val guaranteed = for {
      a <- ids; b <- ids if a < b
      (sa, sb) = (sigs(a), sigs(b))
      if (java.lang.Long.bitCount(sa(0) ^ sb(0)) +
        java.lang.Long.bitCount(sa(1) ^ sb(1))) <= 3
    } yield (a, b)
    assert(guaranteed.forall(p => got.exists(g => (g._1, g._2) == p)))
  }

  test("q304 Manku-blocked pairs are SET-EQUAL to q56's banded pairs on " +
      "the corpus: two complete radius-3 generators, one relation") {
    val q56 = Dedup.simhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val q304 = Dedup.simhashBlockedPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(q304 == q56, s"q304 ${q304.size} pairs vs q56 ${q56.size}")
    assert(q56.nonEmpty, "corpus must exercise the emit path")
  }

  test("q304 blocked pairs: pigeonhole completeness on planted flips — " +
      "every Hamming<=3 pair emitted, block arithmetic covers all 64 bits") {
    // block layout sanity: 6 contiguous blocks, 64 bits, no overlap
    assert(Dedup.mankuBlocks.map(_._2).sum == 64)
    assert(Dedup.mankuBlocks.zip(Dedup.mankuBlocks.tail).forall {
      case ((o1, w1), (o2, _)) => o1 + w1 == o2 })
    assert(Dedup.mankuCombos.size == 20)
    val s = spark
    import s.implicits._
    // 40 docs in 8 groups of near-identical token lists (one-token
    // edits) → brute-force replica of the contract from the signatures
    val docs = (0L until 40L).map { i =>
      val g = i / 5
      val t = (1 to 16).map(j => s"g${g}tok$j")
        .updated((i % 5).toInt, s"g${g}edit$i")
      (i, t.mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.simhashBlockedPairsCore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val sigs = docs.select(col("doc_id"),
        SimHash64(TextFunctions.filteredTokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sigs.keys.toSeq.sorted
    val brute = for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)).toLong
      if h <= 3
    } yield (a, b, h)
    // completeness is STRUCTURAL for h<=3 (and the generator emits
    // nothing beyond the verify filter), so the relation is exact
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
    assert(brute.nonEmpty, "fixture must plant Hamming<=3 pairs")
  }

  test("q308 containment pairs: catches a doc embedded in a larger one " +
      "that Jaccard structurally misses") {
    val s = spark
    import s.implicits._
    val small = (1 to 20).map(i => s"emb$i")
    val big = small ++ (1 to 40).map(i => s"tail$i")
    val other = (1 to 20).map(i => s"other$i")
    val docs = Seq(
      (1L, small.mkString(" ")),   // fully embedded as 2's prefix
      (2L, big.mkString(" ")),
      (3L, other.mkString(" ")))   // unrelated
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val got = Dedup.containmentPairsCore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // A has 18 shingles, all shared; B has 58; containment of the
    // smaller = 1.0, Jaccard = 18/58 — q52's 0.8 gate never sees it
    assert(got == Seq((1L, 2L, 18L, 18L, 58L, 1000000L,
      18L * 1000000L / 58L)))
    assert(Dedup.jaccardPairsCore(docs).count() == 0,
      "the fixture must be invisible to symmetric Jaccard")
  }

  test("q310 canonical pick: the quality winner beats the min-id label, " +
      "ties fall back to id") {
    val s = spark
    import s.implicits._
    // exact trio (1,2,3): identical 20-token texts, all fail the
    // Gopher word-count gate → keep=false ties, id breaks → pick 1
    val trio = (1 to 20).map(i => s"alpha$i").mkString(" ")
    // near pair (10, 11): 11 = 10 + four tail words; shingle Jaccard
    // 46/50 = 0.92 ≥ 0.8 → one cluster; 10 has 48 words (fails the
    // ≥50 gate), 11 has 52 (passes all gates) → the pick must be 11,
    // not the min-id 10
    val a = (Seq("the", "and") ++ (1 to 46).map(i => f"word$i%03d"))
    val b = a ++ (1 to 4).map(i => s"tail$i")
    val docs = Seq(
      (1L, trio), (2L, trio), (3L, trio),
      (10L, a.mkString(" ")), (11L, b.mkString(" ")))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .select("doc_id", "lang", "text")
    val got = Dedup.clusterCanonicalPickCore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(got == Seq(
      (1L, 1L, 3L, false, 20L, false),
      (10L, 11L, 2L, true, 52L, true)))
  }

  test("jaccard pairs: all results within [minJaccard, 1]") {
    val bad = Dedup.jaccardPairs(spark, sf)
      .filter(col("jaccard") < Dedup.minJaccard || col("jaccard") > 1.0).count()
    assert(bad == 0)
  }

  test("dedup clusters: exact trio and transitive near-dup chain each form " +
      "one cluster, uniques are absent") {
    val s = spark
    import s.implicits._
    val aTok = (1 to 20).map(i => s"alpha$i")
    val bTok = (1 to 20).map(i => s"beta$i")
    val docs = Seq(
      (1L, aTok.mkString(" ")),                              // exact trio
      (2L, aTok.mkString(" ")),
      (3L, aTok.mkString(" ")),
      (4L, bTok.mkString(" ")),                              // near chain:
      (5L, bTok.updated(19, "edit5").mkString(" ")),         // 4~5, 5~6 (and
      (6L, bTok.updated(19, "edit5").updated(0, "edit6").mkString(" ")), // 4~6)
      (7L, (1 to 20).map(i => s"gamma$i").mkString(" ")))    // unique
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("graft_clusters_") { tmp =>
      val dir = tmp.toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = Dedup.dedupClusters(spark, dir).collect()
      assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
        Seq((1L, "1,2,3", 3L), (4L, "4,5,6", 3L)))
    }
  }

  test("q330 md5-simhash signatures: bit-exact vs a plain-Scala " +
      "sign-sum replica on the corpus (tf-weighted, the one bit " +
      "formula), halves stay in 32 bits") {
    val replica = Tables.spread(Tables.documents(spark, sf))
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
      .flatMap { case (id, text) =>
        val toks = text.split(" ").filter(w => w.nonEmpty && w.length > 1 &&
          !w.forall(c => c >= '0' && c <= '9') &&
          !TextFunctions.stopwords.contains(w))
        if (toks.isEmpty) None
        else {
          val sums = new Array[Long](64)
          toks.groupBy(identity).foreach { case (w, occ) =>
            val c = occ.length.toLong
            val hex = java.security.MessageDigest.getInstance("MD5")
              .digest(w.getBytes("UTF-8")).take(8)
              .map(b => f"$b%02x").mkString
            for (b <- 0 until 64) {
              val nib = Integer.parseInt(hex.charAt(b / 4).toString, 16)
              if (((nib >> (b % 4)) & 1) == 1) sums(b) += c else sums(b) -= c
            }
          }
          val lo = (0 until 32).map(b =>
            if (sums(b) > 0) 1L << b else 0L).sum
          val hi = (32 until 64).map(b =>
            if (sums(b) > 0) 1L << (b - 32) else 0L).sum
          Some((id, hi, lo))
        }
      }.sortBy(_._1).toSeq
    val got = Dedup.queries("q330_simhash_md5")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == replica)
    assert(got.forall { case (_, hi, lo) =>
      hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32) })
  }

  test("q331 md5-simhash pairs: banded join is SET-EQUAL to brute-force " +
      "Hamming <= 3 over the q330 signatures (pigeonhole completeness), " +
      "exactly-once emission, non-vacuous beyond exact dups") {
    val sigs = Dedup.queries("q330_simhash_md5")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val brute = (for {
      (a, ahi, alo) <- sigs; (b, bhi, blo) <- sigs if a < b
      h = java.lang.Long.bitCount(ahi ^ bhi) + java.lang.Long.bitCount(alo ^ blo)
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.queries("q331_simhash_md5_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.toSet == brute)
    assert(got.size == got.distinct.size && got.size == brute.size,
      "a pair emitted more than once — first-colliding-band broke")
    assert(got.exists(_._3 > 0L),
      "only Hamming-0 pairs at this sf — the near-dup regime is vacuous")
  }

  test("q333 md5-minhash signatures: bit-exact vs a plain-Scala " +
      "per-register min replica on the corpus (distinct shingles, the " +
      "one group-sliced register-hash formula)") {
    // register r = 32-bit slice (r mod 4) of md5("r div 4:shingle")
    def regHash(r: Int, sh: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${r / 4}:$sh".getBytes("UTF-8"))
      val hex = d.map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring((r % 4) * 8, (r % 4) * 8 + 8), 16)
    }
    val replica = Tables.spread(Tables.documents(spark, sf))
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
      .flatMap { case (id, text) =>
        val ws = text.split(" ").filter(_.nonEmpty)
        val shs = (if (ws.length < 3) Seq.empty[String]
                   else ws.sliding(3).map(_.mkString(" ")).toSeq).distinct
        if (shs.isEmpty) Seq.empty
        else (0 until Dedup.minhashMd5K).map { r =>
          (id, r.toLong, shs.map(sh => regHash(r, sh)).min)
        }
      }.sortBy(t => (t._1, t._2)).toSeq
    val got = Dedup.queries("q333_minhash_md5")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == replica)
  }

  test("q334 md5-minhash candidates: equals the brute-force shared-band " +
      "relation over the q333 signatures, exactly-once, est_ppm exact") {
    val sigs = Dedup.queries("q333_minhash_md5")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2))).toSeq
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toVector).toMap
    val k = Dedup.minhashMd5K
    val rpb = k / Dedup.minhashMd5Bands
    val ids = sigs.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      sa = sigs(a); sb = sigs(b)
      if (0 until Dedup.minhashMd5Bands).exists(band =>
        (band * rpb until (band + 1) * rpb).forall(i => sa(i) == sb(i)))
      nEq = (0 until k).count(i => sa(i) == sb(i)).toLong
      if nEq * 1000000L / k >= 500000L
    } yield (a, b, nEq, nEq * 1000000L / k)).toSet
    val got = Dedup.queries("q334_minhash_md5_candidates")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.toSet == brute)
    assert(got.size == got.distinct.size && got.size == brute.size,
      "a pair emitted more than once — first-colliding-band broke")
    assert(got.nonEmpty, "no candidates at this sf — the gate is vacuous")
  }

  test("q313 clusters with simhash edges: union-find replica over the " +
      "three pair sets, coarsening law vs q57") {
    // replica: collect the SAME three pair relations the engine feeds
    // GraphX, then cluster them with an independent plain-Scala
    // union-find — what's under test is the composed clustering, the
    // pair generators carry their own gates (q50/q52 oracles, q304
    // set-equality)
    val docs = graft.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
    val fpPairs = docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).values.filter(_.length > 1)
      .flatMap { g => val m = g.map(_._1).min
        g.map(_._1).filter(_ != m).map(b => (m, b)) }.toSeq
    val nearPairs = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val shPairs = Dedup.simhashBlockedPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (fpPairs ++ nearPairs ++ shPairs).foreach { case (a, b) => union(a, b) }
    val members = parent.keys.toSeq.groupBy(find).map { case (_, ms) =>
      val sorted = ms.sorted
      (sorted.head, sorted.mkString(","), sorted.length.toLong)
    }.toSeq.sortBy(_._1)
    val got = Dedup.queries("q313_dedup_clusters_simhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === members, s"engine $got vs replica $members")
    // coarsening law: extra edges only MERGE components — every
    // oracle-gated q57 cluster must land inside exactly one q313
    // cluster
    val q313Of = got.flatMap { case (rep, ms, _) =>
      ms.split(",").map(_.toLong -> rep) }.toMap
    Dedup.dedupClusters(spark, sf).collect().foreach { r =>
      val ms = r.getString(1).split(",").map(_.toLong)
      assert(ms.map(q313Of).distinct.length == 1,
        s"q57 cluster ${r.getLong(0)} straddles q313 clusters")
    }
  }

  test("q336 three-regime clusters (md5-simhash edges): union-find " +
      "replica over the three pair sets, coarsening law vs q57") {
    // the q313 spec's discipline applied to the ORACLE-GATED variant:
    // same exact/Jaccard sources, q331's md5-simhash pairs as the third
    val docs = graft.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
    val fpPairs = docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).values.filter(_.length > 1)
      .flatMap { g => val m = g.map(_._1).min
        g.map(_._1).filter(_ != m).map(b => (m, b)) }.toSeq
    val nearPairs = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val shPairs = Dedup.simhashMd5Pairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (fpPairs ++ nearPairs ++ shPairs).foreach { case (a, b) => union(a, b) }
    val members = parent.keys.toSeq.groupBy(find).map { case (_, ms) =>
      val sorted = ms.sorted
      (sorted.head, sorted.mkString(","), sorted.length.toLong)
    }.toSeq.sortBy(_._1)
    val got = Dedup.queries("q336_dedup_clusters_md5")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === members, s"engine $got vs replica $members")
    val q336Of = got.flatMap { case (rep, ms, _) =>
      ms.split(",").map(_.toLong -> rep) }.toMap
    Dedup.dedupClusters(spark, sf).collect().foreach { r =>
      val ms = r.getString(1).split(",").map(_.toLong)
      assert(ms.map(q336Of).distinct.length == 1,
        s"q57 cluster ${r.getLong(0)} straddles q336 clusters")
    }
  }

  test("q314 duplicate spans: cross-doc run, within-doc repeat, clean " +
      "and sub-w docs — engine matches a plain-Scala replica") {
    val s = spark
    import s.implicits._
    val shared = (1 to 25).map(i => s"run$i")
    val docs = Seq(
      1L -> ((1 to 20).map(i => s"a$i") ++ shared),          // run at 21..45
      2L -> (shared ++ (1 to 30).map(i => s"b$i")),          // run at 1..25
      3L -> ((1 to 20).map(i => s"c$i") ++ Seq("mid")
        ++ (1 to 20).map(i => s"c$i")),                      // internal repeat
      4L -> (1 to 40).map(i => s"u$i"),                      // clean
      5L -> (1 to 19).map(i => s"s$i"))                      // sub-w → absent
    val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpansCore(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    // independent replica: sliding windows, global counts, position
    // union — no md5, no Spark
    val w = Dedup.dupSpanW
    val toks = docs.filter(_._2.size >= w)
    val wins = toks.flatMap { case (id, ts) =>
      ts.sliding(w).zipWithIndex
        .map { case (win, i) => (id, win.mkString(" "), i + 1) } }
    val counts = wins.groupBy(_._2).view.mapValues(_.size).toMap
    val expected = toks.map { case (id, ts) =>
      val mine = wins.filter(_._1 == id)
      val dups = mine.filter(v => counts(v._2) >= 2)
      val covered = dups.flatMap(v => v._3 until (v._3 + w))
        .distinct.size.toLong
      (id, ts.size.toLong, mine.size.toLong, dups.size.toLong, covered,
        covered * 1000000L / ts.size, covered * 2 >= ts.size)
    }.sortBy(_._1)
    assert(got === expected)
    // every regime genuinely fires
    val byId = expected.map(e => e._1 -> e).toMap
    assert(byId(1L)._5 == 25L && byId(2L)._5 == 25L)
    assert(byId(1L)._7 && !byId(2L)._7) // 25/45 ≥ half, 25/55 not
    assert(byId(3L)._5 == 40L)
    assert(byId(4L)._5 == 0L)
    assert(!expected.exists(_._1 == 5L))
  }

  test("q315 span-removal manifest: kept segments are the exact " +
      "complement of the duplicated-span union") {
    val s = spark
    import s.implicits._
    val shared = (1 to 25).map(i => s"run$i")
    val docs = Seq(
      1L -> ((1 to 20).map(i => s"a$i") ++ shared),  // covered 21..45 of 45
      2L -> (shared ++ (1 to 30).map(i => s"b$i")),  // covered 1..25 of 55
      3L -> ((1 to 20).map(i => s"c$i") ++ Seq("mid")
        ++ (1 to 20).map(i => s"c$i")),              // covered 1..20 ∪ 22..41
      4L -> (1 to 40).map(i => s"u$i"),              // clean
      5L -> (1 to 19).map(i => s"s$i"))              // sub-w → absent
    val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = Dedup.spanRemovalManifestCore(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // doc 1 keeps its unique head; doc 2 its unique tail; doc 3 keeps
    // NOTHING (the only island between its two covered runs is the
    // 1-token "mid", under the keep floor); doc 4 keeps itself whole;
    // doc 5 has no windows at all
    assert(got === Seq(
      (1L, 1L, 20L, 20L),
      (2L, 26L, 55L, 30L),
      (4L, 1L, 40L, 40L)))
  }

  test("repetition signals: hand-computed bigram counts, short docs absent") {
    import graft.ops.TextAnalysis
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b a b a"),   // bigrams: a-b, b-a, a-b, b-a → top 2 of 4
      (2L, "x y z"),       // all distinct → ratio 1/2
      (3L, "solo"))        // < 2 tokens → absent
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("graft_rep_") { tmp =>
      val dir = tmp.toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = TextAnalysis.repetitionSignals(spark, dir)
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(out === Seq((1L, 4L, 2L, 2L, 0.5), (2L, 2L, 2L, 1L, 0.5)))
    }
  }

  test("decontamination flags every train doc whose text duplicates an eval doc") {
    import graft.ops.Sampling
    val s = spark
    import s.implicits._
    // recall guarantee: identical text (>= the 8-code-point winnow
    // guarantee span) on opposite split sides must always be caught
    val split = Tables.documents(spark, sf)
      .withColumn("split", Sampling.splitExpr)
      .select("doc_id", "text", "split")
    val trainDups = split.filter(col("split") === "train").as("t")
      .join(split.filter(col("split") === "eval").as("e"),
        col("t.text") === col("e.text") && length(col("t.text")) >= 8)
      .select(col("t.doc_id")).distinct()
      .as[Long].collect().toSet
    val flagged = Dedup.decontamination(spark, sf)
    val flaggedIds = flagged.select("doc_id").as[Long].collect().toSet
    assert(trainDups.subsetOf(flaggedIds),
      s"missed exact cross-split dups: ${trainDups -- flaggedIds}")
    // sanity: shared fingerprints can never exceed the doc's own count
    assert(flagged.filter(col("n_shared") > col("n_fp")).count() === 0L)
  }

  test("incremental dedup: finds vs_corpus and within_batch pairs, " +
    "structurally never base×base") {
    import spark.implicits._
    // ids 0-7 → cut = 0 + 3·(8 div 4) = 6: delta = {6, 7}
    val text = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, text), // base twin of 1 → base×base pair, must NOT appear
      (1L, text),
      (2L, "one two three four five six seven"), // base, unique
      (3L, "unrelated words entirely different here now"),
      (4L, "more filler content padding the id space"),
      (5L, "yet another unique base document text"),
      (6L, text), // delta twin of 0/1 AND of 7
      (7L, text)
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    val out = Dedup.incrementalDedupCore(docs, 0.8)
      .select("doc_a", "doc_b", "jaccard", "pair_kind")
      .as[(Long, Long, Double, String)].collect().toSeq
    assert(out === Seq(
      (0L, 6L, 1.0, "vs_corpus"),
      (0L, 7L, 1.0, "vs_corpus"),
      (1L, 6L, 1.0, "vs_corpus"),
      (1L, 7L, 1.0, "vs_corpus"),
      (6L, 7L, 1.0, "within_batch")))
    // the base×base duplicate (0,1) is structurally out of scope
    assert(!out.exists(p => p._1 == 0L && p._2 == 1L))
  }

  test("q220 sweep: thresholds complete, counts monotone non-increasing, " +
    "and the 0.8 row equals q52's pair count exactly") {
    val sweep = graft.ops.Dedup.dedupThresholdSweep(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sweep.map(_._1).toSeq == (3 to 9).map(_ * 100000L))
    assert(sweep.sliding(2).forall {
      case Array(lo, hi) => lo._2 >= hi._2 && lo._3 >= hi._3
      case _ => true
    }, "tightening the threshold must never find MORE pairs")
    assert(sweep.head._2 > 0, "fixture corpus has near-dups at 0.3")
    // jac_raw >= 0.8 ⟺ floor(nc·10⁶/union) >= 800000 (exact rational
    // boundary), so the sweep's 0.8 row IS q52's pair count
    val q52n = graft.ops.Dedup.jaccardPairs(spark, sf).count()
    assert(sweep.find(_._1 == 800000L).get._2 == q52n)
  }

  test("q232: span coverage unions overlapping cross-doc runs and " +
    "ignores within-doc-only repetition") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),        // shares exactly the 5-run with d2
      (2L, "x a b c d e y z"),
      (3L, "p q r s t u v w"),        // shares a 6-run with d4 → two
      (4L, "p q r s t u m n"),        //   overlapping grams, union = 6
      (5L, "k k k k k k k k"))        // repeated gram, but ONE doc only
      .toDF("doc_id", "text")
    val out = Dedup.spanCoverageCore(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out === Seq(
      (1L, 8L, 1L, 5L, 625000L),
      (2L, 8L, 1L, 5L, 625000L),
      (3L, 8L, 2L, 6L, 750000L),
      (4L, 8L, 2L, 6L, 750000L),
      (5L, 8L, 0L, 0L, 0L)))
  }

  test("q257 ppjoin completeness: prefix-filtered join equals brute-force " +
    "exact Jaccard on random sets across swept thresholds") {
    val s = spark
    import s.implicits._
    // fixed-seed random universe: 40 docs, each a distinct subset of a
    // 30-element vocab — small enough to brute-force, adversarial enough
    // (heavy element-frequency skew via zipf-ish sampling) to exercise
    // the rarity ordering and the length filter
    val rnd = new scala.util.Random(1234)
    val vocab = (0 until 30).map(i => f"sh$i%02d")
    val docs: Seq[(Long, Set[String])] = (0 until 40).map { d =>
      val k = 2 + rnd.nextInt(12)
      val set = (0 until k).map { _ =>
        // skew: low indices picked far more often
        vocab(math.min(rnd.nextInt(6) * rnd.nextInt(6) / 2, 29))
      }.toSet
      (d.toLong, set)
    }
    val shRows = docs.flatMap { case (d, set) => set.map(sh => (d, sh)) }
      .toDF("doc_id", "sh")
    def ppm(a: Set[String], b: Set[String]): Long = {
      val c = (a & b).size.toLong
      if ((a ++ b).isEmpty) 0L else c * 1000000L / (a ++ b).size
    }
    for (theta <- Seq(300000L, 500000L, 800000L)) {
      val expected = (for {
        (da, sa) <- docs; (db, sb) <- docs
        if da < db && sa.nonEmpty && ppm(sa, sb) >= theta
      } yield (da, db, ppm(sa, sb))).toSet
      val got = Dedup.ppjoinCore(shRows, theta)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected, s"theta=$theta")
    }
  }

  test("q262 ngram contamination: exact 3-gram hits vs a bench doc, " +
    "occurrences and distinct counted separately") {
    val s = spark
    import s.implicits._
    // doc 0 (id ≡ 0 mod 97) is the bench; grams "a b c", "b c d".
    // doc 1 hits "a b c" once; doc 2 hits "a b c" twice + "b c d" once.
    val docs = Seq(
      (0L, "a b c d"),
      (1L, "a b c x"),
      (2L, "z z a b c b c d a b c"),
      (3L, "q r s t u")).toDF("doc_id", "text")
    val out = Dedup.ngramContaminationCore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 1L, 1L), (2L, 3L, 2L)))
  }

  test("q265 ngram novelty: first-occurrence grams count for the min " +
    "doc, ppm is exact, short docs absent") {
    val s = spark
    import s.implicits._
    // doc 1 coins both its grams; doc 2 shares "a b c" with doc 1;
    // doc 3 repeats doc 1 exactly; doc 4 is sub-shingle length.
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c x"),
      (3L, "a b c d"),
      (4L, "z z")).toDF("doc_id", "text")
    val out = Dedup.ngramNoveltyCore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 2L, 2L, 1000000L),
      (2L, 2L, 1L, 500000L),
      (3L, 2L, 0L, 0L)))
  }

  test("q287 source vocab overlap: distinct-token Jaccard per pair, " +
    "disjoint pair absent") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("A", "a b c"), ("A", "a a"),     // vocab {a,b,c}
      ("B", "b c d"),                    // vocab {b,c,d}
      ("C", "x"))                        // vocab {x} — disjoint
      .toDF("source", "text")
    val out = Dedup.vocabOverlapCore(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // (A,B): common {b,c} → 2·1e6 div (3+3−2) = 500000; (·,C) absent
    assert(out.toSeq === Seq(("A", "B", 3L, 3L, 2L, 500000L)))
  }

  test("q292 dup cluster sizes: histogram shape, excess arithmetic, " +
    "ppm shares sum to ~1e6") {
    val s = spark
    import s.implicits._
    // 3 singletons, one pair, one triple → sizes 1×3, 2×1, 3×1
    val docs = Seq("a", "b", "c", "dup1", "dup1", "dup2", "dup2", "dup2")
      .toDF("text")
    val out = Dedup.dupClusterSizesCore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, 3L, 3L, 0L, 375000L),
      (2L, 1L, 2L, 1L, 250000L),
      (3L, 1L, 3L, 2L, 375000L)))
    assert(out.map(_._5).sum === 1000000L)
    assert(out.map(_._4).sum === 3L) // dedup would delete 3 docs
  }

  test("q268 cross-source overlap: shared heads counted once per pair, " +
    "copies summed per side") {
    val s = spark
    import s.implicits._
    // "hello world x" (< 80 chars → whole-text head) appears 2× in s1,
    // 1× in s2, 1× in s3; everything else is unshared.
    val docs = Seq(
      ("s1", "hello world x"), ("s1", "hello world x"),
      ("s2", "hello world x"), ("s3", "hello world x"),
      ("s1", "unique one"), ("s2", "another")).toDF("source", "text")
    val out = Dedup.crossSourceOverlapCore(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      ("s1", "s2", 1L, 2L, 1L),
      ("s1", "s3", 1L, 2L, 1L),
      ("s2", "s3", 1L, 1L, 1L)))
  }

  test("q264 segment dedup: first occurrence wins globally, retention " +
    "is per-doc") {
    val s = spark
    import s.implicits._
    val t = (0 until 32).map(i => s"t$i")   // two full 16-token segments
    val u = (0 until 16).map(i => s"u$i")
    val docs = Seq(
      (1L, t.mkString(" ")),                           // both segs original
      (2L, (t.take(16) ++ u).mkString(" ")),           // seg0 dups doc1
      (3L, t.mkString(" ")),                           // both segs dup doc1
      (4L, "only five tokens here now")).toDF("doc_id", "text")
    val out = Dedup.segmentDedupRetentionCore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5),
      (3L, 2L, 0L, 0.0), (4L, 1L, 1L, 1.0)))
  }

  test("q300 cosine TF pairs: multiplicity weighting, scaled-copy " +
    "identity, threshold cut and lang blocking on a hand fixture") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a a b"), (2L, "en", "a a b"),  // identical → cos² = 1
      (3L, "en", "a c"),                         // below threshold vs all
      (4L, "fr", "a a b"),                       // lang-blocked
      (5L, "en", "a b"), (6L, "en", "a a a a b"),// set-identical, cos² < 1
      (7L, "en", "a b a b a b"))                 // 3× scale of d5 → cos² = 1
      .toDF("doc_id", "lang", "text")
    val out = Dedup.cosinePairsCore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toList
    // hand-computed over integer tf vectors; Jaccard calls d5/d6
    // identical (same term SET) — cosine sees the padding (735294);
    // the scaled copy d5/d7 is cosine-identical (1e6) as it must be
    assert(out === List(
      (1L, 2L, 5L, 5L, 5L, 1000000L),
      (1L, 5L, 3L, 5L, 2L, 900000L),
      (1L, 6L, 9L, 5L, 17L, 952941L),
      (1L, 7L, 9L, 5L, 18L, 900000L),
      (2L, 5L, 3L, 5L, 2L, 900000L),
      (2L, 6L, 9L, 5L, 17L, 952941L),
      (2L, 7L, 9L, 5L, 18L, 900000L),
      (5L, 6L, 5L, 2L, 17L, 735294L),
      (5L, 7L, 6L, 2L, 18L, 1000000L),
      (6L, 7L, 15L, 17L, 18L, 735294L)))
  }
}
