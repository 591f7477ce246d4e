package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.operators.Elections
import graft.functions.{GeoFunctions, TextFunctions}

/** Seeded property-style tests (fixed seeds → the scalacheck spirit
  * without the scalatest bridge, which isn't in the offline dependency
  * set).
  */
class SkewAndPropertiesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("property: geohash encode/decode round-trips within cell size") {
    val rnd = new Random(42)
    (1 to 300).foreach { _ =>
      val lat = rnd.between(-89.9, 89.9)
      val lng = rnd.between(-179.9, 179.9)
      val gh = GeoFunctions.geohashEncodeScala(lat, lng, 9)
      val (dla, dln) = GeoFunctions.geohashDecodeScala(gh)
      assert(math.abs(dla - lat) < 0.001 && math.abs(dln - lng) < 0.001,
        s"($lat,$lng) -> $gh -> ($dla,$dln)")
    }
  }

  test("property: vincenty is symmetric and non-negative (nonzero lats)") {
    val rnd = new Random(7)
    (1 to 200).foreach { _ =>
      def lat() = { val v = rnd.between(0.1, 80.0); if (rnd.nextBoolean()) v else -v }
      val (lat1, lng1) = (lat(), rnd.between(-179.0, 179.0))
      val (lat2, lng2) = (lat(), rnd.between(-179.0, 179.0))
      val d12 = GeoFunctions.vincentyM(lat1, lng1, lat2, lng2)
      val d21 = GeoFunctions.vincentyM(lat2, lng2, lat1, lng1)
      assert(d12 >= 0 && math.abs(d12 - d21) < 1e-6,
        s"asym: ($lat1,$lng1)-($lat2,$lng2): $d12 vs $d21")
    }
  }

  test("property: dedupAndCap is idempotent and bounded") {
    val rnd = new Random(13)
    (1 to 50).foreach { _ =>
      val n = rnd.nextInt(300)
      val pts = (1 to n).map { i =>
        // force collisions so dedup actually fires
        Elections.Pt(rnd.nextInt(20) + 1.0, rnd.nextInt(20) + 1.0,
          rnd.nextInt(5) + 1.0, i.toLong)
      }
      val once = Elections.dedupAndCap(pts)
      assert(once.size <= 100)
      assert(Elections.dedupAndCap(once) == once)
    }
  }

  test("property: minhash signatures deterministic, band keys consistent") {
    val rnd = new Random(99)
    (1 to 50).foreach { _ =>
      val sh = (1 to rnd.nextInt(30) + 1).map(_ =>
        rnd.alphanumeric.take(rnd.nextInt(10) + 1).mkString)
      val sig = TextFunctions.minhashSignature(sh, 16)
      assert(sig.length == 16)
      assert(sig.toSeq == TextFunctions.minhashSignature(sh, 16).toSeq)
      val keys = TextFunctions.lshBandKeys(sig.toSeq, 4, 4)
      assert(keys == TextFunctions.lshBandKeys(sig.toSeq, 4, 4))
      assert(keys.size == 4)
    }
  }

  test("property: perturb keeps cosine ≥ 0.95 and SRP buckets mostly stable") {
    import graft.functions.VectorFunctions._
    val rnd = new Random(7)
    var bucketMatches = 0
    val trials = 100
    (1 to trials).foreach { t =>
      // unit-ish vector like the synthetic embeddings (components ~ N(0,1)/√d)
      val dim = 64
      val v = Seq.fill(dim)((rnd.nextGaussian() / math.sqrt(dim)).toFloat)
      val p = perturb(v, seed = t.toLong, eps = 0.02)
      def dotd(a: Seq[Float], b: Seq[Float]) =
        a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val cos = dotd(v, p) / math.sqrt(dotd(v, v) * dotd(p, p))
      assert(cos >= 0.95, s"trial $t cosine $cos")
      // determinism
      assert(perturb(v, t.toLong, 0.02) == p)
      if (srpBucketAt(v, 8, 0) == srpBucketAt(p, 8, 0)) bucketMatches += 1
    }
    // near-identical vectors should share their 8-bit SRP bucket most of
    // the time — this is exactly the property q45's blocking relies on
    assert(bucketMatches >= trials * 0.7,
      s"only $bucketMatches/$trials bucket-stable")
  }

  test("property: TopKByQualityAgg is partition-order independent and equals sort") {
    import graft.operators.CorpusAggregators.TopKByQualityAgg
    val rnd = new Random(7)
    val agg = new TopKByQualityAgg(15)
    (1 to 50).foreach { trial =>
      val n = rnd.between(0, 60)
      // duplicate qualities on purpose — the doc_id tie-break must hold
      val rows = (0 until n).map(i =>
        ("g", math.round(rnd.nextDouble() * 5) / 5.0, rnd.between(0L, 1000L)))
        .distinct
      val expected = rows.map(r => (r._2, r._3)).sortBy { case (q, id) => (-q, id) }
        .take(15)
      val expOut = (expected.length.toLong, expected.map(_._2).sum,
        if (expected.isEmpty) 0.0 else expected.map(_._1).min)
      // random partitioning + random merge tree: reduce into k buffers,
      // merge in shuffled order — result must not depend on either
      val k = rnd.between(1, 5)
      val buffers = rnd.shuffle(rows).zipWithIndex
        .groupBy(_._2 % k).values.toSeq
        .map(part => part.map(_._1).foldLeft(agg.zero)(agg.reduce))
      val merged = rnd.shuffle(buffers).foldLeft(agg.zero)(agg.merge)
      val out = agg.finish(merged)
      assert((out.n_kept, out.id_checksum, out.min_quality) == expOut,
        s"trial $trial: $out vs $expOut")
    }
  }

  test("property: publish trim never excludes a qualifying entry — even on over-long segments") {
    // trimToPublishBounds' Scaladoc claims unconditional SOUNDNESS (the
    // Spark-level property test only covers the normal <1e6-entry
    // layouts where the trim is also exact); pin the pathological case
    // — segments longer than the 1e6 publish roll-over, whose windows
    // OVERLAP their neighbors' — with interval arithmetic per ledger
    import graft.sources.LedgerSource
    import graft.sources.LedgerSource.{Cursor, LedgerInfo}
    val rnd = new Random(7)
    (1 to 300).foreach { trial =>
      var lid = 1L
      val ledgers = (0 until 1 + rnd.nextInt(4)).map { _ =>
        lid += rnd.nextInt(3)
        val n = if (rnd.nextBoolean()) rnd.nextInt(5).toLong
                else 500000L + rnd.nextInt(3000000) // spans neighbors
        val li = LedgerInfo(lid, n); lid += 1; li
      }
      val from = Cursor(ledgers.head.ledgerId, 0L)
      val to = Cursor(ledgers.last.ledgerId, ledgers.last.entries)
      val lo = rnd.nextInt(8).toLong * 1000000L + rnd.nextInt(6) - 1L
      val hi = lo + rnd.nextInt(4).toLong * 1000000L + rnd.nextInt(6)
      val (f, t) = LedgerSource.trimToPublishBounds(
        ledgers, from, to, Some(lo), Some(hi))
      val pathological = ledgers.exists(_.entries > 1000000L)
      ledgers.foreach { li =>
        val start = li.ledgerId * 1000000L
        val qLo = math.max(0L, lo - start)
        val qHi = math.min(li.entries, hi - start)
        if (qHi > qLo) {
          // this ledger's kept entry window under the trimmed cursor range
          val kLo = if (li.ledgerId < f.ledgerId) Long.MaxValue
                    else if (li.ledgerId == f.ledgerId) f.entryId else 0L
          val kHi = if (li.ledgerId > t.ledgerId) Long.MinValue
                    else if (li.ledgerId == t.ledgerId) t.entryId else li.entries
          assert(kLo <= qLo && qHi <= kHi,
            s"trial $trial: trim excluded qualifying entries — ledger $li " +
              s"qualifies [$qLo,$qHi) but keeps [$kLo,$kHi) " +
              s"(lo=$lo hi=$hi f=$f t=$t)")
          // and on clean layouts the trim is EXACT at both ends too
          if (!pathological)
            assert(kLo == qLo || kLo == 0L,
              s"trial $trial: clean-layout lo-trim inexact")
        }
      }
    }
  }

  test("property: bloom width sizing is the MINIMAL power of two >= 16n") {
    import graft.operators.TextQueries.bloomWidthFor
    val rnd = new Random(11)
    val ns = Seq(0L, 1L, 2L, 3L, 4L, 4095L, 4096L, 4097L) ++
      (1 to 50).map(_ => rnd.nextInt(2000000).toLong)
    ns.foreach { n =>
      val m = bloomWidthFor(n)
      assert(java.lang.Long.bitCount(m) == 1, s"n=$n: m=$m not a power of two")
      assert(m >= 16L * math.max(n, 1L), s"n=$n: m=$m under-sized")
      assert(m / 2 < 16L * math.max(n, 1L), s"n=$n: m=$m not minimal")
    }
    // the oracle's floating-point replay (2^ceil(log2(16n)), the only
    // other place a width is computed) equals the bit-arithmetic kernel
    // at every tested n INCLUDING the exact power-of-two boundaries —
    // log2 of an integer-valued double is either exact (x = 2^k) or far
    // enough from an integer that ulp noise can't flip the ceil
    val sqlNs = ns.filter(_ >= 1L) ++
      Seq(1L << 10, (1L << 10) + 1, (1L << 20) - 1, 1L << 20)
    import spark.implicits._
    val got = sqlNs.toDF("n")
      .selectExpr("n",
        "cast(pow(2.0, cast(ceil(log2(cast(n as double) * 16.0)) as double)) as long) AS m")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sqlNs.foreach { n =>
      assert(got(n) == bloomWidthFor(n),
        s"n=$n: SQL width ${got(n)} != kernel ${bloomWidthFor(n)}")
    }
  }

  test("property: bloomPositionsUdf equals the hex-slicing Column kernel") {
    // the compiled digest-byte path (what the r19 build+probe run) must
    // produce exactly the positions of the readable Column reference
    // (md5 hex → substring → conv → pmod — what the DuckDB oracle
    // replays), at several widths, over grams that exercise empty,
    // unicode, long, and space-bearing shapes plus a random sample
    import graft.operators.TextQueries.{bloomDigest, bloomPos, bloomPositionsUdf}
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val rnd = new Random(17)
    val grams = Seq("", "a", "one two three four five",
      "İstanbul ſ Σ 😀", "x" * 500, "the quick brown fox jumps") ++
      (1 to 200).map(_ => (1 to 5).map(_ =>
        ("a" + rnd.nextInt(100000)).mkString).mkString(" "))
    for (m <- Seq(16L, 1L << 10, 1L << 20, 1L << 33)) {
      val df = grams.toDF("g")
        .withColumn("h", bloomDigest(col("g")))
        .withColumn("ps", bloomPositionsUdf(m)(col("g")))
      val rows = df.select(col("g"), col("ps"),
        bloomPos(col("h"), lit(m), 0).as("c0"),
        bloomPos(col("h"), lit(m), 1).as("c1"),
        bloomPos(col("h"), lit(m), 2).as("c2"),
        bloomPos(col("h"), lit(m), 3).as("c3")).collect()
      rows.foreach { r =>
        val ps = r.getSeq[Long](r.fieldIndex("ps")).toList
        val cs = (0 until 4).map(i => r.getAs[Long](s"c$i")).toList
        assert(ps == cs, s"m=$m g=${r.getAs[String]("g").take(40)}: " +
          s"udf $ps != column $cs")
      }
    }
  }
}
