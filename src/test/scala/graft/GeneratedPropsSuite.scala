package graft

import graft.operators.{Dedup, Joins, Similarity}
import graft.sources.CdcIngest
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests over generated corpora (SURVEY §5.5): LSH recall
  * against exact Jaccard on corpora we control, and the S5 epoch→UTC+8
  * date conversion against java.time ground truth. ScalaCheck generators
  * with a pinned seed, evaluated in one batched Spark job per property.
  */
class GeneratedPropsSuite extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def sampleN[A](gen: Gen[A], n: Int, seed: Long = 42L): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  test("LSH recall ≥ 95% of exact pairs on generated near-dup corpora") {
    // corpus: base docs + mutated near-duplicates (token replacement rate
    // 0.15 → jaccard ≳ 0.7), so exact pairs at τ=0.6 are plentiful
    val vocab = (0 until 500).map(i => s"w$i")
    val rnd = new scala.util.Random(7)
    val bases = (0 until 30).map(_ => Seq.fill(40)(vocab(rnd.nextInt(vocab.size))))
    val docs = bases.zipWithIndex.flatMap { case (toks, i) =>
      val mutated = toks.map(t =>
        if (rnd.nextDouble() < 0.15) vocab(rnd.nextInt(vocab.size)) else t)
      Seq((i * 2L, toks.mkString(" ")), (i * 2L + 1, mutated.mkString(" ")))
    }.toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6).select("d1", "d2")
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 0.6).select("d1", "d2")
    val nExact = exact.count()
    val missed = exact.exceptAll(lsh).count()
    assert(nExact >= 20, s"generator should produce pairs, got $nExact")
    // no false positives ever (candidates are exact-verified) …
    assert(lsh.exceptAll(exact).count() == 0)
    // … and ≥95% recall at τ=0.6 with 32 bands × r=2
    assert(missed.toDouble / nExact <= 0.05, s"missed $missed of $nExact")
  }

  test("knnJoin ≡ local brute top-k on generated vectors with forced cosine ties") {
    // corpus: random gaussians plus scalar multiples (cos(v, 2v) = 1, and
    // a multiple ties with its base against EVERY query) — the tie-break
    // (cos desc, id asc) is exercised on every query, not by luck.
    val rnd = new scala.util.Random(5)
    val base = (0 until 60).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val all: Seq[(Long, Array[Double])] =
      base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
        base.take(20).zipWithIndex.map { case (v, i) =>
          (60L + i, v.map(_ * 2.0)) }
    val df = spark.createDataFrame(all.map { case (id, v) => (id, v.toSeq) })
      .toDF("vec_id", "embedding")
    val k = 6
    val got = Similarity.knnJoin(df.where(col("vec_id") < 8), df,
        "vec_id", "embedding", k)
      .orderBy("qid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      // same rounding (HALF_UP, 4 dp) and -0.0 fold as the operator
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    val want = (0L until 8L).flatMap { qid =>
      val qv = all.find(_._1 == qid).get._2
      all.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(v, qv)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k).zipWithIndex
        .map { case ((id, c), i) => (qid, id, c, i + 1L) }
    }
    assert(got == want)
  }

  test("SimHash multi-index pairs ≡ brute hamming on generated corpora (3 seeds)") {
    // Generated corpora with planted structure: base docs + light
    // mutations (near-identical → tiny hamming), heavier mutations and
    // independent docs (hamming straddles and exceeds the threshold).
    // The multi-index join must return EXACTLY the brute ≤3 pair set —
    // the pigeonhole recall guarantee, exercised off the fixture across
    // random corpora where near-boundary (hd ∈ {2,3,4}) pairs abound.
    for (seed <- Seq(11, 23, 47)) {
      val vocab = (0 until 400).map(i => s"t$i")
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 25).flatMap { i =>
        val toks = Seq.fill(30)(vocab(rnd.nextInt(vocab.size)))
        def mut(rate: Double) = toks.map(t =>
          if (rnd.nextDouble() < rate) vocab(rnd.nextInt(vocab.size)) else t)
        Seq((i * 3L, toks.mkString(" ")),
            (i * 3L + 1, mut(0.03).mkString(" ")),   // near-identical
            (i * 3L + 2, mut(0.12).mkString(" ")))   // boundary-ish
      }.toDF("doc_id", "text")
      val banded = Dedup.simHashNearDupPairs(docs, "doc_id", "text")
        .orderBy("d1", "d2").collect().map(_.toString).toSeq
      val sh = Dedup.simHash(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val brute = (for {
        (d1, h1) <- sh; (d2, h2) <- sh if d1 < d2
        hd = java.lang.Long.bitCount(h1 ^ h2) if hd <= 3
      } yield (d1, d2, hd.toLong)).sortBy(p => (p._1, p._2))
        .map(p => org.apache.spark.sql.Row(p._1, p._2, p._3).toString).toSeq
      assert(brute.nonEmpty, s"seed $seed: generator should plant ≤3-hamming pairs")
      assert(banded == brute, s"seed $seed")
    }
  }

  test("winnowFingerprints ≡ local reference on random strings (several k/w, incl. short/empty docs)") {
    import graft.operators.TextAnalysis
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def localWinnow(text: String, k: Int, w: Int): Set[String] = {
      val nG = math.max(text.length - (k - 1), 1)
      val grams = (1 to nG).map(i =>
        md5hex(text.substring(i - 1, math.min(i - 1 + k, text.length))))
      val nW = math.max(grams.length - (w - 1), 1)
      (1 to nW).map(j => grams.slice(j - 1, j - 1 + w).min).toSet
    }
    val rnd = new scala.util.Random(41)
    // small alphabet forces repeated grams (real min-collisions in
    // windows); lengths 0..29 cover empty, shorter-than-k, and long
    val alpha = "abcde "
    val docs = (0 until 60).map { i =>
      val len = rnd.nextInt(30)
      (i.toLong, (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val df = docs.toDF("doc_id", "text")
    for ((k, w) <- Seq((8, 4), (5, 3), (3, 1), (1, 2))) {
      val got = TextAnalysis.winnowFingerprints(df, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = docs.map { case (id, t) => id -> localWinnow(t, k, w) }.toMap
      assert(got == want, s"k=$k w=$w")
    }
  }

  test("S5 epoch-ms → UTC+8 date matches java.time for arbitrary instants") {
    // range: 2001..2090 — leap years, century boundary, month/year edges
    val ms = sampleN(Gen.choose(1_000_000_000_000L, 3_800_000_000_000L), 300)
    val got = ms.toDF("c_ms")
      .select(col("c_ms"), date_format(
        from_utc_timestamp(timestamp_millis(col("c_ms")), "+08:00"),
        "yyyy-MM-dd").as("d"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    ms.foreach { m =>
      val expected = java.time.Instant.ofEpochMilli(m)
        .atOffset(java.time.ZoneOffset.ofHours(8)).toLocalDate.toString
      assert(got(m) == expected, s"ms=$m")
    }
  }

  test("chunkByTokens: de-overlapped chunks reconstruct the token list exactly") {
    // Property (any tokens, any 0 <= overlap < chunkSize): chunk 0 plus
    // every later chunk minus its first `overlap` tokens, concatenated in
    // chunk_id order, equals the original token list — i.e. full coverage,
    // exact stride, no dropped or duplicated tail. Guards the index
    // arithmetic (1-based slice bounds, last-window cutoff) that is easy
    // to silently regress by one.
    import graft.operators.Pipelines
    val genCase = for {
      chunkSize <- Gen.choose(1, 24)
      overlap <- Gen.choose(0, chunkSize - 1)
      nToks <- Gen.choose(1, 120)
    } yield (chunkSize, overlap, nToks)
    val cases = sampleN(genCase, 40, seed = 11L).zipWithIndex
    val tokRnd = new scala.util.Random(5)
    // group by (chunkSize, overlap): one Spark job per distinct param pair
    cases.groupBy { case ((cs, ov, _), _) => (cs, ov) }
      .foreach { case ((chunkSize, overlap), group) =>
        val docs = group.map { case ((_, _, n), id ) =>
          (id.toLong, Array.fill(n)(s"t${tokRnd.nextInt(50)}").mkString(" "))
        }
        val df = docs.toDF("doc_id", "text")
        val out = Pipelines.chunkByTokens(df, "doc_id", "text", chunkSize, overlap)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
          .groupBy(_._1)
        docs.foreach { case (id, text) =>
          val toks = text.split(" ").toSeq
          val chunks = out(id).sortBy(_._2)
          // n_tokens is the real token count of each chunk
          assert(chunks.forall { case (_, _, c, n) => c.split(" ").length == n },
            s"doc $id cs=$chunkSize ov=$overlap: n_tokens mismatch")
          val rebuilt = chunks.head._3.split(" ").toSeq ++
            chunks.tail.flatMap(_._3.split(" ").drop(overlap).toSeq)
          assert(rebuilt == toks,
            s"doc $id cs=$chunkSize ov=$overlap: ${rebuilt.length} != ${toks.length} tokens")
        }
      }
  }

  test("saltedJoin equals the plain join on generated skewed data (inner + left)") {
    // heavy skew: ~half the fact rows share key 0 (the regime the salt
    // exists for), the rest spread over 50 keys; dim covers only some
    // keys so left-join null-padding is exercised
    val rnd = new scala.util.Random(13)
    val fact = (0 until 400).map { i =>
      val k = if (rnd.nextBoolean()) 0L else rnd.nextInt(50).toLong
      (k, i.toLong)
    }.toDF("k", "fact_val")
    val dim = (0 until 50 by 2).map(k => (k.toLong, s"d$k")).toDF("k", "dim_val")
    for (jt <- Seq("inner", "left")) {
      val plain = fact.join(dim, Seq("k"), jt)
        .select("k", "fact_val", "dim_val").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).sorted.toSeq
      val salted = Joins.saltedJoin(fact, dim, "k", saltFactor = 8, joinType = jt)
        .select("k", "fact_val", "dim_val").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).sorted.toSeq
      assert(salted == plain, s"joinType=$jt")
    }
  }

  test("rangeJoin equals the naive theta join on generated timestamps") {
    // dense ts range so bucket boundaries, exact-width hits (rts ==
    // lts + w, included) and same-instant pairs (rts == lts, excluded)
    // all occur; micros kept multiple-of-1s to make boundary hits likely
    val rnd = new scala.util.Random(17)
    def gen(n: Int, tag: String) = (0 until n).map { i =>
      (rnd.nextInt(4).toLong, 1_700_000_000L + rnd.nextInt(600), s"$tag$i")
    }
    val left = gen(150, "l").toDF("lk", "lsec", "lval")
      .select(col("lk"), timestamp_seconds(col("lsec")).as("lts"), col("lval"))
    val right = gen(150, "r").toDF("rk", "rsec", "rval")
      .select(col("rk"), timestamp_seconds(col("rsec")).as("rts"), col("rval"))
    for (widthSec <- Seq(1L, 7L, 60L)) {
      val naive = left.join(right,
          col("lk") === col("rk") && col("rts") > col("lts") &&
            col("rts") <= col("lts") + expr(s"INTERVAL $widthSec SECONDS"))
        .select("lval", "rval").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val bucketed = Joins.rangeJoin(left, "lk", "lts", right, "rk", "rts", widthSec)
        .select("lval", "rval").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(bucketed == naive, s"widthSec=$widthSec")
      assert(naive.nonEmpty, s"widthSec=$widthSec: generator produced no pairs")
    }
  }

  test("asofLatestTs equals the naive correlated max on generated data (strict + non-strict)") {
    // small ts range → plenty of exact left-ts == right-ts ties, the
    // one case where strict and non-strict must differ
    val rnd = new scala.util.Random(19)
    val left = (0 until 200).map { i =>
      (rnd.nextInt(5).toLong, 1_700_000_000L + rnd.nextInt(50), i.toLong)
    }.toDF("k", "lsec", "lid")
      .select(col("k"), timestamp_seconds(col("lsec")).as("lts"), col("lid"))
    val right = (0 until 200).map { _ =>
      (rnd.nextInt(5).toLong, 1_700_000_000L + rnd.nextInt(50))
    }.toDF("rk", "rsec")
      .select(col("rk"), timestamp_seconds(col("rsec")).as("rts"))
    for (strict <- Seq(true, false)) {
      val cmp = if (strict) col("rts") < col("lts") else col("rts") <= col("lts")
      val naive = left.join(right, col("k") === col("rk") && cmp, "left")
        .groupBy("lid").agg(max(col("rts")).as("expect"))
        .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
      val got = Joins.asofLatestTs(left, "k", "lts", right, "rk", "rts", strict)
        .collect().map(r => r.getLong(2) -> Option(r.getTimestamp(3))).toMap
      assert(got == naive, s"strict=$strict")
      assert(naive.values.exists(_.isEmpty) && naive.values.exists(_.nonEmpty),
        s"strict=$strict: generator should produce matched AND unmatched rows")
    }
  }

  test("nearDupClusters equals local union-find over its own pair set (labels, singletons, csize)") {
    // corpus: near-dup pairs (mutated copies) + isolated docs that must
    // come out as singleton clusters of themselves
    val vocab = (0 until 400).map(i => s"w$i")
    val rnd = new scala.util.Random(23)
    def doc() = Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val paired = (0 until 25).flatMap { i =>
      val base = doc().split(" ")
      val mut = base.map(t =>
        if (rnd.nextDouble() < 0.1) vocab(rnd.nextInt(vocab.size)) else t)
      Seq((i * 2L, base.mkString(" ")), (i * 2L + 1, mut.mkString(" ")))
    }
    val isolated = (0 until 20).map(i => (1000L + i, doc()))
    val docs = (paired ++ isolated).toDF("doc_id", "text")
    val tau = 0.6
    // ground truth: union-find over the operator's OWN pair set (the pair
    // generation is differentially tested elsewhere; this pins the CC +
    // labeling + singleton + csize composition on top of it)
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", tau)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = (paired ++ isolated).map(_._1)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectLabel = ids.map(i => i -> find(i)).toMap
    val expectSize = expectLabel.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = Dedup.nearDupClusters(docs, "doc_id", "text", tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == ids.size)
    got.foreach { case (id, cluster, csize) =>
      assert(cluster == expectLabel(id), s"doc $id: cluster $cluster != ${expectLabel(id)}")
      assert(csize == expectSize(expectLabel(id)), s"doc $id: csize")
    }
    // the generator must actually exercise both regimes
    assert(expectSize.values.exists(_ >= 2) && expectSize.values.exists(_ == 1L))
  }

  test("nearDupClustersApprox: recall on mutated pairs, precision on isolated docs, coarsening") {
    // same corpus shape as the verified-path property: 25 (base, mutated)
    // near-dup pairs (replacement rate 0.1 → j ≈ 0.82) + 20 isolated docs
    val vocab = (0 until 400).map(i => s"w$i")
    val rnd = new scala.util.Random(31)
    def doc() = Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val paired = (0 until 25).flatMap { i =>
      val base = doc().split(" ")
      val mut = base.map(t =>
        if (rnd.nextDouble() < 0.1) vocab(rnd.nextInt(vocab.size)) else t)
      Seq((i * 2L, base.mkString(" ")), (i * 2L + 1, mut.mkString(" ")))
    }
    val isolated = (0 until 20).map(i => (1000L + i, doc()))
    val docs = (paired ++ isolated).toDF("doc_id", "text")
    val label = Dedup.nearDupClustersApprox(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recall: P(pair at j≈0.82 shares a bucket) = 1-(1-j^8)^16 ≈ 0.96 per
    // pair at the (128, 16) defaults; with the pinned seed ≥ 23/25 pairs
    // must co-cluster
    val coClustered = (0 until 25).count(i => label(i * 2L) == label(i * 2L + 1))
    assert(coClustered >= 23, s"only $coClustered/25 near-dup pairs co-clustered")
    // precision: independent random docs share j ≈ 0.04 pairwise —
    // bucket-collision odds are negligible, so isolated docs must stay
    // singletons of themselves (allow 2 seed-luck collisions)
    val singleton = isolated.count { case (id, _) =>
      label(id) == id && label.values.count(_ == id) == 1
    }
    assert(singleton >= 18, s"only $singleton/20 isolated docs stayed singletons")
    // coarsening vs the verified path at the SAME banding (any tau):
    // a verified pair shares a bucket by construction, so approx must
    // never split it
    Dedup.minHashLshPairs(docs, "doc_id", "text", tau = 0.6,
        numHashes = 128, bands = 16)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
      .foreach { case (a, b) =>
        assert(label(a) == label(b), s"verified pair ($a,$b) split by approx")
      }
  }

  test("nearDupClustersCollapsed ≡ nearDupClusters on corpora with verbatim dup groups") {
    // corpus: verbatim groups (3-5 exact copies), one mutated near-dup
    // per group (bridges a group to a non-member), isolated docs —
    // exercises within-group cliques, cross-group closure, singletons
    val vocab = (0 until 400).map(i => s"w$i")
    val rnd = new scala.util.Random(47)
    def doc() = Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    var nextId = 0L
    def id() = { nextId += 1; nextId }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    (0 until 10).foreach { _ =>
      val base = doc()
      (0 until 3 + rnd.nextInt(3)).foreach(_ => rows += ((id(), base)))
      val mut = base.split(" ").map(t =>
        if (rnd.nextDouble() < 0.1) vocab(rnd.nextInt(vocab.size)) else t)
      rows += ((id(), mut.mkString(" ")))
    }
    (0 until 15).foreach(_ => rows += ((id(), doc())))
    val docs = rows.toSeq.toDF("doc_id", "text")
    val tau = 0.6
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val full = collect(Dedup.nearDupClusters(docs, "doc_id", "text", tau))
    val collapsed = collect(Dedup.nearDupClustersCollapsed(docs, "doc_id", "text", tau))
    assert(collapsed == full)
    // generator sanity: collapsing must actually have removed work
    val nReps = docs.select(md5(col("text"))).distinct().count()
    assert(nReps < rows.size, s"no verbatim groups generated ($nReps reps of ${rows.size})")
  }

  test("WeightedMean equals the local weighted mean on random data (incl. zero-weight group)") {
    val rnd = new scala.util.Random(29)
    val rows = (0 until 500).map { _ =>
      (rnd.nextInt(10).toLong, rnd.nextDouble() * 200 - 100, rnd.nextDouble() * 10)
    } ++ (0 until 5).map(i => (99L, rnd.nextDouble(), 0.0)) // all-zero weights
    val df = rows.toDF("g", "x", "w")
    val wavg = udaf(new graft.functions.WeightedMean)
    val got = df.groupBy("g").agg(wavg(col("x"), col("w")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = rows.groupBy(_._1).view.mapValues { g =>
      val sw = g.map(_._3).sum
      if (sw == 0.0) Double.NaN else g.map(t => t._2 * t._3).sum / sw
    }.toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (g, e) =>
      if (e.isNaN) assert(got(g).isNaN, s"group $g: expected NaN, got ${got(g)}")
      // partial/merge order differs from the local fold — compare to 1e-9 rel
      else assert(math.abs(got(g) - e) <= 1e-9 * math.max(1.0, math.abs(e)), s"group $g")
    }
  }

  test("sessionAgg equals a local sessionizer on random event times (boundary-inclusive)") {
    // ts drawn on a coarse grid around multiples of the gap so exact
    // prev+gap boundary hits occur — the case where Spark's
    // session_window merges (inclusive) and a naive `>=` oracle would
    // split; local ground truth replicates gaps-and-islands with > gap
    val gapSec = 60L
    val rnd = new scala.util.Random(31)
    val events = (0 until 400).map { i =>
      (rnd.nextInt(6).toLong, 1_700_000_000L + rnd.nextInt(40) * 30L,
        math.round(rnd.nextDouble() * 100) / 10.0)
    }
    val df = events.toDF("user_id", "sec", "value")
      .select(col("user_id"), timestamp_seconds(col("sec")).as("ts"), col("value"))
    val got = StreamOps.sessionAgg(df, s"$gapSec seconds")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val expect = events.groupBy(_._1).flatMap { case (u, evs) =>
      val sorted = evs.map(e => (e._2, e._3)).sorted
      val sessions = sorted.tail.foldLeft(Vector(Vector(sorted.head))) {
        case (acc, e) =>
          if (e._1 - acc.last.last._1 > gapSec) acc :+ Vector(e) // strict >: boundary merges
          else acc.init :+ (acc.last :+ e)
      }
      sessions.zipWithIndex.map { case (s, i) =>
        (u, i + 1L) -> (s.size.toLong,
          BigDecimal(s.map(_._2).sum).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    assert(got.keySet == expect.keySet)
    expect.foreach { case (k, (c, v)) =>
      assert(got(k)._1 == c, s"key $k count")
      assert(math.abs(got(k)._2 - v) < 1e-6, s"key $k sum")
    }
    // the grid must actually produce boundary hits for this to test them
    val boundaryHits = events.groupBy(_._1).values.map { evs =>
      val ts = evs.map(_._2).distinct.sorted
      ts.sliding(2).count { case Seq(a, b) => b - a == gapSec; case _ => false }
    }.sum
    assert(boundaryHits > 0, "generator produced no exact prev+gap boundary events")
  }

  test("CDC parse inverts toEnvelope for arbitrary field values") {
    val genRow = for {
      ref <- Gen.choose(0L, Long.MaxValue / 2)
      cid <- Gen.choose(0L, 1000000L)
      name <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(20).mkString.toLowerCase)
      ms <- Gen.choose(1_000_000_000_000L, 2_000_000_000_000L)
    } yield (ref, cid, name, ms)
    val rows = sampleN(genRow, 60)
    val src = rows.toDF("ref", "city_id", "city_name", "c_ms")
    val out = CdcIngest.parse(CdcIngest.toEnvelope(src, "c_ms"), "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == rows.map(r => (r._1, r._2, r._3)).toSet)
  }

  test("CDC parseGood ≡ parse(goodRecords) as a multiset on generated envelope mixes") {
    // every class a CDC feed produces: good, mixed-case keys, a null or
    // extra `after` field, truncated JSON, a non-object `value`, a
    // missing `after`, garbage and a null payload
    def q(s: String) = "\\\"" + s + "\\\""
    def envelope(fields: Seq[(String, String)], keyCase: String => String): String = {
      val after = fields.map { case (k, v) => s"${q(keyCase(k))}: $v" }.mkString(", ")
      s"""{"${keyCase("value")}": "{${q(keyCase("after"))}: {$after}}"}"""
    }
    val genGood = for {
      ref <- Gen.oneOf(Gen.choose(0L, Long.MaxValue / 2).map(_.toString), Gen.const("null"))
      cid <- Gen.choose(0L, 1000L)
      name <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(12).mkString)
      ms <- Gen.choose(1_000_000_000_000L, 2_000_000_000_000L)
      extra <- Gen.oneOf(Seq.empty, Seq("population" -> "24870000"))
      upper <- Gen.oneOf(false, true)
    } yield envelope(
      Seq("ref" -> ref, "city_id" -> cid.toString, "city_name" -> q(name),
        "c_time" -> ms.toString) ++ extra,
      k => if (upper) k.toUpperCase else k)
    val genPayload: Gen[String] = Gen.frequency(
      6 -> genGood,
      1 -> (for (g <- genGood; n <- Gen.choose(1, g.length - 1)) yield g.take(n)),
      1 -> Gen.oneOf("""{"value": "42"}""", """{"value": "[1, 2]"}""",
        """{"value": "\"s\""}"""),
      1 -> Gen.const("""{"value": "{\"other\": 1}"}"""),
      1 -> Gen.oneOf("not json at all", "", null))
    val df = sampleN(genPayload, 600).toDF("payload")
    def bag(d: org.apache.spark.sql.DataFrame) =
      d.collect().toSeq.map(_.toString).groupBy(identity).view.mapValues(_.size).toMap
    val good = bag(CdcIngest.parseGood(df, "payload"))
    assert(good == bag(CdcIngest.parse(CdcIngest.goodRecords(df, "payload"), "payload")))
    // the mix exercises both sides of the split
    val nGood = good.values.sum
    assert(nGood > 300 && nGood < 600, s"$nGood good rows")
  }

  test("packSequences ≡ local sequential pack on generated token counts") {
    // random (id, nTokens) corpora incl. nt=1 and nt >> capacity;
    // property: the operator's window arithmetic equals a literal local
    // fold that lays docs end-to-end per shard in id order
    import graft.operators.Pipelines
    val genRow = for {
      id <- Gen.choose(0L, 100000L)
      nt <- Gen.frequency(3 -> Gen.choose(1, 40), 1 -> Gen.const(1),
        1 -> Gen.choose(300, 700))
    } yield (id, nt)
    for (seed <- Seq(3L, 19L)) {
      val rows = sampleN(genRow, 150, seed).distinctBy(_._1)
      val capacity = 256
      val df = rows.toDF("doc_id", "nt")
      val out = Pipelines.packSequences(df, "doc_id", "nt", capacity, shards = 4)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      // local reference: shard via the same xxhash (read back from Spark),
      // then a plain sequential fold per shard
      val shardOf = df.select(col("doc_id"),
          pmod(xxhash64(col("doc_id")), lit(4L)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows.groupBy(r => shardOf(r._1)).foreach { case (shard, docs) =>
        var cum = 0L
        docs.sortBy(_._1).foreach { case (id, nt) =>
          val (oShard, oNt, oGs, oSb, oEb, oOff) = out(id)
          assert(oShard == shard && oNt == nt.toLong)
          assert(oGs == cum, s"doc $id gstart")
          assert(oSb == cum / capacity && oOff == cum % capacity)
          assert(oEb == (cum + nt - 1) / capacity)
          cum += nt
        }
      }
    }
  }

  test("mediaPHash is chunk-multiset invariant: aligned chunk permutation preserves the fingerprint") {
    import graft.operators.Multimodal
    // payloads built from whole 32-byte chunks, so a permutation of the
    // chunks stays boundary-aligned — the fingerprint is a vote fold
    // over the chunk MULTISET and must not see the order
    val rnd = new scala.util.Random(11)
    def randChunk = (0 until 32).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val chunksPerDoc = (0 until 20).map(_ => Seq.fill(8)(randChunk))
    val rows = chunksPerDoc.zipWithIndex.flatMap { case (cs, i) =>
      Seq((i.toLong, cs.mkString("")),
        (1000L + i, rnd.shuffle(cs).mkString("")))
    }
    val df = Multimodal.withBinaryPayload(rows.toDF("doc_id", "text"), "text")
    val fps = Multimodal.mediaPHash(df, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps.size == 40)
    (0 until 20).foreach { i =>
      assert(fps(i.toLong) == fps(1000L + i), s"doc $i: permuted chunks changed the fingerprint")
    }
  }

  test("semDeDup ≡ local non-dominated-set on generated vectors with planted exact dups and ties") {
    // corpus: random gaussians + EXACT duplicates (identical cent_cos →
    // the id tie-break path runs on every planted pair) + scalar
    // multiples (cosine 1 to their base, but a different L2 argmin cell
    // is possible — the replica must agree on cell assignment, not
    // assume co-location)
    val rnd = new scala.util.Random(3)
    val base = (0 until 50).map(_ => Array.fill(8)(rnd.nextGaussian()))
    val all: Seq[(Long, Array[Double])] =
      base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
        base.take(15).zipWithIndex.map { case (v, i) => (100L + i, v.clone()) } ++
        base.take(10).zipWithIndex.map { case (v, i) => (200L + i, v.map(_ * 1.5)) }
    val df = spark.createDataFrame(all.map { case (id, v) => (id, v.toSeq) })
      .toDF("vec_id", "embedding")
    val tau = 0.9
    val cs = Similarity.ivfTrain(df, "vec_id", "embedding",
      nCells = 4, lloydIters = 2, trainCap = 4096)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val local = all.map { case (id, v) =>
      val cell = Similarity.nearestCell(v, cs)
      val cv = cs(cell)
      val nrm = math.sqrt(dot(v, v))
      (id, cell, round4(dot(v, cv) / (nrm * math.sqrt(dot(cv, cv)))),
        v.map(_ / nrm))
    }
    val expDropped = local.filter { case (id, cell, cc, u) =>
      local.exists { case (id2, cell2, cc2, u2) =>
        id2 != id && cell2 == cell &&
          (cc2 < cc || (cc2 == cc && id2 < id)) && dot(u, u2) >= tau
      }
    }.map(_._1).toSet
    assert(expDropped.size >= 15,
      s"planted dups must force drops, got ${expDropped.size}")
    val got = Similarity.semDeDup(df, "vec_id", "embedding", tau = tau,
        nCells = 4, lloydIters = 2, trainCap = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.length == all.length)
    val localBy = local.map(t => t._1 -> t).toMap
    got.foreach { case (id, cell, cc, keep) =>
      val (_, eCell, eCc, _) = localBy(id)
      assert(cell == eCell.toLong, s"vec $id cell")
      assert(cc == eCc, s"vec $id cent_cos")
      assert(keep == !expDropped(id), s"vec $id keep")
    }
  }

  test("editDistancePairs ≡ brute force on random equal-length strings (maxDist 1 and 2)") {
    // random fixed-alphabet strings of two lengths across two blocks —
    // plenty of accidental distance-1/2 pairs at |Σ|=3, len 6
    val rnd = new scala.util.Random(31)
    val rows = (0 until 140).map { i =>
      val len = if (i % 2 == 0) 6 else 7
      val s = Seq.fill(len)(('a' + rnd.nextInt(3)).toChar).mkString
      (i.toLong, s, i % 2) // block by parity (≡ length here, also mixed)
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def hamming(a: String, b: String): Int =
      a.zip(b).count { case (x, y) => x != y }
    val df = rows.toDF("id", "nm", "blk")
    for (k <- Seq(1, 2)) {
      val got = graft.operators.Linkage
        .editDistancePairs(df, "id", "nm", Seq("blk"), maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // contract: ALL equal-length ≤k-substitution pairs are found with
      // their true edit distance …
      val subPairs = (for {
        (i1, n1, b1) <- rows; (i2, n2, b2) <- rows
        if i1 < i2 && b1 == b2 && n1.length == n2.length
        if hamming(n1, n2) <= k
      } yield (i1, i2, lev(n1, n2).toLong)).toSet
      assert(subPairs.subsetOf(got), s"k=$k missed ${subPairs -- got}")
      // … and nothing outside the declared filter ever leaks out
      got.foreach { case (i1, i2, d) =>
        val n1 = rows(i1.toInt)._2; val n2 = rows(i2.toInt)._2
        assert(n1.length == n2.length && d == lev(n1, n2) && d <= k,
          s"k=$k bogus pair ($i1,$i2,$d)")
      }
      if (k == 1) assert(got == subPairs) // masked front is exact at k=1
    }
  }

  test("funnelStages ≡ local first-touch replay on generated event streams") {
    val rnd = new scala.util.Random(17)
    val types = Seq("a", "b", "c")
    val events = (0 until 2000).map { i =>
      (i.toLong, rnd.nextInt(60).toLong,
        types(rnd.nextInt(types.size)),
        new java.sql.Timestamp(rnd.nextInt(100000) * 1000L))
    }
    val df = events.toDF("eid", "uid", "etype", "t")
    val gap = 20000L
    val got = graft.operators.EventAnalytics
      .funnelStages(df, "uid", "etype", "t", Seq("a", "b", "c"), gap)
      .orderBy("stage").collect().map(_.getLong(2)).toSeq
    // local replay of the same first-touch recurrence
    val byUser = events.groupBy(_._2)
    def stageTimes(prev: Map[Long, Long], stage: String): Map[Long, Long] =
      prev.flatMap { case (u, t0) =>
        byUser(u).collect {
          case (_, _, tp, ts) if tp == stage &&
            ts.getTime > t0 && ts.getTime <= t0 + gap * 1000L => ts.getTime
        }.reduceOption(_ min _).map(u -> _)
      }
    val s1 = byUser.flatMap { case (u, es) =>
      es.collect { case (_, _, "a", ts) => ts.getTime }
        .reduceOption(_ min _).map(u -> _)
    }.toMap
    val s2 = stageTimes(s1, "b")
    val s3 = stageTimes(s2, "c")
    assert(got == Seq(s1.size.toLong, s2.size.toLong, s3.size.toLong))
    assert(s1.size > s2.size && s2.size > s3.size) // generator discriminates
  }

  test("attribution ≡ local replay on generated event streams") {
    val rnd = new scala.util.Random(23)
    val types = Seq("click", "view", "email", "buy")
    val events = (0 until 2000).map { i =>
      (i.toLong, rnd.nextInt(50).toLong,
        types(rnd.nextInt(types.size)),
        rnd.nextInt(100000).toLong)
    }
    val df = events.map { case (eid, uid, tp, sec) =>
      (eid, uid, tp, new java.sql.Timestamp(sec * 1000L))
    }.toDF("eid", "uid", "etype", "t")
    val touchTypes = Seq("click", "view", "email")
    val look = 30000L
    val got = graft.operators.EventAnalytics
      .attribution(df, "uid", "etype", "t", "eid", touchTypes, "buy",
        lookbackSec = look)
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // local replay: per conversion, its window touches; last by (t, eid)
    val convs = events.filter(_._3 == "buy")
    val last = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val linear = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    convs.foreach { case (_, cu, _, cts) =>
      val win = events.filter { case (_, u, tp, ts) =>
        u == cu && touchTypes.contains(tp) &&
          ts >= cts - look && ts < cts }
      if (win.nonEmpty) {
        val w = win.maxBy { case (eid, _, _, ts) => (ts, eid) }
        last(w._3) += 1
        win.foreach { case (_, _, tp, _) =>
          linear(tp) += 1.0 / win.size }
      }
    }
    val want = touchTypes.sorted.map(c =>
      (c, last(c), math.rint(linear(c) * 1e6) / 1e6))
    assert(got.map(x => (x._1, x._2)) == want.map(x => (x._1, x._2)))
    got.zip(want).foreach { case ((c, _, l), (_, _, le)) =>
      assert(math.abs(l - le) < 1e-6, s"linear $c") }
    assert(got.map(_._2).sum > 50, "generator should attribute plenty")
  }

  test("bfsHops ≡ a local level-BFS on seeded random digraphs (two seed sets, two caps)") {
    import graft.operators.Graphs
    val rnd = new scala.util.Random(2024)
    val n = 40
    val edges = (0 until 150).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    def localBfs(seeds: Seq[Long], cap: Int): Map[Long, Long] = {
      var dist = seeds.distinct.map(_ -> 0L).toMap
      var frontier = seeds.distinct
      var h = 1L
      while (h <= cap && frontier.nonEmpty) {
        val nxt = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .distinct.filterNot(dist.contains)
        nxt.foreach(v => dist += v -> h)
        frontier = nxt
        h += 1
      }
      dist
    }
    val edf = edges.toDF("s", "t").cache()
    edf.count()
    for ((seeds, cap) <- Seq((Seq(0L), 3), (Seq(1L, 2L, 3L), 50))) {
      val got = Graphs.bfsHops(edf, "s", "t", seeds.toDF("n"), "n", cap)
        .as[(Long, Long)].collect().toMap
      assert(got == localBfs(seeds, cap), s"seeds=$seeds cap=$cap")
    }
    edf.unpersist()
  }

  test("tokenDrift invariants on generated corpora: KL ≥ 0 (Gibbs), JS ∈ [0, ln 2], zero iff same counts") {
    import graft.operators.Pipelines
    val rnd = new scala.util.Random(9)
    def corpus(vocab: Int, docs: Int, off: Int) = (1 to docs).map { i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(20))(
        s"w${off + rnd.nextInt(vocab)}").mkString(" "))
    }
    for (trial <- 1 to 3) {
      val a = corpus(15, 10, 0).toDF("id", "text")
      val b = corpus(15, 10, trial * 3).toDF("id", "text") // partial overlap
      val r = Pipelines.tokenDrift(a, b, "text")
        .as[(Long, Long, Long, Double, Double, Double)].head()
      assert(r._4 >= 0.0 && r._5 >= 0.0, s"trial $trial: KL must be ≥ 0")
      assert(r._6 >= 0.0 && r._6 <= math.log(2.0) + 1e-9, s"trial $trial: JS bound")
      // permuting doc ids preserves counts → all three divergences zero
      val sameCounts = Pipelines.tokenDrift(
        a, a.withColumn("id", -col("id")), "text")
        .as[(Long, Long, Long, Double, Double, Double)].head()
      assert(sameCounts._4 == 0.0 && sameCounts._5 == 0.0 && sameCounts._6 == 0.0)
    }
  }

  test("overflow sweep: audited ops stay exact on extreme-magnitude frames (ANSI on)") {
    import graft.operators.Pipelines
    // Each frame here would wrap a long accumulator (ANSI — the session
    // default — turns the wrap into a hard error); the decimal
    // accumulators keep every sum an exact integer. Ops whose addends
    // are bounded ≤ 1e12 by construction (diversityStats' pico-unit
    // terms) can't be wrapped by a unit-test-sized frame — those get an
    // exact-agreement check against a local BigInt fold instead, with
    // wrap-proofing carried by the accumulator TYPE.
    //
    // groupZScore: x² ≈ 9e18 PER ROW → Σx² ≈ 2.7e19 > Long.MaxValue
    val z = Pipelines.groupZScore(
      Seq(("g", 3000000000L), ("g", 3100000000L), ("g", 2900000000L))
        .toDF("k", "x"), "k", "x")
      .select("x", "z").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(z == Map(3000000000L -> 0.0, 3100000000L -> 1.0,
      2900000000L -> -1.0), z.toString)

    // weightedQuantile: Σ micro-unit weights = 1e19 > Long.MaxValue
    val wq = Pipelines.weightedQuantile(
      Seq(("g", 1.0, 4.0e12), ("g", 2.0, 3.0e12), ("g", 3.0, 3.0e12))
        .toDF("k", "v", "w"), "k", "v", "w", p = 0.5)
      .collect().head
    assert(wq.getLong(1) == 3L && wq.getDouble(2) == 1.0e13 &&
      wq.getDouble(3) == 2.0, wq.toString)

    // calibrationBins: one malformed 1e14 score is 1e20 micro-units —
    // over Long.MaxValue in a SINGLE row; it must clamp into the top
    // bin and surface through mean_score, not die in the quantizer
    val cbRows = Seq.fill(3)((1.0e14, 1L)) ++ Seq((-0.5, 0L), (0.25, 1L))
    val cb = Pipelines.calibrationBins(cbRows.toDF("score", "label"),
        "score", "label", bins = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(cb.keySet == Set(0L, 2L, 9L), cb.keySet.toString)
    assert(cb(9L).getDouble(2) == 1.0e14) // the loud malformed-scorer signal
    val gq = BigInt("300000000000000000000") - 3000000 + // bin 9
      500000 +                                           // bin 0: |0 − (−5e5)|
      750000                                             // bin 2: |1e6 − 2.5e5|
    val eceExpect = BigDecimal(gq.toDouble / 1e6 / 5)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(cb(9L).getDouble(5) == eceExpect, cb(9L).toString)

    // diversityStats: 2000-class group — exact agreement with a local
    // BigInt pico-unit fold (the identical quantize-then-sum contract)
    val rows = (0 until 2000).flatMap(i => Seq.fill(1 + i % 7)(("g", s"c$i")))
    val ds = Pipelines.diversityStats(rows.toDF("k", "cat"), "k", "cat")
      .collect().head
    val n = rows.size.toDouble
    val counts = (0 until 2000).map(i => 1 + i % 7)
    val hLoc = counts.map { c =>
      BigInt(math.round(-(c / n) * math.log(c / n) * 1e12)) }.sum
    val sLoc = counts.map { c =>
      BigInt(math.round((c / n) * (c / n) * 1e12)) }.sum
    assert(ds.getLong(1) == rows.size.toLong && ds.getLong(2) == 2000L)
    def q6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ds.getDouble(3) == q6(hLoc.toDouble / 1e12), ds.toString)
    assert(ds.getDouble(4) == q6(sLoc.toDouble / 1e12), ds.toString)
  }
}
