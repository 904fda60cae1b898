package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 second batch: content checksums, z-order clustering, LSH
  * band tuning, vocabulary growth, class weights.
  */
class Round5bSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("core_row_checksum matches an independent JVM md5 reference") {
    // Reference digests computed with java.security.MessageDigest over
    // the collected rows — a second implementation of the whole digest,
    // not a rerun of the SQL one.
    val rows = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("lang", "doc_id", "text").collect()
    val ref = rows.groupBy(_.getString(0)).map { case (lang, rs) =>
      val hs = rs.map { r =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"${r.getLong(1)}|${r.getString(2)}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16)
      }
      lang -> ((rs.size.toLong, hs.reduce(_ ^ _), hs.map(_ % 100000007L).sum))
    }
    val got = Registry.byKey("core_row_checksum").query(spark, TestSpark.sf).collect()
    assert(got.map(_.getString(0)).toSet == ref.keySet)
    got.foreach { r =>
      val (n, x, s) = ref(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == x && r.getLong(3) == s,
        s"digest mismatch for lang ${r.getString(0)}")
    }
  }

  test("core_zorder_cluster buckets bound BOTH dimension spans") {
    // A z-range bucket of 32 fixes z-bits 7..5 = (pb bit 3, cb bit 3,
    // pb bit 2): pb's high 2 bits pinned -> span <= 3; cb's high bit
    // pinned -> span <= 7. That dual bound IS the data-skipping win.
    val got = Registry.byKey("core_zorder_cluster").query(spark, TestSpark.sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(6) <= 3, s"pb_span ${r.getLong(6)} > 3 in bucket ${r.getLong(0)}")
      assert(r.getLong(7) <= 7, s"cb_span ${r.getLong(7)} > 7 in bucket ${r.getLong(0)}")
    }
    val total = got.map(_.getLong(1)).sum
    val orders = spark.read.parquet(s"${TestSpark.sf}/orders.parquet").count()
    assert(total == orders, "every order lands in exactly one z bucket")
  }

  test("zorder Morton key is a bijection on the 16x16 grid") {
    // Same integer formula as the op, evaluated through Spark SQL on
    // all 256 (pb, cb) combos: distinct z values == 256 and decode
    // round-trips (interleave is invertible).
    import spark.implicits._
    val z = (0 to 3).map(i =>
      s"(CAST(floor(cb / ${1 << i}) AS BIGINT) % 2) * ${1L << (2 * i)} + " +
      s"(CAST(floor(pb / ${1 << i}) AS BIGINT) % 2) * ${1L << (2 * i + 1)}")
      .mkString(" + ")
    val grid = (for { pb <- 0 to 15; cb <- 0 to 15 } yield (pb.toLong, cb.toLong))
      .toDF("pb", "cb").withColumn("z", expr(z))
    val rows = grid.collect()
    assert(rows.map(_.getLong(2)).distinct.length == 256)
    rows.foreach { r =>
      val zi = r.getLong(2)
      val cb = (0 to 3).map(i => ((zi >> (2 * i)) & 1L) << i).sum
      val pb = (0 to 3).map(i => ((zi >> (2 * i + 1)) & 1L) << i).sum
      assert(pb == r.getLong(0) && cb == r.getLong(1), s"decode($zi) failed")
    }
  }

  test("llm_minhash_band_tuning: threshold falls and sensitivity rises with more bands") {
    val got = Registry.byKey("llm_minhash_band_tuning").query(spark, TestSpark.sf)
      .orderBy("b").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(4L, 8L, 16L, 32L, 64L))
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) < a.getLong(2), "threshold strictly decreasing in b")
      assert(b.getLong(4) >= a.getLong(4), "p70 non-decreasing in b")
    }
    got.foreach { r =>
      assert(r.getLong(3) <= r.getLong(4) && r.getLong(4) <= r.getLong(5) &&
        r.getLong(5) <= r.getLong(6), "S-curve monotone in similarity")
    }
    // the production banding (b=32, r=4) catches s=0.7 pairs with p > 0.99
    val prod = got.find(_.getLong(0) == 32L).get
    assert(prod.getLong(4) >= 990, s"b=32 p70 = ${prod.getLong(4)}")
  }

  test("llm_vocab_growth accumulates to the exact distinct vocabulary") {
    val got = Registry.byKey("llm_vocab_growth").query(spark, TestSpark.sf)
      .orderBy("decile").collect()
    val vocab = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .distinct().count()
    assert(got.map(_.getLong(1)).sum == vocab, "new_tokens partitions the vocabulary")
    assert(got.last.getLong(2) == vocab, "final cumulative == full vocabulary")
    assert(got.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 9))
    got.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
      assert(b.getLong(2) == a.getLong(2) + b.getLong(1), "cumulative sums chain")
    }
  }

  test("llm_logreg_train matches a sequential reimplementation bit-for-bit") {
    // Full training replayed in plain Scala (same quantization, same
    // fold order, same IEEE update tree) — independent of Spark SQL.
    val rows = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .select("label", "embedding").collect()
    val data = rows.map { r =>
      val y = if (r.getInt(0) >= 5) 1L else 0L
      val xq = r.getSeq[Float](1).map(v => math.floor(v.toDouble * 10000).toLong).toArray
      (y, xq)
    }
    val n = data.length.toLong
    var w = Array.fill(64)(0.0)
    def sfp(xq: Array[Long]): Long = {
      var m = 0.0
      var j = 0
      while (j < 64) { m = m + w(j) * xq(j).toDouble; j += 1 }
      val mc = math.max(-30.0, math.min(30.0, m))
      math.floor(1.0 / (1.0 + math.exp(-mc)) * 1000000.0 + 0.000000001).toLong
    }
    for (_ <- 1 to 3) {
      val g = Array.fill(64)(0L)
      data.foreach { case (y, xq) =>
        val r = sfp(xq) - y * 1000000L
        var j = 0
        while (j < 64) { g(j) += r * xq(j); j += 1 }
      }
      w = Array.tabulate(64)(j => w(j) - 5.0 * (g(j).toDouble / (1.0e10 * n)))
    }
    val nCorrect = data.count { case (y, xq) => (sfp(xq) >= 500000L) == (y == 1L) }.toLong
    def fp(x: Double) = math.floor(x * 100000000.0 + 0.000000001).toLong

    val got = Registry.byKey("llm_logreg_train").query(spark, TestSpark.sf).head()
    assert(got.getLong(0) == n && got.getLong(1) == nCorrect,
      s"n/accuracy mismatch: got (${got.getLong(0)}, ${got.getLong(1)}), want ($n, $nCorrect)")
    (0 until 8).foreach(i =>
      assert(got.getLong(3 + i) == fp(w(i)), s"weight w${i + 1} diverged"))
    assert((0 until 8).exists(i => got.getLong(3 + i) != 0L),
      "training moved the weights off the origin")
  }

  test("llm_embedding_pca matches a sequential power-iteration replay") {
    val xs = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(v => math.floor(v.toDouble * 10000).toLong).toArray)
    var v = Array.fill(64)(0.125)
    var nrm = 0.0
    for (_ <- 1 to 3) {
      val u = Array.fill(64)(0L)
      xs.foreach { xq =>
        var m = 0.0
        var j = 0
        while (j < 64) { m = m + v(j) * xq(j).toDouble; j += 1 }
        val s = math.floor(m + 0.000001).toLong
        j = 0
        while (j < 64) { u(j) += s * xq(j); j += 1 }
      }
      var norm2 = 0.0
      var j = 0
      while (j < 64) { norm2 = norm2 + u(j).toDouble * u(j).toDouble; j += 1 }
      nrm = math.sqrt(norm2)
      v = Array.tabulate(64)(j => u(j).toDouble / nrm)
    }
    def fp(x: Double) = math.floor(x * 100000000.0 + 0.000000001).toLong
    val got = Registry.byKey("llm_embedding_pca").query(spark, TestSpark.sf).head()
    assert(got.getLong(0) == math.floor(nrm + 0.000001).toLong, "eigenvalue proxy")
    (0 until 8).foreach(i =>
      assert(got.getLong(1 + i) == fp(v(i)), s"component v${i + 1} diverged"))
    // the direction is unit-norm: sum over ALL 64 of v^2 == 1 (replay side)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
  }

  test("llm_quality_classifier_gate is consistent with the trainer's accuracy") {
    // pass = predicted positive. For y=1 labels (>= 5) passes are the
    // correct predictions; for y=0 labels the correct ones are the
    // non-passes — so the gate's per-label counts must reassemble the
    // trainer's global n_correct exactly.
    val gate = Registry.byKey("llm_quality_classifier_gate").query(spark, TestSpark.sf).collect()
    val train = Registry.byKey("llm_logreg_train").query(spark, TestSpark.sf).head()
    val total = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet").count()
    assert(gate.map(_.getLong(1)).sum == total, "every vector is gated exactly once")
    val reassembled = gate.map { r =>
      val (label, n, nPass) = (r.getInt(0), r.getLong(1), r.getLong(2))
      if (label >= 5) nPass else n - nPass
    }.sum
    assert(reassembled == train.getLong(1),
      s"gate counts reassemble n_correct: $reassembled vs ${train.getLong(1)}")
    gate.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("llm_kmeans_inertia covers every vector and Lloyd iterations reduce it") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    def inertia(iters: Int): Long = {
      val cent = api.AnnIndex.train(emb, k = 10, iters = iters)
      api.AnnIndex.assign(emb, cent)
        .join(broadcast(cent.select("c_id", "c_vec")), "c_id")
        .withColumn("d2", expr(api.AnnIndex.d2("embedding")))
        .agg(sum(expr("CAST(floor(d2 * 10000 + 0.000001) AS BIGINT)")))
        .head().getLong(0)
    }
    val got = Registry.byKey("llm_kmeans_inertia").query(spark, TestSpark.sf).collect()
    assert(got.map(_.getLong(1)).sum == emb.count(), "every vector is assigned once")
    assert(got.map(_.getLong(2)).sum == inertia(3), "op total == direct recomputation")
    // Lloyd monotonicity (0.1% slack for the fixed-point centroid
    // quantization, which can nudge an update off the exact mean)
    assert(got.map(_.getLong(2)).sum <= (inertia(1) * 1.001).toLong,
      "three iterations must not be worse than one")
  }

  test("classifier calibration and ROC sweep are internally consistent") {
    val total = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet").count()
    val cal = Registry.byKey("llm_classifier_calibration").query(spark, TestSpark.sf).collect()
    assert(cal.map(_.getLong(1)).sum == total, "calibration bins partition the corpus")
    cal.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000, "mean score in [0, 1]")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      // a decile's mean quantized score lies inside the decile (top bin
      // absorbs the s_fp = 1e6 edge)
      val bin = r.getLong(0)
      assert(r.getLong(2) >= bin * 100000 &&
        r.getLong(2) <= (if (bin == 9) 1000000L else (bin + 1) * 100000 - 1))
    }
    val roc = Registry.byKey("llm_classifier_roc").query(spark, TestSpark.sf)
      .orderBy("th_fp").collect()
    assert(roc.length == 5)
    roc.foreach(r => assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) == total))
    val positives = roc.map(r => r.getLong(1) + r.getLong(4)).distinct
    assert(positives.length == 1, "tp + fn is the positive count at every threshold")
    roc.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
      assert(b.getLong(1) <= a.getLong(1), "tp non-increasing as the threshold rises")
    }
  }

  test("llm_embedding_dim_stats matches a driver-side recomputation") {
    val xs = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(v => math.floor(v.toDouble * 10000).toLong).toArray)
    val got = Registry.byKey("llm_embedding_dim_stats").query(spark, TestSpark.sf)
      .orderBy("pos").collect()
    assert(got.length == 64 && got.forall(_.getLong(1) == xs.length.toLong))
    val n = xs.length.toLong
    (0 until 64).foreach { j =>
      val sx = xs.map(_(j)).sum
      val sxx = xs.map(x => x(j) * x(j)).sum
      val meanFp = math.floor(sx.toDouble / n / 10000.0 * 1000000 + 0.000001).toLong
      val varFp = math.floor((sxx.toDouble - sx.toDouble * sx.toDouble / n)
        / (100000000.0 * n) * 1000000 + 0.000001).toLong
      assert(got(j).getLong(2) == meanFp && got(j).getLong(3) == varFp,
        s"dimension ${j + 1} moments diverged")
    }
  }

  test("llm_embedding_whiten_check lands on mean ~0 / var ~1 per dimension") {
    val got = Registry.byKey("llm_embedding_whiten_check").query(spark, TestSpark.sf)
      .orderBy("pos").collect()
    assert(got.length == 64)
    got.foreach { r =>
      assert(math.abs(r.getLong(1)) <= 1500,
        s"post-whitening mean off zero at dim ${r.getLong(0)}: ${r.getLong(1)}")
      assert(math.abs(r.getLong(2) - 1000000L) <= 10000,
        s"post-whitening var off 1.0 at dim ${r.getLong(0)}: ${r.getLong(2)}")
    }
  }

  test("one training job serves the whole classifier family per session") {
    val before = api.Models.trains
    Registry.byKey("llm_quality_classifier_gate").query(spark, TestSpark.sf).count()
    Registry.byKey("llm_classifier_calibration").query(spark, TestSpark.sf).count()
    Registry.byKey("llm_classifier_roc").query(spark, TestSpark.sf).count()
    Registry.byKey("llm_logreg_train").query(spark, TestSpark.sf).count()
    assert(api.Models.trains - before <= 1,
      s"classifier family must share one training (ran ${api.Models.trains - before})")
    val snap = api.Models.trains
    Registry.byKey("llm_quality_classifier_gate").query(spark, TestSpark.sf).count()
    assert(api.Models.trains == snap, "second pass is fully cached")
  }

  test("one Lloyd run serves kmeans-train, trained-IVF and inertia per session") {
    val before = api.AnnIndex.trainJobs
    Registry.byKey("llm_kmeans_train").query(spark, TestSpark.sf).count()
    Registry.byKey("llm_kmeans_inertia").query(spark, TestSpark.sf).count()
    Registry.byKey("llm_ann_ivf_trained").query(spark, TestSpark.sf).count()
    assert(api.AnnIndex.trainJobs - before <= 1,
      s"kmeans family must share one training (ran ${api.AnnIndex.trainJobs - before})")
  }

  test("train is trainSubspaces with one full-width subspace: one Lloyd loop") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val full = api.AnnIndex.train(emb, 8, 2)
    val sub = api.AnnIndex.trainSubspaces(spark, TestSpark.sf, 1, 64, 8, 2)
      .where("m = 0").select("c_id", "n", "c_vec")
    assert(!full.isEmpty)
    assert(full.exceptAll(sub).isEmpty && sub.exceptAll(full).isEmpty,
      "the m = 0 codebook of a 1 x 64 split must equal train's centroids exactly")
  }

  test("llm_minhash_recall buckets partition the exact-jaccard truth set") {
    val got = Registry.byKey("llm_minhash_recall").query(spark, TestSpark.sf).collect()
    assert(got.nonEmpty, "sf0.001 carries near-dup pairs")
    got.foreach { r =>
      assert(r.getLong(0) >= 2 && r.getLong(0) <= 9, "jaccard >= 0.2 => buckets 2..9")
      assert(r.getLong(2) <= r.getLong(1), "hits bounded by truth")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L)
    }
    val nTrue = got.map(_.getLong(1)).sum
    val truthViaCluster = Registry.byKey("llm_ngram_jaccard").query(spark, TestSpark.sf).count()
    assert(nTrue == truthViaCluster,
      s"bucket counts must partition the truth pairs ($nTrue vs $truthViaCluster)")
  }

  test("llm_class_weights satisfies the exact floor-division bound") {
    val got = Registry.byKey("llm_class_weights").query(spark, TestSpark.sf).collect()
    assert(got.length == 10)
    got.foreach { r =>
      val (n, total, k, w) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(w * k * n <= total * 1000000L && total * 1000000L < (w + 1) * k * n,
        s"weight_fp ${w} is not floor(total*1e6/(k*n)) for label ${r.getInt(0)}")
    }
  }
}
