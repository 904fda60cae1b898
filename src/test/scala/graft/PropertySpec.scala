package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5.3): dedupe idempotence, accumulator
  * associativity, cosine bounds, sessionization trick == session_window.
  * Drives scalacheck Gens directly with fixed seeds (the scalatest
  * bridge artifact is not available offline).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def forSamples[A](gen: Gen[A], n: Int = 5)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default.withSize(50), Seed(i.toLong)))
    }

  private val eventsGen: Gen[List[(Long, Long, Long)]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(0L, 3L)
      offMin <- Gen.choose(0L, 300L)
    } yield (u, offMin))
  } yield rows.zipWithIndex.map { case ((u, off), i) => (u, i.toLong, off) }

  private def toDf(rows: List[(Long, Long, Long)]) = {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    rows.map { case (u, id, off) =>
      (u, id, new java.sql.Timestamp(t0 + off * 60000L)) }
      .toDF("user_id", "event_id", "ts")
  }

  test("sessionization window-trick equals session_window") {
    forSamples(eventsGen) { rows =>
      val df = toDf(rows)
      val trick = graft.ops.StreamingOps.sessionizeBatch(df)
        .groupBy("user_id", "session_id")
        .agg(min("ts").as("s"), count(lit(1)).as("n"))
        .select("user_id", "s", "n")
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      val native = df
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("w.start").as("s"), col("n"))
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      assert(trick == native)
    }
  }

  test("dedupe-keep-latest is idempotent") {
    forSamples(eventsGen) { rows =>
      val df = toDf(rows)
      def dedupe(d: org.apache.spark.sql.DataFrame) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        d.withColumn("rn", row_number().over(w)).where("rn = 1").drop("rn")
      }
      val once = dedupe(df).collect().toSet
      val twice = dedupe(dedupe(df)).collect().toSet
      assert(once == twice)
    }
  }

  test("accumulator (unionByName) is associative in row multiset") {
    forSamples(Gen.listOfN(3, Gen.choose(0, 20))) { sizes =>
      val dfs = sizes.zipWithIndex.map { case (n, i) =>
        (0 until n).map(j => (i, j)).toDF("block", "v") }
      val leftFold = dfs.reduceLeftOption((a, b) => a.unionByName(b))
      val rightFold = dfs.reverse.reduceLeftOption((a, b) => b.unionByName(a))
      val l = leftFold.map(_.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap)
      val r = rightFold.map(_.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap)
      assert(l == r)
    }
  }

  test("decimal-stabilized sum is invariant to partitioning") {
    forSamples(Gen.listOfN(200, Gen.choose(-1e6, 1e6).map(x => math.round(x * 10000) / 10000.0)), n = 3) { xs =>
      val df = xs.zipWithIndex.map { case (x, i) => (i, x) }.toDF("i", "x")
      val one = df.coalesce(1).agg(Tables.dsum(col("x"))).head.getDouble(0)
      val many = df.repartition(13).agg(Tables.dsum(col("x"))).head.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(one) == java.lang.Double.doubleToLongBits(many))
    }
  }

  test("TopKAggregator == sorted take(k) for any data and any partitioning") {
    import graft.functions.{Scored, TopKAggregator}
    val rowsGen = for {
      n <- Gen.choose(0, 80)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0L, 4L)
        v <- Gen.choose(-50, 50).map(_.toDouble / 3.0)
      } yield (g, v))
    } yield rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
    forSamples(rowsGen) { rows =>
      val k = 3
      val topk = TopKAggregator.topK(k)
      val df = rows.toDF("g", "v", "id").repartition(7)
      val got = df.groupBy("g")
        .agg(topk(col("v"), col("id")).as("top"))
        .as[(Long, Seq[(Double, Long)])].collect().toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._3)).sortBy { case (v, id) => (-v, id) }.take(k)
      }
      assert(got.view.mapValues(_.toList).toMap == want.view.mapValues(_.toList).toMap)
      // direct unit: merge bound + ordering
      val agg = new TopKAggregator(k)
      val merged = agg.merge(
        Seq(Scored(5, 1), Scored(3, 2)), Seq(Scored(5, 0), Scored(4, 9), Scored(1, 3)))
      assert(merged == Seq(Scored(5, 0), Scored(5, 1), Scored(4, 9)))
    }
  }

  test("MinKByKeyAggregator == sorted take(k) by string key for any partitioning") {
    import graft.functions.{KeyedId, MinKByKeyAggregator}
    val rowsGen = for {
      n <- Gen.choose(0, 80)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0L, 4L)
        key <- Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
      } yield (g, key))
    } yield rows.zipWithIndex.map { case ((g, k), i) => (g, k, i.toLong) }
    forSamples(rowsGen) { rows =>
      val k = 3
      val mink = MinKByKeyAggregator.minKByKey(k)
      val df = rows.toDF("g", "key", "id").repartition(7)
      val got = df.groupBy("g")
        .agg(mink(col("key"), col("id")).as("top"))
        .as[(Long, Seq[(String, Long)])].collect().toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._3)).sortBy(identity).take(k)
      }
      assert(got.view.mapValues(_.toList).toMap == want.view.mapValues(_.toList).toMap)
      val agg = new MinKByKeyAggregator(k)
      val merged = agg.merge(
        Seq(KeyedId("aa", 5), KeyedId("cc", 2)),
        Seq(KeyedId("aa", 1), KeyedId("bb", 9), KeyedId("dd", 3)))
      assert(merged == Seq(KeyedId("aa", 1), KeyedId("aa", 5), KeyedId("bb", 9)))
    }
  }

  test("MinHash estimate is calibrated against true trigram Jaccard on LSH candidates") {
    val est = Registry.byKey("llm_dedup_minhash").query(spark, TestSpark.sf)
      .select(col("d1"), col("d2"), col("est_jaccard"))
    val truth = Registry.byKey("llm_ngram_jaccard").query(spark, TestSpark.sf)
      .select(col("d1"), col("d2"), col("jaccard").as("true_jaccard"))
    val joined = est.join(truth, Seq("d1", "d2"))
      .select("est_jaccard", "true_jaccard")
      .as[(Double, Double)].collect()
    assert(joined.nonEmpty, "LSH candidates and true near-dups must overlap")
    // 16-perm MinHash has std ~ sqrt(j(1-j)/16) <= 0.125; allow 4 sigma
    assert(joined.forall { case (e, t) => math.abs(e - t) <= 0.5 },
      joined.filter { case (e, t) => math.abs(e - t) > 0.5 }.take(5).toSeq.toString)
    val meanErr = joined.map { case (e, t) => math.abs(e - t) }.sum / joined.length
    assert(meanErr <= 0.2, s"mean |est-true| = $meanErr")
  }

  test("cosine fold stays in [-1, 1] and sim(v, v) == 1") {
    val vecGen = Gen.listOfN(8, Gen.choose(-100, 100)).map(_.map(_.toFloat / 7f).toArray)
      .suchThat(v => v.exists(_ != 0f))
    forSamples(Gen.listOfN(6, vecGen), n = 3) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val sims = df.as("x").crossJoin(df.as("y"))
        .select(col("x.id").as("i"), col("y.id").as("j"),
          expr(graft.ops.LlmOps.sim("x.v", "y.v")).as("s"))
        .as[(Long, Long, Double)].collect()
      assert(sims.forall { case (_, _, s) => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9 })
      assert(sims.filter(t => t._1 == t._2).forall(t => math.abs(t._3 - 1.0) < 1e-9))
    }
  }

  test("tolerance as-of == per-row scan reference on random data") {
    val pairGen: Gen[(List[(Long, Long, Long)], List[(Long, Long, Long)])] =
      Gen.zip(eventsGen, eventsGen)
    forSamples(pairGen, n = 4) { case (lRows, rRows) =>
      val tolMin = 45L
      val left = toDf(lRows).toDF("user_id", "click_id", "click_ts")
      val right = toDf(rRows).toDF("user_id", "buy_id", "buy_ts")
      val got = graft.plans.AsOf.join(left, right, Seq("user_id"),
          leftTs = "click_ts", rightTs = "buy_ts",
          payload = Seq("buy_id"), tiebreak = Seq("buy_id"),
          tolerance = Some(tolMin * 60L * 1000000L))
        .select("click_id", "buy_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      // reference: brute-force latest-within-tolerance per left row
      val rIdx = rRows.map { case (u, id, off) => (u, id, off) }
      val want = lRows.map { case (u, id, off) =>
        val cands = rIdx.filter(r =>
          r._1 == u && r._3 <= off && off - r._3 <= tolMin)
        id -> (if (cands.isEmpty) -1L
               else cands.maxBy(r => (r._3, r._2))._2)
      }.toMap
      assert(got == want, s"left=$lRows right=$rRows")
    }
  }

  test("histogram median/MAD == brute-force order statistics on random frames") {
    val valuesGen: Gen[List[(String, Long)]] = for {
      n <- Gen.choose(1, 80)
      rows <- Gen.listOfN(n, for {
        t <- Gen.oneOf("a", "b")
        v <- Gen.choose(-50L, 50L) // duplicates guaranteed: ties exercise the cum bounds
      } yield (t, v))
    } yield rows
    forSamples(valuesGen, n = 8) { rows =>
      val got = graft.ops.Analytics.madOf(rows.toDF("event_type", "v"))
        .select("event_type", "med", "mad", "n")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      val want = rows.groupBy(_._1).map { case (t, rs) =>
        val vs = rs.map(_._2).sorted
        def lower(s: Seq[Long]) = s(((s.size + 1) / 2) - 1)
        val med = lower(vs)
        t -> (med, lower(vs.map(v => math.abs(v - med)).sorted), vs.size.toLong)
      }
      assert(got == want, s"rows=$rows")
    }
  }

  // ---- round-12 store-mutation properties --------------------------------

  private def storeTmp(tag: String) = s"target/tmp/prop_${tag}_${System.nanoTime()}"

  /** Two merge batches over a small key domain. Versions are the row
    * index, so within-batch arbitration (greatest version wins) is
    * deterministic — duplicate (key, version) pairs would leave the
    * tie to row order, which no reference model can replay.
    */
  private val batchesGen: Gen[(List[(Long, Long, Long)], List[(Long, Long, Long)], Long)] =
    for {
      n1 <- Gen.choose(1, 25)
      n2 <- Gen.choose(0, 25)
      ks1 <- Gen.listOfN(n1, Gen.choose(0L, 9L))
      ks2 <- Gen.listOfN(n2, Gen.choose(0L, 9L))
      as1 <- Gen.listOfN(n1, Gen.choose(0L, 50L))
      as2 <- Gen.listOfN(n2, Gen.choose(0L, 50L))
      m <- Gen.choose(2L, 5L)
    } yield (
      ks1.zip(as1).zipWithIndex.map { case ((k, a), i) => (k, a, i.toLong) },
      ks2.zip(as2).zipWithIndex.map { case ((k, a), i) => (k, a, i.toLong) },
      m)

  /** Latest-wins reference model: within a batch the greatest version
    * wins; a later batch overrides stored rows per key outright.
    */
  private def latestOf(rows: List[(Long, Long, Long)]): Map[Long, (Long, Long)] =
    rows.groupBy(_._1).map { case (k, g) =>
      val win = g.maxBy(_._3); k -> (win._2, win._3)
    }

  test("store MERGE + UPDATE + DELETE == the collection reference on random data") {
    forSamples(batchesGen, 3) { case (b1, b2, m) =>
      val d = storeTmp("dml")
      def df(rows: List[(Long, Long, Long)]) = rows.toDF("k", "a", "v")
      api.UpsertStore.update(df(b1), d, "k", "v", nBuckets = 4, batchId = Some("c1"))
      if (b2.nonEmpty)
        api.UpsertStore.update(df(b2), d, "k", "v", nBuckets = 4, batchId = Some("c2"))
      val nUpd = api.UpsertStore.updateRows(spark, d,
        Seq("a" -> expr("a + v")), expr(s"k % $m = 0"))
      val nDel = api.UpsertStore.delete(spark, d, expr("a % 3 = 1"))
      val got = api.UpsertStore.read(spark, d).select("k", "a", "v")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      // reference: latest-wins merge, ANSI update, SQL delete
      val merged = latestOf(b1) ++ latestOf(b2)
      val updated = merged.map { case (k, (a, v)) =>
        if (k % m == 0) (k, (a + v, v)) else (k, (a, v))
      }
      val kept = updated.filterNot { case (_, (a, _)) => a % 3 == 1 }
      val ref = kept.toSeq.map { case (k, (a, v)) => (k, a, v) }.sortBy(_._1)
      assert(got == ref, s"b1=$b1 b2=$b2 m=$m")
      assert(nUpd == updated.keys.count(_ % m == 0).toLong)
      assert(nDel == (updated.size - kept.size).toLong)
      api.StoreIO.delete(spark, d)
    }
  }

  test("incremental matview == from-scratch recompute for random batch sequences") {
    forSamples(batchesGen, 3) { case (b1, b2, m) =>
      val base = storeTmp("mv")
      val d = s"$base/fact"
      val v = s"$base/view"
      def df(rows: List[(Long, Long, Long)]) = rows.toDF("k", "a", "ver")
      def refresh(): Long = api.MatView.refresh(spark, d, "k", v,
        groupCols = Seq("grp" -> expr(s"a % $m")), sumCols = Seq("a"))
      api.UpsertStore.update(df(b1), d, "k", "ver", nBuckets = 4, batchId = Some("c1"))
      refresh()
      if (b2.nonEmpty) {
        api.UpsertStore.update(df(b2), d, "k", "ver", nBuckets = 4, batchId = Some("c2"))
        refresh()
      }
      api.UpsertStore.delete(spark, d, expr("ver % 2 = 1"), batchId = Some("c3"))
      refresh()
      val got = api.MatView.read(spark, v).select("grp", "n_rows", "sum_a")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val want = api.UpsertStore.read(spark, d)
        .groupBy(expr(s"a % $m").as("grp"))
        .agg(count(lit(1)).as("n"), sum("a").as("s"))
        .select("grp", "n", "s")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == want, s"b1=$b1 b2=$b2 m=$m")
      api.StoreIO.delete(spark, base)
    }
  }
}
