package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.Finance

/** Property-based invariants (SURVEY.md §5.2.4), generated with
  * scalacheck `Gen` under fixed seeds (the scalatest-scalacheck bridge
  * isn't in the offline dependency set, so sampling is explicit).
  * Spark jobs per case are expensive → a bounded number of fixtures. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val pctSeries: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.choose(-0.5, 0.5)).map(_.take(30))

  /** Draw n deterministic samples from a generator. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def forAll[A](g: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    samples(g, n).foreach(body)

  test("grow-splice lemma: top-k(S ∪ A) = top-k(top-k(S) ∪ A) on random vector sets") {
    // the identity an incremental seed round over Similarity.navTopK
    // stands on: a node whose candidate set only GREW may merge its
    // prior top-16 with the additions instead of re-ranking the full
    // set. Random vectors, random candidate pairs, random growth split.
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(20, 40)
      dim <- Gen.choose(4, 8)
      seed <- Gen.choose(1, 1000000)
    } yield (n, dim, seed)
    forAll(gen, 4) { case (n, dim, seed) =>
      val rnd = new scala.util.Random(seed)
      val vecs = (0 until n).map { i =>
        val a = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
        (i.toLong, a, math.sqrt(a.map(x => x * x).sum))
      }
      val v = vecs.toDF("vec_id", "v", "norm")
      val all = for {
        i <- 0 until n; j <- 0 until n if i != j && rnd.nextDouble() < 0.6
      } yield (i.toLong, j.toLong)
      val grown = all.filter(_ => rnd.nextDouble() < 0.3) // A: the additions
      val base = all.diff(grown)                          // S: the prior set
      val full = graft.ops.Similarity.navTopK(spark, v,
        all.toDF("node", "nbr_id"), n)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val priorTop = graft.ops.Similarity.navTopK(spark, v,
        base.toDF("node", "nbr_id"), n)
      val spliced = graft.ops.Similarity.navTopK(spark, v,
        priorTop.unionByName(grown.toDF("node", "nbr_id")), n)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(spliced === full,
        s"grow-splice diverged: +${(spliced -- full).size} -${(full -- spliced).size} (n=$n dim=$dim seed=$seed)")
    }
  }

  test("psi: per-bin terms non-negative, cumsum monotone, zero on identical histograms") {
    import spark.implicits._
    val histGen: Gen[Seq[(Long, Long)]] =
      Gen.sequence[Seq[(Long, Long)], (Long, Long)]((0L until 20L).map(b =>
        Gen.choose(0L, 100L).map(n => (b, n))))
    forAll(histGen.flatMap(r => histGen.map(c => (r, c))), n = 4) { case (r, c) =>
      val refDf = r.toDF("bin", "n_ref").where(col("n_ref") =!= 7L) // holes: spine must restore
      val curDf = c.toDF("bin", "n_cur")
      val rows = graft.ops.Text.psiTable(spark, refDf, curDf)
        .orderBy("bin").select("cum_psi").collect().map(_.getDouble(0))
      assert(rows.length === 20)
      // (p−q)·ln(p/q) has matching signs → every term ≥ 0 → the
      // running sum never decreases and the headline PSI is ≥ 0
      assert(rows.zip(rows.tail).forall { case (a, b) => b >= a - 1e-9 })
      assert(rows.head >= 0.0 && rows.last >= 0.0)
      // identical histograms → smoothed p = q in every bin → PSI 0
      val zero = graft.ops.Text.psiTable(spark, curDf.withColumnRenamed("n_cur", "n_ref"), curDf)
        .agg(max(abs(col("cum_psi")))).first().getDouble(0)
      assert(zero === 0.0)
    }
  }

  test("waterfill: allocations sum to the budget, never exceed mass, monotone in mass") {
    import spark.implicits._
    val massGen: Gen[List[Long]] =
      Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 1000L)))
    forAll(massGen, n = 6) { masses =>
      val m = masses.zipWithIndex.map { case (v, i) => (f"s$i%02d", v) }
        .toDF("source", "mass")
      val out = graft.ops.Text.waterfill(m).collect()
      val tot = masses.sum
      val b = tot / 4
      assert(out.map(_.getAs[Long]("alloc")).sum === b)
      assert(out.forall(r => r.getAs[Long]("alloc") >= 0L &&
        r.getAs[Long]("alloc") <= r.getAs[Long]("mass")))
      // max-min fairness: a source with more mass never gets less
      val byMass = out.sortBy(r => (r.getAs[Long]("mass"), r.getAs[String]("source")))
      assert(byMass.zip(byMass.tail).forall { case (a, bb) =>
        a.getAs[Long]("alloc") <= bb.getAs[Long]("alloc") })
    }
  }

  test("kcore peel matches a reference 5-round peel on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(60, for {
        a <- Gen.choose(0L, 24L); b <- Gen.choose(0L, 24L) if a != b
      } yield (math.min(a, b), math.max(a, b))).map(_.distinct)
    def referencePeel(edges0: Set[(Long, Long)]): Map[Long, Int] = {
      var edges = edges0
      var rounds = 0
      var removedSomething = true
      while (rounds < 5 && removedSomething) {
        val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= 2).keySet
        val next = edges.filter(e => keep(e._1) && keep(e._2))
        removedSomething = next != edges
        edges = next
        rounds += 1
      }
      edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    forAll(edgeGen, n = 4) { es =>
      import spark.implicits._
      val und = es.toDF("a", "b")
      // default tier (driver arrays at these sizes, round 16) …
      val got = graft.ops.Similarity.kcoreFrom(spark, und).collect()
        .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(got === referencePeel(es.toSet))
      // … AND the distributed peel rounds the property originally
      // pinned (forced past the driver tier, the TierSpec seam)
      spark.conf.set("graft.graph.collectEdgesMax", "-1")
      val gotDist =
        try graft.ops.Similarity.kcoreFrom(spark, und).collect()
          .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
        finally spark.conf.unset("graft.graph.collectEdgesMax")
      assert(gotDist === referencePeel(es.toSet))
      spark.catalog.clearCache()
    }
  }

  test("gotk telescopes: product of (1+pct) equals end/principal ratio") {
    forAll(pctSeries) { pcts =>
      import spark.implicits._
      val df = pcts.zipWithIndex.map { case (p, i) => (i, p) }.toDF("i", "pct")
      val w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val end = df.withColumn("end", exp(sum(log(lit(1.0) + col("pct"))).over(w)) * 10000.0)
        .orderBy(col("i").desc).limit(1).select("end").first().getDouble(0)
      val expected = pcts.foldLeft(10000.0)((acc, p) => acc * (1 + p))
      assert(math.abs(end - expected) / expected < 1e-9)
    }
  }

  test("interpolation is the identity on gap-free series") {
    forAll(pctSeries) { vals =>
      import spark.implicits._
      val df = vals.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
      val w = Window.orderBy("i")
      val before = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val after = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val out = df
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(before))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(after))
        .withColumn("interp", when(col("v").isNotNull, col("v")).otherwise(col("pv")))
        .where(col("interp") =!= col("v")).count()
      assert(out === 0)
    }
  }

  test("drawdown is never positive and telescoping cumsum is consistent") {
    forAll(pctSeries) { pcts =>
      import spark.implicits._
      val df = pcts.zipWithIndex.map { case (p, i) => (i, p) }.toDF("i", "pct")
      val w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = df
        .withColumn("cum", sum(col("pct")).over(w))
        .withColumn("cummax", max(col("cum")).over(w))
        .withColumn("dd", col("cum") - col("cummax"))
      assert(dd.where(col("dd") > 1e-12).count() === 0)
      assert(dd.agg(min(col("dd"))).first().getDouble(0) <= 0.0)
    }
  }

  test("clusters agree with a union-find oracle on random graphs") {
    // random pair lists (dense small-id space → rich component
    // structure: cliques, chains, isolated pairs) checked row-for-row
    // against an in-memory union-find — the strongest verification the
    // iterative min-label loop can get short of the DuckDB gate
    val pairGen: Gen[List[(Long, Long)]] =
      Gen.choose(5, 60).flatMap { n =>
        Gen.listOfN(n, Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)))
          .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) })
      }
    forAll(pairGen, n = 4) { pairs =>
      import spark.implicits._
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      val got = graft.ops.Dedup.clustersFromPairs(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"pairs=$pairs")
    }
  }

  test("total_apy is invariant to null components (nulls read as zero)") {
    forAll(Gen.zip(Gen.option(Gen.choose(0.0, 50.0)), Gen.option(Gen.choose(0.0, 50.0)))) { case (s, a) =>
      import spark.implicits._
      val df = Seq((s, a)).toDF("stake", "aave")
        .select(Finance.totalApy(col("stake"), col("aave")).as("t"))
      val t = df.first().getDouble(0)
      val expected = BigDecimal(s.getOrElse(0.0) + a.getOrElse(0.0))
        .setScale(3, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      assert(math.abs(t - expected) < 1e-9)
    }
  }

  test("WinnowSelect deque matches the naive per-window array_min on random text") {
    import graft.functions.WinnowSelect.{K, W}
    // small alphabet + duplicated blocks force shingle-hash ties, the
    // case the rightmost tie-break and deque pop-rule must agree on
    val textGen: Gen[String] = for {
      n <- Gen.choose(0, 120)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
      dup <- Gen.oneOf(true, false)
      s = cs.mkString
    } yield if (dup) s + s.take(40) else s
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map(b => f"${b & 0xff}%02x").mkString
    }
    def naive(text: String): Seq[String] = {
      val n = text.length - K + 1
      if (n < W) return Seq.empty
      val hs = (1 to n).map(i =>
        md5hex(text.substring(i - 1, i - 1 + K)) + f"${1000000 - i}%07d")
      (1 to n - W + 1).map(s => hs.slice(s - 1, s - 1 + W).min).distinct
    }
    forAll(textGen, n = 40) { text =>
      val got = graft.functions.WinnowSelect
        .winnow(org.apache.spark.unsafe.types.UTF8String.fromString(text))
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      assert(got === naive(text), s"text=<$text>")
    }
  }

  test("mergeKeyed tracks a reference map over random batch sequences") {
    import spark.implicits._
    // model: a Map[key -> value] updated by putAll per batch; the
    // keyed table must agree after EVERY merge, across random batch
    // sizes, overlaps, and duplicate-free key sets
    val batchGen: Gen[List[List[(Long, Long)]]] =
      Gen.listOfN(4, Gen.listOfN(8,
        for { k <- Gen.choose(0L, 11L); v <- Gen.choose(0L, 999L) } yield (k, v))
        .map(_.groupBy(_._1).map(_._2.head).toList)) // one row per key per batch
    forAll(batchGen, n = 3) { batches =>
      val root = java.nio.file.Files.createTempDirectory("graft_mergeprop").toString + "/t"
      var model = Map.empty[Long, Long]
      batches.filter(_.nonEmpty).foreach { b =>
        graft.io.Writers.mergeKeyed(spark, b.toDF("id", "v"), root, Seq("id"))
        model = model ++ b.toMap
        val got = graft.io.Writers.readKeyed(spark, root).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === model)
      }
    }
  }
}
