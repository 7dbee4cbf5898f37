package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  test("dot / cosine on known vectors") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(2.0f, 1.0f))).toDF("a", "b")
    val got = df.select(
      Similarity.dot(col("a"), col("b")).as("d"),
      Similarity.cosine(col("a"), col("b")).as("c")).as[(Double, Double)].collect()(0)
    assert(got._1 == 4.0)
    assert(math.abs(got._2 - 0.8) < 1e-12)
  }

  test("native dot/lshBucket are bit-for-bit the HOF reference forms") {
    val rnd = new scala.util.Random(7)
    val df = (0 until 300).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val mismatches = df.select(
      Similarity.dot(col("embedding"), col("embedding")).as("dn"),
      ReferenceForms.dotHof(col("embedding"), col("embedding")).as("dh"),
      Similarity.lshBucket(col("embedding"), 16, 12, seed = 5L).as("bn"),
      ReferenceForms.lshBucketHof(col("embedding"), 16, 12, seed = 5L).as("bh"))
      .where(col("dn") =!= col("dh") || col("bn") =!= col("bh"))
      .count()
    assert(mismatches == 0)
  }

  test("native nearest-centroid argmin equals the struct-max HOF form (incl. tie-break)") {
    val rnd = new scala.util.Random(23)
    val cents = Array.fill(8)(Array.fill(8)(rnd.nextGaussian()))
    // include exact-duplicate centroids so the higher-cell tie-break is hit
    val centsWithTie = cents :+ cents(3).clone()
    val df = (0 until 200).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val diff = df.select(
      ReferenceForms.nearestCellHof(col("embedding"), centsWithTie).as("hof"),
      org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.NearestCentroid(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding").cast("array<double>")),
        centsWithTie.map(_.toSeq).toSeq)).as("native"))
      .where(col("hof") =!= col("native")).count()
    assert(diff == 0)
    // length-mismatched vector: every cell's d2 is null in the HOF form,
    // nulls compare equal in struct ordering -> highest cell wins; the
    // native form's fallback must agree
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val r = bad.select(
      ReferenceForms.nearestCellHof(col("embedding"), centsWithTie).as("hof"),
      org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.NearestCentroid(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding").cast("array<double>")),
        centsWithTie.map(_.toSeq).toSeq)).as("native")).collect()(0)
    assert(r.getInt(0) == centsWithTie.length - 1 && r.getInt(1) == centsWithTie.length - 1)
    // a null ELEMENT nulls every cell's d2 in the HOF form -> highest cell
    val withNull = Seq(Tuple1(Seq[java.lang.Double](1.0, null, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0)))
      .toDF("embedding")
    val rn = withNull.select(
      ReferenceForms.nearestCellHof(col("embedding"), centsWithTie).as("hof"),
      org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.NearestCentroid(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding").cast("array<double>")),
        centsWithTie.map(_.toSeq).toSeq)).as("native")).collect()(0)
    assert(rn.getInt(0) == centsWithTie.length - 1 && rn.getInt(1) == centsWithTie.length - 1)
  }

  test("native dot null semantics mirror zip_with/aggregate") {
    val df = Seq(
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)), // length mismatch -> null
      (Seq(1.0, 2.0), null)).toDF("a", "b")
    val got = df.select(Similarity.dot(col("a"), col("b"))).collect().map(_.isNullAt(0))
    assert(got.toSeq == Seq(true, true))
    assert(evalOne(Similarity.dot(typedLit(Seq.empty[Double]), typedLit(Seq.empty[Double]))) == 0.0)
  }

  private lazy val vectors: DataFrame = {
    val rnd = new scala.util.Random(11)
    (0 until 200).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def bruteTop(k: Int): Map[Long, Seq[Long]] = {
    val vs = vectors.as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) * math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    (0L until 5L).map { q =>
      q -> vs.keys.toSeq.sortBy(c => (-cos(vs(q), vs(c)), c)).take(k)
    }.toMap
  }

  test("bruteForceTopK matches a driver-side brute force") {
    val queries = vectors.where(col("vec_id") < 5)
    val got = Similarity.bruteForceTopK(vectors, queries, k = 10)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(got == bruteTop(10))
  }

  test("ivfTopK: self as rank 1, decent recall vs brute force") {
    val queries = vectors.where(col("vec_id") < 5)
    val rows = Similarity.ivfTopK(vectors, queries, k = 10, dim = 16, cells = 8, nprobe = 4)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == (0L until 5L).toSet)
    for ((q, rs) <- byQ) assert(rs.find(_._3 == 1).get._2 == q)
    val brute = bruteTop(10)
    val recall = byQ.map { case (q, rs) =>
      rs.map(_._2).toSet.intersect(brute(q).toSet).size.toDouble / 10.0
    }.sum / byQ.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("ivfTopK add-after-train: appended vectors are indexed and findable") {
    val queries = vectors.where(col("vec_id") < 5)
    val base = vectors.where(col("vec_id") % 2 === 0)
    val rows = Similarity.ivfTopK(vectors, queries, k = 10, dim = 16, cells = 8, nprobe = 4,
      fitCorpus = Some(base))
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == (0L until 5L).toSet)
    // self-hit survives the frozen-centroid assignment
    for ((q, rs) <- byQ) assert(rs.find(_._3 == 1).get._2 == q)
    // appended (odd-id) vectors appear among neighbors — the index
    // actually absorbed the batch rather than only re-serving the base
    assert(rows.exists(_._2 % 2 == 1))
    val brute = bruteTop(10)
    val recall = byQ.map { case (q, rs) =>
      rs.map(_._2).toSet.intersect(brute(q).toSet).size.toDouble / 10.0
    }.sum / byQ.size
    assert(recall >= 0.4, s"recall $recall")
  }

  test("lshTopK returns k rows per query with self as rank 1, decent recall") {
    val queries = vectors.where(col("vec_id") < 5)
    val rows = Similarity.lshTopK(vectors, queries, k = 10, dim = 16, planes = 5, probes = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == (0L until 5L).toSet)
    // self-similarity = 1.0 must always win
    for ((q, rs) <- byQ) assert(rs.find(_._3 == 1).get._2 == q)
    // recall@10 vs brute force should be substantial even with 32 buckets
    val brute = bruteTop(10)
    val recall = byQ.map { case (q, rs) =>
      rs.map(_._2).toSet.intersect(brute(q).toSet).size.toDouble / 10.0
    }.sum / byQ.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("recallAtK: exact hit counting, queries with zero overlap still appear") {
    import org.apache.spark.sql.functions.col
    val exact = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 21L), (2L, 22L), (2L, 23L)).toDF("query_id", "neighbor_id")
    val approx = Seq(
      (1L, 10L), (1L, 11L), (1L, 99L), (1L, 98L), // 2 of 4 recovered
      (2L, 90L), (2L, 91L), (2L, 92L), (2L, 93L)  // nothing recovered
    ).toDF("query_id", "neighbor_id")
    val got = Similarity.recallAtK(approx, exact)
      .select("query_id", "n_hits", "recall_pct")
      .as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2, 50), (2L, 0, 0)))
    // perfect recall reads 100
    val perfect = Similarity.recallAtK(exact, exact)
      .select("recall_pct").as[Int].collect().toSeq
    assert(perfect == Seq(100, 100))
  }

  test("randomProject matches per-plane dots and roughly preserves norms/distances") {
    val rnd = new scala.util.Random(5)
    val df = (0 until 200).map { i =>
      (i.toLong, Seq.fill(32)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.randomProject(df, "vec_id", "embedding", dim = 32, outDim = 12, seed = 9L)
      .as[(Long, Seq[Double])].collect().toMap
    assert(out.values.forall(_.size == 12))
    // exact check: projected_j == fold-dot with the same LCG plane, scaled
    val planes = Similarity.hyperplanes(32, 12, 9L)
    val scale = math.sqrt(3.0 / 12)
    val vecs = df.as[(Long, Seq[Float])].collect().toMap
    for ((id, v) <- vecs.take(20)) {
      val expect = planes.map(p => v.zip(p).foldLeft(0.0) { case (a, (x, y)) => a + x.toDouble * y } * scale)
      assert(out(id).zip(expect).forall { case (a, b) => a == b }, s"projection mismatch for $id")
    }
    // JL sanity: mean squared-norm ratio near 1 (loose bounds; 12 dims is noisy)
    val ratios = vecs.toSeq.map { case (id, v) =>
      out(id).map(x => x * x).sum / v.map(x => x.toDouble * x).sum
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.8 && mean < 1.2, s"mean norm ratio $mean")
  }

  test("quantizeInt8: codes bounded, extremes hit ±127, dequant error ≤ scale/2, zero vector safe") {
    val rnd = new scala.util.Random(7)
    val df = ((0L until 50L).map { id =>
      id -> Seq.fill(16)((rnd.nextFloat() * 4 - 2))
    } :+ (99L -> Seq.fill(16)(0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .as[(Long, Double, Seq[Int])].collect()
      .map { case (id, s, q) => id -> (s, q) }.toMap
    val vecs = df.as[(Long, Seq[Float])].collect().toMap
    for ((id, v) <- vecs) {
      val (scale, q) = out(id)
      if (id == 99L) {
        assert(scale == 0.0 && q.forall(_ == 0))
      } else {
        assert(scale == v.map(x => math.abs(x.toDouble)).max / 127.0)
        assert(q.forall(c => c >= -127 && c <= 127))
        // the max-magnitude component quantizes to exactly ±127
        assert(q.map(math.abs(_)).max == 127)
        // symmetric quantization bound: |v - q*scale| ≤ scale/2
        v.zip(q).foreach { case (x, c) =>
          assert(math.abs(x.toDouble - c * scale) <= scale / 2 + 1e-12, s"vec $id")
        }
      }
    }
  }

  test("hashEmbed rows are L2-normalized sparse histograms") {
    import spark.implicits._
    val df = Seq((1L, "a b a c"), (2L, "solo")).toDF("doc_id", "text")
    val rows = Similarity.hashEmbed(df, "text", "doc_id", dim = 16)
      .as[(Long, Int, Double)].collect()
    val byDoc = rows.groupBy(_._1)
    // unit norm per doc
    byDoc.values.foreach { rs =>
      assert(math.abs(rs.map(r => r._3 * r._3).sum - 1.0) < 1e-12)
    }
    // doc 2 is one token -> exactly one bucket at weight 1.0
    assert(byDoc(2L).toSeq == Seq((2L, byDoc(2L).head._2, 1.0)))
    // doc 1: "a" (count 2) outweighs "b"/"c" unless they collide
    val w1 = byDoc(1L).map(_._3).max
    assert(w1 >= 2.0 / math.sqrt(6.0) - 1e-12)
    // deterministic across partitionings
    val again = Similarity.hashEmbed(df.repartition(5), "text", "doc_id", dim = 16)
      .as[(Long, Int, Double)].collect().toSet
    assert(again == rows.toSet)
  }

  test("hashEmbedTopK: near-identical docs retrieve each other first") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("red", "green", "blue", "cyan", "teal", "plum", "gold", "jade")
    val base = (0 until 30).map(i =>
      (i.toLong, Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // docs 100+q are near-copies of queries 0..4 (one word appended)
    val copies = (0 until 5).map(q => (100L + q, base(q)._2 + " extra"))
    val docs = (base ++ copies).toDF("doc_id", "text")
    val out = Similarity.hashEmbedTopK(docs, docs.where($"doc_id" < 5), k = 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
    (0 until 5).foreach { q =>
      val top = out.filter(t => t._1 == q && t._2 == 1).head
      assert(top._3 == 100L + q, s"query $q top hit ${top._3}")
      assert(top._4 > 0.95)
    }
    // ranks are dense 1..3 per query and cosines non-increasing
    out.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == Seq(1, 2, 3))
      assert(sorted.sliding(2).forall { case Array(a, b) => a._4 >= b._4 })
    }
  }

  test("centroidCosine: aligned members score ~1, the outlier scores lowest") {
    import spark.implicits._
    // label 0: three near-identical vectors + one orthogonal outlier;
    // label 1: a singleton (centroid == itself -> cos ~ 1)
    val df = Seq(
      (1L, 0, Seq(1f, 0f, 0f, 0f)),
      (2L, 0, Seq(0.99f, 0.01f, 0f, 0f)),
      (3L, 0, Seq(0.98f, 0.02f, 0f, 0f)),
      (4L, 0, Seq(0f, 0f, 1f, 0f)),
      (9L, 1, Seq(0f, 0.5f, 0f, 0.5f))).toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidCosine(df, "vec_id", "label", "embedding")
      .orderBy("vec_id").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("n_members"), r.getAs[Double]("centroid_cos")))).toMap
    assert(got(1L)._1 == 4 && got(9L)._1 == 1)
    assert(got(9L)._2 > 0.999999)
    assert(Seq(1L, 2L, 3L).forall(id => got(id)._2 > 0.9))
    assert(got(4L)._2 < 0.5)
    assert(got(4L)._2 == got.values.map(_._2).min)
  }

  test("centroidCosine is exact-grid deterministic under repartitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = (0 until 60).map(i =>
      (i.toLong, i % 4, Seq.fill(8)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "label", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.centroidCosine(d, "vec_id", "label", "embedding")
        .orderBy("vec_id").as[(Long, Int, Int, Double)].collect().toSeq
    // bit-identical cosines regardless of partitioning: the centroid sum
    // is int64, so reduction order cannot perturb it
    assert(run(df.repartition(1)) == run(df.repartition(7)))
  }

  test("pqEncode: m codes per vector, bounded, deterministic, and reconstruction beats random") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val df = (0 until 200).map(i =>
      (i.toLong, Seq.fill(dim)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val m = 4
    val codes = Similarity.pqEncode(df, "vec_id", "embedding", dim, m = m, cells = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(codes.length == 200 * m)
    assert(codes.forall { case (_, s, c) => s >= 0 && s < m && c >= 0 && c < 8 })
    // every vector has exactly one code per sub-space
    assert(codes.groupBy(v => (v._1, v._2)).forall(_._2.length == 1))
    // deterministic across invocations (seeded fit, no RNG at encode time)
    val again = Similarity.pqEncode(df, "vec_id", "embedding", dim, m = m, cells = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(codes.sorted.toSeq == again.sorted.toSeq)
    // codes actually separate vectors: 200 random vectors should not all
    // collapse to one codeword in any sub-space
    (0 until m).foreach { s =>
      assert(codes.filter(_._2 == s).map(_._3).distinct.length > 1, s"sub-space $s collapsed")
    }
  }

  test("pqTopK matches a driver-side brute-force ADC over the same codebooks") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val m = 4
    val cellsN = 8
    val vecs = (0 until 120).map(i => i.toLong -> Array.fill(dim)((rnd.nextDouble() - 0.5).toFloat)).toMap
    val df = vecs.toSeq.sortBy(_._1).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(df, df.where(col("vec_id") < 3), k = 5, dim, m = m, cells = cellsN)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))

    // replicate: same fits, same codes, same LUT sums with the same
    // fixed-point floor — exact agreement expected, not approximate
    val subDim = dim / m
    val cents = (0 until m).map { s =>
      Similarity.trainCentroids(
        df.select(col("vec_id"), org.apache.spark.sql.functions.slice(col("embedding"), s * subDim + 1, subDim).as("_sub")),
        subDim, cellsN, idCol = "vec_id", vecCol = "_sub")
    }
    def code(v: Array[Float], s: Int): Int = {
      var best = -1; var bestD = Double.MaxValue
      for (j <- 0 until cellsN) {
        var d = 0.0
        for (i <- 0 until subDim) { val t = v(s * subDim + i).toDouble - cents(s)(j)(i); d += t * t }
        if (d < bestD || (d == bestD && j > best)) { bestD = d; best = j } // ties -> higher cell
      }
      best
    }
    val scale = 1099511627776.0
    val expect = (0L until 3L).flatMap { q =>
      val adc = vecs.keys.toSeq.sorted.map { n =>
        val fp = (0 until m).map { s =>
          val c = cents(s)(code(vecs(n), s))
          var d = 0.0
          for (i <- 0 until subDim) { val t = vecs(q)(s * subDim + i).toDouble - c(i); d += t * t }
          math.floor(d * scale).toLong
        }.sum
        (n, fp)
      }
      adc.sortBy { case (n, fp) => (fp, n) }.take(5).zipWithIndex.map {
        case ((n, fp), r) => (q, n, r + 1, fp.toDouble / scale)
      }
    }
    assert(got.sortBy(r => (r._1, r._3)).toSeq == expect)
  }

  test("ivfPqTopK distances agree exactly with pqTopK; ranks are distance-monotone") {
    val rnd = new scala.util.Random(13)
    val dim = 16
    val df = (0 until 150).map(i =>
      (i.toLong, Seq.fill(dim)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 3)
    // same codebooks (same seed/sample), so any (query, neighbor) pair
    // present in both must carry the bit-identical ADC distance
    val full = Similarity.pqTopK(df, q, k = 150, dim, m = 4, cells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val ivfpq = Similarity.ivfPqTopK(df, q, k = 10, dim, cells = 4, nprobe = 2, m = 4, pqCells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(ivfpq.nonEmpty)
    ivfpq.foreach { case (qid, n, _, d) =>
      assert(full((qid, n)) == d, s"ADC disagreement for ($qid, $n)")
    }
    ivfpq.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to sorted.length).toSeq)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq, "distances not monotone in rank")
    }
  }

  test("embeddingNorms: unit vector, zero vector, and zero-component counts") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),  // unit: norm 1, two zeros... three zeros
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),  // zero vector
      (3L, Seq(3.0f, -4.0f, 0.0f, 0.0f))  // 3-4-5 triangle: norm 5, max_abs 4
    ).toDF("vec_id", "embedding")
    val got = Similarity.embeddingNorms(df, "vec_id", "embedding")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3), r.getFloat(4), r.getBoolean(5)))
    assert(got(0) == ((1L, 4, 1.0, 3, 1.0f, false)))
    assert(got(1) == ((2L, 4, 0.0, 4, 0.0f, true)))
    assert(got(2) == ((3L, 4, 5.0, 2, 4.0f, false)))
  }

  test("meanPoolGrid averages chunk vectors per group on the integer grid") {
    import org.apache.spark.sql.functions.expr
    // group 0: chunks [1,0] and [0,1] -> grid sums [2^20, 2^20], mean 2^19
    // group 1: single chunk [-0.5, 0.25] -> floor snapping
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(-0.5f, 0.25f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.meanPoolGrid(df, expr("vec_id div 2"), "embedding")
      .orderBy("group_id", "dim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    val g = 1L << 20
    assert(got.toSeq == Seq(
      (0L, 0, 2, g, g / 2.0), (0L, 1, 2, g, g / 2.0),
      (1L, 0, 1, -g / 2, -g / 2.0), (1L, 1, 1, g / 4, g / 4.0)))
    // partitioning-invariant (associative long sums)
    val rep = Similarity.meanPoolGrid(df.repartition(5), expr("vec_id div 2"), "embedding")
      .orderBy("group_id", "dim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    assert(rep.toSeq == got.toSeq)
  }

  test("signCellCoverage: orthant cells, entropy extremes, and the bit fold") {
    // 3 sign dims -> 8 cells; fold is acc*2 + bit with component 0 as
    // the high bit: [+,-,+] -> 101b = 5
    val df = Seq(
      (0, Seq(1.0f, -1.0f, 1.0f, 9.0f)),   // cell 5 (4th dim ignored)
      (0, Seq(0.0f, -2.0f, 0.5f)),         // 0.0 counts as +: cell 5
      (0, Seq(1.0f, -1.0f, 1.0f)),         // cell 5 again
      (0, Seq(-1.0f, -1.0f, -1.0f)),       // cell 0
      (1, Seq(1.0f, 1.0f, 1.0f)),          // all in one cell -> entropy 0
      (1, Seq(2.0f, 3.0f, 4.0f))
    ).toDF("label", "embedding")
    val out = Similarity.signCellCoverage(df, "label", "embedding", signDims = 3)
      .as[(Int, Long, Int, Float, Float)].collect().sortBy(_._1).toSeq
    // label 0: cells {5:3, 0:1}; H = ln4 - (3 ln3)/4 in bits
    val h0 = ((math.log(4.0) - 3.0 * math.log(3.0) / 4.0) / math.log(2.0)).toFloat
    val n0 = ((math.log(4.0) - 3.0 * math.log(3.0) / 4.0) / math.log(4.0)).toFloat
    assert(out == Seq((0, 4L, 2, h0, n0), (1, 2L, 1, 0.0f, 0.0f)))
  }

  test("signCellCoverage is invariant under repartitioning") {
    val df = (0 until 100).map(i =>
      (i % 3, Seq.tabulate(6)(d => ((i * 7 + d * 13) % 11 - 5).toFloat)))
      .toDF("label", "embedding")
    def run(x: org.apache.spark.sql.DataFrame) =
      Similarity.signCellCoverage(x, "label", "embedding", signDims = 6)
        .as[(Int, Long, Int, Float, Float)].collect().sortBy(_._1).toSeq
    assert(run(df) == run(df.repartition(7)))
  }

  test("lloydKMeans separates two well-spread blobs (k=2)") {
    // blob A around +10, blob B around -10 in every dim; ids alternate so
    // the two lowest-id seeds land one in each blob
    val df = (0 until 40).map { i =>
      val center = if (i % 2 == 0) 10f else -10f
      (i.toLong, Seq.tabulate(4)(d => center + ((i * 13 + d * 7) % 5 - 2) * 0.1f))
    }.toDF("vec_id", "embedding")
    val got = Similarity.lloydKMeans(df, "embedding", "vec_id", k = 2, iters = 3)
      .orderBy("cluster").as[(Int, Int, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(0, 1))
    assert(got.map(_._2) == Seq(20, 20), s"each blob keeps its 20 members: $got")
    // within-blob inertia: per-dim offsets are <= 0.2 (≤ ~4e10 on the
    // grid per dim-point, ~3.5e12 per cluster worst case); one
    // cross-blob member alone would add (20·2^20)^2 ≈ 4e14
    assert(got.forall(_._3 < 10_000_000_000_000L), s"tight blobs: $got")
  }

  test("lloydKMeans assignment profile is bit-identical under repartitioning") {
    val df = (0 until 50).map(i =>
      (i.toLong, Seq.tabulate(6)(d => (((i * 31 + d * 17) % 23) - 11) / 3.0f)))
      .toDF("vec_id", "embedding")
    def run(x: org.apache.spark.sql.DataFrame) =
      Similarity.lloydKMeans(x, "embedding", "vec_id", k = 4, iters = 3)
        .orderBy("cluster").as[(Int, Int, Long)].collect().toSeq
    assert(run(df.repartition(1)) == run(df.repartition(9)))
  }

  test("lloydKMeans broadcasts the centroid table (no corpus-side shuffle to score)") {
    // the returned frame is the pinned result, so the scoring join is
    // read from the executed plan of the action that pinned it: the
    // localCheckpoint producing (cluster, n_members, inertia_fp)
    val df = (0 until 30).map(i =>
      (i.toLong, Seq.tabulate(4)(d => (i * 7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val pins = executions {
      Similarity.lloydKMeans(df, "embedding", "vec_id", k = 2, iters = 2)
    }.collect {
      case ("localCheckpoint", qe) if qe.analyzed.output.map(_.name) ==
          Seq("cluster", "n_members", "inertia_fp") => qe.executedPlan.toString
    }
    assert(pins.size == 1, s"expected one pinning action, got ${pins.size}")
    val plan = pins.head
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("maxSimTopK: hand-computed MaxSim scores, tie broken by doc id") {
    val g = 1L << 20 // the 2^20 quantization grid
    val q = Seq((0L, 0L, Seq(1.0f, 0.0f)), (0L, 1L, Seq(0.0f, 1.0f)))
      .toDF("qid", "ti", "vec")
    val d = Seq(
      (10L, Seq(1.0f, 0.0f)), (10L, Seq(0.0f, 1.0f)), // both query tokens matched
      (11L, Seq(1.0f, 0.0f)), (11L, Seq(1.0f, 0.0f)), // token 0 only
      (12L, Seq(0.5f, 0.5f)), (12L, Seq(0.0f, 0.0f))) // half on both tokens
      .toDF("did", "vec")
    val out = Similarity.maxSimTopK(d, q, 3, "qid", "ti", "did", "vec")
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2).toSeq
    // scores: 10 -> 2·g², 11 -> g², 12 -> 2·(g/2)·g = g² (ties 11, doc id wins)
    assert(out == Seq(
      (0L, 1, 10L, 2L * g * g),
      (0L, 2, 11L, g * g),
      (0L, 3, 12L, g * g)))
  }

  test("maxSimTopK is invariant under doc-side repartitioning") {
    val vecs = (0 until 40).map(i =>
      (i.toLong / 4, Seq.tabulate(8)(j => (((i * 13 + j * 7) % 19) - 9) / 4.0f)))
    val q = vecs.take(4).zipWithIndex.map { case ((_, v), t) => (0L, t.toLong, v) }
      .toDF("qid", "ti", "vec")
    def run(parts: Int) =
      Similarity.maxSimTopK(vecs.drop(4).toDF("did", "vec").repartition(parts),
        q, 5, "qid", "ti", "did", "vec")
        .as[(Long, Int, Long, Long)].collect().sortBy(_._2).toSeq
    assert(run(1) == run(7))
  }

  test("whitenProfile matches an exact scalar replay of the grid arithmetic") {
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 40L).map(id => (id, Array.fill(4)(rnd.nextFloat() * 2f - 1f)))
    val grid = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * (1L << 20)).toLong)
    }
    val dims = 4
    val want = {
      val byDim = (0 until dims).map { d =>
        val col = grid.map(_._2(d))
        val n = col.size.toLong
        val s = col.sum; val s2 = col.map(v => v * v).sum
        val mu = math.floor(s.toDouble / n.toDouble).toLong
        val sigma = math.max(1L,
          math.floor(math.sqrt((n * s2 - s * s).toDouble / (n * n).toDouble)).toLong)
        (mu, sigma)
      }
      grid.map { case (id, v) =>
        val zs = (0 until dims).map { d =>
          val (mu, sigma) = byDim(d)
          math.floor(((v(d) - mu) * 1024L).toDouble / sigma.toDouble).toLong
        }
        (id, dims, zs.sum, zs.min, zs.max)
      }.toSeq
    }
    val got = Similarity.whitenProfile(vecs.toDF("vec_id", "embedding"), "embedding", "vec_id")
      .as[(Long, Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want)
    // standardization sanity: the population of z-values is near 0-mean
    val meanZ = got.map(_._3).sum.toDouble / (got.size * dims)
    assert(math.abs(meanZ) < 1024, s"z mean $meanZ not centered")
  }

  test("topPrincipalComponent matches a JVM brute-force of the integer walk and finds the planted axis") {
    // planted: x ~ t*(0.8, 0.6, 0, 0) + small deterministic noise
    val vecs = (0 until 30).map { i =>
      val t = (i % 7) - 3
      val n = Seq.tabulate(4)(d => (((i * 13 + d * 7) % 5) - 2) * 0.02)
      (i.toLong, Seq(0.8 * t + n(0), 0.6 * t + n(1), n(2), n(3)).map(_.toFloat))
    }
    val got = Similarity.topPrincipalComponent(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", dim = 4)
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1).toSeq
    // brute: same grid, same scatter, same truncating power walk
    val g = vecs.map(_._2.map(x => math.floor(x.toDouble * 1024).toLong))
    val n = BigInt(g.size)
    val sums = (0 until 4).map(d => BigInt(g.map(_(d)).sum))
    val c = Array.tabulate(4, 4)((i, j) =>
      n * BigInt(g.map(v => v(i) * v(j)).sum) - sums(i) * sums(j))
    val wg = BigInt(1L << 20)
    def renorm(v: Seq[BigInt]) = {
      val m = v.map(_.abs).max
      v.map(x => if (x < 0) -((-x * wg) / m) else (x * wg) / m)
    }
    var w: Seq[BigInt] = Seq.fill(4)(wg)
    (1 to 16).foreach { _ =>
      w = renorm((0 until 4).map(i => (0 until 4).map(j => c(i)(j) * w(j)).sum))
    }
    assert(got.map(_._2) == w.map(_.toLong))
    // the component points along (0.8, 0.6, ~0, ~0) up to sign
    val comp = got.map(_._3)
    val cos = (comp(0) * 0.8 + comp(1) * 0.6) /
      math.sqrt(comp.map(x => x * x).sum)
    assert(math.abs(cos) > 0.99, s"cos to planted axis $cos")
    assert(got.map(_._4).distinct.size == 1 && got.head._4 > 0, "one positive eigenvalue")
  }

  test("anisotropyAlignment: on-axis vectors score |cos|~1, residual complements") {
    val vecs = (0 until 24).map { i =>
      val t = (i % 6) - 2 // t = 0 rows are pure noise
      val n = Seq.tabulate(4)(d => (((i * 13 + d * 7) % 5) - 2) * 0.01)
      (i.toLong, Seq(0.6 * t + n(0), 0.8 * t + n(1), n(2), n(3)).map(_.toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.anisotropyAlignment(df, "vec_id", "embedding", dim = 4)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    vecs.foreach { case (id, v) =>
      val (c, r) = got(id)
      assert(r == 1.0 - c * c, s"residual complements cos for $id")
      val t = (id % 6) - 2
      if (t != 0) assert(math.abs(c) > 0.98, s"on-axis $id: cos $c")
      // a 4-dim noise row can lean partway onto u (row 14 is v =
      // (0, .02, -.01, .01), cos ~0.64) — just strictly less aligned
      else assert(math.abs(c) < 0.9, s"noise row $id: cos $c")
    }
  }

  test("ivfProbeSweep: recall monotone in nprobe, exactly 1.0 when every cell probes") {
    // 40 deterministic 4-dim vectors, 4 cells: probing all 4 cells IS
    // brute force, so recall must be exactly 1.0 there and the curve
    // non-decreasing on the way up
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(4)(d => (((i * 31 + d * 17) % 19) - 9).toFloat / 9f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.ivfProbeSweep(df, df.where(col("vec_id") < 5), k = 5,
        dim = 4, cells = 4, nprobes = Seq(1, 2, 4))
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq(1, 2, 4))
    assert(out.last._4 == 1.0, s"full probe must be exact, got ${out.last._4}")
    assert(out.last._2 == 25L && out.last._3 == 25L)
    out.sliding(2).foreach {
      case Seq(a, b) => assert(a._4 <= b._4, s"recall not monotone: $a -> $b")
      case _ => ()
    }
  }
}
