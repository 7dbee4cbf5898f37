package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed column forms that native kernels replaced. No query calls
  * them; the specs assert that each kernel reproduces its composed form
  * exactly.
  */
object ReferenceForms {

  /** [[Similarity.dot]]: the same left fold in double. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** [[Similarity.lshBucket]]: one per-plane dot fold per bit. */
  def lshBucketHof(vec: Column, dim: Int, planes: Int = 12, seed: Long = 42L): Column =
    Similarity.hyperplanes(dim, planes, seed).zipWithIndex.map { case (p, i) =>
      when(dotHof(vec, typedLit(p.toSeq)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** [[Similarity.nearestCell]]: struct-max over negated squared L2
    * distances, so ties break to the higher cell id.
    */
  def nearestCellHof(vec: Column, centroids: Array[Array[Double]]): Column =
    array_max(array(centroids.zipWithIndex.map { case (c, j) =>
      val lit_ = typedLit(c.toSeq)
      val d2 = aggregate(
        zip_with(vec.cast("array<double>"), lit_, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
      struct((-d2).as("nd"), lit(j).as("cell"))
    }: _*)).getField("cell")

  /** [[Dedup.lshBuckets]]: `hash(slice(..))` per band. Unlike the kernel
    * it buckets null signatures together under `hash(null)`.
    */
  def lshBucketsComposed(sigs: DataFrame, idCol: String, bands: Int, rows: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"), hash(slice(col("signature"), b * rows + 1, rows)).as("bucket"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.bucket"))
  }

  /** [[QualityClassifier.md24]]: hex-encode, take 6 digits, parse base 16
    * — the portable definition every oracle replays.
    */
  def md24Hof(c: Column): Column =
    conv(substring(md5(c), 1, 6), 16, 10).cast("long")

  /** [[QualityClassifier.scoreAgainst]]: Σ cnt·w(bucket) as an int64 fold. */
  def scoreAgainstHof(w: Array[Long]): Column = {
    val wLit = typedLit(w.toSeq)
    aggregate(col("fs"), lit(0L),
      (acc, f) => acc + f.getField("cnt") * element_at(wLit, f.getField("bucket") + 1))
  }

  /** [[CorpusSelection.bestFitState]]: the best-fit placement as an
    * array fold over (loads, bins).
    */
  def bestFitStateHof(docsArr: Column, capacity: Long): Column = {
    val st0 = struct(
      array().cast("array<bigint>").as("loads"),
      array().cast("array<int>").as("bins"))
    aggregate(docsArr, st0, (st, d) => {
      val loads = st.getField("loads")
      val len = d.getField("len")
      // fittest bin that still fits: max by (load, then lowest index)
      val best = array_max(transform(loads, (l, i0) =>
        when(l + len <= capacity, struct(l.as("l"), (-(i0 + lit(1))).as("ni")))))
      val idx = -best.getField("ni")
      val newLoads = when(best.isNull, concat(loads, array(len)))
        .otherwise(transform(loads, (l, i0) =>
          when(i0 + lit(1) === idx, l + len).otherwise(l)))
      val bin = coalesce(idx, size(loads) + 1).cast("int")
      struct(newLoads.as("loads"),
        concat(st.getField("bins"), array(bin)).as("bins"))
    })
  }

  /** [[UnigramLm.viterbiSeg]] over a materialized lattice: the per-word
    * edge table (substring explode, broadcast cost join, collect_list),
    * then both DP folds in ONE aggregate expression — the forward DP
    * builds the cost array and the backward walk runs in its `finish`
    * lambda, where the array is a bound value (two projections would let
    * CollapseProject inline the forward fold into every backward
    * `element_at`).
    */
  def viterbiSegHof(words: DataFrame, costs: DataFrame, pieceLen: Int): DataFrame = {
    val edges = words
      .select(col("word"), col("wcnt"), length(col("word")).as("n"),
        explode(UnigramLm.piecesOf(col("word"), length(col("word")), pieceLen)).as("p"))
      .select(col("word"), col("wcnt"), col("n"),
        col("p.i").as("i"), col("p.l").as("l"), col("p.piece").as("piece"))
      .join(broadcast(costs), Seq("piece"))
      .groupBy(col("word"), col("wcnt"), col("n"))
      .agg(collect_list(struct(col("i"), col("l"), col("cfp"))).as("edges"))
    // forward DP (cst[j+1] = cost of positions 0..j, 1-based element_at),
    // then the backward walk: at pos, among edges ending there pick
    // min (cost[i-1] + cfp), tie → longest piece (struct sort (k, -l)).
    // An unreachable position has a null forward cost (array_min of an
    // empty set), so the walk only considers candidates with a non-null
    // prior and never starts when the END is unreachable: the word's seg
    // is null, and the final filter drops it. Without that guard the walk
    // would evaluate element_at(array_sort(empty), 1), an ANSI
    // INVALID_ARRAY_INDEX error.
    val st0 = struct(col("n").as("pos"), lit("").as("seg"))
    val seg = aggregate(
      sequence(lit(1), col("n")), array(lit(0L)),
      (acc, j) =>
        concat(acc, array(array_min(transform(
          filter(col("edges"), e =>
            e.getField("i") + e.getField("l") - 1 === j),
          e => element_at(acc, e.getField("i")) + e.getField("cfp"))))),
      cst => when(element_at(cst, col("n") + 1).isNull, lit(null).cast("string"))
        .otherwise(aggregate(sequence(lit(1), col("n")), st0, (st, _) => {
          val pos = st.getField("pos")
          val best = element_at(array_sort(transform(
            filter(col("edges"), e =>
              e.getField("i") + e.getField("l") - 1 === pos &&
                element_at(cst, e.getField("i")).isNotNull),
            e => struct(
              (element_at(cst, e.getField("i")) + e.getField("cfp")).as("k"),
              (-e.getField("l")).as("nl"),
              e.getField("i").as("i"), e.getField("l").as("l")))), 1)
          when(pos <= 0, st).otherwise(struct(
            (best.getField("i") - 1).as("pos"),
            concat(col("word").substr(best.getField("i"), best.getField("l")),
              when(st.getField("seg") === "", lit(""))
                .otherwise(concat(lit(" "), st.getField("seg")))).as("seg")))
        }).getField("seg")))
    edges.select(col("word"), col("wcnt"), seg.as("seg"))
      .where(col("seg").isNotNull)
  }
}
