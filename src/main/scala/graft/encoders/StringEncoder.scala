package graft.encoders

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import graft.functions.NgramVec
import graft.ops.Stage

/** StringEncoder (reference skrub/_string_encoder.py:19-306) — the default
  * high-cardinality encoder: TF-IDF over char 2-4-grams, reduced to
  * `nComponents` dimensions with a truncated SVD.
  *
  * Spark-first shape, with the reference's own fit-on-distinct trick: the
  * TF-IDF matrix is built over DISTINCT values only (the reference caches
  * unique strings too). The SVD never iterates over the data: the
  * vocabulary side is a FIXED nBuckets (hashed vectorizer), so
  *   1. per-bucket document frequencies: one treeAggregate,
  *   2. Gram matrix G = AᵀA (nBuckets x nBuckets): one RowMatrix pass,
  *   3. eigendecomposition of G: local breeze eigSym (O(nBuckets³) driver),
  *   4. features = A·V (== U·S, sklearn TruncatedSVD.transform): one map,
  * then the per-value features join back onto the frame (AQE-decided).
  * Row count can be billions; driver work is O(nBuckets²) memory.
  *
  * (mllib's RowMatrix.computeSVD was rejected: its ARPACK path launches a
  * Spark job per Lanczos iteration — hundreds of jobs for one fit.
  * Vectorization runs as plain Scala in the RDD map — NgramVec, the exact
  * mirror of FuzzyJoin's expression form — because a 256-bucket HOF
  * expression tree costs ~15s of Catalyst optimizer time per plan.)
  *
  * Eigenvector sign freedom is fixed by convention (largest-|x| component
  * positive), making the output deterministic; cross-engine SVD is still
  * not hash-reproducible, so this operator has a rows-only oracle plus
  * StringEncoderSpec invariants.
  */
object StringEncoder {

  /** Vocabularies at or below this size have their per-value features
    * collected to the driver (a few MB), so the fit-time stage of the
    * distinct values is released before returning — no persisted RDD
    * outlives `encode`. Larger vocabularies keep the distributed path: the
    * feature table is an owned stage, filled before the distinct values
    * are released (its blocks are reclaimed by the ContextCleaner when the
    * returned frame is garbage-collected).
    */
  val MaxDriverVocab = 200000

  /** Encode string column `c` into `nComponents` numeric columns
    * `{c}_svd_{i}`, keeping all other columns. Null values encode as nulls.
    */
  def encode(df: DataFrame, c: String, nComponents: Int = 30,
             nBuckets: Int = 256): DataFrame = {
    val spark = df.sparkSession
    // explicit-count repartition BEFORE distinct: the aggregate reuses the
    // partitioning (no extra exchange), and AQE cannot coalesce it to one
    // partition the way it does a small-bytes distinct shuffle — without
    // this, the tf-idf treeAggregate and the Gram matrix pass both ran in
    // a single task (CPU-bound hashing, not bytes)
    val raw = df.select(col(c)).filter(col(c).isNotNull)
    val encoded = Stage.scope { stage =>
      val values = stage(raw
        .repartition(graft.ops.Partitions.cpuSpread(raw), col(c))
        .distinct()
        .rdd.map(_.getString(0)))

      // 1. document frequencies -> idf weights (broadcast-size: nBuckets)
      val (dfCounts, n) = values
        .treeAggregate((new Array[Long](nBuckets), 0L))(
          seqOp = { case ((acc, cnt), v) =>
            val t = NgramVec.tf(v, nBuckets)
            var i = 0
            while (i < nBuckets) { if (t(i) > 0) acc(i) += 1; i += 1 }
            (acc, cnt + 1)
          },
          combOp = { case ((a, ca), (b, cb)) =>
            var i = 0
            while (i < nBuckets) { a(i) += b(i); i += 1 }
            (a, ca + cb)
          })
      val weights = NgramVec.idf(dfCounts, n)
      val wB = spark.sparkContext.broadcast(weights)

      // 2. Gram matrix over the tf-idf vectors
      val vecs = values.map(v => (v, NgramVec.tfidf(v, wB.value, nBuckets)))
      val gram = new RowMatrix(vecs.map { case (_, a) => OldVectors.dense(a) })
        .computeGramianMatrix()

      // 3. local truncated eigendecomposition
      val k = math.min(nComponents, nBuckets)
      val g = breeze.linalg.DenseMatrix.tabulate(nBuckets, nBuckets)(
        (i, j) => gram(i, j))
      val eig = breeze.linalg.eigSym(g)
      val order = eig.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).take(k)
      val v: Array[Array[Double]] = order.map { case (_, idx) =>
        val colVec = Array.tabulate(nBuckets)(i => eig.eigenvectors(i, idx))
        val m = colVec.maxBy(math.abs)
        if (m < 0) colVec.map(-_) else colVec
      }
      val vB = spark.sparkContext.broadcast(v)

      // 4. project + join back; the distinct values are released either way
      val feats = vecs.map { case (value, a) =>
        Row.fromSeq(value +: vB.value.toSeq.map { colVec =>
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i) * colVec(i); i += 1 }
          s
        })
      }
      val schema = StructType(StructField(c, StringType) +:
        (0 until k).map(i => StructField(s"${c}_svd_$i", DoubleType)))
      if (n <= MaxDriverVocab)
        spark.createDataFrame(spark.sparkContext.parallelize(feats.collect().toSeq),
          schema)
      else Stage.owned(spark.createDataFrame(feats, schema), "StringEncoder.encode")
    }
    df.join(encoded, Seq(c), "left")
  }
}
