package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{JaroWinkler, SparseDotLong}

/** Kernel fuzz dump (diagnostic main, not part of the driver
  * contract): generates seeded random inputs for the two newest
  * hand-written codegen kernels — `jaro_winkler` and
  * `sparse_dot_long` — evaluates them through the REAL
  * WholeStageCodegen path, and writes inputs+outputs to parquet for
  * `tools/fuzz_kernels.py` to replay in DuckDB
  * (`jaro_winkler_similarity`, list arithmetic) and compare
  * value-for-value. Existing specs pin ~200 vectors / literature
  * pairs; this drives 100k adversarial ones (typo mutations, shared
  * prefixes, empty/short strings; negative values, disjoint/subset
  * key overlaps) through BOTH engines.
  *
  * Run: `sbt "runMain graft.FuzzKernels [outDir] [n]"` then
  * `python3 tools/fuzz_kernels.py [outDir]`.
  */
object FuzzKernels {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/fuzz_kernels")
    val n = args.lift(1).map(_.toInt).getOrElse(100000)
    val seed = args.lift(2).map(_.toLong).getOrElse(20260815L)
    val spark = Harness.session()
    import spark.implicits._

    val rnd = new Random(seed)
    val alphabet = "ABCDE abcde"

    def randStr(maxLen: Int): String =
      Iterator.fill(rnd.nextInt(maxLen + 1))(
        alphabet(rnd.nextInt(alphabet.length))).mkString

    /** One typo op: substitute, delete, insert, or adjacent swap. */
    def mutate(s: String): String = {
      if (s.isEmpty) return randStr(3)
      val i = rnd.nextInt(s.length)
      rnd.nextInt(4) match {
        case 0 => s.updated(i, alphabet(rnd.nextInt(alphabet.length)))
        case 1 => s.substring(0, i) + s.substring(i + 1)
        case 2 => s.substring(0, i) +
          alphabet(rnd.nextInt(alphabet.length)) + s.substring(i)
        case _ if i + 1 < s.length =>
          s.substring(0, i) + s(i + 1) + s(i) + s.substring(i + 2)
        case _ => s
      }
    }

    // Half independent pairs (mostly low similarity), half mutation
    // chains (the high-similarity region where the match window,
    // transposition count, and prefix boost all interact).
    val jwPairs = (0 until n).map { id =>
      val a = randStr(12)
      val b =
        if (id % 2 == 0) randStr(12)
        else (0 to rnd.nextInt(3)).foldLeft(a)((s, _) => mutate(s))
      (id.toLong, a, b)
    }
    jwPairs.toDF("id", "a", "b")
      .withColumn("jw", JaroWinkler.ofColumns(col("a"), col("b")))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/jw")

    // Sparse vectors: sorted distinct keys, values in [-1e6, 1e6]
    // (negatives exercise the accumulator; the merge-walk must not
    // assume non-negative tf-idf shapes), overlap from disjoint to
    // identical.
    def vec(): (Seq[String], Seq[Long]) = {
      val ks = rnd.shuffle((0 until 40).toList)
        .take(rnd.nextInt(16)).map(i => f"k$i%02d").sorted
      (ks, ks.map(_ => rnd.nextLong(2000001L) - 1000000L))
    }
    val dotPairs = (0 until n).map { id =>
      val (ak, av) = vec()
      val (bk, bv) = if (id % 5 == 0) (ak, av.map(_ => rnd.nextLong(2000001L) - 1000000L)) else vec()
      (id.toLong, ak, av, bk, bv)
    }
    dotPairs.toDF("id", "ak", "av", "bk", "bv")
      .withColumn("dot", SparseDotLong.ofColumns(
        col("ak"), col("av"), col("bk"), col("bv")))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/dot")

    println(s"[fuzz] wrote $n jw pairs + $n dot pairs to $outDir")
    spark.stop()
  }
}
