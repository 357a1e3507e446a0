package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ann.Ann
import graft.functions.{MinhashBandKeys, SignBucketD}
import graft.text.TextHash

/** Native kernels against their declarative twins on scalacheck-generated
  * inputs: null and empty arrays, null elements, and hash/band/plane counts
  * no query uses. All generated arrays of one element type share a frame,
  * so each generated shape costs one small job. Seeds are fixed, so a
  * failure reproduces.
  */
class KernelParitySpec extends GraftSuite {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** Nullable arrays of nullable elements, every edge shape included. */
  private def arrays(elem: Gen[Any]): Gen[Seq[Any]] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Seq.empty),
    1 -> Gen.choose(1, 3).map(n => Seq.fill[Any](n)(null)),
    7 -> Gen.choose(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(9 -> elem, 1 -> Gen.const(null)))))

  private def frame(elemType: DataType, elem: Gen[Any], seed: Long): DataFrame = {
    val rows = sample(Gen.listOfN(200, arrays(elem)), seed).zipWithIndex
      .map { case (a, i) => Row(i, a) }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("i", IntegerType),
      StructField("a", ArrayType(elemType, containsNull = true)))))
  }

  /** Rows where the kernel (`nat`) and the twin (`dec`) disagree; a null
    * array must give a null kernel result, whatever the twin returns.
    */
  private def mismatches(df: DataFrame, nat: Column, dec: Column): Seq[Row] =
    df.select(col("i"), col("a"), nat.as("nat"), dec.as("dec")).collect().toSeq
      .filter { r =>
        if (r.isNullAt(1)) !r.isNullAt(2) else r.get(2) != r.get(3)
      }

  test("MinhashBandKeys == bandKeys(minhashSig) on generated shingle arrays") {
    // shingle hashes are 32-bit, as SortedShingleHashes emits them
    val df = frame(LongType, Gen.choose(0L, TextHash.M - 1), seed = 11L)
    val shapes = sample(Gen.listOfN(6, for {
      bands <- Gen.choose(1, 8); rows <- Gen.choose(1, 6)
    } yield (bands * rows, bands)), 12L) :+ (1, 1)
    shapes.foreach { case (numHashes, bands) =>
      val bad = mismatches(df,
        MinhashBandKeys(col("a"), numHashes, bands),
        TextHash.bandKeys(TextHash.minhashSig(col("a"), numHashes),
          bands, numHashes / bands))
      if (bad.nonEmpty) fail(
        s"numHashes=$numHashes bands=$bands: ${bad.size} rows diverge, first ${bad.head}")
    }
  }

  test("SignBucketD == Ann.signBucketDeclarative on generated vectors") {
    val elem: Gen[Any] = Gen.frequency(
      8 -> Gen.choose(-1000.0, 1000.0),
      1 -> Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, 1e150, -1e150))
    val df = frame(DoubleType, elem, seed = 21L)
    val planes = sample(Gen.listOfN(4, Gen.choose(1, 62)), 22L) ++ Seq(1, 62)
    planes.foreach { p =>
      val bad = mismatches(df, SignBucketD(col("a"), p),
        Ann.signBucketDeclarative(col("a"), p))
      if (bad.nonEmpty) fail(s"planes=$p: ${bad.size} rows diverge, first ${bad.head}")
    }
  }
}
