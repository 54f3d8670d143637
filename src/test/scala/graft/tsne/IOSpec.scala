package graft.tsne

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The COO sources: the split CSV scan and the scatter into dense vectors
  * (ref `Tsne.scala:138-159`), including duplicate and out-of-range
  * coordinate indices. */
class IOSpec extends AnyFlatSpec with Matchers with org.scalatest.Inspectors with SparkTestBase {

  "readCoo" should "read every row of a small file in one split per core" in {
    val s = spark
    val path = fixturePath("dense_input.csv")
    val coo = IO.readCoo(s, path)
    coo.rdd.getNumPartitions should be >= s.sparkContext.defaultParallelism
    val byFileScan = s.read.schema(IO.cooSchema).csv(path).collect().toSeq
    coo.toDF().collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(1))) shouldBe
      byFileScan.sortBy(r => (r.getLong(0), r.getInt(1)))
  }

  "cooToPoints" should "sum duplicate entries in one order, however they arrive" in {
    val s = spark
    import s.implicits._
    // three summands whose floating-point sum depends on the order
    val dups = Seq(0.3, 0.1, 0.2)
    val expected = (0.1 + 0.2) + 0.3
    expected should not be ((0.3 + 0.2) + 0.1)
    for (perm <- dups.permutations.toSeq; parts <- Seq(1, 3)) {
      val coo = (perm.map(v => CooEntry(0L, 1, v)) :+ CooEntry(0L, 3, 1.5) :+ CooEntry(1L, 0, 2.0))
      val pts = IO.cooToPoints(s.createDataset(coo).repartition(parts), 4)
        .collect().map(p => p.id -> p.vec.toSeq).toMap
      withClue(s"order $perm over $parts partitions: ") {
        pts(0L) shouldBe Seq(0.0, expected, 0.0, 1.5)
        pts(1L) shouldBe Seq(2.0, 0.0, 0.0, 0.0)
      }
    }
  }

  it should "reject a coordinate index outside [0, dimension) naming --dimension" in {
    val s = spark
    import s.implicits._
    for (j <- Seq(4, -1)) {
      val e = intercept[Exception] {
        IO.cooToPoints(s.createDataset(Seq(CooEntry(0L, 0, 1.0), CooEntry(0L, j, 1.0))), 4)
          .collect()
      }
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      withClue(s"j=$j: ") {
        messages.exists(_.contains("--dimension = 4")) shouldBe true
        messages.exists(_.contains("ArrayIndexOutOfBounds")) shouldBe false
      }
    }
  }
}
