package graft.tsne

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Ports the reference's affinity-pipeline golden tests
  * (ref `TsneHelpersTestSuite.scala:76-137`): pairwise affinities on the
  * 10×784 fixture at perplexity 2 against the van der Maaten Python oracle
  * (tol 1e-12), joint distribution against both the dense Python goldens
  * (1e-12) and the sparse C++ Barnes-Hut goldens (1e-6), plus the Σp = 1
  * invariants the reference asserts at `:116,136`.
  */
class AffinitiesSpec extends AnyFlatSpec with Matchers with org.scalatest.Inspectors with SparkTestBase {

  private def toNeighbors(rows: Seq[(Long, Long, Double)]): Seq[Neighbor] =
    rows.map { case (i, j, v) => Neighbor(i, j, v) }

  private def asMap(rows: Seq[Neighbor]): Map[(Long, Long), Double] =
    rows.map(n => (n.i, n.j) -> n.dist).toMap

  "pairwiseAffinities" should "match the Python oracle on the fixture at perplexity 2" in {
    val s = spark
    import s.implicits._
    val input = IO.readInput(s, fixturePath("dense_input.csv"), 784)
    val knn = Knn.bruteForce(input, 10, "sqeuclidean")
    val results = asMap(Affinities.pairwiseAffinities(knn, 2.0).collect().toSeq)

    results.size shouldBe Goldens.densePairwiseAffinities.size
    for ((i, j, expected) <- Goldens.densePairwiseAffinities) {
      withClue(s"p($j|$i): ") {
        results((i, j)) shouldBe expected +- 1e-12
      }
    }
  }

  it should "produce rows that each sum to one" in {
    val s = spark
    import s.implicits._
    val input = IO.readInput(s, fixturePath("dense_input.csv"), 784)
    val knn = Knn.bruteForce(input, 10, "sqeuclidean")
    val rowSums = Affinities.pairwiseAffinities(knn, 2.0).collect()
      .groupBy(_.i).map { case (_, rows) => rows.map(_.dist).sum }
    forAll(rowSums.toSeq) { _ shouldBe 1.0 +- 1e-9 }
  }

  "nearestAffinities" should "equal pairwiseAffinities over the merged kNN lists, bit for bit" in {
    val s = spark
    import s.implicits._
    val input = IO.readInput(s, fixturePath("dense_input.csv"), 784)
    val k = 4
    def rows(p: org.apache.spark.sql.Dataset[Neighbor]): Seq[(Long, Long, Long)] =
      p.collect().toSeq.map(n => (n.i, n.j, java.lang.Double.doubleToRawLongBits(n.dist)))
        .sortBy(t => (t._1, t._2))
    for (blocks <- 1 to 5) withClue(s"partition, blocks=$blocks: ") {
      val fused = Affinities.nearestAffinities(
        Knn.candidates("partition", input, k, "sqeuclidean", blocks, 3), k, 2.0)
      val merged = Affinities.pairwiseAffinities(
        Knn.partitionKnn(input, k, "sqeuclidean", blocks), 2.0)
      rows(fused) shouldBe rows(merged)
    }
    withClue("bruteforce: ") {
      val fused = Affinities.nearestAffinities(
        Knn.candidates("bruteforce", input, k, "sqeuclidean", 1, 3), k, 2.0)
      rows(fused) shouldBe rows(
        Affinities.pairwiseAffinities(Knn.bruteForce(input, k, "sqeuclidean"), 2.0))
    }
  }

  "jointDistribution" should "match the dense Python goldens" in {
    val s = spark
    import s.implicits._
    val p = s.createDataset(toNeighbors(Goldens.densePairwiseAffinities))
    val results = Affinities.jointDistribution(p).collect().toSeq

    results.size shouldBe Goldens.denseJointProbabilities.size
    val m = asMap(results)
    for ((i, j, expected) <- Goldens.denseJointProbabilities) {
      withClue(s"p($i,$j): ") { m((i, j)) shouldBe expected +- 1e-12 }
    }
    results.map(_.dist).sum shouldBe 1.0 +- 1e-12
  }

  it should "match the sparse C++ Barnes-Hut goldens" in {
    val s = spark
    import s.implicits._
    val p = s.createDataset(toNeighbors(Goldens.sparsePairwiseAffinities))
    val results = Affinities.jointDistribution(p).collect().toSeq

    results.size shouldBe Goldens.sparseJointProbabilities.size
    val m = asMap(results)
    for ((i, j, expected) <- Goldens.sparseJointProbabilities) {
      withClue(s"p($i,$j): ") { m((i, j)) shouldBe expected +- 1e-6 }
    }
    results.map(_.dist).sum shouldBe 1.0 +- 1e-12
  }

  "symmetricRows" should "normalize to the dense jointDistribution goldens, row by row" in {
    val s = spark
    import s.implicits._
    val rows = Affinities.symmetricRows(
      s.createDataset(toNeighbors(Goldens.densePairwiseAffinities)))
    val (entries, n, total) = Affinities.rowStats(rows)
    entries shouldBe Goldens.denseJointProbabilities.size.toLong
    n shouldBe 10L
    val got = rows.collect().map(Affinities.normalize(_, total)).sortBy(_.id)
    val want = Goldens.denseJointProbabilities.groupBy(_._1).toSeq.sortBy(_._1)
    got.map(_.id).toSeq shouldBe want.map(_._1)
    for ((row, (i, rowEntries)) <- got.zip(want)) {
      val sorted = rowEntries.sortBy(_._2)
      row.js.toSeq shouldBe sorted.map(_._2)
      for ((p, (_, j, expected)) <- row.ps.zip(sorted))
        withClue(s"p($i,$j): ") { p shouldBe expected +- 1e-12 }
    }
  }

  "calibrateBeta" should "hit the target perplexity" in {
    // entropy of the returned distribution must equal log(perplexity)
    // within the reference's tolerance regime (ref TsneHelpers.scala:452)
    val dists = Array(1.0, 4.0, 9.0, 16.0, 25.0, 36.0)
    for (perplexity <- Seq(2.0, 3.0, 5.0)) {
      val p = Affinities.calibrateBeta(dists, perplexity)
      p.sum shouldBe 1.0 +- 1e-12
      val h = -p.filter(_ > 0).map(x => x * math.log(x)).sum
      h shouldBe math.log(perplexity) +- 1e-4
    }
  }

  "toAffinityRows" should "assemble sorted sparse rows" in {
    val s = spark
    import s.implicits._
    val p = s.createDataset(toNeighbors(Goldens.denseJointProbabilities))
    val rows = Affinities.toAffinityRows(p).collect()
    rows.length shouldBe 10
    forAll(rows.toSeq) { r =>
      r.js.toSeq shouldBe r.js.toSeq.sorted
      r.js.length shouldBe 9
    }
  }
}
