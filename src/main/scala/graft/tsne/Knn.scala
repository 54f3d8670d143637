package graft.tsne

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** k-nearest-neighbor variants (ref: `TsneHelpers.scala:41-160`), Spark-first.
  *
  * All three return the same logical table `(i, j, dist)` with `k` rows per
  * `i`, sorted ascending by distance. Ties are broken by `j` ascending — the
  * reference leaves tie order unspecified (`sortGroup` + `first(k)`,
  * `TsneHelpers.scala:54-58`), and a total order is required for the
  * hash-compared DuckDB oracle (SURVEY.md §7).
  */
object Knn {

  /** Grouped top-k: the ranking-window idiom — Spark's native form of the
    * reference's `groupBy.sortGroup(dist).first(k)`. Expects columns
    * `(i, j, dist)`. */
  private def topKPerPoint(pairs: DataFrame, k: Int): Dataset[Neighbor] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    topKPerPointRanked(pairs, k).select(col("i"), col("j"), col("dist")).as[Neighbor]
  }

  /** Grouped top-k with the rank kept: `(i, j, rn, dist)`, rank ordered by
    * `(dist, j)` ascending.
    *
    * Deliberately written as the declarative ranking-window idiom: the
    * engine's own optimizer rule (`graft.plans.RewriteRankFilterToTopK`,
    * registered by `GraftExtensions`) rewrites it into the sort-free
    * two-phase bounded-heap operators `GroupedTopKLimitPartialExec` →
    * `GroupedTopKLimitFinalExec` — map-side k-heaps per key, a hash
    * exchange of ≤ partitions·keys·k rows, per-key k-merge. Declaring the
    * intent and letting the planner pick the
    * physical strategy is the Spark-first shape; sessions without the
    * extension still get Spark's built-in WindowGroupLimit pipeline. */
  def topKPerPointRanked(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("i").orderBy(col("dist"), col("j"))
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("i"), col("j"), col("rn"), col("dist"))
  }

  /** The brute-force all-pairs distance table (shared by [[bruteForce]] and
    * the ranked query form).
    *
    * The left side is spread over the configured shuffle parallelism before
    * the cross join: a small points table often arrives as one scan
    * partition, and the cross join inherits the left side's partitioning —
    * without the spread, all N² distance evaluations (the actual work)
    * would run in a single task no matter how many cores the cluster has.
    * The 2 kB/row reshuffle is noise next to the N·d work per row it
    * parallelizes. */
  def bruteForcePairs(points: Dataset[Point], metric: String): DataFrame = {
    val spark = points.sparkSession
    val parallelism = spark.sessionState.conf.numShufflePartitions
    val df = points.toDF()
    val a = df.repartition(parallelism).select(col("id").as("i"), col("vec").as("va"))
    val b = df.select(col("id").as("j"), col("vec").as("vb"))
    a.crossJoin(b)
      .where(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        Distances.colByName(metric)(col("va"), col("vb")).as("dist"))
  }

  /** O5 — brute-force kNN (ref `TsneHelpers.scala:41-59`): all-pairs
    * distances via Cartesian product, drop self-pairs, grouped top-k.
    *
    * The distance is a pure Catalyst expression (`zip_with`/`aggregate`),
    * so the N² map side stays inside whole-stage codegen; the only shuffle
    * is the hash partition on `i` for the ranking window. */
  def bruteForce(points: Dataset[Point], k: Int, metric: String): Dataset[Neighbor] =
    topKPerPoint(bruteForcePairs(points, metric), k)

  /** O6 — block-nested-loop kNN (ref `TsneHelpers.scala:61-91`): points are
    * modulo-partitioned into `blocks` blocks, blocks are crossed, and
    * distances are computed block-pair-at-a-time.
    *
    * Spark-first shape, two scale properties the reference's doesn't have:
    *   - each block-pair group keeps only a local top-k per left point, so
    *     the second shuffle carries N·blocks·k rows instead of the
    *     reference's full N² distance triples (`TsneHelpers.scala:80-88`);
    *   - a block is never materialized as one giant row (the round-1
    *     rebuild packed N/blocks points into a single Dataset row — gigabyte
    *     rows at scale); instead each point is *replicated* `blocks` times,
    *     tagged (blockPair, side), and block pairs meet in `flatMapGroups`,
    *     so per-task memory is bounded by 2·N/blocks points and every row
    *     stays row-sized. Shuffle volume: 2·N·blocks vectors, the standard
    *     block-nested-loop trade (pick blocks ≈ √(N·d·8 / executorBudget)).
    */
  def partitionKnn(points: Dataset[Point], k: Int, metric: String, blocks: Int): Dataset[Neighbor] = {
    val spark = points.sparkSession
    import spark.implicits._
    Exchanges.groupedBy[Long, Neighbor](partitionCandidates(points, k, metric, blocks), "i")
      .flatMapGroups((_: Long, it: Iterator[Neighbor]) => nearest(it, k).iterator)
  }

  /** Ranked form of [[partitionKnn]]: the final per-point merge emits the
    * rank directly, so no extra window pass is needed downstream. */
  def partitionKnnRanked(points: Dataset[Point], k: Int, metric: String,
                         blocks: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    Exchanges.groupedBy[Long, Neighbor](partitionCandidates(points, k, metric, blocks), "i")
      .flatMapGroups[(Long, Long, Long, Double)] { (_: Long, it: Iterator[Neighbor]) =>
        nearest(it, k).iterator.zipWithIndex
          .map { case (n, idx) => (n.i, n.j, (idx + 1).toLong, n.dist) }
      }
      .toDF("i", "j", "rn", "dist")
  }

  /** The `k` best of one point's candidates by `(dist, j)` ascending — the
    * merge every kNN consumer applies, so the kNN stage and the fused
    * affinity stage ([[Affinities.nearestAffinities]]) keep the same rows
    * in the same order. */
  private[tsne] def nearest(candidates: Iterator[Neighbor], k: Int): Array[Neighbor] =
    candidates.toArray.sortBy(n => (n.dist, n.j)).take(k)

  /** Per-point kNN candidates for [[Affinities.nearestAffinities]], which
    * keeps the `k` best of them in the same pass that calibrates β: the
    * block-local top-k lists for `partition` (up to `blocks`·k per point,
    * no merge shuffle), the exact k lists of [[byMethod]] otherwise. */
  def candidates(method: String, points: Dataset[Point], k: Int, metric: String,
                 blocks: Int, knnIterations: Int, seed: Long = 42L,
                 dimension: Int = -1): Dataset[Neighbor] =
    if (method == "partition") partitionCandidates(points, k, metric, blocks)
    else byMethod(method, points, k, metric, blocks, knnIterations, seed, dimension)

  /** The block-pair stage of [[partitionKnn]]: each block pair keeps a
    * local top-k per left point. Every (i, j) pair meets in exactly one
    * block pair, so the candidates hold no duplicates. */
  private def partitionCandidates(points: Dataset[Point], k: Int, metric: String,
                                  blocks: Int): Dataset[Neighbor] = {
    require(blocks >= 1, s"--knnBlocks must be at least 1; got $blocks")
    val spark = points.sparkSession
    import spark.implicits._
    val fn = Distances.byName(metric)
    val b = blocks

    // (blockPair = bl*b + br, side): left copies fan out over br, right over bl
    val tagged: Dataset[(Int, Boolean, Point)] = points.flatMap { p =>
      val own = (math.floorMod(p.id, b.toLong)).toInt
      Iterator.range(0, b).flatMap { other =>
        Iterator((own * b + other, true, p), (other * b + own, false, p))
      }
    }

    Exchanges.groupedBy[Int, (Int, Boolean, Point)](tagged, "_1")
      .flatMapGroups[Neighbor] { (_: Int, it: Iterator[(Int, Boolean, Point)]) =>
        val lefts = scala.collection.mutable.ArrayBuffer.empty[Point]
        val rights = scala.collection.mutable.ArrayBuffer.empty[Point]
        it.foreach { case (_, isLeft, p) => (if (isLeft) lefts else rights) += p }
        lefts.iterator.flatMap { p =>
          val cand = new Array[Neighbor](rights.length)
          var n = 0
          var idx = 0
          while (idx < rights.length) {
            val q = rights(idx)
            if (q.id != p.id) { cand(n) = Neighbor(p.id, q.id, fn(p.vec, q.vec)); n += 1 }
            idx += 1
          }
          val local = java.util.Arrays.copyOf(cand, n)
          scala.util.Sorting.stableSort(local,
            (x: Neighbor, y: Neighbor) => x.dist < y.dist || (x.dist == y.dist && x.j < y.j))
          local.take(k).iterator
        }
      }
  }

  /** O7/O8 — approximate kNN by z-order projections
    * (ref `TsneHelpers.scala:93-160`): the points (plus `iterations − 1`
    * randomly shifted copies) are sorted in Morton order; each point's ±k
    * neighbors in every sort order become candidates; candidates are
    * deduplicated and re-ranked by true distance.
    *
    * The reference's sort is a parallelism-1 `reduceGroup`
    * (`TsneHelpers.scala:140`); here the Morton code is a materialized
    * sortable key (see [[ZOrderKey]]) so the sort is a distributed
    * range-partitioned `orderBy`, and the ±k neighborhood is an equi-join
    * on rank offsets — no single-task bottleneck anywhere.
    *
    * `seed` makes the random shift vectors deterministic (the reference
    * leaves them unseeded — `DenseVector.rand`, `TsneHelpers.scala:98` — an
    * acknowledged quirk the rebuild fixes, SURVEY.md §7).
    *
    * `dimension` is passed in like the reference does (`Tsne.scala:77`);
    * when < 0 it is read from one row (an extra Spark job — avoid on hot
    * paths).
    *
    * **Scale routing rule.** Candidate volume is O(N · window ·
    * iterations) — sub-quadratic whenever the window is a constant. On
    * data with low-dimensional structure (real embeddings cluster), a
    * *fixed* window holds its recall as N grows, because a point's true
    * neighbors stay within a bounded span of each Morton order
    * (`KnnSpec` pins this: 4× the points, fixed window, recall ≥ 0.9,
    * candidate growth ~linear). On structure-free (isotropic
    * high-dimensional) data no sorted order concentrates neighborhoods,
    * so holding recall needs window ∝ N — quadratic work in disguise.
    * Callers should cap the window (the driver queries cap at 512) and
    * route structure-free corpora to `pipeline.Ann.lshTopK`/`ivfTopK`,
    * whose bucketing does not depend on 1-D locality. */
  def projectKnn(points: Dataset[Point], k: Int, metric: String,
                 iterations: Int, seed: Long = 42L,
                 dimension: Int = -1, window: Int = -1): Dataset[Neighbor] = {
    val (allCandidates, nPoints, dim) =
      projectCandidates(points, k, iterations, seed, dimension, window)

    // Re-rank candidates by true distance on the original vectors. The
    // candidate table is ~2·w·iters/k times larger than the points table;
    // when the vectors fit comfortably in a broadcast (their exact size is
    // known from the ranking pass — no stats guessing), hint it so Spark
    // doesn't sort-merge the multi-million-row candidate side twice.
    val vecBytes = nPoints * (dim + 2L) * 8L
    val small = vecBytes < 64L * 1024 * 1024
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val va = hint(points.toDF().select(col("id").as("i"), col("vec").as("va")))
    val vb = hint(points.toDF().select(col("id").as("j"), col("vec").as("vb")))
    val pairs = allCandidates.join(va, "i").join(vb, "j")
      .select(col("i"), col("j"),
        Distances.colByName(metric)(col("va"), col("vb")).as("dist"))
    topKPerPoint(pairs, k)
  }

  /** The deduplicated ±window rank-neighborhood candidate pairs of
    * [[projectKnn]], before true-distance re-ranking — exposed so tests
    * (and capacity planning) can measure the exact candidate volume the
    * window induces. Returns (candidates `(i, j)`, nPoints, dim). */
  private[tsne] def projectCandidates(points: Dataset[Point], k: Int,
                                      iterations: Int, seed: Long,
                                      dimension: Int, window: Int)
      : (DataFrame, Long, Int) = {
    val spark = points.sparkSession
    import spark.implicits._

    val dim = if (dimension > 0) dimension else points.head().vec.length
    // candidate window per sort order: the reference hardwires ±k
    // (`TsneHelpers.scala:146-156`); a wider window trades linearly more
    // re-rank work for recall, which is the right knob in high dimensions
    // where one z-order preserves little locality
    val w = if (window > 0) window else k
    val rnd = new Random(seed)
    val shifts: Array[Array[Double]] =
      (Array.fill(dim)(0.0) +: Seq.fill(iterations - 1)(Array.fill(dim)(rnd.nextDouble()))).toArray
    val bcShifts = spark.sparkContext.broadcast(shifts)

    // ALL projections in one table (proj, id, z): one flatMap, one ranking
    // pass, one neighborhood join — instead of 2 Spark jobs per projection.
    // At cluster scale, `iterations` sequential sort jobs are pure
    // scheduling overhead; one 14×N-row sort is the same shuffle bytes with
    // one barrier.
    val keyed = points.flatMap { p =>
      val sh = bcShifts.value
      require(p.vec.length == dim,
        s"projectKnn dimension=$dim but vector ${p.id} has ${p.vec.length}")
      Iterator.tabulate(sh.length) { t =>
        val shift = sh(t)
        val shifted = new Array[Double](p.vec.length)
        var d = 0
        while (d < p.vec.length) { shifted(d) = p.vec(d) + shift(d); d += 1 }
        (t, p.id, ZOrderKey.morton(shifted))
      }
    }

    val (rankedDs, totalRows) = rankWithinProjectionWithCount(keyed)
    val ranked = rankedDs.toDF("proj", "id", "rank")
    val nPoints = totalRows / shifts.length

    // ±w rank neighborhood as an equi-join on (projection, rank + offset).
    val offs = ranked
      .select(col("proj"), col("id").as("i"), col("rank"),
        explode(sequence(lit(1), lit(w))).as("off"))
    val nbr = offs.select(col("proj"), col("i"), (col("rank") + col("off")).as("nrank"))
      .union(offs.select(col("proj"), col("i"), (col("rank") - col("off")).as("nrank")))
    val allCandidates = nbr
      .join(ranked.select(col("proj"), col("id").as("j"), col("rank").as("nrank")),
        Seq("proj", "nrank"))
      .select("i", "j").dropDuplicates("i", "j")
    (allCandidates, nPoints, dim)
  }

  /** Exact global rank of each row *within its projection*, ordered by
    * (z, id): range-repartition on (proj, z, id) so each projection's rows
    * are globally sorted across partitions, then two passes in the
    * zipWithIndex style — per-partition per-projection counts to the
    * driver, prefix offsets broadcast back, sequential rank assignment.
    * A `row_number() OVER (PARTITION BY proj)` would gather each whole
    * projection into one task; this keeps the sort distributed and is
    * exact (not partition-dependent): the rank is a pure function of the
    * (proj, z, id) total order. */
  private[tsne] def rankWithinProjection(
      keyed: Dataset[(Int, Long, Array[Byte])]): Dataset[(Int, Long, Long)] =
    rankWithinProjectionWithCount(keyed)._1

  /** [[rankWithinProjection]] plus the exact total row count — free here
    * (the count pass already ran on the driver), and it lets callers make
    * size-based planning decisions without an extra job. */
  private[tsne] def rankWithinProjectionWithCount(
      keyed: Dataset[(Int, Long, Array[Byte])]): (Dataset[(Int, Long, Long)], Long) = {
    val spark = keyed.sparkSession
    import spark.implicits._
    // RDD-level persist: the sorted table is consumed by the counts pass
    // and by every plan subtree that reads the ranks (3× in projectKnn) —
    // without it, the post-shuffle sort re-runs per consumer. RDD caches
    // (unlike DataFrame cache entries) are auto-unpersisted by Spark's
    // ContextCleaner once unreachable, so this cannot leak across queries.
    val sorted = keyed.toDF("proj", "id", "z")
      .repartitionByRange(col("proj"), col("z"), col("id"))
      .sortWithinPartitions("proj", "z", "id")
      .as[(Int, Long, Array[Byte])]
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val counts: Array[Map[Int, Long]] = sorted
      .mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.Map.empty[Int, Long]
        it.foreach { case (proj, _, _) => m.update(proj, m.getOrElse(proj, 0L) + 1) }
        Iterator((pid, m.toMap))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets: Array[Map[Int, Long]] = counts
      .scanLeft(Map.empty[Int, Long]) { (acc, m) =>
        (acc.keySet ++ m.keySet).iterator
          .map(p => p -> (acc.getOrElse(p, 0L) + m.getOrElse(p, 0L))).toMap
      }
      .dropRight(1)
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    val ranked = sorted.mapPartitionsWithIndex { (pid, it) =>
      val next = scala.collection.mutable.Map(bcOffsets.value(pid).toSeq: _*)
      it.map { case (proj, id, _) =>
        val r = next.getOrElse(proj, 0L)
        next.update(proj, r + 1)
        (proj, id, r)
      }
    }.toDS()
    (ranked, counts.iterator.flatMap(_.valuesIterator).sum)
  }

  /** kNN method dispatch mirroring the CLI surface
    * (ref `Tsne.scala:74-79`). */
  /** The ±window rule shared by the driver query (`q_knn_project`) and the
    * CLI dispatch (VERDICT r4 #7): 5.5% of N — measured to hold recall
    * ≥ 0.9 on isotropic fixtures — floored at 50 and CAPPED at 512 so the
    * candidate volume (O(N·window·iterations)) never grows quadratically.
    * Past the cap, [[projectKnn]] trades recall instead of work; see the
    * scale-routing rule in its scaladoc. */
  def tunedWindow(nPoints: Long): Int =
    math.min(512, math.max(50, math.ceil(nPoints * 0.055).toInt))

  def byMethod(method: String, points: Dataset[Point], k: Int, metric: String,
               blocks: Int, knnIterations: Int, seed: Long = 42L,
               dimension: Int = -1): Dataset[Neighbor] =
    method match {
      case "bruteforce" => bruteForce(points, k, metric)
      case "partition"  => partitionKnn(points, k, metric, blocks)
      case "project"    =>
        // the reference hardwires window = k (`TsneHelpers.scala:146-156`);
        // the tuned fractional window is what holds recall at real N — CLI
        // users get the same rule the driver queries are gated on
        projectKnn(points, k, metric, knnIterations, seed, dimension,
          window = math.max(tunedWindow(points.count()), k))
      case _ => throw new IllegalArgumentException(s"Knn method '$method' not defined")
    }
}
