package graft.tsne

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.functions.col

/** The one group-by-key spelling of the t-SNE front half, used by all four
  * of its keyed steps: COO → points ([[IO.cooToPoints]]), kNN block pairs
  * and the kNN merge ([[Knn]]), the merge fused with β calibration and the
  * symmetrize ([[Affinities]]).
  *
  * `repartition(n, key).groupBy(key).as[K, T]` plans as one
  * `Exchange hashpartitioning(key, n), REPARTITION_BY_NUM`, then `Sort` →
  * `MapGroups`: the grouping reuses the exchange's partitioning, so no
  * second Exchange appears, and grouping stays sort-based and streaming —
  * memory per task is bounded per group, not per partition.
  *
  * Why the count is explicit. These shuffles are small in bytes and heavy
  * in compute: on a 600-point, 784-dimension input each carries ≤ 3 MB,
  * while the block-pair step does all N²·d distance work. AQE sizes
  * partitions by bytes (`parallelismFirst` coalescing with a 1 MB minimum
  * partition size), so a plain `groupByKey` there ran in one or two tasks
  * on a 4-core machine. AQE never coalesces a `REPARTITION_BY_NUM`
  * exchange, so `n` — the session's `spark.sql.shuffle.partitions` — is
  * the number of tasks that run. The COO scan has the same problem one
  * step earlier: a file under `spark.sql.files.openCostInBytes` (4 MB) is
  * one split however many cores there are, which is why [[IO.readCoo]]
  * asks for its splits explicitly.
  */
private[tsne] object Exchanges {

  /** `ds` grouped by its column `key` over exactly
    * `spark.sql.shuffle.partitions` hash partitions. */
  def groupedBy[K: Encoder, T: Encoder](ds: Dataset[T], key: String): KeyValueGroupedDataset[K, T] = {
    val n = ds.sparkSession.sessionState.conf.numShufflePartitions
    ds.repartition(n, col(key)).groupBy(col(key)).as[K, T]
  }
}
