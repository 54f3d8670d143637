package graft.tsne

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources and sinks (ref: `Tsne.scala:138-159` — CSV COO scans — and
  * `Tsne.scala:86` — CSV embedding sink).
  *
  * The rebuild adds a parquet source for the driver's `embeddings` table
  * (`vec_id BIGINT, embedding ARRAY<FLOAT>, label INT`), which is the
  * natural modern input format: columnar, prunable, splittable at 100 TB.
  */
object IO {

  val cooSchema: StructType = StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("j", IntegerType, nullable = false),
    StructField("v", DoubleType, nullable = false)))

  /** O3 — CSV COO scan, pass-through (precomputed sparse distance matrix,
    * ref `Tsne.scala:155-159`). Schema is declared up front so the CSV
    * reader never infers (one pass, prunable columns).
    *
    * The lines come from `textFile(path, defaultParallelism)` and go
    * through the same CSV parser: a file scan packs every file under
    * `spark.sql.files.openCostInBytes` (4 MB) into one split, and the
    * whole front half downstream then starts from one task (see
    * [[Exchanges]]). With a declared schema and no header the parser reads
    * no line while the plan is built, so building it submits no job. */
  def readCoo(spark: SparkSession, path: String): Dataset[CooEntry] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val lines = spark.createDataset(sc.textFile(path, sc.defaultParallelism))
    spark.read.schema(cooSchema).csv(lines).as[CooEntry]
  }

  /** O2 — CSV COO scan → dense vectors: group by point id, scatter
    * `(j, v)` pairs into an `Array[Double]` of length `dimension`
    * (ref `Tsne.scala:138-153`, VectorBuilder per group), in one shuffle
    * on `i` ([[Exchanges]]).
    *
    * Missing dimensions are zero and duplicate `(i, j)` entries are summed,
    * like VectorBuilder.toDenseVector. The summands of a repeated `j` are
    * added in ascending value order, so the vector does not depend on the
    * order in which the shuffle delivers them. An index outside
    * `[0, dimension)` is a clear error naming `--dimension`. */
  def cooToPoints(coo: Dataset[CooEntry], dimension: Int): Dataset[Point] = {
    val spark = coo.sparkSession
    import spark.implicits._
    Exchanges.groupedBy[Long, CooEntry](coo, "i")
      .mapGroups { (id, rows) =>
        val vec = new Array[Double](dimension)
        val seen = new java.util.BitSet(dimension)
        val repeats = scala.collection.mutable.ArrayBuffer.empty[CooEntry]
        rows.foreach { e =>
          require(e.j >= 0 && e.j < dimension,
            s"point $id has coordinate index ${e.j}, outside [0, --dimension = $dimension)")
          if (seen.get(e.j)) repeats += e else { seen.set(e.j); vec(e.j) = e.v }
        }
        repeats.groupBy(_.j).foreach { case (j, more) =>
          vec(j) = (vec(j) +: more.map(_.v)).sorted.sum
        }
        Point(id, vec)
      }
  }

  def readInput(spark: SparkSession, path: String, dimension: Int): Dataset[Point] =
    cooToPoints(readCoo(spark, path), dimension)

  /** Parquet `embeddings` source → `(id, vec)` with the float array cast to
    * double once at the scan (so all downstream math is double, matching
    * the reference's Double-everywhere data model). */
  def readEmbeddings(spark: SparkSession, sfDir: String): Dataset[Point] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(
        col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("vec"))
      .as[Point]
  }

  /** Points as a DataFrame keeping the relational columns (id, vec) —
    * convenient for Column-expression pipelines. */
  def embeddingsDf(spark: SparkSession, sfDir: String): DataFrame =
    readEmbeddings(spark, sfDir).toDF()

  /** O1 sink — final embedding `(id, y0, y1)` as CSV, overwrite mode
    * (ref `Tsne.scala:86`). */
  def writeEmbeddingCsv(embedding: Dataset[Point], path: String): Unit =
    embedding
      .select(col("id"), col("vec")(0).as("y0"), col("vec")(1).as("y1"))
      .write.mode("overwrite").csv(path)
}
