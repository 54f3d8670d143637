package org.apache.spark {
  /** The listener bus drain is package-private in Spark; the traced run
    * needs it so every task-end event is counted before it reads totals. */
  object TsneBenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package tsnebench {

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.TsneBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.tsne._

/** Task and job totals for one job group (one traced span). */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var resultB = 0L
  var recordsRead = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Attributes jobs, tasks and their metrics to the job group that was set
  * when each job was submitted. */
final class Recorder extends SparkListener {
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val startOfJob = mutable.Map.empty[Int, Long]
  private val byGroup = mutable.Map.empty[String, Counts]

  private def counts(g: String) = byGroup.getOrElseUpdate(g, new Counts)

  def get(g: String): Counts = synchronized(byGroup.getOrElse(g, new Counts))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    groupOfJob(e.jobId) = g
    e.stageIds.foreach(groupOfStage(_) = g)
    startOfJob(e.jobId) = e.time
    counts(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = groupOfJob.getOrElse(e.jobId, "")
    counts(g).jobIntervals += ((startOfJob.getOrElse(e.jobId, e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(groupOfStage.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.resultB += m.resultSize
      c.recordsRead += m.inputMetrics.recordsRead
    }
  }
}

/** JVM-wide figures: the peak heap still occupied after a collection (summed
  * over the heap pools, kept only while `active` is set), GC time and
  * process CPU time. */
object JvmStats {
  @volatile var active = false
  @volatile var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (active && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (after > peakBytes) peakBytes = after
          }
        }, null, null)
      case _ =>
    }

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

final case class Span(name: String, parent: String, runId: String,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long,
                      jvmGcS: Double) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records one span per layer call. Spans stay in memory until the run
  * writes its result; each span is also the job group of the jobs it
  * submits, so the recorder attributes their counts to it. */
final class Tracer(spark: SparkSession, recorder: Recorder, runId: String) {
  val spans = ArrayBuffer.empty[Span]

  def span[A](name: String, parent: String = "op")(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    val gc0 = JvmStats.gcMs
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      spans += Span(name, parent, runId, ms0, System.currentTimeMillis(), t0, t1,
        (JvmStats.gcMs - gc0) / 1e3)
    }
  }

  def wall(name: String): Double = spans.filter(_.name == name).map(_.wallS).sum

  def counts(names: String*): Counts = {
    TsneBenchBus.drain(spark.sparkContext)
    val out = new Counts
    names.foreach { n =>
      val c = recorder.get(n)
      out.jobs += c.jobs; out.tasks += c.tasks; out.cpuNs += c.cpuNs; out.gcMs += c.gcMs
      out.shuffleWriteB += c.shuffleWriteB; out.resultB += c.resultB
      out.recordsRead += c.recordsRead; out.jobIntervals ++= c.jobIntervals
    }
    out
  }

  /** Span wall time not covered by any of its jobs: planning, driver loops,
    * collects and driver-side kernels. */
  def driverS(name: String): Double = spans.filter(_.name == name).map { s =>
    val ivs = counts(name).jobIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.wallS - covered / 1e3)
  }.sum
}

final case class OpResult(ok: Boolean, recall: Double, msg: String)

trait Workload {
  /** Work units of one operation, for the work rate. */
  def workPerOp: Double
  /** Per-session preparation: part of every set-up round. */
  def prepare(spark: SparkSession): Unit
  /** One timed operation; returns what the untimed check needs. */
  def op(spark: SparkSession, idx: Int): AnyRef
  def check(spark: SparkSession, idx: Int, out: AnyRef): OpResult
  /** One traced operation plus its kernel probes; returns per-layer metrics. */
  def traced(spark: SparkSession, tr: Tracer): Map[String, Double]
  def info: Map[String, Double]
}

object Units {
  /** MB is 10^6 bytes throughout. */
  val mb = 1e6
}

/** One reference-CLI t-SNE run per operation (`Tsne.run`), checked for
  * shape and for neighbour recall against the exact input-space top-10. */
final class EmbedWorkload(work: String, seed: Long, points: Int, dims: Int,
                          perplexity: Double, knnMethod: String, iterations: Int,
                          theta: Double, recallFloor: Double, distIterations: Int)
    extends Workload {
  private val truthK = 10
  private val neighbors = 3 * perplexity.toInt
  private val input = s"$work/input.csv"
  private var truth: DataFrame = _

  def workPerOp: Double = points.toDouble * iterations

  def info: Map[String, Double] = Map("k" -> neighbors, "iterations" -> iterations)

  def prepare(spark: SparkSession): Unit = {
    truth = spark.read.schema("i LONG, j LONG").csv(s"$work/truth.csv")
      .persist(StorageLevel.MEMORY_ONLY)
    require(truth.count() == points.toLong * truthK, "truth table has the wrong size")
  }

  private def params = Optimizer.Params(perplexity = perplexity, iterations = iterations,
    theta = theta, seed = seed)

  private def outDir(idx: Int) = s"$work/out/op$idx"

  /** One CLI run: CSV in, kNN, P, optimize, CSV and loss file out. */
  def op(spark: SparkSession, idx: Int): AnyRef = {
    Tsne.run(Array(
      "--input", input, "--output", s"${outDir(idx)}/emb",
      "--dimension", dims.toString, "--perplexity", perplexity.toString,
      "--knnMethod", knnMethod, "--iterations", iterations.toString,
      "--theta", theta.toString, "--randomState", seed.toString,
      "--loss", s"${outDir(idx)}/loss.txt"), spark)
    outDir(idx)
  }

  private def readEmbedding(dir: String): Array[Point] =
    new File(s"$dir/emb").listFiles().filter(_.getName.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .filter(_.nonEmpty)
      .map { line =>
        val a = line.split(",")
        Point(a(0).toLong, Array(a(1).toDouble, a(2).toDouble))
      }

  def recallOf(spark: SparkSession, emb: Array[Point]): Double = {
    import spark.implicits._
    val row = Quality.neighborRecall(truth, spark.createDataset(emb.toSeq), truthK).head()
    row.getAs[Long]("hits").toDouble / row.getAs[Long]("truth_pairs").toDouble
  }

  def check(spark: SparkSession, idx: Int, out: AnyRef): OpResult = {
    val dir = out.asInstanceOf[String]
    val emb = readEmbedding(dir)
    val ids = emb.map(_.id).sorted
    val lossText = new String(Files.readAllBytes(Paths.get(s"$dir/loss.txt")))
    val lossEntries = "=".r.findAllIn(lossText).length
    val problems = Seq(
      (emb.length == points) -> s"${emb.length} rows, expected $points",
      ids.sameElements(0L until points.toLong) -> "ids are not 0..N-1",
      emb.forall(_.vec.forall(v => java.lang.Double.isFinite(v))) -> "non-finite coordinate",
      (lossEntries == iterations / 10) -> s"$lossEntries loss entries, expected ${iterations / 10}"
    ).collect { case (false, m) => m }
    if (problems.nonEmpty) OpResult(ok = false, 0.0, problems.mkString("; "))
    else {
      val r = recallOf(spark, emb)
      OpResult(r >= recallFloor, r, if (r >= recallFloor) "" else f"recall $r%.4f below floor $recallFloor%.4f")
    }
  }

  private def materialize[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The distributed superstep loop on the same P for a few iterations,
    * outside the traced total: what this input would cost per iteration had
    * it been routed there. Its embedding must match the local path's. */
  private def distributedProbe(spark: SparkSession, tr: Tracer, rows: Dataset[AffinityRow],
                               ws0: Dataset[WorkingSet]): Map[String, Double] = {
    val short = params.copy(iterations = distIterations)
    val name = "probe.optimizer.distributed"
    val dist = tr.span(name, parent = "probe")(
      Optimizer.optimizeDistributed(rows, ws0, short, None).collect())
    val (local, _) = Optimizer.optimizeLocal(rows.collect(), ws0.collect(), short)
    val want = local.map(p => p.id -> p.vec).toMap
    val diff = dist.map(p => p.vec.zip(want(p.id)).map { case (a, b) => math.abs(a - b) }.max).max
    require(diff < 1e-6, s"distributed and local optimizer disagree by $diff")
    val c = tr.counts(name)
    Map("optimizer.dist_s_per_iter" -> tr.wall(name) / distIterations,
      "optimizer.dist_driver_s_per_iter" -> tr.driverS(name) / distIterations,
      "optimizer.dist_jobs_per_iter" -> c.jobs.toDouble / distIterations,
      "optimizer.dist_result_mb_per_iter" -> c.resultB / Units.mb / distIterations)
  }

  def traced(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val lossAcc = new MapAccumulator
    spark.sparkContext.register(lossAcc, "loss")
    val out = s"$work/out/traced"
    val pts = tr.span("io.read")(materialize(IO.readInput(spark, input, dims)))
    val knn = tr.span("knn")(materialize(Knn.byMethod(knnMethod, pts, neighbors, "sqeuclidean",
      spark.sparkContext.defaultParallelism, 3, seed, dims)))
    val cond = tr.span("affinities.pairwise")(
      materialize(Affinities.pairwiseAffinities(knn, perplexity)))
    val (rows, release) = tr.span("affinities.joint") {
      val (joint, rel) = Affinities.jointDistributionWithRelease(cond)
      (materialize(Affinities.toAffinityRows(joint)), rel)
    }
    val ws0 = tr.span("optimizer.init")(
      materialize(Optimizer.initWorkingSet(rows, 2, seed)))
    val emb = tr.span("optimizer.optimize") {
      val e = Optimizer.optimize(rows, ws0, params, Some(lossAcc))
      e.count()
      e
    }
    tr.span("io.write")(IO.writeEmbeddingCsv(emb, out))

    // untraced from here: counts, exact-kNN recall and the kernel probes
    val pRows = rows.collect().sortBy(_.id)
    val yInit = ws0.collect().sortBy(_.id).map(_.y)
    val yFinal = emb.collect().sortBy(_.id).map(_.vec)
    val knnPairs = knn.count()
    val knnRecall = {
      val top = knn.collect().groupBy(_.i).map { case (i, ns) =>
        i -> ns.sortBy(n => (n.dist, n.j)).take(truthK).map(_.j).toSet }
      val t = truth.collect().map(r => (r.getLong(0), r.getLong(1)))
      t.count { case (i, j) => top.get(i).exists(_.contains(j)) }.toDouble / t.length
    }

    val pEntries = pRows.map(_.js.length.toLong).sum
    val io = tr.counts("io.read")
    val kc = tr.counts("knn")
    val ac = tr.counts("affinities.pairwise", "affinities.joint")
    val oc = tr.counts("optimizer.optimize")
    val optS = tr.wall("optimizer.optimize")
    // the distributed path runs at least one job per iteration
    val localPath = if (oc.jobs < iterations) 1.0 else 0.0
    require(pEntries <= params.maxLocalPEntries && localPath == 1.0,
      s"embed_local must take the local optimizer: local_path=$localPath, " +
        s"|P|=$pEntries, maxLocalPEntries=${params.maxLocalPEntries}")
    val dist = distributedProbe(spark, tr, rows, ws0)
    Seq(pts, knn, cond, rows, ws0).foreach(_.unpersist())
    release()

    Map(
      "io.read_s" -> tr.wall("io.read"), "io.read_rows" -> io.recordsRead.toDouble,
      "io.write_s" -> tr.wall("io.write"), "io.shuffle_write_mb" -> io.shuffleWriteB / Units.mb,
      "knn.s" -> tr.wall("knn"), "knn.task_cpu_s" -> kc.cpuNs / 1e9, "knn.jobs" -> kc.jobs.toDouble,
      "knn.shuffle_write_mb" -> kc.shuffleWriteB / Units.mb, "knn.pairs" -> knnPairs.toDouble,
      "knn.recall_vs_exact" -> knnRecall,
      "affinities.pairwise_s" -> tr.wall("affinities.pairwise"),
      "affinities.joint_s" -> tr.wall("affinities.joint"),
      "affinities.task_cpu_s" -> ac.cpuNs / 1e9, "affinities.jobs" -> ac.jobs.toDouble,
      "affinities.shuffle_write_mb" -> ac.shuffleWriteB / Units.mb,
      "affinities.p_entries" -> pEntries.toDouble,
      "optimizer.init_s" -> tr.wall("optimizer.init"),
      "optimizer.s" -> optS, "optimizer.s_per_iter" -> optS / iterations,
      "optimizer.driver_s" -> tr.driverS("optimizer.optimize"),
      "optimizer.jobs" -> oc.jobs.toDouble, "optimizer.tasks" -> oc.tasks.toDouble,
      "optimizer.task_cpu_s" -> oc.cpuNs / 1e9, "optimizer.result_mb" -> oc.resultB / Units.mb,
      "optimizer.gc_s" -> tr.spans.filter(_.name == "optimizer.optimize").map(_.jvmGcS).sum,
      "optimizer.local_path" -> localPath
    ) ++ dist ++ Kernels.probe(pRows, yInit, yFinal, theta)
  }
}

/** Single-threaded calls of the Barnes-Hut and gradient kernels on the
  * workload's own P, outside the traced total. Each figure is the median of
  * several repetitions of a full pass over all points or all P rows. */
object Kernels {
  @volatile private var sink = 0.0

  private def median(reps: Int)(body: => Double): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      sink += body
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(reps / 2)
  }

  private def forces(tree: BhTree, ys: Array[Array[Double]], theta: Double): Double = {
    var s = 0.0
    ys.foreach(p => s += tree.repulsiveForce(p(0), p(1), theta)._3)
    s
  }

  def probe(pRows: Array[AffinityRow], yInit: Array[Array[Double]],
            yFinal: Array[Array[Double]], theta: Double): Map[String, Double] = {
    val reps = 7
    val collapsed = BhTree.build(yInit.toSeq)
    val spread = BhTree.build(yFinal.toSeq)
    val idx = pRows.zipWithIndex.map { case (r, k) => r.id -> k }.toMap
    val yOf: Long => Array[Double] = id => yFinal(idx(id))
    val metric = Distances.byName("sqeuclidean")
    val zeros = Array(0.0, 0.0)
    val ones = Array(1.0, 1.0)
    Map(
      "bhtree.build_s" -> median(reps)(BhTree.build(yFinal.toSeq).size.toDouble),
      "bhtree.force_collapsed_s" -> median(reps)(forces(collapsed, yInit, theta)),
      "bhtree.force_spread_s" -> median(reps)(forces(spread, yFinal, theta)),
      "gradient.attractive_s" -> median(reps) {
        var s = 0.0
        pRows.foreach(r => s += Gradient.attractiveForce(r.js, r.ps, yOf(r.id), yOf, metric)._1)
        s
      },
      "gradient.update_s" -> median(reps) {
        var s = 0.0
        yFinal.foreach(y => s += Gradient.update(y, zeros, ones, y, 0.01, 0.8, 1000.0)._1(0))
        s
      })
  }
}

/** A pass over named driver queries on generated tables. Results are
  * collected in full (every row materialized) and dumped for the oracle
  * check, which the caller runs against DuckDB after the process exits. */
final class QueryMixWorkload(work: String, queries: Seq[String]) extends Workload {
  private val dedupFamily = Set("q_dedup_minhash", "q_dedup_clusters",
    "q_dedup_incremental_minhash", "q_split_leakage_safe")
  private lazy val fns = SparkEntry.queries

  def workPerOp: Double = queries.size

  def info: Map[String, Double] = Map("queries" -> queries.size)

  def prepare(spark: SparkSession): Unit = {
    val missing = queries.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val sql = SparkEntry.oracleSql
    Json.write(s"$work/oracle_sql.json", queries.map(q => q -> sql(q)).toMap)
  }

  def op(spark: SparkSession, idx: Int): AnyRef =
    queries.map { q =>
      spark.catalog.clearCache()
      val df = fns(q)(spark, work)
      (q, df.schema, df.collect())
    }

  def check(spark: SparkSession, idx: Int, out: AnyRef): OpResult = {
    val dir = new File(s"$work/out/op$idx")
    dir.mkdirs()
    out.asInstanceOf[Seq[(String, StructType, Array[Row])]].foreach { case (q, schema, rows) =>
      Json.dumpRows(new File(dir, s"$q.jsonl"), schema, rows)
    }
    OpResult(ok = true, 1.0, "")
  }

  def traced(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    queries.foreach { q =>
      spark.catalog.clearCache()
      tr.span(q)(fns(q)(spark, work).collect())
    }
    def family(name: String, qs: Seq[String]): Map[String, Double] = {
      val c = tr.counts(qs: _*)
      Map(s"$name.s" -> qs.map(tr.wall).sum, s"$name.driver_s" -> qs.map(tr.driverS).sum,
        s"$name.jobs" -> c.jobs.toDouble, s"$name.result_mb" -> c.resultB / Units.mb,
        s"$name.shuffle_write_mb" -> c.shuffleWriteB / Units.mb)
    }
    val (dedup, graph) = queries.partition(dedupFamily)
    family("dedup", dedup) ++ family("graph", graph) ++
      queries.flatMap(q => Seq(s"q.$q.s" -> tr.wall(q), s"q.$q.jobs" -> tr.counts(q).jobs.toDouble))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.println(value(v)) finally w.close()
  }

  /** One line of lower-cased column names, then one JSON array per row.
    * Floating values travel as exact hex strings; decimals as strings. */
  def dumpRows(f: File, schema: StructType, rows: Array[Row]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println(value(schema.fields.map(_.name.toLowerCase).toSeq))
      rows.foreach { r =>
        w.println(schema.fields.indices.map { c =>
          if (r.isNullAt(c)) "null"
          else schema(c).dataType match {
            case DoubleType => s"""{"f":${str(java.lang.Double.toHexString(r.getDouble(c)))}}"""
            case FloatType => s"""{"f":${str(java.lang.Double.toHexString(r.getFloat(c).toDouble))}}"""
            case _: DecimalType => s"""{"dec":${str(r.getDecimal(c).toPlainString)}}"""
            case LongType => r.getLong(c).toString
            case IntegerType => r.getInt(c).toString
            case ShortType => r.getShort(c).toString
            case ByteType => r.getByte(c).toString
            case BooleanType => r.getBoolean(c).toString
            case StringType => str(r.getString(c))
            case t => throw new IllegalArgumentException(s"column type $t is not supported by the check")
          }
        }.mkString("[", ",", "]"))
      }
    } finally w.close()
  }
}

/** Runs one benchmark invocation and writes its raw measurements as JSON.
  * Arguments: key=value pairs (see run.py, which prepares inputs, launches
  * this main, checks query results and prints the metrics). */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("tsnebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val work = a("work")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val rounds = a("rounds").toInt
    val warmups = a("warmups").toInt
    val warmupSeconds = a("warmupSeconds").toDouble
    val minOps = a("minOps").toInt
    val queries = a.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val w: Workload = a("workload") match {
      case "query_mix" => new QueryMixWorkload(work, queries)
      case "embed_local" =>
        new EmbedWorkload(work, seed, a("points").toInt, a("dims").toInt,
          a("perplexity").toDouble, a("knnMethod"), a("iterations").toInt,
          a("theta").toDouble, a("recallFloor").toDouble, a("distIterations").toInt)
    }
    JvmStats.install()

    // set-up rounds: each (re)starts the session and prepares the workload
    var spark: SparkSession = null
    var recorder: Recorder = null
    val setupRounds = (1 to rounds).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      recorder = new Recorder
      spark.sparkContext.addSparkListener(recorder)
      w.prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    // untimed warm-up operations until JIT and codegen settle: measured
    // operation times keep falling for several operations after the first
    val warm0 = System.nanoTime()
    var warm = OpResult(ok = true, 0.0, "")
    var k = 0
    while (k < warmups || (System.nanoTime() - warm0) / 1e9 < warmupSeconds) {
      k += 1
      val r = try w.check(spark, -k, w.op(spark, -k)) catch {
        case e: Throwable => OpResult(ok = false, 0.0, s"warm-up: $e")
      }
      if (!r.ok && warm.ok) warm = r
      System.gc()
    }
    val warmupS = (System.nanoTime() - warm0) / 1e9

    // closed loop: the next operation starts when the previous one and its
    // check are done; the loop stops once `seconds` of operation time passed
    // and at least `minOps` operations ran, so the median has a middle
    val ops = ArrayBuffer.empty[Map[String, Any]]
    var busy = 0.0
    while (ops.size < minOps || busy < seconds) {
      val idx = ops.size
      JvmStats.active = true
      val cpu0 = JvmStats.processCpuNs
      val t0 = System.nanoTime()
      val out = try Right(w.op(spark, idx)) catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpuS = (JvmStats.processCpuNs - cpu0) / 1e9
      busy += dt
      val r = out match {
        case Right(o) => try w.check(spark, idx, o) catch {
          case e: Throwable => OpResult(ok = false, 0.0, s"check: $e")
        }
        case Left(e) => OpResult(ok = false, 0.0, s"op: $e")
      }
      System.gc()
      JvmStats.active = false
      ops += Map("s" -> dt, "cpu_s" -> cpuS, "ok" -> r.ok, "recall" -> r.recall, "msg" -> r.msg)
    }

    val traceOut: Map[String, Any] = if (!trace) Map.empty else {
      val tr = new Tracer(spark, recorder, s"traced-$seed")
      val layers = try Right(w.traced(spark, tr)) catch { case e: Throwable => Left(e.toString) }
      // the operation's spans; probe spans sit outside the traced total
      val opSpans = tr.spans.filter(_.parent == "op").toSeq
      val names = opSpans.map(_.name)
      val total =
        if (opSpans.isEmpty) 0.0 else (opSpans.last.endNs - opSpans.head.startNs) / 1e9
      val all = tr.counts(names: _*)
      Map(
        "error" -> layers.left.getOrElse(""),
        "layers" -> layers.getOrElse(Map.empty),
        "total_s" -> total,
        "spans" -> tr.spans.map(s => Map("name" -> s.name, "parent" -> s.parent,
          "run_id" -> s.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS)),
        "spark.jobs" -> all.jobs.toDouble,
        "spark.task_cpu_s" -> all.cpuNs / 1e9,
        "spark.gc_s" -> all.gcMs / 1e3,
        "spark.core_util" -> (if (total > 0) all.cpuNs / 1e9 / (total * cores) else 0.0))
    }

    Json.write(s"$work/result.json", Map(
      "setup_rounds_s" -> setupRounds,
      "warmup_s" -> warmupS,
      "warmup_ops" -> k,
      "warmup_ok" -> warm.ok,
      "warmup_msg" -> warm.msg,
      "ops" -> ops.toSeq,
      "heap_after_gc_peak_mb" -> JvmStats.peakBytes / 1e6,
      "work_per_op" -> w.workPerOp,
      "info" -> w.info,
      "stamp" -> Map(
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "jvm_cores" -> Runtime.getRuntime.availableProcessors),
      "trace" -> traceOut))
    spark.stop()
  }
}

}
