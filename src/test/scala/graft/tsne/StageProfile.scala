package graft.tsne

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The Spark jobs and stages one call submits, from a `SparkListener`:
  * what `TsneE2ESpec` asserts its job and task counts on, and a per-stage
  * table of a `Tsne.run` for SCALE.md:
  *
  * `sbt 'Test/runMain graft.tsne.StageProfile <runs> <Tsne.run arguments>'`
  *
  * runs the CLI body `runs` times on a `local[4]` session (4 shuffle
  * partitions, AQE and the engine's extensions on, as in the specs and the
  * benchmark) and prints, for each stage in submission order, its tasks
  * and the median of its wall time and task CPU time over the runs.
  */
object StageProfile {

  /** One completed stage: the job that submitted it, its operators, tasks,
    * wall time (submission to completion) and summed executor CPU time. */
  final case class Stage(job: Int, name: String, tasks: Int, wallMs: Double, cpuMs: Double)

  final case class Log(jobs: Int, stages: Seq[Stage])

  /** Jobs and stages submitted while `body` runs. Listener events arrive
    * asynchronously but in order, so once a marked sentinel job's event has
    * been seen every earlier event has been counted. The sentinel is a
    * collect(), not a count(): count carries an Exchange, which under AQE
    * runs as a second job. */
  def during(spark: SparkSession)(body: => Unit): Log = {
    val sc = spark.sparkContext
    val jobOfStage = scala.collection.mutable.Map.empty[Int, Int]
    val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    var jobs = 0
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        if (js.properties != null && js.properties.getProperty("graft.sentinel") != null)
          sentinelSeen.countDown()
        else {
          jobs += 1
          js.stageIds.foreach(id => jobOfStage.getOrElseUpdate(id, js.jobId))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val info = e.stageInfo
        jobOfStage.get(info.stageId).foreach { job =>
          val wall = for (a <- info.submissionTime; b <- info.completionTime) yield b - a
          // the operators the stage runs, from its RDD scopes: AQE names
          // every shuffle-map stage after the same internal call site
          val ops = info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name))
            .map(_.replaceAll(" \\(\\d+\\)", "")).distinct.mkString(">")
          stages += Stage(job, ops, info.numTasks, wall.getOrElse(0L).toDouble,
            info.taskMetrics.executorCpuTime / 1e6)
        }
      }
    }
    sc.addSparkListener(listener)
    try body
    finally {
      sc.setLocalProperty("graft.sentinel", "1")
      try spark.range(1).collect() finally sc.setLocalProperty("graft.sentinel", null)
      require(sentinelSeen.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not deliver the sentinel job")
      sc.removeSparkListener(listener)
    }
    listener.synchronized(Log(jobs, stages.toSeq))
  }

  def main(args: Array[String]): Unit = {
    require(args.length > 1, "usage: StageProfile <runs> <Tsne.run arguments>")
    val runs = args(0).toInt
    val spark = SparkSession.builder().master("local[4]").appName("stage-profile")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      Tsne.run(args.drop(1), spark) // warm-up, not reported
      val logs = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val log = during(spark)(Tsne.run(args.drop(1), spark))
        (log, (System.nanoTime() - t0) / 1e6)
      }
      def median(xs: Seq[Double]): Double = {
        val s = xs.sorted
        if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
      }
      val shapes = logs.map(_._1.stages.map(s => (s.name, s.tasks))).distinct
      println(f"runs=$runs jobs=${logs.map(_._1.jobs).distinct.mkString("/")} " +
        f"run_ms(median)=${median(logs.map(_._2))}%.0f stage shapes=${shapes.length}")
      val first = logs.head._1.stages
      println("| # | stage | tasks | wall ms | CPU ms |")
      println("|---|---|---|---|---|")
      first.indices.foreach { k =>
        val same = logs.map(_._1.stages).filter(_.length == first.length).map(_(k))
        println(f"| ${k + 1} | ${first(k).name.take(80)} | ${first(k).tasks} | " +
          f"${median(same.map(_.wallMs))}%.0f | ${median(same.map(_.cpuMs))}%.0f |")
      }
    } finally spark.stop()
  }
}
