package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Ioops, SparkEntry}
import graft.domain.{Cleaning, Datasets, Scoring, SyntheticSeason}
import graft.ml.NonCompletionModel

/** JVM side of the benchmark: one workload, one closed loop, one
  * client. Every layer is timed from outside, around its call into the
  * program's public functions; with `--trace 1` Spark listeners count
  * the runtime work as well. Writes one JSON record to `--result`;
  * `run.py` checks the outputs and turns the record into metrics.
  *
  *   Harness --workload board|season-staged --data <dir> --out <dir>
  *           --seconds <n> --trace 0|1 --seed <n> --result <file>
  */
object Harness {

  /** The board: the first query of every name family, plus the two
    * PELT rows that have no DuckDB oracle. */
  def boardQueries: Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val firsts = names.groupBy(family).values.map(_.min).toSeq
    (firsts ++ Seq("k2_pelt_agg", "k2_pelt_changepoint")).distinct.sorted
  }

  def family(name: String): String = name.takeWhile(_.isLetter)

  val SeasonPlays = 120
  val GridPoint = NonCompletionModel.GridPoint(10, 0.1, 3, 0.8, 1.0, 0.0)

  private def secs(t: Long): Double = (System.nanoTime() - t) / 1e9

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU nanoseconds of each live Java thread: Spark's driver, task and
    * service threads. The JIT compiler and GC threads are not Java
    * threads and are left out: in a cold JVM the JIT alone spends about
    * twice the board round's Java-thread CPU, and its share varies from
    * run to run with what gets compiled when. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).toMap

  /** Java-thread CPU seconds spent since `before`; a thread that ended
    * in between (CPU time -1) counts nothing. */
  private def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) =>
      if (ns < 0) 0L else ns - math.max(0L, before.getOrElse(id, 0L))
    }.sum / 1e9

  /** Listener-side counters, registered only for a traced run. */
  final class Counters extends SparkListener with QueryExecutionListener {
    val jobs, tasks, cpuNs, runMs, gcMs, shuffleBytes, spillBytes, planMs =
      new AtomicLong()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = addPlan(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = addPlan(qe)
    private def addPlan(qe: QueryExecution): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
  }

  /** Largest heap occupancy left after any collection in this JVM. */
  object PeakHeap {
    @volatile var peak = 0L
    def install(): Unit = {
      val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getName).toSet
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case em: javax.management.NotificationEmitter =>
          em.addNotificationListener((n: javax.management.Notification, _: Any) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
              synchronized { if (used > peak) peak = used }
            }
          }, null, null)
        case _ =>
      }
    }
  }

  final case class Op(name: String, group: String, buildS: Double, runS: Double,
                      error: Option[String])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val (data, out) = (a("data"), a("out"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    PeakHeap.install()
    val k = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    if (trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    def drained(): Unit = if (trace) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val compiles0 = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val layers = mutable.LinkedHashMap.empty[String, Double]
    def add(name: String, v: Double): Unit = layers(name) = layers.getOrElse(name, 0.0) + v
    def timed[T](layer: String)(body: => T): T = {
      val t = System.nanoTime(); val r = body; add(layer, secs(t)); r
    }
    val ops = mutable.ArrayBuffer.empty[Op]
    val rounds, roundCpu = mutable.ArrayBuffer.empty[Double]
    /** Whole rounds of `body` until `seconds` have passed; wall and CPU
      * time per round. */
    def loop(body: => Unit): Unit = {
      val t = System.nanoTime()
      do {
        val (tr, cr) = (System.nanoTime(), threadCpu())
        body
        rounds += secs(tr)
        roundCpu += threadCpuSince(cr)
      } while (secs(t) < seconds)
    }
    val extra = mutable.LinkedHashMap.empty[String, String]

    workload match {
      case "board" =>
        timed("artifacts.build_s")(graft.queries.TextSim.prebuildIndexes(spark, data))
        timed("ioops.bucketed_s")(Ioops.ensureBucketedPair(spark, data))
        add("artifacts.mb", dirBytes(Paths.get(System.getProperty("java.io.tmpdir")),
          _.getFileName.toString.startsWith("graft")) / 1e6)
        val setupDone = System.currentTimeMillis()
        val queries = boardQueries
        loop {
          queries.foreach { name =>
            val t1 = System.nanoTime()
            var buildS = 0.0
            val err = try {
              val df = SparkEntry.queries(name)(spark, data)
              buildS = secs(t1)
              df.write.mode("overwrite").parquet(s"$out/$name")
              None
            } catch { case e: Throwable =>
              Some(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300))
            }
            val runS = secs(t1) - buildS
            spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
            ops += Op(name, family(name), buildS, runS, err)
          }
        }
        ops.foreach { o =>
          add(s"queries.${o.group}_s", o.buildS + o.runS)
          add("queries.build_s", o.buildS)
          add("queries.run_s", o.runS)
        }
        // the oracle file `Verify` writes beside its per-query outputs,
        // so tools/compare_oracle.py reads this run's out dir as it is
        val subs = graft.queries.TextSim.oracleSubstitutions(spark, data)
        val oracles = SparkEntry.oracleSql.filter { case (n, _) => queries.contains(n) }
          .map { case (n, sql) => n -> subs.foldLeft(sql) { case (s, (k, v)) => s.replace(k, v) } }
        Files.writeString(Paths.get(s"$out/oracle_sql.json"),
          jsonObj(oracles.map { case (n, s) => n -> Ioops.jsonEscape(s) }))
        extra("setup_done_ms") = setupDone.toString

      case "season-staged" =>
        val seed = a("seed").toLong
        val specs = SyntheticSeason.playSpecs(SeasonPlays, seed)
        timed("domain.generate_s") {
          SyntheticSeason.trackingBefore(spark, specs).write.parquet(s"$data/tracking_before")
          SyntheticSeason.trackingAfter(spark, specs).write.parquet(s"$data/tracking_after")
          SyntheticSeason.rawPlays(spark, specs).write.parquet(s"$data/plays")
        }
        val setupDone = System.currentTimeMillis()
        val stageJobs = mutable.LinkedHashMap.empty[String, Long]
        def stage[T](name: String)(body: => T): T = {
          drained()
          val j0 = counters.jobs.get
          val t1 = System.nanoTime()
          val r = body
          ops += Op(name, name, 0.0, secs(t1), None)
          drained()
          stageJobs(name) = stageJobs.getOrElse(name, 0L) + counters.jobs.get - j0
          r
        }
        def read(p: String): DataFrame = spark.read.parquet(p)
        def write(df: DataFrame, p: String): Unit = df.write.mode("overwrite").parquet(p)
        var metrics: NonCompletionModel.Metrics = null
        var model: org.apache.spark.ml.PipelineModel = null
        loop {
          stage("clean") {
            timed("domain.clean_s") {
              val before = read(s"$data/tracking_before")
              val after = read(s"$data/tracking_after")
              val raw = read(s"$data/plays")
              val players = Cleaning.playersDataset(before)
              val plays0 = Cleaning.processPlays(raw, before)
              val (cleanBefore, _) =
                Cleaning.cleanTracking(before, after, players, raw, plays0)
              write(cleanBefore, s"$out/clean_before")
              write(Cleaning.filterPlaysWithTracking(plays0, read(s"$out/clean_before")),
                s"$out/clean_plays")
            }
          }
          stage("datasets") {
            val cleanBefore = read(s"$out/clean_before")
            val plays = read(s"$out/clean_plays")
            timed("domain.features_s") {
              val (train, test) = Datasets.trainTestSplit(
                Datasets.trainingFeatures(cleanBefore, plays), read(s"$data/plays"))
              write(train, s"$out/train")
              write(test, s"$out/test")
            }
            timed("domain.inference_features_s") {
              write(Datasets.inferenceFeatures(cleanBefore, plays), s"$out/inference_features")
            }
          }
          stage("train") {
            val (m, _, ms) = timed("ml.grid_s") {
              NonCompletionModel.gridSearch(read(s"$out/train"), read(s"$out/test"),
                Seq(GridPoint))
            }
            metrics = ms
            timed("ml.save_s")(NonCompletionModel.save(m, s"$out/model"))
          }
          stage("inference") {
            model = timed("ml.load_s")(NonCompletionModel.load(s"$out/model"))
            timed("ml.score_s") {
              write(NonCompletionModel.score(model,
                  read(s"$out/inference_features").withColumnRenamed("target", "pass_result"))
                .select(col("game_id"), col("play_id"), col("frame_id"),
                  col("receiver_id"), col("defender_id"), col("pass_result"),
                  col("non_completion_probability")), s"$out/results")
            }
          }
          stage("scores") {
            timed("domain.scores_s") {
              write(Scoring.computeScores(spark, read(s"$out/results")), s"$out/scores")
            }
          }
        }
        // untimed: the test-set predictions the metric check recomputes from
        write(NonCompletionModel.score(model, read(s"$out/test"))
          .select(col("target"), col("non_completion_probability")), s"$out/test_predictions")
        stageJobs.foreach { case (s, j) => layers(s"$s.jobs") = j.toDouble }
        extra("setup_done_ms") = setupDone.toString
        extra("model_metrics") = jsonObj(Seq("auc" -> metrics.auc,
          "logloss" -> metrics.logloss, "brier" -> metrics.brier)
          .map { case (n, v) => n -> v.toString })
    }

    if (trace) {
      drained()
      layers("spark.jobs") = counters.jobs.get.toDouble
      layers("spark.tasks") = counters.tasks.get.toDouble
      layers("spark.exec_cpu_s") = counters.cpuNs.get / 1e9
      layers("spark.exec_run_s") = counters.runMs.get / 1e3
      layers("spark.gc_s") = counters.gcMs.get / 1e3
      layers("spark.shuffle_write_mb") = counters.shuffleBytes.get / 1e6
      layers("spark.spill_mb") = counters.spillBytes.get / 1e6
      layers("spark.plan_s") = counters.planMs.get / 1e3
      layers("spark.codegen_compiles") = (org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount - compiles0).toDouble
    }
    spark.stop()
    val opsJson = ops.map { o =>
      s"""{"name":${Ioops.jsonEscape(o.name)},"group":${Ioops.jsonEscape(o.group)},""" +
        s""""build_s":${o.buildS},"run_s":${o.runS},""" +
        s""""error":${o.error.map(Ioops.jsonEscape).getOrElse("null")}}"""
    }.mkString("[", ",", "]")
    val json = s"""{"workload":${Ioops.jsonEscape(workload)},""" +
      s""""rounds":${rounds.mkString("[", ",", "]")},""" +
      s""""round_cpu":${roundCpu.mkString("[", ",", "]")},"ops":$opsJson,""" +
      s""""peak_heap_mb":${PeakHeap.peak / 1e6},""" +
      s""""layers":${jsonObj(layers.toSeq.map { case (n, v) => n -> v.toString })},""" +
      extra.map { case (n, v) => s""""$n":$v""" }.mkString(",") + "}"
    Files.writeString(Paths.get(a("result")), json)
  }

  private def jsonObj(kv: Iterable[(String, String)]): String =
    kv.map { case (n, v) => s"${Ioops.jsonEscape(n)}:$v" }.mkString("{", ",", "}")

  private def dirBytes(root: Path, top: Path => Boolean): Long = {
    val tops = Files.list(root)
    try tops.iterator.asScala.filter(top).map { p =>
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }.sum
    finally tops.close()
  }
}
