package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.core.GraftSession

/** Spark and streaming figures of a traced phase, read from the tracer. */
object Layers {
  def spark(tracer: Tracer, wall: Double, cores: Int, routes: Long): Map[String, (Double, String)] = {
    val all = tracer.sparkWork(_ => true)
    val route = tracer.sparkWork(_ == "route")
    val n = math.max(1L, routes).toDouble
    val runS = all.runMs / 1000.0
    val self = tracer.selfSeconds
    Map(
      "spark.jobs_per_route" -> (route.jobs / n, "count"),
      "spark.tasks_per_route" -> (route.tasks / n, "count"),
      "spark.jobs" -> (all.jobs.toDouble, "count"),
      "spark.stages" -> (all.stages.toDouble, "count"),
      "spark.tasks" -> (all.tasks.toDouble, "count"),
      "spark.executor_run_s" -> (runS, "s"),
      "spark.executor_cpu_s" -> (all.cpuNs / 1e9, "s"),
      "spark.driver_floor_s" -> (wall - runS / cores, "s"),
      "spark.shuffle_write_bytes" -> (all.shuffleWrite.toDouble, "B"),
      "spark.shuffle_read_bytes" -> (all.shuffleRead.toDouble, "B"),
      "spark.spill_bytes" -> (all.spill.toDouble, "B"),
      "spark.gc_s" -> (all.gcMs / 1000.0, "s"),
      "streaming.batches" -> (tracer.streams.batches.toDouble, "count"),
      "streaming.state_commit_ms" -> (tracer.streams.commitMs.toDouble, "ms"),
      "streaming.state_rows" -> (tracer.streams.stateRows.toDouble, "count"),
      "streaming.state_mem_bytes" -> (tracer.streams.stateMem.toDouble, "B")
    ) ++ Tracer.Layers.map(l => s"self.${l.replace('.', '_')}_s" -> (self.getOrElse(l, 0.0), "s"))
  }
}

/** Checks that the listeners count what a hand-built query is known to
  * run: one job of one stage per partition for a narrow RDD action, one
  * job of two stages across a shuffle, and one progress event per
  * streaming micro-batch. */
object SelfTest {
  def run(spark: SparkSession, tracer: Tracer): Boolean = {
    val sc = spark.sparkContext
    tracer.start()
    tracer.request("bench.selftest", "selftest:narrow") {
      sc.parallelize(1 to 1000, 3).map(_ * 2).count()
    }
    tracer.request("bench.selftest", "selftest:shuffle") {
      sc.parallelize(1 to 1000, 4).map(x => (x % 7, 1)).reduceByKey(_ + _, 2).collect()
    }
    val before = tracer.streams.batches
    locally {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Int]
      val ckpt = Files.createTempDirectory("perfbench-selftest")
      val q = in.toDF().writeStream.format("memory").queryName("perfbench_selftest")
        .option("checkpointLocation", ckpt.toString).start()
      try Seq(Seq(1, 2), Seq(3)).foreach { b => in.addData(b); q.processAllAvailable() }
      finally {
        q.stop(); spark.catalog.dropTempView("perfbench_selftest"); Stats.deleteTree(ckpt)
      }
    }
    tracer.stop()
    val narrow = tracer.sparkWork(_ == "selftest:narrow")
    val shuffle = tracer.sparkWork(_ == "selftest:shuffle")
    val batches = tracer.streams.batches - before
    val ok = (narrow.jobs, narrow.stages, narrow.tasks) == ((1L, 1L, 3L)) &&
      (shuffle.jobs, shuffle.stages, shuffle.tasks) == ((1L, 2L, 6L)) && batches == 2L
    if (!ok) System.err.println(s"[perfbench] listener self-test failed: narrow " +
      s"${(narrow.jobs, narrow.stages, narrow.tasks)}, shuffle " +
      s"${(shuffle.jobs, shuffle.stages, shuffle.tasks)}, batches $batches")
    ok
  }
}

/** Load generator for the catalog ETL-and-serve loop and the analytics
  * slice. Usage:
  *
  *   perfbench.Main --workload serve|analytics --seed N --seconds S
  *     --trace 0|1 --run-dir DIR --data-dir DIR --out FILE [--trace-file FILE]
  *   perfbench.Main --dump-analytics OUT --data-dir DIR --run-dir DIR
  *
  * The result is written to `--out` as one JSON object. Every directory
  * the run creates lives under `--run-dir`; the caller deletes it. */
object Main {
  val SessionStarts = 3

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  private def json(o: Outcome, correct: Boolean, metrics: Map[String, (Double, String)]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }
    s"""{"correct":$correct,"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  private def run(a: Map[String, String]): Int = {
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val dataDir = Paths.get(a("data-dir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    // the session is started SessionStarts times and the last one kept;
    // set-up counts the median start
    val starts = (1 to SessionStarts).map { i =>
      val (s, ns) = Stats.timed(GraftSession.local("perfbench", cores))
      if (i < SessionStarts) s.stop()
      (s, ns)
    }
    val spark = starts.last._1
    val sessionS = Stats.median(starts.map(x => Stats.seconds(x._2)))
    System.err.println(f"[perfbench] session starts ${starts.map(x => Stats.seconds(x._2)).mkString(" ")} s")
    val sessionDirs = tmpDirs()
    val ctx = Ctx(a.getOrElse("seed", "1").toLong, a.getOrElse("seconds", "10").toInt,
      a.getOrElse("trace", "0") == "1", cores, runDir, dataDir)
    val tracer = new Tracer(spark)
    val an = new Analytics(spark, ctx, tracer)
    if (a.contains("dump-analytics")) {
      try {
        an.dump(Paths.get(a("dump-analytics")).toAbsolutePath)
        Analytics.Entries.foreach { n =>
          val (rows, h) = an.hash(n)
          println(s"$n\t$rows\t$h")
        }
      } finally spark.stop()
      return 0
    }
    val (selfOk, o) =
      try {
        val selfOk = !ctx.trace || SelfTest.run(spark, new Tracer(spark))
        val o = a("workload") match {
          case "serve" => new CatalogWorkloads(spark, ctx, tracer).serve()
          case "analytics" => an.run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        (selfOk, o)
      } finally spark.stop()
    // temp directories the session itself keeps are not leaks; Spark
    // creates its artifact directory lazily and removes it at JVM exit
    val leaked = tmpDirs().filterNot(d => sessionDirs.contains(d) || d.startsWith("artifacts-"))
    leaked.foreach(d => System.err.println(s"[perfbench] left behind: $d"))
    val e2e = o.e2e.map { case (k, (v, u)) =>
      if (k == "setup_s") k -> (v + sessionS, u) else k -> (v, u)
    }
    val layer = o.layer + ("bench.leaked_dirs" -> (leaked.size.toDouble, "count"))
    a.get("trace-file").filter(_ => ctx.trace).foreach(f => tracer.dump(Paths.get(f)))
    val out = json(o, selfOk && o.failed == 0, if (ctx.trace) layer else e2e)
    Files.write(Paths.get(a("out")), out.getBytes(StandardCharsets.UTF_8))
    0
  }

  /** Directories in the run's temp directory (java.io.tmpdir, which the
    * caller points inside the run directory). */
  private def tmpDirs(): Set[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    if (!Files.isDirectory(tmp)) Set.empty
    else {
      val s = Files.list(tmp)
      try s.filter(Files.isDirectory(_)).map[String](_.getFileName.toString).toArray
        .map(_.toString).toSet
      finally s.close()
    }
  }
}
