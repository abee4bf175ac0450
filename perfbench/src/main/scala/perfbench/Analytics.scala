package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.core.IndexStore
import graft.streaming.StreamBench

/** The `analytics` workload: a fixed slice of the operator surface, each
  * entry timed as a noop-sink write so every output column is produced. */
final class Analytics(spark: SparkSession, ctx: Ctx, tracer: Tracer) {
  import Stats._
  import Analytics._

  private val dir = ctx.dataDir.resolve("analytics").toString

  private def fn(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, StreamBench.benchOnly(name))

  /** Frees cached blocks and plans an entry left behind, as the library's
    * own bench does between entries. */
  private def release(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Runs `name` once, timed as a noop write. */
  def noop(name: String): Double = {
    val (_, ns) = timed(tracer.request("bench.entry", s"entry:$name") {
      tracer.span(s"analytics.$name") {
        fn(name)(spark, dir).write.format("noop").mode("overwrite").save()
      }
    })
    release()
    seconds(ns)
  }

  /** Runs `name` once and returns its order-insensitive result hash. */
  def hash(name: String): (Long, String) = {
    val rows = fn(name)(spark, dir).collect()
    release()
    (rows.length.toLong, resultHash(rows))
  }

  /** Writes each entry's result as parquet plus its oracle SQL, in the
    * layout the DuckDB oracle check reads. */
  def dump(out: Path): Unit = {
    Files.createDirectories(out)
    Entries.foreach(n => fn(n)(spark, dir).write.mode("overwrite").parquet(out.resolve(n).toString))
    val sql = Entries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    val json = sql.map { case (n, q) =>
      "\"" + n + "\":\"" + q.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
      } + "\""
    }.mkString("{", ",", "}")
    Files.write(out.resolve("oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  def run(): Outcome = {
    val order = {
      val r = new java.util.SplittableRandom(ctx.seed)
      Entries.map(n => (r.nextLong(), n)).sortBy(_._1).map(_._2)
    }
    val expected = loadExpected(ctx.dataDir.resolve("analytics-expected.tsv"))
    // set-up: the first pass builds the IndexStore tables, checks every
    // result against its expected hash and warms the JIT
    val buildsBefore = IndexStore.buildSeconds.map(_._2).sum
    val (wrong, setupNs) = timed(order.count { n =>
      val (got, ns) = timed(attempt(n)(hash(n)))
      val ok = got.contains(expected.getOrElse(n, (-1L, "")))
      System.err.println(f"[perfbench] set-up check $n%-28s ${seconds(ns)}%.3f s")
      if (!ok) System.err.println(s"[perfbench] $n result ${got.getOrElse("failed")} " +
        s"differs from expected ${expected.get(n)}")
      !ok
    })
    val indexBuildS = IndexStore.buildSeconds.map(_._2).sum - buildsBefore

    /** Whole passes of the slice until `secs` seconds are spent (at
      * least one). A pass with a failed entry is one failed pass. */
    def passes(secs: Double): Passes = {
      val t0 = System.nanoTime()
      val times = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector())
      val passSeconds = Vector.newBuilder[Double]
      var attempted, failed, failedPasses = 0L
      do {
        val ok = order.map { n =>
          val t = attempt(n)(noop(n))
          t.foreach(s => times(n) = times(n) :+ s)
          t
        }
        attempted += ok.size
        failed += ok.count(_.isEmpty)
        if (ok.forall(_.isDefined)) passSeconds += ok.flatten.sum else failedPasses += 1
      } while (System.nanoTime() - t0 < secs * 1e9)
      Passes(times.toMap, passSeconds.result(), attempted, failed, failedPasses,
        seconds(System.nanoTime() - t0))
    }

    // a traced run brackets the traced passes with one untraced pass on
    // each side; their pooled medians are the base of trace_overhead
    val before = if (ctx.trace) Some(passes(0)) else None
    if (ctx.trace) tracer.start()
    val p = passes(ctx.seconds)
    tracer.stop()
    val bracket = before.toSeq ++ (if (ctx.trace) Some(passes(0)) else None)
    val perEntry = Entries.map(n => n -> median(p.times.getOrElse(n, Nil)))
    val suite = perEntry.map(_._2).sum
    perEntry.foreach { case (n, t) => System.err.println(f"[perfbench] $n%-28s $t%.3f s") }
    val attempted = Entries.size + p.attempted + bracket.map(_.attempted).sum
    val allFailed = wrong + p.failed + bracket.map(_.failed).sum
    // one operation is one pass of the slice; a failed pass counts as +inf
    val e2e = Map(
      "setup_s" -> (seconds(setupNs), "s"),
      "op_p50_ms" -> (Stats.quantile(p.passSeconds ++
        Seq.fill(p.failedPasses.toInt)(Double.PositiveInfinity), 0.5) * 1000, "ms"),
      "ops_per_s" -> (p.passSeconds.size / p.wall, "1/s"))
    val entryLayer = perEntry.flatMap { case (n, s) =>
      val w = tracer.sparkWork(_ == s"entry:$n")
      Seq(s"analytics.$n.s" -> (s, "s"),
        s"analytics.$n.jobs" -> (w.jobs.toDouble / math.max(1, p.times.getOrElse(n, Nil).size), "count"))
    }
    val untracedSuite = Entries.map(n => median(bracket.flatMap(_.times.getOrElse(n, Nil)))).sum
    val layers = entryLayer.toMap ++ Layers.spark(tracer, p.wall, ctx.cores, 0L) ++ Map(
      "suite_s" -> (suite, "s"),
      "core.index_build_s" -> (indexBuildS, "s"),
      "fail_ratio" -> (allFailed.toDouble / attempted, "ratio"),
      "trace_overhead" -> (suite / untracedSuite - 1.0, "ratio"))
    Outcome(attempted, allFailed, e2e, layers)
  }
}

/** What whole passes of the slice measured: each entry's noop seconds,
  * each complete pass's seconds, entry attempts and failures, failed
  * passes and wall seconds. */
final case class Passes(times: Map[String, Seq[Double]], passSeconds: Seq[Double],
    attempted: Long, failed: Long, failedPasses: Long, wall: Double)

object Analytics {
  /** The slice: scan-bound relational, codegen-heavy dedup, a dedup join,
    * iterative graph rounds, a nearest-neighbour build on an IndexStore
    * table, and a streaming dedup over a RocksDB state store. */
  val Entries: Seq[String] = Seq("q01_pricing_summary", "q41_minhash_lsh",
    "q361_deletion_join", "q562_simrank", "q439_nn_descent", "qs01_bloom_dedup_stream")

  /** SHA-256 over the sorted rendering of every row: equal for equal row
    * multisets, whatever order the rows arrive in. */
  def resultHash(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "\u0000null"
      case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case o => o.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** `name<TAB>rows<TAB>sha256` lines. */
  def loadExpected(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n")
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, h) = l.split("\t")
        n -> (rows.toLong, h)
      }.toMap
}
